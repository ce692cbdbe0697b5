"""Delta-protocol versioned parquet table (SURVEY.md §2.1).

The reference stack stores every medallion layer as Delta Lake tables
(ref README.md:2 "full deltalake implementation"). ``delta-spark`` is not
installed here, so this module implements the storage layer from the
PUBLIC Delta Lake protocol spec (delta-io/delta PROTOCOL.md): an ordered
``_delta_log/`` of JSON commit files holding ``protocol`` / ``metaData``
/ ``add`` / ``remove`` actions over immutable parquet data files at the
table root. Tables written here follow the spec's layout::

    <path>/_delta_log/00000000000000000000.json   commit 0 (one action/line)
    <path>/_delta_log/00000000000000000001.json   commit 1
    <path>/part-*.parquet                         data files

Capabilities the stack exercises:

- append / overwrite writes (``write``)
- read as of any version (``read(as_of=...)`` — time travel, by
  replaying add/remove actions up to that commit)
- DELETE / MERGE upsert (copy-on-write rewrites, like Delta)
- OPTIMIZE-style compaction, and VACUUM by Delta's keep-set rule: list
  the table root, delete what no version inside the retention window
  references (crash orphans and ``.tmp-*`` staging included); at
  retention 0 a concurrent writer's uncommitted files are not protected

Every operation derives table state from one ``Snapshot`` — the log
replayed through a version, as Delta's own readers do. A handle keeps its
latest snapshot and, on each operation, lists ``_delta_log`` and replays
only the commits newer than it, so commits made through other handles
are always seen and no operation replays the log twice. Reads take the
schema from the snapshot's metaData, never from the data files.

Scale notes (100 TB): reads are plain multi-path parquet scans, so column
pruning / predicate pushdown all still fire; the log is O(#commits)
driver-side JSON with a parquet checkpoint every ``CHECKPOINT_INTERVAL``
commits, never shipped to executors. Commit = atomic rename of the next
numbered log file, exactly the spec's put-if-absent contract. MERGE
shuffles both sides on the key — on a cluster you'd bucket the target by
the merge key to make re-merges shuffle-free; with delta-spark installed
the same calls map 1:1 onto ``DeltaTable`` operations and these tables
are readable as real Delta.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import struct
import time
import uuid
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

# Deletion vectors: descriptors with at most this many deleted rows are
# stored inline in the add action (storageType "i", ascii85 payload —
# the spec's inline DV form); larger ones go to a sidecar file at the
# table root (storageType "p", path relative to the table root). The
# payload is packed little-endian uint64 row indexes, sorted — the spec
# uses a RoaringBitmap here; the container has no roaring codec, so the
# packed-array stand-in keeps the same descriptor contract (documented
# divergence, same class as the media-codec stub).
_DV_INLINE_MAX = 64

# Column-mapping (protocol §column-mapping, "name" mode): logical names
# live in the schemaString; each field's metadata pins the physical
# parquet column name, so RENAME/DROP COLUMN are metadata-only commits.
_COLUMN_MAPPING_KEY = "delta.columnMapping.mode"
_PHYSICAL_NAME_KEY = "delta.columnMapping.physicalName"

# Write a parquet checkpoint every N commits (the protocol's default
# checkpointInterval is 10): a reader then replays O(interval) JSON files
# instead of O(#commits) — the difference between O(1) and minutes of log
# replay on a 10k-commit streaming-append table.
CHECKPOINT_INTERVAL = 10

_LAST_CHECKPOINT = "_last_checkpoint"


def _checkpoint_arrow_schema():
    """Checkpoint rows follow the protocol's action-struct shape (one
    struct column per action type, exactly one non-null per row)."""
    import pyarrow as pa

    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "txn",
                pa.struct(
                    [
                        ("appId", pa.string()),
                        ("version", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("sizeInBytes", pa.int64()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
        ]
    )


def _file_stats(path: str) -> str:
    """Per-file column statistics for the add action's ``stats`` field
    (the protocol stores them as a JSON string): numRecords plus
    min/maxValues per leaf column, read from the parquet footer — no
    data pages touched. Readers use them for data skipping."""
    import datetime

    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata

    def _jsonable(v):
        if isinstance(v, datetime.datetime):
            # normalize to a naive UTC instant so stats compare cleanly
            # against naive bounds (the session tz is pinned UTC)
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return str(v)
        if isinstance(v, datetime.date):
            return str(v)
        if isinstance(v, bytes):
            return v.decode("utf-8", "replace")
        return v

    raw_min: dict = {}
    raw_max: dict = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            if name not in raw_min or st.min < raw_min[name]:
                raw_min[name] = st.min
            if name not in raw_max or st.max > raw_max[name]:
                raw_max[name] = st.max
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": {k: _jsonable(v) for k, v in raw_min.items()},
            "maxValues": {k: _jsonable(v) for k, v in raw_max.items()},
        }
    )


def _remove(path: str, now: int) -> dict:
    return {"remove": {"path": path, "deletionTimestamp": now, "dataChange": True}}


@dataclass(frozen=True)
class Snapshot:
    """The table state at ``version``: the log replayed through it.

    Immutable — ``advance`` returns a new snapshot. Everything an
    operation needs to know about the table (schema, configuration,
    constraints, column mapping, generated columns, txn high-water marks,
    the live file set) is read off one snapshot, so an operation derives
    table state once."""

    version: int = -1
    protocol: dict = field(default_factory=lambda: dict(PROTOCOL))
    metadata: dict | None = None
    adds: dict[str, dict] = field(default_factory=dict)  # live adds by path
    txns: dict[str, int] = field(default_factory=dict)  # appId → version

    def advance(self, version: int, actions: list[dict]) -> Snapshot:
        """The state after applying ``actions`` (commits up to ``version``)."""
        protocol, metadata = self.protocol, self.metadata
        adds, txns = dict(self.adds), dict(self.txns)
        for act in actions:
            if "add" in act:
                adds[act["add"]["path"]] = act["add"]
            elif "remove" in act:
                adds.pop(act["remove"]["path"], None)
            elif "metaData" in act:
                metadata = act["metaData"]
            elif "txn" in act:
                t_ = act["txn"]
                txns[t_["appId"]] = max(
                    txns.get(t_["appId"], -1), int(t_.get("version", -1))
                )
            elif "protocol" in act:
                protocol = act["protocol"]
        return Snapshot(version, protocol, metadata, adds, txns)

    @cached_property
    def fields(self) -> list[dict]:
        if self.metadata is None:
            return []
        return json.loads(self.metadata["schemaString"])["fields"]

    @cached_property
    def schema(self) -> StructType | None:
        if self.metadata is None:
            return None
        return StructType.fromJson({"type": "struct", "fields": self.fields})

    @property
    def configuration(self) -> dict:
        return dict((self.metadata or {}).get("configuration") or {})

    @property
    def constraints(self) -> dict[str, str]:
        prefix = "delta.constraints."
        return {
            k[len(prefix):]: v
            for k, v in self.configuration.items()
            if k.startswith(prefix)
        }

    @property
    def generated_columns(self) -> dict[str, str]:
        return {
            f["name"]: f["metadata"]["delta.generationExpression"]
            for f in self.fields
            if (f.get("metadata") or {}).get("delta.generationExpression")
        }

    @property
    def mapping(self) -> list[tuple[str, str]] | None:
        """[(logical, physical)] when column mapping is active, else None.

        Physical names are what the parquet files carry; logical names
        are what readers see. The mapping lives in the schemaString's
        per-field ``delta.columnMapping.physicalName`` metadata, exactly
        the protocol's name-mapping mode."""
        if self.configuration.get(_COLUMN_MAPPING_KEY) != "name":
            return None
        return [
            (
                f["name"],
                (f.get("metadata") or {}).get(_PHYSICAL_NAME_KEY, f["name"]),
            )
            for f in self.fields
        ]

    @cached_property
    def read_schema(self) -> StructType:
        """The parquet read schema: the log schema under the files'
        physical column names, without field metadata."""
        phys = dict(self.mapping or [])
        return StructType(
            [
                StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
                for f in self.schema.fields
            ]
        )


def _prune(
    active: list[dict],
    partition_filter: dict[str, str] | None,
    stats_filter: dict[str, tuple] | None,
) -> list[dict]:
    """The adds whose partitionValues match ``partition_filter`` and
    whose per-file min/max stats can overlap ``stats_filter``."""
    if partition_filter:
        active = [
            a
            for a in active
            if all(
                a.get("partitionValues", {}).get(k) == v
                for k, v in partition_filter.items()
            )
        ]
    if not stats_filter:
        return active

    def comparable(x, y):
        """Coerce a (file-stat, bound) pair to comparable types.

        Stats land in the log as JSON strings for temporal
        columns; a lexicographic compare would prune a file whose
        min is '2000-01-01 00:00:00' against hi='2000-01-01' even
        though the instants are equal. Parse both sides as ISO
        timestamps when possible (a bare date parses as its
        midnight instant); on any parse failure fall back to the
        raw values, which keeps numeric stats exact."""
        import datetime as _dt

        def parse(v):
            if isinstance(v, _dt.datetime):
                dt = v
            elif isinstance(v, _dt.date):
                dt = _dt.datetime(v.year, v.month, v.day)
            elif isinstance(v, str):
                dt = _dt.datetime.fromisoformat(v.replace("T", " "))
            else:
                raise ValueError
            if dt.tzinfo is not None:  # aware → naive UTC instant
                dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return dt
        try:
            return parse(x), parse(y)
        except (ValueError, TypeError):
            return x, y

    def overlaps(a: dict) -> bool:
        raw = a.get("stats")
        if not raw:
            return True  # no stats → cannot skip
        st = json.loads(raw)
        for col, (lo, hi) in stats_filter.items():
            fmin = st.get("minValues", {}).get(col)
            fmax = st.get("maxValues", {}).get(col)
            if fmin is None or fmax is None:
                continue
            if hi is not None:
                a_, b_ = comparable(fmin, hi)
                if a_ > b_:
                    return False
            if lo is not None:
                a_, b_ = comparable(fmax, lo)
                if a_ < b_:
                    return False
        return True

    return [a for a in active if overlaps(a)]


def _base_path(paths: list[str]) -> str:
    """basePath for hive partition-column re-materialization.

    A shallow clone's add actions carry ABSOLUTE paths under the SOURCE
    table's root, so the clone's own root is not an ancestor of them
    (Spark rejects that basePath outright). Derive the base from the
    files instead: strip the filename and every trailing ``col=value``
    partition segment, then take the common ancestor — for an ordinary
    table this is exactly the table root; for a clone it is the source
    root; for a clone plus its own appends it is their common ancestor,
    safe because only ``k=v`` segments below basePath become partition
    columns."""
    roots = set()
    for p in paths:
        d = os.path.dirname(os.path.abspath(p))
        while "=" in os.path.basename(d):
            d = os.path.dirname(d)
        roots.add(d)
    return os.path.commonpath(sorted(roots))


class DeltaLikeTable:
    def __init__(self, path: str):
        self.path = path
        self._log_dir = os.path.join(path, "_delta_log")
        self._cache: Snapshot | None = None  # the latest snapshot seen

    # -- commit log -------------------------------------------------------
    def _commit_path(self, version: int) -> str:
        return os.path.join(self._log_dir, f"{version:020d}.json")

    def _listing(self) -> tuple[list[int], list[int]]:
        """(commit versions, checkpoint versions) in ``_delta_log``."""
        try:
            names = os.listdir(self._log_dir)
        except FileNotFoundError:
            return [], []
        commits, checkpoints = [], []
        for name in names:
            if not name[:20].isdigit():
                continue
            if name.endswith(".checkpoint.parquet"):
                checkpoints.append(int(name[:20]))
            elif name.endswith(".json"):
                commits.append(int(name[:20]))
        return sorted(commits), sorted(checkpoints)

    @property
    def latest_version(self) -> int:
        commits, _ = self._listing()
        return commits[-1] if commits else -1

    def _last_checkpoint(self) -> dict | None:
        try:
            with open(os.path.join(self._log_dir, _LAST_CHECKPOINT)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _read_commit(self, version: int) -> list[dict]:
        with open(self._commit_path(version)) as f:
            return [json.loads(ln) for ln in f if ln.strip()]

    def _read_checkpoint(self, version: int) -> Snapshot:
        import pyarrow.parquet as pq

        path = os.path.join(self._log_dir, f"{version:020d}.checkpoint.parquet")
        acts: list[dict] = []
        for row in pq.read_table(path).to_pylist():
            for kind in ("protocol", "metaData", "txn", "add"):
                val = row.get(kind)
                if val is None:
                    continue
                if kind == "add":
                    val = dict(val)
                    val["partitionValues"] = dict(val.get("partitionValues") or [])
                elif kind == "metaData":
                    val = dict(val)
                    val["configuration"] = dict(val.get("configuration") or [])
                acts.append({kind: val})
        return Snapshot().advance(version, acts)

    def _write_checkpoint(self, snap: Snapshot) -> None:
        """Write ``snap`` as ``<v>.checkpoint.parquet`` + ``_last_checkpoint``
        (both the protocol's names): protocol, latest metaData, the newest
        txn per appId and the live add set, so a reader starts there and
        only replays newer JSON commits. JSON commit files are kept
        (history/time-travel before the checkpoint still works); VACUUM
        owns physical cleanup."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        meta = snap.metadata
        if meta is not None:
            meta = {
                "id": meta.get("id"),
                "format": {"provider": meta.get("format", {}).get("provider")},
                "schemaString": meta.get("schemaString"),
                "partitionColumns": meta.get("partitionColumns", []),
                "configuration": list((meta.get("configuration") or {}).items()),
                "createdTime": meta.get("createdTime"),
            }
        rows: list[dict] = [{"protocol": snap.protocol}, {"metaData": meta}]
        rows += [
            {"txn": {"appId": k, "version": v}} for k, v in sorted(snap.txns.items())
        ]
        rows += [
            {"add": {**a, "partitionValues": list(
                (a.get("partitionValues") or {}).items()
            )}}
            for a in snap.adds.values()
        ]
        schema = _checkpoint_arrow_schema()
        cols = {name: [row.get(name) for row in rows] for name in schema.names}
        table = pa.Table.from_pydict(cols, schema=schema)
        cp_path = os.path.join(
            self._log_dir, f"{snap.version:020d}.checkpoint.parquet"
        )
        tmp = cp_path + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(table, tmp)
        os.replace(tmp, cp_path)
        lc_tmp = os.path.join(self._log_dir, f".lc-{uuid.uuid4().hex}")
        with open(lc_tmp, "w") as f:
            json.dump({"version": snap.version, "size": len(rows)}, f)
        os.replace(lc_tmp, os.path.join(self._log_dir, _LAST_CHECKPOINT))

    def _snapshot(self, as_of: int | None = None) -> Snapshot:
        """The table state at ``as_of`` (default: latest).

        Lists ``_delta_log`` first, so commits made through any handle are
        seen. Starts from this handle's cached snapshot when it is not
        newer than the target (commit files are immutable, so it stays
        valid), else from the newest checkpoint at or before it, else
        from an empty table, and replays only the JSON commits after that
        start. PROTOCOL.md reader requirement: a client MUST refuse a
        table whose protocol demands a reader version above what it
        implements — silently proceeding returns wrong results once an
        unsupported feature changes file interpretation."""
        commits, checkpoints = self._listing()
        latest = commits[-1] if commits else -1
        version = latest if as_of is None else as_of
        if not -1 <= version <= latest:
            raise ValueError(
                f"version {as_of} does not exist in {self.path} "
                f"(latest is {latest})"
            )
        snap = self._cache
        if snap is None or snap.version > version:
            cp = max((c for c in checkpoints if c <= version), default=None)
            snap = Snapshot() if cp is None else self._read_checkpoint(cp)
        if snap.version < version:
            snap = snap.advance(version, [
                act
                for v in range(snap.version + 1, version + 1)
                for act in self._read_commit(v)
            ])
        supported = PROTOCOL["minReaderVersion"]
        if int(snap.protocol.get("minReaderVersion") or 1) > supported:
            raise ValueError(
                f"table at {self.path} requires minReaderVersion "
                f"{snap.protocol['minReaderVersion']}; this reader supports "
                f"{supported} — upgrade the reader, do not guess"
            )
        if as_of is None and version >= 0:
            self._cache = snap
        return snap

    def _active_files(self, as_of: int | None = None) -> list[dict]:
        """The live ``add`` set at a version."""
        return list(self._snapshot(as_of).adds.values())

    def _commit(
        self,
        actions: list[dict],
        operation: str | None = None,
        snap: Snapshot | None = None,
        blind_append: bool = False,
    ) -> int:
        """Optimistic-concurrency commit (the spec's put-if-absent
        contract): stage the actions to a temp file, then publish with
        ``os.link`` — which FAILS if the target commit number already
        exists (``os.replace`` would silently clobber a concurrent
        writer's commit). On collision, re-list the log and retry at the
        next version, exactly Delta's optimistic retry loop. Object
        stores swap the hard-link for their native if-none-match put.

        ``snap`` is the state the operation read. The commitInfo action
        carries the commit timestamp (ms) that timestampAsOf resolves
        against, the operation name DESCRIBE HISTORY reports, the read
        version, whether the commit is a blind append, and Delta's
        operationMetrics. Replay ignores it."""
        if snap is None:
            snap = self._snapshot()
        adds = [a["add"] for a in actions if "add" in a]
        info: dict = {"isBlindAppend": blind_append, "operationMetrics": {
            "numFiles": len(adds),
            "numOutputRows": sum(
                json.loads(a["stats"])["numRecords"] for a in adds if a.get("stats")
            ),
            "numOutputBytes": sum(a.get("size") or 0 for a in adds),
            "numRemovedFiles": sum(1 for a in actions if "remove" in a),
        }}
        if operation is not None:
            info["operation"] = operation
        if snap.version >= 0:
            info["readVersion"] = snap.version
        os.makedirs(self._log_dir, exist_ok=True)
        tmp = os.path.join(self._log_dir, f".tmp-{uuid.uuid4().hex}")
        version = snap.version + 1
        while True:
            staged = [
                {"commitInfo": {"timestamp": int(time.time() * 1000), **info}},
                *actions,
            ]
            if version == 0:
                staged = [{"protocol": PROTOCOL}, *staged]
            with open(tmp, "w") as f:
                for act in staged:
                    f.write(json.dumps(act) + "\n")
            try:
                os.link(tmp, self._commit_path(version))  # atomic put-if-absent
                break
            except FileExistsError:
                version = self.latest_version + 1  # lost the race — retry
            finally:
                os.remove(tmp)
        if version == snap.version + 1:
            committed = self._cache = snap.advance(version, staged)
        else:
            committed = self._snapshot(as_of=version)
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            self._write_checkpoint(committed)
        return version

    def _commit_info(self, version: int) -> dict:
        """Commit ``version``'s commitInfo action, its ``timestamp``
        (epoch-ms) falling back to the log file's mtime — the same
        fallback Delta itself uses for tables whose writers predate
        in-commit timestamps."""
        path = self._commit_path(version)
        info: dict = {}
        with open(path) as f:
            for ln in f:
                act = json.loads(ln)
                if "commitInfo" in act:
                    info = act["commitInfo"]
                    break
        if info.get("timestamp") is None:
            info = {**info, "timestamp": os.path.getmtime(path) * 1000}
        return {**info, "timestamp": int(info["timestamp"])}

    def commit_timestamp(self, version: int) -> int:
        """Commit timestamp in epoch-ms (see ``_commit_info``)."""
        return self._commit_info(version)["timestamp"]

    def history(self) -> list[dict]:
        """``DESCRIBE HISTORY`` — one row per commit, newest first (the
        order Delta presents), from the commitInfo actions alone: each
        commit file is opened once, no data file is. Rows carry the
        operation (the protocol's placeholder ``WRITE`` for commits
        written before the field existed), timestamp, and — where the
        commit recorded them — readVersion, isBlindAppend and
        operationMetrics."""
        rows = []
        for v in range(self.latest_version + 1):
            info = self._commit_info(v)
            row = {
                "version": v,
                "timestamp": info["timestamp"],
                "operation": info.get("operation") or "WRITE",
            }
            for key in ("readVersion", "isBlindAppend", "operationMetrics"):
                if key in info:
                    row[key] = info[key]
            rows.append(row)
        rows.reverse()
        return rows

    def version_at_timestamp(self, ts_ms: int) -> int:
        """``TIMESTAMP AS OF`` resolution: the LATEST version whose
        commit timestamp is <= ``ts_ms`` (Delta's rule — a reader at time
        T sees every commit that had completed by T). Errors if ``ts_ms``
        predates the first commit, like Delta's
        ``timestampAsOf`` on a too-early timestamp. Scans from the newest
        commit back, so a recent timestamp opens few commit files."""
        for v in range(self.latest_version, -1, -1):
            if self.commit_timestamp(v) <= ts_ms:
                return v  # commit timestamps are monotonic
        raise ValueError(
            f"timestamp {ts_ms} is before the first commit of {self.path}"
        )

    # -- writes -----------------------------------------------------------
    def _stage_data_files(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> list[dict]:
        """Write ``df``'s parquet files into the table root; return their
        ``add`` actions. Spark part-file names embed a job UUID, so moved
        files never collide. With ``partition_by``, files land under
        hive-style ``col=value/`` directories and each ``add`` carries
        the spec's ``partitionValues`` map — the metadata a reader prunes
        on without listing or opening any file."""
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        # Spark's default INT96 timestamps carry NO parquet min/max
        # statistics — data skipping on a temporal column (the 100 TB
        # win) would silently never fire. Write TIMESTAMP_MICROS (what
        # Delta itself writes) for the duration of the stage, restoring
        # the caller's conf after.
        sess = df.sparkSession
        conf_key = "spark.sql.parquet.outputTimestampType"
        prev = sess.conf.get(conf_key, None)
        sess.conf.set(conf_key, "TIMESTAMP_MICROS")
        try:
            writer.parquet(tmp)
        finally:
            if prev is None:
                sess.conf.unset(conf_key)
            else:
                sess.conf.set(conf_key, prev)
        now = int(time.time() * 1000)
        adds = []
        for dirpath, _dirs, fnames in sorted(os.walk(tmp)):
            for fname in sorted(fnames):
                if not fname.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, fname), tmp)
                pvals = dict(
                    part.split("=", 1)
                    for part in rel.split(os.sep)[:-1]
                    if "=" in part
                )
                dst = os.path.join(self.path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(dirpath, fname), dst)
                adds.append(
                    {
                        "add": {
                            "path": rel.replace(os.sep, "/"),
                            "partitionValues": pvals,
                            "size": os.path.getsize(dst),
                            "modificationTime": now,
                            "dataChange": True,
                            "stats": _file_stats(dst),
                        }
                    }
                )
        shutil.rmtree(tmp)
        return adds

    def _metadata_action(
        self,
        df: DataFrame,
        partition_by: list[str] | None,
        snap: Snapshot,
        append: bool,
    ) -> dict:
        """The write's metaData action. Its schema is ``df``'s, keeping
        each existing field's metadata (generation expressions, physical
        names) — df.schema alone would drop it. An append also keeps
        every current column, so the log schema is always the evolved
        union of the live files and readers take it as is. Table
        configuration (constraints, properties) survives writes — only
        explicit ALTERs change it, as in Delta."""
        by_name = {f["name"]: f for f in snap.fields}
        fields = json.loads(df.schema.json())["fields"]
        if append:
            fields = snap.fields + [f for f in fields if f["name"] not in by_name]
        else:
            fields = [
                {**f, "metadata": {
                    **(by_name[f["name"]].get("metadata") or {}),
                    **(f.get("metadata") or {}),
                }} if f["name"] in by_name else f
                for f in fields
            ]
        return {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps({"type": "struct", "fields": fields}),
                "partitionColumns": partition_by or [],
                "configuration": snap.configuration,
                "createdTime": int(time.time() * 1000),
            }
        }

    def _current_metadata(self) -> tuple[Snapshot, dict]:
        snap = self._snapshot()
        if snap.metadata is None:
            raise ValueError(f"no schema committed yet at {self.path}")
        return snap, snap.metadata

    def _alter_configuration(self, snap: Snapshot, cfg: dict, operation: str) -> int:
        meta = {**snap.metadata, "configuration": {**snap.configuration, **cfg}}
        return self._commit([{"metaData": meta}], operation, snap)

    def add_check_constraint(self, name: str, expr_sql: str) -> int:
        """``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)``: stored
        as ``delta.constraints.<name>`` in the metaData configuration
        (the protocol's representation), enforced by every subsequent
        write. Metadata-only commit — O(1) regardless of table size."""
        snap, _ = self._current_metadata()
        return self._alter_configuration(
            snap, {f"delta.constraints.{name}": expr_sql}, "ADD CONSTRAINT"
        )

    def set_properties(self, props: dict[str, str]) -> int:
        """``ALTER TABLE ... SET TBLPROPERTIES``: merge key/values into
        the metaData configuration — one metadata-only commit, O(1) in
        table size, and (like constraints) the configuration is carried
        forward by every subsequent write."""
        snap, _ = self._current_metadata()
        return self._alter_configuration(
            snap, {str(k): str(v) for k, v in props.items()}, "SET TBLPROPERTIES"
        )

    def properties(self) -> dict[str, str]:
        return self._snapshot().configuration

    def check_constraints(self) -> dict[str, str]:
        return self._snapshot().constraints

    def _enforce_constraints(self, df: DataFrame, snap: Snapshot) -> None:
        """CHECK semantics (SQL standard, as Delta enforces them): a row
        violates only when the expression evaluates FALSE — NULL passes.
        The probe is a limit-1 existence scan per constraint pushed into
        the incoming frame's plan, so a clean 100 TB append costs one
        extra pass over the NEW data only, never the table."""
        for name, expr in snap.constraints.items():
            bad = df.filter(F.expr(expr).eqNullSafe(F.lit(False))).limit(1)
            if bad.count() > 0:
                raise ValueError(
                    f"CHECK constraint {name} ({expr}) violated by write "
                    f"to {self.path}"
                )

    # -- column mapping (metadata-only rename / drop) ----------------------
    def _mapping_metadata_action(
        self, meta: dict, fields: list[dict]
    ) -> dict:
        sj = json.loads(meta["schemaString"])
        sj["fields"] = fields
        cfg = {
            **(meta.get("configuration") or {}),
            _COLUMN_MAPPING_KEY: "name",
        }
        return {
            "metaData": {
                **meta,
                "schemaString": json.dumps(sj),
                "configuration": cfg,
            }
        }

    def _guard_constraint_references(
        self, col: str, action: str, snap: Snapshot
    ) -> None:
        """Refuse ALTERs on a column a CHECK constraint or a generated
        column's expression references (the stored expressions name the
        LOGICAL column; renaming or dropping it would silently break
        enforcement — or, for generation expressions, make every later
        write fail with an opaque unresolved-column error — Delta blocks
        both). Dropping the generated column ITSELF stays legal: only
        references from OTHER columns' expressions block the ALTER."""
        import re

        for name, expr in snap.constraints.items():
            if re.search(rf"\b{re.escape(col)}\b", expr):
                raise ValueError(
                    f"cannot {action} column {col!r}: referenced by CHECK "
                    f"constraint {name!r} ({expr}); DROP CONSTRAINT first"
                )
        for gname, expr in snap.generated_columns.items():
            if gname == col:
                continue
            if re.search(rf"\b{re.escape(col)}\b", expr):
                raise ValueError(
                    f"cannot {action} column {col!r}: referenced by "
                    f"generated column {gname!r} (GENERATED ALWAYS AS "
                    f"({expr})); drop that column first"
                )

    def add_generated_column(
        self, name: str, expr_sql: str, dtype: str = "timestamp"
    ) -> int:
        """``ALTER TABLE ... ADD COLUMN name GENERATED ALWAYS AS (expr)``
        — the generation expression lives in the field's schemaString
        metadata (``delta.generationExpression``, the protocol's form).
        Every subsequent write COMPUTES the column when the writer omits
        it and VALIDATES it when the writer supplies it (a mismatching
        value is rejected atomically), so derived partitioning/bucketing
        keys stay trustworthy however many writers feed the table.
        Metadata-only commit."""
        snap, meta = self._current_metadata()
        sj = json.loads(meta["schemaString"])
        if name in [f["name"] for f in sj["fields"]]:
            raise ValueError(f"column {name!r} already exists")
        sj["fields"].append(
            {
                "name": name,
                "type": dtype,
                "nullable": True,
                "metadata": {"delta.generationExpression": expr_sql},
            }
        )
        return self._commit(
            [{"metaData": {**meta, "schemaString": json.dumps(sj)}}],
            "ADD COLUMN",
            snap,
        )

    def _apply_generated_columns(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        for name, expr in snap.generated_columns.items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            else:
                bad = (
                    df.filter(~F.col(name).eqNullSafe(F.expr(expr)))
                    .limit(1)
                    .count()
                )
                if bad:
                    raise ValueError(
                        f"generated column {name!r} violated: supplied "
                        f"values differ from GENERATED ALWAYS AS ({expr})"
                    )
        return df

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE ... RENAME COLUMN`` — METADATA-ONLY (protocol
        column-mapping, name mode): the parquet files keep the original
        physical column name; only the logical→physical mapping in the
        schemaString changes, so renaming a column of a 100 TB table is
        one O(1) metaData commit, no file touched. Readers re-alias at
        scan time (a projection Catalyst collapses into the scan)."""
        snap, meta = self._current_metadata()
        self._guard_constraint_references(old, "rename", snap)
        fields = json.loads(meta["schemaString"])["fields"]
        names = [f["name"] for f in fields]
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        for f in fields:
            md = f.setdefault("metadata", {})
            md.setdefault(_PHYSICAL_NAME_KEY, f["name"])
            if f["name"] == old:
                f["name"] = new
        return self._commit(
            [self._mapping_metadata_action(meta, fields)], "RENAME COLUMN", snap
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE ... DROP COLUMN`` — metadata-only, like rename:
        the field leaves the logical schema; the physical column stays in
        the files (unreachable, reclaimed at the next rewrite), which is
        how Delta drops a column from a 100 TB table instantly."""
        snap, meta = self._current_metadata()
        self._guard_constraint_references(name, "drop", snap)
        fields = json.loads(meta["schemaString"])["fields"]
        if name not in [f["name"] for f in fields]:
            raise ValueError(f"no column {name!r}")
        kept = []
        for f in fields:
            md = f.setdefault("metadata", {})
            md.setdefault(_PHYSICAL_NAME_KEY, f["name"])
            if f["name"] != name:
                kept.append(f)
        return self._commit(
            [self._mapping_metadata_action(meta, kept)], "DROP COLUMN", snap
        )

    def _enforce_schema(
        self, df: DataFrame, merge_schema: bool, snap: Snapshot
    ) -> None:
        """Delta's schema-on-write: an append may not change a column's
        type, and may only ADD columns when schema merging is opted in
        (``mergeSchema``). Missing nullable columns are allowed (they
        read as NULL). Overwrites replace the schema freely."""
        if snap.schema is None:
            return
        cur = {f.name: f.dataType for f in snap.schema.fields}
        inc = {f.name: f.dataType for f in df.schema.fields}
        mismatched = sorted(
            n for n in cur.keys() & inc.keys() if cur[n] != inc[n]
        )
        if mismatched:
            raise ValueError(
                f"schema mismatch on append to {self.path}: column types "
                f"changed for {mismatched} (overwrite to change types)"
            )
        extra = sorted(inc.keys() - cur.keys())
        if extra and not merge_schema:
            raise ValueError(
                f"append to {self.path} adds columns {extra}; pass "
                "merge_schema=True to evolve the schema"
            )

    def last_txn_version(self, app_id: str) -> int:
        """Highest committed ``txn`` version for ``app_id`` (-1 if none).

        The protocol's application-transaction action: a writer stamps
        each commit with (appId, version) and skips any batch at or
        below the stored high-water mark — exactly-once sink semantics
        for streaming/retry loops without an external ledger."""
        return self._snapshot().txns.get(app_id, -1)

    def write_idempotent(
        self,
        df: DataFrame,
        app_id: str,
        app_version: int,
        mode: str = "append",
        **kw,
    ) -> tuple[int, bool]:
        """Idempotent write: commit ``df`` stamped with a ``txn`` action
        unless (app_id, app_version) was already committed — a replayed
        micro-batch or retried job lands exactly once. Returns
        (table version, wrote?). The txn stamp rides in the SAME commit
        as the data, so the dedup check and the data are atomic.
        (Multi-writer note: like Delta, a concurrent writer race is
        resolved by commit-time conflict rules; this layer's put-if-
        absent commit serializes writers, and the loser's retry re-reads
        the log — which then contains the winner's txn stamp.)"""
        if app_version <= self.last_txn_version(app_id):
            return self.latest_version, False
        v = self.write(
            df,
            mode=mode,
            txn={"appId": app_id, "version": int(app_version)},
            **kw,
        )
        return v, True

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
        operation: str | None = None,
        txn: dict | None = None,
    ) -> int:
        """Commit ``df`` as a new version; returns the version number."""
        assert mode in ("append", "overwrite")
        append = mode == "append"
        snap = self._snapshot()
        df = self._apply_generated_columns(df, snap)
        if append:
            self._enforce_schema(df, merge_schema, snap)
        self._enforce_constraints(df, snap)
        os.makedirs(self.path, exist_ok=True)
        now = int(time.time() * 1000)
        actions = [] if append else [_remove(p, now) for p in snap.adds]
        actions += self._stage_data_files(self._physicalize(df, snap), partition_by)
        actions.append(self._metadata_action(df, partition_by, snap, append))
        if txn is not None:
            actions.append({"txn": txn})
        return self._commit(
            actions,
            operation or ("WRITE" if append else "OVERWRITE"),
            snap,
            blind_append=append,
        )

    def write_dynamic_partition_overwrite(
        self,
        df: DataFrame,
        partition_by: list[str],
        operation: str = "DYNAMIC PARTITION OVERWRITE",
    ) -> int:
        """Replace ONLY the partitions ``df`` writes into, atomically —
        Delta's ``partitionOverwriteMode=dynamic`` / replaceWhere-on-
        partition-columns: stage ``df``'s files first, collect the
        partitionValues they landed in, and remove exactly the active
        files whose partitionValues match one of them. Untouched
        partitions' files are not rewritten, re-added, or even listed
        beyond the O(live add actions) log walk — at 100 TB a one-day
        backfill commits O(that day's files), never O(table). The
        remove+add pair is one commit, so readers never see a gap."""
        snap = self._snapshot()
        df = self._apply_generated_columns(df, snap)
        self._enforce_schema(df, False, snap)
        self._enforce_constraints(df, snap)
        adds = self._stage_data_files(self._physicalize(df, snap), partition_by)
        touched = {
            tuple(sorted(a["add"]["partitionValues"].items())) for a in adds
        }
        now = int(time.time() * 1000)
        actions: list[dict] = [
            _remove(p, now)
            for p, a in snap.adds.items()
            if tuple(sorted((a.get("partitionValues") or {}).items()))
            in touched
        ]
        actions.extend(adds)
        actions.append(self._metadata_action(df, partition_by, snap, True))
        return self._commit(actions, operation, snap)

    def _physicalize(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        """Under column mapping, writers receive LOGICAL names but files
        must carry PHYSICAL names (so old files and new files agree)."""
        phys = dict(snap.mapping or [])
        if not phys:
            return df
        return df.select([F.col(c).alias(phys.get(c, c)) for c in df.columns])

    # -- reads ------------------------------------------------------------
    def live_files(
        self,
        as_of: int | None = None,
        partition_filter: dict[str, str] | None = None,
        stats_filter: dict[str, tuple] | None = None,
    ) -> list[dict]:
        """The add actions a ``read`` with these filters would open.

        Pure log-metadata work (no file is listed or opened) — this is
        both the pruning step ``read`` runs and the evaluation surface a
        clustering decision needs: ``len(live_files(stats_filter=...))``
        is the file-scan cost of a predicate under the current layout,
        which is how OPTIMIZE ZORDER's benefit is measured at 100 TB
        without touching data."""
        return _prune(self._active_files(as_of), partition_filter, stats_filter)

    def read(
        self,
        spark: SparkSession,
        as_of: int | None = None,
        partition_filter: dict[str, str] | None = None,
        stats_filter: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Table state at version ``as_of`` (default: latest), from one
        log snapshot: its live adds are the files, and its metaData
        schema — the evolved union every write keeps — is handed to the
        parquet reader, so no footer is opened and no Spark job runs to
        infer a schema. Columns added by later writes read as NULL for
        earlier files (Delta schema evolution). The protocol requires a
        metaData action, so a log without one is an error.

        ``partition_filter`` ({col: value}) prunes on the log's
        ``partitionValues`` metadata BEFORE any file is listed or opened
        — Delta's partition pruning: selecting one partition of a 100 TB
        table costs O(live add actions) driver work and reads only that
        partition's files. Filtered reads use a ``basePath`` so hive
        partition columns re-materialize in the DataFrame.

        ``stats_filter`` ({col: (lo, hi)}) is Delta's data skipping:
        drop files whose per-file min/max (the add action's ``stats``)
        cannot overlap [lo, hi]. Conservative — files without stats are
        kept, and the caller still applies the row-level filter; the
        win is unopened files, which on a date-sorted 100 TB table is
        most of them."""
        snap = self._snapshot(as_of)
        if snap.version < 0:
            raise ValueError(f"empty table at {self.path}")
        if snap.metadata is None:
            raise ValueError(f"no metaData action in the log of {self.path}")
        unpruned = list(snap.adds.values())
        if not unpruned:
            raise ValueError(f"no live files at version {as_of} in {self.path}")
        active = _prune(unpruned, partition_filter, stats_filter)
        # every file pruned away: read one for an EMPTY relation with the
        # table schema, not an error (a filter can match nothing)
        files = [os.path.join(self.path, a["path"]) for a in active or unpruned[:1]]
        reader = spark.read.schema(snap.read_schema)
        if any(a.get("partitionValues") for a in unpruned):
            reader = reader.option("basePath", _base_path(files))
        df = reader.parquet(*files)
        if not active:
            df = df.limit(0)
        dv_adds = [a for a in active if a.get("deletionVector")]
        if dv_adds:
            df = self._apply_deletion_vectors(spark, df, dv_adds)
        if snap.mapping:
            # physical→logical re-alias: a projection Catalyst collapses
            # into the scan — column pruning still reaches the parquet reader
            df = df.select([F.col(p).alias(l) for l, p in snap.mapping])
        return df

    def _dv_file_uri(self, add: dict) -> str:
        """The ``_metadata.file_path`` URI of an add action's data file
        (Spark renders local paths as ``file:`` + abspath)."""
        p = add["path"]
        full = p if os.path.isabs(p) else os.path.join(self.path, p)
        return "file:" + os.path.abspath(full)

    def _load_dv(self, desc: dict) -> list[int]:
        """Deleted row indexes from a deletionVector descriptor."""
        if desc["storageType"] == "i":
            payload = base64.a85decode(desc["pathOrInlineDv"])
        else:
            p = desc["pathOrInlineDv"]
            full = p if os.path.isabs(p) else os.path.join(self.path, p)
            with open(full, "rb") as f:
                payload = f.read()
        return list(struct.unpack(f"<{len(payload) // 8}Q", payload))

    def _apply_deletion_vectors(
        self, spark: SparkSession, df: DataFrame, dv_adds: list[dict]
    ) -> DataFrame:
        """Mask DV'd rows: broadcast anti-join on (file URI, row index).

        The deleted-pair set is bounded by the DV-delete cardinality cap,
        so at 100 TB this is a broadcast of the (small) deleted set
        against the scan — rows are dropped at the first stage, no
        shuffle. ``_metadata.row_index`` is the physical row position the
        descriptors index, provided by the parquet reader for free."""
        pairs = [
            (self._dv_file_uri(a), int(ri))
            for a in dv_adds
            for ri in self._load_dv(a["deletionVector"])
        ]
        dv_df = spark.createDataFrame(pairs, "_dv_fp string, _dv_ri long")
        masked = (
            df.withColumn("_fp", F.col("_metadata.file_path"))
            .withColumn("_ri", F.col("_metadata.row_index"))
            .join(
                F.broadcast(dv_df),
                (F.col("_fp") == F.col("_dv_fp"))
                & (F.col("_ri") == F.col("_dv_ri")),
                "left_anti",
            )
            .drop("_fp", "_ri")
        )
        return masked

    # -- DML --------------------------------------------------------------
    def delete(self, spark: SparkSession, condition) -> DataFrame:
        """Delta ``DELETE WHERE condition``: commit the surviving rows as
        a new overwrite version (copy-on-write, like Delta's file
        rewrite); history stays time-travelable. Returns the new state.
        """
        # Delta DELETE removes rows where the predicate is TRUE; rows where
        # it evaluates NULL are KEPT (plain ~condition would drop them).
        kept = self.read(spark).filter(~condition.eqNullSafe(True))
        self.write(kept, mode="overwrite", operation="DELETE")
        return self.read(spark)

    def delete_with_dv(
        self,
        spark: SparkSession,
        condition,
        max_cardinality: int = 100_000,
    ) -> int:
        """Delta ``DELETE`` via deletion vectors: instead of rewriting
        every touched file (copy-on-write ``delete``), commit the SAME
        data files re-added with a ``deletionVector`` descriptor naming
        the deleted row positions — the merge-on-read path. A point
        delete on a 100 TB table then costs O(matched rows) instead of
        O(touched files' bytes): no data file is rewritten, and readers
        mask the dead rows with a broadcast anti-join on
        (file, row_index).

        NULL-predicate rows are kept (SQL DELETE semantics, same as
        ``delete``). Existing DVs union with the new deletions (row
        indexes are physical file positions, stable across commits).
        Deletes larger than ``max_cardinality`` rows per file refuse and
        direct the caller to the rewrite path — the same heuristic real
        engines apply, since a mostly-dead file is better rewritten.
        Partitioned tables use ``delete`` (hive-materialized partition
        columns are not in the physical file, so the predicate could not
        be evaluated against raw per-file reads uniformly)."""
        snap = self._snapshot()
        active = list(snap.adds.values())
        if any(a.get("partitionValues") for a in active):
            raise ValueError(
                "DV delete on partitioned tables is not supported; "
                "use delete() (copy-on-write)"
            )
        by_uri = {self._dv_file_uri(a): a for a in active}
        files = [os.path.join(self.path, a["path"]) for a in active]
        base = (
            spark.read.schema(snap.read_schema).parquet(*files)
            .withColumn("_fp", F.col("_metadata.file_path"))
            .withColumn("_ri", F.col("_metadata.row_index"))
        )
        if snap.mapping:
            # the raw scan carries PHYSICAL names; the caller's predicate
            # speaks LOGICAL — re-alias before evaluating it
            base = base.select(
                [F.col(p).alias(l) for l, p in snap.mapping]
                + [F.col("_fp"), F.col("_ri")]
            )
        # Rows already masked by an existing DV may re-match the
        # predicate here; the per-file union with the OLD index set below
        # makes that a no-op rather than a double delete.
        hits = (
            base.filter(condition.eqNullSafe(True))
            .groupBy("_fp")
            .agg(F.sort_array(F.collect_list("_ri")).alias("idxs"))
            .collect()
        )  # bounded: ≤ max_cardinality rows per file, checked below
        now = int(time.time() * 1000)
        actions: list[dict] = []
        for row in hits:
            add = by_uri.get(row["_fp"])
            if add is None:
                continue
            old = (
                set(self._load_dv(add["deletionVector"]))
                if add.get("deletionVector")
                else set()
            )
            idxs = sorted(old | {int(i) for i in row["idxs"]})
            if len(idxs) - len(old) == 0:
                continue  # every matched row was already deleted
            if len(idxs) > max_cardinality:
                raise ValueError(
                    f"DV for {add['path']} would hold {len(idxs)} rows "
                    f"(> {max_cardinality}); rewrite with delete() instead"
                )
            payload = struct.pack(f"<{len(idxs)}Q", *idxs)
            if len(idxs) <= _DV_INLINE_MAX:
                desc = {
                    "storageType": "i",
                    "pathOrInlineDv": base64.a85encode(payload).decode(),
                    "sizeInBytes": len(payload),
                    "cardinality": len(idxs),
                }
            else:
                name = f"deletion_vector_{uuid.uuid4().hex}.bin"
                tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
                with open(tmp, "wb") as f:
                    f.write(payload)
                os.replace(tmp, os.path.join(self.path, name))
                desc = {
                    "storageType": "p",
                    "pathOrInlineDv": name,
                    "sizeInBytes": len(payload),
                    "cardinality": len(idxs),
                }
            actions.append(_remove(add["path"], now))
            actions.append({"add": {**add, "deletionVector": desc}})
        if not actions:
            return snap.version
        return self._commit(actions, "DELETE", snap)

    def restore(self, version: int) -> int:
        """``RESTORE TABLE ... TO VERSION AS OF version``: commit a new
        version whose live file set equals ``version``'s — METADATA-ONLY
        (re-add old files / remove newer ones in the log; no data file is
        read or rewritten, so restoring a 100 TB table is O(log) driver
        work, exactly Delta's RESTORE). The restore is itself a new
        commit: history stays intact and time-travelable, and restoring
        past a VACUUM fails on read just as in Delta (the old files are
        physically gone). The version's metaData is restored with its
        files, so the log schema describes them."""
        snap, old = self._snapshot(), self._snapshot(as_of=version)
        target, current = old.adds, snap.adds
        now = int(time.time() * 1000)
        actions: list[dict] = [
            _remove(p, now) for p in current if p not in target
        ]
        def _canon(a: dict) -> dict:
            # drop null-valued keys (a checkpoint round trip materializes
            # "deletionVector": None) so content comparison is stable
            return {k: v for k, v in a.items() if v is not None}

        actions.extend(
            # re-add when the path is new at `version` OR the live add's
            # CONTENT differs — restoring past a DV delete must reinstate
            # the descriptor-free add (path-only comparison would no-op)
            {"add": add}
            for p, add in target.items()
            if p not in current or _canon(current[p]) != _canon(add)
        )
        if old.metadata is not None and old.metadata != snap.metadata:
            actions.append({"metaData": old.metadata})
        return self._commit(actions, "RESTORE", snap)

    def clone_to(self, target_path: str, as_of: int | None = None) -> "DeltaLikeTable":
        """SHALLOW CLONE: a new table whose first commit re-ADDs the
        source's live files by ABSOLUTE path (the protocol allows path
        URIs outside the table root) — zero data copied, O(live adds)
        metadata work, which is how a 100 TB dev/test environment forks
        a production table instantly. The clone then evolves
        independently: its own appends/overwrites land in its own root
        and never touch the source's files (copy-on-write isolation);
        VACUUM on the clone only ever deletes files under the clone's
        root."""
        clone = DeltaLikeTable(target_path)
        os.makedirs(target_path, exist_ok=True)
        snap = self._snapshot(as_of)
        actions: list[dict] = []
        for a in snap.adds.values():
            src = os.path.join(self.path, a["path"])
            add = {**a, "path": os.path.abspath(src)}
            dv = a.get("deletionVector")
            if dv and dv["storageType"] == "p" and not os.path.isabs(
                dv["pathOrInlineDv"]
            ):
                # sidecar DVs live under the SOURCE root — absolutize so
                # the clone resolves them without copying (inline DVs
                # travel in the descriptor itself)
                add["deletionVector"] = {
                    **dv,
                    "pathOrInlineDv": os.path.abspath(
                        os.path.join(self.path, dv["pathOrInlineDv"])
                    ),
                }
            actions.append({"add": add})
        if snap.metadata is not None:
            actions.append({"metaData": snap.metadata})
        clone._commit(actions, "CLONE")
        return clone

    # -- maintenance ------------------------------------------------------
    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """OPTIMIZE-style compaction: rewrite the live file set into
        ``target_files`` bin-packed files as a new overwrite commit
        (``dataChange: false`` in spirit — content is unchanged, only
        layout). At 100 TB this is the small-files cure for
        streaming-append tables, run as a maintenance job; old versions
        stay readable until vacuumed."""
        current = self.read(spark)
        return self.write(
            current.coalesce(target_files), mode="overwrite",
            operation="OPTIMIZE",
        )

    def vacuum(
        self, retention_ms: int = 0, now_ms: int | None = None
    ) -> list[str]:
        """``VACUUM ... RETAIN`` by Delta's rule: list the table root and
        delete every file that no reader inside the retention window can
        still open. The cutoff is ``now_ms - retention_ms`` (``now_ms`` is
        injectable for deterministic tests); ``v_cut`` is the version
        current at the cutoff, -1 if no commit is that old. The keep set
        is ``v_cut``'s live adds, every add committed after it, and the
        DV sidecars those adds name. A file or ``.tmp-*`` staging entry
        under the root that is outside the keep set and older than the
        cutoff is deleted, so the orphans of a writer that crashed before
        its commit are reclaimed too. ``_delta_log`` and every other
        hidden ``_*``/``.*`` entry are skipped, and files outside the
        root (a shallow clone's absolute-path adds) are never listed.
        Returns the sorted deleted paths, relative to the root; the log
        keeps every commit, so version numbering stays stable (older
        versions simply stop being time-travelable).

        Hazards shared with real Delta: at retention 0 a concurrent
        writer's staged, not yet committed files are not protected; and
        vacuuming a SOURCE table can reclaim files a shallow clone of it
        still references (the source has no registry of its clones) —
        deep-clone before vacuuming the source if clones must outlive
        it."""
        latest = self.latest_version
        if latest < 0:
            raise ValueError(f"no table at {self.path}: nothing to vacuum")
        cutoff = (
            int(time.time() * 1000) if now_ms is None else now_ms
        ) - retention_ms
        try:
            v_cut = self.version_at_timestamp(cutoff)
        except ValueError:
            v_cut = -1
        adds = list(self._snapshot(v_cut).adds.values()) + [
            act["add"]
            for v in range(v_cut + 1, latest + 1)
            for act in self._read_commit(v)
            if "add" in act
        ]
        root = os.path.abspath(self.path)
        keep = {
            os.path.normpath(os.path.join(root, p))
            for p in [a["path"] for a in adds] + [
                a["deletionVector"]["pathOrInlineDv"]
                for a in adds
                if (a.get("deletionVector") or {}).get("storageType") == "p"
            ]
        }
        deleted: list[str] = []
        for dirpath, dirs, files in os.walk(root):
            staging = [d for d in dirs if d.startswith(".tmp-")]
            dirs[:] = [d for d in dirs if d[0] not in "_."]  # partitions
            for name in files + staging:
                full = os.path.join(dirpath, name)
                hidden = name[0] in "_." and not name.startswith(".tmp-")
                if hidden or full in keep:
                    continue
                try:
                    mtime_ms = os.lstat(full).st_mtime_ns // 10**6
                except FileNotFoundError:
                    continue  # gone since the listing: a writer's own cleanup
                if mtime_ms >= cutoff:
                    continue  # younger than the retention window — keep
                (shutil.rmtree if name in staging else os.remove)(full)
                deleted.append(os.path.relpath(full, root).replace(os.sep, "/"))
        return sorted(deleted)

    # -- MERGE (upsert) ---------------------------------------------------
    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: str,
        update_cols: list[str] | None = None,
        delete_not_matched_by_source: bool = False,
        evolve_schema: bool = False,
        matched_delete_where: str | None = None,
    ) -> DataFrame:
        """``MERGE INTO target USING source ON target.k = source.k
        WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`` —
        committed as a new overwrite version; returns the merged state.

        Full-outer-join rewrite: matched rows take source values for
        ``update_cols`` (default: all non-key columns), unmatched target
        rows pass through, unmatched source rows are inserts.

        ``delete_not_matched_by_source=True`` adds ``WHEN NOT MATCHED BY
        SOURCE THEN DELETE`` — target rows absent from the source are
        dropped, making one MERGE a complete mirror of the source (the
        full-sync / snapshot-ingestion pattern).

        ``matched_delete_where`` adds ``WHEN MATCHED AND <cond> THEN
        DELETE`` (cond is SQL over the ``t``/``s`` aliases): matched
        rows satisfying it leave the table instead of updating — the
        CDC tombstone pattern (a source row flagged deleted removes its
        target row in the same MERGE).

        ``evolve_schema=True`` adds ``WITH SCHEMA EVOLUTION``: source
        columns the target lacks are appended to the table schema —
        matched and inserted rows take the source value, untouched
        target rows get NULL (Delta's automatic-schema-evolution
        semantics for MERGE); the overwrite commit's metaData action
        carries the widened schemaString."""
        target = self.read(spark)
        cols = target.columns
        evolved = (
            [c for c in source.columns if c not in cols and c != on]
            if evolve_schema
            else []
        )
        update_cols = update_cols or [c for c in cols if c != on]
        s = source.alias("s")
        tgt = target.alias("t")
        joined = tgt.join(s, F.col(f"t.{on}") == F.col(f"s.{on}"), "full_outer")
        # Matched/insert are decided by join-key presence, NOT coalesce on
        # values: WHEN MATCHED THEN UPDATE sets the column to the source
        # value even when that value is NULL, and inserted rows take source
        # values for every column the source carries.
        matched = F.col(f"s.{on}").isNotNull() & F.col(f"t.{on}").isNotNull()
        inserted = F.col(f"t.{on}").isNull()
        if matched_delete_where is not None:
            # WHEN MATCHED AND cond THEN DELETE: drop the joined row
            # entirely — neither the update nor the pass-through branch
            # may see it. A NULL condition is NOT satisfied (Delta
            # clause semantics): coalesce to FALSE so the row falls
            # through to the unconditional UPDATE instead of being
            # silently deleted by ~(matched & NULL) = NULL.
            cond = F.coalesce(F.expr(matched_delete_where), F.lit(False))
            joined = joined.filter(~(matched & cond))

        def _merged_col(c: str):
            s_c = (
                F.col(f"s.{c}")
                if c in source.columns
                else F.lit(None).cast(target.schema[c].dataType)
            )
            t_c = F.col(f"t.{c}")
            upd = s_c if (c in update_cols and c in source.columns) else t_c
            return (
                F.when(matched, upd).when(inserted, s_c).otherwise(t_c).alias(c)
            )

        def _evolved_col(c: str):
            # New column: only rows the source touched carry a value.
            return (
                F.when(matched | inserted, F.col(f"s.{c}"))
                .otherwise(F.lit(None))
                .alias(c)
            )

        out_cols = [_merged_col(c) for c in cols if c != on] + [
            _evolved_col(c) for c in evolved
        ]
        merged = joined.select(
            F.coalesce(F.col(f"s.{on}"), F.col(f"t.{on}")).alias(on),
            *out_cols,
        )
        if delete_not_matched_by_source:
            merged = joined.filter(F.col(f"s.{on}").isNotNull()).select(
                F.col(f"s.{on}").alias(on),
                *out_cols,
            )
        self.write(merged, mode="overwrite", operation="MERGE")
        return self.read(spark)
