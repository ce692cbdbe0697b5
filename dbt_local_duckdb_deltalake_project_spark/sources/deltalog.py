"""The Delta transaction log, without Spark (delta-io/delta PROTOCOL.md).

Everything the engine knows about a table's log lives here::

    <root>/_delta_log/00000000000000000000.json   commit 0 (one action/line)
    <root>/_delta_log/00000000000000000010.checkpoint.parquet
    <root>/_delta_log/_last_checkpoint

commit paths and listing, ``Snapshot`` replay, parquet checkpoints, the
put-if-absent commit, history and timestamp resolution, VACUUM, the
deletion-vector codec, and ``rows``: the one Spark-free reader of the
rows a set of add or remove actions holds, which the log data source's
per-commit helpers read through.

The module imports only the standard library (pyarrow inside the
functions that read or write parquet), so three kinds of caller share
it: ``deltalike.DeltaLikeTable``, which adds the Spark I/O; the log
data source's readers (``deltalike.DeltaLikeTable.changes`` and
``appends``), which run in Python workers and receive this module by
value (registered with cloudpickle there); and the model test in
``tests/test_deltalog.py``, which drives it with no JVM. Nothing in it
may hold an unpicklable object at module level (a
``functools.cached_property`` holds a lock on Python 3.11).
"""

import base64
import datetime
import decimal
import json
import os
import shutil
import struct
import time
import urllib.parse
import uuid
from collections import Counter
from dataclasses import dataclass, field

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

# Write a parquet checkpoint every N commits (the protocol's default
# checkpointInterval is 10): a reader then replays O(interval) JSON files
# instead of O(#commits) — the difference between O(1) and minutes of log
# replay on a 10k-commit streaming-append table.
CHECKPOINT_INTERVAL = 10

# Column-mapping (protocol §column-mapping, "name" mode): logical names
# live in the schemaString; each field's metadata pins the physical
# parquet column name, so RENAME/DROP COLUMN are metadata-only commits.
COLUMN_MAPPING_KEY = "delta.columnMapping.mode"
PHYSICAL_NAME_KEY = "delta.columnMapping.physicalName"

# A generated column keeps its expression in its field's metadata.
GENERATION_EXPRESSION_KEY = "delta.generationExpression"

# Deletion vectors (PROTOCOL.md): a descriptor of at most this many
# deleted rows is stored inline in its action (storageType "i", an ascii85
# payload); a larger one names a sidecar file under the table root
# (storageType "p", a path relative to the root). The payload is the
# sorted row indexes packed as little-endian uint64: the protocol's
# RoaringBitmap needs a codec the engine does not ship, and the packed
# array keeps the same descriptor contract (a documented divergence, like
# the media-codec stub). ``dv_sidecar``, ``load_dv`` and ``store_dv`` are
# the only code that knows this format; the Spark mask and ``rows`` both
# decode through ``load_dv``.
_DV_INLINE_MAX = 64

_LAST_CHECKPOINT = "_last_checkpoint"


def commit_path(root: str, version: int) -> str:
    return os.path.join(root, "_delta_log", f"{version:020d}.json")


def remove(add: dict, now: int, data_change: bool = True) -> dict:
    """The remove action that retires ``add``. It carries the protocol's
    extended file metadata — the add's ``partitionValues``, ``size`` and
    ``deletionVector`` — so a reader of the commit alone knows which rows
    the file held until now."""
    act = {
        "path": add["path"], "deletionTimestamp": now, "dataChange": data_change,
        "extendedFileMetadata": True,
        "partitionValues": add.get("partitionValues") or {},
        "size": add.get("size"),
    }
    if add.get("deletionVector"):
        act["deletionVector"] = add["deletionVector"]
    return {"remove": act}


def _now_ms() -> int:
    return int(time.time() * 1000)


def _checkpoint_arrow_schema():
    """Checkpoint rows follow the protocol's action-struct shape (one
    struct column per action type, exactly one non-null per row)."""
    import pyarrow as pa

    strings = pa.map_(pa.string(), pa.string())
    return pa.schema([
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", strings),
            ("createdTime", pa.int64()),
        ])),
        ("txn", pa.struct([("appId", pa.string()), ("version", pa.int64())])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", strings),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", pa.struct([
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("cardinality", pa.int64()),
            ])),
        ])),
    ])


@dataclass(frozen=True)
class Snapshot:
    """The table state at ``version``: the log replayed through it.

    Immutable — ``advance`` returns a new snapshot. Everything an
    operation needs to know about the table (schema fields,
    configuration, constraints, column mapping, generated columns, txn
    high-water marks, the live file set) is read off one snapshot, so an
    operation derives table state once."""

    version: int = -1
    protocol: dict = field(default_factory=lambda: dict(PROTOCOL))
    metadata: dict | None = None
    adds: dict[str, dict] = field(default_factory=dict)  # live adds by path
    txns: dict[str, int] = field(default_factory=dict)  # appId → version

    def advance(self, version: int, actions: list[dict]) -> "Snapshot":
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

    @property
    def fields(self) -> list[dict]:
        if self.metadata is None:
            return []
        return json.loads(self.metadata["schemaString"])["fields"]

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
            f["name"]: f["metadata"][GENERATION_EXPRESSION_KEY]
            for f in self.fields
            if (f.get("metadata") or {}).get(GENERATION_EXPRESSION_KEY)
        }

    @property
    def mapping(self) -> list[tuple[str, str]] | None:
        """[(logical, physical)] when column mapping is active, else None.

        Physical names are what the parquet files carry; logical names
        are what readers see. The mapping lives in the schemaString's
        per-field ``delta.columnMapping.physicalName`` metadata, exactly
        the protocol's name-mapping mode."""
        if self.configuration.get(COLUMN_MAPPING_KEY) != "name":
            return None
        return [
            (f["name"], (f.get("metadata") or {}).get(PHYSICAL_NAME_KEY, f["name"]))
            for f in self.fields
        ]


class DeltaLog:
    """The log of the table at ``root``.

    A handle keeps the latest snapshot it has seen and, on each
    ``snapshot()``, lists ``_delta_log`` and replays only the commits
    newer than it, so commits made through other handles are always
    seen. ``clock`` gives the commit timestamps in epoch-ms (wall time
    unless a test injects one)."""

    def __init__(self, root: str, clock=_now_ms):
        self.root = root
        self.log_dir = os.path.join(root, "_delta_log")
        self.clock = clock
        self._cache: Snapshot | None = None  # the latest snapshot seen

    # -- listing and reads ------------------------------------------------
    def listing(self) -> tuple[list[int], list[int]]:
        """(commit versions, checkpoint versions) in ``_delta_log``."""
        try:
            names = os.listdir(self.log_dir)
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
        commits, _ = self.listing()
        return commits[-1] if commits else -1

    def last_checkpoint(self) -> dict | None:
        try:
            with open(os.path.join(self.log_dir, _LAST_CHECKPOINT)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def read_commit(self, version: int) -> list[dict]:
        with open(commit_path(self.root, version)) as f:
            return [json.loads(ln) for ln in f if ln.strip()]

    def commit_files(self, version: int) -> tuple[list[dict], list[dict]]:
        """(add, remove) actions of commit ``version``, without the
        ``dataChange: false`` ones: an OPTIMIZE only rearranges rows
        (PROTOCOL.md), so a reader of changes skips its files."""
        acts = self.read_commit(version)

        def files(kind: str) -> list[dict]:
            return [
                a[kind] for a in acts
                if kind in a and a[kind].get("dataChange", True)
            ]

        return files("add"), files("remove")

    # -- checkpoints ------------------------------------------------------
    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.checkpoint.parquet")

    def read_checkpoint(self, version: int) -> Snapshot:
        import pyarrow.parquet as pq

        acts: list[dict] = []
        for row in pq.read_table(self._checkpoint_path(version)).to_pylist():
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

    def write_checkpoint(self, snap: Snapshot) -> None:
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
        cp_path = self._checkpoint_path(snap.version)
        tmp = cp_path + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(pa.Table.from_pydict(cols, schema=schema), tmp)
        os.replace(tmp, cp_path)
        lc_tmp = os.path.join(self.log_dir, f".lc-{uuid.uuid4().hex}")
        with open(lc_tmp, "w") as f:
            json.dump({"version": snap.version, "size": len(rows)}, f)
        os.replace(lc_tmp, os.path.join(self.log_dir, _LAST_CHECKPOINT))

    # -- snapshots and commits --------------------------------------------
    def snapshot(self, as_of: int | None = None) -> Snapshot:
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
        commits, checkpoints = self.listing()
        latest = commits[-1] if commits else -1
        version = latest if as_of is None else as_of
        if not -1 <= version <= latest:
            raise ValueError(
                f"version {as_of} does not exist in {self.root} "
                f"(latest is {latest})"
            )
        snap = self._cache
        if snap is None or snap.version > version:
            cp = max((c for c in checkpoints if c <= version), default=None)
            snap = Snapshot() if cp is None else self.read_checkpoint(cp)
        if snap.version < version:
            snap = snap.advance(version, [
                act
                for v in range(snap.version + 1, version + 1)
                for act in self.read_commit(v)
            ])
        supported = PROTOCOL["minReaderVersion"]
        if int(snap.protocol.get("minReaderVersion") or 1) > supported:
            raise ValueError(
                f"table at {self.root} requires minReaderVersion "
                f"{snap.protocol['minReaderVersion']}; this reader supports "
                f"{supported} — upgrade the reader, do not guess"
            )
        if as_of is None and version >= 0:
            self._cache = snap
        return snap

    def commit(
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
        operationMetrics. Replay ignores it. Every
        ``CHECKPOINT_INTERVAL``-th version also writes a checkpoint."""
        if snap is None:
            snap = self.snapshot()
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
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        version = snap.version + 1
        while True:
            staged = [{"commitInfo": {"timestamp": self.clock(), **info}}, *actions]
            if version == 0:
                staged = [{"protocol": PROTOCOL}, *staged]
            with open(tmp, "w") as f:
                for act in staged:
                    f.write(json.dumps(act) + "\n")
            try:
                os.link(tmp, commit_path(self.root, version))  # atomic put-if-absent
                break
            except FileExistsError:
                version = self.latest_version + 1  # lost the race — retry
            finally:
                os.remove(tmp)
        if version == snap.version + 1:
            committed = self._cache = snap.advance(version, staged)
        else:
            committed = self.snapshot(as_of=version)
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            self.write_checkpoint(committed)
        return version

    # -- history and timestamps -------------------------------------------
    def commit_info(self, version: int) -> dict:
        """Commit ``version``'s commitInfo action, its ``timestamp``
        (epoch-ms) falling back to the log file's mtime — the same
        fallback Delta itself uses for tables whose writers predate
        in-commit timestamps."""
        path = commit_path(self.root, version)
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

    def history(self) -> list[dict]:
        """``DESCRIBE HISTORY`` — one row per commit, newest first (the
        order Delta presents), from the commitInfo actions alone: each
        commit file is opened once, no data file is. Rows carry the
        operation (the protocol's placeholder ``WRITE`` for commits
        written before the field existed), timestamp, and — where the
        commit recorded them — readVersion, isBlindAppend and
        operationMetrics."""
        rows = []
        for v in range(self.latest_version, -1, -1):
            info = self.commit_info(v)
            row = {
                "version": v,
                "timestamp": info["timestamp"],
                "operation": info.get("operation") or "WRITE",
            }
            for key in ("readVersion", "isBlindAppend", "operationMetrics"):
                if key in info:
                    row[key] = info[key]
            rows.append(row)
        return rows

    def version_at_timestamp(self, ts_ms: int) -> int:
        """``TIMESTAMP AS OF`` resolution: the LATEST version whose
        commit timestamp is <= ``ts_ms`` (Delta's rule — a reader at time
        T sees every commit that had completed by T). Errors if ``ts_ms``
        predates the first commit, like Delta's
        ``timestampAsOf`` on a too-early timestamp. Scans from the newest
        commit back, so a recent timestamp opens few commit files."""
        for v in range(self.latest_version, -1, -1):
            if self.commit_info(v)["timestamp"] <= ts_ms:
                return v  # commit timestamps are monotonic
        raise ValueError(
            f"timestamp {ts_ms} is before the first commit of {self.root}"
        )

    # -- VACUUM -----------------------------------------------------------
    def vacuum(self, retention_ms: int = 0, now_ms: int | None = None) -> list[str]:
        """``VACUUM ... RETAIN`` by Delta's rule: list the table root and
        delete every file that no reader inside the retention window can
        still open. The cutoff is ``now_ms - retention_ms`` (``now_ms``
        defaults to the clock); ``v_cut`` is the version current at the
        cutoff, -1 if no commit is that old. The keep set is ``v_cut``'s
        live adds, every add committed after it, and the DV sidecars
        those adds name. A file or ``.tmp-*`` staging entry under the
        root that is outside the keep set and older than the cutoff is
        deleted, so the orphans of a writer that crashed before its
        commit are reclaimed too. A ``col=value/`` directory that was
        last changed before the cutoff and is empty afterwards is removed
        as well. ``_delta_log`` and every other hidden ``_*``/``.*``
        entry are skipped, and files outside the root (a shallow clone's
        absolute-path adds) are never listed. Returns the sorted deleted
        file and staging paths, relative to the root; the log keeps every
        commit, so version numbering stays stable (older versions simply
        stop being time-travelable).

        Hazards shared with real Delta: at retention 0 a concurrent
        writer's staged, not yet committed files are not protected; and
        vacuuming a SOURCE table can reclaim files a shallow clone of it
        still references (the source has no registry of its clones) —
        deep-clone before vacuuming the source if clones must outlive
        it."""
        latest = self.latest_version
        if latest < 0:
            raise ValueError(f"no table at {self.root}: nothing to vacuum")
        cutoff = (self.clock() if now_ms is None else now_ms) - retention_ms
        try:
            v_cut = self.version_at_timestamp(cutoff)
        except ValueError:
            v_cut = -1
        adds = list(self.snapshot(v_cut).adds.values()) + [
            act["add"]
            for v in range(v_cut + 1, latest + 1)
            for act in self.read_commit(v)
            if "add" in act
        ]
        root = os.path.abspath(self.root)
        keep = {
            os.path.normpath(p)
            for a in adds
            for p in (os.path.join(root, a["path"]),
                      dv_sidecar(root, a.get("deletionVector")))
            if p is not None
        }

        def older(path: str) -> bool:
            try:
                return os.lstat(path).st_mtime_ns // 10**6 < cutoff
            except FileNotFoundError:
                return False  # gone since the listing: a writer's own cleanup

        deleted: list[str] = []
        old_dirs: list[str] = []  # partition dirs, parents before children
        for dirpath, dirs, files in os.walk(root):
            staging = [d for d in dirs if d.startswith(".tmp-")]
            dirs[:] = [d for d in dirs if d[0] not in "_."]  # partitions
            if dirpath != root and older(dirpath):
                old_dirs.append(dirpath)
            for name in files + staging:
                full = os.path.join(dirpath, name)
                hidden = name[0] in "_." and not name.startswith(".tmp-")
                if hidden or full in keep or not older(full):
                    continue
                (shutil.rmtree if name in staging else os.remove)(full)
                deleted.append(os.path.relpath(full, root).replace(os.sep, "/"))
        for d in reversed(old_dirs):
            try:
                os.rmdir(d)  # succeeds only on a directory left empty
            except OSError:
                pass
        return sorted(deleted)


# -- deletion vectors ---------------------------------------------------------
def dv_sidecar(root: str, desc: dict | None) -> str | None:
    """The sidecar file a deletionVector descriptor names (None for no
    descriptor or an inline one), resolved against ``root``; a shallow
    clone's descriptors name absolute paths, which stay as they are."""
    if not desc or desc["storageType"] != "p":
        return None
    return os.path.join(root, desc["pathOrInlineDv"])


def load_dv(root: str, desc: dict | None) -> list[int]:
    """The deleted row indexes of a deletionVector descriptor (none for
    None)."""
    if not desc:
        return []
    sidecar = dv_sidecar(root, desc)
    if sidecar is None:
        payload = base64.a85decode(desc["pathOrInlineDv"])
    else:
        with open(sidecar, "rb") as f:
            payload = f.read()
    return list(struct.unpack(f"<{len(payload) // 8}Q", payload))


def store_dv(root: str, idxs: list[int]) -> dict:
    """The descriptor of the sorted row indexes ``idxs``: inline up to
    ``_DV_INLINE_MAX`` rows, else a new sidecar under ``root``, published
    by rename."""
    payload = struct.pack(f"<{len(idxs)}Q", *idxs)
    if len(idxs) <= _DV_INLINE_MAX:
        kind, where = "i", base64.a85encode(payload).decode()
    else:
        kind, where = "p", f"deletion_vector_{uuid.uuid4().hex}.bin"
        tmp = os.path.join(root, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, os.path.join(root, where))
    return {"storageType": kind, "pathOrInlineDv": where,
            "sizeInBytes": len(payload), "cardinality": len(idxs)}


def file_uri(root: str, path: str) -> str:
    """A data file's ``_metadata.file_path`` as Spark renders it (Hadoop's
    ``Path.toUri``): ``file:`` and the absolute path, with each ASCII
    character a URI path may not hold percent-encoded — a space becomes
    ``%20``, the ``%`` of an escaped partition directory ``%25`` — and
    non-ASCII characters kept."""
    full = os.path.abspath(os.path.join(root, path))
    return "file:" + "".join(
        urllib.parse.quote(c, safe="/!$&'()*+,;=:@") if c.isascii() else c
        for c in full
    )


# -- the rows a set of files holds ---------------------------------------------
def _partition_value(value: str | None, dtype) -> object:
    """A ``partitionValues`` string as the value of schema type ``dtype``
    (PROTOCOL.md, partition value serialization); null stays None."""
    if value is None:
        return None
    if dtype in ("byte", "short", "integer", "long"):
        return int(value)
    if dtype in ("float", "double"):
        return float(value)
    if dtype == "boolean":
        return value == "true"
    if dtype == "date":
        return datetime.date.fromisoformat(value)
    if dtype == "timestamp":  # written in the session zone, pinned to UTC
        return datetime.datetime.fromisoformat(value).replace(
            tzinfo=datetime.timezone.utc)
    if dtype == "timestamp_ntz":
        return datetime.datetime.fromisoformat(value)
    if str(dtype).startswith("decimal"):
        return decimal.Decimal(value)
    return value


def rows(root: str, snap: Snapshot, files: list[dict]) -> list[tuple]:
    """The rows the data files of ``files`` (add or remove actions) hold,
    under ``snap``'s metaData, as ``DeltaLikeTable._scan`` reads them: the
    rows a file's deletion vector names are dropped, partition columns
    come from ``partitionValues`` typed by the schema, physical column
    names are read under their logical ones, and a column a file does not
    have reads as NULL. Each row is a tuple in schema order."""
    import pyarrow.parquet as pq

    phys = dict(snap.mapping or [])
    fields = [(phys.get(f["name"], f["name"]), f["type"]) for f in snap.fields]
    out: list[tuple] = []
    for f in files:
        parts = f.get("partitionValues") or {}
        data = pq.read_table(os.path.join(root, f["path"]), partitioning=None)
        n, names = data.num_rows, set(data.column_names)
        cols = [
            [_partition_value(parts[p], t)] * n if p in parts
            else data.column(p).to_pylist() if p in names
            else [None] * n
            for p, t in fields
        ]
        dead = set(load_dv(root, f.get("deletionVector")))
        out.extend(r for i, r in enumerate(zip(*cols)) if i not in dead)
    return out


def _order(item: tuple) -> list:
    """Sort key of a (row, count) item: a NULL sorts after every value."""
    return [(v is None, v) for v in item[0]]


def appended_rows(root: str, version: int, snap: Snapshot) -> list[tuple]:
    """The rows commit ``version`` appended (``rows`` of its adds, under
    ``snap``'s metaData): the tail of an append-only table. A commit
    after v0 that removes files (an overwrite, MERGE, DELETE or DV
    delete) is refused, because replaying its adds would count the
    rewritten rows twice; an OPTIMIZE appends no row."""
    added, removed = DeltaLog(root).commit_files(version)
    if version > 0 and removed:
        raise ValueError(
            f"commit {version} of {root} removes files; this tail reads "
            "append-only tables"
        )
    return rows(root, snap, added)


def change_diff(root: str, version: int, snap: Snapshot) -> list[tuple]:
    """Commit ``version``'s change feed as Delta's legacy read derives it
    when no cdc files exist: the multiset diff of the rows visible under
    its removes (each with the deletion vector of the add it retires) and
    under its adds, both read by ``rows`` under ``snap``'s metaData. So a
    copy-on-write rewrite and a DV delete are diffed alike, from the
    commit alone. This is the engine's one change-feed rule, batch and
    stream. Rows are keyed by their first column: an appeared row is an
    ``update_postimage`` if its key also vanished, else an ``insert``; a
    vanished row is an ``update_preimage`` if its key also appeared, else
    a ``delete``. Returns ``(version, change_type, *row)`` tuples,
    appeared rows first. The work is bounded by the commit's files, not
    the table."""
    added, removed = DeltaLog(root).commit_files(version)
    before = Counter(rows(root, snap, removed))
    after = Counter(rows(root, snap, added))
    appeared, vanished = after - before, before - after
    app_keys = {r[0] for r in appeared}
    van_keys = {r[0] for r in vanished}
    out: list[tuple] = []
    for r, n in sorted(appeared.items(), key=_order):
        out += [(version, "update_postimage" if r[0] in van_keys else "insert", *r)] * n
    for r, n in sorted(vanished.items(), key=_order):
        out += [(version, "update_preimage" if r[0] in app_keys else "delete", *r)] * n
    return out
