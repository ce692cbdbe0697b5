"""Delta-protocol versioned parquet table (SURVEY.md §2.1).

The reference stack stores every medallion layer as Delta Lake tables
(ref README.md:2 "full deltalake implementation"). ``delta-spark`` is not
installed here, so this module implements the storage layer from the
PUBLIC Delta Lake protocol spec (delta-io/delta PROTOCOL.md): an ordered
``_delta_log/`` of JSON commit files holding ``protocol`` / ``metaData``
/ ``add`` / ``remove`` actions over immutable parquet data files at the
table root (``part-*.parquet``, or under ``col=value/`` when partitioned).

Capabilities the stack exercises:

- append / overwrite writes (``write``)
- read as of any version (``read(as_of=...)`` — time travel, by
  replaying add/remove actions up to that commit)
- DELETE, MERGE upsert, every other read-modify-write (``rewrite``) and
  OPTIMIZE-style compaction: one copy-on-write rewrite (``_rewrite``)
  that commits removes for exactly the files it read, against the
  snapshot it read them from
- VACUUM by Delta's keep-set rule: list
  the table root, delete what no version inside the retention window
  references (crash orphans and ``.tmp-*`` staging included); at
  retention 0 a concurrent writer's uncommitted files are not protected

The log itself — commits, ``Snapshot`` replay, checkpoints, history,
timestamp resolution and VACUUM — is ``deltalog.DeltaLog``, a module with
no Spark import; this module adds the Spark I/O over it (staging data
files, reads, DML plans). Every operation derives table state from one
``Snapshot``, and reads take the schema from the snapshot's metaData,
never from the data files.

Scale notes (100 TB): reads are plain multi-path parquet scans, so column
pruning / predicate pushdown all still fire; the log is O(#commits)
driver-side JSON with a parquet checkpoint every ``CHECKPOINT_INTERVAL``
commits, never shipped to executors. A commit publishes the next numbered
log file with ``os.link``, the spec's put-if-absent contract. MERGE
shuffles both sides on the key — on a cluster you'd bucket the target by
the merge key to make re-merges shuffle-free; with delta-spark installed
the same calls map 1:1 onto ``DeltaTable`` operations and these tables
are readable as real Delta.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.parse
import uuid
from typing import Callable

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructField, StructType

from . import deltalog
from .deltalog import (
    CHECKPOINT_INTERVAL,  # noqa: F401 — re-exported for callers of this module
    COLUMN_MAPPING_KEY,
    GENERATION_EXPRESSION_KEY,
    PHYSICAL_NAME_KEY,
    DeltaLog,
    Snapshot,
    remove,
)

# The log readers run in Python workers that may not be able to import
# this package: cloudpickle ships ``deltalog`` with them by value.
cloudpickle.register_pickle_by_value(deltalog)


def _file_stats(path: str) -> str:
    """Per-file column statistics for the add action's ``stats`` field
    (the protocol stores them as a JSON string): numRecords plus
    min/maxValues per leaf column, read from the parquet footer — no
    data pages touched. Readers use them for data skipping. A decimal
    is a JSON number, as the protocol writes it; one with more digits
    than a double carries exactly gets no min/max (its file is never
    skipped on that column)."""
    import datetime
    import decimal

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
        if isinstance(v, decimal.Decimal):
            f = float(v)
            return f if decimal.Decimal(repr(f)) == v else None
        return v

    def _min_max(st, ci: int):
        """The stat pair; a decimal's from its unscaled physical value
        (pyarrow decodes no INT32/INT64-backed decimal, Spark's and
        DuckDB's layout up to 18 digits)."""
        cs = md.schema.column(ci)
        if cs.logical_type.type != "DECIMAL":
            return st.min, st.max
        return tuple(
            decimal.Decimal(
                v if isinstance(v, int) else int.from_bytes(v, "big", signed=True)
            ).scaleb(-cs.scale)
            for v in (st.min_raw, st.max_raw)
        )

    raw_min: dict = {}
    raw_max: dict = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            lo, hi = _min_max(st, ci)
            if name not in raw_min or lo < raw_min[name]:
                raw_min[name] = lo
            if name not in raw_max or hi > raw_max[name]:
                raw_max[name] = hi

    def _values(raw: dict) -> dict:
        out = {k: _jsonable(v) for k, v in raw.items()}
        return {k: v for k, v in out.items() if v is not None}

    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": _values(raw_min),
            "maxValues": _values(raw_max),
        }
    )


def _schema(snap: Snapshot) -> StructType:
    """The log schema (logical names, field metadata kept)."""
    return StructType.fromJson({"type": "struct", "fields": snap.fields})


def _read_schema(snap: Snapshot) -> StructType:
    """The parquet read schema: the log schema under the files'
    physical column names, without field metadata."""
    phys = dict(snap.mapping or [])
    return StructType([
        StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
        for f in _schema(snap).fields
    ])


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
        raw values, which keeps numeric stats exact. A decimal
        column's stat is the JSON number of its exact digits, so
        against a Decimal bound it compares as those digits (the
        double it parsed to is not the decimal's value)."""
        import datetime as _dt
        import decimal as _dec

        if isinstance(y, _dec.Decimal) and isinstance(x, float):
            return _dec.Decimal(repr(x)), y

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


def _removes(adds, data_change: bool = True) -> list[dict]:
    """The remove actions of ``adds``, stamped now."""
    now = int(time.time() * 1000)
    return [remove(a, now, data_change) for a in adds]


def _partition(add: dict) -> tuple:
    """An add's partition, as a hashable key."""
    return tuple(sorted((add.get("partitionValues") or {}).items()))


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


def _log_source() -> type:
    """The Python data source ``deltalike_log``: a table's log read one
    commit per partition, in batch or as a stream.

    Its parameters travel as options, so reads of different tables on one
    session never share state: ``path``; ``readChangeFeed`` ("true" for
    the change feed, ``deltalog.change_diff``, else the appended rows,
    ``deltalog.appended_rows``); and ``startingVersion`` and
    ``endingVersion``, inclusive, Delta's option names. ``schema``
    resolves the snapshot at ``endingVersion`` (else the latest) on the
    driver: its metaData fields, after ``version`` and ``change_type`` for
    the change feed, are the schema, and the readers carry that metaData
    so ``deltalog.rows`` reads every commit's files as ``read()`` reads
    them (deletion vectors, partition values, column mapping, columns a
    file lacks). Stream offsets are log versions
    (``{"version": v}``): ``latestOffset`` lists the log (file names, no
    rows), ``partitions`` emits one InputPartition per new commit, and a
    restart replays exactly the versions its checkpoint has not committed.
    ``read`` runs on the executors, so rows never materialize on the
    driver. The classes are defined in this function and reference only
    ``deltalog`` and pyspark, so cloudpickle ships them by value.

    Scale: one partition holds one commit's added and removed files.
    Until MERGE rewrites only the files it touches, a MERGE commit
    rewrites every file, so one Python worker diffs the whole table for
    it. MERGE writing the protocol's ``cdc`` actions bounds it by the
    change.

    Trigger.AvailableNow: PySpark 4.1's Python stream readers do not
    support it, so Spark drains them in a single batch. After a crash
    that left a planned but uncommitted batch, a restart replays only
    that batch and stops, without the versions committed since."""

    class _Commits:
        def __init__(self, options, meta: deltalog.Snapshot):
            self.path, self.meta = options["path"], meta
            change_feed = options.get("readChangeFeed") == "true"
            self.rows_of = (
                deltalog.change_diff if change_feed else deltalog.appended_rows
            )
            self.first = int(options.get("startingVersion", 0))
            self.last = options.get("endingVersion")

        def read(self, partition):
            if partition is not None:  # Spark reads no partition as [None]
                yield from self.rows_of(self.path, partition.value, self.meta)

    class _Batch(_Commits, DataSourceReader):
        def partitions(self):
            return [
                InputPartition(v) for v in range(self.first, int(self.last) + 1)
            ]

    class _Stream(_Commits, DataSourceStreamReader):
        def initialOffset(self):
            return {"version": self.first}

        def latestOffset(self):
            latest = deltalog.DeltaLog(self.path).latest_version
            if self.last is not None:
                latest = min(latest, int(self.last))
            return {"version": latest + 1}

        def partitions(self, start, end):
            return [
                InputPartition(v) for v in range(start["version"], end["version"])
            ]

        def commit(self, end):
            pass

    class _Source(DataSource):
        @classmethod
        def name(cls):
            return "deltalike_log"

        def schema(self):
            last = self.options.get("endingVersion")
            snap = deltalog.DeltaLog(self.options["path"]).snapshot(
                None if last is None else int(last)
            )
            # the metaData alone travels to the readers, not the live adds
            self.meta = deltalog.Snapshot(metadata=snap.metadata)
            fields = snap.fields
            if self.options.get("readChangeFeed") == "true":
                fields = [
                    {"name": "version", "type": "integer", "nullable": False,
                     "metadata": {}},
                    {"name": "change_type", "type": "string", "nullable": False,
                     "metadata": {}},
                ] + fields
            return StructType.fromJson({"type": "struct", "fields": fields})

        def reader(self, schema):
            return _Batch(self.options, self.meta)

        def streamReader(self, schema):
            return _Stream(self.options, self.meta)

    return _Source


_LOG_SOURCE = _log_source()


def _register_log_source(spark: SparkSession) -> None:
    """Register ``_LOG_SOURCE`` on ``spark`` unless it already is. Spark
    refuses a name that the thread's ACTIVE session knows even when
    ``spark`` does not (a ``newSession()`` made after its parent
    registered it), so the registration runs with ``spark`` active, as
    ``createDataFrame`` makes its own session active."""
    jss = spark._jsparkSession
    if jss.sessionState().dataSourceManager().dataSourceExists("deltalike_log"):
        return
    jcls = SparkSession._get_j_spark_session_class(spark._jvm)
    active = jcls.getActiveSession()
    jcls.setActiveSession(jss)
    try:
        spark.dataSource.register(_LOG_SOURCE)
    finally:
        if active.isDefined():
            jcls.setActiveSession(active.get())
        else:
            jcls.clearActiveSession()


class DeltaLikeTable:
    def __init__(self, path: str):
        self.path = path
        self.log = DeltaLog(path)

    @property
    def latest_version(self) -> int:
        return self.log.latest_version

    def commit_timestamp(self, version: int) -> int:
        """Commit timestamp in epoch-ms (``DeltaLog.commit_info``)."""
        return self.log.commit_info(version)["timestamp"]

    def history(self) -> list[dict]:
        """``DESCRIBE HISTORY``, newest first (``DeltaLog.history``)."""
        return self.log.history()

    def version_at_timestamp(self, ts_ms: int) -> int:
        """``TIMESTAMP AS OF`` resolution (``DeltaLog.version_at_timestamp``)."""
        return self.log.version_at_timestamp(ts_ms)

    # -- writes -----------------------------------------------------------
    def _stage(
        self,
        df: DataFrame,
        snap: Snapshot,
        partition_by: list[str] | None = None,
        append: bool = False,
        merge_schema: bool = False,
        data_change: bool = True,
    ) -> list[dict]:
        """Stage ``df`` as data files of the table at ``snap``: the ``add``
        actions, plus a metaData action if the write changes the table's
        metadata (schema or partitioning), as Delta does. The write job
        asserts the table's checks (``_with_checks``); an append is also
        checked against the schema. Files land under ``partition_by``, by
        default the table's own partition columns, in hive-style
        ``col=value/`` directories; each add carries the spec's
        ``partitionValues``, which readers prune on without listing a file.
        Spark part-file names embed a job UUID, so moved files never
        collide. A file with no rows gets no add (Delta adds none for an
        empty write); the commit still lands."""
        df, checks = self._with_checks(df, snap)
        if append:
            self._enforce_schema(df, merge_schema, snap)
        parts = partition_by or (snap.metadata or {}).get("partitionColumns") or []
        # under column mapping the files carry the PHYSICAL names
        phys = dict(snap.mapping or [])
        out = df if not phys else df.select(
            [F.col(c).alias(phys.get(c, c)) for c in df.columns]
        )
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        writer = out.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        # Spark's default INT96 timestamps carry NO parquet min/max
        # statistics — data skipping on a temporal column (the 100 TB
        # win) would silently never fire. Pin TIMESTAMP_MICROS (what
        # Delta itself writes) on the session, as catalog.read_table
        # pins its confs: restoring the caller's value afterwards let a
        # concurrent writer on the same session stage INT96 files.
        df.sparkSession.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        try:
            writer.parquet(tmp)
        except Exception as e:
            shutil.rmtree(tmp, ignore_errors=True)
            fired = next((m for m in checks if m in str(e)), None)
            if fired is None:
                raise
            raise ValueError(fired) from None
        now = int(time.time() * 1000)
        adds = []
        for dirpath, _dirs, fnames in sorted(os.walk(tmp)):
            for fname in sorted(fnames):
                if not fname.endswith(".parquet"):
                    continue
                staged = os.path.join(dirpath, fname)
                stats = _file_stats(staged)
                if json.loads(stats)["numRecords"] == 0:
                    continue  # left in tmp, removed with it below
                rel = os.path.relpath(staged, tmp)
                # Delta records the value, not Spark's escaped directory name
                pvals = {
                    k: None if v == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(v)
                    for k, v in (
                        part.split("=", 1)
                        for part in rel.split(os.sep)[:-1] if "=" in part
                    )
                }
                dst = os.path.join(self.path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(staged, dst)
                adds.append({"add": {
                    "path": rel.replace(os.sep, "/"),
                    "partitionValues": pvals,
                    "size": os.path.getsize(dst),
                    "modificationTime": now,
                    "dataChange": data_change,
                    "stats": stats,
                }})
        shutil.rmtree(tmp)
        meta = self._metadata_action(df, parts, snap, append)
        return adds if meta["metaData"] == snap.metadata else adds + [meta]

    def _metadata_action(
        self, df: DataFrame, partition_by: list[str], snap: Snapshot, append: bool
    ) -> dict:
        """The write's metaData action. Its schema is ``df``'s, keeping
        each existing field's metadata (generation expressions, physical
        names) — df.schema alone would drop it. An append also keeps
        every current column, so the log schema is always the evolved
        union of the live files and readers take it as is. Table
        configuration (constraints, properties), id, format and
        createdTime survive writes — only explicit ALTERs change the
        configuration, as in Delta."""
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
        old = snap.metadata or {}
        return {
            "metaData": {
                "id": old.get("id") or str(uuid.uuid4()),
                "format": old.get("format") or {"provider": "parquet", "options": {}},
                "schemaString": json.dumps({"type": "struct", "fields": fields}),
                "partitionColumns": partition_by,
                "configuration": snap.configuration,
                "createdTime": old.get("createdTime") or int(time.time() * 1000),
            }
        }

    def _current_metadata(self) -> tuple[Snapshot, dict]:
        snap = self.log.snapshot()
        if snap.metadata is None:
            raise ValueError(f"no schema committed yet at {self.path}")
        return snap, snap.metadata

    def _alter_configuration(self, snap: Snapshot, cfg: dict, operation: str) -> int:
        meta = {**snap.metadata, "configuration": {**snap.configuration, **cfg}}
        return self.log.commit([{"metaData": meta}], operation, snap)

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
        return self.log.snapshot().configuration

    def check_constraints(self) -> dict[str, str]:
        return self.log.snapshot().constraints

    def _with_checks(self, df: DataFrame, snap: Snapshot) -> tuple[DataFrame, list]:
        """``df`` with its omitted generated columns computed and, if the
        table has checks, one Filter that raises on the first row whose
        CHECK constraint is FALSE (NULL passes) or whose supplied generated
        column differs from its expression; and the checks' messages. The
        write job runs the Filter, as Delta asserts invariants in its write
        job: no extra pass, and the checked rows are the written rows (a
        projected check column would be pruned by Catalyst, never run)."""
        generated = snap.generated_columns
        computed = {n: F.expr(e) for n, e in generated.items() if n not in df.columns}
        if computed:  # each in its place in the table's column order
            df = df.withColumns(computed)
            order = [f["name"] for f in snap.fields if f["name"] in df.columns]
            df = df.select(order + [c for c in df.columns if c not in order])
        checks = [(~F.col(name).eqNullSafe(F.expr(expr)), (
            f"generated column {name!r} violated: supplied values "
            f"differ from GENERATED ALWAYS AS ({expr})"
        )) for name, expr in generated.items() if name not in computed]
        checks += [(F.expr(expr).eqNullSafe(False), (
            f"CHECK constraint {name} ({expr}) violated by write to {self.path}"
        )) for name, expr in snap.constraints.items()]
        ok = F.lit(True)
        for bad, msg in reversed(checks):
            ok = F.when(bad, F.raise_error(msg)).otherwise(ok)
        return (df.filter(ok) if checks else df), [m for _, m in checks]

    # -- column mapping (metadata-only rename / drop) ----------------------
    def _mapping_metadata_action(
        self, meta: dict, fields: list[dict]
    ) -> dict:
        sj = json.loads(meta["schemaString"])
        sj["fields"] = fields
        cfg = {
            **(meta.get("configuration") or {}),
            COLUMN_MAPPING_KEY: "name",
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
        Metadata-only commit, so it computes nothing for written rows: a
        table whose live files hold rows refuses it."""
        snap, meta = self._current_metadata()
        stats = (json.loads(a.get("stats") or "{}") for a in snap.adds.values())
        if any(st.get("numRecords", 1) for st in stats):  # no stats: assume rows
            raise ValueError(
                f"cannot add generated column {name!r}: {self.path} holds rows"
            )
        sj = json.loads(meta["schemaString"])
        if name in [f["name"] for f in sj["fields"]]:
            raise ValueError(f"column {name!r} already exists")
        sj["fields"].append(  # keys in the order Spark's schema JSON has
            {
                "metadata": {GENERATION_EXPRESSION_KEY: expr_sql},
                "name": name,
                "nullable": True,
                "type": dtype,
            }
        )
        return self.log.commit(
            [{"metaData": {**meta, "schemaString": json.dumps(sj)}}],
            "ADD COLUMN",
            snap,
        )

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
            md.setdefault(PHYSICAL_NAME_KEY, f["name"])
            if f["name"] == old:
                f["name"] = new
        return self.log.commit(
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
            md.setdefault(PHYSICAL_NAME_KEY, f["name"])
            if f["name"] != name:
                kept.append(f)
        return self.log.commit(
            [self._mapping_metadata_action(meta, kept)], "DROP COLUMN", snap
        )

    def _enforce_schema(
        self, df: DataFrame, merge_schema: bool, snap: Snapshot
    ) -> None:
        """Delta's schema-on-write: an append may not change a column's
        type, and may only ADD columns when schema merging is opted in
        (``mergeSchema``). Missing nullable columns are allowed (they
        read as NULL). Overwrites replace the schema freely."""
        if snap.metadata is None:
            return
        cur = {f.name: f.dataType for f in _schema(snap).fields}
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
        return self.log.snapshot().txns.get(app_id, -1)

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
        as the data. Gap (ROADMAP item 1): ``DeltaLog.commit`` retries a
        lost put-if-absent at ``latest_version + 1`` without reading the
        winner's ``txn``, so two concurrent writers of one (app_id,
        app_version) both commit; Delta would reject the loser."""
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
        """Commit ``df`` as a new version; returns the version number.
        With no ``partition_by`` the table keeps its partitioning, as in
        Delta."""
        assert mode in ("append", "overwrite")
        append = mode == "append"
        snap = self.log.snapshot()
        actions = [] if append else _removes(snap.adds.values())
        actions += self._stage(df, snap, partition_by, append, merge_schema)
        if txn is not None:
            actions.append({"txn": txn})
        operation = operation or ("WRITE" if append else "OVERWRITE")
        return self.log.commit(actions, operation, snap, blind_append=append)

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
        snap = self.log.snapshot()
        staged = self._stage(df, snap, partition_by, append=True)
        touched = {_partition(a["add"]) for a in staged if "add" in a}
        removed = [a for a in snap.adds.values() if _partition(a) in touched]
        return self.log.commit(_removes(removed) + staged, operation, snap)

    # -- reads ------------------------------------------------------------
    def live_files(
        self,
        as_of: int | None = None,
        stats_filter: dict[str, tuple] | None = None,
    ) -> list[dict]:
        """The add actions a ``read`` with these filters would open.

        Pure log-metadata work (no file is listed or opened) — this is
        both the pruning step ``read`` runs and the evaluation surface a
        clustering decision needs: ``len(live_files(stats_filter=...))``
        is the file-scan cost of a predicate under the current layout,
        which is how OPTIMIZE ZORDER's benefit is measured at 100 TB
        without touching data."""
        adds = list(self.log.snapshot(as_of).adds.values())
        return _prune(adds, None, stats_filter)

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
        metaData action, so a log without one is an error; a version with
        no live files (say, after 0-row writes), or a filter no file can
        match, reads as an empty frame with the log schema.

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
        snap = self.log.snapshot(as_of)
        return self._scan(
            spark, snap, _prune(list(snap.adds.values()), partition_filter, stats_filter)
        )

    def changes(
        self,
        spark: SparkSession,
        start: int,
        end: int | None = None,
        *,
        stream: bool = False,
    ) -> DataFrame:
        """Delta's change data feed of versions ``start`` to ``end``
        (inclusive; default: latest), as ``(version, change_type,
        *columns)`` rows: ``deltalog.change_diff`` per commit, keyed by
        the table's first column. Each commit's rows are the rows
        ``read`` sees in its removed and added files (deletion vectors,
        partition values and column mapping applied), so every layout
        reads. ``stream=True`` tails the log from ``start`` instead."""
        return self._log_read(spark, start, end, stream, change_feed=True)

    def appends(self, spark: SparkSession, start: int) -> DataFrame:
        """A stream of the rows each version from ``start`` on appended
        (``deltalog.appended_rows``, which refuses a commit after v0 that
        removes files): the table tailed as a streaming source."""
        return self._log_read(spark, start, None, True, change_feed=False)

    def _log_read(
        self, spark: SparkSession, start: int, end: int | None, stream: bool,
        change_feed: bool,
    ) -> DataFrame:
        """A read of ``_log_source`` on ``spark``. A batch read is pinned
        to the version that is latest now, unless ``end`` is given."""
        snap = self.log.snapshot(end)
        options = {
            "path": self.path,
            "readChangeFeed": str(change_feed).lower(),
            "startingVersion": str(start),
        }
        if end is not None or not stream:
            options["endingVersion"] = str(snap.version)
        _register_log_source(spark)
        reader = spark.readStream if stream else spark.read
        return reader.format("deltalike_log").options(**options).load()

    def _scan(self, spark: SparkSession, snap: Snapshot, adds: list[dict]) -> DataFrame:
        """The rows of ``adds``, live adds of ``snap``, under its log
        schema and in its column order: deletion vectors masked, column
        mapping applied and partition columns re-materialized. No adds
        reads as an empty frame with that schema."""
        if snap.version < 0:
            raise ValueError(f"empty table at {self.path}")
        if snap.metadata is None:
            raise ValueError(f"no metaData action in the log of {self.path}")
        if not adds:
            return spark.createDataFrame([], _schema(snap))
        files = [os.path.join(self.path, a["path"]) for a in adds]
        reader = spark.read.schema(_read_schema(snap))
        if any(a.get("partitionValues") for a in adds):
            reader = reader.option("basePath", _base_path(files))
        df = reader.parquet(*files)
        dv_adds = [a for a in adds if a.get("deletionVector")]
        if dv_adds:
            df = self._apply_deletion_vectors(spark, df, dv_adds)
        phys = dict(snap.mapping or [])
        if phys or snap.metadata.get("partitionColumns"):
            # physical names back to logical ones, partition columns back
            # in their schema place (the file scan puts them last): a
            # projection Catalyst collapses into the scan, so column
            # pruning still reaches the parquet reader. Skipped when no
            # column moves: its py4j calls cost about 3 ms a column (4 vCPU)
            df = df.select([
                F.col(f"`{phys.get(f['name'], f['name'])}`").alias(f["name"])
                for f in snap.fields
            ])
        return df

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
            (deltalog.file_uri(self.path, a["path"]), ri)
            for a in dv_adds
            for ri in deltalog.load_dv(self.path, a["deletionVector"])
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
    def _rewrite(
        self,
        spark: SparkSession,
        snap: Snapshot,
        files: list[dict],
        transform: Callable[[DataFrame], DataFrame],
        operation: str,
        data_change: bool = True,
    ) -> int:
        """Copy-on-write, the one primitive under every DML and OPTIMIZE:
        read exactly ``files`` (adds of ``snap``) as ``read`` does, stage
        ``transform`` of their rows under the table's partitioning, and
        commit, against ``snap``, removes for exactly those files plus the
        new adds. A commit that lands after ``snap`` keeps its files. The
        rows carry each generated column's expression in the column's
        metadata, as the log schema does. Returns the committed version."""
        rows = self._scan(spark, snap, files)
        for name, expr in snap.generated_columns.items():
            rows = rows.withMetadata(name, {GENERATION_EXPRESSION_KEY: expr})
        staged = self._stage(transform(rows), snap, data_change=data_change)
        return self.log.commit(_removes(files, data_change) + staged, operation, snap)

    def rewrite(
        self,
        spark: SparkSession,
        transform: Callable[[DataFrame], DataFrame],
        operation: str,
    ) -> int:
        """Read-modify-write of the whole table, the one path of DELETE,
        UPDATE, MERGE, replaceWhere and SCD2 snapshots: the table becomes
        ``transform`` of the rows of one snapshot, committed against that
        snapshot with removes for exactly the files it read (``_rewrite``).
        Returns the committed version."""
        snap = self.log.snapshot()
        return self._rewrite(spark, snap, list(snap.adds.values()), transform, operation)

    def delete(self, spark: SparkSession, condition) -> DataFrame:
        """Delta ``DELETE WHERE condition``: rewrite the live files
        without the matching rows (copy-on-write, like Delta's file
        rewrite); history stays time-travelable. Returns the new state.
        """
        # Delta DELETE removes rows where the predicate is TRUE; rows where
        # it evaluates NULL are KEPT (plain ~condition would drop them).
        v = self.rewrite(
            spark, lambda df: df.filter(~condition.eqNullSafe(True)), "DELETE"
        )
        return self.read(spark, as_of=v)

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
        The predicate sees what ``read`` sees, partition columns included.
        Matched rows are keyed by the file URI Spark renders
        (``deltalog.file_uri``); the codec is ``deltalog.store_dv``.
        Each remove carries the DV of the add it retires, so the change
        feed reads the commit's deleted rows from the commit alone.
        Returns the committed version, or the current one when no row
        matched."""
        snap = self.log.snapshot()
        active = list(snap.adds.values())
        if not active:
            return snap.version  # no live file, no row to delete
        by_uri = {deltalog.file_uri(self.path, a["path"]): a for a in active}
        # the scan without the DVs, under logical names (the caller's
        # predicate speaks them); the projection keeps _metadata reachable
        base = self._scan(
            spark, snap, [{**a, "deletionVector": None} for a in active]
        ).withColumns({
            "_fp": F.col("_metadata.file_path"),
            "_ri": F.col("_metadata.row_index"),
        })
        # Rows already masked by an existing DV may re-match the
        # predicate here; the per-file union with the OLD index set below
        # makes that a no-op rather than a double delete.
        hits = (
            base.filter(condition.eqNullSafe(True))
            .groupBy("_fp")
            .agg(F.sort_array(F.collect_list("_ri")).alias("idxs"))
            .collect()
        )  # bounded: ≤ max_cardinality rows per file, checked below
        retired: list[dict] = []
        rewritten: list[dict] = []
        for row in hits:
            add = by_uri[row["_fp"]]  # a hit no live add names is a bug: raise
            old = set(deltalog.load_dv(self.path, add.get("deletionVector")))
            idxs = sorted(old | {int(i) for i in row["idxs"]})
            if len(idxs) == len(old):
                continue  # every matched row was already deleted
            if len(idxs) > max_cardinality:
                raise ValueError(
                    f"DV for {add['path']} would hold {len(idxs)} rows "
                    f"(> {max_cardinality}); rewrite with delete() instead"
                )
            retired.append(add)
            rewritten.append({  # a data change, even of an OPTIMIZE's file
                **add, "dataChange": True,
                "deletionVector": deltalog.store_dv(self.path, idxs),
            })
        if not rewritten:
            return snap.version
        actions = _removes(retired) + [{"add": a} for a in rewritten]
        return self.log.commit(actions, "DELETE", snap)

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
        snap, old = self.log.snapshot(), self.log.snapshot(as_of=version)
        target, current = old.adds, snap.adds
        actions = _removes(a for p, a in current.items() if p not in target)

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
        return self.log.commit(actions, "RESTORE", snap)

    def clone_to(self, target_path: str) -> "DeltaLikeTable":
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
        snap = self.log.snapshot()
        actions: list[dict] = []
        for a in snap.adds.values():
            add = {**a, "path": os.path.abspath(os.path.join(self.path, a["path"]))}
            sidecar = deltalog.dv_sidecar(self.path, a.get("deletionVector"))
            if sidecar is not None:
                # sidecar DVs live under the SOURCE root — absolutize so
                # the clone resolves them without copying (inline DVs
                # travel in the descriptor itself)
                add["deletionVector"] = {
                    **a["deletionVector"], "pathOrInlineDv": os.path.abspath(sidecar),
                }
            actions.append({"add": add})
        if snap.metadata is not None:  # a clone is a new table: its own id
            actions.append({"metaData": {**snap.metadata, "id": str(uuid.uuid4())}})
        clone.log.commit(actions, "CLONE")
        return clone

    # -- maintenance ------------------------------------------------------
    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """OPTIMIZE-style compaction: rewrite the live file set into
        ``target_files`` bin-packed files (per partition) in a
        ``dataChange: false`` commit — content is unchanged, only layout,
        so change readers skip it. At 100 TB this is the small-files cure
        for streaming-append tables, run as a maintenance job; old
        versions stay readable until vacuumed."""
        snap = self.log.snapshot()
        return self._rewrite(
            spark, snap, list(snap.adds.values()),
            lambda df: df.coalesce(target_files), "OPTIMIZE", data_change=False,
        )

    def vacuum(
        self, retention_ms: int = 0, now_ms: int | None = None
    ) -> list[str]:
        """``VACUUM ... RETAIN``: delete what no version inside the
        retention window references; returns the deleted paths, relative
        to the root (``DeltaLog.vacuum`` has the rule and its hazards).
        ``now_ms`` is injectable for deterministic tests."""
        return self.log.vacuum(retention_ms, now_ms)

    # -- MERGE (upsert) ---------------------------------------------------
    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: str,
        delete_not_matched_by_source: bool = False,
        evolve_schema: bool = False,
        matched_delete_where: str | None = None,
    ) -> DataFrame:
        """``MERGE INTO target USING source ON target.k = source.k
        WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`` —
        a rewrite of the live files; returns the merged state.

        Full-outer-join rewrite: matched rows take the source value of
        every column the source carries, unmatched target rows pass
        through, unmatched source rows are inserts.

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
        semantics for MERGE); the commit's metaData action carries the
        widened schemaString.

        A generated column the source does not carry is left out of the
        merged rows, so the write computes it for every row, as for any
        write; the table's column order is kept."""

        def upsert(target: DataFrame) -> DataFrame:
            cols = [
                f.name for f in target.schema.fields
                if f.name in source.columns
                or GENERATION_EXPRESSION_KEY not in f.metadata
            ]
            evolved = [
                c for c in source.columns if c not in cols and c != on
            ] if evolve_schema else []
            joined = target.withColumn("_merge_t", F.lit(True)).alias("t").join(
                source.withColumn("_merge_s", F.lit(True)).alias("s"),
                F.col(f"t.{on}") == F.col(f"s.{on}"), "full_outer",
            )
            # Matched/insert are decided by which side of the join is
            # present, NOT by key or value nullness: a NULL key matches
            # nothing, so its target row passes through and its source row
            # is inserted; WHEN MATCHED THEN UPDATE sets the column to the
            # source value even when that value is NULL, and inserted rows
            # take source values for every column the source carries.
            in_s = F.col("_merge_s").isNotNull()
            matched = F.col("_merge_t").isNotNull() & in_s
            if matched_delete_where is not None:
                # WHEN MATCHED AND cond THEN DELETE: drop the joined row
                # entirely — neither the update nor the pass-through branch
                # may see it. A NULL condition is NOT satisfied (Delta
                # clause semantics): coalesce to FALSE so the row falls
                # through to the unconditional UPDATE instead of being
                # silently deleted by ~(matched & NULL) = NULL.
                cond = F.coalesce(F.expr(matched_delete_where), F.lit(False))
                joined = joined.filter(~(matched & cond))

            # rows from the source take each column it carries and keep the
            # rest (an insert has no target side: NULL); a new column has a
            # value only on the rows the source touched
            out_cols = [
                (F.when(in_s, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
                 if c in source.columns else F.col(f"t.{c}")).alias(c)
                for c in cols
            ] + [F.col(f"s.{c}").alias(c) for c in evolved]
            if delete_not_matched_by_source:
                joined = joined.filter(in_s)
            return joined.select(*out_cols)

        return self.read(spark, as_of=self.rewrite(spark, upsert, "MERGE"))
