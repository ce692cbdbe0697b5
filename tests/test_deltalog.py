"""The Delta log core (``sources/deltalog.py``) with no JVM.

A Hypothesis state machine drives ``DeltaLog`` directly against an
in-memory model of one table: appends, overwrites, MERGE- and
OPTIMIZE-shaped action sets, checkpoints, a writer that crashes before
its commit is published, and VACUUM under an injected clock. Concurrent
conflicting writers are not modelled here. A second machine writes real
parquet files and checks the change feed of every commit against the
model's rows.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from collections import Counter

import pytest
from hypothesis import HealthCheck, Phase, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    invariant,
    precondition,
    rule,
)

from dbt_local_duckdb_deltalake_project_spark.sources import deltalog
from dbt_local_duckdb_deltalake_project_spark.sources.deltalog import (
    CHECKPOINT_INTERVAL,
    DeltaLog,
    Snapshot,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TICK_MS = 1_000
# the model makes thousands of tiny tables: keep them in memory if it can
_TMPFS = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None


def _dead_writer(src, dst):
    raise OSError("writer died before its commit was published")


def _metadata(now: int, fields=(), partition_columns=()) -> dict:
    """A metaData action; ``fields`` are (name, type) pairs."""
    return {"metaData": {
        "id": "model", "format": {"provider": "parquet"},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in fields
        ]}),
        "partitionColumns": list(partition_columns), "configuration": {},
        "createdTime": now,
    }}


class LogModel(RuleBasedStateMachine):
    """One writer over one table. The model keeps, per committed
    version, the live file set, the commit timestamp and the files the
    commit added; plus the data files on disk and the crash orphans."""

    def __init__(self):
        super().__init__()
        self.root = tempfile.mkdtemp(prefix="deltalog-model-", dir=_TMPFS)
        self.now = 1_700_000_000_000
        self.log = DeltaLog(self.root, clock=lambda: self.now)
        self.live: list[frozenset] = []
        self.stamps: list[int] = []
        self.added: list[set] = []
        self.on_disk: set[str] = set()
        self.orphans: dict[str, int] = {}  # path → mtime (ms)
        self.checkpoints: set[int] = set()
        self.files = 0

    def teardown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    # -- helpers ------------------------------------------------------------
    def _stage(self, k: int) -> list[dict]:
        """``k`` new data files under the root, mtime now; their adds."""
        adds = []
        for _ in range(k):
            self.files += 1
            path = f"part-{self.files:05d}.parquet"
            full = os.path.join(self.root, path)
            with open(full, "wb") as f:
                f.write(b"PAR1")
            os.utime(full, ns=(self.now * 10**6,) * 2)
            self.on_disk.add(path)
            adds.append({"add": {
                "path": path, "partitionValues": {}, "size": 4,
                "modificationTime": self.now, "dataChange": True,
            }})
        return adds

    def _commit(self, removes: set, k: int, operation: str, **extra) -> None:
        # the data files are staged two ticks before the commit publishes,
        # so only the keep set, not their age, can protect them
        self.now += TICK_MS
        adds = self._stage(k)
        self.now += 2 * TICK_MS
        actions = [deltalog.remove({"path": p}, self.now) for p in sorted(removes)]
        actions += adds
        if not self.live or operation == "OVERWRITE":
            actions.append(_metadata(self.now))
        if extra.get("txn") is not None:
            actions.append({"txn": {"appId": "model", "version": extra["txn"]}})
        version = self.log.commit(
            actions, operation, blind_append=operation == "WRITE"
        )
        assert version == len(self.live)
        new = {a["add"]["path"] for a in adds}
        prev = self.live[-1] if self.live else frozenset()
        self.live.append(frozenset((prev - removes) | new))
        self.stamps.append(self.now)
        self.added.append(new)
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            self.checkpoints.add(version)

    def _replay(self, version: int) -> Snapshot:
        """Replay from version 0, ignoring every checkpoint."""
        return Snapshot().advance(version, [
            act for v in range(version + 1) for act in self.log.read_commit(v)
        ])

    # -- rules --------------------------------------------------------------
    @rule(k=st.integers(1, 3))
    def append(self, k):
        self._commit(set(), k, "WRITE", txn=len(self.live))

    @rule(k=st.integers(0, 2))
    def overwrite(self, k):
        self._commit(set(self.live[-1]) if self.live else set(), k, "OVERWRITE")

    @precondition(lambda self: self.live and self.live[-1])
    @rule(pick=st.integers(0, 2**16), k=st.integers(0, 2))
    def merge(self, pick, k):
        # the files the MERGE rewrites: a non-empty subset of the live set
        current = sorted(self.live[-1])
        touched = {p for i, p in enumerate(current) if pick >> i & 1}
        self._commit(touched or {current[pick % len(current)]}, k, "MERGE")

    @precondition(lambda self: self.live and len(self.live[-1]) >= 2)
    @rule()
    def optimize(self):
        self._commit(set(self.live[-1]), 1, "OPTIMIZE")

    @precondition(
        lambda self: len(self.live) >= 2 and len(self.live) - 1 not in self.checkpoints
    )
    @rule()
    def checkpoint(self):
        snap = self.log.snapshot()
        self.log.write_checkpoint(snap)
        self.checkpoints.add(snap.version)

    @rule(k=st.integers(1, 2))
    def crash_before_publish(self, k):
        self.now += TICK_MS
        adds = self._stage(k)
        self.orphans.update((a["add"]["path"], self.now) for a in adds)
        link, os.link = os.link, _dead_writer
        try:
            with pytest.raises(OSError, match="writer died"):
                self.log.commit(adds, "WRITE", blind_append=True)
        finally:
            os.link = link

    @precondition(lambda self: self.live)
    @rule(waited=st.integers(0, 5), retention=st.integers(0, 6))
    def vacuum(self, waited, retention):
        self.now += waited * TICK_MS
        cutoff = self.now - retention * TICK_MS
        v_cut = max((v for v, ts in enumerate(self.stamps) if ts <= cutoff),
                    default=-1)
        readable = set().union(*self.live[max(v_cut, 0):])
        keep = set().union(
            self.live[v_cut] if v_cut >= 0 else set(), *self.added[v_cut + 1:]
        )
        young = {p for p, ts in self.orphans.items() if ts >= cutoff}
        deleted = set(self.log.vacuum(retention * TICK_MS, now_ms=self.now))
        assert deleted == self.on_disk - keep - young
        # never a file live at the cutoff version or any later version
        assert not deleted & readable
        # a crash leaves only files the next VACUUM past retention reclaims
        assert not {p for p, ts in self.orphans.items() if ts < cutoff} - deleted
        self.on_disk -= deleted
        self.orphans = {p: ts for p, ts in self.orphans.items() if p not in deleted}

    @precondition(lambda self: self.live)
    @rule(pick=st.integers(0, 2**16))
    def replay_from_checkpoint_equals_replay_from_zero(self, pick):
        version = pick % len(self.live)
        fresh = DeltaLog(self.root).snapshot(version)  # starts at a checkpoint
        full = self._replay(version)
        assert set(fresh.adds) == set(full.adds) == self.live[version]
        assert (fresh.metadata or {}).get("schemaString") == (
            full.metadata or {}
        ).get("schemaString")
        assert fresh.txns == full.txns
        # no file is both live and removed: each live path's newest
        # action through ``version`` is its add
        newest = {}
        for v in range(version + 1):
            for act in self.log.read_commit(v):
                for kind in ("add", "remove"):
                    if kind in act:
                        newest[act[kind]["path"]] = kind
        assert {p for p, kind in newest.items() if kind == "add"} == set(full.adds)

    # -- invariants ---------------------------------------------------------
    @invariant()
    def latest_snapshot_matches_model(self):
        live = set(self.log.snapshot().adds)
        assert live == (set(self.live[-1]) if self.live else set())
        # a failed publish leaves no staged commit in the log
        if os.path.isdir(self.log.log_dir):
            assert not [
                f for f in os.listdir(self.log.log_dir) if f.startswith(".tmp-")
            ]


LogModel.TestCase.settings = settings(
    max_examples=2000,
    stateful_step_count=8,
    deadline=None,
    database=None,
    phases=[Phase.generate],
    suppress_health_check=[HealthCheck.too_slow],
)
TestLogModel = LogModel.TestCase


def test_vacuum_removes_the_partition_dirs_it_empties(tmp_path):
    # Delta's VACUUM removes the col=value/ directories it empties; an
    # empty directory newer than the cutoff (a writer about to move a
    # file in) stays
    import time

    log = DeltaLog(str(tmp_path / "t"))

    def stage(rel):
        full = os.path.join(log.root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(b"PAR1")
        return {"add": {"path": rel, "partitionValues": {}, "size": 4,
                        "modificationTime": 0, "dataChange": True}}

    log.commit([stage("p=1/part-a.parquet"), stage("p=2/part-b.parquet"),
                stage("q=1/r=2/part-c.parquet")])
    log.commit([deltalog.remove({"path": "p=1/part-a.parquet"}, 0),
                deltalog.remove({"path": "q=1/r=2/part-c.parquet"}, 0)])
    future = int(time.time() * 1000) + 60_000
    assert log.vacuum(retention_ms=0, now_ms=future) == [
        "p=1/part-a.parquet", "q=1/r=2/part-c.parquet",
    ]
    assert sorted(os.listdir(log.root)) == ["_delta_log", "p=2"]
    os.makedirs(os.path.join(log.root, "p=3"))
    log.vacuum(retention_ms=60_000)
    assert sorted(os.listdir(log.root)) == ["_delta_log", "p=2", "p=3"]


def test_deltalog_imports_no_pyspark():
    # the log core must stay importable where PySpark is not (a Python
    # worker, the model test): a fresh interpreter imports no pyspark
    code = (
        "import sys\n"
        "import dbt_local_duckdb_deltalake_project_spark.sources.deltalog\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    ).stdout
    assert out.strip().splitlines()[-1] == "[]"


def test_change_readers_skip_a_commit_that_only_rearranges_data(tmp_path, monkeypatch):
    # PROTOCOL.md: a dataChange false commit (OPTIMIZE) only rearranges
    # rows, so the append tail and the change feed return none of its
    # rows and open none of its files
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    log = DeltaLog(root)

    def stage(name, keys, data_change=True):
        pq.write_table(pa.table({"k": keys}), os.path.join(root, name))
        return {"add": {"path": name, "partitionValues": {}, "size": 4,
                        "modificationTime": 0, "dataChange": data_change}}

    os.makedirs(root)
    log.commit([stage("a.parquet", [1]), _metadata(0, [("k", "long")])], "WRITE")
    log.commit([stage("b.parquet", [2])], "WRITE", blind_append=True)
    log.commit([
        {"remove": {"path": p, "deletionTimestamp": 0, "dataChange": False}}
        for p in ("a.parquet", "b.parquet")
    ] + [stage("c.parquet", [1, 2], data_change=False)], "OPTIMIZE")
    opened = []
    real_rows = deltalog.rows
    monkeypatch.setattr(
        deltalog, "rows",
        lambda r, snap, files: opened.extend(f["path"] for f in files)
        or real_rows(r, snap, files),
    )
    snap = log.snapshot()
    assert deltalog.appended_rows(root, 1, snap) == [(2,)]
    assert opened == ["b.parquet"]
    opened.clear()
    assert deltalog.appended_rows(root, 2, snap) == []
    assert deltalog.change_diff(root, 2, snap) == []
    assert opened == []


def test_change_diff_classifies_rows_by_key(tmp_path):
    # Delta's legacy change feed of a copy-on-write commit: the multiset
    # diff of the rows of the files it removed and added, keyed by the
    # first column. An unchanged row yields nothing, a changed row an
    # update pre-image/post-image pair, a new key an insert, and a key
    # that only vanished a delete.
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    log = DeltaLog(root)

    def add(name, keys, vals):
        pq.write_table(pa.table({"k": keys, "v": vals}), os.path.join(root, name))
        return {"add": {"path": name, "partitionValues": {}, "size": 4,
                        "modificationTime": 0, "dataChange": True}}

    def rm(name):
        return {"remove": {"path": name, "deletionTimestamp": 0, "dataChange": True}}

    os.makedirs(root)
    meta = _metadata(0, [("k", "long"), ("v", "string")])
    log.commit([add("a.parquet", [1, 2], ["x", "y"]), meta], "WRITE")
    log.commit([rm("a.parquet"), add("b.parquet", [1, 2, 3], ["x", "Y", "z"])], "MERGE")
    log.commit([rm("b.parquet"), add("c.parquet", [1], ["x"])], "DELETE")
    snap = log.snapshot()
    assert deltalog.change_diff(root, 1, snap) == [
        (1, "update_postimage", 2, "Y"),
        (1, "insert", 3, "z"),
        (1, "update_preimage", 2, "y"),
    ]
    assert deltalog.change_diff(root, 2, snap) == [
        (2, "delete", 2, "Y"),
        (2, "delete", 3, "z"),
    ]


def test_change_feed_reports_a_dv_delete_at_its_own_version(tmp_path):
    # a DV delete re-adds its file with a deletionVector and removes the
    # add it retires, DV included: its feed is the delete, and the
    # copy-on-write rewrite after it reads the file under that DV, so
    # it does not report the delete again
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    os.makedirs(root)
    log = DeltaLog(root)
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
                   os.path.join(root, "a.parquet"))
    pq.write_table(pa.table({"k": [1, 3], "v": ["A", "c"]}),
                   os.path.join(root, "b.parquet"))
    a = {"path": "a.parquet", "partitionValues": {}, "size": 4,
         "modificationTime": 0, "dataChange": True}
    b = {**a, "path": "b.parquet"}
    log.commit([{"add": a}, _metadata(0, [("k", "long"), ("v", "string")])])
    a_dv = {**a, "deletionVector": deltalog.store_dv(root, [1])}
    log.commit([deltalog.remove(a, 0), {"add": a_dv}], "DELETE")
    log.commit([deltalog.remove(a_dv, 0), {"add": b}], "MERGE")
    snap = log.snapshot()
    assert deltalog.change_diff(root, 1, snap) == [(1, "delete", 2, "b")]
    assert deltalog.change_diff(root, 2, snap) == [
        (2, "update_postimage", 1, "A"),
        (2, "update_preimage", 1, "a"),
    ]
    assert deltalog.rows(root, snap, list(snap.adds.values())) == [
        (1, "A"), (3, "c"),
    ]


class ChangeFeedModel(RuleBasedStateMachine):
    """One table of real parquet files, partitioned by ``p`` (values that
    need escaping and NULL included), under appends, DV deletes,
    copy-on-write rewrites and OPTIMIZE. The model keeps each live file's
    rows and deleted row indexes; after every commit, ``change_diff`` must
    equal the multiset diff of the model's visible rows, classified by
    key."""

    FIELDS = [("k", "long"), ("v", "string"), ("p", "string")]

    def __init__(self):
        super().__init__()
        self.root = tempfile.mkdtemp(prefix="deltalog-feed-", dir=_TMPFS)
        self.log = DeltaLog(self.root)
        self.live: dict[str, tuple[dict, list, frozenset]] = {}  # add, rows, dead
        self.files = 0

    def teardown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def _visible(self) -> Counter:
        return Counter(
            r for _, rows, dead in self.live.values()
            for i, r in enumerate(rows) if i not in dead
        )

    def _write(self, rows: list, data_change: bool = True) -> list[dict]:
        """``rows`` as one file per partition; their adds (the model's
        live set is updated by ``_commit``)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        adds = []
        for p in sorted({r[2] for r in rows}, key=str):
            part = [r for r in rows if r[2] == p]
            self.files += 1
            path = f"part-{self.files:05d}.parquet"
            pq.write_table(
                pa.table({"k": pa.array([r[0] for r in part], pa.int64()),
                          "v": pa.array([r[1] for r in part], pa.string())}),
                os.path.join(self.root, path),
            )
            add = {"path": path, "partitionValues": {"p": p}, "size": 4,
                   "modificationTime": 0, "dataChange": data_change}
            self.live[path] = (add, part, frozenset())
            adds.append({"add": add})
        return adds

    def _commit(self, actions: list[dict], before: Counter) -> None:
        if self.log.latest_version < 0:
            actions.append(_metadata(0, self.FIELDS, ["p"]))
        version = self.log.commit(actions)
        after = self._visible()
        appeared, vanished = after - before, before - after
        app_keys, van_keys = {r[0] for r in appeared}, {r[0] for r in vanished}
        expected = Counter()
        for r, n in appeared.items():
            expected[(version, "update_postimage" if r[0] in van_keys else "insert", *r)] += n
        for r, n in vanished.items():
            expected[(version, "update_preimage" if r[0] in app_keys else "delete", *r)] += n
        got = deltalog.change_diff(self.root, version, self.log.snapshot())
        assert Counter(got) == expected

    def _retire(self, paths, data_change: bool = True) -> list[dict]:
        return [
            deltalog.remove(self.live.pop(p)[0], 0, data_change) for p in paths
        ]

    rows_ = st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b"]),
                  st.sampled_from(["x", "x:y z", None])),
        min_size=1, max_size=6,
    )

    @rule(rows=rows_)
    def append(self, rows):
        before = self._visible()
        self._commit(self._write(rows), before)

    @precondition(lambda self: self.live)
    @rule(pick=st.integers(0, 2**16), mask=st.integers(1, 2**6 - 1))
    def dv_delete(self, pick, mask):
        before = self._visible()
        path = sorted(self.live)[pick % len(self.live)]
        add, rows, dead = self.live[path]
        new = dead | {i for i in range(len(rows)) if mask >> i & 1}
        if new == dead:
            return
        retired = self._retire([path])
        add = {**add, "dataChange": True,
               "deletionVector": deltalog.store_dv(self.root, sorted(new))}
        self.live[path] = (add, rows, frozenset(new))
        self._commit(retired + [{"add": add}], before)

    @precondition(lambda self: self.live)
    @rule(pick=st.integers(1, 2**16), drop=st.integers(0, 5), bump=st.integers(0, 5))
    def rewrite(self, pick, drop, bump):
        # a MERGE/DELETE-shaped copy-on-write: a subset of the files is
        # rewritten without the rows of key ``drop`` and with key
        # ``bump``'s values changed
        before = self._visible()
        current = sorted(self.live)
        touched = [p for i, p in enumerate(current) if pick >> i & 1] or current[:1]
        kept = [
            (k, v + "'" if k == bump else v, p)
            for path in touched
            for i, (k, v, p) in enumerate(self.live[path][1])
            if i not in self.live[path][2] and k != drop
        ]
        retired = self._retire(touched)
        self._commit(retired + (self._write(kept) if kept else []), before)

    @precondition(lambda self: len(self.live) >= 2)
    @rule()
    def optimize(self):
        before = self._visible()
        rows = [r for r, n in before.items() for _ in range(n)]
        retired = self._retire(sorted(self.live), data_change=False)
        self._commit(retired + self._write(rows, data_change=False), before)


ChangeFeedModel.TestCase.settings = settings(
    max_examples=300,
    stateful_step_count=8,
    deadline=None,
    database=None,
    phases=[Phase.generate],
    suppress_health_check=[HealthCheck.too_slow],
)
TestChangeFeedModel = ChangeFeedModel.TestCase
