"""``workspace.staged`` with no JVM: the fast path, rename publication
between two processes, a failing build and a fixture change mid-build.

Each test points ``WORK_ROOT`` at its own temporary directory and uses a
fixture dir of fake ``.parquet`` files: the fingerprint only reads their
names, sizes and mtimes.
"""

from __future__ import annotations

import multiprocessing
import os

import pytest

from dbt_local_duckdb_deltalake_project_spark.sources import workspace

_PARTS = 20


@pytest.fixture()
def sf_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(workspace, "WORK_ROOT", str(tmp_path / "work"))
    d = tmp_path / "sf_test"
    d.mkdir()
    (d / "orders.parquet").write_bytes(b"rows")
    return str(d)


def _write_parts(path: str, owner: str) -> None:
    for i in range(_PARTS):
        with open(os.path.join(path, f"part-{i:02d}"), "w") as fh:
            fh.write(owner)


def _siblings(path: str) -> list[str]:
    return [f for f in os.listdir(os.path.dirname(path)) if f.startswith(".tmp-")]


def test_current_stamp_never_calls_build(sf_dir):
    builds = []

    def build(path):
        builds.append(path)
        _write_parts(path, "one")

    path = workspace.staged(sf_dir, "t", build)

    def must_not_run(path):
        raise AssertionError("a current stamp must not rebuild")

    assert workspace.staged(sf_dir, "t", must_not_run) == path
    assert len(builds) == 1
    assert len(os.listdir(path)) == _PARTS + 1  # the parts and the stamp


def _stage_in_child(work_root, sf_dir, barrier, out):
    workspace.WORK_ROOT = work_root

    def build(path):
        barrier.wait(timeout=60)  # both processes are mid-build
        _write_parts(path, str(os.getpid()))

    out.put(workspace.staged(sf_dir, "t", build))


def test_two_processes_publish_exactly_one_build(sf_dir):
    # A stale directory from an older fixture is in place; both
    # processes see it, both build, and the published directory holds
    # one complete build with the current stamp.
    stale = os.path.join(workspace.WORK_ROOT, "sf_test", "t")
    os.makedirs(stale)
    _write_parts(stale, "stale")
    with open(os.path.join(stale, ".fixture_fp"), "w") as fh:
        fh.write("an older fixture")

    ctx = multiprocessing.get_context("spawn")
    barrier, out = ctx.Barrier(2), ctx.Queue()
    procs = [
        ctx.Process(
            target=_stage_in_child,
            args=(workspace.WORK_ROOT, sf_dir, barrier, out),
        )
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    paths = [out.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    assert paths == [stale, stale]
    owners = set()
    for i in range(_PARTS):
        with open(os.path.join(stale, f"part-{i:02d}")) as fh:
            owners.add(fh.read())
    assert len(owners) == 1 and owners < {str(p.pid) for p in procs}
    assert len(os.listdir(stale)) == _PARTS + 1
    with open(os.path.join(stale, ".fixture_fp")) as fh:
        assert fh.read() == workspace.fixture_fingerprint(sf_dir)
    assert _siblings(stale) == []


def test_failed_build_publishes_nothing(sf_dir):
    def build(path):
        _write_parts(path, "half")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        workspace.staged(sf_dir, "t", build)
    path = os.path.join(workspace.WORK_ROOT, "sf_test", "t")
    assert not os.path.exists(path)
    assert _siblings(path) == []


def test_fixture_touched_during_build_restages(sf_dir):
    # The stamp is the fingerprint taken before the build, so a fixture
    # regenerated while the build read it leaves a stale stamp.
    builds = []
    fixture = os.path.join(sf_dir, "orders.parquet")

    def build(path):
        builds.append(path)
        if len(builds) == 1:
            st = os.stat(fixture)
            os.utime(fixture, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        _write_parts(path, str(len(builds)))

    path = workspace.staged(sf_dir, "t", build)
    assert workspace.staged(sf_dir, "t", build) == path
    assert len(builds) == 2
    with open(os.path.join(path, "part-00")) as fh:
        assert fh.read() == "2"
    assert workspace.staged(sf_dir, "t", build) == path
    assert len(builds) == 2
    assert _siblings(path) == []
