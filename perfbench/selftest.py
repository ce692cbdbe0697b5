#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout. Checks, without Spark, that the seed
fixes the generated inputs: the same seed gives the same op order and
change batches, another seed does not. Checks that the benchmark exits
non-zero, without a result, next to no engine package. Then runs every
workload in a tiny form (sf0.001, one pass) untraced and traced, and
checks that each run passes its correctness check and prints every
metric of BENCHMARK.json with its unit. The tiny runs bootstrap their
own fixtures, which takes a few minutes the first time.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TINY_SF = "0.001"


def check_seeding() -> None:
    import pandas as pd

    from perfbench import fixtures, workloads

    ops = workloads.ANALYST_OPS
    assert fixtures.op_order(ops, 1, 3) == fixtures.op_order(ops, 1, 3)
    assert fixtures.op_order(ops, 1, 3) != fixtures.op_order(ops, 2, 3)

    tables = fixtures.base_tables(float(TINY_SF))
    again = fixtures.base_tables(float(TINY_SF))
    assert all(t.equals(again[n]) for n, t in tables.items())
    orders = tables["orders"].to_pandas()

    def batches(seed: int, landed=None) -> list[pd.DataFrame]:
        src = fixtures.BatchSource(orders, seed, landed)
        return [src.next_batch(b, 100) for b in range(3)]

    same, again, other = batches(1), batches(1), batches(2)
    assert all(a.equals(b) for a, b in zip(same, again))
    assert not all(a.equals(b) for a, b in zip(same, other))
    # a resumed source continues the keys and the arrival order
    landed = pd.concat(same)
    nxt = batches(1, landed)[0]
    assert nxt["_seq"].min() == landed["_seq"].max() + 1
    new_keys = set(nxt["o_orderkey"]) - set(landed["o_orderkey"])
    assert min(new_keys) == landed["o_orderkey"].max() + 1
    print("selftest: seeding ok")


def check_bare_directory() -> None:
    """Without the engine package the benchmark must fail, printing no result."""
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "analyst_sql",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0, p.stdout
    assert '"metrics"' not in p.stdout, p.stdout
    print("selftest: bare directory fails as it should")


def check_tiny_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", workload["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--sf", TINY_SF,
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=1500)
            what = f"{workload['name']} --trace {trace}"
            assert p.returncode == 0, f"{what}: exit {p.returncode}\n{p.stdout[-3000:]}"
            out = json.loads(p.stdout.strip().splitlines()[-1])
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, f"{what}: metrics {sorted(got)} != {sorted(want)}"
            if not trace:
                zero = [k for k, v in out["metrics"].items() if not v["value"] > 0]
                assert not zero, f"{what}: end-to-end metrics at 0: {zero}"
            print(f"selftest: {what} ok")


if __name__ == "__main__":
    check_seeding()
    check_bare_directory()
    check_tiny_runs()
    print("selftest: all passed")
