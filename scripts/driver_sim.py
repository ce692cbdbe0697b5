"""Simulate the round driver: run queries() vs oracle_sql() side by side.

Usage: python scripts/driver_sim.py [qid ...]   (no args = full registry)
Env:   SIM_SF=/root/testdata/sf0.1  to run the 10x differential
       (default /root/testdata/sf0.01, the driver's correctness scale)

Canonicalization mirrors the driver's hasher quirks (see CLAUDE.md):
None/NaN/NaT fold to one sentinel, integer-valued floats render as int
strings (duckdb fetchdf turns nullable-int columns into float64), and
every value goes through str() BEFORE sorting rows so mixed-type tuples
sort consistently and "first diff" pairs related rows.
"""
import math, os, sys, time
# this checkout's root, so a sim always runs the code next to the script
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession

SF = __import__("os").environ.get("SIM_SF", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return "<NULL>"
    if v != v:  # NaN and pandas NaT
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        if v == int(v) and abs(v) < 2**63:
            return str(int(v))
        return repr(v)
    return str(v)


def main():
    qids = sys.argv[1:]
    mem = os.environ.get("SIM_DRIVER_MEM")  # e.g. "8g"
    b = (SparkSession.builder.master("local[8]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false"))
    if mem:
        b = b.config("spark.driver.memory", mem)
    spark = b.getOrCreate()
    import __spark_entry__ as mod
    qs, oracles = mod.queries(), mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        # fixture tables are single files; staged/replicated ones (e.g.
        # .work/<sf>/scale10) are Spark directory outputs — glob those
        path = f"{SF}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    todo = qids or list(qs)
    fails = []
    for qid in todo:
        t0 = time.time()
        try:
            df = qs[qid](spark, SF)
            cols = sorted(df.columns)
            rows = [tuple(canon(r[c]) for c in cols) for r in df.collect()]
            rows.sort()
            if qid not in oracles:
                print(f"{qid}: rows-mode OK ({len(rows)} rows) [{time.time()-t0:.1f}s]")
                continue
            od = con.execute(oracles[qid]).fetchdf()
            ocols = sorted(od.columns)
            orows = sorted(tuple(canon(v) for v in t_) for t_ in od[ocols].itertuples(index=False, name=None))
            if cols != ocols:
                fails.append(qid); print(f"{qid}: FAIL cols {cols} vs {ocols}")
            elif rows != orows:
                fails.append(qid)
                diff = next((i for i, (a, b) in enumerate(zip(rows, orows)) if a != b), None)
                print(f"{qid}: FAIL rows {len(rows)} vs {len(orows)}; first diff at {diff}:")
                if diff is not None:
                    print("  spark:", rows[diff], "\n  duck: ", orows[diff])
            else:
                print(f"{qid}: MATCH ({len(rows)} rows) [{time.time()-t0:.1f}s]")
        except Exception as e:
            fails.append(qid)
            print(f"{qid}: ERROR {type(e).__name__}: {str(e)[:300]}")
    print(f"\n{len(todo) - len(fails)}/{len(todo)} green; fails: {fails}")


if __name__ == "__main__":
    main()
