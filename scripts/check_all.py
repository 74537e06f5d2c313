"""Driver-contract sweep: run registry entries against their DuckDB
oracles with the one compare in tests/oracle.py, printing one line per
entry (the first differing rows on a mismatch) and a summary. Exits 1
when any entry fails.

Usage: python scripts/check_all.py [name ...]   (default: every entry)
SPARK_GRAFT_SF_DIR picks the data (default /root/testdata/sf0.01) and
SPARK_GRAFT_CPUS sizes local[N] (default: the CPUs this process may use).
"""

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle import compare, duck_con
from vectorsearch_spark import workload
from vectorsearch_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark("check_all", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(SF)
    qs, osql = workload.queries(), workload.oracle_sql()
    bad = []
    for i, name in enumerate(sys.argv[1:] or qs):
        t0 = time.time()
        try:
            got = qs[name](spark, SF).toPandas()
            if name not in osql:
                print(f"{i:3d} {name}: rows-only rows={len(got)} ({time.time()-t0:.1f}s)", flush=True)
                continue
            v = compare(got, con.sql(osql[name]).df())
            print(
                f"{i:3d} {name}: rows={len(got)} match={v.ok} rows_match={v.rows_match} "
                f"schema_match={v.schema_match} hash_match={v.hash_match} ({time.time()-t0:.1f}s)",
                flush=True,
            )
            if not v.ok:
                print(f"  {v.detail}", flush=True)
                bad.append(name)
        except Exception as e:  # one entry's failure must not stop the sweep
            print(f"{i:3d} {name}: ERROR {type(e).__name__}: {e}", flush=True)
            traceback.print_exc()
            bad.append(name)
    print("FAILED:" if bad else "ALL GREEN", bad, flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
