"""Local stand-in for the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle at sf0.01, compare row count, column
names, and an order-insensitive value hash (columns sorted by name).
Each query's build and collect run under one Spark job group; its line
reports the group's job count (``jobs=``).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

from databricks_pdf_ocr_spark.queries import QUERIES, TABLES
from databricks_pdf_ocr_spark.session import get_spark


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = f"{v:.6f}"
            elif isinstance(v, bool):
                v = str(int(v))
            vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return hashlib.sha256("\x02".join(out).encode()).hexdigest()[:16], len(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]", app_name="oracle-check",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{sf_dir}/{t}.parquet')")
    sc = spark.sparkContext
    failures = []
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        group = f"oracle-{name}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            sdf = spec["fn"](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        if spec["sql"] is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows) "
                  f"jobs={n_jobs} [{time.time()-t0:.1f}s]")
            if len(srows) == 0 and name != "expected_empty":
                print(f"WARN {name}: zero rows")
            continue
        try:
            res = con.execute(spec["sql"])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sh, sn = normalize(srows, scols)
        dh, dn = normalize(drows, dcols)
        status = "PASS" if (sh == dh and sorted(scols) == sorted(dcols)) else "FAIL"
        print(f"{status} {name}: spark={sn} duck={dn} "
              f"hash {'==' if sh == dh else f'{sh}!={dh}'} "
              f"cols {'==' if sorted(scols)==sorted(dcols) else f'{scols} vs {dcols}'} "
              f"jobs={n_jobs} [{time.time()-t0:.1f}s]")
        if status == "FAIL":
            failures.append(name)
            # show a few differing rows for debugging
            sset = {normalize([r], scols)[0] for r in srows[:2000]}
            dset = {normalize([r], dcols)[0] for r in drows[:2000]}
            for r in srows[:2000]:
                if normalize([r], scols)[0] not in dset:
                    print(f"  spark-only: {r}")
                    break
            for r in drows[:2000]:
                if normalize([r], dcols)[0] not in sset:
                    print(f"  duck-only : {r}")
                    break
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
