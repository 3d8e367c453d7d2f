"""Time both near-dup component paths on synthetic pair graphs.

``dedup.neardup_components`` labels a graph of at most
``dedup.SMALL_GRAPH_EDGES`` verified pairs on the driver (union-find,
Arrow-built labels) and a larger one by distributed frontier
propagation.  This script measures where the two cross: for each edge
count and id type it runs each path, pinned by setting the bound, in a
fresh ``local[4]`` session (2g driver heap, as the benchmark runs), and
prints wall and process-tree CPU seconds of the labelling (median of
``--reps`` calls, labels counted), the tree's peak resident set, absolute
and above its peak before the first call, and the peak of the Python
driver alone, where the driver path holds the edges and the union-find.  The graph is
disjoint chains of ``CHAIN`` edges (diameter ``CHAIN``, the frontier
loop's round count), ids ``long`` or zero-padded ``doc-%010d`` strings.
Both paths must give the same labels; a mismatch exits 1.

Usage::

    python tools/components_crossover.py --edges 1000 10000 100000 --reps 3
"""

from __future__ import annotations

import argparse
import json
import resource
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

#: edges per chain component
CHAIN = 3


def measure(edges: int, id_type: str, path: str, reps: int) -> dict:
    """One (edge count, id type, path) cell, in this process."""
    from pyspark.sql import functions as F

    from databricks_pdf_ocr_spark.operators import dedup
    from databricks_pdf_ocr_spark.session import get_spark
    from extractbench import host

    spark = get_spark(master="local[4]", app_name="components_crossover",
                      shuffle_partitions=4, driver_memory="2g")
    a = ((F.col("id") / CHAIN).cast("long") * (CHAIN + 1)
         + F.col("id") % CHAIN)
    ids = [a, a + 1]
    if id_type == "string":
        ids = [F.format_string("doc-%010d", c) for c in ids]
    pairs = (spark.range(edges, numPartitions=4)
             .select(ids[0].alias("doc_a"), ids[1].alias("doc_b"))
             .localCheckpoint())
    dedup.SMALL_GRAPH_EDGES = edges if path == "driver" else 0
    rss0 = host.peak_rss_mb()
    wall, cpu, stats = [], [], {}
    for _ in range(reps):
        c0, t0 = host.tree_cpu_s()[0], time.perf_counter()
        labels = dedup.neardup_components(pairs, stats=stats)
        n = labels.count()
        wall.append(time.perf_counter() - t0)
        cpu.append(host.tree_cpu_s()[0] - c0)
    rss = host.peak_rss_mb()
    check = labels.agg(F.bit_xor(F.xxhash64("node", "comp"))).first()[0]
    host.stop_spark_jvm()
    return {"edges": edges, "ids": id_type, "path": path,
            "wall_s": round(statistics.median(wall), 3),
            "cpu_s": round(statistics.median(cpu), 3),
            "peak_rss_mb": round(rss), "rss_rise_mb": round(rss - rss0),
            "py_peak_mb": round(resource.getrusage(
                resource.RUSAGE_SELF).ru_maxrss / 1024),
            "rounds": stats["rounds"], "labels": n, "check": check}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--edges", type=int, nargs="+",
                    default=[1_000, 10_000, 100_000])
    ap.add_argument("--ids", nargs="+", choices=["long", "string"],
                    default=["long", "string"])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--one", nargs=3, metavar=("EDGES", "IDS", "PATH"),
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.one:
        e, ids, path = args.one
        print(json.dumps(measure(int(e), ids, path, args.reps)))
        return 0

    print("| edges | ids | path | wall s | tree CPU s | peak RSS MB "
          "| RSS rise MB | Python peak MB | rounds |")
    print("|---|---|---|---|---|---|---|---|---|")
    ok = True
    for e in args.edges:
        for ids in args.ids:
            cells = []
            for path in ("driver", "frontier"):
                out = subprocess.run(
                    [sys.executable, __file__, "--reps", str(args.reps),
                     "--one", str(e), ids, path],
                    capture_output=True, text=True, check=True)
                r = json.loads(out.stdout.strip().splitlines()[-1])
                cells.append(r)
                print(f"| {e} | {ids} | {path} | {r['wall_s']} | "
                      f"{r['cpu_s']} | {r['peak_rss_mb']} | "
                      f"{r['rss_rise_mb']} | {r['py_peak_mb']} | "
                      f"{r['rounds']} |", flush=True)
            if len({(c["labels"], c["check"]) for c in cells}) != 1:
                print(f"LABELS DIFFER at {e} {ids}: {cells}", flush=True)
                ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
