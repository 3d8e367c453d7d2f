"""Extraction benchmark: one workload, one seed, one closed loop.

Run from the repository root:

    python3 extractbench/run.py --workload extract_full --seed 1 \\
        --seconds 5 --trace 0

The last stdout line is the result object (``correct``, ``attempted``,
``failed``, ``metrics``).  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` is a separate traced run that reports the per-layer
metrics.  See ``extractbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

#: ``local[k]`` parallelism: never more than the cores this process may use
MAX_CORES = 4
SETUP_PASSES = 3
#: timed operations per run.  The first runs JIT-cold, two to three times
#: slower than the next, so the median is a warm one.
MIN_REPS = 3
#: ``host.speed_probe_s`` midway between a quiet (0.11 s) and a busy
#: (0.19 s) minute of the 4-core host this was tuned on.  CPU and set-up
#: time are scaled by this over the median of the probes taken before
#: every set-up pass and every repetition: the host's speed swings by up
#: to 1.6x between quarter-hours with the load of its other tenants, and
#: the probe swings with it.
REF_PROBE_S = 0.15
#: maximum driver heap.  The heap starts small and grows on demand, so
#: ``peak_rss_mb`` follows what the operations allocate.  (``get_spark``
#: defaults to 8g; 2g is ample for this corpus on a shared host.)
DRIVER_MEMORY = "2g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_full", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def summarize(values: list[float], higher_is_better: bool) -> dict:
    """Median, the worst-side percentile with at least ten samples beyond
    it (None below 11 samples), and the sample count."""
    out = {"median": statistics.median(values), "n": len(values),
           "tail_pct": None, "tail": None}
    n = len(values)
    if n >= 11:
        pct = math.floor(100 * (n - 10) / n)
        qs = statistics.quantiles(values, n=100, method="inclusive")
        out["tail_pct"] = pct
        out["tail"] = qs[100 - pct - 1] if higher_is_better else qs[pct - 1]
    return out


class Bench:
    """One benchmark invocation: JVM, set-up passes, timed loop."""

    def __init__(self, workload: str, seed: int, cores: int, work: str):
        from extractbench.workloads import WORKLOADS

        self.seed = seed
        self.cores = cores
        self.work = work
        self.wl = WORKLOADS[workload](work, cores, seed)
        self.spark = None
        self.probes: list[float] = []   # host.speed_probe_s, untimed

    # -- session ---------------------------------------------------------

    def _conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        return {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                # fixed compiler threads, so none exits with its CPU time
                # uncounted by ``host.tree_cpu_s``
                "-XX:-UseDynamicNumberOfCompilerThreads "
                # C1 only: the JVM reaches its steady state within one
                # operation instead of compiling with C2 for minutes
                "-XX:TieredStopAtLevel=1 "
                # room for every generated class, so the code cache
                # sweeper never flushes and recompiles mid-run
                "-XX:ReservedCodeCacheSize=256m "
                # heap growth follows allocation, not GC timing
                "-XX:+UseSerialGC",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
        }

    def launch_jvm(self) -> float:
        """Start the gateway JVM once; set-up passes reuse it."""
        from pyspark import SparkConf, SparkContext

        t0 = time.perf_counter()
        conf = SparkConf().set("spark.driver.memory", DRIVER_MEMORY)
        for k, v in self._conf().items():
            conf.set(k, v)
        SparkContext._ensure_initialized(conf=conf)
        return time.perf_counter() - t0

    def start_session(self, cores: int):
        from databricks_pdf_ocr_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            master=f"local[{cores}]", app_name="extractbench",
            shuffle_partitions=cores, driver_memory=DRIVER_MEMORY,
            extra_conf=self._conf())
        if self.wl.entry == "run_job":
            # the scan-split settings jobs/extract.py:main applies
            self.spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
            self.spark.conf.set("spark.sql.files.openCostInBytes", "1m")
            self.spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # spawn the Python workers and load the kernel in them
        def warm(batches):
            import databricks_pdf_ocr_spark.functions.extract_span  # noqa: F401
            yield from batches
        self.spark.range(cores * 4, numPartitions=cores) \
            .mapInPandas(warm, schema="id long").count()
        return self.spark

    # -- set-up ------------------------------------------------------------

    def reference(self) -> float:
        """The expected outputs for the seed, computed once, untimed."""
        from extractbench import corpus

        t0 = time.perf_counter()
        self.rows = corpus.generate(self.seed)
        self.wl.reference(self.rows)
        return time.perf_counter() - t0

    def setup_pass(self) -> float:
        """Session start, Python-worker warm-up, input generation and
        state preparation: the same work on every pass."""
        from extractbench import corpus, host

        self.probes.append(host.speed_probe_s(self.cores))
        t0 = time.perf_counter()
        spark = self.start_session(self.cores)
        shutil.rmtree(self.wl.input, ignore_errors=True)
        corpus.write_documents(corpus.generate(self.seed), self.wl.input)
        self.wl.prepare(spark)
        return time.perf_counter() - t0

    # -- timed loop --------------------------------------------------------

    def warm_up(self) -> float:
        """One untimed operation (the traced run's); returns its wall time."""
        self.wl.before_rep()
        t0 = time.perf_counter()
        self.wl.run(self.spark)
        return time.perf_counter() - t0

    def timed_loop(self, seconds: float, min_reps: int = MIN_REPS) -> list[dict]:
        """Closed loop: one operation at a time, the next starts when the
        previous one (and its untimed output check) has finished."""
        from extractbench import host

        reps = []
        end = time.perf_counter() + seconds
        while len(reps) < min_reps or time.perf_counter() < end:
            self.wl.before_rep()
            self.probes.append(host.speed_probe_s(self.cores))
            host.reset_peak_rss()
            (cpu0, jit0), t0 = host.tree_cpu_s(), time.perf_counter()
            try:
                stats, error = self.wl.run(self.spark), None
            except Exception as e:  # noqa: BLE001 — counted as failed
                stats, error = None, f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
            cpu, jit = host.tree_cpu_s()
            rep = {"wall_s": wall, "cpu_s": cpu - cpu0 - (jit - jit0),
                   "jit_cpu_s": jit - jit0,
                   "peak_rss_mb": host.peak_rss_mb(),
                   "error": error, "stats": stats}
            if error is None:
                rep["check"] = self.wl.check(stats)
            else:
                print(f"repetition failed: {error}", file=sys.stderr)
            reps.append(rep)
        return reps


def end_to_end(reps: list[dict], n_docs: int, setup: list[float],
               probes: list[float]) -> dict:
    ok = [r for r in reps if r["error"] is None]
    scale = REF_PROBE_S / statistics.median(probes)
    values = {
        "docs_per_s": ([n_docs / r["wall_s"] for r in ok], True),
        "cpu_s_per_kdoc": ([r["cpu_s"] * scale * 1000 / n_docs for r in ok],
                           False),
        "cpu_s_per_kdoc_unscaled": ([r["cpu_s"] * 1000 / n_docs for r in ok],
                                    False),
        "peak_rss_mb": ([r["peak_rss_mb"] for r in ok], False),
        "setup_s": ([s * scale for s in setup], False),
        "setup_s_unscaled": (setup, False),
    }
    return {k: summarize(v, hib) for k, (v, hib) in values.items() if v}


#: the reported end-to-end metrics.  ``docs_per_s`` is summarized in the
#: detail line only: wall time on a shared host swings too much between
#: minute-long runs for it to be compared run against run.
METRIC_UNITS = {"cpu_s_per_kdoc": "s", "peak_rss_mb": "MB", "setup_s": "s"}


def main(argv=None) -> int:
    started = time.perf_counter()
    args = _parse(argv)
    try:
        import databricks_pdf_ocr_spark  # noqa: F401
        import jobs.curate  # noqa: F401
        import jobs.extract  # noqa: F401
        import tools.goldens  # noqa: F401
    except ImportError as e:
        print(f"extractbench: run from the repository root ({e})",
              file=sys.stderr)
        return 2
    from extractbench import host

    stray = host.stray_jvms()
    if stray:
        print("extractbench: refusing to start, other JVMs are running:\n  "
              + "\n  ".join(stray), file=sys.stderr)
        return 3
    cores = min(MAX_CORES, host.usable_cores())
    work = os.path.join(ROOT, ".extractbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])

    from extractbench import corpus

    if args.trace:
        from jobs.bench_scaling import hw_calibration
        ceiling_before = hw_calibration(1, cores)
    bench = Bench(args.workload, args.seed, cores, work)
    detail = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "reference_s": bench.reference(),
              "shape": {**corpus.shape(bench.rows), **bench.wl.shape}}
    try:
        detail["jvm_launch_s"] = bench.launch_jvm()
        # the traced run reports no set-up time, so it sets up once
        setup = [bench.setup_pass()
                 for _ in range(1 if args.trace else SETUP_PASSES)]
        n_docs = bench.wl.n_docs
        if args.trace:
            from extractbench import trace
            metrics, reps, extra = trace.traced_run(bench, args.seconds, started)
            detail.update(extra)
        else:
            reps = bench.timed_loop(args.seconds)
            summary = end_to_end(reps, n_docs, setup, bench.probes)
            detail["end_to_end"] = summary
            metrics = {k: {"value": summary[k]["median"],
                           "unit": METRIC_UNITS[k]} for k in METRIC_UNITS}
    finally:
        host.stop_spark_jvm()
    if args.trace:
        metrics["host.hw_ceiling_before"]["value"] = ceiling_before
        metrics["host.hw_ceiling_after"]["value"] = hw_calibration(1, cores)

    checks = [r.get("check") for r in reps]
    detail["reps"] = [{
        "wall_s": r["wall_s"], "cpu_s": r["cpu_s"],
        "jit_cpu_s": r.get("jit_cpu_s"),
        "peak_rss_mb": r["peak_rss_mb"], "error": r["error"],
        **({"mismatched_docs": c.mismatched_docs,
            "failed_spans": c.failed_spans, "spans_in": c.spans_in,
            "ref_failed_spans": c.ref_failed_spans,
            "ref_spans_in": c.ref_spans_in} if c else {})}
        for r, c in zip(reps, checks)]
    detail["setup_passes_s"] = setup
    detail["speed_probes_s"] = bench.probes
    attempted = sum(c.docs if c else n_docs for c in checks)
    failed = sum(c.mismatched_docs if c else n_docs for c in checks)
    correct = all(c is not None and c.ok for c in checks)
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
