"""Table IO — Iceberg when available, Parquet-directory fallback.

The north rule targets Iceberg tables; this container has no Iceberg
runtime jar (SURVEY.md §7), so ``TableIO`` presents one narrow API —
``read / append / overwrite / exists`` — with two interchangeable
backends.  Engine code never branches on the backend.

Reference analogues: ``spark.table`` scans (``processors/ocr.py:63-79``),
``df.write.mode("append").saveAsTable`` (``processors/ocr.py:192``,
``managers/state.py:42``), DDL at ``schemas.py:66-127``.

At 10^12-doc scale the results table must be partitioned so that resume,
metrics, and downstream scans prune: we partition by the checkpoint
``bucket`` column (Iceberg: identity-partition + hidden partitioning would
do the same).  Appends are atomic-enough for the resume contract because
result ids are deterministic and readers dedup on ``result_id``
(write-then-mark, dedup-on-read — SURVEY.md §4.2.3).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import arrow_table, local_frame


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog is on the classpath + configured."""
    try:
        jvm = spark._jvm  # noqa: SLF001 — capability probe only
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return spark.conf.get("spark.sql.catalog.local", None) is not None
    except Exception:
        return False


class TableIO:
    """Parquet-directory table namespace rooted at ``base_path``."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        os.makedirs(base_path, exist_ok=True)

    def path(self, name: str) -> str:
        """The table's directory.  A ``replace_table`` that crashed between
        its two renames leaves only ``<name>.bak``: it is renamed back
        here, before anything reads, writes or swaps the table."""
        p = os.path.join(self.base_path, name)
        if not os.path.isdir(p) and os.path.isdir(p + ".bak"):
            os.rename(p + ".bak", p)
        return p

    def exists(self, name: str) -> bool:
        """True only when the table holds actual data files.  A directory
        that exists but contains no parquet (e.g. every partition was
        dropped by GC/maintenance — only ``_SUCCESS`` markers remain)
        must read as absent: ``spark.read.parquet`` on it raises
        UNABLE_TO_INFER_SCHEMA, and callers already handle None."""
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        return any(f.endswith(".parquet")
                   for _, _, files in os.walk(p) for f in files)

    def read(self, name: str, schema=None) -> DataFrame | None:
        """``schema``: optional explicit (possibly partial) schema — skips
        the footer-sampling inference job, a fixed per-read driver cost
        that callers on the hot path (lineage mark) supply away.  Partition
        columns must be included when given."""
        if not self.exists(name):
            return None
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(self.path(name))

    def _check_layout(self, name: str, partition_by: list[str] | None) -> None:
        """Refuse to append a mismatched layout into an existing table.

        Mixing partitioned and non-partitioned files in one directory
        silently mis-reads depending on which file Spark samples for
        schema; tables written by a pre-partitioning version of the engine
        must be dropped (or migrated) rather than appended into.
        """
        p = self.path(name)
        if not os.path.isdir(p):
            return
        entries = os.listdir(p)
        has_root_files = any(e.endswith(".parquet") for e in entries)
        part_dirs = sorted({e.split("=", 1)[0] for e in entries
                            if "=" in e and os.path.isdir(os.path.join(p, e))})
        if partition_by and has_root_files:
            raise ValueError(
                f"table '{name}' holds non-partitioned files; cannot append "
                f"partitionBy({partition_by}) data — drop or migrate it first")
        if partition_by and part_dirs and part_dirs != sorted(partition_by):
            raise ValueError(
                f"table '{name}' is partitioned by {part_dirs}, "
                f"not {sorted(partition_by)}")
        if not partition_by and part_dirs:
            raise ValueError(
                f"table '{name}' is partitioned by {part_dirs}; cannot "
                f"append non-partitioned data — pass partition_by")

    def append(self, df: DataFrame, name: str,
               partition_by: list[str] | None = None) -> None:
        self._check_layout(name, partition_by)
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def append_rows(self, rows: list[dict], name: str, schema) -> None:
        """Append CONTROL-PLANE rows (≤ a few hundred — lineage marks,
        run summaries) without a Spark write job.

        A Spark parquet append costs ~1-2 s of fixed job/committer
        overhead even for one row; for driver-sized metadata that's pure
        tax, so the parquet backend writes a single file with pyarrow and
        an atomic rename.  Readers (``spark.read.parquet``) see one more
        part file — indistinguishable from a Spark-written append.
        """
        if not rows:
            return
        self._check_layout(name, None)
        import uuid

        import pyarrow.parquet as pq

        table = arrow_table([tuple(r[f.name] for f in schema.fields)
                             for r in rows], schema)
        p = self.path(name)
        os.makedirs(p, exist_ok=True)
        fname = f"part-drv-{uuid.uuid4().hex}.snappy.parquet"
        tmp = os.path.join(p, "." + fname + ".tmp")
        pq.write_table(table, tmp, compression="snappy")
        os.rename(tmp, os.path.join(p, fname))   # atomic on one filesystem

    def overwrite(self, df: DataFrame, name: str,
                  partition_by: list[str] | None = None) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def overwrite_partitions(self, df: DataFrame, name: str,
                             partition_by: list[str]) -> None:
        """Replace only the partitions present in ``df`` (dynamic partition
        overwrite) — the parquet analogue of Iceberg's
        overwrite-by-partition-filter; the rest of the table is untouched.

        The mode is passed as a per-write DataFrameWriter option, NOT via
        ``spark.conf`` — a session-level set would silently turn every
        later ``overwrite()`` with partitionBy into a partial overwrite.
        """
        (df.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*partition_by)
         .parquet(self.path(name)))

    def compact(self, name: str) -> dict:
        """Rewrite an append-grown table into one file — the small-files
        maintenance every streaming append sink needs
        (each micro-batch leaves a file; a year of batches leaves a
        scan with a year of footer fetches).  Content-preserving by
        construction: the staging copy is COMPLETELY written, row-count
        re-checked, then swapped in via the crash-safe
        ``replace_table`` two-rename hop (a crash leaves the original
        or its ``.bak``, which ``path`` restores, never a mix)."""
        df = self.read(name)
        if df is None:
            return {"files_before": 0, "files_after": 0, "rows": 0}
        before = sum(len(fs) for _, _, fs in os.walk(self.path(name)))
        n_rows = df.count()
        staging = name + "__compacting"
        self.overwrite(df.coalesce(1), staging)
        if self.read(staging).count() != n_rows:
            raise RuntimeError(f"compaction row-count mismatch on {name}")
        self.replace_table(staging, name)
        after = sum(len(fs) for _, _, fs in os.walk(self.path(name)))
        return {"files_before": before, "files_after": after,
                "rows": int(n_rows)}

    def drop(self, name: str) -> None:
        shutil.rmtree(self.path(name), ignore_errors=True)

    def drop_partitions(self, name: str, partition_col: str,
                        values: list) -> None:
        """Delete whole partitions (maintenance ops).  Needed because
        DYNAMIC partition overwrite cannot express "this partition is now
        EMPTY" — it only replaces partitions present in the written data,
        so a fully-garbage-collected partition would silently survive."""
        for v in values:
            shutil.rmtree(os.path.join(self.path(name),
                                       f"{partition_col}={v}"),
                          ignore_errors=True)

    def replace_table(self, src: str, dst: str) -> None:
        """Swap a fully-written table over an existing one (compaction
        commit step).  Parquet backend: two directory renames with a
        ``.bak`` hop — a crash between them leaves the original as
        ``<dst>.bak``, which the next ``path(dst)`` renames back, never a
        half-written mix (the src snapshot is written COMPLETELY before
        this is called)."""
        p_src, p_dst = self.path(src), self.path(dst)
        bak = p_dst + ".bak"
        shutil.rmtree(bak, ignore_errors=True)
        if os.path.isdir(p_dst):
            os.rename(p_dst, bak)
        os.rename(p_src, p_dst)
        shutil.rmtree(bak, ignore_errors=True)


class IcebergTableIO(TableIO):
    """Iceberg-backed variant (same API) for clusters with the runtime jar.

    Uses DataFrameWriterV2 (``writeTo``): ``createOrReplace`` for
    overwrite, ``append`` for append — the Iceberg-native replacements for
    the reference's ``saveAsTable`` calls (SURVEY.md §2.1 S5/S6).
    """

    def __init__(self, spark: SparkSession, namespace: str = "local.engine"):
        self.spark = spark
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")

    def path(self, name: str) -> str:  # identifier, not a filesystem path
        return f"{self.namespace}.{name}"

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self.path(name))

    def read(self, name: str, schema=None) -> DataFrame | None:
        if not self.exists(name):
            return None
        return self.spark.table(self.path(name))  # catalog owns the schema

    def append(self, df: DataFrame, name: str,
               partition_by: list[str] | None = None) -> None:
        if not self.exists(name):
            w = df.writeTo(self.path(name))
            if partition_by:
                from pyspark.sql import functions as F
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.create()
        else:
            df.writeTo(self.path(name)).append()

    def append_rows(self, rows: list[dict], name: str, schema) -> None:
        # Iceberg commits go through the catalog — no direct-file shortcut
        if not rows:
            return
        self.append(local_frame(
            self.spark, [tuple(r[f.name] for f in schema.fields)
                         for r in rows], schema), name)

    def overwrite(self, df: DataFrame, name: str,
                  partition_by: list[str] | None = None) -> None:
        w = df.writeTo(self.path(name))
        if partition_by:
            from pyspark.sql import functions as F
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    def overwrite_partitions(self, df: DataFrame, name: str,
                             partition_by: list[str]) -> None:
        if not self.exists(name):
            self.append(df, name, partition_by=partition_by)
        else:
            df.writeTo(self.path(name)).overwritePartitions()

    def drop(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.path(name)}")

    def drop_partitions(self, name: str, partition_col: str,
                        values: list) -> None:
        if not values:
            return
        vals = ", ".join(repr(v) for v in values)
        self.spark.sql(f"DELETE FROM {self.path(name)} "
                       f"WHERE {partition_col} IN ({vals})")

    def replace_table(self, src: str, dst: str) -> None:
        # catalog-atomic: createOrReplace commits the swap in one
        # metadata transaction, then the staging table is dropped
        self.spark.table(self.path(src)).writeTo(self.path(dst)) \
            .createOrReplace()
        self.drop(src)


def make_table_io(spark: SparkSession, base_path: str) -> TableIO:
    """Pick Iceberg when configured, else Parquet directories."""
    if iceberg_available(spark):
        return IcebergTableIO(spark)
    return TableIO(spark, base_path)
