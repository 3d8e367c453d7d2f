"""Composition: the curation operators consume the extraction pipeline's
own output (extract → assemble → per-doc text → dedup / language / tokens),
i.e. the full training-data flow a 100 TB pipeline runs end-to-end."""

from pyspark.sql import functions as F

from databricks_pdf_ocr_spark import fixtures
from conftest import TEST_CONFIG
from databricks_pdf_ocr_spark.operators import dedup, text_analysis
from databricks_pdf_ocr_spark.operators.extract import reassemble, run_extraction
from databricks_pdf_ocr_spark.schemas import DOCUMENTS_SCHEMA


def test_curation_over_extracted_output(spark):
    rows = list(fixtures.gen_rows(21, 30, fixtures.TINY))
    # duplicate two docs verbatim under new ids → exact dedup must find them
    rows.append(("dup-of-0", rows[0][1]))
    rows.append(("dup-of-1", rows[1][1]))
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)

    assembled = reassemble(run_extraction(df, TEST_CONFIG))
    corpus = assembled.select(
        "doc_id",
        F.array_join(
            F.transform(F.filter("spans", lambda s: s["kind"] == "text"),
                        lambda s: s["text"]), " ").alias("text"))
    corpus = corpus.filter(F.length("text") > 0).cache()
    try:
        # exact dedup finds the planted duplicates
        groups = dedup.exact_duplicates(corpus)
        dup_groups = groups.filter(F.col("n_dups") > 1).collect()
        dup_canon = {g["canonical_id"] for g in dup_groups}
        assert rows[0][0] in dup_canon or "dup-of-0" in dup_canon
        assert any(g["n_dups"] == 2 for g in dup_groups)

        # near-dup candidates include the exact pairs too
        pairs = dedup.minhash_lsh_pairs(corpus).collect()
        pair_set = {(p["doc_a"], p["doc_b"]) for p in pairs}
        a, b = sorted([rows[0][0], "dup-of-0"])
        assert (a, b) in pair_set

        # language id + token counts run over the extracted text
        lang = text_analysis.language_id(corpus)
        assert lang.filter(F.col("predicted_lang").isNull()).count() == 0
        toks = text_analysis.token_counts(corpus)
        assert toks.filter(F.col("ws_tokens") <= 0).count() == 0
    finally:
        corpus.unpersist()
