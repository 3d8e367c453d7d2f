"""Dirty-CSV mouth: splittable text scan + JVM from_csv, typed error
rows, RFC-4180 sink round-trip (sources/csvsrc.py)."""

import gzip

from databricks_pdf_ocr_spark.sources import csvsrc

SCHEMA = "id BIGINT, txt STRING, lang STRING"


def _write(path, text):
    with open(path, "w") as f:
        f.write(text)


def test_dirty_lines_become_error_rows(spark, tmp_path):
    _write(tmp_path / "a.csv",
           '1,"hello, world",en\n'      # quoted comma
           '2,"say ""hi""",en\n'        # doubled quote
           'notanint,plain,xx\n'        # bad cast
           '3,short\n'                  # arity under
           '4,extra,en,boom\n'          # arity over
           '\n'                         # blank (skipped, not an error)
           '5,clean,fr\n')
    parsed = csvsrc.read_csv_lines(spark, str(tmp_path), SCHEMA)
    good = csvsrc.good_rows(parsed)
    errs = csvsrc.error_rows(parsed)
    assert sorted((r.id, r.txt, r.lang) for r in good.collect()) == [
        (1, "hello, world", "en"), (2, 'say "hi"', "en"), (5, "clean", "fr")]
    bad = sorted(r._raw for r in errs.collect())
    assert bad == ["3,short", "4,extra,en,boom", "notanint,plain,xx"]
    assert {r.kind for r in errs.collect()} == {"malformed"}
    # accounting: every non-blank line is exactly one good or error row
    assert good.count() + errs.count() == 6


def test_gz_files_parse(spark, tmp_path):
    with gzip.open(tmp_path / "a.csv.gz", "wt") as f:
        f.write("\n".join(f"{i},t{i},en" for i in range(10)))
    good = csvsrc.good_rows(csvsrc.read_csv_lines(spark, str(tmp_path),
                                                  SCHEMA))
    assert good.count() == 10


def test_sink_mouth_roundtrip_adversarial(spark, tmp_path):
    rows = [(1, 'comma, inside', "en"), (2, 'quote " inside', "fr"),
            (3, 'both, " and ,', "de"), (4, "", "xx"), (5, None, "en")]
    df = spark.createDataFrame(rows, SCHEMA)
    out = str(tmp_path / "out")
    csvsrc.write_csv(df, out)
    parsed = csvsrc.read_csv_lines(spark, out, SCHEMA)
    assert csvsrc.error_rows(parsed).count() == 0
    got = sorted((r.id, r.txt, r.lang)
                 for r in csvsrc.good_rows(parsed).collect())
    # CSV cannot distinguish NULL from empty string: the sink writes
    # both as "" and the mouth's default nullValue reads both back as
    # NULL — the documented contract for string columns
    want = sorted(((i, t if t else None, l) for i, t, l in rows), key=repr)
    assert sorted(got, key=repr) == want


def test_text_scan_is_splittable_schema(spark, tmp_path):
    """The mouth reads via the text source (splittable plain files) and
    never schema-infers: the scan's read schema is the single value
    column, regardless of the CSV's width."""
    _write(tmp_path / "a.csv", "1,x,en\n")
    parsed = csvsrc.read_csv_lines(spark, str(tmp_path), SCHEMA)
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<value:string>" in plan


def test_roundtrip_random_printable(spark):
    """200 random printable newline-free strings (quotes, commas,
    backslashes, unicode) survive sink → mouth exactly."""
    import random
    rng = random.Random("csv-prop")
    alphabet = ('abc",\\\'|;:)(][ «é中あ😀' + "`~!@#$%^&*")
    rows = [(i, "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(1, 40))), "en")
            for i in range(200)]
    df = spark.createDataFrame(rows, SCHEMA)
    import tempfile
    out = tempfile.mkdtemp(prefix="csv_prop_")
    csvsrc.write_csv(df, out)
    parsed = csvsrc.read_csv_lines(spark, out, SCHEMA)
    assert csvsrc.error_rows(parsed).count() == 0
    got = sorted((r.id, r.txt, r.lang)
                 for r in csvsrc.good_rows(parsed).collect())
    assert got == sorted(rows)
