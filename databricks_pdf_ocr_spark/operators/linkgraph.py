"""Link-graph operators over crawl documents: outlink edges + host-level
PageRank — the domain-reputation signal a crawl curation pipeline feeds
its quality ladder (reference has no analogue; standard web-corpus
practice per the original PageRank formulation).

Scale shape: the edge build is the narrow regexp path of
``queries.warc_outlink_hosts`` plus one distinct (hash-agg); PageRank
iterations run on the HOST graph, orders of magnitude smaller than the
corpus (one row per domain) — each iteration is one equi-join + one
hash-agg, with the same per-round ``localCheckpoint`` lineage cut as
``dedup.neardup_components`` (the iterative-DataFrame pattern this repo
standardizes on).  The node count is a control-plane scalar (model
size, like n_clusters in IVF).  Dangling-node mass is dropped (the
simplified formulation; documented).

Oracle: ``queries.warc_host_rank`` recomputes the SAME fixed-iteration
recursion in DuckDB SQL from the committed edge-list golden
(`tests/data/golden_warc_linkgraph.parquet`, itself built independently
with Python ``re``), floor-scaled to int for cross-engine float parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame
from ..worker import drop_zip_importers

#: absolute-href host pattern — must match tools/make_golden_parquet.py
OUTLINK_RE = r"(?i)href\s*=\s*[\"']https?://([^/\"'>]+)"
HOST_RE = r"(?i)^https?://([^/]+)"


def outlink_edges(docs: DataFrame) -> DataFrame:
    """Documents (with their capture URI) → distinct (src_host,
    dst_host) edges from absolute hrefs in html spans."""
    return (docs
            .select(F.lower(F.regexp_extract("target_uri", HOST_RE, 1))
                    .alias("src_host"),
                    F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "html")
            .select("src_host",
                    F.explode(F.regexp_extract_all(
                        "s.text", F.lit(OUTLINK_RE), 1)).alias("h"))
            .select("src_host", F.lower("h").alias("dst_host"))
            .filter(F.col("src_host") != "")
            .distinct())


def pagerank(edges: DataFrame) -> DataFrame:
    """Fixed-iteration power method over (src_host, dst_host) edges →
    ``(host, rank)``: 3 rounds of rank_{t+1}(v) = (1-d)/N +
    d·Σ_{u→v} rank_t(u)/deg(u), at damping d = 0.85.
    """
    d = 0.85
    # materialize the edge derivation ONCE: callers hand in edges built
    # from a corpus parse (regex over every document) — without the cut,
    # each power iteration would re-run that lineage from the scan
    edges = edges.localCheckpoint()
    nodes = (edges.select(F.col("src_host").alias("host"))
             .union(edges.select(F.col("dst_host").alias("host")))
             .distinct().localCheckpoint())
    n = nodes.count()                       # control-plane: model size
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - d) / n
    outdeg = (edges.groupBy("src_host")
              .agg(F.count(F.lit(1)).cast("double").alias("deg")))
    contrib_src = edges.join(outdeg, "src_host").localCheckpoint()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
    for _ in range(3):
        acc = (contrib_src
               .join(ranks.withColumnRenamed("host", "src_host"),
                     "src_host")
               .select(F.col("dst_host").alias("host"),
                       (F.col("rank") / F.col("deg")).alias("c"))
               .groupBy("host").agg(F.sum("c").alias("acc")))
        ranks = (nodes.join(acc, "host", "left")
                 .select("host",
                         (F.lit(base) + F.lit(d)
                          * F.coalesce("acc", F.lit(0.0))).alias("rank"))
                 .localCheckpoint())
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-host triangle participation over the (src_host, dst_host)
    link graph, direction ignored — the local clustering signal that
    separates organic site neighborhoods from link farms (spam rings
    are triangle-dense).  Returns ``(host, n_triangles)``.

    Shape: canonicalize to undirected a<b edges (one projection + one
    distinct), then the standard two-join triangle enumeration with the
    a<b<c total order so each triangle is counted exactly once.  All
    joins are host-key equi-joins on the HOST graph (control-plane
    scale, like ``pagerank``); at web scale the classic refinement is
    degree-ordered orientation, which this a<b<c ordering approximates."""
    und = (edges
           .select(F.least("src_host", "dst_host").alias("a"),
                   F.greatest("src_host", "dst_host").alias("b"))
           .filter(F.col("a") < F.col("b"))
           .distinct().localCheckpoint())
    paths = (und.alias("e1")
             .join(und.alias("e2"), F.col("e1.b") == F.col("e2.a"))
             .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"),
                     F.col("e2.b").alias("c")))
    tri = (paths.alias("p")
           .join(und.alias("e3"),
                 (F.col("p.a") == F.col("e3.a"))
                 & (F.col("p.c") == F.col("e3.b")))
           .select("p.a", "p.b", "p.c"))
    verts = (tri.select(F.col("a").alias("host"))
             .unionByName(tri.select(F.col("b").alias("host")))
             .unionByName(tri.select(F.col("c").alias("host"))))
    return verts.groupBy("host").agg(F.count(F.lit(1)).alias("n_triangles"))


#: absolute-href anchor pattern with BOTH the host and the inner text as
#: capture groups — Spark extracts each group in its own
#: ``regexp_extract_all`` pass (same pattern → same match list → positional
#: ``arrays_zip`` pairing is exact); must match tools/make_golden_parquet.py
ANCHOR_RE = (r"(?is)<a\s[^>]*?href\s*=\s*[\"']https?://([^/\"'>]+)"
             r"[^>]*>(.*?)</a>")


def anchor_texts(docs: DataFrame) -> DataFrame:
    """Anchor-text aggregation: the text the WEB uses to link to a host
    (a classic relevance/description signal for crawl curation — anchor
    words describe the *target*, not the page they sit on).  Returns
    ``(dst_host, anchor, n)`` counts over absolute ``<a href>`` anchors
    in html spans, inner markup stripped and whitespace-collapsed.

    Scale shape: pure JVM narrow path — two ``regexp_extract_all``
    passes over the same pattern zipped positionally, one explode, one
    hash-agg.  No UDF, no shuffle before the final count."""
    host = F.regexp_extract_all(F.col("s.text"), F.lit(ANCHOR_RE), 1)
    txt = F.regexp_extract_all(F.col("s.text"), F.lit(ANCHOR_RE), 2)
    anchor = F.lower(F.trim(F.regexp_replace(F.regexp_replace(
        F.col("a.txt"), F.lit(r"<[^>]*>"), F.lit(" ")),
        F.lit(r"\s+"), F.lit(" "))))
    return (docs
            .select(F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "html")
            .select(F.explode(F.arrays_zip(host.alias("host"),
                                           txt.alias("txt"))).alias("a"))
            .select(F.lower("a.host").alias("dst_host"),
                    anchor.alias("anchor"))
            .filter(F.col("anchor") != "")
            .groupBy("dst_host", "anchor")
            .agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# URL canonicalization + host blocklists (crawl-frontier hygiene)
# ---------------------------------------------------------------------------

def url_normalize(df: DataFrame) -> DataFrame:
    """Canonicalize crawl URLs: strip the fragment, lowercase the
    ``scheme://authority`` prefix (path/query case is significant and
    kept), drop the default port (:80 for http, :443 for https), drop
    an empty trailing ``?``, and give authority-only URLs the ``/``
    path.  Adds ``url_norm`` plus the extracted lowercase ``host``.

    Pure column expressions (chained regexps) — zero shuffle, fully
    pushdown-friendly; the DuckDB oracle mirrors each step (RE2
    ``\\1`` rewrites vs Java ``$1``)."""
    d = (df
         .withColumn("_defrag", F.regexp_replace("url", "#.*$", ""))
         .withColumn("_pref", F.lower(F.regexp_extract(
             "_defrag", "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)))
         .withColumn("_rest",
                     F.expr("substring(_defrag, length(_pref) + 1)"))
         .withColumn("_pref", F.regexp_replace(
             "_pref", "^(http://[^/?#]*):80$", "$1"))
         .withColumn("_pref", F.regexp_replace(
             "_pref", "^(https://[^/?#]*):443$", "$1"))
         .withColumn("_rest", F.regexp_replace("_rest", "\\?$", ""))
         .withColumn("_rest", F.when(F.col("_rest") == "", F.lit("/"))
                     .otherwise(F.col("_rest"))))
    return (d.withColumn("url_norm", F.concat("_pref", "_rest"))
            .withColumn("host", F.regexp_extract(
                "url_norm", "^[a-z][a-z0-9+.-]*://([^/?#:]+)", 1))
            .drop("_defrag", "_pref", "_rest"))


def host_suffixes(host_col):
    """Column expr: a host's registrable suffix chain
    (``a.b.c`` → ``[a.b.c, b.c, c]``) for equi-join blocklist matching."""
    parts = F.split(host_col, "\\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(parts, i + 1, n), "."))


def blocklist_filter(df: DataFrame, blocked_suffixes) -> DataFrame:
    """Drop rows whose host equals or is a subdomain of any blocklist
    entry.  Scale shape: the suffix matching runs on the DISTINCT-host
    table (orders of magnitude smaller than the corpus) — each host's
    suffix chain (bounded by label count, ~4-6) explodes to an
    equi-join key semi-joined against the BROADCAST blocklist, never a
    LIKE/nested-loop scan — and the corpus sees one anti-join on the
    resulting blocked-host set.  A multi-million-entry blocklist stays
    a hash join at 100 TB."""
    blocked = local_frame(df.sparkSession,
                          [(b,) for b in blocked_suffixes], "suffix string")
    blocked_hosts = (df.select("host").distinct()
                     .withColumn("_sfx",
                                 F.explode(host_suffixes(F.col("host"))))
                     .join(F.broadcast(blocked),
                           F.col("_sfx") == F.col("suffix"), "left_semi")
                     .select("host").distinct())
    return df.join(blocked_hosts, "host", "left_anti")


def frontier_schedule(df: DataFrame, per_wave: int = 1) -> DataFrame:
    """Politeness scheduling for a fetch frontier: URLs are assigned to
    fetch ``wave``s so no host sees more than ``per_wave`` concurrent
    requests — the standard crawl-rate constraint.

    One shuffle (hash by host) + a per-host ``row_number`` window; the
    deterministic (``priority`` desc, url/id) ordering makes the schedule a
    pure function of the frontier.  Giant hosts simply produce deep
    wave numbers — the semantics, not a skew bug; AQE handles the
    partition imbalance."""
    from pyspark.sql import Window

    order_cols = [F.col("priority").desc()] + \
        [F.col(c) for c in df.columns if c != "priority"]
    w = Window.partitionBy("host").orderBy(*order_cols)
    rank = F.row_number().over(w) - 1
    return df.withColumn("wave", F.floor(rank / per_wave).cast("int"))


# ---------------------------------------------------------------------------
# robots.txt politeness gate (RFC 9309)
# ---------------------------------------------------------------------------

def robots_rules(robots: DataFrame, agent: str) -> DataFrame:
    """Per-host robots.txt bodies → the structured rule table for one
    crawler agent: ``(host, allow, pattern, regex, spec_len)``.

    Parsing is real (``functions/robotsmini.py``) and runs where the
    robots corpus lives — a narrow ``mapInPandas`` over the host table
    (one row per DOMAIN, corpus-scale but tiny rows; never broadcast,
    never collected).  Hosts whose file yields no rules for the agent
    emit nothing — the gate's left join treats them as allow-all."""
    import pandas as pd

    from ..functions import robotsmini

    def run(batches):
        drop_zip_importers()
        for pdf in batches:
            out = {k: [] for k in ("host", "allow", "pattern", "regex",
                                   "spec_len")}
            for host, text in zip(pdf["host"], pdf["robots_txt"]):
                rules = robotsmini.rules_for_agent(
                    robotsmini.parse_robots(text or ""), agent)
                for allow, pattern in rules:
                    out["host"].append(host)
                    out["allow"].append(allow)
                    out["pattern"].append(pattern)
                    out["regex"].append(robotsmini.pattern_to_regex(pattern))
                    out["spec_len"].append(len(pattern))
            yield pd.DataFrame(out)

    return robots.mapInPandas(
        run, schema=("host string, allow boolean, pattern string, "
                     "regex string, spec_len int"))


def robots_gate(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """Longest-match robots verdict per URL:
    ``urls + (allowed, matched_pattern)``.

    The RFC 9309 precedence recursion as a plan: host equi-join (rules
    per host are few; skewed mega-hosts are AQE's job), `rlike` match,
    then ONE row_number window picking (spec_len DESC, allow DESC,
    pattern DESC) — ties break toward allow, deterministically.  URLs
    with no matching rule or no robots file coalesce to allowed (RFC
    default)."""
    from pyspark.sql import Window

    matched = (urls.select("doc_id", "host", "path")
               .join(rules, "host")
               .filter(F.regexp_like(F.col("path"), F.col("regex")))
               .withColumn("__rn", F.row_number().over(
                   Window.partitionBy("doc_id")
                   .orderBy(F.col("spec_len").desc(),
                            F.col("allow").desc(),
                            F.col("pattern").desc())))
               .filter(F.col("__rn") == 1)
               .select("doc_id", F.col("allow").alias("__allow"),
                       F.col("pattern").alias("matched_pattern")))
    return (urls.join(matched, "doc_id", "left")
            .withColumn("allowed", F.coalesce(F.col("__allow"),
                                              F.lit(True)))
            .drop("__allow"))
