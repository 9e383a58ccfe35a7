"""End-to-end curation pipeline (SURVEY.md SS2.13 capstone): compose the
individual curation stages — language-ID, quality heuristics, exact
dedup, near-dup clustering — into the one keep/drop verdict table a
training-data pipeline actually materializes before tokenization.

Each stage is the SAME logic as its standalone key (llm_lang_detect,
llm_quality_stats, llm_dedup_exact, llm_dedup_cluster), so this key
proves the stages COMPOSE: one scan of documents fans into the token
rollup, the sha256 exact-dup aggregate, and the shingle/LSH pair graph,
and the verdicts join back on doc_id. At 100 TB every branch is the
already-audited scale shape; the final join is doc_id-keyed (uniform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load_documents_wide
from .dedup import _INV_SQL, _PAIRS_BODY, dedup_clusters_cached
from .text import _STOP_IN, _STOPWORDS, _TOKENS_SQL, tokens

# Deterministic thresholds (integer/exact comparisons only).
_MIN_TOKENS = 10
_MAX_STOPWORD_RATIO = 0.6
_LANG_STOP_RATIO = 0.04


@query(
    "llm_curation_pipeline",
    prewarm=True,
    oracle=f"""
    WITH RECURSIVE inv AS ({_INV_SQL}),
    pairs AS ({_PAIRS_BODY}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(u, v) AS (
        SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
    comp AS (SELECT u AS doc_id, MIN(v) AS rep FROM reach GROUP BY u),
    tok AS ({_TOKENS_SQL}),
    stats AS (
        SELECT doc_id, COUNT(*) AS n_tok,
               SUM(CASE WHEN token IN ({_STOP_IN}) THEN 1 ELSE 0 END) AS n_stop
        FROM tok GROUP BY doc_id),
    exact_rep AS (SELECT text, MIN(doc_id) AS rep_id FROM documents GROUP BY text)
    SELECT d.doc_id,
           CASE WHEN CAST(s.n_stop AS DOUBLE) / s.n_tok >= {_LANG_STOP_RATIO}
                THEN 'en' ELSE 'other' END AS detected,
           CAST(COALESCE(s.n_tok, 0) AS BIGINT) AS n_tok,
           (COALESCE(s.n_tok, 0) >= {_MIN_TOKENS}
            AND CAST(s.n_stop AS DOUBLE) / s.n_tok <= {_MAX_STOPWORD_RATIO})
             AS quality_ok,
           (d.doc_id = er.rep_id) AS exact_keep,
           (c.doc_id IS NULL OR d.doc_id = c.rep) AS near_keep,
           (CASE WHEN CAST(s.n_stop AS DOUBLE) / s.n_tok >= {_LANG_STOP_RATIO}
                 THEN 'en' ELSE 'other' END = 'en'
            AND COALESCE(s.n_tok, 0) >= {_MIN_TOKENS}
            AND CAST(s.n_stop AS DOUBLE) / s.n_tok <= {_MAX_STOPWORD_RATIO}
            AND d.doc_id = er.rep_id
            AND (c.doc_id IS NULL OR d.doc_id = c.rep)) AS keep
    FROM documents d
    LEFT JOIN stats s USING (doc_id)
    JOIN exact_rep er ON d.text = er.text
    LEFT JOIN comp c ON d.doc_id = c.doc_id
    """,
)
def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final curation verdict per document: keep iff it is English-ish
    (stopword ratio >= 0.04), passes the quality gate (10+ tokens,
    stopword ratio <= 0.6), is the exact-dup representative (lowest
    doc_id per identical text), AND is its near-dup cluster's
    representative (docs outside the pair graph represent themselves)."""
    d = load_documents_wide(spark, sf_dir)
    stats = tokens(spark, sf_dir).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.col("token").isin(*_STOPWORDS).cast("long")).alias("n_stop"),
    )
    exact_rep = d.groupBy(F.sha2("text", 256).alias("_h")).agg(
        F.min("doc_id").alias("rep_id")
    )
    comp = dedup_clusters_cached(spark, sf_dir).select(
        F.col("doc_id").alias("c_doc"), F.col("cluster_id").alias("rep")
    )
    joined = (
        d.select("doc_id", "text", F.sha2("text", 256).alias("_h"))
        .join(stats, "doc_id", "left")
        .join(exact_rep, "_h")
        .join(comp, F.col("doc_id") == F.col("c_doc"), "left")
    )
    ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    detected = F.when(ratio >= _LANG_STOP_RATIO, "en").otherwise("other")
    n_tok0 = F.coalesce(F.col("n_tok"), F.lit(0))
    quality_ok = (n_tok0 >= _MIN_TOKENS) & (ratio <= _MAX_STOPWORD_RATIO)
    exact_keep = F.col("doc_id") == F.col("rep_id")
    near_keep = F.col("c_doc").isNull() | (F.col("doc_id") == F.col("rep"))
    return joined.select(
        "doc_id",
        detected.alias("detected"),
        n_tok0.cast("bigint").alias("n_tok"),
        quality_ok.alias("quality_ok"),
        exact_keep.alias("exact_keep"),
        near_keep.alias("near_keep"),
        ((detected == "en") & quality_ok & exact_keep & near_keep).alias("keep"),
    )


@query(
    "llm_dataset_card",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, t.token
        FROM documents, unnest(string_split_regex(lower(text), '\s+'))
            AS t(token)
        WHERE t.token <> ''),
    d AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
                   AS n_exact_dupes
        FROM documents),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab_size
        FROM tok)
    SELECT d.n_docs, d.total_chars, t.total_tokens, t.vocab_size,
           d.n_langs, d.n_sources, d.n_exact_dupes,
           CAST(t.total_tokens AS DOUBLE) / CAST(d.n_docs AS DOUBLE)
               AS mean_tokens_per_doc
    FROM d, t
    """,
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD — the one-row corpus summary published alongside a
    training dataset: document and character volume, token count and
    vocabulary size, language and source coverage, and the exact
    duplicate count (docs minus distinct content fingerprints) — every
    number a release checklist quotes, produced in one pass over
    documents plus one over the shared token stream.

    All fields are exact counts (the dup figure rides md5 fingerprints,
    the same hash llm_dedup_exact shuffles) and the single ratio is one
    IEEE division — nothing estimated, so the card itself is
    hash-checkable.  At 100 TB each distinct-count swaps to its sketch
    twin (agg_approx_distinct / agg_hll_sketch) with the same one-scan
    shape; the exact spelling here doubles as the sketch audit."""
    from .text import tokens

    d = load_documents_wide(spark, sf_dir)
    dstats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias(
            "n_exact_dupes"
        ),
    )
    tstats = tokens(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("token").alias("vocab_size"),
    )
    return dstats.crossJoin(F.broadcast(tstats)).select(
        "n_docs",
        "total_chars",
        "total_tokens",
        "vocab_size",
        "n_langs",
        "n_sources",
        "n_exact_dupes",
        (
            F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
        ).alias("mean_tokens_per_doc"),
    )
