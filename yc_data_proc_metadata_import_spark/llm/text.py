"""Text-analysis operators for LLM training-data curation (SURVEY.md SS2.13).

Corpus curation over the ``documents`` fixture: tokenization, TF-IDF,
per-language stats, quality heuristics, lexicon sentiment, language-ID.
All hot paths are built-in column expressions (split/explode/groupBy) so
they stay inside whole-stage codegen; there is no Python in any of them.

100 TB design notes:
- tokenize/token_count are scan-bound map-only ops — zero shuffle.
- TF-IDF is two hash aggregations (doc-term, term) + one shuffle join on
  the term key; document-frequency and corpus-size sides are tiny relative
  to the corpus and broadcast.
- sentiment joins an O(100)-row lexicon — always broadcast, never shuffle.

Determinism (driver hash-compares vs DuckDB, SURVEY.md SS5): all ratios are
exact-integer numerator/denominator divisions (one IEEE division of
identical ints is bit-identical across engines); the TF-IDF idf rounds
ln() to 6 decimals BEFORE the tf multiply because raw libm ln() differs
between JVM and DuckDB in the last ulp for ~6% of inputs (measured), while
round(ln,6) matched on a 10k-point grid of every plausible (N, df) pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load_documents_wide
from ..utils import davg, materialize, session_artifact, sql_davg

# Whitespace tokenizer used by every operator in this module (regex split,
# empty tokens dropped so leading/trailing whitespace can't skew counts).
_WS = r"\s+"
# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
# (the coarse shape GPT-2-style byte-pair pre-tokenization produces).
_BPE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# Tiny English stopword set for quality/lang-id heuristics. Deliberately
# minimal: the point is the *plumbing* (exact-ratio heuristics at scale),
# not linguistic accuracy.
_STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

# Inline sentiment lexicon (broadcast side of llm_sentiment). Scores are
# exactly representable doubles so decimal casts agree across engines.
_LEXICON = [
    ("fast", 1.0),
    ("slow", -1.0),
    ("big", 0.5),
    ("small", -0.5),
    ("error", -2.0),
    ("merge", 0.25),
    ("spark", 2.0),
    ("filter", -0.25),
]


# One materialized token table per (session, sf_dir): eight text keys
# consume tokens(), and llm_unigram_logprob alone references it three
# times (tok/vocab/total) — Spark 4.1's AQE gives self-referencing
# subplans no ReusedExchange, so without materialization each reference
# re-runs the scan+tokenize pipeline. This is the standard "build the
# shared intermediate once, fan out consumers" pattern a real curation
# pipeline uses; utils.materialize states how the table is held.
@session_artifact
def tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token) rows: lowercase whitespace tokenization, exploded.

    Map-only: at 100 TB this is a pure scan→flatMap with no shuffle; the
    explode multiplies rows ~40x but stays within each input partition.
    Materialized once per session+scale and shared by every consumer
    (see the note above).
    """
    n = spark.sparkContext.defaultParallelism
    return materialize(
        load_documents_wide(spark, sf_dir)
        .repartition(n, "doc_id")  # single-file fixture scans as 1 partition
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), _WS)).alias("token"),
        )
        .filter(F.col("token") != "")
    )[0]


_TOKENS_SQL = (
    "SELECT doc_id, t.token FROM documents, "
    r"unnest(string_split_regex(lower(text), '\s+')) AS t(token) "
    "WHERE t.token <> ''"
)


@query(
    "llm_tokenize",
    oracle=f"""
    SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf_total
    FROM ({_TOKENS_SQL})
    GROUP BY token
    """,
)
def llm_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: per-token document frequency + total count.

    explode → single hash aggregation on the token key. Vocabulary is tiny
    relative to the corpus, so the shuffle carries only per-partition
    partial counts (map-side combine) — scan-bound at 100 TB.
    """
    return tokens(spark, sf_dir).groupBy("token").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("tf_total"),
    )


@query(
    "llm_token_count",
    oracle=rf"""
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{_BPE}')) AS n_bpe_tokens,
           length(text) AS n_chars_measured
    FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts: whitespace and BPE-ish regex pre-tokenizer.

    Row-local expressions only (split/regexp_count) — map-only, no Python,
    no shuffle; the canonical "cheap token budget estimate" pass a
    training-data pipeline runs before expensive real tokenization.
    """
    lower = F.lower(F.col("text"))
    return load_documents_wide(spark, sf_dir).select(
        "doc_id",
        F.size(F.filter(F.split(lower, _WS), lambda t: t != "")).cast("long").alias(
            "n_ws_tokens"
        ),
        F.regexp_count(lower, F.lit(_BPE)).cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


@query(
    "llm_tfidf",
    prewarm=True,
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
         dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, n.n_docs,
           tf.tf * round(ln(n.n_docs / dfreq.df), 6) AS tfidf
    FROM tf JOIN dfreq USING (token) CROSS JOIN n
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: tf x ln(N/df), idf rounded to 6 decimals pre-multiply.

    Plan at scale: doc-term hash agg (shuffle on (doc_id, token)) → the
    term-frequency table re-aggregates by token into a vocabulary-sized
    df table that is BROADCAST back, and the corpus count N is a 1-row
    broadcast — so the expensive corpus-sized side shuffles exactly once.

    Scale ceiling of the broadcast (round-4 VERDICT item 7): the df
    table is VOCABULARY-sized, and at 100 TB a multi-billion-entry
    vocabulary (unfiltered n-grams, URLs, typos) outgrows executor
    broadcast memory. The fallback is simply removing the
    ``F.broadcast`` hint: Catalyst then plans a shuffle hash/sort-merge
    join on ``token`` — the same single corpus-side shuffle plus a
    vocabulary-side exchange, no algorithm change. In practice pipelines
    first drop hapax terms (``HAVING df > 1`` shrinks the vocabulary
    ~40-50% on web corpora) to keep the broadcast viable; both spellings
    are one-line variants of this query. Documented trade, deliberate
    default for the common (filtered-vocabulary) case.
    """
    tf = tokens(spark, sf_dir).groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = load_documents_wide(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            "n_docs",
            (F.col("tf") * F.round(F.log(F.col("n_docs") / F.col("df")), 6)).alias("tfidf"),
        )
    )


@query(
    "llm_lang_stats",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
           {sql_davg('n_chars')} AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def llm_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats — the curation dashboard query.

    One hash aggregation on a ~100-value key; partial aggregation makes the
    shuffle a few rows per partition regardless of corpus size.
    """
    return load_documents_wide(spark, sf_dir).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        davg("n_chars", "avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_STOP_IN = ", ".join(f"'{w}'" for w in _STOPWORDS)


@query(
    "llm_quality_stats",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
         per_doc AS (
            SELECT doc_id, COUNT(*) AS n_tok, SUM(length(token)) AS tok_chars,
                   SUM(CASE WHEN token IN ({_STOP_IN}) THEN 1 ELSE 0 END) AS n_stop
            FROM tok GROUP BY doc_id)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(p.n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(p.tok_chars) AS DOUBLE) / SUM(p.n_tok) AS avg_token_len,
           CAST(SUM(p.n_stop) AS DOUBLE) / SUM(p.n_tok) AS stopword_ratio,
           CAST(SUM(CASE WHEN d.n_chars > 200 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS long_doc_ratio
    FROM documents d JOIN per_doc p USING (doc_id)
    GROUP BY d.source
    """,
)
def llm_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality heuristics: token length, stopword + length mix.

    All ratios are pooled integer-sum / integer-sum (one IEEE division —
    bit-identical across engines, and associative so partitioning can't
    perturb them). Two shuffles: doc-grain token rollup, then source
    rollup; both keys are high-cardinality enough to parallelize and small
    enough to never skew.
    """
    tok = tokens(spark, sf_dir)
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.length("token")).alias("tok_chars"),
        F.sum(F.col("token").isin(*_STOPWORDS).cast("long")).alias("n_stop"),
    )
    d = load_documents_wide(spark, sf_dir)
    return (
        d.join(per_doc, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            (F.sum("tok_chars").cast("double") / F.sum("n_tok")).alias("avg_token_len"),
            (F.sum("n_stop").cast("double") / F.sum("n_tok")).alias("stopword_ratio"),
            (
                F.sum((F.col("n_chars") > 200).cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("long_doc_ratio"),
        )
    )


# Gopher-rule document filter (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", App. A1.1 — public
# paper). Required-stopword list verbatim from the paper.
_GOPHER_STOP = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_STOP_IN = ", ".join(f"'{w}'" for w in _GOPHER_STOP)


@query(
    "llm_gopher_quality",
    oracle=f"""
    WITH tok AS ({{tokens_sql}}),
    per_tok AS (
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(length(token)) AS BIGINT) AS tok_chars,
               CAST(SUM(CASE WHEN regexp_matches(token, '[a-z]')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
               CAST(COUNT(DISTINCT CASE WHEN token IN ({_GOPHER_STOP_IN})
                                        THEN token END) AS BIGINT) AS n_stop
        FROM tok GROUP BY doc_id),
    ln AS (
        SELECT doc_id, l.line
        FROM documents, unnest(string_split(text, chr(10))) AS l(line)
        WHERE l.line <> ''),
    per_line AS (
        SELECT doc_id, COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN substr(line, 1, 1) IN ('-', '*', '•')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_bullet,
               CAST(SUM(CASE WHEN line LIKE '%...' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ell_end
        FROM ln GROUP BY doc_id),
    per_doc AS (
        SELECT d.source,
               COALESCE(p.n_words, 0) AS n_words,
               COALESCE(p.tok_chars, 0) AS tok_chars,
               COALESCE(p.n_alpha, 0) AS n_alpha,
               COALESCE(p.n_stop, 0) AS n_stop,
               COALESCE(l.n_lines, 0) AS n_lines,
               COALESCE(l.n_bullet, 0) AS n_bullet,
               COALESCE(l.n_ell_end, 0) AS n_ell_end,
               length(d.text) - length(replace(d.text, '#', '')) AS n_hash,
               (length(d.text) - length(replace(d.text, '...', ''))) // 3
                   AS n_ell
        FROM documents d
        LEFT JOIN per_tok p USING (doc_id)
        LEFT JOIN per_line l USING (doc_id)),
    flags AS (
        SELECT source,
          CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END AS f_wc,
          CASE WHEN 3 * n_words <= tok_chars AND tok_chars <= 10 * n_words
               THEN 0 ELSE 1 END AS f_wl,
          CASE WHEN 10 * (n_hash + n_ell) <= n_words THEN 0 ELSE 1 END AS f_sym,
          CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 0 ELSE 1 END AS f_bul,
          CASE WHEN 10 * n_ell_end <= 3 * n_lines THEN 0 ELSE 1 END AS f_ell,
          CASE WHEN 10 * n_alpha >= 8 * n_words THEN 0 ELSE 1 END AS f_al,
          CASE WHEN n_stop >= 2 THEN 0 ELSE 1 END AS f_st
        FROM per_doc)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN f_wc + f_wl + f_sym + f_bul + f_ell + f_al + f_st = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(f_wc) AS BIGINT) AS fail_word_count,
           CAST(SUM(f_wl) AS BIGINT) AS fail_word_len,
           CAST(SUM(f_sym) AS BIGINT) AS fail_symbol,
           CAST(SUM(f_bul) AS BIGINT) AS fail_bullet,
           CAST(SUM(f_ell) AS BIGINT) AS fail_ellipsis,
           CAST(SUM(f_al) AS BIGINT) AS fail_alpha,
           CAST(SUM(f_st) AS BIGINT) AS fail_stopword
    FROM flags GROUP BY source
    """.format(tokens_sql=_TOKENS_SQL),
)
def llm_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document filter (Rae et al. 2021, App. A1.1): the
    published heuristic battery every large-scale pretraining corpus is
    screened with — word count in [50, 100k], mean word length in
    [3, 10], symbol-to-word ratio ('#'/'...') <= 0.1, < 90% of lines
    bullet-led, <= 30% of lines ellipsis-ended, >= 80% of words
    containing a letter, and >= 2 distinct required stopwords.

    Every rule is an INTEGER cross-comparison (``3*n_words <=
    tok_chars`` instead of ``tok_chars/n_words >= 3``): no division
    exists anywhere, so the result is bit-identical across engines and
    safe at any corpus size — and zero-word / zero-line documents need
    no epsilon guards (the comparisons degrade correctly).

    100 TB design: the per-document signals are pure array expressions
    over the text column (size/filter/aggregate lambdas — JVM codegen,
    no explode, no Python), so the whole battery is ONE scan-bound
    map-only pass; the only exchange is the final low-cardinality
    source rollup, which partial-aggregates map-side. The oracle
    recomputes the same integers relationally (unnest + group-by) —
    two independent formulations agreeing on every count is the
    correctness argument. Plan-pinned single-exchange in
    tests/test_plans.py.
    """
    d = load_documents_wide(spark, sf_dir)
    toks = F.filter(F.split(F.lower(F.col("text")), _WS), lambda t: t != "")
    nonblank = F.filter(F.split(F.col("text"), "\n"), lambda ln: ln != "")
    zero = F.lit(0).cast("long")
    sig = d.select(
        "source",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(toks, zero, lambda a, t: a + F.length(t)).alias("tok_chars"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
        .cast("long")
        .alias("n_alpha"),
        sum(
            (F.array_contains(toks, w).cast("long") for w in _GOPHER_STOP),
            start=zero,
        ).alias("n_stop"),
        F.size(nonblank).cast("long").alias("n_lines"),
        F.size(
            F.filter(nonblank, lambda ln: F.substring(ln, 1, 1).isin("-", "*", "•"))
        )
        .cast("long")
        .alias("n_bullet"),
        F.size(F.filter(nonblank, lambda ln: ln.like("%...")))
        .cast("long")
        .alias("n_ell_end"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
        .cast("long")
        .alias("n_hash"),
        F.expr("(length(text) - length(replace(text, '...', ''))) div 3")
        .cast("long")
        .alias("n_ell"),
    )
    c = F.col
    fails = {
        "fail_word_count": ~c("n_words").between(50, 100000),
        "fail_word_len": ~(
            (3 * c("n_words") <= c("tok_chars"))
            & (c("tok_chars") <= 10 * c("n_words"))
        ),
        "fail_symbol": ~(10 * (c("n_hash") + c("n_ell")) <= c("n_words")),
        "fail_bullet": ~(10 * c("n_bullet") <= 9 * c("n_lines")),
        "fail_ellipsis": ~(10 * c("n_ell_end") <= 3 * c("n_lines")),
        "fail_alpha": ~(10 * c("n_alpha") >= 8 * c("n_words")),
        "fail_stopword": ~(c("n_stop") >= 2),
    }
    flagged = sig.select(
        "source", *(expr.cast("long").alias(name) for name, expr in fails.items())
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (sum((c(n) for n in fails), start=F.lit(0)) == 0).cast("long")
        ).alias("n_pass"),
        *(F.sum(n).alias(n) for n in fails),
    )


_LEX_VALUES = ", ".join(f"('{w}', {s})" for w, s in _LEXICON)


@query(
    "llm_sentiment",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
         lex(word, score) AS (VALUES {_LEX_VALUES})
    SELECT tok.doc_id, COUNT(*) AS n_hits,
           CAST(SUM(CAST(lex.score AS DECIMAL(28,4))) AS DOUBLE) AS score_sum,
           CAST(SUM(CAST(lex.score AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS score_avg
    FROM tok JOIN lex ON tok.token = lex.word
    GROUP BY tok.doc_id
    """,
)
def llm_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment: explode tokens, broadcast-join the lexicon,
    per-doc exact-decimal score sum (VERDICT.md round 1: broadcast-join
    lexicon, never a per-row UDF).

    The lexicon is O(100) rows — broadcast hash join, so the corpus side
    never shuffles for the join; the only shuffle is the doc_id rollup.
    Docs with zero lexicon hits are excluded (inner join) by declared
    semantics.
    """
    lex = spark.createDataFrame(_LEXICON, "word string, score double")
    tok = tokens(spark, sf_dir)
    from ..utils import dsum

    return (
        tok.join(F.broadcast(lex), tok.token == lex.word)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            dsum("score", "score_sum"),
            (dsum("score") / F.count(F.lit(1))).alias("score_avg"),
        )
    )


@query(
    "llm_lang_detect",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
         per_doc AS (
            SELECT doc_id, COUNT(*) AS n_tok,
                   SUM(CASE WHEN token IN ({_STOP_IN}) THEN 1 ELSE 0 END) AS n_stop
            FROM tok GROUP BY doc_id),
         detected AS (
            SELECT d.doc_id, d.lang,
                   CASE WHEN CAST(p.n_stop AS DOUBLE) / p.n_tok >= 0.04
                        THEN 'en' ELSE 'other' END AS detected
            FROM documents d JOIN per_doc p USING (doc_id))
    SELECT lang, detected, COUNT(*) AS n_docs
    FROM detected
    GROUP BY lang, detected
    """,
)
def llm_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID (stopword-ratio n-gram proxy) vs the labeled
    lang column — the confusion-matrix query a curation pipeline runs to
    calibrate its cheap lang filter.

    The threshold compare is on an exact integer ratio, so the detected
    label is deterministic across engines. Map-side heuristic + one small
    rollup; at 100 TB the heavy part is the token rollup, shared shape
    with llm_quality_stats.
    """
    tok = tokens(spark, sf_dir)
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.col("token").isin(*_STOPWORDS).cast("long")).alias("n_stop"),
    )
    d = load_documents_wide(spark, sf_dir)
    detected = d.join(per_doc, "doc_id").select(
        "lang",
        F.when(F.col("n_stop").cast("double") / F.col("n_tok") >= 0.04, "en")
        .otherwise("other")
        .alias("detected"),
    )
    return detected.groupBy("lang", "detected").agg(F.count(F.lit(1)).alias("n_docs"))


# PII patterns kept to the regex subset Java (Spark) and RE2 (DuckDB)
# treat identically: character classes + bounded repetition, no
# backrefs/lookaround. Applied in a fixed order (emails before digit runs
# so an address's digits don't get pre-masked).
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_NUM = "[0-9]{4,}"


@query(
    "llm_pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_before,
           CAST(length(red) AS BIGINT) AS n_chars_after,
           sha256(red) AS redacted_sha
    FROM (
        SELECT doc_id, text,
               regexp_replace(
                   regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_NUM}', '<NUM>', 'g') AS red
        FROM documents)
    """,
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: mask emails then long digit runs — the
    scrub-before-training step every corpus pipeline runs. Map-only
    JVM regexp_replace (global in both engines), no UDF; at 100 TB this
    is scan-bound. The redacted text is verified via sha256 so the
    oracle checks the exact output bytes, not just counts.
    """
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
        _PII_NUM,
        "<NUM>",
    )
    return load_documents_wide(spark, sf_dir).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_before"),
        F.length(red).cast("long").alias("n_chars_after"),
        F.sha2(red, 256).alias("redacted_sha"),
    )


# Chunking: 32-token windows, stride 24 (8-token overlap) — the
# context-window packing step for RAG indexing / LLM training prep.
_CHUNK, _STRIDE = 32, 24


@query(
    "llm_doc_chunking",
    oracle=f"""
    SELECT doc_id, c.chunk_idx,
           array_to_string(list_slice(toks, c.chunk_idx * {_STRIDE} + 1,
                                      c.chunk_idx * {_STRIDE} + {_CHUNK}), ' ') AS chunk_text,
           CAST(len(list_slice(toks, c.chunk_idx * {_STRIDE} + 1,
                               c.chunk_idx * {_STRIDE} + {_CHUNK})) AS INTEGER) AS n_tokens
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
          FROM documents),
         (SELECT unnest(range(0, 1000)) AS chunk_idx) c
    WHERE len(toks) > 0 AND c.chunk_idx * {_STRIDE} < len(toks)
    """,
)
def llm_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window CHUNKING: split each document into
    {_CHUNK}-token windows every {_STRIDE} tokens — the packing step a
    RAG index or context-window-bounded training pipeline runs over the
    whole corpus.

    Map-only fan-out (explode of per-doc window structs, no shuffle);
    the tokenizer is hoisted into its own projection (never inside the
    window lambda — see llm/dedup.py's shingle note). At 100 TB:
    scan-bound, output rows ~= tokens/stride.
    """
    n = spark.sparkContext.defaultParallelism
    chunks = (
        f"if(size(toks) > 0, transform(sequence(0, floor((size(toks) - 1) / {_STRIDE})), "
        f"i -> struct(cast(i as bigint) as chunk_idx, "
        f"concat_ws(' ', slice(toks, cast(i * {_STRIDE} + 1 as int), {_CHUNK})) as chunk_text, "
        f"size(slice(toks, cast(i * {_STRIDE} + 1 as int), {_CHUNK})) as n_tokens)), "
        "array())"
    )
    return (
        load_documents_wide(spark, sf_dir)
        .repartition(n, "doc_id")
        .withColumn("toks", F.filter(F.split(F.lower(F.col("text")), _WS), lambda t: t != ""))
        .select("doc_id", F.explode(F.expr(chunks)).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens")
    )


_MIN_NGRAM_COUNT = 3


@query(
    "llm_ngram_counts",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
        FROM documents),
    bg AS (
        SELECT doc_id, b.bigram
        FROM (SELECT doc_id,
                     list_transform(range(1, len(toks)),
                         i -> concat(toks[i], ' ', toks[i + 1])) AS bigrams
              FROM tk WHERE len(toks) >= 2),
             unnest(bigrams) AS b(bigram))
    SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
    FROM bg GROUP BY bigram HAVING COUNT(*) >= {_MIN_NGRAM_COUNT}
    """,
)
def llm_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BIGRAM counts with a min-count floor — the n-gram LM /
    phrase-mining table. Map-only window build (tokenizer hoisted, see
    llm/dedup.py) then one hash aggregation on the bigram; the HAVING
    floor is where a 100 TB vocabulary drops its singleton long tail
    (applied post-aggregation, so partial aggregation still combines
    map-side)."""
    n = spark.sparkContext.defaultParallelism
    bigrams = (
        "if(size(toks) >= 2, transform(sequence(1, size(toks) - 1), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))), array())"
    )
    return (
        load_documents_wide(spark, sf_dir)
        .repartition(n, "doc_id")
        .withColumn("toks", F.filter(F.split(F.lower(F.col("text")), _WS), lambda t: t != ""))
        .select("doc_id", F.explode(F.expr(bigrams)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("df"))
        .filter(F.col("n") >= _MIN_NGRAM_COUNT)
    )


@query(
    "llm_unigram_logprob",
    oracle="""
    WITH tok AS (SELECT doc_id, t.token
                 FROM documents,
                      unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                         x -> x <> '')) AS t(token)),
    vocab AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
    total AS (SELECT COUNT(*) AS t_total FROM tok)
    SELECT tok.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CAST(FLOOR(ln(CAST(vocab.tf AS DOUBLE) / total.t_total)
                                * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / COUNT(*) AS avg_logprob
    FROM tok JOIN vocab USING (token) CROSS JOIN total
    GROUP BY tok.doc_id
    """,
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram log-probability — the cheap
    perplexity proxy corpus-quality filters rank documents by (rare-token
    gibberish scores low, common prose high).

    Scale shape = llm_tfidf's: the corpus side shuffles once into the
    vocabulary aggregate, which broadcasts back with the scalar total.
    Determinism: ln() differs across libms in the last ulp, so each
    token's logprob is rounded to an exact integer micro-unit
    (FLOOR(x*1e6+0.5) — identical in both engines) and summed exactly;
    one final double division pair surfaces the average.
    """
    tok = tokens(spark, sf_dir)
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = tok.agg(F.count(F.lit(1)).alias("t_total"))
    micro = F.floor(
        F.log(F.col("tf").cast("double") / F.col("t_total")) * 1000000.0 + F.lit(0.5)
    ).cast("long")
    return (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum(micro).cast("double") / 1000000.0 / F.count(F.lit(1))).alias(
                "avg_logprob"
            ),
        )
    )


_PACK_CAP = 2048  # tokens per packed training sequence
_PACK_SHARDS = 8  # deterministic shards; scale knob at 100 TB


@query(
    "llm_doc_packing",
    oracle=f"""
    WITH counted AS (
        SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '')) AS n_tok
        FROM documents),
    placed AS (
        SELECT shard, doc_id, n_tok,
               SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM counted)
    SELECT shard, CAST((cum - n_tok) // {_PACK_CAP} AS BIGINT) AS bin_idx,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
    FROM placed GROUP BY 1, 2
    """,
)
def llm_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING (concat-and-chunk): lay documents head-to-tail in
    deterministic shard order and cut {cap}-token training sequences; a
    document belongs to the bin where it starts. This is the packing
    pass every pre-training data pipeline runs to turn ragged documents
    into fixed-length context windows with minimal padding.

    Per-shard running token total (one window over the shard partition)
    -> bin index by integer division; per-bin stats via a groupBy that
    reuses the same shard partitioning. Shards here are doc_id % {n}
    for oracle replayability; at 100 TB shard count scales with the
    cluster (pick shards so one shard's tokens fit an executor's sort
    budget) and the per-shard sequential order IS the point — packing
    must be deterministic so training runs are reproducible.
    """
    counted = load_documents_wide(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.filter(F.split(F.lower(F.col("text")), _WS), lambda t: t != ""))
        .cast("long")
        .alias("n_tok"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = counted.withColumn("cum", F.sum("n_tok").over(w))
    return (
        placed.withColumn(
            # Integer division to match the oracle's `//` exactly — float
            # division only agrees while cum - n_tok < 2^53 (round-4
            # ADVICE: silent divergence hazard at claimed 100 TB scale).
            "bin_idx", F.expr(f"(cum - n_tok) div {_PACK_CAP}")
        )
        .groupBy("shard", "bin_idx")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("tok_sum"))
    )


llm_doc_packing.__doc__ = llm_doc_packing.__doc__.format(cap=_PACK_CAP, n=_PACK_SHARDS)


@query(
    "llm_repetition_score",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
    per_tok AS (
        SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token),
    per_doc AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct, MAX(c) AS top_cnt
        FROM per_tok GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct,
           CAST(top_cnt AS DOUBLE) / n_tokens AS top_tok_ratio,
           CAST(n_distinct AS DOUBLE) / n_tokens AS type_token_ratio,
           top_cnt * 10 > n_tokens AS is_repetitive
    FROM per_doc
    """,
)
def llm_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document REPETITION quality signal (the Gopher-rules family):
    top-token mass fraction and type-token ratio flag boilerplate,
    keyword-stuffed, and looping documents that survive length filters
    but poison training data.

    ONE exchange total (plan-pinned in tests/test_plans.py): an explicit
    repartition on doc_id, after which BOTH aggregations are
    exchange-free — hash(doc_id) clusters every (doc_id, token) group
    and every doc_id group alike, and Spark's EnsureRequirements accepts
    a partitioning on a subset of the grouping keys. (The checkpointed
    token table forgets its partitioning, so without the explicit
    repartition Catalyst inserts a (doc_id, token) exchange AND a doc_id
    exchange.) Ratios are one IEEE division of exact integers
    (bit-identical across engines); the repetition flag compares
    integers (top*10 > total), never floats.
    """
    per_tok = (
        tokens(spark, sf_dir)
        .repartition("doc_id")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_cnt"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (F.col("top_cnt").cast("double") / F.col("n_tokens")).alias("top_tok_ratio"),
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
            "type_token_ratio"
        ),
        (F.col("top_cnt") * 10 > F.col("n_tokens")).alias("is_repetitive"),
    )


_MIX_BUDGET = 800  # target whitespace tokens per source domain
# Knuth multiplicative hash with the key masked to 31 bits BEFORE the
# multiply (round-5 ADVICE): unmasked, doc_id above ~3.47e9 overflows
# int64 mid-product — Spark (non-ANSI) wraps silently while DuckDB
# errors/promotes, so the engines diverge exactly at the claimed 100 TB
# scale. Masked, the product is < 2^31 * 2654435761 < 2^63 in both
# engines, and values are UNCHANGED for keys < 2^31.
_MIX_HASH = "((doc_id % 2147483648) * 2654435761) % 4294967296"


@query(
    "llm_dataset_mixture",
    oracle=f"""
    WITH counted AS (
        SELECT doc_id, source,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '')) AS n_tok
        FROM documents),
    totals AS (
        SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tok_total,
               COUNT(*) AS n_docs
        FROM counted GROUP BY source),
    thresholds AS (
        SELECT source, tok_total, n_docs,
               LEAST(4294967296, (4294967296 * {_MIX_BUDGET}) // tok_total)
                   AS keep_thr
        FROM totals),
    tagged AS (
        SELECT c.source, c.n_tok, t.tok_total, t.n_docs, t.keep_thr,
               {_MIX_HASH} < t.keep_thr AS kept
        FROM counted c JOIN thresholds t USING (source))
    SELECT source, n_docs, tok_total,
           CAST(keep_thr AS BIGINT) AS keep_thr,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept
    FROM tagged GROUP BY source, n_docs, tok_total, keep_thr
    """,
)
def llm_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-MIXTURE sampling: compute each source's keep rate so every
    domain lands on the same target token budget, then apply it as a
    deterministic hash threshold — the reweighting step that turns raw
    crawl proportions into a designed training mixture.

    Pass 1: per-source token totals (tiny — one row per domain). The
    keep threshold is EXACT integer arithmetic out of the 2^32 hash
    space (LEAST(2^32, 2^32*budget div total)) — no float rates, so both
    engines agree bit-for-bit and reruns are reproducible. Pass 2:
    broadcast the per-source thresholds back and filter on the same
    multiplicative doc_id hash reshape_sample uses (layout-independent,
    pushdown-able). Surfaced per-source so the result stays small; the
    kept doc set itself is the same filter without the final rollup.
    """
    counted = load_documents_wide(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(F.filter(F.split(F.lower(F.col("text")), _WS), lambda t: t != ""))
        .cast("long")
        .alias("n_tok"),
    )
    totals = counted.groupBy("source").agg(
        F.sum("n_tok").alias("tok_total"), F.count(F.lit(1)).alias("n_docs")
    )
    thresholds = totals.withColumn(
        "keep_thr",
        F.expr(f"least(4294967296, (4294967296 * {_MIX_BUDGET}) div tok_total)"),
    )
    tagged = counted.join(F.broadcast(thresholds), "source").withColumn(
        "kept", F.expr(_MIX_HASH) < F.col("keep_thr")
    )
    return tagged.groupBy("source", "n_docs", "tok_total", "keep_thr").agg(
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("tok_kept"),
    )


@query(
    "llm_quality_resample",
    oracle=f"""
    WITH counted AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                    t -> t <> '')) AS BIGINT) AS n_tok
        FROM documents),
    tagged AS (
        SELECT source, n_tok,
               ({_MIX_HASH}) * 500 < 4294967296 * least(500, n_tok) AS kept
        FROM counted)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tok_total,
           CAST(SUM(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept
    FROM tagged GROUP BY source
    """,
)
def llm_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-WEIGHTED (importance) resampling: each document is kept
    with probability proportional to its own quality score — here the
    cheap proxy min(token_count, 500)/500 — by comparing a per-doc
    deterministic hash against the score-scaled threshold:
    ``hash(doc_id) * 500 < 2^32 * min(500, n_tok)``. This is the
    per-document counterpart to llm_dataset_mixture's per-SOURCE budget
    threshold: mixture reweights corpora, importance resampling
    reweights individual documents (the DataComp/DCLM-style pass that
    keeps high-quality documents at full rate and drops low-quality
    ones proportionally), and chaining any real scorer in place of the
    token-count proxy is a one-expression swap.

    Exactness: the hash is the masked multiplicative mix shared with
    corpus_shuffle (< 2^32, int64-safe after the *500), the compare is
    pure integers, and acceptance is a pure function of doc_id — so the
    sample is reproducible across engines, partitionings, and reruns
    (seeded-hash Bernoulli, never rand()). Scale shape: map-only score
    + hash + compare, one low-cardinality source rollup — a 100 TB
    corpus resamples in a single scan with zero data shuffled.
    """
    counted = load_documents_wide(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(F.filter(F.split(F.lower(F.col("text")), _WS), lambda t: t != ""))
        .cast("long")
        .alias("n_tok"),
    )
    tagged = counted.withColumn(
        "kept",
        F.expr(f"({_MIX_HASH}) * 500 < 4294967296 * least(500, n_tok)"),
    )
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum("n_tok").alias("tok_total"),
        F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("tok_kept"),
    )


# --- BPE merge training --------------------------------------------------
_BPE_STEPS = 3


def _bpe_merge_ctes(t: int) -> list:
    """Oracle CTEs replaying one greedy leftmost-nonoverlapping merge of
    iteration ``t``'s winning pair over every word spelling, via the
    gaps-and-islands spelling of the sequential scan: within each maximal
    run of consecutive pair matches, exactly the even-offset positions
    merge (runs longer than 1 occur only when the pair is (x, x), where
    alternating IS the greedy scan), and the position after a selected
    match is consumed."""
    a, b = f"(SELECT a FROM m{t})", f"(SELECT b FROM m{t})"
    return [
        f"u{t} AS (SELECT word, freq, ii.i, sp[ii.i] AS sym "
        f"FROM w{t}, LATERAL (SELECT unnest(range(1, len(sp) + 1)) AS i) ii)",
        f"mm{t} AS (SELECT word, freq, i, sym, "
        f"COALESCE(sym = {a} AND "
        f"lead(sym) OVER (PARTITION BY word ORDER BY i) = {b}, false) AS pm "
        f"FROM u{t})",
        f"g{t} AS (SELECT word, freq, i, sym, pm, "
        f"CASE WHEN pm THEN i - ROW_NUMBER() OVER "
        f"(PARTITION BY word, pm ORDER BY i) END AS grp FROM mm{t})",
        f"s{t} AS (SELECT word, freq, i, sym, CASE WHEN pm THEN "
        f"((i - MIN(i) OVER (PARTITION BY word, grp)) % 2 = 0) "
        f"ELSE false END AS selected FROM g{t})",
        f"k{t} AS (SELECT word, freq, i, sym, selected, "
        f"COALESCE(lag(selected) OVER (PARTITION BY word ORDER BY i), false) "
        f"AS consumed FROM s{t})",
        f"w{t + 1} AS (SELECT word, freq, "
        f"list(CASE WHEN selected THEN {a} || {b} ELSE sym END ORDER BY i) AS sp "
        f"FROM k{t} WHERE selected OR NOT consumed GROUP BY word, freq)",
    ]


def _bpe_oracle() -> str:
    ctes = [
        f"tok AS ({_TOKENS_SQL})",
        "w0 AS (SELECT token AS word, COUNT(*) AS freq, "
        "string_split(token, '') AS sp FROM tok GROUP BY token)",
    ]
    for t in range(_BPE_STEPS):
        ctes.append(
            f"p{t} AS (SELECT pr[1] AS a, pr[2] AS b, "
            f"CAST(SUM(freq) AS BIGINT) AS cnt "
            f"FROM (SELECT freq, unnest(list_zip(sp[1:len(sp)-1], sp[2:len(sp)])) "
            f"AS pr FROM w{t}) GROUP BY 1, 2)"
        )
        ctes.append(f"m{t} AS (SELECT a, b, cnt FROM p{t} ORDER BY cnt DESC, a, b LIMIT 1)")
        if t + 1 < _BPE_STEPS:
            ctes += _bpe_merge_ctes(t)
    finals = " UNION ALL ".join(
        f"SELECT {t + 1} AS step, a AS sym_a, b AS sym_b, cnt FROM m{t}"
        for t in range(_BPE_STEPS)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + finals


def _bpe_pair_counts(w: DataFrame) -> DataFrame:
    pairs = F.expr(
        "zip_with(slice(sp, 1, size(sp) - 1), slice(sp, 2, size(sp) - 1), "
        "(x, y) -> struct(x AS a, y AS b))"
    )
    return (
        w.select("freq", F.explode(pairs).alias("pr"))
        .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def _bpe_apply_merge(w: DataFrame, a: str, b: str) -> DataFrame:
    """One greedy leftmost scan as a single-pass fold: the accumulator
    carries (emitted symbols, pending symbol); a pending ``a`` followed
    by ``b`` emits the merged symbol and clears, anything else flushes
    pending. Identical semantics to the oracle's islands spelling."""
    merged = a + b
    nullstr = F.lit(None).cast("string")

    def step(acc, x):
        take = acc["pend"].eqNullSafe(F.lit(a)) & (x == F.lit(b))
        out = (
            F.when(take, F.concat(acc["out"], F.array(F.lit(merged))))
            .when(acc["pend"].isNull(), acc["out"])
            .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
        )
        return F.struct(
            out.alias("out"), F.when(take, nullstr).otherwise(x).alias("pend")
        )

    init = F.struct(
        F.expr("CAST(array() AS ARRAY<STRING>)").alias("out"), nullstr.alias("pend")
    )
    fin = lambda acc: F.when(  # noqa: E731
        acc["pend"].isNull(), acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))
    return w.withColumn("sp", F.aggregate(F.col("sp"), init, step, fin))


# The learned merge table is a K-bounded artifact (_BPE_STEPS rows of
# (step, a, b, count)) produced by a deterministic trainer loop; train
# and encode must share it anyway (that is the train/encode-consistency
# contract), so it is session-cached like the k-means codebook — one
# trainer run per (session, scale), llm_bpe_train surfaces it,
# llm_bpe_apply replays it (_bpe_merges_cached).


def _bpe_word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, sp) DISTINCT-word spelling table the trainer/encoder
    iterate on — |vocab| rows, not corpus rows."""
    return (
        tokens(spark, sf_dir)
        .groupBy(F.col("token").alias("word"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("sp", F.split("word", ""))
    )


@session_artifact
def _bpe_merges_cached(spark: SparkSession, sf_dir: str) -> list:
    w = _bpe_word_table(spark, sf_dir)
    rows = []
    for step_no in range(_BPE_STEPS):
        win = (
            _bpe_pair_counts(w)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .first()
        )
        rows.append((step_no + 1, win["a"], win["b"], int(win["cnt"])))
        if step_no + 1 < _BPE_STEPS:
            w = _bpe_apply_merge(w, win["a"], win["b"])
    return rows


@query("llm_bpe_train", oracle=_bpe_oracle())
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE merge training over the corpus — {n} iterations of the
    byte-pair-encoding loop every modern tokenizer is built from: count
    adjacent symbol pairs across word spellings (weighted by word
    frequency), adopt the most frequent pair (ties broken
    lexicographically), merge it greedily left-to-right in every
    spelling, repeat. Returns the learned merge table (step, pair,
    count) — step N's counts depend on step N-1's merges, so the hash
    check certifies the whole loop, not just the first count.

    Scale shape per iteration: pair counting is explode + hash agg
    (map-side partials; the shuffle carries |pair vocabulary| rows);
    the winner is a 1-row collect (same metadata-scale round-trip as
    llm_kmeans_cluster's codebook); the merge itself is a map-only
    higher-order fold over each spelling — no shuffle. Word spellings
    live on the DISTINCT-word table (|vocab| rows, not corpus rows),
    which is the standard trainer trick: corpus scale enters only
    through the initial frequency count. The oracle replays the greedy
    scan with a gaps-and-islands window construction (DuckDB's
    list_reduce cannot carry a struct accumulator) — two independent
    spellings of the same sequential semantics, hash-equal.
    """
    return spark.createDataFrame(
        _bpe_merges_cached(spark, sf_dir),
        "step int, sym_a string, sym_b string, cnt bigint",
    )


llm_bpe_train.__doc__ = llm_bpe_train.__doc__.format(n=_BPE_STEPS)


_SHUF_SHARDS = 16
_SHUF_SEED = 7  # epoch number: changing it permutes the whole order


@query(
    "llm_corpus_shuffle",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               (((doc_id + {_SHUF_SEED}) % 2147483648) * 2654435761)
                   % 4294967296 AS hv
        FROM documents)
    SELECT CAST(hv % {_SHUF_SHARDS} AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY hv % {_SHUF_SHARDS} ORDER BY hv, doc_id
           ) AS BIGINT) AS pos,
           doc_id
    FROM h
    """,
)
def llm_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EPOCH SHUFFLE — the reproducible global permutation
    every training run needs: each document gets a multiplicative-hash
    value seeded by the epoch number; the hash picks a shard and the
    (hash, doc_id) sort order within the shard gives the read position.
    Same seed -> identical order on any cluster, partitioning, or rerun;
    next epoch -> seed+1 re-permutes everything. This is the
    hash-shuffle trick that avoids materializing a global ORDER BY
    RAND() (not reproducible) or a total sort (one global exchange).

    Scale shape: one hash exchange on the shard key + per-shard local
    sort — shards sized to executors, no global ordering ever built.
    Exact integer hash arithmetic (Knuth multiplicative, the
    reshape_sample convention) is bit-identical in both engines.
    """
    from pyspark.sql import Window

    d = load_documents_wide(spark, sf_dir).select("doc_id")
    # 31-bit mask before the multiply keeps the product < 2^63 (see
    # _MIX_HASH) — identical values for doc_id + seed < 2^31, exact
    # cross-engine behavior for the full int64 doc_id domain.
    hv = (
        ((F.col("doc_id") + F.lit(_SHUF_SEED)) % F.lit(2147483648))
        * F.lit(2654435761)
    ) % F.lit(4294967296)
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    return (
        d.withColumn("hv", hv)
        .withColumn("shard", (F.col("hv") % _SHUF_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("shard", "pos", "doc_id")
    )


@query(
    "llm_dataset_split",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang, n_chars,
               (((doc_id + 13) % 2147483648) * 2654435761) % 4294967296 AS hv
        FROM documents)
    SELECT CASE WHEN hv < 3435973837 THEN 'train'
                WHEN hv < 3865470566 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM h GROUP BY 1, 2
    """,
)
def llm_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TRAIN/VAL/TEST split (80/10/10) — the assignment
    every training pipeline must make exactly once and never change: a
    seeded multiplicative hash on the document key buckets each doc, so
    the split is reproducible across reruns, partitionings, and engines,
    composes with joins (hash the same key in related tables and rows
    stay split-consistent), and pushes down as a plain predicate when
    materializing one split. The surfaced per-(split, lang) counts and
    exact char sums are what a split-audit dashboard shows — and what
    catches the classic bug of a split drifting between runs.

    Scale: the hash is a row-local expression (no sampling pass, no
    state); the audit is one map-side-combined aggregation.
    """
    d = load_documents_wide(spark, sf_dir)
    hv = (
        ((F.col("doc_id") + F.lit(13)) % F.lit(2147483648)) * F.lit(2654435761)
    ) % F.lit(4294967296)
    split = (
        F.when(hv < F.lit(3435973837), "train")  # 0.80 * 2^32
        .when(hv < F.lit(3865470566), "val")  # 0.90 * 2^32
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query(
    "llm_html_strip",
    oracle="""
    WITH html AS (
        SELECT doc_id,
               '<html><body><h1 class="t">' || lang || '</h1><p>' || text
                   || '</p><!-- footer --></body></html>' AS markup
        FROM documents)
    SELECT doc_id,
           length(regexp_replace(markup, '<[^>]*>', '', 'g')) AS n_visible,
           length(markup) AS n_raw
    FROM html
    """,
)
def llm_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the WET-extraction step every
    web-crawl corpus (Common-Crawl-style) runs before any text curation:
    drop markup tags/comments, keep visible text. The fixture wraps each
    document in deterministic markup (so the oracle can rebuild it) and
    the engine strips it with one regexp_replace — a pattern
    (``<[^>]*>``) whose semantics are identical in Java regex and RE2,
    keeping the two engines bit-compatible. Surfaced as visible-vs-raw
    lengths per doc — the ratio a crawl-quality dashboard tracks.

    Scale shape: map-only row-local regex in codegen, no shuffle, no
    Python; a 100 TB crawl strips at scan speed."""
    d = load_documents_wide(spark, sf_dir)
    markup = F.concat(
        F.lit('<html><body><h1 class="t">'),
        F.col("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><!-- footer --></body></html>"),
    )
    stripped = F.regexp_replace(markup, "<[^>]*>", "")
    return d.select(
        "doc_id",
        F.length(stripped).cast("long").alias("n_visible"),
        F.length(markup).cast("long").alias("n_raw"),
    )


# Content-defined chunking parameters: an 8-char polynomial rolling
# window (base 31) marks a boundary wherever hash % 64 == 0, giving
# ~64-char expected chunks.  All arithmetic stays below 2^53
# (127 * 31^7 * 8 < 2.8e13), so Spark BIGINT and DuckDB HUGEINT agree
# bit-exactly.  Powers are spelled as literals so both engines evaluate
# the identical 8-term polynomial.
_CDC_W = 8
_CDC_POWS = [31**k for k in range(_CDC_W)]
_CDC_DIV = 64


def _cdc_hash_terms_duck(at: str, idx: str) -> str:
    """Static windowed form of the rolling hash: the window ending at
    1-based ``idx`` hashes to sum of c[idx-k] * 31^k — the NEWEST char
    (k=0) carries 31^0 and the OLDEST (k=W-1) carries 31^(W-1), exactly
    what the Spark side's Rabin-Karp recurrence
    h' = (h - c_out*31^(W-1))*31 + c_in accumulates (warmup h*31+c puts
    the first char of the window on the highest power).

    Round-6 ADVICE: an earlier revision paired the exponents in REVERSE
    (newest char on 31^(W-1)).  Boundary sets still agreed, but only by
    a modular coincidence — 31^2 ≡ 1 (mod 64), so the two hashes
    differed by an invertible factor mod _CDC_DIV and had identical
    zero sets; any change to the base or divisor (e.g. _CDC_DIV=128,
    where ord(31) ∤ 2) would have silently broken oracle agreement.
    The pairing below is the literal Spark polynomial — engine-identical
    per-position hashes, no modular assumption (unit-pinned in
    tests/test_bpe_merge.py::test_cdc_static_hash_equals_rolling_fold).

    unicode() yields INT32; widen before multiplying (31^5 * 127 already
    overflows INT32, which DuckDB raises on rather than wraps)."""
    return " + ".join(
        f"CAST({at}[{idx} - {k}] AS BIGINT) * {_CDC_POWS[k]}"
        for k in range(_CDC_W)
    )


@query(
    "llm_cdc_chunking",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text AS t, length(text) AS n
        FROM documents WHERE length(text) >= 1),
    coded AS (
        SELECT doc_id, t, n,
               list_transform(string_split(t, ''), c -> unicode(c)) AS cs
        FROM base),
    marked AS (
        SELECT doc_id, t, n,
               list_sort(list_distinct(list_concat(list_concat(
                   [CAST(0 AS BIGINT)],
                   list_filter(range({_CDC_W}, n + 1),
                               i -> ({_cdc_hash_terms_duck('cs', 'i')})
                                    % {_CDC_DIV} = 0)),
                   [CAST(n AS BIGINT)]))) AS bounds
        FROM coded),
    idx AS (
        SELECT doc_id, t, bounds,
               UNNEST(range(1, len(bounds))) AS j
        FROM marked)
    SELECT doc_id,
           CAST(j - 1 AS INTEGER) AS chunk_idx,
           CAST(bounds[j] AS INTEGER) AS chunk_start,
           CAST(bounds[j + 1] - bounds[j] AS INTEGER) AS chunk_len,
           md5(substring(t, CAST(bounds[j] + 1 AS INTEGER),
                         CAST(bounds[j + 1] - bounds[j] AS INTEGER)))
               AS chunk_md5
    FROM idx
    """,
)
def llm_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING (rolling-hash boundaries, the FastCDC /
    rsync family): chunk borders fall where a windowed polynomial hash of
    the text hits a modulus class, so INSERTING OR DELETING text only
    moves the boundaries near the edit — every downstream chunk hash
    stays stable, which is what makes chunk-level dedup robust to
    shifted content where fixed windows (llm_doc_chunking) resynchronize
    never.  Emits per chunk: offset, length, and an md5 fingerprint —
    join chunk_md5 across snapshots to measure shared content.

    Execution is map-only: char codes via one array transform, then a
    SINGLE-PASS Rabin-Karp fold whose rolling hash updates in O(1) per
    character and appends boundary positions as it goes (exact integer
    arithmetic < 2^53, so the DuckDB replay — the equivalent static
    windowed polynomial — is bit-identical), chunks exploded from
    adjacent boundary pairs.  Nothing shuffles; at 100 TB this chunks at
    scan speed and the md5 column feeds the exact-dedup shuffle
    (llm_dedup_exact) at ~1/64th the input bytes."""
    d = load_documents_wide(spark, sf_dir).where(F.length("text") >= 1)
    coded = d.select(
        "doc_id",
        F.col("text").alias("t"),
        F.length("text").alias("n"),
        F.expr(
            "transform(split(text, ''), c -> ascii(c))"
        ).alias("cs"),
    )
    # Single-pass Rabin-Karp fold: the rolling hash updates in O(1) per
    # character (warmup h*31+c for the first W chars, then
    # (h - c_out*31^(W-1))*31 + c_in), against O(W) per position for the
    # static 8-term window — measured 8.4s -> ~3s on the sf0.1 corpus
    # (HOF lambdas evaluate interpreted, so per-char op count is the
    # cost).  The boundary-hit expression repeats the h update because
    # SQL lambdas have no let-binding; still ~2 multiplies per char.
    top_pow = _CDC_POWS[_CDC_W - 1]
    h_upd = (
        f"CASE WHEN i <= {_CDC_W} THEN acc.h * 31 + element_at(cs, i) "
        f"ELSE (acc.h - element_at(cs, i - {_CDC_W}) * {top_pow}L) * 31 "
        f"+ element_at(cs, i) END"
    )
    marked = coded.select(
        "doc_id",
        "t",
        F.expr(
            f"""array_sort(array_distinct(concat(
                aggregate(
                    sequence(1, n),
                    named_struct('h', 0L, 'bs', array(0)),
                    (acc, i) -> named_struct(
                        'h', {h_upd},
                        'bs', CASE WHEN i >= {_CDC_W}
                                   AND ({h_upd}) % {_CDC_DIV} = 0
                              THEN array_append(acc.bs, i)
                              ELSE acc.bs END),
                    acc -> acc.bs),
                array(n))))"""
        ).alias("bounds"),
    )
    chunks = marked.select(
        "doc_id",
        F.explode(
            F.expr(
                """transform(sequence(1, size(bounds) - 1), j -> struct(
                    cast(j - 1 as int) AS chunk_idx,
                    cast(element_at(bounds, j) as int) AS chunk_start,
                    cast(element_at(bounds, j + 1) - element_at(bounds, j)
                         as int) AS chunk_len,
                    substring(t, cast(element_at(bounds, j) + 1 as int),
                              cast(element_at(bounds, j + 1)
                                   - element_at(bounds, j) as int))
                        AS chunk_text))"""
            )
        ).alias("c"),
    )
    return chunks.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_start").alias("chunk_start"),
        F.col("c.chunk_len").alias("chunk_len"),
        F.md5(F.col("c.chunk_text")).alias("chunk_md5"),
    )


@query(
    "llm_ngram_novelty",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS ts
        FROM documents),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ts) - 1),
                   i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]))
                   AS gs
        FROM toks WHERE len(ts) >= 3),
    pairs AS (SELECT doc_id, UNNEST(gs) AS g FROM grams),
    first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM pairs GROUP BY g)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM pairs p JOIN first_seen f ON p.g = f.g
    GROUP BY p.doc_id
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY PROFILE: per document, the fraction of its distinct
    word trigrams never seen in any EARLIER document (by doc_id order) —
    the streaming-corpus memorization/duplication signal a curation
    pipeline tracks as data accumulates (a near-zero novelty doc is
    recycled content even when no single pair-wise match fires).

    "First seen" is computed globally as min(doc_id) per trigram — one
    hash aggregate on the trigram key (the same inverted-index shuffle
    llm_dedup_ngram rides, hashes not strings would cross the wire at
    100 TB) — then joined back and folded per doc.  The novelty ratio is
    one exact-integer division surfaced as double.  Documents under 3
    tokens carry no trigram and are excluded in both engines."""
    d = load_documents_wide(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.expr(
            r"filter(split(lower(text), '\\s+'), t -> t <> '')"
        ).alias("ts"),
    ).where(F.size("ts") >= 3)
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                """array_distinct(transform(sequence(1, size(ts) - 2),
                       i -> concat_ws(' ', element_at(ts, i),
                                      element_at(ts, i + 1),
                                      element_at(ts, i + 2))))"""
            )
        ).alias("g"),
    )
    first_seen = pairs.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        pairs.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count_if(F.col("first_doc") == F.col("doc_id")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_ngrams").cast("double")
            ).alias("novelty"),
        )
    )


@query(
    "llm_instruction_format",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS ts
        FROM documents),
    split_point AS (
        SELECT doc_id, lang, ts,
               CAST(GREATEST(1, LEAST(len(ts) - 1, 12)) AS INTEGER) AS k
        FROM toks WHERE len(ts) >= 2),
    parts AS (
        SELECT doc_id, lang, k,
               array_to_string(list_slice(ts, 1, k), ' ') AS prompt_text,
               array_to_string(list_slice(ts, k + 1, len(ts)), ' ')
                   AS completion_text
        FROM split_point)
    SELECT doc_id,
           CAST(length(prompt_text) AS BIGINT) AS n_prompt_chars,
           CAST(length(completion_text) AS BIGINT) AS n_completion_chars,
           md5('<|system|>lang=' || lang || '<|user|>' || prompt_text ||
               '<|assistant|>' || completion_text || '<|end|>')
               AS formatted_md5
    FROM parts
    """,
)
def llm_instruction_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT EXAMPLE FORMATTING: assemble each document into a chat-
    template training example — system header (metadata), user turn
    (the leading tokens as the pseudo-instruction), assistant turn (the
    remainder as the completion), terminated with an end token — and
    record the prompt/completion boundary lengths the loss-masking step
    downstream needs (mask everything before the assistant span).  The
    formatted text is fingerprinted (md5) rather than surfaced raw, the
    same discipline a template change audit uses: one hash per example
    proves byte-identical rendering across pipeline versions.

    Map-only string assembly in codegen — template changes never touch
    the shuffle layer; at 100 TB formatting runs at scan speed and the
    boundary arithmetic (token index -> char offset) stays exact
    because both engines split on the identical regex."""
    d = load_documents_wide(spark, sf_dir)
    toks = d.select(
        "doc_id",
        "lang",
        F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')").alias("ts"),
    ).where(F.size("ts") >= 2)
    parts = toks.select(
        "doc_id",
        "lang",
        F.expr("greatest(1, least(size(ts) - 1, 12))").alias("k"),
        "ts",
    ).select(
        "doc_id",
        "lang",
        F.expr("array_join(slice(ts, 1, k), ' ')").alias("prompt_text"),
        F.expr("array_join(slice(ts, k + 1, size(ts) - k), ' ')").alias(
            "completion_text"
        ),
    )
    return parts.select(
        "doc_id",
        F.length("prompt_text").cast("long").alias("n_prompt_chars"),
        F.length("completion_text").cast("long").alias("n_completion_chars"),
        F.md5(
            F.concat(
                F.lit("<|system|>lang="),
                F.col("lang"),
                F.lit("<|user|>"),
                F.col("prompt_text"),
                F.lit("<|assistant|>"),
                F.col("completion_text"),
                F.lit("<|end|>"),
            )
        ).alias("formatted_md5"),
    )


def _bpe_apply_oracle() -> str:
    """Train CTEs (as _bpe_oracle) but with the merge replayed after
    EVERY step — the final spelling table w{N} then encodes the corpus."""
    n = _BPE_STEPS
    ctes = [
        f"tok AS ({_TOKENS_SQL})",
        "w0 AS (SELECT token AS word, COUNT(*) AS freq, "
        "string_split(token, '') AS sp FROM tok GROUP BY token)",
    ]
    for t in range(n):
        ctes.append(
            f"p{t} AS (SELECT pr[1] AS a, pr[2] AS b, "
            f"CAST(SUM(freq) AS BIGINT) AS cnt "
            f"FROM (SELECT freq, unnest(list_zip(sp[1:len(sp)-1], sp[2:len(sp)])) "
            f"AS pr FROM w{t}) GROUP BY 1, 2)"
        )
        ctes.append(
            f"m{t} AS (SELECT a, b, cnt FROM p{t} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        ctes += _bpe_merge_ctes(t)
    final = (
        f"SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, "
        f"CAST(SUM(length(t.token)) AS BIGINT) AS n_chars, "
        f"CAST(SUM(len(w.sp)) AS BIGINT) AS n_symbols, "
        f"CAST(SUM(length(t.token)) AS DOUBLE) / "
        f"CAST(SUM(len(w.sp)) AS DOUBLE) AS chars_per_symbol "
        f"FROM tok t JOIN w{n} w ON t.token = w.word GROUP BY t.doc_id"
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + final


# The BPE merge table is a session artifact llm_bpe_train and this key
# share; prewarming builds it.
@query("llm_bpe_apply", oracle=_bpe_apply_oracle(), prewarm=True)
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the other half of llm_bpe_train: apply the LEARNED
    merge table to every word and report per-document tokenization
    stats (token count, raw chars, post-merge symbol count, and the
    chars-per-symbol compression the merges bought).  Training and
    encoding share one code path (`_bpe_apply_merge`'s greedy leftmost
    fold), exactly how a production tokenizer guarantees train/encode
    consistency; the oracle replays the full train-then-encode pipeline
    in SQL, so the hash certifies the merges AND their application.

    Scale: merges apply on the DISTINCT-word spelling table (|vocab|
    rows), then one equi-join brings the encoded lengths back to the
    (doc, token) stream — corpus size enters only through that join and
    the per-doc aggregate, both hash-partitioned; the learned merge
    table itself is the K-bounded driver round-trip (3 rows) the
    codebook precedent established."""
    w = _bpe_word_table(spark, sf_dir)
    for _step, a, b, _cnt in _bpe_merges_cached(spark, sf_dir):
        w = _bpe_apply_merge(w, a, b)
    tok = tokens(spark, sf_dir)
    enc = tok.join(
        w.select("word", F.size("sp").alias("n_sym")),
        tok.token == F.col("word"),
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.length("token")).alias("n_chars"),
        F.sum("n_sym").alias("n_symbols"),
        (
            F.sum(F.length("token")).cast("double")
            / F.sum("n_sym").cast("double")
        ).alias("chars_per_symbol"),
    )


@query(
    "llm_sentence_split",
    oracle=r"""
    WITH sents AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '[.!?]+\s+'),
                           s -> s <> '') AS ss
        FROM documents)
    SELECT doc_id,
           CAST(len(ss) AS INTEGER) AS n_sentences,
           CAST(list_sum(list_transform(ss, s -> length(s))) AS BIGINT)
               AS total_sentence_chars,
           CAST(list_max(list_transform(ss, s -> length(s))) AS INTEGER)
               AS max_sentence_chars,
           CAST(list_sum(list_transform(ss, s -> length(s))) AS DOUBLE)
               / CAST(len(ss) AS DOUBLE) AS mean_sentence_chars
    FROM sents WHERE len(ss) > 0
    """,
)
def llm_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTENCE SEGMENTATION: split each document on terminal
    punctuation runs followed by whitespace (``[.!?]+\\s+`` — a pattern
    whose semantics are identical in Java regex and RE2; lookbehind
    variants that would keep the punctuation are NOT RE2-expressible,
    so the shared-dialect split is the cross-engine-stable choice) and
    profile per-doc sentence structure — count, total/max length, mean
    length — the sentence-level statistics quality classifiers and
    chunkers key on.

    Map-only codegen (one split + three list transforms per row), no
    shuffle; the mean is one IEEE division of exact integers.  The
    final sentence keeps its trailing punctuation (no trailing
    separator to split on) — a stated convention, identical in both
    engines."""
    d = load_documents_wide(spark, sf_dir)
    sents = d.select(
        "doc_id",
        F.expr(r"filter(split(text, '[.!?]+\\s+'), s -> s <> '')").alias("ss"),
    ).where(F.size("ss") > 0)
    return sents.select(
        "doc_id",
        F.size("ss").alias("n_sentences"),
        F.expr(
            "aggregate(transform(ss, s -> length(s)), 0L, (a, x) -> a + x)"
        ).alias("total_sentence_chars"),
        F.expr("array_max(transform(ss, s -> length(s)))").alias(
            "max_sentence_chars"
        ),
        (
            F.expr(
                "aggregate(transform(ss, s -> length(s)), 0L, (a, x) -> a + x)"
            ).cast("double")
            / F.size("ss").cast("double")
        ).alias("mean_sentence_chars"),
    )


# Winnowing (the MOSS fingerprinting scheme): guarantee window size w=4
# over word-trigram hashes — any shared run of >= w+k-1 = 6 tokens is
# GUARANTEED to share a fingerprint, the detection floor hash sampling
# alone cannot promise.  Hash = first 32 bits of md5 (engine-portable:
# Spark conv(hex,16,10), DuckDB a fold over the hex digits).
_WIN_W = 4
_DUCK_HEX2INT = (
    "list_reduce(list_transform(string_split(substr(md5({g}), 1, 8), ''), "
    "c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN unicode(c) - 48 "
    "ELSE unicode(c) - 87 END AS BIGINT)), (a, x) -> a * 16 + x)"
)


@query(
    "llm_winnowing_fingerprint",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS ts
        FROM documents),
    grams AS (
        SELECT doc_id,
               list_transform(range(1, len(ts) - 1),
                   i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]) AS gs
        FROM toks WHERE len(ts) >= {_WIN_W + 2}),
    hashed AS (
        SELECT doc_id,
               list_transform(gs, g -> {_DUCK_HEX2INT.format(g='g')}) AS hs
        FROM grams),
    fp AS (
        SELECT doc_id, len(hs) AS n_kgrams,
               len(hs) - {_WIN_W - 1} AS n_windows,
               list_distinct(list_transform(
                   range(1, len(hs) - {_WIN_W - 2}),
                   p -> list_min(hs[p:p + {_WIN_W - 1}]))) AS fps
        FROM hashed)
    SELECT doc_id,
           CAST(n_kgrams AS INTEGER) AS n_kgrams,
           CAST(n_windows AS INTEGER) AS n_windows,
           CAST(len(fps) AS INTEGER) AS n_fingerprints,
           CAST(len(fps) AS DOUBLE) / CAST(n_windows AS DOUBLE) AS density
    FROM fp
    """,
)
def llm_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING (the MOSS local fingerprinting algorithm): slide a
    w-window over the word-trigram hash stream and keep each window's
    MINIMUM — any two documents sharing a token run of at least
    w + k - 1 = 6 words are GUARANTEED to share a fingerprint, the
    detection floor that plain hash sampling (select hashes ≡ 0 mod p)
    cannot promise because a match can fall entirely between samples.
    This is the third fingerprint family beside minhash (set
    resemblance) and simhash (vector proximity): winnowing detects
    CONTIGUOUS shared substrings, which is why plagiarism and license
    scanners use it.  Reported per doc: k-gram/window counts, distinct
    fingerprints, and the observed density (theory: expected 2/(w+1)).

    Map-only codegen — k-gram hashing and window minima are array
    transforms inside the scan; only doc stats leave the row.  The
    fingerprint-set equi-join (find docs sharing a fingerprint —
    llm_dedup_ngram's inverted-index shuffle) is the scale path this
    key's output feeds.  Hashes are the first 32 bits of md5, built
    identically in both engines (conv vs an explicit hex fold)."""
    d = load_documents_wide(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')").alias("ts"),
    ).where(F.size("ts") >= _WIN_W + 2)
    hashed = toks.select(
        "doc_id",
        F.expr(
            """transform(
                   transform(sequence(1, size(ts) - 2),
                       i -> concat_ws(' ', element_at(ts, i),
                                      element_at(ts, i + 1),
                                      element_at(ts, i + 2))),
                   g -> cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint))"""
        ).alias("hs"),
    )
    fp = hashed.select(
        "doc_id",
        F.size("hs").alias("n_kgrams"),
        (F.size("hs") - (_WIN_W - 1)).alias("n_windows"),
        F.expr(
            f"""array_distinct(transform(
                    sequence(1, size(hs) - {_WIN_W - 1}),
                    p -> array_min(slice(hs, p, {_WIN_W}))))"""
        ).alias("fps"),
    )
    return fp.select(
        "doc_id",
        "n_kgrams",
        "n_windows",
        F.size("fps").alias("n_fingerprints"),
        (
            F.size("fps").cast("double") / F.col("n_windows").cast("double")
        ).alias("density"),
    )


@query(
    "llm_token_entropy",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
    per_tok AS (
        SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token),
    per_doc AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct,
               SUM(c * CAST(ROUND(log2(c) * 1000000) AS BIGINT)) AS s_micro
        FROM per_tok GROUP BY doc_id)
    SELECT doc_id, n_tokens, CAST(n_distinct AS BIGINT) AS n_distinct,
           (n_tokens * CAST(ROUND(log2(n_tokens) * 1000000) AS BIGINT) - s_micro)
               / (n_tokens * 1000000.0) AS entropy_bits,
           n_tokens * CAST(ROUND(log2(n_tokens) * 1000000) AS BIGINT) - s_micro
               < 4000000 * n_tokens AS is_low_entropy
    FROM per_doc
    """,
)
def llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the information-
    density quality filter (low-entropy documents are boilerplate,
    keyword-stuffed, or machine-looped text; the signal complements
    llm_repetition_score, which only sees the single top token).

    H = log2(n) - (1/n) * sum_t c_t*log2(c_t), computed entirely in
    exact integer "micro-bits": mlog2(x) = round(log2(x)*1e6) as BIGINT
    (the one libm call per distinct count, rounded the way llm_tfidf
    rounds ln before any arithmetic touches it — JVM and DuckDB libm
    agree after 6-decimal rounding), so the per-doc sum is an exact
    order-independent integer, the entropy is ONE IEEE division of
    exact integers (< 2^53: docs are ~1e2 tokens, mlog2 <= ~7e6), and
    the H < 4.0-bit flag is a pure int64 comparison. Same plan shape as
    llm_repetition_score: one repartition on doc_id, then both
    aggregations are exchange-free.
    """
    per_tok = (
        tokens(spark, sf_dir)
        .repartition("doc_id")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def mlog2(col: F.Column) -> F.Column:
        return F.round(F.log2(col) * 1000000).cast("bigint")

    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * mlog2(F.col("c"))).alias("s_micro"),
    )
    h_micro = F.col("n_tokens") * mlog2(F.col("n_tokens")) - F.col("s_micro")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (h_micro / (F.col("n_tokens") * F.lit(1000000.0))).alias("entropy_bits"),
        (h_micro < 4000000 * F.col("n_tokens")).alias("is_low_entropy"),
    )
