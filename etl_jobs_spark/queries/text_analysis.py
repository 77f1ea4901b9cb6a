"""Text-analysis query declarations (SURVEY.md §7 step 7).

Each oracle is GENERATED from the same expression builders the Spark
operator uses (``operators/hashing.py``), so the two engines compute
the identical formula — the only duplication is the dialect, handled
inside the builders.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_jobs_spark import cache
from etl_jobs_spark.operators import text as TX
from etl_jobs_spark.operators.hashing import (
    char_shingles,
    hash60,
    norm_text,
    word_tokens,
)
from etl_jobs_spark.registry import register
from etl_jobs_spark.sources.readers import read_table

_N = norm_text("text", "duckdb")
_TOKS = word_tokens("n", "duckdb")
_NORM_SUB = f"(SELECT doc_id, lang, {_N} AS n FROM documents)"
_TOK_SUB = f"(SELECT doc_id, lang, n, {_TOKS} AS toks FROM {_NORM_SUB})"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT)                AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(len(regexp_extract_all(n, '{TX.BPE_RE}')) AS BIGINT)
                                                    AS n_bpe_tokens,
           round(CAST(length(replace(n, ' ', '')) AS DOUBLE) / len(toks), 4)
                                                    AS avg_token_len,
           CAST(length(n) AS BIGINT)                AS n_chars_norm
    FROM {_TOK_SUB}
    """,
)
def text_token_stats(spark, sf_dir):
    """Whitespace + BPE-ish token counting per document (map-only)."""
    return TX.token_stats(read_table(spark, sf_dir, "documents"))


def _lang_oracle() -> str:
    scores = {
        lang: TX.lang_score_sql("toks", lang, "duckdb")
        for lang in TX.LANG_ORDER
    }
    score_cols = ", ".join(
        f"{sql} AS score_{lang}" for lang, sql in scores.items()
    )
    pick = TX.lang_pick_sql({lg: f"score_{lg}" for lg in TX.LANG_ORDER})
    return f"""
    SELECT doc_id, declared_lang, {", ".join(f"score_{lg}" for lg in TX.LANG_ORDER)},
           {pick} AS predicted_lang
    FROM (SELECT doc_id, lang AS declared_lang, {score_cols} FROM {_TOK_SUB})
    """


@register("text_lang_id", oracle=_lang_oracle())
def text_lang_id(spark, sf_dir):
    """Marker-lexicon language ID with deterministic argmax."""
    return TX.lang_id(read_table(spark, sf_dir, "documents"))


_PUNCT = "CAST(length(regexp_replace(n, '[a-z0-9 ]', '', 'g')) AS DOUBLE)"
_STOP = TX.lang_score_sql("toks", "en", "duckdb")


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(length(n) AS BIGINT) AS n_chars_norm,
           round({_PUNCT} / greatest(length(n), 1), 4) AS punct_ratio,
           round(CAST({_STOP} AS DOUBLE) / len(toks), 4) AS stopword_ratio,
           round(CAST(length(replace(n, ' ', '')) AS DOUBLE) / len(toks), 4)
             AS avg_word_len,
           round(least(1.0, CAST(length(n) AS DOUBLE) / 200)
                 * (1.0 - least(1.0, {_PUNCT} / greatest(length(n), 1))), 4)
             AS quality
    FROM {_TOK_SUB}
    """,
)
def text_quality_score(spark, sf_dir):
    """Length/punctuation/stopword quality heuristics per document."""
    return TX.quality_score(read_table(spark, sf_dir, "documents"))


_SH = char_shingles("n", "duckdb")
_H60S = hash60("s", "duckdb")


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, md5(n) AS fingerprint,
           CAST(coalesce(
                 list_min(list_transform(sh, s -> {_H60S})),
                 {hash60("n", "duckdb")}) AS BIGINT) AS min_shingle_hash
    FROM (SELECT doc_id, n, {_SH} AS sh FROM {_NORM_SUB})
    """,
)
def text_fingerprint(spark, sf_dir):
    """md5 exact-dup fingerprint + min-shingle rolling-hash key."""
    return TX.fingerprint(read_table(spark, sf_dir, "documents"))


@register(
    "text_top_terms",
    oracle=f"""
    SELECT lang, tok, n, rnk FROM (
      SELECT lang, tok, n,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY n DESC, tok ASC) AS BIGINT) AS rnk
      FROM (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT lang, unnest(toks) AS tok FROM {_TOK_SUB})
        GROUP BY lang, tok))
    WHERE rnk <= 5
    """,
)
def text_top_terms(spark, sf_dir):
    """Top-5 terms per language: explode → count → rank — the
    vocabulary-profiling pass of a corpus pipeline. One shuffle for
    the count (map-side partial), one for the per-lang rank over the
    tiny aggregated table."""
    from pyspark.sql import Window, functions as F

    from etl_jobs_spark.operators.hashing import norm_text, word_tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.expr(word_tokens(norm_text("text", "spark"), "spark"))
        ).alias("tok"),
    )
    counts = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


@register(
    "text_tfidf",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(toks) AS tok FROM {_TOK_SUB}),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, tok),
    df AS (
      SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok, tf.tf,
           round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
    FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    """,
)
def text_tfidf(spark, sf_dir):
    """TF-IDF weights per (doc, term): tf from one explode+groupBy,
    df from a second aggregation over the same exploded table
    (persisted — it feeds both), idf = ln((N+1)/(df+1)) smoothed.
    The df table is tiny (vocabulary-sized) → broadcast joined back,
    so the fact-side never reshuffles."""
    from pyspark.sql import functions as F

    from etl_jobs_spark.operators.hashing import norm_text, word_tokens

    docs = read_table(spark, sf_dir, "documents")
    # NOT spread (optimization r15, measured): the exploded token
    # table is persisted (cache.track) and feeds two aggregations;
    # spreading the scan measured 1.18s -> 1.36s noop at sf0.1 — the
    # extra exchange outweighs tokenize parallelism on this path.
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(word_tokens(norm_text("text", "spark"), "spark"))
        ).alias("tok"),
    )
    toks = cache.track(toks)
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = docs.count()
    return tf.join(F.broadcast(df), "tok").select(
        "doc_id",
        "tok",
        "tf",
        F.round(
            F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("tfidf"),
    )


@register(
    "text_unigram_commonness",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(toks) AS t FROM {_TOK_SUB}),
    freq AS (
      SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY t),
    d AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(cnt) AS BIGINT) AS total
      FROM tok JOIN freq USING (t) GROUP BY doc_id)
    SELECT doc_id, n_tokens,
           CAST(total // n_tokens AS BIGINT) AS commonness
    FROM d
    """,
)
def text_unigram_commonness(spark, sf_dir):
    """Corpus-frequency commonness score: mean corpus count of a
    document's tokens (integer division — deterministic, no float
    log hazards). The classic unigram-LM quality signal shape:
    boilerplate scores high, rare-token noise scores low. One
    persisted token explode feeds the vocabulary count AND the
    per-doc aggregate; the vocabulary table broadcasts at scale (a
    corpus vocabulary is tiny next to the corpus)."""
    from pyspark.sql import functions as F

    from etl_jobs_spark.operators.hashing import norm_text, word_tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(word_tokens(norm_text("text", "spark"), "spark"))
        ).alias("t"),
    )
    toks = cache.track(toks)
    freq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        toks.join(F.broadcast(freq), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("total"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("CAST(total div n_tokens AS BIGINT)").alias("commonness"),
        )
    )


@register(
    "text_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(nc) AS BIGINT) AS n_chars,
           round(CAST(sum(nb) AS DOUBLE) / sum(nc), 4) AS tokens_per_char,
           round(CAST(sum(nc) AS DOUBLE) / sum(nw), 4) AS chars_per_word
    FROM (SELECT lang,
                 len(regexp_extract_all(n, '{TX.BPE_RE}')) AS nb,
                 length(n) AS nc,
                 len({_TOKS}) AS nw
          FROM {_NORM_SUB})
    GROUP BY lang
    """,
)
def text_fertility_by_lang(spark, sf_dir):
    """Per-language tokenizer fertility: BPE-ish tokens per character
    and characters per word — the corpus-planning numbers that decide
    how many TRAINING tokens a mixture actually yields per byte of
    each language (fertility varies a lot across scripts). Map-only
    per-doc counters + one tiny per-lang agg; at 100 TB the shuffle
    carries |langs| partial sums."""
    from pyspark.sql import functions as F

    from etl_jobs_spark.operators.hashing import norm_text, word_tokens
    from etl_jobs_spark.operators.text import BPE_RE

    docs = read_table(spark, sf_dir, "documents")
    n = norm_text("text", "spark")
    staged = docs.select(
        "lang", F.expr(n).alias("nrm")
    ).select(
        "lang",
        F.expr(f"CAST(size(regexp_extract_all(nrm, '{BPE_RE}', 0)) AS BIGINT)").alias("nb"),
        F.expr("CAST(length(nrm) AS BIGINT)").alias("nc"),
        F.expr(f"CAST(size({word_tokens('nrm', 'spark')}) AS BIGINT)").alias("nw"),
    )
    return staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nb").alias("n_bpe_tokens"),
        F.sum("nc").alias("n_chars"),
        F.expr("round(CAST(sum(nb) AS DOUBLE) / sum(nc), 4)").alias("tokens_per_char"),
        F.expr("round(CAST(sum(nc) AS DOUBLE) / sum(nw), 4)").alias("chars_per_word"),
    )


# ---------------------------------------------------------------------------
# Round-4 additions: C4-style boilerplate passage removal and a
# fastText-shaped linear quality classifier.
# ---------------------------------------------------------------------------

#: Passage width (words) for boilerplate detection; the planted
#: boilerplate phrase is exactly one passage wide.
BOILER_WORDS = 8
BOILER_PHRASE = "all rights reserved contact us terms of service"


def _tok_weight(tok: str, engine: str) -> str:
    """Deterministic per-token classifier weight in [-1000, 1000]:
    first 8 md5 hex chars -> uint32 -> mod 2001 - 1000. Stands in for
    a broadcast learned weight table; identical in both dialects."""
    if engine == "spark":
        return (
            f"(CAST(conv(substring(md5({tok}), 1, 8), 16, 10) AS BIGINT)"
            f" % 2001 - 1000)"
        )
    return f"((('0x' || substr(md5({tok}), 1, 8))::BIGINT) % 2001 - 1000)"


@register(
    "text_quality_classifier",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(toks,
                t -> {_tok_weight("t", "duckdb")})) AS BIGINT) AS score_sum,
           CASE WHEN list_sum(list_transform(toks,
                t -> {_tok_weight("t", "duckdb")})) >= 0
                THEN 'keep' ELSE 'drop' END AS label
    FROM {_TOK_SUB}
    """,
)
def text_quality_classifier(spark, sf_dir):
    """fastText-shaped linear quality classifier applied at scale:
    per-token weights (a stand-in for a broadcast learned weight
    table, derived deterministically from the token hash) summed per
    document with ``aggregate()`` over the token array — a MAP-ONLY
    stage, zero shuffle, whole-stage codegen; the classic
    model-based quality filter (CCNet/fastText) without leaving the
    JVM. Integer weights and no division, so the SQL restatement
    (explode-free on Spark, list_transform on DuckDB) hash-matches
    exactly."""
    import pyspark.sql.functions as F

    w = _tok_weight("t", "spark")
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.expr(f"split({norm_text('text', 'spark')}, ' ')").alias("toks"),
        )
        .select(
            "doc_id",
            F.expr("CAST(size(toks) AS BIGINT)").alias("n_tokens"),
            F.expr(
                f"aggregate(toks, CAST(0 AS BIGINT), (acc, t) -> acc + {w})"
            ).alias("score_sum"),
        )
        .withColumn(
            "label",
            F.expr("CASE WHEN score_sum >= 0 THEN 'keep' ELSE 'drop' END"),
        )
    )


def _boiler_oracle() -> str:
    planted = (
        f"CASE WHEN doc_id % 3 = 0 THEN '{BOILER_PHRASE} ' || n ELSE n END"
    )
    return f"""
    WITH corpus AS (
        SELECT doc_id, string_split({planted}, ' ') AS toks
        FROM (SELECT doc_id, {_N} AS n FROM documents)
    ),
    passages AS (
        SELECT doc_id, u.i AS passage_idx,
               md5(array_to_string(
                   list_slice(toks, (u.i - 1) * {BOILER_WORDS} + 1,
                              u.i * {BOILER_WORDS}), ' ')) AS ph
        FROM corpus,
             unnest(range(1, CAST(ceil(len(toks) / {BOILER_WORDS}.0)
                                  AS BIGINT) + 1)) u(i)
    ),
    freq AS (
        SELECT ph, count(DISTINCT doc_id) AS n_docs FROM passages GROUP BY ph
    ),
    total AS (SELECT count(*) AS n FROM documents),
    boiler AS (
        SELECT ph FROM freq, total WHERE n_docs * 10 > total.n
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(sum(CASE WHEN b.ph IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN b.ph IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped
    FROM passages p LEFT JOIN boiler b ON p.ph = b.ph
    GROUP BY p.doc_id
    """


@register("text_boilerplate_removal", oracle=_boiler_oracle())
def text_boilerplate_removal(spark, sf_dir):
    """C4-style boilerplate passage removal: chunk each document into
    fixed-width passages, hash them, and drop any passage appearing
    in more than 10% of documents (the planted legal-footer phrase on
    every third doc demonstrates the removal; organic passages stay).
    Plan shape at 100 TB: passage explode is linear, the frequency
    agg shuffles md5 hashes (never passage text), the boilerplate set is
    tiny and BROADCAST into the final anti-join-style count — the
    corpus is read once."""
    import pyspark.sql.functions as F

    planted = (
        f"CASE WHEN doc_id % 3 = 0 "
        f"THEN concat('{BOILER_PHRASE} ', n) ELSE n END"
    )
    docs = read_table(spark, sf_dir, "documents")
    passages = (
        docs.select(
            "doc_id", F.expr(norm_text("text", "spark")).alias("n")
        )
        .select("doc_id", F.expr(f"split({planted}, ' ')").alias("toks"))
        .select(
            "doc_id",
            F.expr(
                f"explode(transform("
                f"  sequence(1, CAST(ceil(size(toks) / {BOILER_WORDS}.0) AS INT)),"
                f"  i -> md5(array_join("
                f"    slice(toks, (i - 1) * {BOILER_WORDS} + 1, {BOILER_WORDS}),"
                f"    ' '))))"
            ).alias("ph"),
        )
    )
    passages = cache.track(passages)
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    boiler = (
        passages.groupBy("ph")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .crossJoin(total)
        .filter(F.col("n_docs") * 10 > F.col("n_total"))
        .select("ph", F.lit(1).alias("is_boiler"))
    )
    return (
        passages.join(F.broadcast(boiler), "ph", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(
                F.when(F.col("is_boiler").isNull(), 1).otherwise(0)
            ).alias("n_kept"),
            F.sum(
                F.when(F.col("is_boiler").isNull(), 0).otherwise(1)
            ).alias("n_dropped"),
        )
    )


#: Integer micro-log2 lookup table: L2M[i] = round(log2(i) * 1e6),
#: i in 1..1024 — precomputed in Python once and embedded as the
#: SAME literal array in both engines, so entropy arithmetic is
#: pure integers (no cross-engine libm drift possible).
_L2M = [round(__import__("math").log2(i) * 1_000_000) for i in range(1, 1025)]


def _entropy_oracle() -> str:
    from etl_jobs_spark.operators.hashing import norm_text, word_tokens

    n = norm_text("text", "duckdb")
    toks = word_tokens("n", "duckdb")
    lut = "[" + ",".join(str(v) for v in _L2M) + "]"
    return f"""
    WITH tk AS (
      SELECT doc_id, unnest({toks}) AS tok
      FROM (SELECT doc_id, {n} AS n FROM documents)),
    cnt AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      FROM tk GROUP BY doc_id, tok),
    agg AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_toks,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(c * ({lut}[CAST((SELECT sum(c2.c) FROM cnt c2
                                       WHERE c2.doc_id = cnt.doc_id)
                                  AS INT)]
                           - {lut}[CAST(c AS INT)])) AS BIGINT) AS terms
      FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_toks, n_distinct,
           CAST(terms // n_toks AS BIGINT) AS entropy_micro
    FROM agg
    """


@register("text_token_entropy", oracle=_entropy_oracle())
def text_token_entropy(spark, sf_dir):
    """Shannon entropy of each document's token distribution — the
    lexical-diversity quality signal (low entropy = repetitive/
    templated text, the Gopher-rule family's information-theoretic
    cousin) — computed BIT-EXACTLY across engines by replacing libm
    log2 with a shared 1024-entry integer micro-log lookup embedded
    as a literal in both dialects: H_micro = Σ c·(L2M[n] − L2M[c])
    DIV n, all BIGINT. Scale shape: one explode + one (doc, token)
    hash aggregation + one per-doc aggregation — the same two-shuffle
    profile as text_tfidf; the LUT constant-folds, so the per-row
    work is two array indexes inside codegen."""
    from etl_jobs_spark.operators.hashing import norm_text, word_tokens

    n = norm_text("text", "spark")
    toks = word_tokens(n, "spark")
    lut = "array(" + ",".join(str(v) for v in _L2M) + ")"
    docs = read_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(F.expr(toks)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_toks"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.collect_list("c").alias("cs"),
        )
        .select(
            "doc_id",
            "n_toks",
            "n_distinct",
            F.expr(
                f"CAST(aggregate(cs, 0L, (acc, c) -> acc + c * "
                f"(element_at({lut}, CAST(n_toks AS INT)) - "
                f"element_at({lut}, CAST(c AS INT)))) DIV n_toks AS BIGINT)"
            ).alias("entropy_micro"),
        )
    )


def _log2_milli(v: str, engine: str) -> str:
    """Deterministic milli-log2 of a positive BIGINT of ANY size:
    shift ``v`` down into the 1024-entry LUT's range (k = bit_length
    − 10, via ``bin()`` which both engines share) and add k whole
    bits back — log2 truncated to a 10-bit mantissa, exact integer
    arithmetic end to end. Milli (not micro) units keep the Zipf
    regression's n·Σxy term inside BIGINT."""
    lut = (
        "array(" + ",".join(str(x) for x in _L2M) + ")"
        if engine == "spark"
        else "[" + ",".join(str(x) for x in _L2M) + "]"
    )
    k = f"greatest(0, length(bin({v})) - 10)"
    if engine == "spark":
        shifted = f"shiftright({v}, CAST({k} AS INT))"
        lu = f"element_at({lut}, CAST({shifted} AS INT))"
    else:
        shifted = f"({v} >> ({k}))"
        lu = f"{lut}[CAST({shifted} AS INT)]"
    d = "DIV" if engine == "spark" else "//"
    return f"(({lu} + CAST({k} AS BIGINT) * 1000000) {d} 1000)"


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH tk AS (
      SELECT lang, unnest({word_tokens(norm_text("text", "duckdb"), "duckdb")})
             AS tok
      FROM documents),
    freq AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM tk GROUP BY lang, tok),
    ranked AS (
      SELECT lang, tok, c,
             row_number() OVER (PARTITION BY lang
                                ORDER BY c DESC, tok ASC) AS rnk
      FROM freq),
    pts AS (
      SELECT lang,
             {_log2_milli("rnk", "duckdb")} AS x,
             {_log2_milli("c", "duckdb")} AS y
      FROM ranked WHERE rnk <= 1000),
    sums AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY lang)
    SELECT lang, n,
           CAST((n * sxy - sx * sy) * 1000
                // (n * sxx - sx * sx) AS BIGINT) AS zipf_slope_milli
    FROM sums
    """,
)
def text_zipf_slope(spark, sf_dir):
    """Zipf-law fit per language: least-squares slope of log-freq vs
    log-rank over the top-1000 vocabulary — the corpus-health
    diagnostic (natural language sits near −1; templated/synthetic
    text drifts off). Every term is integer: ranks and counts go
    through the shared truncated-mantissa milli-log2 (so corpus-
    scale counts need no giant LUT), and the closed-form slope is
    exact BIGINT arithmetic — the float-discipline pattern applied
    to a whole regression. Scale shape: one (lang, token) hash agg,
    a per-lang rank window over the |vocab|-sized table (not the
    corpus), then a 5-sum aggregate; output is |langs| rows."""
    from pyspark.sql import Window as W

    n = norm_text("text", "spark")
    toks = word_tokens(n, "spark")
    docs = read_table(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(F.expr(toks)).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.partitionBy("lang").orderBy(F.col("c").desc(), F.col("tok").asc())
    pts = (
        freq.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 1000)
        .select(
            "lang",
            F.expr(_log2_milli("rnk", "spark")).alias("x"),
            F.expr(_log2_milli("c", "spark")).alias("y"),
        )
    )
    sums = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return sums.select(
        "lang",
        "n",
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000 DIV (n * sxx - sx * sx) "
            "AS BIGINT)"
        ).alias("zipf_slope_milli"),
    )


#: Fixed BPE merge table (rank order = application order): the
#: engine applies merges greedily by RANK, the standard BPE-apply
#: semantics. A real deployment broadcasts a learned table; a fixed
#: literal table keeps the operator oracle-checkable.
_BPE_MERGES = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("in", "g"), ("t", "o"), ("o", "u"), ("the", "r"),
)


def _bpe_spaced(engine: str) -> str:
    """The pre-merge BPE symbol string: lowercase letters only,
    words fenced by the '§' marker (no merge crosses it), every
    char spaced out. Shared by the apply phase (text_bpe_tokenize)
    and the learn phase (text_bpe_learn)."""
    if engine == "spark":
        base = (
            "regexp_replace(regexp_replace(lower(text),"
            " '[^a-z ]', ''), '\\\\s+', ' ')"
        )
        return (
            f"trim(regexp_replace(replace({base}, ' ', ' § '),"
            " '([a-z§])', '$1 '))"
        )
    base = (
        "regexp_replace(regexp_replace(lower(text),"
        " '[^a-z ]', '', 'g'), '\\s+', ' ', 'g')"
    )
    return (
        f"trim(regexp_replace(replace({base}, ' ', ' § '),"
        " '([a-z§])', '\\1 ', 'g'))"
    )


def _bpe_expr(engine: str) -> str:
    """Space-separated BPE symbol string for the normalized text
    with each fixed merge applied globally in rank order. Pure
    chained regexp_replace — fused, JVM-side, no UDF; identical
    construction in both dialects."""
    expr = _bpe_spaced(engine)
    for a, b in _BPE_MERGES:
        expr = f"replace({expr}, '{a} {b}', '{a}{b}')"
    return expr


@register(
    "text_bpe_tokenize",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split({_bpe_expr("duckdb")}, ' ') AS symbols
      FROM documents)
    SELECT doc_id, lang,
           CAST(len(list_filter(symbols, s -> s <> '§' AND s <> ''))
                AS BIGINT) AS n_tokens,
           CAST(len(list_filter(symbols, s -> len(s) > 1 AND s <> '§'))
                AS BIGINT) AS n_merged,
           CAST(len(list_distinct(list_filter(symbols,
                                  s -> s <> '§' AND s <> '')))
                AS BIGINT) AS n_vocab
    FROM toks
    """,
)
def text_bpe_tokenize(spark, sf_dir):
    """REAL BPE tokenization (apply phase): characters are fused by
    a fixed rank-ordered merge table — greedy by rank, the exact
    application rule of byte-pair-encoding tokenizers — and each
    document reports its post-merge token count, how many tokens are
    merged (multi-char) symbols, and its distinct-symbol vocabulary.
    The whole merge chain compiles to nested replace() calls over a
    spaced-out character string: one fused JVM projection per row,
    NO Python UDF, word boundaries fenced so merges never cross
    words. The oracle replays the identical chain, so a wrong merge
    order — the classic BPE-apply bug, rank order is semantics —
    flips the hash. At 100 TB this is the map-only pre-tokenization
    census that sizes a training run; a learned merge table arrives
    as a broadcast literal the same way."""
    docs = read_table(spark, sf_dir, "documents")
    sym = F.expr(f"split({_bpe_expr('spark')}, ' ')")
    toks = docs.select("doc_id", "lang", sym.alias("symbols"))
    not_fence = F.expr("filter(symbols, s -> s <> '§' AND s <> '')")
    return toks.select(
        "doc_id",
        "lang",
        F.size(not_fence).cast("bigint").alias("n_tokens"),
        F.size(
            F.expr("filter(symbols, s -> length(s) > 1 AND s <> '§')")
        )
        .cast("bigint")
        .alias("n_merged"),
        F.size(F.array_distinct(not_fence)).cast("bigint").alias(
            "n_vocab"
        ),
    )


#: Feature-hashing dimensionality (the hashing-trick vector width).
_FH_DIM = 16


def _fh_oracle() -> str:
    from etl_jobs_spark.operators.hashing import hash60

    bucket = hash60("'fh:' || t", "duckdb")
    sign = hash60("'fhs:' || t", "duckdb")
    cols = ",\n           ".join(
        f"CAST(sum(CASE WHEN ({bucket}) % {_FH_DIM} = {i} THEN"
        f" CASE WHEN ({sign}) % 2 = 0 THEN 1 ELSE -1 END"
        f" ELSE 0 END) AS BIGINT) AS f{i}"
        for i in range(_FH_DIM)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({norm_text("text", "duckdb")}, ' ')) AS t
      FROM documents)
    SELECT doc_id,
           {cols}
    FROM toks GROUP BY doc_id
    """


@register("text_hashing_trick_features", oracle=_fh_oracle())
def text_hashing_trick_features(spark, sf_dir):
    """FEATURE HASHING (the hashing trick): each document's
    bag-of-words projected into a fixed {_FH_DIM}-dim signed integer
    vector — bucket = hash(token) mod dim, sign = a second
    independent hash — the model-free text embedding that needs no
    vocabulary, no fitting, and no parameter shipping (Weinberger et
    al.; the featurizer behind Vowpal Wabbit and spark.ml's
    HashingTF, here with the signed variant that keeps collisions
    unbiased). Exactly reproducible anywhere because the hash is the
    engine-portable md5-hash60. Scale shape: explode + ONE hash
    aggregation keyed by doc (map-side combinable conditional sums);
    the output is the dense feature table a downstream classifier or
    ANN tier consumes — pipelines here feed text_quality_classifier
    -style linear scorers without any Python in the loop."""
    from etl_jobs_spark.operators.hashing import hash60, norm_text

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"split({norm_text('text', 'spark')}, ' ')")
        ).alias("t"),
    )
    bucket = F.expr(hash60("concat('fh:', t)", "spark")) % _FH_DIM
    sign = F.when(
        F.expr(hash60("concat('fhs:', t)", "spark")) % 2 == 0, 1
    ).otherwise(-1)
    aggs = [
        F.sum(F.when(bucket == i, sign).otherwise(0))
        .cast("bigint")
        .alias(f"f{i}")
        for i in range(_FH_DIM)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def _langid_eval_oracle() -> str:
    """Confusion matrix + accuracy of the marker-lexicon language ID
    against the declared labels, built on the registered lang-id
    oracle (nested as a CTE — the eval inherits its verification)."""
    from etl_jobs_spark.registry import _REGISTRY

    pred = _REGISTRY["text_lang_id"].oracle
    return f"""
    WITH pred AS ({pred}),
    cells AS (
      SELECT declared_lang, predicted_lang,
             CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(sum(CASE WHEN declared_lang = predicted_lang
                           THEN n ELSE 0 END) AS BIGINT) AS correct
      FROM cells)
    SELECT c.declared_lang, c.predicted_lang, c.n,
           CAST(t.correct * 10000 // t.total AS BIGINT)
             AS overall_accuracy_bp
    FROM cells c CROSS JOIN tot t
    """


@register("text_langid_confusion_eval", oracle=_langid_eval_oracle())
def text_langid_confusion_eval(spark, sf_dir):
    """Language-ID QUALITY EVALUATION: the marker-lexicon classifier
    (text_lang_id) scored against the corpus's declared labels as a
    full confusion matrix, every row carrying the overall accuracy
    in basis points — the third self-audit tier after
    ann_recall_eval and dedup_lsh_recall_eval (classifier, ANN, and
    dedup approximations are all measured by first-class jobs whose
    arithmetic AND inputs are oracle-restated). The confusion matrix
    is what routing decisions read: WHICH languages leak into which
    (not just how many). Scale shape: the classifier is map-only;
    the eval adds one |langs|² aggregation."""
    pred = TX.lang_id(read_table(spark, sf_dir, "documents"))
    cells = pred.groupBy("declared_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.sum(
            F.when(
                F.col("declared_lang") == F.col("predicted_lang"),
                F.col("n"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("correct"),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "declared_lang",
        "predicted_lang",
        "n",
        F.expr("CAST(correct * 10000 DIV total AS BIGINT)").alias(
            "overall_accuracy_bp"
        ),
    )


#: Merge rounds learned by text_bpe_learn. Bounded and unrolled in
#: the oracle: each round is one corpus pair-count + argmax + apply.
_BPE_LEARN_ROUNDS = 8


def _bpe_learn_parts() -> list:
    """The iterative learner unrolled as CTE stages (doc identity
    carried through so downstream oracles can read the post-merge
    corpus s{R} as well as the merge tables m0..m{R-1})."""
    parts = [
        f"s0 AS (SELECT doc_id, lang, {_bpe_spaced('duckdb')} AS s"
        " FROM documents)"
    ]
    for r in range(_BPE_LEARN_ROUNDS):
        parts.append(
            f"""p{r} AS (
      SELECT z[1] AS a, z[2] AS b, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(list_zip(string_split(s, ' '),
                                   string_split(s, ' ')[2:])) AS z
            FROM s{r}) zz
      WHERE z[2] IS NOT NULL AND z[1] <> '§' AND z[2] <> '§'
        AND z[1] <> '' AND z[2] <> ''
      GROUP BY 1, 2),
    m{r} AS (
      SELECT a, b, n FROM p{r}
      ORDER BY n DESC, a ASC, b ASC LIMIT 1),
    s{r + 1} AS (
      SELECT doc_id, lang,
             replace(s, m.a || ' ' || m.b, m.a || m.b) AS s
      FROM s{r} CROSS JOIN m{r} m)"""
        )
    return parts


def _bpe_learn_oracle() -> str:
    """The SAME iterative learner unrolled as CTE stages: the
    oracle independently re-learns the merge table rather than being
    handed it — a wrong pair count, tie-break, or apply order in
    either engine flips the hash."""
    union = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a AS left_sym,"
        f" b AS right_sym, n AS pair_count FROM m{r}"
        for r in range(_BPE_LEARN_ROUNDS)
    )
    return "WITH " + ",\n    ".join(_bpe_learn_parts()) + "\n    " + union


@register("text_bpe_learn", oracle=_bpe_learn_oracle())
def text_bpe_learn(spark, sf_dir):
    """BPE merge-table LEARNING — the distributed tokenizer-training
    step a corpus build runs once, upstream of text_bpe_tokenize's
    apply phase. Classic byte-pair-encoding fitting (Sennrich et
    al.), bounded to {_BPE_LEARN_ROUNDS} rounds: per round, (1)
    count adjacent symbol pairs corpus-wide — an explode into ONE
    map-side-combinable keyed aggregation, the only shuffle; (2)
    take the argmax pair under the deterministic total order
    (count DESC, left ASC, right ASC) — a one-row reduce to the
    driver, the same bounded-driver-data pattern as the IVF
    centroid fit; (3) fuse that pair everywhere via a JVM-side
    replace() appended to the projection chain — no UDF. The spaced
    corpus is materialized once (the 3-regex spacing chain is the
    expensive projection); each round replays r cheap replaces from
    that cached base. At 100 TB the cache becomes a staged parquet
    of the spaced corpus — written once, scanned R times. The oracle
    re-learns the table independently with the identical unrolled
    iteration, so merges must agree EXACTLY, rank by rank,
    cross-engine. Word boundaries are fenced ('§') so no merge
    crosses words."""
    merges = _learn_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank long, left_sym string, right_sym string, "
        "pair_count long"
    )


def _learn_merges(spark, sf_dir):
    """The BPE fit (memoized per session+corpus — text_bpe_learn
    reports it, text_bpe_apply_learned consumes it)."""
    from etl_jobs_spark.queries._shared import session_memo

    return session_memo(
        spark, "bpe_merges", sf_dir, lambda: _learn_merges_fit(spark, sf_dir)
    )


def _learn_merges_fit(spark, sf_dir):
    return fit_bpe_merges(
        read_table(spark, sf_dir, "documents"), _BPE_LEARN_ROUNDS
    )


def fit_bpe_merges(docs, n_rounds):
    """The BPE fit over any DataFrame with a ``text`` column —
    separated from the fixture read so
    tests/test_bpe_property.py can cross-check the learned table
    against a pure-Python reference on arbitrary corpora."""
    # The spaced-out corpus is computed (and cached) ONCE: the
    # 3-regex spacing chain is the expensive projection, and every
    # round's replace chain replays from this cached base. The
    # repartition spreads the single-file fixture across the
    # executor threads — on a real cluster the source is already
    # partitioned.
    base = cache.track(
        docs.repartition(32).select(
            F.expr(_bpe_spaced("spark")).alias("s")
        )
    )
    # Adjacent pairs from ONE split per row: index lookups into the
    # materialized symbol array, never a re-split per element.
    pair_struct = (
        "filter(transform(slice(syms, 1, size(syms) - 1), (x, i) -> "
        "struct(x AS a, syms[i + 1] AS b)), "
        "p -> p.a <> '§' AND p.b <> '§' "
        "AND p.a <> '' AND p.b <> '')"
    )
    cur = base
    merges = []
    for r in range(n_rounds):
        top = (
            cur.select(F.expr("split(s, ' ')").alias("syms"))
            .select(F.explode(F.expr(pair_struct)).alias("z"))
            .groupBy(F.col("z.a").alias("a"), F.col("z.b").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            # corpus exhausted (or empty): no pair left to merge —
            # stop emitting rounds, matching the oracle's empty
            # per-round CTEs (round-11 empty-input axis)
            break
        best = top[0]
        merges.append((r, best.a, best.b, best.n))
        # symbols are [a-z§]+ only — safe to inline in the literal
        cur = cur.select(
            F.expr(
                f"replace(s, '{best.a} {best.b}', "
                f"'{best.a}{best.b}') AS s"
            )
        )
    return merges


#: Backslash-free PII patterns (identical bytes in both dialects —
#: no escaping divergence): synthetic emails, the fixture phone
#: shape, dotted-quad IPs.
_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
_PII_PHONE = "[+]1-555-[0-9][0-9][0-9][0-9]"
_PII_IP = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"


def _pii_dirty(engine: str) -> str:
    """Deterministic PII injection (the planted-corpus pattern):
    doc_id % 3 == 0 gains an email, % 5 == 0 a phone, % 7 == 0 an
    IP — so redaction counts are non-trivial and exactly
    predictable. Identical concat in both dialects."""
    did = "CAST(doc_id AS VARCHAR)" if engine == "duckdb" else (
        "CAST(doc_id AS STRING)"
    )
    pad = f"lpad(CAST(doc_id % 10000 AS {'VARCHAR' if engine == 'duckdb' else 'STRING'}), 4, '0')"
    return (
        f"text || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || {did}"
        f" || '@example.com' ELSE '' END"
        f" || CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-' || {pad}"
        f" ELSE '' END"
        f" || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' ||"
        f" CAST(doc_id % 256 AS {'VARCHAR' if engine == 'duckdb' else 'STRING'})"
        f" || '.1' ELSE '' END"
    )


@register(
    "text_pii_redact",
    oracle=f"""
    WITH dirty AS (
      SELECT doc_id, {_pii_dirty("duckdb")} AS t FROM documents),
    red AS (
      SELECT doc_id, t,
             regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g'),
               '{_PII_IP}', '[IP]', 'g') AS r
      FROM dirty)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT)
             AS n_ips,
           CAST(length(r) AS BIGINT) AS redacted_len,
           md5(r) AS redacted_md5
    FROM red
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII detection + redaction — the scrubbing gate every
    training-corpus build runs before anything else: emails, phone
    numbers, and IPs are counted and replaced with typed
    placeholders, and the redacted text is fingerprinted (md5) so
    the oracle verifies the EXACT output bytes, not just counts.
    The fixture text is synthetic word-salad, so PII is injected
    deterministically from doc_id (the planted-corpus discipline) —
    detection totals are exactly predictable. All three patterns
    are backslash-free (byte-identical across dialects) and the
    whole operator is ONE fused map-only projection: chained
    regexp_replace + regexp_extract_all counts, no UDF, no shuffle.
    At 100 TB this is the cheapest possible shape — a single
    codegen'd scan."""
    docs = read_table(spark, sf_dir, "documents")
    t = F.expr(_pii_dirty("spark"))
    r = F.expr(
        "regexp_replace(regexp_replace(regexp_replace("
        + _pii_dirty("spark")
        + f", '{_PII_EMAIL}', '[EMAIL]'),"
        f" '{_PII_PHONE}', '[PHONE]'),"
        f" '{_PII_IP}', '[IP]')"
    )
    return docs.select(
        "doc_id",
        F.expr(
            f"CAST(size(regexp_extract_all({_pii_dirty('spark')},"
            f" '{_PII_EMAIL}', 0)) AS BIGINT)"
        ).alias("n_emails"),
        F.expr(
            f"CAST(size(regexp_extract_all({_pii_dirty('spark')},"
            f" '{_PII_PHONE}', 0)) AS BIGINT)"
        ).alias("n_phones"),
        F.expr(
            f"CAST(size(regexp_extract_all({_pii_dirty('spark')},"
            f" '{_PII_IP}', 0)) AS BIGINT)"
        ).alias("n_ips"),
        F.length(r).cast("bigint").alias("redacted_len"),
        F.md5(r).alias("redacted_md5"),
    )


def _bpe_apply_oracle() -> str:
    R = _BPE_LEARN_ROUNDS
    return (
        "WITH "
        + ",\n    ".join(_bpe_learn_parts())
        + f""",
    toks AS (
      SELECT doc_id, lang, string_split(s, ' ') AS symbols
      FROM s{R})
    SELECT doc_id, lang,
           CAST(len(list_filter(symbols, x -> x <> '§' AND x <> ''))
                AS BIGINT) AS n_tokens,
           CAST(len(list_filter(symbols, x -> len(x) > 1 AND x <> '§'))
                AS BIGINT) AS n_merged,
           CAST(len(list_distinct(list_filter(symbols,
                                  x -> x <> '§' AND x <> '')))
                AS BIGINT) AS n_vocab
    FROM toks
    """
    )


@register("text_bpe_apply_learned", oracle=_bpe_apply_oracle())
def text_bpe_apply_learned(spark, sf_dir):
    """Train→apply END-TO-END: the merge table LEARNED by
    text_bpe_learn (memoized — fit once per session+corpus) is
    applied back over the corpus, and each document reports its
    post-merge token census (same columns as the fixed-table
    text_bpe_tokenize, now under the data-derived vocabulary). The
    oracle replays the full learn-then-apply chain — its s{R} CTE IS
    the post-merge corpus — so a divergence anywhere in fit OR apply
    flips per-document counts. The apply is the same fused JVM
    replace chain as the fixed-table path: map-only, no UDF; at
    100 TB the learned table ships as 8 broadcast literals exactly
    like a production tokenizer's merge file."""
    merges = _learn_merges(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    expr = _bpe_spaced("spark")
    for _, a, b, _n in merges:
        expr = f"replace({expr}, '{a} {b}', '{a}{b}')"
    sym = F.expr(f"split({expr}, ' ')")
    toks = docs.select("doc_id", "lang", sym.alias("symbols"))
    not_fence = F.expr("filter(symbols, x -> x <> '§' AND x <> '')")
    return toks.select(
        "doc_id",
        "lang",
        F.size(not_fence).cast("bigint").alias("n_tokens"),
        F.size(
            F.expr("filter(symbols, x -> length(x) > 1 AND x <> '§')")
        )
        .cast("bigint")
        .alias("n_merged"),
        F.size(F.array_distinct(not_fence)).cast("bigint").alias("n_vocab"),
    )


#: Collocation tier geometry: adjacent-token bigrams, minimum
#: corpus support, and the report size.
COLL_MIN_COUNT = 5
COLL_TOP_K = 25

#: Association strengths from exact BIGINT counts — ONE shared
#: float expression for the display-only lift (ranking never
#: touches it); the permille conditionals are integer DIVs whose
#: products stay exact while n_bigrams < 9.2e15 (stated bound —
#: big_cnt <= n_bigrams, so big_cnt * 1000 is the larger factor's
#: only multiplier).
_COLL_STRENGTH = """
    round( CAST(big_cnt AS DOUBLE) * CAST(n_bigrams AS DOUBLE)
           / (CAST(cnt1 AS DOUBLE) * CAST(cnt2 AS DOUBLE)), 6)
"""


@register(
    "text_collocation_lift",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, toks FROM {_TOK_SUB} WHERE len(toks) >= 2),
    bigrams AS (
      SELECT doc_id, unnest(list_transform(
               range(1, len(toks)),
               i -> [toks[i], toks[i + 1]])) AS bg
      FROM toks),
    bg AS (
      SELECT bg[1] AS w1, bg[2] AS w2,
             CAST(count(*) AS BIGINT) AS big_cnt
      FROM bigrams GROUP BY 1, 2),
    uni AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(toks) AS tok FROM toks) GROUP BY tok),
    tot AS (
      SELECT CAST(sum(big_cnt) AS BIGINT) AS n_bigrams FROM bg),
    scored AS (
      SELECT w1, w2, big_cnt, u1.cnt AS cnt1, u2.cnt AS cnt2,
             t.n_bigrams,
             big_cnt * 1000 // u1.cnt AS fwd_permille,
             big_cnt * 1000 // u2.cnt AS rev_permille
      FROM bg JOIN uni u1 ON u1.tok = bg.w1
              JOIN uni u2 ON u2.tok = bg.w2
              CROSS JOIN tot t
      WHERE big_cnt >= {COLL_MIN_COUNT}),
    ranked AS (
      SELECT *, row_number() OVER (
               ORDER BY big_cnt DESC, w1 ASC, w2 ASC) AS rnk
      FROM scored)
    SELECT w1, w2, big_cnt, cnt1, cnt2, n_bigrams,
           fwd_permille, rev_permille,
           ({_COLL_STRENGTH}) AS lift,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {COLL_TOP_K}
    """,
)
def text_collocation_lift(spark, sf_dir):
    """BIGRAM COLLOCATION mining over the document corpus: the
    top-{k} adjacent-token pairs by corpus frequency (support >=
    {m}), each scored with exact-integer conditional strengths
    (P(w2|w1) and P(w1|w2) in permille — big_cnt·1000 DIV cnt,
    non-negative operands so DIV and // agree) and the classic
    observed/expected LIFT as a display-only float from the same
    BIGINTs (ranking is integer-count-ordered with full lexical
    tie-break, so the float never decides the cut). The phrase-
    detection pass of an LLM-corpus pipeline (multi-word-expression
    vocabulary, tokenizer pre-merges). Scale: bigram expansion is
    map-only (adjacent zip inside each doc, no joins); both count
    tables are combinable hash aggregations keyed by the
    bigram/token; the two unigram joins hit the AGGREGATED tables
    (vocabulary-sized, broadcast-able); overflow bound stated at
    the strength definition.""".format(k=COLL_TOP_K, m=COLL_MIN_COUNT)
    from pyspark.sql import Window as W

    from etl_jobs_spark.operators.hashing import norm_text, word_tokens

    from etl_jobs_spark.sources.readers import spread

    # spread before normalize+tokenize (1-split fixture scan; no-op
    # at real scale — guide §2.5); the token-array projection feeds
    # BOTH the bigram and unigram explodes below
    docs = spread(read_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.expr(word_tokens(norm_text("text", "spark"), "spark")).alias(
            "toks"
        )
    ).filter(F.size("toks") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bg = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("big_cnt")
    )
    uni = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = bg.agg(F.sum("big_cnt").cast("bigint").alias("n_bigrams"))
    scored = (
        bg.filter(F.col("big_cnt") >= COLL_MIN_COUNT)
        .join(
            F.broadcast(
                uni.select(
                    F.col("tok").alias("w1"), F.col("cnt").alias("cnt1")
                )
            ),
            "w1",
        )
        .join(
            F.broadcast(
                uni.select(
                    F.col("tok").alias("w2"), F.col("cnt").alias("cnt2")
                )
            ),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "big_cnt",
            "cnt1",
            "cnt2",
            "n_bigrams",
            F.expr("big_cnt * 1000 DIV cnt1").alias("fwd_permille"),
            F.expr("big_cnt * 1000 DIV cnt2").alias("rev_permille"),
        )
    )
    # bounded global window (r16 audit): rank + `rnk <= K` compiles
    # to TakeOrderedAndProject (its docs/PLAN_CENSUS.json entry) —
    # never a single-partition pass over the bigram table
    ranked = scored.withColumn(
        "rnk",
        F.row_number()
        .over(
            W.orderBy(
                F.col("big_cnt").desc(), F.col("w1").asc(), F.col("w2").asc()
            )
        )
        .cast("bigint"),
    )
    return ranked.filter(F.col("rnk") <= COLL_TOP_K).select(
        "w1",
        "w2",
        "big_cnt",
        "cnt1",
        "cnt2",
        "n_bigrams",
        "fwd_permille",
        "rev_permille",
        F.expr(_COLL_STRENGTH).alias("lift"),
        "rnk",
    )


# ---------------------------------------------------------------- #
# Readability scoring (Flesch reading ease / Flesch-Kincaid grade) #
# ---------------------------------------------------------------- #

#: Vowel-group regex — the standard cheap syllable estimator (each
#: maximal [aeiouy]+ run ≈ one syllable).
_SYLL_RE = "[aeiouy]+"
_SENT_RE = "[.!?]+"


def _readability_exprs() -> tuple[str, str]:
    """FRE and FK-grade from the three exact BIGINT counts (words w,
    sentences s, syllables y) — ONE shared expression text, floats
    touch only the final formula over exact integers."""
    w = "CAST(n_words AS DOUBLE)"
    s = "CAST(n_sentences AS DOUBLE)"
    y = "CAST(n_syllables AS DOUBLE)"
    fre = f"(206.835 - 1.015 * ({w} / {s}) - 84.6 * ({y} / {w}))"
    fk = f"(0.39 * ({w} / {s}) + 11.8 * ({y} / {w}) - 15.59)"
    return fre, fk


_FRE_EXPR, _FK_EXPR = _readability_exprs()


@register(
    "text_readability",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, lang,
             CAST(len({word_tokens('n', 'duckdb')}) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(n, '{_SENT_RE}')))
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(n, '{_SYLL_RE}')) AS BIGINT)
               AS n_syllables
      FROM {_NORM_SUB}
      WHERE length(n) > 0)
    SELECT doc_id, lang, n_words, n_sentences, n_syllables,
           round({_FRE_EXPR}, 4) AS flesch_reading_ease,
           round({_FK_EXPR}, 4) AS fk_grade
    FROM counts WHERE n_words > 0
    """,
)
def text_readability(spark, sf_dir):
    """FLESCH READING EASE + FLESCH-KINCAID GRADE per document — the
    classic readability pair every corpus-quality pipeline computes
    (low-FRE/high-grade outliers flag machine-generated or boiler-
    plate text). Syllables are estimated by the standard vowel-group
    count (each maximal [aeiouy]+ run ≈ 1 syllable); sentences are
    terminator-group counts with a floor of 1 — the fixture corpus
    carries no punctuation, so every doc is one 'sentence' and the
    grade axis is driven by words x syllable density (stated proxy,
    not hidden). All three inputs are exact BIGINT regex counts; the
    two formulas are one shared expression text over those integers,
    round 4. Scale shape: pure map-only regexp counting fused into
    the scan — no shuffle, no UDF, whole-stage codegen; the same
    pass every quality classifier already makes over the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    n = norm_text("text", "spark")
    counts = (
        docs.select("doc_id", "lang", F.expr(n).alias("n"))
        .filter(F.length("n") > 0)
        .select(
            "doc_id",
            "lang",
            F.expr(f"CAST(size({word_tokens('n', 'spark')}) AS BIGINT)")
            .alias("n_words"),
            F.expr(
                f"CAST(greatest(1, size(regexp_extract_all(n, '{_SENT_RE}', 0)))"
                " AS BIGINT)"
            ).alias("n_sentences"),
            F.expr(
                f"CAST(size(regexp_extract_all(n, '{_SYLL_RE}', 0)) AS BIGINT)"
            ).alias("n_syllables"),
        )
    )
    return counts.filter(F.col("n_words") > 0).select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(F.expr(_FRE_EXPR), 4).alias("flesch_reading_ease"),
        F.round(F.expr(_FK_EXPR), 4).alias("fk_grade"),
    )


@register(
    "text_hapax_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({word_tokens('n', 'duckdb')}) AS tok
      FROM (SELECT source, {norm_text('text', 'duckdb')} AS n
            FROM documents)),
    vocab AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS corpus_freq
      FROM toks GROUP BY 1),
    per_source AS (
      SELECT t.source,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT t.tok) AS BIGINT) AS n_types,
             CAST(count(DISTINCT CASE WHEN v.corpus_freq = 1
                                      THEN t.tok END) AS BIGINT)
               AS n_hapax
      FROM toks t JOIN vocab v ON v.tok = t.tok
      GROUP BY 1)
    SELECT source, n_tokens, n_types, n_hapax,
           CAST(1000 * n_hapax // n_types AS BIGINT)
             AS hapax_permille,
           CAST(1000 * n_types // n_tokens AS BIGINT)
             AS ttr_permille
    FROM per_source
    """,
)
def text_hapax_ratio(spark, sf_dir):
    """LEXICAL-RICHNESS census per source: hapax legomena (tokens
    occurring EXACTLY ONCE corpus-wide) as a share of each source's
    type inventory, next to the type-token ratio — the
    vocabulary-quality diagnostics corpus linguists and tokenizer
    trainers read together (hapax-heavy sources are noisy/OCR-ish;
    hapax-starved sources are templated — both distort a BPE fit).
    Corpus frequency is ONE token-keyed aggregation (the BPE/tf-idf
    shuffle the text tier already pays, hashes-not-text applies via
    dictionary encoding at the shuffle); the per-source census
    re-joins it and counts distinct types. All-integer permille
    outputs. Scale: both aggregations are combinable; the vocab
    table is vocabulary-sized, not corpus-sized."""
    docs = read_table(spark, sf_dir, "documents").select(
        "source", F.expr(norm_text("text", "spark")).alias("n")
    )
    toks = docs.select(
        "source",
        F.explode(F.expr(word_tokens("n", "spark"))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("corpus_freq")
    )
    per_source = (
        toks.join(vocab, "tok")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.countDistinct("tok").cast("bigint").alias("n_types"),
            F.countDistinct(
                F.when(F.col("corpus_freq") == 1, F.col("tok"))
            )
            .cast("bigint")
            .alias("n_hapax"),
        )
    )
    return per_source.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr("CAST(1000 * n_hapax DIV n_types AS BIGINT)").alias(
            "hapax_permille"
        ),
        F.expr("CAST(1000 * n_types DIV n_tokens AS BIGINT)").alias(
            "ttr_permille"
        ),
    )


@register(
    "text_simpson_diversity",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({word_tokens('n', 'duckdb')}) AS tok
      FROM (SELECT source, {norm_text('text', 'duckdb')} AS n
            FROM documents)),
    freq AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS f
      FROM toks GROUP BY 1, 2),
    agg AS (
      SELECT source,
             CAST(sum(f) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(f * (f - 1)) AS BIGINT) AS sum_ff1
      FROM freq GROUP BY 1)
    SELECT source, n_tokens, n_types, sum_ff1,
           CAST(1000000 * sum_ff1
                // (n_tokens * (n_tokens - 1)) AS BIGINT)
             AS simpson_ppm,
           CAST(1000000 - 1000000 * sum_ff1
                // (n_tokens * (n_tokens - 1)) AS BIGINT)
             AS diversity_ppm
    FROM agg WHERE n_tokens > 1
    """,
)
def text_simpson_diversity(spark, sf_dir):
    """SIMPSON CONCENTRATION / GINI-SIMPSON DIVERSITY of each
    source's token distribution — the probability two random tokens
    from the source are the SAME type (Σf(f−1)/N(N−1), exact
    integers, parts-per-million by truncating division) and its
    complement. The third lexical lens next to text_hapax_ratio's
    rare-word share and text_zipf_slope's tail shape: Simpson is
    dominance-sensitive (one boilerplate token repeating drives it
    up long before type counts move) — the earliest template-
    collapse alarm. Overflow bound: Σf(f−1) ≤ N² — BIGINT-safe to
    N ~ 3e9 tokens/source; past that, pre-aggregate per shard and
    combine the exact (N, Σf(f−1)) pairs (stated). Scale: one
    token-keyed count (the text tier's vocab shuffle), one
    combinable rollup per source."""
    docs = read_table(spark, sf_dir, "documents").select(
        "source", F.expr(norm_text("text", "spark")).alias("n")
    )
    toks = docs.select(
        "source",
        F.explode(F.expr(word_tokens("n", "spark"))).alias("tok"),
    )
    freq = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    agg = freq.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("f") * (F.col("f") - 1))
        .cast("bigint")
        .alias("sum_ff1"),
    )
    return agg.filter(F.col("n_tokens") > 1).select(
        "source",
        "n_tokens",
        "n_types",
        "sum_ff1",
        F.expr(
            "CAST(1000000 * sum_ff1 DIV (n_tokens * (n_tokens - 1))"
            " AS BIGINT)"
        ).alias("simpson_ppm"),
        F.expr(
            "CAST(1000000 - 1000000 * sum_ff1"
            " DIV (n_tokens * (n_tokens - 1)) AS BIGINT)"
        ).alias("diversity_ppm"),
    )
