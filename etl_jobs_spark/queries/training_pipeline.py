"""Training-data pipeline query declarations (the shard/sample/
pack/gate/materialize steps between raw corpus and tokenizer-ready
batches — see ``operators/training.py`` for the scale rationale).

Oracles are generated from the same dual-dialect fragment builders
the Spark operators use, so both engines state the identical
computation (hash-based decisions, window frames, rounding)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_jobs_spark.operators import dedup as DD
from etl_jobs_spark.operators import training as TR
from etl_jobs_spark.operators.hashing import (
    hash60,
    norm_text,
    norm_unrolled,
    word_tokens,
)
from etl_jobs_spark.registry import register
from etl_jobs_spark.sources.readers import read_table


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           {TR.scrub_expr(TR.pii_input_expr("duckdb"), "duckdb")} AS clean_text
    FROM documents
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII scrub: map-only regex redaction of emails and long digit
    runs (a deterministic contact line is planted per doc — fixtures
    carry no real PII — so the redaction provably fires)."""
    return TR.pii_scrub(read_table(spark, sf_dir, "documents"))


@register(
    "doc_shard_assign",
    oracle=f"""
    SELECT {TR.shard_expr("duckdb")} AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM documents GROUP BY 1
    """,
)
def doc_shard_assign(spark, sf_dir):
    """Stable hash-sharding report (md5-derived shard id mod 64):
    the balanced, rerun-stable write-partitioning key for corpus
    shards."""
    return TR.shard_assign(read_table(spark, sf_dir, "documents"))


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {TR.sample_keep_expr("duckdb")}
    """,
)
def sample_stratified(spark, sf_dir):
    """Deterministic per-language sampling by doc-key hash (not
    rand(): reproducible across runs, engines, and retries)."""
    return TR.stratified_sample(read_table(spark, sf_dir, "documents"))


def _pack_oracle() -> str:
    n = norm_text("text", "duckdb")
    toks = word_tokens("n", "duckdb")
    return f"""
    WITH t AS (
      SELECT doc_id, lang, CAST(len({toks}) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, lang, {n} AS n FROM documents)),
    c AS (
      -- n_tokens tie-break: see operators/training.pack_sequences
      -- (round-12 duplicate-key axis)
      SELECT *, sum(n_tokens) OVER (PARTITION BY lang
                                    ORDER BY doc_id, n_tokens
                                    ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT lang,
           CAST(floor((cum - n_tokens) / {float(TR.PACK_BUDGET)}) AS BIGINT)
             AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1, 2
    """


@register("pack_sequences", oracle=_pack_oracle())
def pack_sequences(spark, sf_dir):
    """Next-fit sequence packing into ~2048-token bins per language
    (running-sum window + keyed agg) — the batch-building step
    before tokenization."""
    return TR.pack_sequences(read_table(spark, sf_dir, "documents"))


def _quality_gate_oracle() -> str:
    n = norm_text("text", "duckdb")
    toks = word_tokens("n", "duckdb")
    punct = "CAST(length(regexp_replace(n, '[a-z0-9 ]', '', 'g')) AS DOUBLE)"
    quality = (
        f"round(least(1.0, CAST(length(n) AS DOUBLE) / 200)"
        f" * (1.0 - least(1.0, {punct} / greatest(length(n), 1))), 4)"
    )
    return f"""
    SELECT doc_id, lang, quality FROM (
      SELECT doc_id, lang, quality,
             ntile(2) OVER (PARTITION BY lang
                            ORDER BY quality DESC, doc_id ASC) AS half
      FROM (SELECT doc_id, lang, {quality} AS quality
            FROM (SELECT doc_id, lang, {n} AS n FROM documents)))
    WHERE half = 1
    """


@register("quality_filter_top_half", oracle=_quality_gate_oracle())
def quality_filter_top_half(spark, sf_dir):
    """Quality gate: keep each language's better half by the
    composite quality heuristic — rank-based (ntile), so the cut is
    exact integer logic with no float-boundary ambiguity. The score
    rides through the projection (no rejoin by id) into ONE keyed
    ntile window."""
    return TR.quality_top_half(read_table(spark, sf_dir, "documents"))


@register(
    "dedup_keep_canonical",
    oracle=f"""
    SELECT doc_id, lang, CAST(length(n) AS BIGINT) AS n_chars_norm FROM (
      SELECT doc_id, lang, n,
             row_number() OVER (PARTITION BY md5(n) ORDER BY doc_id) AS rnk
      FROM {DD.planted_corpus_sql(mutate=False)} corpus)
    WHERE rnk = 1
    """,
)
def dedup_keep_canonical(spark, sf_dir):
    """Dedup materialization: the surviving corpus (first doc per
    exact-content fingerprint) over the planted-duplicate corpus —
    the artifact a training run reads, vs dedup_exact_text's cluster
    report."""
    return TR.keep_canonical(
        DD.planted_corpus(read_table(spark, sf_dir, "documents"), mutate=False)
    )


_NRM = norm_unrolled("embedding", 64, "duckdb")


@register(
    "embed_norm_stats",
    oracle=f"""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(nrm), 4) AS avg_norm,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm
    FROM (SELECT label, {_NRM} AS nrm FROM embeddings)
    GROUP BY label
    """,
)
def embed_norm_stats(spark, sf_dir):
    """Embedding health stats per label (count, mean/min/max L2
    norm): the sanity gate before vectors enter dedup or ANN — ONE
    map-only projection computes the norm alongside the label, then
    a partial+final hash agg; no second scan, no join, no Python.
    avg is rounded to 4 (not 6): double summation order differs
    between engines at ~1e-13, min/max are order-free."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.expr(norm_unrolled("embedding", 64, "spark")).alias("nrm"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


@register(
    "agg_user_gap_stats",
    oracle="""
    SELECT user_id,
           CAST(count(*) + 1 AS BIGINT) AS n_events,
           round(CAST(sum(CAST(gap AS DECIMAL(18,6))) AS DOUBLE)
                 / count(gap), 2) AS avg_gap_s,
           round(max(gap), 2) AS max_gap_s
    FROM (
      SELECT user_id,
             epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS gap
      FROM events)
    WHERE gap IS NOT NULL
    GROUP BY user_id
    """,
)
def agg_user_gap_stats(spark, sf_dir):
    """Per-user inter-event gap features (mean/max seconds between
    consecutive events) — one keyed window pass + keyed agg; the
    timeline features behind sessionization and burst detection."""
    return TR.user_gap_stats(read_table(spark, sf_dir, "events"))


@register(
    "sample_weighted_bernoulli",
    oracle="""
    WITH scored AS (
      SELECT source, n_chars,
             ('0x' || substr(md5('wbs:' || CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT % 4000 AS draw,
             least(n_chars, 2000) AS w
      FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN draw < w THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(sum(CASE WHEN draw < w THEN n_chars ELSE 0 END) AS BIGINT)
             AS sampled_chars
    FROM scored GROUP BY source
    """,
)
def sample_weighted_bernoulli(spark, sf_dir):
    """WEIGHTED Bernoulli sampling, derandomized: each document is
    kept with probability proportional to its weight (here
    min(chars, 2000)/4000 — longer docs are likelier survivors, the
    quality-weighted downsampling shape), but the coin flip is the
    portable 60-bit md5 hash of the doc key, NOT rand() — so the
    sample is identical across reruns, engines, retry attempts, and
    partitionings (rand() gives none of those). Per-source census of
    the survivors. Scale shape: map-only scoring fused into the
    scan + one small aggregation; at 100 TB the same predicate IS
    the sampling pushdown for every downstream consumer — no
    materialized sample table needed."""
    from etl_jobs_spark.operators.hashing import hash60

    docs = read_table(spark, sf_dir, "documents")
    draw = (
        F.expr(hash60("concat('wbs:', cast(doc_id as string))", "spark"))
        % 4000
    )
    scored = docs.select(
        "source",
        "n_chars",
        draw.alias("draw"),
        F.least(F.col("n_chars"), F.lit(2000)).alias("w"),
    )
    keep = F.col("draw") < F.col("w")
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias(
            "n_sampled"
        ),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("sampled_chars"),
    )


#: Per-key sample size for the derandomized reservoir.
_RESERVOIR_K = 3


def _reservoir_oracle() -> str:
    pr = hash60("'rs:' || CAST(doc_id AS VARCHAR)", "duckdb")
    return f"""
    WITH pri AS (
      SELECT doc_id, lang, ({pr}) AS priority
      FROM documents),
    ranked AS (
      SELECT doc_id, lang, priority,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY priority ASC, doc_id ASC)
                  AS BIGINT) AS rk
      FROM pri)
    SELECT doc_id, lang, CAST(priority AS BIGINT) AS priority, rk
    FROM ranked WHERE rk <= {_RESERVOIR_K}
    """


@register("sample_reservoir_per_key", oracle=_reservoir_oracle())
def sample_reservoir_per_key(spark, sf_dir):
    """Derandomized per-key RESERVOIR sample: k uniform docs per
    language chosen by md5-hash priority — the distributed
    equivalent of reservoir sampling (priority sampling: keep the k
    smallest hash priorities per key), with the hash replacing the
    RNG so reruns, retries, and both engines pick the SAME sample.
    One keyed window; at 100 TB the same result comes from a
    per-partition top-k (partial TakeOrdered per key) merged
    map-side — no global sort, no state. The sampling step every
    eval-set builder and debugging slice needs."""
    docs = read_table(spark, sf_dir, "documents")
    pr = hash60("'rs:' || CAST(doc_id AS STRING)", "spark")
    from pyspark.sql import Window as W

    pri = docs.select(
        "doc_id", "lang", F.expr(pr).alias("priority")
    )
    ranked = pri.withColumn(
        "rk",
        F.row_number()
        .over(
            W.partitionBy("lang").orderBy(
                F.col("priority").asc(), F.col("doc_id").asc()
            )
        )
        .cast("long"),
    )
    return ranked.filter(F.col("rk") <= _RESERVOIR_K).select(
        "doc_id", "lang", F.col("priority").cast("bigint"), "rk"
    )


@register(
    "pipeline_pit_training_set",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    featured AS (
      SELECT user_id, event_id, event_type, cents,
             CAST(coalesce(count(*) OVER w, 0) AS BIGINT)
               AS n_prior_events,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) OVER w, 0)
                  AS BIGINT) AS n_prior_purchases,
             CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT)
               AS prior_value_cents,
             CAST(coalesce((us - lag(us) OVER
                    (PARTITION BY user_id ORDER BY us, event_id))
                    // 1000000, -1) AS BIGINT) AS sec_since_prev
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id,
           cents AS label_cents,
           n_prior_events, n_prior_purchases, prior_value_cents,
           sec_since_prev
    FROM featured WHERE event_type = 'purchase'
    """,
)
def pipeline_pit_training_set(spark, sf_dir):
    """POINT-IN-TIME training-set assembly: spine = purchase events
    (label = purchase cents); features = the user's history STRICTLY
    BEFORE the label instant (prior event count, prior purchase
    count, prior value sum, seconds since previous event) — the
    leakage-free feature-store discipline (the as-of contract every
    feature platform enforces: a feature may only see data with
    ts < label_ts, never <=). Here the feature source is the event
    stream itself, so the strict-before frame (UNBOUNDED PRECEDING
    .. 1 PRECEDING over the (us, event_id) total order) IS the PIT
    join; join_dim_snapshot_asof covers the cross-table variant.
    Emits the row-level training table a trainer consumes. Scale:
    one user-keyed window — single shuffle, no self-join; the frame
    is computed incrementally per partition."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    order = [F.col("us"), F.col("event_id")]
    wprior = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wlag = W.partitionBy("user_id").orderBy(*order)
    featured = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "cents",
        F.coalesce(F.count(F.lit(1)).over(wprior), F.lit(0))
        .cast("bigint")
        .alias("n_prior_events"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(wprior),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_prior_purchases"),
        F.coalesce(F.sum("cents").over(wprior), F.lit(0))
        .cast("bigint")
        .alias("prior_value_cents"),
        F.coalesce(
            F.expr(
                "CAST((us - lag(us) OVER (PARTITION BY user_id"
                " ORDER BY us, event_id)) DIV 1000000 AS BIGINT)"
            ),
            F.lit(-1),
        )
        .cast("bigint")
        .alias("sec_since_prev"),
    )
    return featured.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.col("cents").alias("label_cents"),
        "n_prior_events",
        "n_prior_purchases",
        "prior_value_cents",
        "sec_since_prev",
    )


@register(
    "sample_negative_pairs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, source,
             CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM documents),
    pos AS (
      SELECT doc_id,
             lead(doc_id) OVER (PARTITION BY lang, source
                                ORDER BY doc_id) AS pos_id
      FROM d),
    cand AS (
      SELECT doc_id, lang, source, n,
             {hash60("concat('neg1:', CAST(doc_id AS VARCHAR))", "duckdb")}
               % n + 1 AS r1,
             {hash60("concat('neg2:', CAST(doc_id AS VARCHAR))", "duckdb")}
               % n + 1 AS r2
      FROM d),
    picked AS (
      SELECT c.doc_id, c.lang, c.source,
             d1.doc_id AS c1, d1.lang AS l1, d1.source AS s1,
             d2.doc_id AS c2, d2.lang AS l2, d2.source AS s2
      FROM cand c
      JOIN d d1 ON d1.rn = c.r1
      JOIN d d2 ON d2.rn = c.r2)
    SELECT p.doc_id AS anchor_id,
           pos.pos_id,
           CASE WHEN p.c1 <> p.doc_id
                     AND (p.l1 <> p.lang OR p.s1 <> p.source) THEN p.c1
                WHEN p.c2 <> p.doc_id
                     AND (p.l2 <> p.lang OR p.s2 <> p.source) THEN p.c2
                END AS neg_id
    FROM picked p JOIN pos ON pos.doc_id = p.doc_id
    """,
)
def sample_negative_pairs(spark, sf_dir):
    """Contrastive TRAINING-PAIR construction: for every document an
    in-domain POSITIVE (the next doc in its lang x source bucket —
    the weak-supervision positive CLIP-style pipelines use when no
    labeled pairs exist) and a derandomized NEGATIVE drawn by
    portable hash over the global doc index, with cascaded rejection
    (two hash candidates; a candidate is rejected if it is the
    anchor itself or shares the anchor's domain — in-batch-negative
    hygiene). No RNG anywhere: hash60(doc_id) IS the sampler, so the
    pair table is reproducible across engines and re-runs (the
    sample_weighted_bernoulli discipline). Scale: the rank lookup is
    a doc-keyed equi-join (2 candidates/doc, never a cross join);
    the positive is one lag window per domain bucket; the global doc
    index is a PARALLEL range-partitioned ranking
    (with_global_position — the former unpartitioned row_number
    window single-partition sorted the whole corpus, VERDICT r15
    item 2, and recomputed it once per consumer; the ranked table
    is cached and consumed four times)."""
    from pyspark.sql import Window as W

    from etl_jobs_spark.operators.relational import with_global_position

    docs = read_table(spark, sf_dir, "documents")
    d = with_global_position(
        docs.select("doc_id", "lang", "source"),
        [F.col("doc_id").asc()],
        out="rn",
        total="n",
    )
    pos = d.select(
        "doc_id",
        F.lead("doc_id")
        .over(W.partitionBy("lang", "source").orderBy("doc_id"))
        .alias("pos_id"),
    )
    cand = d.select(
        "doc_id",
        "lang",
        "source",
        (
            F.expr(hash60("concat('neg1:', CAST(doc_id AS STRING))", "spark"))
            % F.col("n")
            + 1
        ).alias("r1"),
        (
            F.expr(hash60("concat('neg2:', CAST(doc_id AS STRING))", "spark"))
            % F.col("n")
            + 1
        ).alias("r2"),
    )
    lut1 = d.select(
        F.col("rn").alias("r1"),
        F.col("doc_id").alias("c1"),
        F.col("lang").alias("l1"),
        F.col("source").alias("s1"),
    )
    lut2 = d.select(
        F.col("rn").alias("r2"),
        F.col("doc_id").alias("c2"),
        F.col("lang").alias("l2"),
        F.col("source").alias("s2"),
    )
    picked = cand.join(lut1, "r1").join(lut2, "r2")
    return picked.join(pos, "doc_id").select(
        F.col("doc_id").alias("anchor_id"),
        "pos_id",
        F.when(
            (F.col("c1") != F.col("doc_id"))
            & ((F.col("l1") != F.col("lang")) | (F.col("s1") != F.col("source"))),
            F.col("c1"),
        )
        .when(
            (F.col("c2") != F.col("doc_id"))
            & ((F.col("l2") != F.col("lang")) | (F.col("s2") != F.col("source"))),
            F.col("c2"),
        )
        .alias("neg_id"),
    )


#: Systematic sampling stride: keep every K-th document.
_SYSTEMATIC_K = 7


def _systematic_oracle() -> str:
    pr = hash60("'sys:' || CAST(doc_id AS VARCHAR)", "duckdb")
    return f"""
    WITH pri AS (
      SELECT doc_id, lang, source, n_chars, ({pr}) AS priority
      FROM documents),
    ranked AS (
      SELECT doc_id, lang, source, n_chars,
             CAST(row_number() OVER (ORDER BY priority ASC, doc_id ASC)
                  AS BIGINT) AS rn
      FROM pri)
    SELECT doc_id, lang, source, n_chars, rn
    FROM ranked WHERE (rn - 1) % {_SYSTEMATIC_K} = 0
    """


@register("sample_systematic_every_k", oracle=_systematic_oracle())
def sample_systematic_every_k(spark, sf_dir):
    """Derandomized SYSTEMATIC sample: order the corpus by a
    deterministic hash priority and keep every {_SYSTEMATIC_K}-th
    row — the classic equal-interval design (exact 1/K rate with
    zero variance in the sample SIZE, unlike Bernoulli sampling
    whose realized rate wobbles), with the hash order standing in
    for the random start so reruns and both engines cut the SAME
    sample. Completes the sampling tier: stratified (per-stratum
    rates), reservoir (fixed k per key), weighted Bernoulli
    (per-row inclusion), negative pairs (contrastive), systematic
    (fixed stride). Scale note: the exact global stride positions
    are computed as a PARALLEL range-partitioned ranking
    (with_global_position — the former unpartitioned row_number
    window single-partition sorted the whole corpus at the limit,
    VERDICT r15 item 2); the hash priority spreads uniformly, so
    the range partitions are even by construction."""
    docs = read_table(spark, sf_dir, "documents")
    pr = hash60("'sys:' || CAST(doc_id AS STRING)", "spark")
    from etl_jobs_spark.operators.relational import with_global_position

    ranked = with_global_position(
        docs.select(
            "doc_id", "lang", "source", "n_chars", F.expr(pr).alias("priority")
        ),
        [F.col("priority").asc(), F.col("doc_id").asc()],
        out="rn",
    )
    return ranked.filter((F.col("rn") - 1) % _SYSTEMATIC_K == 0).select(
        "doc_id", "lang", "source", "n_chars", "rn"
    )


def _pack_audit_oracle() -> str:
    return f"""
    WITH bins AS ({_pack_oracle()})
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(total_tokens) AS BIGINT) AS total_tokens,
           CAST(1000 * sum(total_tokens)
                // (count(*) * {TR.PACK_BUDGET}) AS BIGINT)
             AS fill_permille,
           CAST(sum(CASE WHEN total_tokens > {TR.PACK_BUDGET}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_bins,
           CAST(max(total_tokens) AS BIGINT) AS max_bin_tokens,
           CAST(min(total_tokens) AS BIGINT) AS min_bin_tokens
    FROM bins GROUP BY 1
    """


@register("pack_efficiency_audit", oracle=_pack_audit_oracle())
def pack_efficiency_audit(spark, sf_dir):
    """PACKING-EFFICIENCY AUDIT over pack_sequences' bins — the
    utilization metric a training-batch builder watches (padding
    waste = 1000 − fill_permille directly prices wasted FLOPs):
    per language, bin count, total tokens, fill rate in permille of
    the PACK_BUDGET capacity (truncating integer division), bins
    overflowing budget (next-fit lets a straddling doc overflow —
    counted, not hidden), and the min/max bin loads. Nests the
    REGISTERED pack oracle, so the audit is pinned end-to-end
    against the same SQL the driver verifies for pack_sequences.
    Scale shape: runs entirely on the bins table (already one row
    per ~budget tokens — corpus-size/2048), one keyed aggregate."""
    bins = pack_sequences(spark, sf_dir)
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("total_tokens").cast("bigint").alias("total_tokens"),
        F.expr(
            f"CAST(1000 * sum(total_tokens)"
            f" DIV (count(*) * {TR.PACK_BUDGET}) AS BIGINT)"
        ).alias("fill_permille"),
        F.sum(
            F.when(F.col("total_tokens") > TR.PACK_BUDGET, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_overflow_bins"),
        F.max("total_tokens").cast("bigint").alias("max_bin_tokens"),
        F.min("total_tokens").cast("bigint").alias("min_bin_tokens"),
    )


def _log2_bucket(x: str, max_p: int = 20) -> str:
    """floor(log2(x)) for x >= 1 as a PURE-INTEGER comparison ladder
    (no float log whose boundary at exact powers of two differs by
    one ulp between engines) — dialect-neutral text."""
    cases = " ".join(
        f"WHEN {x} >= {1 << p} THEN {p}"
        for p in range(max_p, 0, -1)
    )
    return f"(CASE {cases} ELSE 0 END)"


@register(
    "seq_len_histogram",
    oracle=f"""
    WITH t AS (
      SELECT CAST(len({word_tokens('n', 'duckdb')}) AS BIGINT) AS n_tokens,
             lang
      FROM (SELECT lang, {norm_text('text', 'duckdb')} AS n FROM documents)),
    b AS (
      SELECT lang, {_log2_bucket('n_tokens')} AS log2_bucket, n_tokens
      FROM t WHERE n_tokens >= 1)
    SELECT lang, CAST(log2_bucket AS BIGINT) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM b GROUP BY 1, 2
    """,
)
def seq_len_histogram(spark, sf_dir):
    """SEQUENCE-LENGTH HISTOGRAM in log2 buckets per language — the
    distribution every packing/batching design starts from (bucket
    edges at powers of two mirror context-length tiers). The bucket
    is floor(log2(n_tokens)) computed as a PURE-INTEGER comparison
    ladder — float log(2, x) at exact powers of two is one ulp from
    flipping the bucket between engines, the same boundary class the
    repo's DIV discipline exists for. Scale shape: map-only token
    count fused into the scan, one combinable two-key aggregate;
    the histogram is ≤ 21 rows per language at any corpus size."""
    n = norm_text("text", "spark")
    t = read_table(spark, sf_dir, "documents").select(
        "lang",
        F.expr(f"CAST(size(split({n}, ' ')) AS BIGINT)").alias("n_tokens"),
    )
    b = t.filter(F.col("n_tokens") >= 1).select(
        "lang", F.expr(_log2_bucket("n_tokens")).alias("log2_bucket"), "n_tokens"
    )
    return b.groupBy("lang", F.col("log2_bucket").cast("bigint").alias("log2_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


def _rag_oracle() -> str:
    from etl_jobs_spark.queries.similarity import _mmr_oracle
    from etl_jobs_spark.registry import _REGISTRY

    keep = (
        "SELECT doc_id FROM ("
        + _REGISTRY["quality_filter_top_half"].oracle
        + ") q"
    )
    return _mmr_oracle(keep_cte=keep)


@register("pipeline_rag_retrieval_end_to_end", oracle=_rag_oracle())
def pipeline_rag_retrieval_end_to_end(spark, sf_dir):
    """RAG SERVING PIPELINE, composed end-to-end from REGISTERED
    stages: curate the index corpus with the quality gate
    (quality_filter_top_half — each language's better half), then
    run MMR-diversified retrieval for the probe queries against the
    CURATED index only (probes come from the full table — the
    serving shape: user query vs curated index; a probe document
    the gate would drop is still a valid query). Both stages'
    oracles are nested verbatim, so the composition — gate cut,
    candidate restriction, greedy selection sequence — is pinned
    end-to-end exactly like pipeline_llm_corpus_end_to_end's
    stage-composed oracle. Scale shape: the gate is one keyed
    ntile window over doc quality; retrieval adds the MMR plan
    (broadcast-query scan + q·C² sims + bounded driver greedy). The
    quality keep-set is a LEFT SEMI join on the candidate side only."""
    from etl_jobs_spark.queries.similarity import _mmr_select

    keep = quality_filter_top_half(spark, sf_dir).select("doc_id")
    return _mmr_select(spark, sf_dir, keep=keep)
