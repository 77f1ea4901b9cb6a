"""Dedup query declarations (SURVEY.md §7 step 7).

Every oracle below is generated from the same builders the Spark
operators use (``operators/hashing.py``), with planted duplicates
derived identically in both engines — see ``operators/dedup.py`` for
the scale rationale (blocking keys, single-shuffle signatures, no
all-pairs joins).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_jobs_spark.operators import dedup as DD
from etl_jobs_spark.operators.hashing import (
    MERSENNE_P,
    char_shingles,
    dot_unrolled,
    hash60,
    minhash_expr,
    minhash_params,
    norm_text,
    norm_unrolled,
    popcount_unrolled,
    sig_match_frac,
    word_ngrams,
    word_tokens,
    xor_expr,
)
from etl_jobs_spark.registry import register
from etl_jobs_spark.sources.readers import read_table

_P = minhash_params(DD.MINHASH_K)

def _minhash_pairs(spark, sf_dir):
    """MinHash pair table shared by dedup_minhash_lsh and
    dedup_cluster_components — computed once per (session, sf_dir)
    and persisted (the signature pipeline is the expensive part;
    both queries read the same result)."""
    from etl_jobs_spark.queries._shared import session_memo

    return session_memo(
        spark,
        "minhash_pairs",
        sf_dir,
        lambda: DD.minhash_lsh_pairs(
            DD.planted_corpus(
                read_table(spark, sf_dir, "documents"), mutate=True
            )
        ).persist(),
    )


@register(
    "dedup_exact_text",
    oracle=f"""
    SELECT md5(n) AS content_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id)              AS keep_doc_id
    FROM {DD.planted_corpus_sql(mutate=False)} corpus
    GROUP BY md5(n)
    """,
)
def dedup_exact_text(spark, sf_dir):
    """Exact content dedup via hash-groupBy (keep-first survivor)."""
    return DD.exact_dedup(
        DD.planted_corpus(read_table(spark, sf_dir, "documents"), mutate=False)
    )


def _minhash_oracle() -> str:
    mins = ",\n           ".join(
        f"min({minhash_expr('base', a, b)}) AS s{i}"
        for i, (a, b) in enumerate(_P)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {j} AS band_id, md5(concat_ws(',', "
        + ", ".join(
            f"s{i}"
            for i in range(j * DD.MINHASH_ROWS, (j + 1) * DD.MINHASH_ROWS)
        )
        + ")) AS band_hash FROM sig"
        for j in range(DD.MINHASH_BANDS)
    )
    return f"""
    WITH corpus AS {DD.planted_corpus_sql(mutate=True)},
    sh AS (
      SELECT doc_id, ({hash60("s", "duckdb")}) % {MERSENNE_P} AS base
      FROM (SELECT doc_id, unnest({char_shingles("n", "duckdb")}) AS s
            FROM corpus)),
    sig AS (
      SELECT doc_id,
           {mins}
      FROM sh GROUP BY doc_id),
    bands AS (
      {band_rows}),
    cand AS (
      SELECT DISTINCT ba.doc_id AS doc_a, bb.doc_id AS doc_b
      FROM bands ba JOIN bands bb
        ON ba.band_id = bb.band_id AND ba.band_hash = bb.band_hash
       AND ba.doc_id < bb.doc_id)
    SELECT doc_a, doc_b,
           round({sig_match_frac("sa", "sb", DD.MINHASH_K)}, 4) AS est_sim
    FROM cand
    JOIN sig sa ON cand.doc_a = sa.doc_id
    JOIN sig sb ON cand.doc_b = sb.doc_id
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding near-dup candidates with estimated
    similarity (shingle → minhash → band → bucket-join). Candidates
    come from a band-hash equi-join: no cross join anywhere."""
    return _minhash_pairs(spark, sf_dir)


def _simhash_oracle() -> str:
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS w{b}"
        for b in range(DD.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN w{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(DD.SIMHASH_BITS)
    )
    chunk_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, simhash, {k} AS chunk_id, "
        f"(simhash >> {8 * k}) & 255 AS chunk FROM fp"
        for k in range(DD.SIMHASH_CHUNKS)
    )
    ham = popcount_unrolled("x", DD.SIMHASH_BITS)
    return f"""
    WITH corpus AS {DD.planted_corpus_sql(mutate=True)},
    toks AS (
      SELECT doc_id, {hash60("tok", "duckdb")} AS h
      FROM (SELECT doc_id, unnest({word_tokens("n", "duckdb")}) AS tok
            FROM corpus)),
    bits AS (
      SELECT doc_id,
           {bit_sums}
      FROM toks GROUP BY doc_id),
    fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits),
    chunks AS (
      {chunk_rows}),
    cand AS (
      SELECT DISTINCT ca.doc_id AS doc_a, cb.doc_id AS doc_b,
             {xor_expr("ca.simhash", "cb.simhash", "duckdb")} AS x
      FROM chunks ca JOIN chunks cb
        ON ca.chunk_id = cb.chunk_id AND ca.chunk = cb.chunk
       AND ca.doc_id < cb.doc_id)
    SELECT doc_a, doc_b, hamming FROM (
      SELECT doc_a, doc_b, CAST({ham} AS BIGINT) AS hamming FROM cand)
    WHERE hamming <= {DD.SIMHASH_RADIUS}
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark, sf_dir):
    """SimHash fingerprints + hamming-radius pairs via byte-chunk
    banding (complete for distance <= 3 by pigeonhole)."""
    return DD.simhash_pairs(
        DD.planted_corpus(read_table(spark, sf_dir, "documents"), mutate=True)
    )


def _ngram_jaccard_oracle() -> str:
    return f"""
    WITH corpus AS {DD.planted_corpus_sql(mutate=True)},
    tk AS (SELECT doc_id, lang, n, {word_tokens("n", "duckdb")} AS toks
           FROM corpus),
    grams AS (
      SELECT DISTINCT doc_id, lang, g FROM (
        SELECT doc_id, lang,
               unnest({word_ngrams("toks", "n", "duckdb")}) AS g
        FROM tk)),
    counts AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      FROM grams GROUP BY doc_id),
    inter AS (
      SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i
      FROM grams ga JOIN grams gb
        ON ga.g = gb.g AND ga.lang = gb.lang AND ga.doc_id < gb.doc_id
      GROUP BY ga.doc_id, gb.doc_id)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             round(CAST(i AS DOUBLE) / (na.n_grams + nb.n_grams - i), 4)
               AS jaccard
      FROM inter
      JOIN counts na ON inter.doc_a = na.doc_id
      JOIN counts nb ON inter.doc_b = nb.doc_id)
    WHERE jaccard >= 0.5
    """


def _doc_grams(spark, sf_dir):
    """Memoized distinct-gram table shared by the Jaccard and
    containment pair generators (the normalize→tokenize→explode
    stage is identical and is both queries' dominant cost — computed
    once per (session, corpus) and persisted, like the MinHash
    signature table)."""
    from etl_jobs_spark.queries._shared import session_memo

    return session_memo(
        spark,
        "doc_grams",
        sf_dir,
        lambda: DD.distinct_doc_grams(
            DD.planted_corpus(
                read_table(spark, sf_dir, "documents"), mutate=True
            )
        ).persist(),
    )


def _jaccard_pairs(spark, sf_dir):
    """Exact-Jaccard pair table, memoized per (session, sf): the
    gram self-join is the expensive stage and BOTH
    dedup_ngram_jaccard (reports it) and dedup_lsh_recall_eval (uses
    it as ground truth) consume the identical result — same memo
    policy as _minhash_pairs/_doc_grams."""
    from etl_jobs_spark.queries._shared import session_memo

    return session_memo(
        spark,
        "jaccard_pairs",
        sf_dir,
        lambda: DD.ngram_jaccard_pairs(
            DD.planted_corpus(
                read_table(spark, sf_dir, "documents"), mutate=True
            ),
            grams=_doc_grams(spark, sf_dir),
        ).persist(),
    )


@register("dedup_ngram_jaccard", oracle=_ngram_jaccard_oracle())
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard pairs, language-blocked."""
    return _jaccard_pairs(spark, sf_dir)


CAND_EST_SIM = 0.25  # stage-1 cut: 4 of 16 signature positions


def _lsh_verified_oracle() -> str:
    ngrams = word_ngrams("toks", "n", "duckdb")
    return f"""
    WITH pairs AS (
      SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh
      WHERE est_sim >= {CAND_EST_SIM}),
    corpus AS {DD.planted_corpus_sql(mutate=True)},
    g AS (
      SELECT doc_id, list_distinct({ngrams}) AS g
      FROM (SELECT doc_id, n, {word_tokens("n", "duckdb")} AS toks
            FROM corpus)),
    scored AS (
      SELECT doc_a, doc_b,
             CAST(len(list_filter(pa.g, x -> list_contains(pb.g, x)))
                  AS BIGINT) AS i,
             CAST(len(pa.g) AS BIGINT) AS na,
             CAST(len(pb.g) AS BIGINT) AS nb
      FROM pairs
      JOIN g pa ON pairs.doc_a = pa.doc_id
      JOIN g pb ON pairs.doc_b = pb.doc_id)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
      FROM scored)
    WHERE jaccard >= 0.5
    """


@register("dedup_lsh_verified", oracle=_lsh_verified_oracle())
def dedup_lsh_verified(spark, sf_dir):
    """Two-stage production dedup: MinHash-LSH candidates (est_sim
    >= 0.25, reusing the session's cached pair table) verified by
    EXACT word-3-gram Jaccard >= 0.5 via per-pair array
    intersection. The cheap probabilistic stage makes the pair space
    ~linear; the exact stage kills its false positives — the
    compose-don't-choose answer to LSH-vs-exact."""
    cands = (
        _minhash_pairs(spark, sf_dir)
        .filter(F.col("est_sim") >= CAND_EST_SIM)
        .select("doc_a", "doc_b")
    )
    corpus = DD.planted_corpus(
        read_table(spark, sf_dir, "documents"), mutate=True
    )
    return DD.lsh_verified_pairs(cands, corpus)


def _embed_cosine_oracle() -> str:
    dot = dot_unrolled("va.embedding", "vb.embedding", DD.EMBED_DIM, "duckdb")
    nrm = norm_unrolled("embedding", DD.EMBED_DIM, "duckdb")
    return f"""
    WITH emb AS (
      -- canonicalize at ingest: ONE row per (vec_id, embedding),
      -- min(label) pins conflicting-label duplicates — a dedup
      -- operator must treat the same (id, vector) delivered twice
      -- as ONE vector regardless of disagreeing side-metadata
      -- (round-12 dup-key axis; label feeds only this oracle's
      -- blocking, so the min() pick keeps identical vectors
      -- co-blocked in both engines)
      SELECT vec_id, embedding, min(label) AS label
      FROM embeddings GROUP BY vec_id, embedding),
    corpus AS (
      SELECT vec_id, embedding, label FROM emb
      UNION ALL
      SELECT vec_id + {DD.PLANT_OFFSET}, embedding, label
      FROM emb WHERE vec_id < {DD.PLANT_MAX_ID}),
    vecs AS (SELECT vec_id, label, embedding, {nrm} AS nrm FROM corpus)
    SELECT vec_a, vec_b, cosine FROM (
      SELECT va.vec_id AS vec_a, vb.vec_id AS vec_b,
             round({dot} / (va.nrm * vb.nrm), 6) AS cosine
      FROM vecs va JOIN vecs vb
        ON va.label = vb.label AND va.vec_id < vb.vec_id)
    WHERE cosine >= {DD.COSINE_DUP_THRESHOLD}
    """


@register("dedup_embed_cosine", oracle=_embed_cosine_oracle())
def dedup_embed_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked on data-sized
    k-means quantizer cells (k ∝ n — reuses embed_ivf_topk's
    memoized quantizer, so blocks stay ~constant-size as the corpus
    grows). The cell map is one in-memory map pass over the corpus
    (broadcast centroid matmul) — no serving-layout write, which
    only the ANN probe path needs. The oracle blocks on ``label``:
    both blockings find exactly the planted identical-vector pairs,
    the only pairs at cosine ≥ 0.99 (see
    operators/dedup.embedding_cosine_pairs)."""
    from etl_jobs_spark.operators import similarity as SIM
    from etl_jobs_spark.queries.similarity import ivf_quantizer

    # canonical (vec_id, embedding) + min(label) ingest — the dedup
    # tier's duplicate-id contract (round-12 duplicate-key axis;
    # mirrored in the oracle CTE)
    from etl_jobs_spark import cache

    # persisted: the canonical corpus feeds several plan branches
    # (cell map, both pair sides, id spine) and without the persist
    # each branch re-runs the canon groupBy (the InMemoryTableScan
    # count of its docs/PLAN_CENSUS.json entry)
    emb = cache.track(
        read_table(spark, sf_dir, "embeddings")
        .groupBy("vec_id", "embedding")
        .agg(F.min("label").alias("label"))
    )
    centroids = ivf_quantizer(spark, sf_dir)
    cell_map = SIM.assign_cells(centroids, emb, keep=["vec_id"])
    return DD.embedding_cosine_pairs(emb, cell_map=cell_map)


def _components_oracle() -> str:
    return f"""
    WITH RECURSIVE
    pairs AS (
      SELECT doc_a, doc_b FROM ({_minhash_oracle()}) q WHERE est_sim >= 0.5),
    edges(a, b) AS (
      SELECT doc_a, doc_b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs),
    nodes(n) AS (SELECT DISTINCT a FROM edges),
    reach(node, root) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node)
    SELECT node AS doc_id, min(root) AS component FROM reach GROUP BY node
    """


def _lsh_components(spark, sf_dir):
    """Memoized component assignment at the 0.5 similarity gate —
    the reusable artifact every cluster-consuming query reads (same
    build-once/probe-many shape as the IVF index): computed from the
    memoized pair table once per (session, corpus) and persisted
    (doc_id, component) — a tiny table relative to the corpus."""
    from etl_jobs_spark.queries._shared import session_memo

    def build():
        pairs = _minhash_pairs(spark, sf_dir).filter(
            F.col("est_sim") >= 0.5
        )
        return DD.connected_components(pairs).persist()

    return session_memo(spark, "lsh_components", sf_dir, build)


@register("dedup_cluster_components", oracle=_components_oracle())
def dedup_cluster_components(spark, sf_dir):
    """Near-dup clustering: connected components over MinHash-LSH
    pair edges (est_sim >= 0.5) — iterative min-label propagation on
    Spark, verified against a recursive-CTE reachability oracle."""
    return _lsh_components(spark, sf_dir)


def _containment_oracle() -> str:
    return f"""
    WITH corpus AS {DD.planted_corpus_sql(mutate=True)},
    tk AS (SELECT doc_id, lang, n, {word_tokens("n", "duckdb")} AS toks
           FROM corpus),
    grams AS (
      SELECT DISTINCT doc_id, lang, g FROM (
        SELECT doc_id, lang,
               unnest({word_ngrams("toks", "n", "duckdb")}) AS g
        FROM tk)),
    counts AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      FROM grams GROUP BY doc_id),
    inter AS (
      SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i
      FROM grams ga JOIN grams gb
        ON ga.g = gb.g AND ga.lang = gb.lang AND ga.doc_id < gb.doc_id
      GROUP BY ga.doc_id, gb.doc_id),
    pairfracs AS (
      SELECT doc_a, doc_b,
             round(CAST(i AS DOUBLE) / na.n_grams, 4) AS ca,
             round(CAST(i AS DOUBLE) / nb.n_grams, 4) AS cb
      FROM inter
      JOIN counts na ON inter.doc_a = na.doc_id
      JOIN counts nb ON inter.doc_b = nb.doc_id)
    SELECT CASE WHEN ca > cb THEN doc_a WHEN cb > ca THEN doc_b
                ELSE greatest(doc_a, doc_b) END AS contained_doc,
           CASE WHEN ca > cb THEN doc_b WHEN cb > ca THEN doc_a
                ELSE least(doc_a, doc_b) END AS container_doc,
           greatest(ca, cb) AS containment
    FROM pairfracs
    WHERE ca >= {DD.CONTAIN_THRESHOLD} OR cb >= {DD.CONTAIN_THRESHOLD}
    """


@register("dedup_ngram_containment", oracle=_containment_oracle())
def dedup_ngram_containment(spark, sf_dir):
    """Asymmetric containment pairs (|A∩B| / |A|): catches truncated/
    quoted sub-documents whose Jaccard is diluted by the container's
    extra text — the planted corpus's last-7-chars-truncated copies
    are exactly this shape. Same language-blocked shared-gram
    equi-join as the Jaccard path; reports each pair's dominant
    containment direction."""
    return DD.ngram_containment_pairs(
        DD.planted_corpus(read_table(spark, sf_dir, "documents"), mutate=True),
        grams=_doc_grams(spark, sf_dir),
    )


def _semantic_keep_best_oracle() -> str:
    dot = dot_unrolled("va.embedding", "vb.embedding", DD.EMBED_DIM, "duckdb")
    nrm = norm_unrolled("embedding", DD.EMBED_DIM, "duckdb")
    return f"""
    WITH emb AS (
      -- canonical (vec_id, embedding) + min(label) ingest
      -- (round-12 duplicate-key axis): same contract as
      -- dedup_embed_cosine, whose pair stage this query shares
      SELECT vec_id, embedding, min(label) AS label
      FROM embeddings GROUP BY vec_id, embedding),
    corpus AS (
      SELECT vec_id, embedding, label FROM emb
      UNION ALL
      SELECT vec_id + {DD.PLANT_OFFSET}, embedding, label
      FROM emb WHERE vec_id < {DD.PLANT_MAX_ID}),
    vecs AS (SELECT vec_id, label, embedding, {nrm} AS nrm FROM corpus),
    pairs AS (
      SELECT vec_a, vec_b FROM (
        SELECT va.vec_id AS vec_a, vb.vec_id AS vec_b,
               round({dot} / (va.nrm * vb.nrm), 6) AS cosine
        FROM vecs va JOIN vecs vb
          ON va.label = vb.label AND va.vec_id < vb.vec_id)
      WHERE cosine >= {DD.COSINE_DUP_THRESHOLD}),
    neigh AS (
      SELECT vec_a AS me, vec_b AS other FROM pairs
      UNION ALL
      SELECT vec_b, vec_a FROM pairs),
    q AS (
      SELECT c.vec_id,
             d.n_chars AS quality
      FROM corpus c
      JOIN documents d
        ON d.doc_id = CASE WHEN c.vec_id >= {DD.PLANT_OFFSET}
                           THEN c.vec_id - {DD.PLANT_OFFSET}
                           ELSE c.vec_id END),
    ranked AS (
      SELECT n.me, n.other, qo.quality AS oq,
             row_number() OVER (PARTITION BY n.me
                                ORDER BY qo.quality DESC, n.other ASC)
               AS rk
      FROM neigh n JOIN q qo ON qo.vec_id = n.other)
    SELECT r.me AS dropped_vec, r.other AS kept_vec
    FROM ranked r
    JOIN q qm ON qm.vec_id = r.me
    WHERE r.rk = 1
      AND (r.oq > qm.quality OR (r.oq = qm.quality AND r.other < r.me))
    """


@register("dedup_semantic_keep_best", oracle=_semantic_keep_best_oracle())
def dedup_semantic_keep_best(spark, sf_dir):
    """SemDeDup-style survivor selection: among embedding-cosine
    near-dup pairs, drop the lower-quality member (quality = source
    doc length; ties keep the smaller id — so originals outlive their
    planted copies). The pairwise keep-best rule needs no clustering
    pass: a doc is dropped iff SOME neighbor beats it, decided from
    the pair table alone — one symmetric explode + one keyed window,
    scale-bounded by the (already-blocked) pair count, not the
    corpus. Quality joins through the embedding->document id map;
    the blocked pair generation is shared with dedup_embed_cosine."""
    from etl_jobs_spark.operators import similarity as SIM
    from etl_jobs_spark.queries.similarity import ivf_quantizer

    # canonical (vec_id, embedding) + min(label) ingest — the dedup
    # tier's duplicate-id contract (round-12 duplicate-key axis;
    # mirrored in the oracle CTE)
    from etl_jobs_spark import cache

    # persisted: the canonical corpus feeds several plan branches
    # (cell map, both pair sides, id spine) and without the persist
    # each branch re-runs the canon groupBy (the InMemoryTableScan
    # count of its docs/PLAN_CENSUS.json entry)
    emb = cache.track(
        read_table(spark, sf_dir, "embeddings")
        .groupBy("vec_id", "embedding")
        .agg(F.min("label").alias("label"))
    )
    centroids = ivf_quantizer(spark, sf_dir)
    cell_map = SIM.assign_cells(centroids, emb, keep=["vec_id"])
    pairs = DD.embedding_cosine_pairs(emb, cell_map=cell_map).select(
        "vec_a", "vec_b"
    )
    # Symmetrize with a single-pass explode, NOT a union of two
    # projections (optimization r15): the union consumed `pairs`
    # twice, so the whole blocked-cosine pair build (cell map +
    # unrolled 64-dim dot over every in-cell pair) ran once per
    # branch — the plan held 42 Exchange nodes with zero
    # ReusedExchange (its docs/PLAN_CENSUS.json entry now counts 7).
    # One explode of a 2-element struct array emits exactly
    # the same directed rows from ONE pass; at 100 TB this halves
    # the pair-generation work outright (guide §2.4).
    neigh = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_a").alias("me"),
                    F.col("vec_b").alias("other"),
                ),
                F.struct(
                    F.col("vec_b").alias("me"),
                    F.col("vec_a").alias("other"),
                ),
            )
        ).alias("e")
    ).select("e.me", "e.other")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    corpus_ids = emb.select("vec_id").unionByName(
        emb.filter(F.col("vec_id") < DD.PLANT_MAX_ID).select(
            (F.col("vec_id") + DD.PLANT_OFFSET).alias("vec_id")
        )
    )
    q = corpus_ids.join(
        F.broadcast(docs),
        docs.doc_id
        == F.expr(
            f"CASE WHEN vec_id >= {DD.PLANT_OFFSET}"
            f" THEN vec_id - {DD.PLANT_OFFSET} ELSE vec_id END"
        ),
    ).select("vec_id", F.col("n_chars").alias("quality"))
    from pyspark.sql import Window

    ranked = (
        neigh.join(
            q.select(
                F.col("vec_id").alias("other"), F.col("quality").alias("oq")
            ),
            "other",
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("me").orderBy(
                    F.col("oq").desc(), F.col("other").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
    )
    return (
        ranked.join(
            q.select(F.col("vec_id").alias("me"), F.col("quality").alias("mq")),
            "me",
        )
        .filter(
            (F.col("oq") > F.col("mq"))
            | ((F.col("oq") == F.col("mq")) & (F.col("other") < F.col("me")))
        )
        .select(
            F.col("me").alias("dropped_vec"), F.col("other").alias("kept_vec")
        )
    )


#: New-batch split for incremental dedup: plants below this id arrive
#: verbatim (exact dups of base), the rest truncated (genuinely new).
_INCR_VERBATIM_MAX = 12


def _incremental_oracle() -> str:
    n = norm_text("text", "duckdb")
    return f"""
    WITH base AS (
      SELECT doc_id, md5({n}) AS fp FROM documents),
    newbatch AS (
      SELECT doc_id + {DD.PLANT_OFFSET} AS doc_id,
             md5(CASE WHEN doc_id < {_INCR_VERBATIM_MAX} THEN n
                      ELSE substr(n, 1, greatest(length(n) - {DD.PLANT_TRUNC}, 1))
                 END) AS fp
      FROM (SELECT doc_id, {n} AS n FROM documents)
      WHERE doc_id < {DD.PLANT_MAX_ID})
    SELECT nb.doc_id, nb.fp AS fingerprint
    FROM newbatch nb ANTI JOIN base b ON nb.fp = b.fp
    """


@register("dedup_incremental_new_docs", oracle=_incremental_oracle())
def dedup_incremental_new_docs(spark, sf_dir):
    """Incremental-ingestion dedup: a new batch of documents is
    checked against the EXISTING corpus by content fingerprint and
    only unseen docs survive — the daily-crawl-append shape. The
    fixture's new batch is half verbatim re-deliveries (dropped) and
    half truncated variants (kept). One LEFT ANTI join on 16-byte
    fingerprints: at 100 TB the base side is a bucketed fingerprint
    table and the new batch probes it without rewriting history —
    state grows with corpus keys, work grows with batch size only."""
    n = norm_text("text", "spark")
    base = read_table(spark, sf_dir, "documents").select(
        F.md5(F.expr(n)).alias("fp")
    )
    newbatch = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < DD.PLANT_MAX_ID)
        .select(
            (F.col("doc_id") + DD.PLANT_OFFSET).alias("doc_id"),
            F.md5(
                F.expr(
                    f"CASE WHEN doc_id < {_INCR_VERBATIM_MAX} THEN {n}"
                    f" ELSE substring({n}, 1,"
                    f" greatest(length({n}) - {DD.PLANT_TRUNC}, 1)) END"
                )
            ).alias("fp"),
        )
    )
    return newbatch.join(base, "fp", "left_anti").select(
        "doc_id", F.col("fp").alias("fingerprint")
    )


def _cluster_size_hist_oracle() -> str:
    return f"""
    WITH comp AS ({_components_oracle()}),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component)
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """


@register("dedup_cluster_size_hist", oracle=_cluster_size_hist_oracle())
def dedup_cluster_size_hist(spark, sf_dir):
    """Near-dup cluster size distribution — the governance number a
    dedup run reports first (how much of the corpus sits in how-big
    duplicate families; a heavy tail means template spam). Two tiny
    aggregations on top of the memoized component assignment; the
    corpus-sized work is shared with dedup_cluster_components."""
    comp = _lsh_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Round 4: exact-substring dedup spans (Lee et al., "Deduplicating
# Training Data Makes Language Models Better" — gram-granular variant).
# ---------------------------------------------------------------------------

#: Sliding-window width (tokens) for repeated-span detection.
SPAN_W = 16
#: Planted cross-doc span: every 5th doc gets this 40-token suffix, so
#: planted docs share a run of exactly 40-16+1 = 25 repeated grams.
SPAN_TOKENS = " ".join(f"span{i}" for i in range(40))


def _span_oracle() -> str:
    n = norm_text("text", "duckdb")
    planted = (
        f"CASE WHEN doc_id % 5 = 0 THEN n || ' {SPAN_TOKENS}' ELSE n END"
    )
    return f"""
    WITH corpus AS (
        SELECT doc_id, string_split({planted}, ' ') AS toks
        FROM (SELECT doc_id, {n} AS n FROM documents)
    ),
    grams AS (
        SELECT doc_id, u.i,
               md5(array_to_string(
                   list_slice(toks, u.i, u.i + {SPAN_W - 1}), ' ')) AS gh
        FROM corpus,
             unnest(range(1, greatest(len(toks) - {SPAN_W - 2}, 1))) u(i)
    ),
    shared AS (
        SELECT gh FROM grams GROUP BY gh
        HAVING count(DISTINCT doc_id) >= 2
    ),
    rep AS (
        SELECT g.doc_id, g.i,
               g.i - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.i)
                   AS grp
        FROM grams g JOIN shared s ON g.gh = s.gh
    ),
    runs AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
        FROM rep GROUP BY doc_id, grp
    ),
    per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM grams GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_grams,
           CAST(coalesce(sum(r.run_len), 0) AS BIGINT) AS n_repeated,
           CAST(coalesce(max(r.run_len), 0) AS BIGINT) AS max_run
    FROM per_doc p LEFT JOIN runs r ON p.doc_id = r.doc_id
    GROUP BY p.doc_id, p.n_grams
    """


@register("dedup_repeated_ngram_spans", oracle=_span_oracle())
def dedup_repeated_ngram_spans(spark, sf_dir):
    """Exact-substring dedup at gram granularity (the Lee-et-al
    repeated-span detector): slide a SPAN_W-token window over every
    document, hash each gram, find grams shared across >=2 documents,
    and report per-doc repeated-gram counts plus the LONGEST
    consecutive repeated run (gaps-and-islands over gram positions) —
    the span a substring-dedup pass would cut. A planted 40-token
    suffix on every 5th doc produces a known 25-gram shared run.

    Scale shape: the gram explode is linear in corpus tokens; the
    shared-gram agg shuffles md5 hashes only; the island window
    partitions by doc_id (no global sort). A full suffix-array pass
    finds arbitrary-length repeats, but the gram-granular variant is
    the shape that distributes: same shuffle keys as MinHash/decontam,
    one more window."""
    from pyspark.sql import Window

    n = norm_text("text", "spark")
    planted = (
        f"CASE WHEN doc_id % 5 = 0 THEN concat(n, ' {SPAN_TOKENS}') "
        f"ELSE n END"
    )
    from etl_jobs_spark.sources.readers import spread

    # spread before the token-window explode + per-gram md5 (the
    # query's dominant CPU stage): single-file fixture scan = 1
    # split; no-op at real scale (guide §2.5 input skew)
    docs = spread(read_table(spark, sf_dir, "documents"))
    grams = (
        docs.select("doc_id", F.expr(n).alias("n"))
        .select("doc_id", F.expr(f"split({planted}, ' ')").alias("toks"))
        # sequence(1, 0) is DESCENDING in Spark, so docs too short for
        # one window are dropped before the explode (the oracle's
        # range() yields no rows for them too).
        .filter(F.expr(f"size(toks) >= {SPAN_W}"))
        .select(
            "doc_id",
            F.expr(
                f"explode(transform("
                f"  sequence(1, size(toks) - {SPAN_W - 1}),"
                f"  i -> struct(i AS i, md5(array_join("
                f"    slice(toks, i, {SPAN_W}), ' ')) AS gh)))"
            ).alias("g"),
        )
        .select("doc_id", F.col("g.i").alias("i"), F.col("g.gh").alias("gh"))
    )
    from etl_jobs_spark import cache

    grams = cache.track(grams)
    shared = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    rep = grams.join(shared, "gh").withColumn(
        "grp",
        F.col("i")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("i")),
    )
    runs = rep.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    per_doc = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        per_doc.join(runs, "doc_id", "left")
        .groupBy("doc_id", "n_grams")
        .agg(
            F.coalesce(F.sum("run_len"), F.lit(0)).alias("n_repeated"),
            F.coalesce(F.max("run_len"), F.lit(0)).alias("max_run"),
        )
    )


@register("dedup_incremental_bloom", oracle=_incremental_oracle())
def dedup_incremental_bloom(spark, sf_dir):
    """The incremental dedup check ACCELERATED by a corpus Bloom
    filter — same scenario and same oracle as
    dedup_incremental_new_docs, different physical plan: the
    existing corpus's fingerprint set is condensed into a 64 KB
    Bloom bit array (operators/bloom.py, m=2^19/k=3 — ~1.5% fp at
    50k keys), the new batch probes it as a scan-side codegen
    predicate, and ONLY bloom-positives (true re-deliveries + the
    ~1.5% false positives) go through the exact anti join; bloom
    negatives are definitely-new and ship straight through, no join
    at all. At 100 TB the base fingerprint table is corpus-sized —
    this plan replaces the every-batch shuffle against it with a
    broadcast-sized filter plus an exact check on the tiny maybe-dup
    slice, which is how a daily-crawl pipeline keeps ingest cost
    proportional to BATCH size. Bloom one-sidedness (no false
    negatives, pinned in tests/test_bloom.py) is what makes the
    split lossless: every true duplicate is bloom-positive, so the
    exact join sees all of them and the union is exactly the plain
    anti join's answer."""
    from etl_jobs_spark.operators.bloom import bloom_build, bloom_probe_expr

    n = norm_text("text", "spark")
    # NOT spread (optimization r15, measured): the path is one
    # normalize+md5 per DOC (not per gram), and spreading both scans
    # measured 1.98s -> 2.36s noop at sf0.1 — the raw-text shuffle
    # costs more than the extra decode parallelism buys here.
    base = read_table(spark, sf_dir, "documents").select(
        F.md5(F.expr(n)).alias("fp")
    )
    words = bloom_build(base, "fp", m_bits=1 << 19)
    newbatch = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < DD.PLANT_MAX_ID)
        .select(
            (F.col("doc_id") + DD.PLANT_OFFSET).alias("doc_id"),
            F.md5(
                F.expr(
                    f"CASE WHEN doc_id < {_INCR_VERBATIM_MAX} THEN {n}"
                    f" ELSE substring({n}, 1,"
                    f" greatest(length({n}) - {DD.PLANT_TRUNC}, 1)) END"
                )
            ).alias("fp"),
        )
    )
    probe = bloom_probe_expr(words, "fp")
    definitely_new = newbatch.filter(~probe)
    maybe_dup = newbatch.filter(probe).join(base, "fp", "left_anti")
    return definitely_new.unionByName(maybe_dup.select("doc_id", "fp")).select(
        "doc_id", F.col("fp").alias("fingerprint")
    )


def _lsh_eval_oracle() -> str:
    """Precision/recall of the LSH candidate stage vs exact-Jaccard
    ground truth, stated from the two already-registered oracles —
    trustworthy because both inputs are themselves driver-verified."""
    from etl_jobs_spark.registry import _REGISTRY

    cand = _REGISTRY["dedup_minhash_lsh"].oracle
    truth = _REGISTRY["dedup_ngram_jaccard"].oracle
    return f"""
    WITH cand AS ({cand}),
    truth AS ({truth}),
    hits AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hits
      FROM truth t JOIN cand c
        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
    sizes AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates)
    SELECT s.n_truth, s.n_candidates, h.n_hits,
           round(CAST(h.n_hits AS DOUBLE) / s.n_truth, 4) AS recall,
           round(CAST(h.n_hits AS DOUBLE) / s.n_candidates, 4)
             AS precision
    FROM sizes s, hits h
    """


@register("dedup_lsh_recall_eval", oracle=_lsh_eval_oracle())
def dedup_lsh_recall_eval(spark, sf_dir):
    """Dedup-quality EVALUATION as a first-class job: the MinHash-LSH
    candidate stage scored against exact word-3-gram Jaccard ≥ 0.5
    ground truth — recall says how many true near-dup pairs banding
    surfaces (the number that bounds how much duplication survives a
    production run), precision says how much the exact-verify stage
    has to re-check (banding is recall-oriented by design; the
    verify stage exists BECAUSE precision is allowed to be low).
    Companion to ann_recall_eval: both make the engine's
    approximate tiers self-auditing, with the eval arithmetic AND
    both inputs restated in the oracle. Scale shape: the inputs are
    the existing operators (blocked, hash-shuffled); the eval adds
    one pair-keyed equi-join plus two counts."""
    cand = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    t, c = truth.alias("t"), cand.alias("c")
    hits = t.join(
        c,
        (F.col("t.doc_a") == F.col("c.doc_a"))
        & (F.col("t.doc_b") == F.col("c.doc_b")),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    sizes = truth.agg(F.count(F.lit(1)).alias("n_truth")).crossJoin(
        cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    # try_divide: an empty corpus has zero truth pairs/candidates —
    # the eval must report NULL recall/precision (DuckDB x/0 -> NULL),
    # not crash with an ANSI divide-by-zero (round-11 empty-input axis)
    return sizes.crossJoin(hits).select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.round(
            F.try_divide(F.col("n_hits").cast("double"), F.col("n_truth")), 4
        ).alias("recall"),
        F.round(
            F.try_divide(
                F.col("n_hits").cast("double"), F.col("n_candidates")
            ),
            4,
        ).alias("precision"),
    )


def _span_table(spark, sf_dir):
    """Substring span table over the PLANTED corpus — computed once
    per (session, corpus) and persisted (the gram explode + seed
    join is the expensive stage; dedup_substring_spans reports it
    and dedup_substring_coverage consumes it — same shared-artifact
    pattern as _minhash_pairs)."""
    from etl_jobs_spark.queries._shared import session_memo

    return session_memo(
        spark,
        "substring_spans",
        sf_dir,
        lambda: DD.substring_spans(
            DD.planted_corpus(
                read_table(spark, sf_dir, "documents"), mutate=True
            )
        ).persist(),
    )


def _substring_spans_oracle(corpus_sql: str | None = None) -> str:
    """Span-table oracle over an arbitrary corpus subquery (columns
    doc_id, n); defaults to the planted corpus. Shared with the
    decontamination variant in queries/corpus_governance.py."""
    w, cap, mn = DD.SPAN_GRAM_W, DD.SPAN_FREQ_CAP, DD.SPAN_MIN_LEN
    if corpus_sql is None:
        corpus_sql = f"SELECT * FROM {DD.planted_corpus_sql(mutate=True)} pc"
    return f"""
    WITH corpus AS ({corpus_sql}),
    g0 AS (
      -- constant-bound position table (DuckDB's range() cannot take
      -- lateral column args); 2048 is ~3.5x the fixture max doc
      -- length at every SF
      SELECT doc_id, CAST(pp.p AS BIGINT) AS p,
             substr(n, CAST(pp.p AS INT), {w}) AS g
      FROM corpus JOIN range(1, 2048) pp(p)
        ON pp.p <= length(n) - {w} + 1),
    freq AS (
      SELECT doc_id, p, g, count(*) OVER (PARTITION BY g) AS f
      FROM g0),
    rare AS (SELECT doc_id, p, g FROM freq WHERE f <= {cap}),
    seeds AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.p AS pa, b.p AS pb, a.p - b.p AS diag
      FROM rare a JOIN rare b
        ON a.g = b.g AND a.doc_id < b.doc_id),
    flagged AS (
      SELECT doc_a, doc_b, diag, pa, pb,
             CASE WHEN pa - lag(pa, 1, -100) OVER (
                    PARTITION BY doc_a, doc_b, diag ORDER BY pa) > 1
                  THEN 1 ELSE 0 END AS new_run
      FROM seeds),
    runs AS (
      SELECT doc_a, doc_b, diag, pa, pb,
             sum(new_run) OVER (PARTITION BY doc_a, doc_b, diag
                                ORDER BY pa
                                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged),
    spans AS (
      SELECT doc_a, doc_b,
             CAST(min(pa) AS BIGINT) AS start_a,
             CAST(min(pb) AS BIGINT) AS start_b,
             CAST(max(pa) - min(pa) + {w} AS BIGINT) AS span_len
      FROM runs GROUP BY doc_a, doc_b, diag, run_id)
    SELECT doc_a, doc_b, start_a, start_b, span_len
    FROM spans WHERE span_len >= {mn}
    """


@register("dedup_substring_spans", oracle=_substring_spans_oracle())
def dedup_substring_spans(spark, sf_dir):
    """Cross-document SUBSTRING dedup: maximal repeated substrings
    of >= 40 chars across different documents — the partial-overlap
    modality the exact/MinHash/SimHash/semantic ladder misses
    (boilerplate headers, quoted passages, template text). Suffix-
    array semantics as a distributed seed-and-chain plan: stride-1
    char-20-gram seeds, corpus-frequency stop-gram cap (bounds the
    only quadratic risk), gram equi-join, and diagonal run-chaining
    via the islands idiom. The planted truncated copies surface as
    full-prefix spans; positions and lengths are exact integers.
    The stop-gram cap is one window, the gram join ONE equi-join and
    the diagonal chaining one window family. Completes the exact ->
    fuzzy -> semantic -> substring ladder (VERDICT r6 item 4)."""
    return _span_table(spark, sf_dir)


def _substring_coverage_oracle() -> str:
    mn = DD.SPAN_MIN_LEN
    return f"""
    WITH spans AS ({_substring_spans_oracle()}),
    iv AS (
      -- DISTINCT makes (s, e) a total order per doc: several doc_a
      -- partners can contribute IDENTICAL spans, and tied rows
      -- would split islands nondeterministically in the running
      -- sum (the ts_interval_coverage tie lesson)
      SELECT DISTINCT doc_b AS doc_id, start_b AS s,
             start_b + span_len AS e
      FROM spans),
    lens AS (
      SELECT doc_id, CAST(length(n) AS BIGINT) AS n_chars
      FROM {DD.planted_corpus_sql(mutate=True)} pc),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(
                    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING),
                    -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    islands AS (
      SELECT doc_id, s, e,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING)
               AS island_id
      FROM flagged),
    merged AS (
      SELECT doc_id, island_id,
             min(s) AS st, max(e) AS en
      FROM islands GROUP BY 1, 2),
    cov AS (
      SELECT doc_id, CAST(sum(en - st) AS BIGINT) AS dup_chars
      FROM merged GROUP BY doc_id)
    SELECT c.doc_id, c.dup_chars, l.n_chars,
           CAST(c.dup_chars * 1000 // l.n_chars AS BIGINT)
             AS dup_permille,
           CASE WHEN c.dup_chars * 2 >= l.n_chars
                THEN 1 ELSE 0 END AS drop_flag
    FROM cov c JOIN lens l ON l.doc_id = c.doc_id
    """


@register("dedup_substring_coverage", oracle=_substring_coverage_oracle())
def dedup_substring_coverage(spark, sf_dir):
    """The dedup ACTION on top of the span table: per document, how
    much of it is covered by cross-document repeated substrings?
    Spans landing on the doc (higher-id side, so originals survive)
    union via the islands idiom — overlapping spans must not double
    count, exactly the sweep-line of ts_interval_coverage — into an
    exact duplicated-char total, a per-mille fraction, and the
    majority-duplicated drop flag a corpus build enforces. Equal
    (s, e) rows from different partners collapse via DISTINCT first,
    so (s, e) is a total order inside every window. All integers. Scale: one doc-keyed window family
    over the (small) span table + a join back to doc lengths."""
    from pyspark.sql import Window as W

    corpus = DD.planted_corpus(
        read_table(spark, sf_dir, "documents"), mutate=True
    )
    spans = _span_table(spark, sf_dir)
    # DISTINCT: identical spans from different doc_a partners would
    # otherwise tie in the island windows (see oracle comment)
    iv = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_len")).alias("e"),
    ).distinct()
    prior = (
        W.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(prior), F.lit(-1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    run = (
        W.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    merged = (
        flagged.withColumn("island_id", F.sum("new_island").over(run))
        .groupBy("doc_id", "island_id")
        .agg(F.min("s").alias("st"), F.max("e").alias("en"))
    )
    cov = merged.groupBy("doc_id").agg(
        F.sum(F.col("en") - F.col("st")).cast("long").alias("dup_chars")
    )
    lens = corpus.select(
        "doc_id", F.length("n").cast("long").alias("n_chars")
    )
    return cov.join(lens, "doc_id").select(
        "doc_id",
        "dup_chars",
        "n_chars",
        F.expr("CAST(dup_chars * 1000 DIV n_chars AS BIGINT)").alias(
            "dup_permille"
        ),
        F.expr(
            "CASE WHEN dup_chars * 2 >= n_chars THEN 1 ELSE 0 END"
        ).alias("drop_flag"),
    )


def _substring_drop_audit_oracle() -> str:
    w, cap = DD.SPAN_GRAM_W, DD.SPAN_FREQ_CAP
    return f"""
    WITH corpus AS (
      SELECT * FROM {DD.planted_corpus_sql(mutate=True)} pc),
    g0 AS (
      SELECT substr(n, CAST(pp.p AS INT), {w}) AS g
      FROM corpus JOIN range(1, 2048) pp(p)
        ON pp.p <= length(n) - {w} + 1),
    freq AS (SELECT g, count(*) AS f FROM g0 GROUP BY g)
    SELECT
      CAST(sum(CASE WHEN f <= {cap} THEN 1 ELSE 0 END) AS BIGINT)
        AS kept_grams,
      CAST(sum(CASE WHEN f > {cap} THEN 1 ELSE 0 END) AS BIGINT)
        AS dropped_grams,
      CAST(sum(CASE WHEN f <= {cap} THEN f ELSE 0 END) AS BIGINT)
        AS kept_occurrences,
      CAST(sum(CASE WHEN f > {cap} THEN f ELSE 0 END) AS BIGINT)
        AS dropped_occurrences
    FROM freq
    """


@register("dedup_substring_drop_audit", oracle=_substring_drop_audit_oracle())
def dedup_substring_drop_audit(spark, sf_dir):
    """No-silent-caps observability for the substring-dedup tier
    (ADVICE r7): one row quantifying what the SPAN_FREQ_CAP
    stop-gram filter removed before seed generation — distinct grams
    and gram occurrences kept vs dropped. dropped_occurrences is the
    recall exposure of dedup_substring_spans/coverage: boilerplate
    whose interior grams are all corpus-frequent loses those seeds
    (documented bound in operators/dedup.py::substring_spans). Plan:
    gram explode -> groupBy(g).count() -> single-row conditional
    aggregate; two keyed shuffles, nothing quadratic."""
    return DD.substring_stop_gram_audit(
        DD.planted_corpus(
            read_table(spark, sf_dir, "documents"), mutate=True
        )
    )


#: Near-dup threshold for the cross-source overlap census (applied
#: to the rounded est_sim, identical in both engines).
_XSRC_SIM = 0.5


def _cross_source_oracle() -> str:
    from etl_jobs_spark.registry import _REGISTRY

    pairs = _REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
    WITH pairs AS ({pairs}),
    src AS (SELECT doc_id, source FROM documents),
    labeled AS (
      SELECT least(sa.source, sb.source) AS source_a,
             greatest(sa.source, sb.source) AS source_b,
             p.est_sim
      FROM pairs p
      JOIN src sa ON p.doc_a % {DD.PLANT_OFFSET} = sa.doc_id
      JOIN src sb ON p.doc_b % {DD.PLANT_OFFSET} = sb.doc_id)
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_candidate_pairs,
           CAST(sum(CASE WHEN est_sim >= {_XSRC_SIM} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_dups,
           CAST(1000 * sum(CASE WHEN est_sim >= {_XSRC_SIM}
                                THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS near_dup_permille
    FROM labeled GROUP BY 1, 2
    """


@register("dedup_cross_source_matrix", oracle=_cross_source_oracle())
def dedup_cross_source_matrix(spark, sf_dir):
    """CROSS-SOURCE OVERLAP MATRIX — 'how much of source A is also
    in source B', the question every corpus-mixing decision starts
    from (double-counting between crawls silently re-weights the
    mix): MinHash candidate pairs (the REGISTERED dedup_minhash_lsh
    memo — nested oracle, pinned end-to-end) with each endpoint
    mapped to its ORIGIN document's source (planted replicas map
    back via doc_id mod PLANT_OFFSET), censused per unordered
    source pair with the near-dup rate in permille (threshold on
    the 4-dp-rounded estimate, identical in both engines). Scale
    shape: pairs come from the banded LSH join (never all-pairs);
    the census adds two broadcast-able id-joins and one tiny keyed
    aggregate over source pairs."""
    pairs = _minhash_pairs(spark, sf_dir)
    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("oa"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("ob"), F.col("source").alias("src_b")
    )
    labeled = (
        pairs.withColumn("oa", F.col("doc_a") % DD.PLANT_OFFSET)
        .withColumn("ob", F.col("doc_b") % DD.PLANT_OFFSET)
        .join(F.broadcast(sa), "oa")
        .join(F.broadcast(sb), "ob")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "est_sim",
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
        F.sum(F.when(F.col("est_sim") >= _XSRC_SIM, 1).otherwise(0))
        .cast("bigint")
        .alias("n_near_dups"),
        F.expr(
            f"CAST(1000 * sum(CASE WHEN est_sim >= {_XSRC_SIM}"
            " THEN 1 ELSE 0 END) DIV count(*) AS BIGINT)"
        ).alias("near_dup_permille"),
    )


def _novelty_oracle() -> str:
    from etl_jobs_spark.operators.hashing import (
        char_shingles,
        hash60,
        norm_text,
    )

    return f"""
    WITH corpus AS (
      SELECT doc_id, source, {norm_text('text', 'duckdb')} AS n
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, source,
             {hash60('s', 'duckdb')} AS gh
      FROM (SELECT doc_id, source,
                   unnest({char_shingles('n', 'duckdb')}) AS s
            FROM corpus)),
    firsts AS (
      SELECT gh, min(doc_id) AS first_doc FROM grams GROUP BY 1)
    SELECT g.source,
           CAST(count(*) AS BIGINT) AS n_gram_slots,
           CAST(sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(1000 * sum(CASE WHEN g.doc_id = f.first_doc
                                THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS novelty_permille
    FROM grams g JOIN firsts f ON f.gh = g.gh
    GROUP BY 1
    """


@register("dedup_gram_novelty_by_source", oracle=_novelty_oracle())
def dedup_gram_novelty_by_source(spark, sf_dir):
    """GRAM-NOVELTY CENSUS per source: for every (doc, distinct
    5-gram shingle) slot, is this doc the gram's FIRST appearance
    in doc_id order? — the content-growth diagnostic behind crawl
    scheduling (a source whose novelty permille collapses is
    re-serving text the corpus already has; the incremental-crawl
    anti-join family tells you WHICH docs, this tells you how much
    NEW text each source contributes). First-appearance is an
    exact-integer min-per-gram; novelty is counted over distinct
    (doc, gram) slots so a doc repeating its own gram doesn't
    inflate either side. Scale shape: the gram groupBy is the same
    16-byte-key shuffle the MinHash/dedup tier pays (hashes cross
    the wire, never text); the census is one keyed rollup per
    source."""
    from etl_jobs_spark.operators.hashing import (
        char_shingles,
        hash60,
        norm_text,
    )

    from etl_jobs_spark.sources.readers import spread

    # spread before the stride-1 char-gram explode + hash: the
    # single-file fixture scan is 1 split, so the query's dominant
    # CPU stage otherwise runs on one task (guide §2.5 input skew;
    # no-op at real scale where the scan has many splits)
    docs = spread(read_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        F.expr(norm_text("text", "spark")).alias("n"),
    )
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(F.expr(char_shingles("n", "spark"))).alias("s"),
    ).select(
        "doc_id", "source", F.expr(hash60("s", "spark")).alias("gh")
    ).distinct()
    # first-appearance as a window MIN over the gram key, not a
    # groupBy+self-join: the join form evaluated the whole
    # normalize→explode→distinct lineage TWICE (once per join side)
    # and paid a third slot-table shuffle — the window is one
    # hash-partitioned pass over gh (high-cardinality partitionBy is
    # fine: partitions hash across the cluster, sort is per gram
    # group). Measured 12.3s → 5.9s cold at sf0.1, rows identical.
    from pyspark.sql import Window as W

    slots = grams.withColumn(
        "first_doc", F.min("doc_id").over(W.partitionBy("gh"))
    )
    return (
        slots
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gram_slots"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
            F.expr(
                "CAST(1000 * sum(CASE WHEN doc_id = first_doc"
                " THEN 1 ELSE 0 END) DIV count(*) AS BIGINT)"
            ).alias("novelty_permille"),
        )
    )


#: Similarity thresholds for the dedup sensitivity curve (applied to
#: the 4-dp-rounded MinHash estimate, identical in both engines).
_SENS_TAUS = (0.25, 0.5, 0.75, 1.0)


def _sensitivity_oracle() -> str:
    from etl_jobs_spark.registry import _REGISTRY

    pairs = _REGISTRY["dedup_minhash_lsh"].oracle
    taus = ", ".join(f"({t})" for t in _SENS_TAUS)
    return f"""
    WITH pairs AS ({pairs}),
    taus AS (SELECT * FROM (VALUES {taus}) t(tau)),
    hits AS (
      SELECT t.tau, p.doc_a, p.doc_b
      FROM pairs p JOIN taus t ON p.est_sim >= t.tau)
    SELECT tau,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped
    FROM hits GROUP BY 1
    """


@register("dedup_threshold_sensitivity", oracle=_sensitivity_oracle())
def dedup_threshold_sensitivity(spark, sf_dir):
    """DEDUP THRESHOLD SENSITIVITY CURVE: candidate-pair count and
    keep-first drop count at each similarity cutoff — the curve an
    operator reads BEFORE picking the near-dup threshold (too low
    deletes paraphrases, too high keeps boilerplate; the knee is a
    data property, not a constant). Runs entirely off the shared
    MinHash pair memo (nested registered oracle); docs_dropped
    counts DISTINCT higher-id pair members — the keep-lowest-id
    survivor rule's drop set, so the curve states actual corpus
    shrinkage per tau, not just pair volume. Thresholds compare the
    4-dp-rounded estimate, identical in both engines. Scale shape:
    a |taus|-way fan-out of the (already banded-LSH-bounded) pair
    table, one combinable rollup."""
    from pyspark.sql import Row

    pairs = _minhash_pairs(spark, sf_dir)
    taus = F.broadcast(
        spark.createDataFrame([Row(tau=t) for t in _SENS_TAUS])
    )
    hits = pairs.crossJoin(taus).filter(F.col("est_sim") >= F.col("tau"))
    return hits.groupBy("tau").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("doc_b").cast("bigint").alias("n_docs_dropped"),
    )
