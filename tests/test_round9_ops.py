"""Round-9 operator locks: pure-Python cross-implementation checks
for the new rank/runs statistics (value correctness vs the DuckDB
oracle is covered by test_queries_oracle's parametrized sweep — these
re-derive the statistics from first principles with an independent
algorithm, the same discipline as test_round8_ops' kendall/bootstrap
checks)."""

from __future__ import annotations

import math
from itertools import combinations

import pandas as pd
import pytest

from etl_jobs_spark.queries.data_quality import (
    stat_runs_test,
    stat_spearman_rho,
)
from tests.conftest import SF_DIR


def _daily(sf_dir) -> pd.DataFrame:
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    return (
        ev.assign(
            d=pd.to_datetime(ev["ts"]).dt.date,
            cents=(ev["value"] * 100).round().astype("int64"),
        )
        .groupby("d")
        .agg(rev=("cents", "sum"), cnt=("cents", "size"))
        .reset_index()
        .sort_values("d")
    )


def test_spearman_matches_average_rank_bruteforce(spark):
    got = stat_spearman_rho(spark, SF_DIR).collect()[0].asDict()
    daily = _daily(SF_DIR)
    n = len(daily)
    # independent rank computation: scipy-style average ranks
    rx = daily["rev"].rank(method="average")
    ry = daily["cnt"].rank(method="average")
    d = rx - ry
    sum_d2 = float((d * d).sum())

    def tie_term(s):
        return int(sum(t**3 - t for t in s.value_counts()))

    tie_x, tie_y = tie_term(daily["rev"]), tie_term(daily["cnt"])
    assert got["n_days"] == n
    # the engine carries 4*Σd² as the exact integer
    assert got["sum_d2_x4"] == round(4 * sum_d2)
    assert got["tie_x"] == tie_x
    assert got["tie_y"] == tie_y
    n3n = n**3 - n
    sx = (n3n - tie_x) / 12.0
    sy = (n3n - tie_y) / 12.0
    rho = (sx + sy - sum_d2) / (2.0 * math.sqrt(sx * sy))
    assert got["rho"] == pytest.approx(rho, abs=1e-6)
    # sanity: Pearson-on-ranks gives the same number
    pearson = rx.corr(ry)
    assert rho == pytest.approx(pearson, abs=1e-9)


def test_runs_test_matches_bruteforce(spark):
    got = stat_runs_test(spark, SF_DIR).collect()[0].asDict()
    daily = _daily(SF_DIR)
    deltas = daily["rev"].diff().dropna()
    signs = [1 if x > 0 else -1 for x in deltas if x != 0]
    n_up = sum(1 for s in signs if s == 1)
    n_down = len(signs) - n_up
    runs = 1 + sum(
        1 for a, b in zip(signs, signs[1:]) if a != b
    ) if signs else 0
    assert got["n_up"] == n_up
    assert got["n_down"] == n_down
    assert got["n_runs"] == runs
    n = n_up + n_down
    two_ud = 2 * n_up * n_down
    mu = 1.0 + two_ud / n
    var = two_ud * (two_ud - n) / (n * n * (n - 1.0))
    z = (runs - mu) / math.sqrt(var)
    assert got["z"] == pytest.approx(z, abs=1e-6)
    # the fixture series must actually exercise both signs
    assert n_up > 0 and n_down > 0


def test_spearman_pair_identity_with_kendall_base(spark):
    """The spearman daily base must be IDENTICAL to kendall's (same
    _DAILY_SQL text) — lock the row counts so a drift in one oracle's
    base silently diverging from the other is caught here."""
    from etl_jobs_spark.queries.data_quality import stat_kendall_tau

    k = stat_kendall_tau(spark, SF_DIR).collect()[0].asDict()
    s = stat_spearman_rho(spark, SF_DIR).collect()[0].asDict()
    assert k["n_days"] == s["n_days"]


# ---------------------------------------------------------------------------
# Graph pair: independent Python peel / assortativity over the same
# co-purchase edge set.
# ---------------------------------------------------------------------------


def _copurchase_edges_py(sf_dir):
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).drop_duplicates()
    m = li.merge(li, on="l_orderkey")
    m = m[m["l_partkey_x"] < m["l_partkey_y"]]
    return set(
        zip(m["l_partkey_x"].tolist(), m["l_partkey_y"].tolist())
    )


def test_k_core_matches_python_peel(spark):
    from etl_jobs_spark.queries.graph_analytics import (
        KCORE_K,
        KCORE_MAX_ROUNDS,
        graph_k_core,
    )

    got = graph_k_core(spark, SF_DIR).collect()[0].asDict()
    edges = _copurchase_edges_py(SF_DIR)
    nodes0 = {n for e in edges for n in e}
    rounds = 0
    while True:
        deg = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= KCORE_K}
        nxt = {(u, v) for u, v in edges if u in keep and v in keep}
        if nxt == edges:
            break
        edges = nxt
        rounds += 1
    core_deg = {}
    for u, v in edges:
        core_deg[u] = core_deg.get(u, 0) + 1
        core_deg[v] = core_deg.get(v, 0) + 1
    assert got["k"] == KCORE_K
    assert got["n_nodes_initial"] == len(nodes0)
    assert got["n_core_nodes"] == len(core_deg)
    assert got["n_core_edges"] == len(edges)
    assert got["min_core_degree"] == (
        min(core_deg.values()) if core_deg else 0
    )
    assert got["n_peel_rounds"] == rounds
    assert rounds <= KCORE_MAX_ROUNDS
    # the surviving core, if any, really is a k-core
    assert not core_deg or min(core_deg.values()) >= KCORE_K


def test_assortativity_matches_python(spark):
    from etl_jobs_spark.queries.graph_analytics import (
        graph_degree_assortativity,
    )

    got = graph_degree_assortativity(spark, SF_DIR).collect()[0].asDict()
    edges = _copurchase_edges_py(SF_DIR)
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    m = len(edges)
    s_prod = sum(deg[u] * deg[v] for u, v in edges)
    s_sum = sum(deg[u] + deg[v] for u, v in edges)
    s_sq = sum(deg[u] ** 2 + deg[v] ** 2 for u, v in edges)
    assert got["n_edges"] == m
    assert got["s_prod"] == s_prod
    assert got["s_sum"] == s_sum
    assert got["s_sq"] == s_sq
    r = (4.0 * m * s_prod - float(s_sum) ** 2) / (
        2.0 * m * s_sq - float(s_sum) ** 2
    )
    assert got["assortativity"] == pytest.approx(r, abs=1e-6)


# ---------------------------------------------------------------------------
# Temporal pair: independent Python SAX / Theil-Sen over the raw events.
# ---------------------------------------------------------------------------


def test_sax_symbols_matches_python(spark):
    from etl_jobs_spark.queries.temporal import (
        SAX_ALPHABET,
        SAX_HOURS_PER_SEG,
        ts_sax_symbols,
    )

    got = {
        r["d"]: (r["sax_word"], r["n_segments"], r["n_points"])
        for r in ts_sax_symbols(spark, SF_DIR).collect()
    }
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ts = pd.to_datetime(ev["ts"])
    df = pd.DataFrame(
        {
            "d": ts.dt.date,
            "seg": ts.dt.hour // SAX_HOURS_PER_SEG,
            "cents": (ev["value"] * 100).round().astype("int64"),
        }
    )
    paa = (
        df.groupby(["d", "seg"])
        .agg(s=("cents", "sum"), n=("cents", "size"))
        .reset_index()
    )
    paa["paa"] = paa["s"] // paa["n"]
    # ntile with full (paa, d, seg) tie-break
    paa = paa.sort_values(["paa", "d", "seg"], ignore_index=True)
    n = len(paa)
    base, extra = divmod(n, SAX_ALPHABET)
    bucket = []
    for q in range(SAX_ALPHABET):
        bucket += [q] * (base + (1 if q < extra else 0))
    paa["sym"] = [chr(ord("a") + q) for q in bucket]
    words = {}
    for d, grp in paa.groupby("d"):
        syms = dict(zip(grp["seg"], grp["sym"]))
        words[d] = (
            "".join(syms.get(s, "_") for s in range(4)),
            len(grp),
            int(grp["n"].sum()),
        )
    assert got == words


def test_theil_sen_matches_python(spark):
    from etl_jobs_spark.queries.temporal import ts_theil_sen_trend

    got = ts_theil_sen_trend(spark, SF_DIR).collect()[0].asDict()
    daily = _daily(SF_DIR)
    days = [
        (pd.Timestamp(d).toordinal() - pd.Timestamp("1970-01-01").toordinal(), int(r))
        for d, r in zip(daily["d"], daily["rev"])
    ]
    slopes = []
    for i, (xa, ra) in enumerate(days):
        for xb, rb in days[i + 1 :]:
            mag = (abs(rb - ra) * 1000) // (xb - xa)
            slopes.append(mag if rb >= ra else -mag)
    slopes.sort()
    np_ = len(slopes)
    assert got["n_days"] == len(days)
    assert got["n_pairs"] == np_
    assert got["median_slope_permille"] == slopes[(np_ + 1) // 2 - 1]
    assert got["q1_slope_permille"] == slopes[(np_ + 3) // 4 - 1]
    assert got["q3_slope_permille"] == slopes[(3 * np_ + 1) // 4 - 1]


# ---------------------------------------------------------------------------
# Collocation + vocabulary encoder: independent Python recomputation.
# ---------------------------------------------------------------------------


def test_collocation_matches_python(spark):
    from collections import Counter

    from etl_jobs_spark.queries.text_analysis import (
        COLL_MIN_COUNT,
        COLL_TOP_K,
        text_collocation_lift,
    )

    got = [
        r.asDict() for r in text_collocation_lift(spark, SF_DIR).collect()
    ]
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    import re

    big, uni = Counter(), Counter()
    for t in docs["text"]:
        toks = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
        if len(toks) < 2:
            continue
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    n_bi = sum(big.values())
    cands = sorted(
        (
            (w1, w2, c)
            for (w1, w2), c in big.items()
            if c >= COLL_MIN_COUNT
        ),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:COLL_TOP_K]
    assert len(got) == len(cands)
    for row, (w1, w2, c) in zip(
        sorted(got, key=lambda r: r["rnk"]), cands
    ):
        assert (row["w1"], row["w2"], row["big_cnt"]) == (w1, w2, c)
        assert row["n_bigrams"] == n_bi
        assert row["fwd_permille"] == c * 1000 // uni[w1]
        assert row["rev_permille"] == c * 1000 // uni[w2]
        assert row["lift"] == pytest.approx(
            c * n_bi / (uni[w1] * uni[w2]), abs=1e-6
        )


def test_vocab_collapse_matches_python(spark):
    from collections import Counter

    from etl_jobs_spark.queries.feature_engineering import (
        VOCAB_M,
        VOCAB_OTHER,
        feat_vocab_collapse_encode,
    )

    got = {
        r["category"]: r.asDict()
        for r in feat_vocab_collapse_encode(spark, SF_DIR).collect()
    }
    parts = pd.read_parquet(f"{SF_DIR}/part.parquet")
    counts = Counter(parts["p_brand"])
    ranked = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    vocab = {c for c, _ in ranked[:VOCAB_M]}
    total = len(parts)
    other_n = sum(n for c, n in counts.items() if c not in vocab)
    assert set(got) == vocab | {VOCAB_OTHER}
    assert got[VOCAB_OTHER]["n_rows"] == other_n
    assert got[VOCAB_OTHER]["n_source_categories"] == len(counts) - len(
        vocab
    )
    for c in vocab:
        assert got[c]["n_rows"] == counts[c]
        assert got[c]["n_source_categories"] == 1
        assert got[c]["share_permille"] == counts[c] * 1000 // total
    ids = sorted(
        got.values(), key=lambda r: (-r["n_rows"], r["category"])
    )
    assert [r["category_id"] for r in ids] == list(
        range(1, len(ids) + 1)
    )


def test_morton_tiles_matches_python(spark):
    import hashlib
    from collections import Counter

    from etl_jobs_spark.queries.spatial import (
        MORTON_BITS,
        MORTON_TILE_SHIFT,
        spatial_morton_tiles,
    )

    got = [
        r.asDict() for r in spatial_morton_tiles(spark, SF_DIR).collect()
    ]
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def morton(x, y):
        m = 0
        for i in range(MORTON_BITS):
            m |= ((x >> i) & 1) << (2 * i)
            m |= ((y >> i) & 1) << (2 * i + 1)
        return m

    tiles = Counter()
    for eid in ev["event_id"]:
        x = h60(f"gx:{eid}") % 10000
        y = h60(f"gy:{eid}") % 10000
        tiles[morton(x, y) >> MORTON_TILE_SHIFT] += 1
    want = sorted(tiles.items(), key=lambda t: (-t[1], t[0]))[:20]
    assert [(r["tile"], r["n_points"]) for r in
            sorted(got, key=lambda r: r["rk"])] == want


# ---------------------------------------------------------------------------
# Round-8 continuation wave: effect-size stats + quantized ANN rungs —
# independent numpy/pandas re-derivations.
# ---------------------------------------------------------------------------


def _cents(sf_dir, types=None) -> pd.DataFrame:
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    if types:
        ev = ev[ev["event_type"].isin(types)]
    return ev.assign(cents=(ev["value"] * 100).round().astype("int64"))


def test_welch_t_matches_bruteforce(spark):
    from etl_jobs_spark.queries.data_quality import stat_welch_t

    got = stat_welch_t(spark, SF_DIR).collect()[0].asDict()
    ev = _cents(SF_DIR, ["view", "purchase"])
    a = ev[ev["event_type"] == "view"]["cents"]
    b = ev[ev["event_type"] == "purchase"]["cents"]
    assert got["a_n"] == len(a) and got["b_n"] == len(b)
    assert got["a_sum"] == int(a.sum()) and got["b_sum"] == int(b.sum())
    va, vb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
    t = (a.mean() - b.mean()) / math.sqrt(va + vb)
    dof = (va + vb) ** 2 / (
        va**2 / (len(a) - 1) + vb**2 / (len(b) - 1)
    )
    assert got["t_stat"] == pytest.approx(t, abs=1e-6)
    assert got["dof"] == pytest.approx(dof, abs=1e-3)


def test_anova_f_matches_bruteforce(spark):
    from etl_jobs_spark.queries.data_quality import (
        _EVENT_TYPES,
        stat_anova_f,
    )

    got = stat_anova_f(spark, SF_DIR).collect()[0].asDict()
    ev = _cents(SF_DIR, list(_EVENT_TYPES))
    groups = [
        ev[ev["event_type"] == t]["cents"].to_numpy()
        for t in _EVENT_TYPES
    ]
    n = sum(len(g) for g in groups)
    k = len(groups)
    grand = sum(float(g.sum()) for g in groups) / n
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert got["n"] == n and got["k"] == k
    assert got["sum_cents"] == sum(int(g.sum()) for g in groups)
    assert got["ssq_cents"] == sum(int((g * g).sum()) for g in groups)
    assert got["f_stat"] == pytest.approx(f, abs=1e-6)


def test_cramers_v_matches_bruteforce(spark):
    from etl_jobs_spark.queries.data_quality import stat_cramers_v

    got = stat_cramers_v(spark, SF_DIR).collect()[0].asDict()
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    ct = pd.crosstab(cust["c_nationkey"], cust["c_mktsegment"])
    obs = ct.to_numpy().astype(float)
    n = obs.sum()
    exp = obs.sum(1, keepdims=True) @ obs.sum(0, keepdims=True) / n
    chi2 = ((obs - exp) ** 2 / exp).sum()
    r, c = obs.shape
    v = math.sqrt(chi2 / (n * (min(r, c) - 1)))
    assert got["r"] == r and got["c"] == c and got["n"] == n
    assert got["chi_square"] == pytest.approx(chi2, abs=1e-4)
    assert got["cramers_v"] == pytest.approx(v, abs=1e-6)


# ---------------------------------------------------------------------------
# Quantized ANN rungs: numpy re-implementation of the code paths.
# ---------------------------------------------------------------------------

import numpy as np


def _emb(sf_dir):
    df = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    X = np.stack(df["embedding"].to_numpy())
    return df["vec_id"].to_numpy(), X


def test_sq8_ranking_matches_numpy(spark):
    from etl_jobs_spark.queries.similarity import embed_sq8_topk

    got = (
        embed_sq8_topk(spark, SF_DIR)
        .orderBy("query_id", "rnk")
        .toPandas()
    )
    ids, X = _emb(SF_DIR)
    mx = np.abs(X).max(axis=0).astype(np.float64)
    mx[mx == 0] = 1.0
    # trunc-toward-zero int8 codes, double arithmetic like the engine
    C = np.trunc(X.astype(np.float64) * 127.0 / mx).astype(np.int64)
    idx = {v: i for i, v in enumerate(ids)}
    for qid, grp in got.groupby("query_id"):
        q = C[idx[qid]]
        dots = C @ q
        order = sorted(
            (int(-dots[i]), int(v))
            for v, i in idx.items()
            if v != qid
        )[:10]
        want = [(-d, v) for d, v in order]
        got_pairs = list(zip(grp["qdot"].tolist(), grp["vec_id"].tolist()))
        assert got_pairs == want


def test_binary_hamming_matches_numpy(spark):
    from etl_jobs_spark.queries.similarity import (
        embed_binary_hamming_topk,
    )

    got = (
        embed_binary_hamming_topk(spark, SF_DIR)
        .orderBy("query_id", "rnk")
        .toPandas()
    )
    ids, X = _emb(SF_DIR)
    bits = (X >= 0).astype(np.int64)
    idx = {v: i for i, v in enumerate(ids)}
    for qid, grp in got.groupby("query_id"):
        qb = bits[idx[qid]]
        ham = (bits != qb).sum(axis=1)
        for _, row in grp.iterrows():
            assert ham[idx[row["vec_id"]]] == row["hamming"]
        # every reported neighbor must sit inside the 50-candidate
        # Hamming shortlist the query declares
        cut = sorted(
            (int(ham[i]), int(v)) for v, i in idx.items() if v != qid
        )[:50]
        shortlist = {v for _, v in cut}
        assert set(grp["vec_id"]).issubset(shortlist)


# ---------------------------------------------------------------------------
# Wave-3 continuation: ACF, systematic sample, link prediction.
# ---------------------------------------------------------------------------

import hashlib


def test_acf_lags_matches_pandas(spark):
    from etl_jobs_spark.queries.temporal import _ACF_LAGS, ts_acf_lags

    got = ts_acf_lags(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    b = (
        ev["ts"].astype("datetime64[us]").astype("int64") // 3600000000
    ).astype("int64")
    hourly = (
        ev.assign(b=b)
        .groupby(["event_type", "b"])
        .size()
        .rename("cnt")
        .reset_index()
    )
    for (et, lag), grp in got.groupby(["event_type", "lag"]):
        s = hourly[hourly["event_type"] == et].set_index("b")["cnt"]
        shifted = s.reindex(s.index + lag)
        mask = shifted.notna().to_numpy()
        x = s.to_numpy()[mask].astype(float)
        y = shifted.to_numpy()[mask].astype(float)
        assert grp["n"].iloc[0] == len(x)
        r = np.corrcoef(x, y)[0, 1]
        assert grp["acf"].iloc[0] == pytest.approx(r, abs=1e-6)
    # lag-24 must be present (the daily-seasonality probe)
    assert 24 in set(got["lag"])


def test_systematic_sample_matches_python(spark):
    from etl_jobs_spark.queries.training_pipeline import (
        _SYSTEMATIC_K,
        sample_systematic_every_k,
    )

    got = sample_systematic_every_k(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")

    def h(doc_id):
        return int(
            hashlib.md5(f"sys:{doc_id}".encode()).hexdigest()[:15], 16
        )

    order = sorted((h(d), d) for d in docs["doc_id"])
    want = [d for i, (_, d) in enumerate(order) if i % _SYSTEMATIC_K == 0]
    assert sorted(got["doc_id"]) == sorted(want)
    # exact stride: rn values are 1, 1+K, 1+2K, ...
    assert sorted(got["rn"]) == [
        1 + i * _SYSTEMATIC_K for i in range(len(want))
    ]


def test_link_prediction_matches_python_bruteforce(spark):
    from etl_jobs_spark.queries.graph_analytics import (
        LP_SEED_MOD,
        LP_TOPK,
        graph_link_prediction_cn,
    )

    got = graph_link_prediction_cn(spark, SF_DIR).toPandas()
    edges = _copurchase_edges_py(SF_DIR)
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    for seed in [n for n in adj if n % LP_SEED_MOD == 1]:
        scores = []
        for cand in adj:
            if cand == seed or cand in adj[seed]:
                continue
            cn = len(adj[seed] & adj[cand])
            if cn:
                scores.append((-cn, cand))
        scores.sort()
        want = scores[:LP_TOPK]
        g = got[got["u"] == seed].sort_values("rnk")
        assert list(zip(-g["cn"], g["v"])) == want
        for _, row in g.iterrows():
            du, dv, cn = len(adj[seed]), len(adj[row["v"]]), row["cn"]
            assert row["du"] == du and row["dv"] == dv
            assert row["jaccard_permille"] == 1000 * cn // (du + dv - cn)


# ---------------------------------------------------------------------------
# Wave-4: readability, sliding distinct, quantized recall audit.
# ---------------------------------------------------------------------------

import re


def test_readability_matches_python(spark):
    from etl_jobs_spark.queries.text_analysis import text_readability

    got = text_readability(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    by_id = dict(zip(docs["doc_id"], docs["text"]))
    for _, row in got.sample(n=min(50, len(got)), random_state=7).iterrows():
        n = re.sub(r"\s+", " ", by_id[row["doc_id"]].lower().strip())
        words = n.split(" ")
        syll = len(re.findall(r"[aeiouy]+", n))
        sents = max(1, len(re.findall(r"[.!?]+", n)))
        assert row["n_words"] == len(words)
        assert row["n_syllables"] == syll
        assert row["n_sentences"] == sents
        fre = 206.835 - 1.015 * (len(words) / sents) - 84.6 * (
            syll / len(words)
        )
        assert row["flesch_reading_ease"] == pytest.approx(fre, abs=1e-4)


def test_sliding_distinct_matches_python(spark):
    from etl_jobs_spark.queries.analytics_ext import (
        _SLIDE_H,
        window_sliding_distinct_users,
    )

    got = window_sliding_distinct_users(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    b = ev["ts"].astype("datetime64[us]").astype("int64") // 3600000000
    uh = set(zip(ev["user_id"], b))
    observed = sorted({h for _, h in uh})
    per_hour = {}
    for u, h in uh:
        per_hour.setdefault(h, set()).add(u)
    for _, row in got.iterrows():
        h = row["hour_bucket"]
        assert h in observed
        users = set()
        for back in range(_SLIDE_H):
            users |= per_hour.get(h - back, set())
        assert row["users_24h"] == len(users)
        assert row["users_1h"] == len(per_hour[h])
    assert len(got) == len(observed)


def test_quantized_recall_bounds(spark):
    from etl_jobs_spark.queries.similarity import (
        ann_quantized_recall_eval,
    )

    got = ann_quantized_recall_eval(spark, SF_DIR).toPandas()
    assert set(got["tier"]) == {"sq8", "binary"}
    assert len(got) == 10  # 2 tiers x 5 probe queries
    assert ((got["n_hits"] >= 0) & (got["n_hits"] <= 10)).all()
    # the int8 rung must stay a high-fidelity approximation
    assert got[got["tier"] == "sq8"]["recall_at_k"].mean() >= 0.6


# ---------------------------------------------------------------------------
# Wave-5: decay scoring, seasonal-naive backtest, packing audit, histogram.
# ---------------------------------------------------------------------------


def test_time_decay_matches_python(spark):
    from etl_jobs_spark.queries.product_analytics import (
        _DECAY_HALFLIFE_H,
        _DECAY_MAX_K,
        agg_time_decay_topk,
    )

    got = agg_time_decay_topk(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    b = ev["ts"].astype("datetime64[us]").astype("int64") // 3600000000
    cents = (ev["value"] * 100).round().astype("int64")
    wm = b.max()
    scores = {}
    for u, bb, c in zip(ev["user_id"], b, cents):
        k = min((wm - bb) // _DECAY_HALFLIFE_H, _DECAY_MAX_K)
        scores[u] = scores.get(u, 0) + int(c) // (1 << k)
    order = sorted((-s, u) for u, s in scores.items())[: len(got)]
    want = [(u, -s) for s, u in order]
    assert (
        list(zip(got["user_id"], got["decay_score_cents"])) == want
    )


def test_seasonal_naive_matches_python(spark):
    from etl_jobs_spark.queries.temporal import (
        _SNAIVE_LAG_H,
        ts_seasonal_naive_error,
    )

    got = ts_seasonal_naive_error(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    b = ev["ts"].astype("datetime64[us]").astype("int64") // 3600000000
    hourly = (
        ev.assign(b=b).groupby(["event_type", "b"]).size().to_dict()
    )
    for _, row in got.iterrows():
        et = row["event_type"]
        errs = [
            (abs(c - hourly[(et, bb - _SNAIVE_LAG_H)]),
             c + hourly[(et, bb - _SNAIVE_LAG_H)])
            for (t, bb), c in hourly.items()
            if t == et and (et, bb - _SNAIVE_LAG_H) in hourly
        ]
        sae = sum(e for e, _ in errs)
        ssc = sum(s for _, s in errs)
        assert row["n_forecasts"] == len(errs)
        assert row["sum_abs_err"] == sae
        assert row["mae_centi"] == 100 * sae // len(errs)
        assert row["smape_permille"] == 1000 * sae // ssc


def test_pack_audit_consistent_with_bins(spark):
    from etl_jobs_spark.operators.training import PACK_BUDGET
    from etl_jobs_spark.queries.training_pipeline import (
        pack_efficiency_audit,
        pack_sequences,
    )

    bins = pack_sequences(spark, SF_DIR).toPandas()
    audit = pack_efficiency_audit(spark, SF_DIR).toPandas()
    for _, row in audit.iterrows():
        sub = bins[bins["lang"] == row["lang"]]
        assert row["n_bins"] == len(sub)
        assert row["total_tokens"] == sub["total_tokens"].sum()
        assert row["fill_permille"] == (
            1000 * int(sub["total_tokens"].sum())
            // (len(sub) * PACK_BUDGET)
        )
        assert row["n_overflow_bins"] == int(
            (sub["total_tokens"] > PACK_BUDGET).sum()
        )
    # fill rate must be a meaningful utilization, not degenerate
    assert (audit["fill_permille"] > 0).all()


def test_seq_len_histogram_matches_python(spark):
    from etl_jobs_spark.queries.training_pipeline import (
        seq_len_histogram,
    )

    got = seq_len_histogram(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    hist = {}
    for lang, text in zip(docs["lang"], docs["text"]):
        n = re.sub(r"\s+", " ", text.lower().strip())
        nt = len(n.split(" "))
        if nt < 1:
            continue
        bucket = max(0, nt.bit_length() - 1)
        key = (lang, bucket)
        cur = hist.get(key, [0, 0, 10**9, 0])
        hist[key] = [
            cur[0] + 1,
            cur[1] + nt,
            min(cur[2], nt),
            max(cur[3], nt),
        ]
    assert len(got) == len(hist)
    for _, row in got.iterrows():
        n_docs, tot, mn, mx = hist[(row["lang"], row["log2_bucket"])]
        assert row["n_docs"] == n_docs
        assert row["total_tokens"] == tot
        assert row["min_tokens"] == mn and row["max_tokens"] == mx


# ---------------------------------------------------------------------------
# Wave-6: randomization test, Cohen's d, cross-source overlap matrix.
# ---------------------------------------------------------------------------


def test_permutation_test_matches_python(spark):
    from etl_jobs_spark.queries.data_quality import (
        PERM_B,
        stat_permutation_test,
    )

    got = stat_permutation_test(spark, SF_DIR).collect()[0].asDict()
    ev = _cents(SF_DIR, ["view", "purchase"])
    a = ev[ev["event_type"] == "view"]
    b = ev[ev["event_type"] == "purchase"]
    diff_obs = int(a["cents"].sum()) // len(a) - int(
        b["cents"].sum()
    ) // len(b)
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    assert got["diff_obs"] == diff_obs
    n_exceed = 0
    ids = ev["event_id"].tolist()
    cents = ev["cents"].tolist()
    for bb in range(PERM_B):
        s = [0, 0]
        n = [0, 0]
        for eid, c in zip(ids, cents):
            g = _hash60_py_local(f"{eid}:{bb}") % 2
            s[g] += c
            n[g] += 1
        d = s[0] // n[0] - s[1] // n[1]
        if abs(d) >= abs(diff_obs):
            n_exceed += 1
    assert got["n_exceed"] == n_exceed
    assert got["p_permille"] == 1000 * n_exceed // PERM_B


def _hash60_py_local(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_cohens_d_matches_python(spark):
    from etl_jobs_spark.queries.data_quality import stat_cohens_d

    got = stat_cohens_d(spark, SF_DIR).collect()[0].asDict()
    ev = _cents(SF_DIR, ["view", "purchase"])
    a = ev[ev["event_type"] == "view"]["cents"]
    b = ev[ev["event_type"] == "purchase"]["cents"]
    sp = math.sqrt(
        ((len(a) - 1) * a.var(ddof=1) + (len(b) - 1) * b.var(ddof=1))
        / (len(a) + len(b) - 2)
    )
    d = (a.mean() - b.mean()) / sp
    assert got["cohens_d"] == pytest.approx(d, abs=1e-6)


def test_cross_source_matrix_consistent_with_pairs(spark):
    from etl_jobs_spark.operators.dedup import PLANT_OFFSET
    from etl_jobs_spark.queries.dedup import (
        _XSRC_SIM,
        dedup_cross_source_matrix,
        dedup_minhash_lsh,
    )

    got = dedup_cross_source_matrix(spark, SF_DIR).toPandas()
    pairs = dedup_minhash_lsh(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    src = dict(zip(docs["doc_id"], docs["source"]))
    census = {}
    for _, p in pairs.iterrows():
        a = src[p["doc_a"] % PLANT_OFFSET]
        b = src[p["doc_b"] % PLANT_OFFSET]
        key = (min(a, b), max(a, b))
        tot, hi = census.get(key, (0, 0))
        census[key] = (tot + 1, hi + (1 if p["est_sim"] >= _XSRC_SIM else 0))
    assert len(got) == len(census)
    for _, row in got.iterrows():
        tot, hi = census[(row["source_a"], row["source_b"])]
        assert row["n_candidate_pairs"] == tot
        assert row["n_near_dups"] == hi
        assert row["near_dup_permille"] == 1000 * hi // tot
    # the planted replicas guarantee at least one high-sim pair
    assert got["n_near_dups"].sum() > 0


# ---------------------------------------------------------------------------
# Wave-7: MMR diversified retrieval.
# ---------------------------------------------------------------------------


def test_mmr_matches_python_greedy(spark):
    from etl_jobs_spark.queries.similarity import (
        _MMR_C,
        _MMR_K,
        _MMR_L_DIV,
        _MMR_L_REL,
        _MMR_SCALE,
        embed_mmr_diversified_topk,
    )
    from etl_jobs_spark.operators.similarity import QUERY_IDS

    got = (
        embed_mmr_diversified_topk(spark, SF_DIR)
        .orderBy("query_id", "sel_round")
        .toPandas()
    )
    ids, X = _emb(SF_DIR)
    Xn = X.astype(np.float64)
    norms = np.sqrt((Xn * Xn).sum(axis=1))
    idx = {v: i for i, v in enumerate(ids)}

    def q_cos(a, b):
        c = float(Xn[a] @ Xn[b]) / (norms[a] * norms[b])
        return math.floor(c * _MMR_SCALE + 0.5)

    for qid in QUERY_IDS:
        qi = idx[qid]
        scored = sorted(
            ((float(Xn[qi] @ Xn[idx[v]]) / (norms[qi] * norms[idx[v]]), v)
             for v in ids if v != qid),
            key=lambda t: (-t[0], t[1]),
        )[:_MMR_C]
        cands = [(v, q_cos(qi, idx[v])) for _, v in scored]
        chosen = [max(cands, key=lambda t: (t[1], -t[0]))[0]]
        for _ in range(_MMR_K - 1):
            best = None
            for v, rl in cands:
                if v in chosen:
                    continue
                mx = max(q_cos(idx[v], idx[c]) for c in chosen)
                key = (_MMR_L_REL * rl - _MMR_L_DIV * mx, -v)
                if best is None or key > best[0]:
                    best = (key, v)
            chosen.append(best[1])
        g = got[got["query_id"] == qid].sort_values("sel_round")
        assert list(g["vec_id"]) == chosen
    # diversification must actually reorder vs pure relevance for
    # at least one query (else lambda is a no-op on this fixture)
    pure = {
        qid: [v for v, _ in sorted(
            ((v, q_cos(idx[qid], idx[v])) for v in ids if v != qid),
            key=lambda t: (-t[1], t[0]))[: _MMR_K]]
        for qid in QUERY_IDS
    }
    assert any(
        list(got[got["query_id"] == q].sort_values("sel_round")["vec_id"])
        != pure[q]
        for q in QUERY_IDS
    )


def test_local_clustering_matches_python(spark):
    from etl_jobs_spark.queries.graph_analytics import (
        LCC_TOPN,
        graph_local_clustering_topk,
    )

    got = (
        graph_local_clustering_topk(spark, SF_DIR)
        .orderBy("rnk")
        .toPandas()
    )
    edges = _copurchase_edges_py(SF_DIR)
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want_top = sorted(adj, key=lambda n: (-len(adj[n]), n))[:LCC_TOPN]
    assert list(got["node"]) == want_top
    for _, row in got.iterrows():
        nbrs = adj[row["node"]]
        tri = sum(
            1
            for a in nbrs
            for b in adj[a]
            if b in nbrs and a < b
        )
        d = len(nbrs)
        assert row["d"] == d
        assert row["n_triangles"] == tri
        assert row["lcc_permille"] == 2000 * tri // (d * (d - 1))
    # the census must contain real community structure (some
    # triangles at the hubs), else the fixture degenerated
    assert got["n_triangles"].sum() > 0


# ---------------------------------------------------------------------------
# Wave-9: Wilson CI, robust scaler, bounce rate.
# ---------------------------------------------------------------------------


def test_wilson_ci_matches_python(spark):
    from etl_jobs_spark.queries.data_quality import (
        stat_proportion_ci_wilson,
    )

    got = stat_proportion_ci_wilson(spark, SF_DIR).collect()[0].asDict()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    sub = ev[ev["event_type"].isin(["view", "purchase"])]
    x = int((sub["event_type"] == "purchase").sum())
    n = len(sub)
    z = 1.96
    p = x / n
    center = p + z * z / (2 * n)
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    denom = 1 + z * z / n
    assert got["x"] == x and got["n"] == n
    assert got["p_permille"] == 1000 * x // n
    assert got["ci_lo"] == pytest.approx((center - half) / denom, abs=1e-6)
    assert got["ci_hi"] == pytest.approx((center + half) / denom, abs=1e-6)
    assert 0.0 <= got["ci_lo"] <= got["ci_hi"] <= 1.0


def test_robust_scale_matches_python(spark):
    from etl_jobs_spark.queries.feature_engineering import (
        RS_SCALE,
        feat_robust_scale,
    )

    got = feat_robust_scale(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev.assign(c=(ev["value"] * 100).round().astype("int64"))
    for _, row in got.iterrows():
        sub = ev[ev["event_type"] == row["event_type"]].sort_values(
            ["c", "event_id"], ignore_index=True
        )
        n = len(sub)
        q1 = sub["c"].iloc[(1 * n + 3) // 4 - 1]
        med = sub["c"].iloc[(2 * n + 3) // 4 - 1]
        q3 = sub["c"].iloc[(3 * n + 3) // 4 - 1]
        assert row["n"] == n
        assert row["median_cents"] == med
        assert row["iqr_cents"] == q3 - q1
        iqr = max(q3 - q1, 1)

        # engines' DIV truncates toward zero; python // floors —
        # re-derive with truncation to match
        def trunc_div(a, b):
            q = abs(a) // b
            return q if a >= 0 else -q

        s = sub["c"].map(lambda c: trunc_div((c - med) * RS_SCALE, iqr))
        assert row["min_scaled"] == s.min()
        assert row["max_scaled"] == s.max()
        assert row["mean_scaled"] == trunc_div(int(s.sum()), n)


def test_bounce_rate_consistent_with_sessions(spark):
    from etl_jobs_spark.queries.product_analytics import (
        agg_session_bounce_rate,
    )
    from etl_jobs_spark.queries.streaming import sessionize_batch

    got = agg_session_bounce_rate(spark, SF_DIR).toPandas()
    sess = sessionize_batch(spark, SF_DIR).toPandas()
    sess["h"] = pd.to_datetime(sess["session_start"]).dt.hour
    for _, row in got.iterrows():
        sub = sess[sess["h"] == row["hour_of_day"]]
        assert row["n_sessions"] == len(sub)
        nb = int((sub["n_events"] == 1).sum())
        assert row["n_bounces"] == nb
        assert row["bounce_permille"] == 1000 * nb // len(sub)
    assert got["n_sessions"].sum() == len(sess)


def test_rag_pipeline_composition(spark):
    from etl_jobs_spark.queries.similarity import (
        embed_mmr_diversified_topk,
    )
    from etl_jobs_spark.queries.training_pipeline import (
        pipeline_rag_retrieval_end_to_end,
        quality_filter_top_half,
    )

    got = pipeline_rag_retrieval_end_to_end(spark, SF_DIR).toPandas()
    kept = set(
        quality_filter_top_half(spark, SF_DIR).toPandas()["doc_id"]
    )
    # every served result must come from the curated index
    assert set(got["vec_id"]).issubset(kept)
    assert len(got) == 25  # 5 probes x 5 picks, probes never dropped
    # the gate must actually restrict: some unfiltered pick is absent
    full = embed_mmr_diversified_topk(spark, SF_DIR).toPandas()
    assert not set(full["vec_id"]).issubset(kept)


# ---------------------------------------------------------------------------
# Wave-10: Markov transitions, gram novelty.
# ---------------------------------------------------------------------------


def test_markov_transitions_match_python(spark):
    from etl_jobs_spark.queries.product_analytics import (
        agg_markov_transitions,
    )

    got = agg_markov_transitions(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    counts = {}
    for _, grp in ev.groupby("user_id"):
        types = grp["event_type"].tolist()
        for a, b in zip(types, types[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    assert len(got) == len(counts)
    row_tot = {}
    for (a, _), n in counts.items():
        row_tot[a] = row_tot.get(a, 0) + n
    for _, row in got.iterrows():
        n = counts[(row["from_type"], row["to_type"])]
        assert row["n"] == n
        assert row["p_permille"] == 1000 * n // row_tot[row["from_type"]]
    # each row of the matrix sums to ~1000 permille (truncation slack < k)
    sums = got.groupby("from_type")["p_permille"].sum()
    assert ((sums > 995) & (sums <= 1000)).all()


def test_gram_novelty_matches_python(spark):
    from etl_jobs_spark.queries.dedup import (
        dedup_gram_novelty_by_source,
    )

    got = dedup_gram_novelty_by_source(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    firsts = {}
    slots = []
    for _, r in docs.sort_values("doc_id").iterrows():
        n = re.sub(r"\s+", " ", r["text"].lower().strip())
        grams = (
            {n}
            if len(n) < 5
            else {n[i : i + 5] for i in range(len(n) - 4)}
        )
        for g in grams:
            firsts.setdefault(g, r["doc_id"])
            slots.append((r["source"], r["doc_id"], g))
    census = {}
    for src, d, g in slots:
        tot, nov = census.get(src, (0, 0))
        census[src] = (tot + 1, nov + (1 if firsts[g] == d else 0))
    assert len(got) == len(census)
    for _, row in got.iterrows():
        tot, nov = census[row["source"]]
        assert row["n_gram_slots"] == tot
        assert row["n_novel"] == nov
        assert row["novelty_permille"] == 1000 * nov // tot


# ---------------------------------------------------------------------------
# Wave-11: cell purity, Pettitt changepoint, RFM segments.
# ---------------------------------------------------------------------------


def test_cell_purity_matches_numpy(spark):
    from etl_jobs_spark.operators.similarity import fit_quantizer_file
    from etl_jobs_spark.queries.similarity import (
        embed_cell_label_purity,
    )

    got = embed_cell_label_purity(spark, SF_DIR).toPandas()
    df = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    X = np.stack(df["embedding"].to_numpy()).astype(np.float64)
    cents = np.array(fit_quantizer_file(SF_DIR), dtype=np.float64)
    d = (cents * cents).sum(1)[None, :] - 2.0 * (X @ cents.T)
    cell = d.argmin(1)  # numpy argmin ties to lowest index, same rule
    lab = df["label"].to_numpy()
    for _, row in got.iterrows():
        mask = cell == row["cell"]
        assert row["n_vecs"] == int(mask.sum())
        vals, counts = np.unique(lab[mask], return_counts=True)
        top = min(zip(-counts, vals))  # count desc, label asc
        assert row["top_label"] == top[1]
        assert row["top_n"] == -top[0]
        assert row["purity_permille"] == 1000 * -top[0] // mask.sum()
    assert got["n_vecs"].sum() == len(df)


def test_pettitt_matches_python(spark):
    from etl_jobs_spark.queries.data_quality import (
        stat_pettitt_changepoint,
    )

    got = stat_pettitt_changepoint(spark, SF_DIR).collect()[0].asDict()
    daily = _daily(SF_DIR).reset_index(drop=True)
    x = daily["rev"].tolist()
    n = len(x)
    best = None
    for t in range(n - 1):
        u = sum(
            (0 if x[j] == x[i] else (1 if x[j] > x[i] else -1))
            for i in range(t + 1)
            for j in range(t + 1, n)
        )
        key = (-abs(u), daily["d"][t])
        if best is None or key < best[0]:
            best = (key, daily["d"][t], u)
    assert got["n_days"] == n
    assert got["cp_day"] == best[1]
    assert got["u_at_cp"] == best[2]
    assert got["k_stat"] == abs(best[2])
    p = 2.0 * math.exp(-6.0 * best[2] ** 2 / (n**3 + n**2))
    assert got["p_approx"] == pytest.approx(p, abs=1e-6)


def test_rfm_segments_match_pandas(spark):
    from etl_jobs_spark.queries.product_analytics import agg_rfm_segments

    got = agg_rfm_segments(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    per = (
        ev.assign(
            d=pd.to_datetime(ev["ts"]).dt.date,
            cents=(ev["value"] * 100).round().astype("int64"),
        )
        .groupby("user_id")
        .agg(last_d=("d", "max"), freq=("d", "size"), cents=("cents", "sum"))
        .reset_index()
    )
    n = len(per)

    def ntile4(order_cols, ascending):
        s = per.sort_values(order_cols, ascending=ascending, ignore_index=True)
        base, extra = divmod(n, 4)
        tile = []
        for q in range(4):
            tile += [q + 1] * (base + (1 if q < extra else 0))
        return dict(zip(s["user_id"], tile))

    r = ntile4(["last_d", "user_id"], [False, True])
    f = ntile4(["freq", "user_id"], [False, True])
    m = ntile4(["cents", "user_id"], [False, True])
    census = {}
    for _, row in per.iterrows():
        key = (r[row["user_id"]], f[row["user_id"]], m[row["user_id"]])
        cnt, tot = census.get(key, (0, 0))
        census[key] = (cnt + 1, tot + int(row["cents"]))
    assert len(got) == len(census)
    for _, row in got.iterrows():
        cnt, tot = census[(row["r"], row["f"], row["m"])]
        assert row["n_users"] == cnt
        assert row["total_cents"] == tot
        assert row["cents_per_user"] == tot // cnt


# ---------------------------------------------------------------------------
# Wave-12: Brown-Forsythe, threshold sensitivity, new-vs-returning.
# ---------------------------------------------------------------------------


def test_levene_bf_matches_python(spark):
    from etl_jobs_spark.queries.data_quality import (
        _EVENT_TYPES,
        stat_levene_bf,
    )

    got = stat_levene_bf(spark, SF_DIR).collect()[0].asDict()
    ev = _cents(SF_DIR, list(_EVENT_TYPES))
    zs = []
    for t in _EVENT_TYPES:
        sub = ev[ev["event_type"] == t].sort_values(
            ["cents", "event_id"], ignore_index=True
        )
        n = len(sub)
        med = sub["cents"].iloc[(2 * n + 3) // 4 - 1]
        zs.append((sub["cents"] - med).abs().to_numpy())
    n = sum(len(z) for z in zs)
    k = len(zs)
    grand = sum(float(z.sum()) for z in zs) / n
    ssb = sum(len(z) * (z.mean() - grand) ** 2 for z in zs)
    ssw = sum(((z - z.mean()) ** 2).sum() for z in zs)
    w = (ssb / (k - 1)) / (ssw / (n - k))
    assert got["n"] == n and got["k"] == k
    assert got["sum_z"] == sum(int(z.sum()) for z in zs)
    assert got["ssq_z"] == sum(int((z * z).sum()) for z in zs)
    assert got["w_stat"] == pytest.approx(w, abs=1e-6)


def test_threshold_sensitivity_monotone(spark):
    from etl_jobs_spark.queries.dedup import (
        _SENS_TAUS,
        dedup_minhash_lsh,
        dedup_threshold_sensitivity,
    )

    got = (
        dedup_threshold_sensitivity(spark, SF_DIR)
        .orderBy("tau")
        .toPandas()
    )
    pairs = dedup_minhash_lsh(spark, SF_DIR).toPandas()
    for _, row in got.iterrows():
        hit = pairs[pairs["est_sim"] >= row["tau"]]
        assert row["n_pairs"] == len(hit)
        assert row["n_docs_dropped"] == hit["doc_b"].nunique()
    # the curve must be monotone non-increasing in tau
    assert (got["n_pairs"].diff().dropna() <= 0).all()
    # the planted verbatim-ish duplicates guarantee hits at tau=1.0 or
    # at least at 0.75 (mutated replicas)
    assert got["n_pairs"].iloc[-2] > 0


def test_new_vs_returning_matches_python(spark):
    from etl_jobs_spark.queries.product_analytics import (
        agg_new_vs_returning,
    )

    got = agg_new_vs_returning(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    days = (
        pd.to_datetime(ev["ts"]).dt.normalize()
        - pd.Timestamp("1970-01-05")
    ).dt.days
    wk = days // 7
    weekly = set(zip(ev["user_id"], wk))
    firsts = {}
    for u, w in weekly:
        firsts[u] = min(firsts.get(u, w), w)
    census = {}
    for u, w in weekly:
        a, nn, r = census.get(w, (0, 0, 0))
        census[w] = (
            a + 1,
            nn + (1 if firsts[u] == w else 0),
            r + (1 if w > firsts[u] else 0),
        )
    assert len(got) == len(census)
    for _, row in got.iterrows():
        a, nn, r = census[row["wk"]]
        assert row["n_active"] == a
        assert row["n_new"] == nn
        assert row["n_returning"] == r
        assert row["returning_permille"] == 1000 * r // a
    # sanity: the first observed week is all-new
    first_wk = got["wk"].min()
    fr = got[got["wk"] == first_wk].iloc[0]
    assert fr["n_new"] == fr["n_active"]


# ---------------------------------------------------------------------------
# Wave-13: dim variance, hapax ratio, Mann-Kendall.
# ---------------------------------------------------------------------------


def test_dim_variance_matches_numpy(spark):
    from etl_jobs_spark.queries.similarity import (
        _DIMVAR_TOPN,
        embed_dim_variance_topk,
    )

    got = embed_dim_variance_topk(spark, SF_DIR).orderBy("rnk").toPandas()
    ids, X = _emb(SF_DIR)
    Q = np.floor(X.astype(np.float64) * 1_000_000 + 0.5).astype(np.int64)
    n = len(Q)

    def tdiv(a, b):  # engines' DIV truncates toward zero; numpy floors
        return np.sign(a) * (np.abs(a) // b)

    var = tdiv((Q * Q).sum(0), n) - tdiv(Q.sum(0), n) ** 2
    order = sorted(range(64), key=lambda d: (-var[d], d))[:_DIMVAR_TOPN]
    assert list(got["d"]) == [d + 1 for d in order]
    for _, row in got.iterrows():
        assert row["var_micro2"] == var[row["d"] - 1]
        assert row["n"] == n


def test_hapax_ratio_matches_python(spark):
    from etl_jobs_spark.queries.text_analysis import text_hapax_ratio

    got = text_hapax_ratio(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    freq = {}
    per_src = {}
    for _, r in docs.iterrows():
        n = re.sub(r"\s+", " ", r["text"].lower().strip())
        toks = n.split(" ")
        per_src.setdefault(r["source"], []).extend(toks)
        for t in toks:
            freq[t] = freq.get(t, 0) + 1
    for _, row in got.iterrows():
        toks = per_src[row["source"]]
        types = set(toks)
        hapax = {t for t in types if freq[t] == 1}
        assert row["n_tokens"] == len(toks)
        assert row["n_types"] == len(types)
        assert row["n_hapax"] == len(hapax)
        assert row["hapax_permille"] == 1000 * len(hapax) // len(types)
        assert row["ttr_permille"] == 1000 * len(types) // len(toks)


def test_mann_kendall_matches_python(spark):
    from etl_jobs_spark.queries.data_quality import (
        stat_mann_kendall_trend,
    )

    got = stat_mann_kendall_trend(spark, SF_DIR).collect()[0].asDict()
    x = _daily(SF_DIR)["rev"].tolist()
    n = len(x)
    s = sum(
        (0 if x[j] == x[i] else (1 if x[j] > x[i] else -1))
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tie18 = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(x).values()
    )
    var18 = n * (n - 1) * (2 * n + 5) - tie18
    assert got["n_days"] == n
    assert got["s_stat"] == s
    assert got["var18"] == var18
    if s > 0:
        z = (s - 1) / math.sqrt(var18 / 18.0)
    elif s < 0:
        z = (s + 1) / math.sqrt(var18 / 18.0)
    else:
        z = 0.0
    assert got["z"] == pytest.approx(z, abs=1e-6)


def test_lorenz_deciles_match_python(spark):
    from etl_jobs_spark.queries.product_analytics import (
        agg_lorenz_deciles,
    )

    got = agg_lorenz_deciles(spark, SF_DIR).orderBy("decile").toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    per = (
        ev.assign(cents=(ev["value"] * 100).round().astype("int64"))
        .groupby("user_id")["cents"]
        .sum()
        .reset_index()
        .sort_values(["cents", "user_id"], ignore_index=True)
    )
    n = len(per)
    base, extra = divmod(n, 10)
    tiles = []
    for q in range(10):
        tiles += [q + 1] * (base + (1 if q < extra else 0))
    per["decile"] = tiles
    agg = per.groupby("decile")["cents"].agg(["size", "sum"])
    cum = 0
    total = int(per["cents"].sum())
    for d, row in agg.iterrows():
        g = got[got["decile"] == d].iloc[0]
        cum += int(row["sum"])
        assert g["n_users"] == row["size"]
        assert g["decile_cents"] == row["sum"]
        assert g["cum_cents"] == cum
        assert g["cum_share_permille"] == 1000 * cum // total
    # Lorenz curve properties: monotone, ends at 1000 permille
    assert got["cum_share_permille"].iloc[-1] == 1000
    assert (got["cum_share_permille"].diff().dropna() >= 0).all()


# ---------------------------------------------------------------------------
# Wave-15: seasonal anomalies, exact vector dups, retention TTL.
# ---------------------------------------------------------------------------


def test_seasonal_anomaly_matches_python(spark):
    from etl_jobs_spark.queries.temporal import ts_anomaly_seasonal_mad

    got = ts_anomaly_seasonal_mad(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    b = ev["ts"].astype("datetime64[us]").astype("int64") // 3600000000
    hourly = (
        ev.assign(b=b).groupby(["event_type", "b"]).size().reset_index(name="cnt")
    )
    hourly["dow"] = (hourly["b"] // 24 + 4) % 7
    hourly["hod"] = hourly["b"] % 24
    prof = (
        hourly.groupby(["event_type", "dow", "hod"])["cnt"]
        .agg(["sum", "size"])
        .reset_index()
    )
    prof["expected"] = prof["sum"] // prof["size"]
    m = hourly.merge(prof, on=["event_type", "dow", "hod"])
    m["r"] = m["cnt"] - m["expected"]
    want = []
    for et, grp in m.groupby("event_type"):
        g = grp.sort_values(["r", "b"], ignore_index=True)
        med = g["r"].iloc[(len(g) + 1) // 2 - 1]
        a = (grp["r"] - med).abs()
        g2 = grp.assign(a=a).sort_values(["a", "b"], ignore_index=True)
        mad = g2["a"].iloc[(len(g2) + 1) // 2 - 1]
        hit = grp[(grp["r"] - med).abs() > 3 * max(mad, 1)]
        for _, h in hit.iterrows():
            want.append((et, h["b"], h["cnt"], h["expected"], h["r"]))
    got_set = set(
        zip(got["event_type"], got["hour_bucket"], got["cnt"],
            got["expected"], got["residual"])
    )
    assert got_set == set(want)


def test_exact_dup_audit_consistent(spark):
    from etl_jobs_spark.queries.similarity import embed_exact_dup_audit

    got = embed_exact_dup_audit(spark, SF_DIR).collect()[0].asDict()
    ids, X = _emb(SF_DIR)
    Q = np.floor(X.astype(np.float64) * 1_000_000 + 0.5).astype(np.int64)
    keys = {}
    for i in range(len(Q)):
        keys.setdefault(Q[i].tobytes(), []).append(ids[i])
    sizes = [len(v) for v in keys.values()]
    assert got["n_vecs"] == len(ids)
    assert got["n_groups"] == len(sizes)
    assert got["n_redundant"] == sum(s - 1 for s in sizes if s >= 2)
    assert got["max_group"] == (
        max((s for s in sizes if s >= 2), default=0)
    )


def test_retention_ttl_matches_python(spark):
    from etl_jobs_spark.queries.data_quality import (
        _TTL_DAYS,
        governance_retention_ttl_audit,
    )

    got = governance_retention_ttl_audit(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    wm = pd.to_datetime(ev["ts"]).dt.normalize().max()
    cutoff = wm - pd.Timedelta(days=_TTL_DAYS)
    want = {
        "events": int((pd.to_datetime(ev["ts"]).dt.normalize() < cutoff).sum()),
        "orders": int(
            (pd.to_datetime(orders["o_orderdate"]).dt.normalize() < cutoff).sum()
        ),
    }
    for _, row in got.iterrows():
        assert row["n_expired"] == want[row["table_name"]]
        n = len(ev) if row["table_name"] == "events" else len(orders)
        assert row["n_rows"] == n
        assert row["expired_permille"] == 1000 * row["n_expired"] // n


# ---------------------------------------------------------------------------
# Wave-16: U-shaped attribution, PK uniqueness suite.
# ---------------------------------------------------------------------------


def test_u_shaped_attribution_matches_python(spark):
    from etl_jobs_spark.queries.product_analytics import (
        attr_u_shaped_touch,
    )

    got = attr_u_shaped_touch(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    p = ev[ev["event_type"] == "purchase"]
    c = ev[ev["event_type"] == "click"]
    credit = {}
    for _, pr in p.iterrows():
        win = c[
            (c["user_id"] == pr["user_id"])
            & (c["ts"] >= pr["ts"] - pd.Timedelta(hours=1))
            & (c["ts"] <= pr["ts"])
        ].sort_values(["ts", "event_id"], ignore_index=True)
        n = len(win)
        if n == 0:
            continue
        cents = int(round(pr["value"] * 100))
        for i, (_, cl) in enumerate(win.iterrows()):
            if n == 1:
                pm = 1000
            elif n == 2:
                pm = 500
            elif i == 0 or i == n - 1:
                pm = 400
            else:
                pm = 200 // (n - 2)
            cid = cl["event_id"]
            nconv, cc = credit.get(cid, (0, 0))
            credit[cid] = (nconv + 1, cc + cents * pm // 1000)
    assert len(got) == len(credit)
    for _, row in got.iterrows():
        nconv, cc = credit[row["click_id"]]
        assert row["n_conversions"] == nconv
        assert row["credit_cents"] == cc


def test_pk_uniqueness_all_tables(spark):
    from etl_jobs_spark.queries.data_quality import (
        _PK_COLS,
        dq_pk_uniqueness_suite,
    )

    got = dq_pk_uniqueness_suite(spark, SF_DIR).toPandas()
    assert len(got) == len(_PK_COLS) + 1  # + lineitem composite
    for _, row in got.iterrows():
        if row["table_name"] == "lineitem":
            li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
            key = li["l_orderkey"] * 128 + li["l_linenumber"]
            assert (li["l_linenumber"] < 128).all()  # fold bound holds
            assert row["n_distinct"] == key.nunique()
            assert row["n_rows"] == len(li)
            # the suite's real FINDING: the synthetic fixture's
            # composite lineitem key is NOT unique — the audit must
            # report the exact duplication, not hide it
            assert row["n_dups"] == len(li) - key.nunique() > 0
        else:
            t = pd.read_parquet(
                f"{SF_DIR}/{row['table_name']}.parquet"
            )
            assert row["n_rows"] == len(t)
            assert row["n_distinct"] == t[row["pk_col"]].nunique()
            assert row["n_dups"] == 0
        assert row["n_null"] == 0


# ---------------------------------------------------------------------------
# Wave-17: stickiness, seasonality strength.
# ---------------------------------------------------------------------------


def test_stickiness_matches_python(spark):
    from etl_jobs_spark.queries.product_analytics import (
        agg_stickiness_dau_mau,
    )

    got = agg_stickiness_dau_mau(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ts = pd.to_datetime(ev["ts"])
    days = set(zip(ev["user_id"], ts.dt.date))
    by_m = {}
    for u, d in days:
        ym = d.year * 100 + d.month
        by_m.setdefault(ym, []).append((u, d))
    assert len(got) == len(by_m)
    for _, row in got.iterrows():
        pairs = by_m[row["ym"]]
        dau = {}
        users = set()
        for u, d in pairs:
            dau[d] = dau.get(d, 0) + 1
            users.add(u)
        n_days = len(dau)
        total = sum(dau.values())
        assert row["n_days"] == n_days
        assert row["avg_dau"] == total // n_days
        assert row["mau"] == len(users)
        assert row["stickiness_permille"] == (
            1000 * total // (n_days * len(users))
        )
        # DAU/MAU is a ratio <= 1 by construction
        assert 0 < row["stickiness_permille"] <= 1000


def test_seasonality_strength_bounds_and_moments(spark):
    from etl_jobs_spark.queries.temporal import ts_seasonality_strength

    got = ts_seasonality_strength(spark, SF_DIR).toPandas()
    assert len(got) == 5
    assert ((got["strength_permille"] >= 0)
            & (got["strength_permille"] <= 1000)).all()
    # residual variance can't exceed raw variance by more than the
    # truncation slack of the DIV-moment estimator
    assert (got["var_r"] <= got["var_x"] + 2).all()
    # cross-check one type's moments in pandas
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    b = ev["ts"].astype("datetime64[us]").astype("int64") // 3600000000
    h = (
        ev[ev["event_type"] == "click"]
        .assign(b=b[ev["event_type"] == "click"])
        .groupby("b")
        .size()
        .reset_index(name="cnt")
    )
    h["dow"] = (h["b"] // 24 + 4) % 7
    h["hod"] = h["b"] % 24
    prof = h.groupby(["dow", "hod"])["cnt"].agg(["sum", "size"])
    prof["expected"] = prof["sum"] // prof["size"]
    m = h.merge(prof.reset_index(), on=["dow", "hod"])
    m["r"] = m["cnt"] - m["expected"]
    n = len(m)
    row = got[got["event_type"] == "click"].iloc[0]
    assert row["n"] == n
    sx, sqx = int(m["cnt"].sum()), int((m["cnt"] ** 2).sum())
    assert row["var_x"] == sqx // n - (sx // n) ** 2


# ---------------------------------------------------------------------------
# Wave-18: Simpson diversity, audience stability.
# ---------------------------------------------------------------------------


def test_simpson_diversity_matches_python(spark):
    from etl_jobs_spark.queries.text_analysis import (
        text_simpson_diversity,
    )

    got = text_simpson_diversity(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    per = {}
    for _, r in docs.iterrows():
        n = re.sub(r"\s+", " ", r["text"].lower().strip())
        f = per.setdefault(r["source"], {})
        for t in n.split(" "):
            f[t] = f.get(t, 0) + 1
    for _, row in got.iterrows():
        f = per[row["source"]]
        N = sum(f.values())
        ff1 = sum(v * (v - 1) for v in f.values())
        assert row["n_tokens"] == N
        assert row["n_types"] == len(f)
        assert row["sum_ff1"] == ff1
        assert row["simpson_ppm"] == 10**6 * ff1 // (N * (N - 1))
        assert row["diversity_ppm"] == 10**6 - row["simpson_ppm"]


def test_user_overlap_matches_python(spark):
    from etl_jobs_spark.queries.product_analytics import (
        agg_user_overlap_stability,
    )

    got = agg_user_overlap_stability(spark, SF_DIR).collect()[0].asDict()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    d = pd.to_datetime(ev["ts"]).dt.normalize()
    d0, d1 = d.min(), d.max()
    mid = d0 + pd.Timedelta(days=int((d1 - d0).days // 2))
    a = set(ev.loc[d <= mid, "user_id"])
    b = set(ev.loc[d > mid, "user_id"])
    assert got["n_a"] == len(a)
    assert got["n_b"] == len(b)
    assert got["n_union"] == len(a | b)
    assert got["n_both"] == len(a & b)
    assert got["jaccard_permille"] == 1000 * len(a & b) // len(a | b)
    assert got["containment_permille"] == (
        1000 * len(a & b) // min(len(a), len(b))
    )


# ---------------------------------------------------------------------------
# Wave-19: Fano burstiness, chi-square residuals.
# ---------------------------------------------------------------------------


def test_fano_matches_python(spark):
    from etl_jobs_spark.queries.temporal import ts_burstiness_fano

    got = ts_burstiness_fano(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    b = ev["ts"].astype("datetime64[us]").astype("int64") // 3600000000
    h = ev.assign(b=b).groupby(["event_type", "b"]).size()
    for _, row in got.iterrows():
        cnts = h[row["event_type"]]
        n = len(cnts)
        s, sq = int(cnts.sum()), int((cnts**2).sum())
        mean = s // n
        var = sq // n - mean * mean
        assert row["n"] == n
        assert row["total_events"] == s
        assert row["mean_cnt"] == mean
        assert row["var_cnt"] == var
        assert row["fano_milli"] == 1000 * var // max(mean, 1)


def test_chi_residuals_match_python(spark):
    from etl_jobs_spark.queries.data_quality import (
        stat_chi_square_residuals,
    )

    got = stat_chi_square_residuals(spark, SF_DIR).toPandas()
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    m = orders.merge(
        cust[["c_custkey", "c_mktsegment"]],
        left_on="o_custkey",
        right_on="c_custkey",
    )
    ct = pd.crosstab(m["c_mktsegment"], m["o_orderpriority"])
    N = ct.to_numpy().sum()
    assert len(got) == ct.shape[0] * ct.shape[1]
    for _, row in got.iterrows():
        n = ct.loc[row["seg"], row["pri"]]
        rn = ct.loc[row["seg"]].sum()
        cn = ct[row["pri"]].sum()
        exp = rn * cn / N
        resid = (n - exp) / math.sqrt(
            exp * (1 - rn / N) * (1 - cn / N)
        )
        assert row["n"] == n
        assert row["expected"] == pytest.approx(exp, abs=1e-4)
        assert row["std_residual"] == pytest.approx(resid, abs=1e-4)
    # adjusted residuals of a full table are ~standard normal: the
    # grid must contain both signs
    assert (got["std_residual"] > 0).any() and (
        got["std_residual"] < 0
    ).any()


# ---------------------------------------------------------------
# block_cap default-on for entity resolution (VERDICT r8 item 3)
# ---------------------------------------------------------------


def test_er_block_cap_is_invisible_on_honest_fixture(spark):
    """With block_cap=ER_BLOCK_CAP (the pipeline default), the capped
    plan returns EXACTLY the uncapped pair set on the honest fixture,
    and block_cap_audit reads all-zero on the capped side — the
    'oracle unchanged' half of the default-on contract."""
    from etl_jobs_spark.operators.matching import (
        ER_BLOCK_CAP,
        block_cap_audit,
        fuzzy_pairs,
    )
    from etl_jobs_spark.sources.readers import read_table

    cust = read_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    kw = dict(block_cols=["c_nationkey", "c_mktsegment"])
    capped = {
        (r["key_a"], r["key_b"])
        for r in fuzzy_pairs(
            cust, "c_custkey", "c_name", block_cap=ER_BLOCK_CAP, **kw
        ).collect()
    }
    exact = {
        (r["key_a"], r["key_b"])
        for r in fuzzy_pairs(
            cust, "c_custkey", "c_name", block_cap=None, **kw
        ).collect()
    }
    assert capped == exact
    audit = block_cap_audit(
        cust, "c_custkey", "c_name", block_cap=ER_BLOCK_CAP, **kw
    ).collect()[0]
    assert audit["capped_blocks"] == 0
    assert audit["dropped_occurrences"] == 0
    assert audit["capped_pairs"] == 0
    assert audit["kept_blocks"] > 0


def test_block_cap_binds_and_audit_discloses_on_skew(spark):
    """Adversarial skew: one composed block holds > cap rows. The cap
    must drop that block's candidates (bounded fan-out) and the audit
    must disclose the C(n,2) exposure — the no-silent-caps half."""
    from etl_jobs_spark.operators.matching import (
        block_cap_audit,
        fuzzy_pairs,
    )

    # 40 identical hot names in one attr block (quadratic in-block
    # pair volume: C(40,2)=780), plus two honest near-dup rows in
    # another block that must SURVIVE the cap.
    rows = [(i, "aaaa", 7) for i in range(40)]
    rows += [(100, "zzzz", 8), (101, "zzzz", 8)]
    df = spark.createDataFrame(rows, "id BIGINT, name STRING, grp INT")
    capped = {
        (r["key_a"], r["key_b"])
        for r in fuzzy_pairs(
            df, "id", "name", block_cols=["grp"], block_cap=10
        ).collect()
    }
    assert capped == {(100, 101)}  # hot block dropped, honest kept
    audit = block_cap_audit(
        df, "id", "name", block_cols=["grp"], block_cap=10
    ).collect()[0]
    # the hot name 'aaaa' contributes 2 over-cap variant blocks —
    # itself plus 'aaa' (all four single-deletions collapse to the
    # same string and array_union dedups) — each with 40 rows
    assert audit["capped_blocks"] == 2
    assert audit["dropped_occurrences"] == 2 * 40
    assert audit["capped_pairs"] == 2 * (40 * 39 // 2)
    assert audit["kept_blocks"] > 0


def test_mmr_driver_bound_fails_loudly(spark, monkeypatch):
    """VERDICT r13 item 6: the MMR greedy stage's driver-side
    collect is pinned by MMR_DRIVER_PAIR_LIMIT — a pathologically
    large shortlist configuration must raise BEFORE collecting, not
    OOM the driver."""
    import pytest as _pytest

    from etl_jobs_spark.queries import similarity as S

    monkeypatch.setattr(S, "MMR_DRIVER_PAIR_LIMIT", 10)
    with _pytest.raises(RuntimeError, match="MMR_DRIVER_PAIR_LIMIT"):
        S.embed_mmr_diversified_topk(spark, SF_DIR).collect()
