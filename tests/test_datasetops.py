"""Unit tests for operators/datasetops.py — the properties the oracle
parity check can't see: exact-k selection, PPS proportionality, OLS on
known-truth data, probability normalization, diff classification
completeness, normalization monotonicity, one-keep-per-component.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_eng_project_spark.operators.datasetops import (
    cluster_representatives,
    groupwise_ols,
    pps_systematic_sample,
    quantile_normalize,
    snapshot_diff,
    transition_matrix,
)


def test_pps_uniform_weights_picks_exactly_k_evenly(spark):
    # 100 rows, weight 1 each → exactly k picks, every 10th row.
    df = spark.range(100).select(
        F.lit("s").alias("src"), F.col("id"), F.lit(1).alias("w")
    )
    out = pps_systematic_sample(df, "w", "src", "id", k_per_stratum=10).collect()
    assert len(out) == 10
    assert sorted(r["id"] for r in out) == [9, 19, 29, 39, 49, 59, 69, 79, 89, 99]
    assert sorted(r["pick_index"] for r in out) == list(range(1, 11))


def test_pps_heavy_row_always_selected_once(spark):
    # One row holds >2/10 of the mass: PPS must select it (certainty
    # item) but only once, so fewer than k rows come back.
    rows = [("s", i, 1) for i in range(20)] + [("s", 99, 30)]
    df = spark.createDataFrame(rows, "src string, id long, w long")
    out = pps_systematic_sample(df, "w", "src", "id", k_per_stratum=10)
    picked = {r["id"] for r in out.collect()}
    assert 99 in picked
    assert len(picked) < 10 + 1 or len(picked) == len(set(picked))


def test_pps_strata_independent(spark):
    df = spark.createDataFrame(
        [("a", i, i + 1) for i in range(50)] + [("b", i, 1) for i in range(5)],
        "src string, id long, w long",
    )
    out = pps_systematic_sample(df, "w", "src", "id", k_per_stratum=5)
    counts = {r["stratum"]: r["count"] for r in out.groupBy("stratum").count().collect()}
    assert counts["b"] == 5  # uniform small stratum: exactly k
    assert 1 <= counts["a"] <= 5


def test_groupwise_ols_recovers_known_line(spark):
    # y = 3x + 7 exactly → slope 3, intercept 7 (x is the rank index).
    rows = [("u", i, 3.0 * i + 7.0) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    out = groupwise_ols(df, "k", ["t"], "v", min_n=3).collect()
    assert len(out) == 1
    assert out[0]["slope"] == pytest.approx(3.0, abs=1e-6)
    assert out[0]["intercept"] == pytest.approx(7.0, abs=1e-6)


def test_groupwise_ols_min_n_filter(spark):
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 1.0)], "k string, t long, v double"
    )
    out = groupwise_ols(df, "k", ["t"], "v", min_n=3)
    assert out.count() == 0


def test_transition_matrix_probs_normalize(spark):
    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "c"),
        (2, 1, "a"), (2, 2, "b"),
    ]
    df = spark.createDataFrame(rows, "k long, t long, s string")
    out = transition_matrix(df, "k", ["t"], "s")
    sums = out.groupBy("from_state").agg(F.sum("prob").alias("p")).collect()
    for r in sums:
        assert r["p"] == pytest.approx(1.0, abs=1e-5)
    got = {(r["from_state"], r["to_state"]): r["n_transitions"] for r in out.collect()}
    assert got[("a", "b")] == 2  # both keys a→b
    assert got[("b", "a")] == 1  # only key 1 (key 2 history ends at b)


def test_snapshot_diff_classifies_all_cases(spark):
    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0), (4, None, 4.0)],
        "k long, s string, p double",
    )
    b = spark.createDataFrame(
        [(2, "y", 2.0), (3, "z", 9.0), (4, "w", 4.0), (5, "n", 5.0)],
        "k long, s string, p double",
    )
    out = {
        r["change_type"]: r
        for r in snapshot_diff(a, b, "k", ["s", "p"]).collect()
    }
    assert out["removed"]["n_rows"] == 1       # key 1
    assert out["added"]["n_rows"] == 1         # key 5
    assert out["changed"]["n_rows"] == 2       # key 3 (p), key 4 (NULL→w)
    assert out["unchanged"]["n_rows"] == 1     # key 2
    assert out["changed"]["n_changed_p"] == 1
    assert out["changed"]["n_changed_s"] == 1  # null-safe: NULL→'w' counts


def test_quantile_normalize_single_stratum_is_identity(spark):
    # One stratum: within-stratum rank IS the global rank → identity map.
    df = spark.createDataFrame(
        [(i, "s", (i * 37) % 100) for i in range(50)], "id long, src string, sc long"
    )
    out = quantile_normalize(df, "sc", "src", "id")
    assert out.filter(F.col("norm_score") != F.col("score")).count() == 0


def test_quantile_normalize_monotone_within_stratum(spark):
    df = spark.createDataFrame(
        [(i, "a", i) for i in range(30)] + [(100 + i, "b", i * 1000) for i in range(10)],
        "id long, src string, sc long",
    )
    out = quantile_normalize(df, "sc", "src", "id").collect()
    for stratum in ("a", "b"):
        rows = sorted(
            (r for r in out if r["stratum"] == stratum), key=lambda r: r["src_rank"]
        )
        norms = [r["norm_score"] for r in rows]
        assert norms == sorted(norms)  # rank-monotone mapping


def test_cluster_representatives_one_keep_per_component(spark):
    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 30), (4, 99), (5, 7)], "doc_id long, q long"
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, comp long"  # docs 4,5 singleton
    )
    out = cluster_representatives(docs, comps, "doc_id", "q")
    keeps = out.filter("keep").groupBy("component").count().collect()
    assert all(r["count"] == 1 for r in keeps)
    kept = {r["component"]: r["id"] for r in out.filter("keep").collect()}
    assert kept[1] == 2  # highest quality in the component, not lowest id
    assert kept[4] == 4 and kept[5] == 5  # singletons survive


def test_fuzzy_pairs_no_cartesian_and_symmetric_contract(spark):
    from data_eng_project_spark.operators.datasetops import fuzzy_name_pairs

    df = spark.createDataFrame(
        [("red widget",), ("red gadget",), ("blue bolt",), ("red widget",)],
        "n string",
    )
    out = fuzzy_name_pairs(df, "n", max_distance=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    rows = out.collect()
    got = {(r["name_a"], r["name_b"]): r["distance"] for r in rows}
    assert got == {("red gadget", "red widget"): 2}  # blue bolt shares no token


def test_chunker_tiles_documents_exactly(spark):
    from data_eng_project_spark.operators.datasetops import chunk_documents

    # 130 tokens, window 50, stride 40 → n_chunks = (130-50+39)//40+1 = 3;
    # the last window [80,130) lands exactly on the end — no short tail.
    text = " ".join(f"t{i}" for i in range(130))
    df = spark.createDataFrame([(1, text), (2, "a b c")], "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id", window=50, stride=40).collect()
    d1 = sorted((r for r in out if r["id"] == 1), key=lambda r: r["chunk_idx"])
    assert [(r["start_tok"], r["end_tok"]) for r in d1] == [
        (0, 50), (40, 90), (80, 130)
    ]
    # coverage: union of [start,end) spans [0,130) with no gap
    covered = set()
    for r in d1:
        covered.update(range(r["start_tok"], r["end_tok"]))
    assert covered == set(range(130))
    d2 = [r for r in out if r["id"] == 2]
    assert len(d2) == 1 and d2[0]["n_chunk_tokens"] == 3


def test_incremental_join_view_merge_equals_recompute(spark):
    from data_eng_project_spark.operators.datasetops import (
        incremental_join_view_merge,
    )

    fact = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(100)], "k long, fk long, v double"
    )
    dim = spark.createDataFrame([(i, i % 2) for i in range(5)], "fk long, g long")
    old = fact.filter("k < 70")
    delta = fact.filter("k >= 70")
    old_state = (
        old.join(dim, "fk").groupBy("g").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("v").cast("decimal(28,6)")).alias("total"),
        )
    )
    merged = incremental_join_view_merge(old_state, delta, dim, "fk", "g", "v")
    full = (
        fact.join(dim, "fk").groupBy("g").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("v").cast("decimal(28,6)")).alias("total"),
        )
    )
    got = {r["g"]: (r["n_rows"], r["total"]) for r in merged.collect()}
    want = {r["g"]: (r["n_rows"], r["total"]) for r in full.collect()}
    assert got == want


def _numpy_pagerank(edges, n_iter=10, damping=0.85):
    """Global power iteration over the symmetrized graph: the
    definition the per-component operator must reproduce."""
    import numpy as np

    sym = set()
    for a, b in edges:
        sym.add((a, b)); sym.add((b, a))
    nodes = sorted({x for e in sym for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    out_deg = {a: sum(1 for x, _ in sym if x == a) for a in nodes}
    for a, b in sym:
        M[idx[b], idx[a]] = 1.0 / out_deg[a]
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        r = (1 - damping) / n + damping * (M @ r)
    return {node: r[idx[node]] for node in nodes}


def test_pagerank_matches_numpy_power_iteration(spark):
    from data_eng_project_spark.operators.clusters import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]  # triangle + pendant
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["rank"] for r in pagerank(df, n_iter=10).collect()}

    # numpy twin: identical symmetrized graph, damping, iterations
    want = _numpy_pagerank(edges)
    for node, rank in want.items():
        assert got[node] == pytest.approx(rank, abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


# A lone edge, a triangle plus pendant, and a 5-node chain: the teleport
# term divides by the GLOBAL node count (11), which a one-component
# graph cannot tell apart from the component's own size.
_MULTI_COMPONENT_EDGES = [
    (100, 101),
    (0, 1), (1, 2), (2, 0), (2, 3),
    (10, 11), (11, 12), (12, 13), (13, 14),
]
_MULTI_COMPONENT_LABELS = {
    100: 100, 101: 100,
    0: 0, 1: 0, 2: 0, 3: 0,
    10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
}


def test_pagerank_per_component_matches_global_numpy(spark):
    from data_eng_project_spark.operators.clusters import pagerank

    df = spark.createDataFrame(_MULTI_COMPONENT_EDGES, "id_a long, id_b long")
    comps = spark.createDataFrame(
        sorted(_MULTI_COMPONENT_LABELS.items()), "id long, comp long"
    )
    want = _numpy_pagerank(_MULTI_COMPONENT_EDGES)
    for ranks in (pagerank(df), pagerank(df, components=comps)):
        got = {r["id"]: r["rank"] for r in ranks.collect()}
        assert got.keys() == want.keys()
        for node, rank in want.items():
            assert got[node] == pytest.approx(rank, abs=1e-12)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_with_components_builds_without_jobs_or_caches(spark):
    """Given its components, PageRank's plan is pure: building it runs
    no Spark job, and neither building nor collecting it leaves a
    persisted RDD (no checkpoint per round, no cached edge list)."""
    from data_eng_project_spark.operators.clusters import pagerank

    sc = spark.sparkContext
    df = spark.createDataFrame(_MULTI_COMPONENT_EDGES, "id_a long, id_b long")
    comps = spark.createDataFrame(
        sorted(_MULTI_COMPONENT_LABELS.items()), "id long, comp long"
    )
    persisted = sc._jsc.getPersistentRDDs().size()
    group = "pagerank-job-shape"
    sc.setJobGroup(group, group)
    try:
        ranks = pagerank(df, components=comps)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert len(ranks.collect()) == len(_MULTI_COMPONENT_LABELS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc._jsc.getPersistentRDDs().size() <= persisted


def test_containment_catches_what_jaccard_misses(spark):
    from data_eng_project_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"          # 4 3-gram shingles
    long_ = short + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "unrelated words only here nothing shared")],
        "doc_id long, text string",
    )
    jac = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5).collect()
    assert not any({r["id_a"], r["id_b"]} == {1, 2} for r in jac)  # diluted
    cont = ngram_containment_pairs(df, "text", "doc_id", n=3, threshold=0.8)
    rows = {(r["id_a"], r["id_b"]): r["containment"] for r in cont.collect()}
    assert rows.get((1, 2)) == pytest.approx(1.0)  # short fully contained
    assert all({a, b} != {1, 3} and {a, b} != {2, 3} for a, b in rows)


def test_triangle_stats_known_graph(spark):
    from data_eng_project_spark.operators.clusters import triangle_stats

    # triangle 0-1-2 plus pendant 3 hanging off 2
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "id_a long, id_b long"
    )
    got = {r["id"]: r for r in triangle_stats(df).collect()}
    assert got[0]["n_triangles"] == 1 and got[1]["n_triangles"] == 1
    assert got[2]["n_triangles"] == 1 and got[3]["n_triangles"] == 0
    assert got[0]["clustering_coeff"] == pytest.approx(1.0)   # deg 2, 1 tri
    assert got[2]["clustering_coeff"] == pytest.approx(1 / 3)  # deg 3, 1 of 3
    assert got[3]["clustering_coeff"] == 0.0                   # deg 1


def test_time_weighted_avg_hand_computed(spark):
    import datetime as dt

    from data_eng_project_spark.operators.temporal import time_weighted_avg

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 1, t0, 10.0),                                  # holds 60 s
        (1, 2, t0 + dt.timedelta(seconds=60), 20.0),       # holds 30 s
        (1, 3, t0 + dt.timedelta(seconds=90), 99.0),       # last: no weight
        (2, 4, t0, 5.0),                                   # single obs: drop
    ]
    df = spark.createDataFrame(rows, "user long, eid long, ts timestamp, v double")
    out = time_weighted_avg(df, "user", "ts", "v", "eid").collect()
    assert len(out) == 1 and out[0]["key"] == 1
    # (10*60 + 20*30) / 90 = 1200/90
    assert out[0]["twa"] == pytest.approx(1200 / 90, abs=1e-6)
    assert out[0]["span_us"] == 90_000_000


def test_hourly_ohlc_with_ties(spark):
    import datetime as dt

    from data_eng_project_spark.operators.temporal import hourly_ohlc

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, 5.0),
        (2, t0, 4.0),          # same ts as event 1: open resolves by eid → 5.0
        (3, t0 + dt.timedelta(minutes=30), 9.0),
        (4, t0 + dt.timedelta(minutes=59), 2.0),
        (5, t0 + dt.timedelta(hours=1), 7.0),  # next hour
    ]
    df = spark.createDataFrame(rows, "eid long, ts timestamp, v double")
    got = {r["hour_start"]: r for r in hourly_ohlc(df, "ts", "v", "eid").collect()}
    h0 = got[t0]
    assert (h0["open"], h0["high"], h0["low"], h0["close"]) == (5.0, 9.0, 2.0, 2.0)
    assert h0["n_events"] == 4
    h1 = got[t0 + dt.timedelta(hours=1)]
    assert (h1["open"], h1["close"]) == (7.0, 7.0)


def test_knn_join_blocked_matches_numpy_brute_force(spark):
    import numpy as np

    from data_eng_project_spark.operators.similarity import knn_join_blocked

    rng = np.random.default_rng(7)
    qv = rng.normal(size=(23, 16)).astype(float)
    cv = rng.normal(size=(157, 16)).astype(float)
    q = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(qv)], "vec_id long, embedding array<double>"
    )
    c = spark.createDataFrame(
        [(1000 + i, v.tolist()) for i, v in enumerate(cv)],
        "vec_id long, embedding array<double>",
    )
    got = knn_join_blocked(q, c, k=5).collect()

    qn = qv / np.linalg.norm(qv, axis=1, keepdims=True)
    cn = cv / np.linalg.norm(cv, axis=1, keepdims=True)
    S = qn @ cn.T
    S = np.where(S >= 0, np.floor(S * 1e6 + 0.5), np.ceil(S * 1e6 - 0.5)) / 1e6
    for qi in range(len(qv)):
        # expected top-5: cosine desc, corpus id asc on ties
        order = sorted(range(len(cv)), key=lambda j: (-S[qi, j], 1000 + j))[:5]
        want = [(1000 + j, S[qi, j]) for j in order]
        rows = sorted((r for r in got if r["qid"] == qi), key=lambda r: r["rank"])
        assert [(r["cid"], r["cosine"]) for r in rows] == [
            (cid, pytest.approx(cos, abs=1e-12)) for cid, cos in want
        ]


def test_knn_label_propagation_runs_and_is_complete(spark, sf_dir):
    from data_eng_project_spark.plans import REGISTRY

    out = REGISTRY["knn_label_propagation"].fn(spark, sf_dir)
    rows = out.collect()
    import duckdb

    n_hidden = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet' WHERE vec_id % 5 = 0"
    ).fetchone()[0]
    assert len(rows) == n_hidden           # every withheld point predicted
    assert all(r["predicted"] is not None for r in rows)
    acc = sum(r["correct"] for r in rows) / len(rows)
    assert 0.0 <= acc <= 1.0


def test_log_histogram_quantiles_error_bound(spark, sf_dir):
    """HDR-style sketch estimates must sit within the constructive
    relative-error bound of the exact percentiles."""
    from data_eng_project_spark.plans import REGISTRY
    from data_eng_project_spark.tables import load_table

    est = {
        r["p"]: r["est_value"]
        for r in REGISTRY["log_histogram_quantiles"].fn(spark, sf_dir).collect()
    }
    prices = sorted(
        r["o_totalprice"]
        for r in load_table(spark, sf_dir, "orders").select("o_totalprice").collect()
        if r["o_totalprice"] >= 10
    )
    import math

    for p in (0.5, 0.9, 0.99):
        exact = prices[max(0, math.ceil(p * len(prices)) - 1)]
        assert abs(est[p] - exact) / exact <= 0.05, (p, est[p], exact)


def test_phrase_occurrences_counts_overlaps():
    """Self-overlapping phrases must count every start position —
    the case substring-replace counting undercounts."""
    from data_eng_project_spark.operators.textops import phrase_occurrences
    from data_eng_project_spark.session import get_session

    spark = get_session("tests", cpus=8)
    docs = spark.createDataFrame(
        [(1, "w w w w"), (2, "a w w b"), (3, "w x w")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_occurrences(docs, ("w", "w")).collect()
    }
    assert got == {1: 3, 2: 1}


def test_time_decay_attribution_conserves_value(spark, sf_dir):
    """Fractional multi-touch credit must exactly conserve total
    purchase value across channels (normalization is per purchase)."""
    from data_eng_project_spark.plans import REGISTRY
    from data_eng_project_spark.tables import load_table
    from pyspark.sql import functions as F

    out = REGISTRY["attribution_time_decay"].fn(spark, sf_dir).collect()
    total_credit = sum(r["attributed_value"] for r in out)
    total_value = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum("value"))
        .collect()[0][0]
    )
    assert abs(total_credit - total_value) < 1e-3


def test_rrf_ranks_are_permutations(spark, sf_dir):
    from data_eng_project_spark.plans import REGISTRY

    rows = REGISTRY["rrf_hybrid_search"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    assert len({r["doc_id"] for r in rows}) == 10
    # the fused score is exactly the RRF formula of the emitted ranks
    for r in rows:
        expect = 1.0 / (60 + r["rank_bm25"]) + 1.0 / (60 + r["rank_cosine"])
        assert abs(r["rrf_score"] - round(expect, 6)) < 1e-9


# --- round-3 batch: splits, boilerplate, CDC chunking -----------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_split_column_deterministic_and_partition_invariant(spark):
    from data_eng_project_spark.operators.curation import split_column

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["s"] for r in df.select("doc_id", split_column().alias("s")).collect()}
    b = {
        r["doc_id"]: r["s"]
        for r in df.repartition(7).select("doc_id", split_column().alias("s")).collect()
    }
    assert a == b
    # roughly 80/10/10 over 1000 consecutive ids (md5 bucket is uniform
    # but not exact over a finite range)
    from collections import Counter

    c = Counter(a.values())
    assert 740 <= c["train"] <= 860
    assert 60 <= c["val"] <= 140
    assert 60 <= c["test"] <= 140


def test_split_column_survives_strided_and_negative_ids(spark):
    """The md5 bucket must not collapse on id spaces a linear
    congruential map fails on: ids allocated with a stride sharing
    factors with 100 (sharded schemes emitting multiples of 20), and
    negative ids (Spark % keeps sign)."""
    from collections import Counter

    from data_eng_project_spark.operators.curation import split_column

    strided = spark.range(0, 20000, 20).select(F.col("id").alias("doc_id"))
    c = Counter(
        r["s"] for r in strided.select(split_column().alias("s")).collect()
    )
    assert c["val"] > 0 and c["test"] > 0
    assert 0.7 < c["train"] / 1000 < 0.9

    negative = spark.range(-1000, 0).select(F.col("id").alias("doc_id"))
    cn = Counter(
        r["s"] for r in negative.select(split_column().alias("s")).collect()
    )
    assert cn["val"] > 0 and cn["test"] > 0


def test_cross_split_leakage_only_cross_pairs(spark):
    from data_eng_project_spark.operators.curation import (
        cross_split_leakage,
        split_column,
    )

    pairs = spark.createDataFrame(
        [(i, j) for i in range(50) for j in range(i + 1, 50)],
        "id_a long, id_b long",
    )
    out = cross_split_leakage(pairs).collect()
    # recompute splits independently and verify the filter's contract
    splits = {
        r["doc_id"]: r["s"]
        for r in spark.range(50)
        .select(F.col("id").alias("doc_id"), split_column().alias("s"))
        .collect()
    }
    expected = {
        (i, j)
        for i in range(50)
        for j in range(i + 1, 50)
        if splits[i] != splits[j]
    }
    assert {(r["id_a"], r["id_b"]) for r in out} == expected
    assert all(r["split_a"] != r["split_b"] for r in out)


def test_boilerplate_detects_injected_repeated_segment(spark):
    from data_eng_project_spark.operators.datasetops import boilerplate_segment_stats

    boiler = "all rights reserved contact us at example dot com"  # 9 words
    rows = [
        (i, f"unique body text number {i} alpha beta gamma delta " * 2 + boiler)
        for i in range(5)
    ] + [(99, "completely unrelated words nothing shared here at all ok")]
    out = {
        r["doc_id"]: r
        for r in boilerplate_segment_stats(_docs(spark, rows), k=8, min_df=3).collect()
    }
    # every doc got a row, including the non-boilerplate one
    assert set(out) == {0, 1, 2, 3, 4, 99}
    assert out[99]["n_boilerplate"] == 0
    # the repeated tail segment is flagged in the 5 sharing docs; the
    # shared trailing segment only aligns identically because the unique
    # prefix has fixed word count (16) — 16 % 8 == 0, so the boilerplate
    # starts exactly at a segment boundary in every doc.
    for i in range(5):
        assert out[i]["n_boilerplate"] >= 1, out[i]


def test_cdc_chunks_shift_robust_vs_fixed_segments(spark):
    from data_eng_project_spark.operators.datasetops import (
        boilerplate_segment_stats,
        cdc_chunk_stats,
    )

    base = (
        "the quick brown fox jumps over a lazy dog while seven wizards "
        "brew strong potions under pale moon light near silent river stones "
        "and ancient oak trees guard forgotten paths through misty green valleys"
    )
    shifted = "inserted " + base  # one-word insertion at the front
    df = _docs(spark, [(1, base), (2, shifted)])
    cdc = {r["doc_id"]: r for r in cdc_chunk_stats(df).collect()}
    # CDC re-aligns after the insertion: the two docs share most chunks
    assert cdc[1]["n_shared_chunks"] >= cdc[1]["n_chunks"] - 2
    # fixed 8-word segments shift and share (almost) nothing
    fixed = {
        r["doc_id"]: r
        for r in boilerplate_segment_stats(df, k=8, min_df=2).collect()
    }
    assert fixed[1]["n_boilerplate"] <= 1


def test_cdc_chunks_partition_words_exactly(spark):
    from data_eng_project_spark.operators.datasetops import cdc_chunk_stats

    text = "one two three four five six seven eight nine ten " * 10
    out = cdc_chunk_stats(_docs(spark, [(7, text)])).collect()
    assert len(out) == 1
    assert out[0]["n_words"] == 100  # chunks partition the token stream


def test_soft_dedup_family_mass_sums_to_one(spark):
    from data_eng_project_spark.operators.curation import soft_dedup_weights

    # 3-doc dup family (chain a-b, b-c) + 1 singleton
    docs = _docs(
        spark,
        [(1, "x y z"), (2, "x y z"), (3, "x y z"), (9, "totally different")],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r["doc_id"]: r for r in soft_dedup_weights(docs, pairs).collect()}
    assert out[1]["component"] == out[2]["component"] == out[3]["component"] == 1
    assert all(out[i]["cluster_size"] == 3 for i in (1, 2, 3))
    assert abs(sum(out[i]["weight"] for i in (1, 2, 3)) - 1.0) < 1e-5
    assert out[9]["cluster_size"] == 1 and out[9]["weight"] == 1.0
    assert out[9]["effective_tokens"] == out[9]["n_tokens"]


def test_shuffle_order_is_permutation_and_stable(spark):
    from data_eng_project_spark.operators.datasetops import shuffle_order

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    out = shuffle_order(df).collect()
    positions = sorted(r["global_pos"] for r in out)
    assert positions == list(range(500))  # exact permutation of 0..n-1
    # stable under re-partitioning
    again = {
        r["doc_id"]: r["global_pos"]
        for r in shuffle_order(df.repartition(13)).collect()
    }
    assert {r["doc_id"]: r["global_pos"] for r in out} == again
    # and actually shuffled: not the identity, not sorted by id
    by_id = [p for _, p in sorted(again.items())]
    assert by_id != sorted(by_id)


from hypothesis import given, settings
from hypothesis import strategies as st

_VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _py_cdc_chunks(words):
    """Driver-side exact twin of cdc_chunk_stats' chunking rule."""
    import hashlib

    chunks, cur = [], []
    for i, w in enumerate(words):
        if i > 0 and hashlib.md5(
            f"{words[i - 1]} {w}".encode()
        ).hexdigest()[0] in ("0", "1"):
            chunks.append(cur)
            cur = []
        cur.append(w)
    if cur:
        chunks.append(cur)
    return [" ".join(c) for c in chunks]


@given(
    st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=60),
        min_size=1,
        max_size=3,
    )
)
@settings(max_examples=5, deadline=None)
def test_cdc_chunks_match_python_twin(spark, docs_words):
    from collections import Counter

    from data_eng_project_spark.operators.datasetops import cdc_chunk_stats

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    out = {
        r["doc_id"]: r
        for r in cdc_chunk_stats(_docs(spark, rows)).collect()
    }
    # exact twin: chunk multiset per doc + cross-doc df
    per_doc = {i: _py_cdc_chunks(ws) for i, ws in enumerate(docs_words)}
    df = Counter()
    for i, chs in per_doc.items():
        for c in set(chs):
            df[c] += 1
    for i, ws in enumerate(docs_words):
        chs = per_doc[i]
        assert out[i]["n_chunks"] == len(chs)
        assert out[i]["n_words"] == len(ws)
        assert out[i]["n_shared_chunks"] == sum(1 for c in chs if df[c] >= 2)


def _sha_noise(n):
    import hashlib

    b, seed = b"", b"x"
    while len(b) < n:
        seed = hashlib.sha256(seed).digest()
        b += seed
    return "".join(chr(33 + c % 94) for c in b[:n])


def test_compression_signal_matches_python_twin_and_flags(spark):
    import zlib

    from data_eng_project_spark.operators.textops import compression_ratio_signal

    rows = [
        (1, "spam " * 200),                      # highly repetitive
        (2, "the quick brown fox jumps over the lazy dog " * 3),
        (3, _sha_noise(500)),                    # aperiodic printable noise
    ]
    out = {r["doc_id"]: r for r in compression_ratio_signal(_docs(spark, rows)).collect()}
    for doc_id, txt in rows:
        b = txt.encode()
        assert out[doc_id]["raw_bytes"] == len(b)
        assert out[doc_id]["compressed_bytes"] == len(zlib.compress(b, 6))
    assert out[1]["too_repetitive"] and not out[1]["too_random"]
    assert not out[2]["too_repetitive"] and not out[2]["too_random"]
    assert out[3]["too_random"] and not out[3]["too_repetitive"]


def test_pii_scan_catches_mixed_case_email(spark):
    """Round-4 self-review: PII regexes must not be lowercase-only —
    'John.Doe@Example.COM' is PII exactly like its lowercase twin."""
    from data_eng_project_spark.operators.curation import pii_scan

    docs = spark.createDataFrame(
        [
            (1, "Contact John.Doe@Example.COM or +1-555-1234 today"),
            (2, "plain text, no pii"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_emails"], r["n_phones"]) for r in pii_scan(docs).collect()}
    assert out[1] == (1, 1)
    assert out[2] == (0, 0)
    # and the composer redact stage removes it too
    from data_eng_project_spark.pipelines.composer import STAGES

    red = STAGES["pii_redact"](docs).collect()
    t1 = next(r["text"] for r in red if r["doc_id"] == 1)
    assert "[EMAIL]" in t1 and "Example.COM" not in t1


def test_decontaminate_reports_every_document(spark):
    """Round-4 self-review: documents too short to produce one n-gram
    must still get a row (0 shingles, not contaminated) — a keep-list
    join would otherwise silently drop them."""
    from data_eng_project_spark.operators.curation import decontaminate_overlap

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "ok"),  # < n tokens: zero shingles
            (3, ""),  # empty
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in decontaminate_overlap(corpus, bench).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2]["n_shingles"] == 0 and out[2]["contaminated"] is False
    assert out[3]["n_shingles"] == 0 and out[3]["overlap_ratio"] == 0.0
    assert out[1]["n_hit"] > 0


def test_pack_sequences_empty_doc_occupies_no_tokens(spark):
    """Round-4 self-review: split('') yields [''] — an empty document
    must pack as 0 tokens, not shift every later offset by a phantom."""
    from data_eng_project_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(1, "s", "a b c"), (2, "s", ""), (3, "s", "d e")],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r for r in pack_sequences(docs, chunk_tokens=4).collect()}
    assert out[2]["n_tokens"] == 0
    assert out[1]["n_tokens"] == 3 and out[3]["n_tokens"] == 2
    assert out[3]["start_offset"] == 3  # not 4


def test_chunk_documents_drops_null_text(spark):
    """Regression (r5 review): size(NULL) is -1 under the pinned
    non-ANSI mode and previously took the one-chunk branch, emitting a
    garbage (end_tok=-1, NULL hash) row for a NULL document — NULL texts
    must yield no chunks, matching the oracle's empty generate_series."""
    from data_eng_project_spark.operators.datasetops import chunk_documents

    df = spark.createDataFrame(
        [(1, "one two three four five"), (2, None), (3, "alpha beta")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, "text", "doc_id", window=3, stride=2).collect()
    ids = {r["id"] for r in out}
    assert ids == {1, 3}
    assert all(r["n_chunk_tokens"] > 0 and r["chunk_hash"] is not None for r in out)


# ------------------------------------------- distributed rank / cumsum


def test_distributed_order_rank_equals_global_row_number(spark):
    """The bucketed rank must equal row_number() OVER (ORDER BY v, id)
    exactly — for ANY percentile-cut placement — including heavy ties
    and with a deliberately tiny bucket count forcing multi-row
    buckets."""
    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_order_rank

    rows = [(f"id{i:03d}", (i * 7919) % 13) for i in range(200)]
    df = spark.createDataFrame(rows, "id string, v long").repartition(7)
    got = {
        r["id"]: r["_grank"]
        for r in distributed_order_rank(df, "v", ["id"], n_buckets=5).collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("v", "id")).alias("rn")
        ).collect()
    }
    assert got == want


def test_distributed_order_rank_descending(spark):
    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_order_rank

    rows = [(f"id{i:03d}", float((i * 31) % 17) / 3.0) for i in range(150)]
    df = spark.createDataFrame(rows, "id string, v double")
    got = {
        r["id"]: r["_grank"]
        for r in distributed_order_rank(
            df, "v", ["id"], descending=True, n_buckets=8
        ).collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number().over(Window.orderBy(F.col("v").desc(), "id")).alias("rn"),
        ).collect()
    }
    assert got == want


def test_distributed_cumsum_matches_global_window_decimal_exact(spark):
    """Running decimal sum must be bit-identical to the partitionless
    window form — including the (37,s) headroom cast (a (38,s)+(38,s)
    addition would clip the scale by one digit)."""
    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_order_cumsum

    rows = [(f"c{i:03d}", i % 23, f"{(i * 97) % 1000}.{i % 100:02d}") for i in range(300)]
    df = spark.createDataFrame(rows, "id string, k long, amt string").select(
        "id", "k", F.col("amt").cast("decimal(28,6)").alias("amt")
    )
    out = distributed_order_cumsum(
        df, "k", ["id"], "amt", descending=True, n_buckets=6
    )
    got = {(r["id"]): (r["_grank"], str(r["_gcum"])) for r in out.collect()}
    w = Window.orderBy(F.col("k").desc(), "id")
    want = {
        r["id"]: (r["rn"], str(r["cs"]))
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("amt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
        ).collect()
    }
    assert {k: v[0] for k, v in got.items()} == {k: v[0] for k, v in want.items()}
    # decimal running sums equal value-for-value (compare as Decimal,
    # not string: the window form types (38,6), the distributed form
    # (38,6) after the headroom addition — same digits either way)
    from decimal import Decimal

    for k in want:
        assert Decimal(got[k][1]) == Decimal(want[k][1]), k


def test_rfm_distributed_ntile_matches_exact_ntile(spark):
    """rfm_segments' rank-arithmetic quintiles must reproduce ntile(5)
    row-for-row on sizes that exercise both bucket-size branches
    (n mod 5 != 0)."""
    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_order_rank

    for n in (7, 23, 100, 101, 104):
        rows = [(f"c{i:03d}", (i * 37) % 19) for i in range(n)]
        df = spark.createDataFrame(rows, "custkey string, v long")
        ranked = distributed_order_rank(df, "v", ["custkey"], out_col="_r")
        n1 = df.agg(F.count(F.lit(1)).alias("_n"))
        tile = F.when(
            F.col("_r") <= F.expr("(_n % 5) * ((_n div 5) + 1)"),
            F.expr("((_r - 1) div ((_n div 5) + 1)) + 1"),
        ).otherwise(
            F.expr(
                "(_n % 5) + ((_r - (_n % 5) * ((_n div 5) + 1) - 1)"
                " div (_n div 5)) + 1"
            )
        )
        got = {
            r["custkey"]: r["t"]
            for r in ranked.join(F.broadcast(n1))
            .select("custkey", tile.cast("int").alias("t"))
            .collect()
        }
        want = {
            r["custkey"]: r["t"]
            for r in df.select(
                "custkey",
                F.ntile(5).over(Window.orderBy("v", "custkey")).alias("t"),
            ).collect()
        }
        assert got == want, n


def test_distributed_order_rank_null_values_both_directions(spark):
    """NULL order values sort FIRST under Spark ASC and LAST under DESC;
    the bucketing must pin a NULL image to the matching end bucket (the
    strict cut-count would otherwise drop NULLs into bucket 0 for
    descending orders too, misplacing them — r6 self-review)."""
    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_order_rank

    rows = [(f"id{i:03d}", None if i % 9 == 0 else float(i % 11)) for i in range(120)]
    df = spark.createDataFrame(rows, "id string, v double")
    for desc in (False, True):
        got = {
            r["id"]: r["_grank"]
            for r in distributed_order_rank(
                df, "v", ["id"], descending=desc, n_buckets=4
            ).collect()
        }
        order = F.col("v").desc() if desc else F.col("v").asc()
        want = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy(order, "id")).alias("rn")
            ).collect()
        }
        assert got == want, f"descending={desc}"


@given(
    st.lists(
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
        min_size=1,
        max_size=80,
    ),
    st.sampled_from([2, 3, 7, 64]),
    st.booleans(),
)
@settings(max_examples=6, deadline=None)
def test_distributed_rank_property_vs_window(spark, vals, n_buckets, desc):
    """Property: for ANY value multiset (heavy ties, NULLs), any bucket
    count, and either direction, distributed_order_rank equals the
    partitionless row_number window exactly."""
    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_order_rank

    rows = [(f"id{i:03d}", None if v is None else float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id string, v double")
    got = {
        r["id"]: r["_grank"]
        for r in distributed_order_rank(
            df, "v", ["id"], descending=desc, n_buckets=n_buckets
        ).collect()
    }
    order = F.col("v").desc() if desc else F.col("v").asc()
    want = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy(order, "id")).alias("rn")
        ).collect()
    }
    assert got == want


def test_distributed_rank_select_matches_window_selection(spark):
    """The bucket-pruned rank selection (sort only the one bucket that
    contains the target rank) must pick exactly the value row_number
    selection picks, per group — including heavy ties and targets at
    the group edges (rank 1 and rank n)."""
    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_rank_select

    rows = [(f"g{i % 3}", float((i * 17) % 13)) for i in range(250)]
    df = spark.createDataFrame(rows, "grp string, v double")
    sizes = df.groupBy("grp").agg(F.count(F.lit(1)).alias("_n"))
    for target_expr in ("(_n + 1) div 2", "1", "_n"):
        targets = sizes.select(
            "grp", F.expr(target_expr).cast("bigint").alias("_target")
        )
        got = {
            r["grp"]: r["_selected"]
            for r in distributed_rank_select(
                df, "v", ["grp"], targets, n_buckets=4
            ).collect()
        }
        ranked = df.withColumn(
            "rn", F.row_number().over(Window.partitionBy("grp").orderBy("v"))
        ).join(targets, "grp")
        want = {
            r["grp"]: r["v"]
            for r in ranked.filter(F.col("rn") == F.col("_target")).collect()
        }
        assert got == want, target_expr


def test_distributed_order_rank_nan_values_both_directions(spark):
    """NaN sorts LAST under Spark ASC (above every double) and FIRST
    under DESC; the bucketing must pin a NaN image to the matching end
    bucket — the strict cut-count alone would drop NaN into bucket 0
    in both directions, which is wrong ascending (ADVICE r6)."""
    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_order_rank

    rows = [
        (f"id{i:03d}", float("nan") if i % 7 == 0 else float(i % 11))
        for i in range(140)
    ] + [("idnull", None)]
    df = spark.createDataFrame(rows, "id string, v double")
    for desc in (False, True):
        got = {
            r["id"]: r["_grank"]
            for r in distributed_order_rank(
                df, "v", ["id"], descending=desc, n_buckets=4
            ).collect()
        }
        order = F.col("v").desc() if desc else F.col("v").asc()
        want = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy(order, "id")).alias("rn")
            ).collect()
        }
        assert got == want, f"descending={desc}"


def test_cumsum_rejects_float_value_col(spark):
    """distributed_order_cumsum documents a decimal-or-integer value
    contract (float sums are order-sensitive); a double value column
    must raise instead of silently truncating its offsets to bigint."""
    from data_eng_project_spark.operators.datasetops import distributed_order_cumsum

    df = spark.createDataFrame(
        [("a", 1, 0.5), ("b", 2, 1.5)], "id string, k long, v double"
    )
    with pytest.raises(TypeError, match="DECIMAL"):
        distributed_order_cumsum(df, "k", ["id"], "v").collect()


def test_distributed_order_rank_string_order_default_image(spark):
    """The default STRING image (numeric value of the rpad-hex 4-byte
    UTF-8 prefix) must keep ranks identical to the plain window for
    adversarial prefixes: short-vs-long ('b' vs 'aa'), shared 4-byte
    prefixes differing past the prefix, empty strings, and multibyte
    UTF-8 (2-, 3- and 4-byte code points) that splits mid-code-point
    at byte 4 — Spark compares strings by UTF-8 bytes, so the prefix
    image must stay order-aligned through all of them."""
    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_order_rank

    vals = [
        "", "a", "aa", "aaa", "aaaa", "aaaab", "aaaac", "b", "ba",
        "zzzz0", "zzzz1", "é", "éa", "日本語テキスト", "日本語", "🚀x", "🚀",
        "ééé", "Z", "0", "~~~~~", None,
    ] * 3
    rows = [(f"id{i:03d}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id string, s string").repartition(5)
    for desc in (False, True):
        got = {
            r["id"]: r["_grank"]
            for r in distributed_order_rank(
                df, "s", ["id"], descending=desc, n_buckets=7
            ).collect()
        }
        order = F.col("s").desc() if desc else F.col("s").asc()
        want = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy(order, "id")).alias("rn")
            ).collect()
        }
        assert got == want, f"descending={desc}"


def test_distributed_order_rank_date_and_timestamp_default_images(spark):
    """Date and timestamp orderings use the unix_date day-number image
    (day truncation of a timestamp is monotone): ranks must equal the
    plain window including NULLs, both directions, and timestamps that
    differ only within a day (same image bucket, window-ordered)."""
    import datetime as dt

    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_order_rank

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (
            f"id{i:03d}",
            None if i % 13 == 0 else (base + dt.timedelta(hours=i * 7)).date(),
            None if i % 11 == 0 else base + dt.timedelta(minutes=i * 97),
        )
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, "id string, d date, ts timestamp")
    for col in ("d", "ts"):
        for desc in (False, True):
            got = {
                r["id"]: r["_grank"]
                for r in distributed_order_rank(
                    df, col, ["id"], descending=desc, n_buckets=6
                ).collect()
            }
            order = F.col(col).desc() if desc else F.col(col).asc()
            want = {
                r["id"]: r["rn"]
                for r in df.select(
                    "id",
                    F.row_number().over(Window.orderBy(order, "id")).alias("rn"),
                ).collect()
            }
            assert got == want, f"col={col} descending={desc}"


def test_winsorize_group_stats_matches_window_form(spark):
    """winsorize_group_stats must equal the plain per-group rank-window
    winsorization on adversarial groups: heavy ties (cut lands inside a
    tied run), a 1-row group (both cuts = the value, zero tails), a
    2-row group, and a group whose values are all identical."""
    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import winsorize_group_stats

    rows = (
        [("a", i % 7) for i in range(97)]          # heavy ties
        + [("b", i) for i in range(40)]            # distinct run
        + [("c", 5)]                               # 1-row group
        + [("d", 1), ("d", 9)]                     # 2-row group
        + [("e", 3)] * 25                          # all identical
    )
    df = spark.createDataFrame(
        [(g, int(v)) for g, v in rows], "g string, v long"
    ).repartition(7)
    got = {
        r["g"]: (
            r["n_docs"], r["lo_cut"], r["hi_cut"],
            r["n_below"], r["n_above"], r["winsorized_mean"],
        )
        for r in winsorize_group_stats(df, "v", "g", 5, 95).collect()
    }
    rk = F.row_number().over(Window.partitionBy("g").orderBy(F.col("v").asc()))
    n = F.count(F.lit(1)).over(Window.partitionBy("g"))
    ranked = df.select("g", "v", rk.alias("rk"), n.alias("n"))
    lo_r = F.expr("((n - 1) * 5) div 100") + 1
    hi_r = F.expr("((n - 1) * 95) div 100") + 1
    cuts = ranked.groupBy("g").agg(
        F.max(F.when(F.col("rk") == lo_r, F.col("v"))).alias("lo"),
        F.max(F.when(F.col("rk") == hi_r, F.col("v"))).alias("hi"),
    )
    want = {}
    for r in (
        df.join(cuts, "g")
        .groupBy("g", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("v") < F.col("lo"), 1).otherwise(0)).alias("nb"),
            F.sum(F.when(F.col("v") > F.col("hi"), 1).otherwise(0)).alias("na"),
            F.round(
                F.sum(
                    F.greatest(F.col("lo"), F.least(F.col("v"), F.col("hi")))
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("wm"),
        )
        .collect()
    ):
        want[r["g"]] = (r["n_docs"], r["lo"], r["hi"], r["nb"], r["na"], r["wm"])
    assert got == want


def test_cumsum_randomized_differential(spark):
    """Seeded randomized differential: distributed_order_cumsum equals
    the plain-window rank + running sum across random frames (NULL keys,
    negative decimal values, heavy ties), both directions, bucket counts
    {1, 2, 7, 64} — including the degenerate n_buckets=1 (empty cuts
    array ⇒ every row in bucket 0) and cut counts far above the row
    count."""
    import random
    from decimal import Decimal

    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import distributed_order_cumsum

    random.seed(1234)
    for trial in range(3):
        n = random.randint(1, 100)
        rows = [
            (
                f"id{i:03d}",
                random.choice([None] * (trial % 2) + list(range(-20, 20))),
                Decimal(random.randint(-10000, 10000)) / 100,
            )
            for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "id string, k int, v decimal(10,2)"
        ).repartition(5)
        for desc in (False, True):
            for nb in (1, 7, 64):
                got = {
                    r["id"]: (r["_grank"], Decimal(r["_gcum"]))
                    for r in distributed_order_cumsum(
                        df, "k", ["id"], "v", descending=desc, n_buckets=nb
                    ).collect()
                }
                order = F.col("k").desc() if desc else F.col("k").asc()
                w = Window.orderBy(order, "id")
                want = {
                    r["id"]: (r["rn"], Decimal(r["cs"]))
                    for r in df.select(
                        "id",
                        F.row_number().over(w).alias("rn"),
                        F.sum("v")
                        .over(w.rowsBetween(Window.unboundedPreceding, 0))
                        .alias("cs"),
                    ).collect()
                }
                assert got == want, f"trial={trial} desc={desc} nb={nb}"


def test_helpers_keep_null_partition_keys(spark):
    """ADVICE r7 (medium): the offsets/targets joins inside the
    distributed rank/cumsum/select helpers were null-UNSAFE on the
    partition columns, so a NULL group key — which the plain window
    form keeps as its own partition — was silently dropped. All three
    helpers must now match the window forms on a frame with a NULL
    group.

    Sweep note (same review): group-key name-joins in the OPERATOR
    bodies (pps_systematic_sample's totals join, quantile_normalize's
    n_per join, source_quality_profile's modal join) were audited and
    deliberately left null-UNSAFE — their DuckDB oracles replay the
    same `JOIN ... USING (group)` shape, which also drops NULL groups,
    so both engines agree; only the helpers replaced WINDOW forms
    (whose oracles use PARTITION BY and keep NULL groups) and needed
    the null-safe alignment."""
    from decimal import Decimal

    from pyspark.sql import Window

    from data_eng_project_spark.operators.datasetops import (
        distributed_order_cumsum,
        distributed_order_rank,
        distributed_rank_select,
    )

    rows = [
        (f"id{i:03d}", None if i % 4 == 0 else f"g{i % 3}", i % 9, Decimal(i))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "id string, g string, k int, v decimal(10,0)"
    ).repartition(5)
    w = Window.partitionBy("g").orderBy("k", "id")

    got_rank = {
        r["id"]: r["_grank"]
        for r in distributed_order_rank(
            df, "k", ["id"], partition_cols=["g"], n_buckets=4
        ).collect()
    }
    want_rank = {
        r["id"]: r["rn"]
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got_rank == want_rank

    got_cum = {
        r["id"]: (r["_grank"], Decimal(r["_gcum"]))
        for r in distributed_order_cumsum(
            df, "k", ["id"], "v", partition_cols=["g"], n_buckets=4
        ).collect()
    }
    want_cum = {
        r["id"]: (r["rn"], Decimal(r["cs"]))
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
        ).collect()
    }
    assert got_cum == want_cum

    sizes = df.groupBy("g").agg(F.count(F.lit(1)).alias("_n"))
    targets = sizes.select("g", F.expr("(_n + 1) div 2").alias("_target"))
    got_sel = {
        r["g"]: r["_selected"]
        for r in distributed_rank_select(
            df, "k", ["g"], targets, n_buckets=4
        ).collect()
    }
    # Expected medians rebuilt driver-side (a window+join expectation
    # would need its own null-safe join — the thing under test).
    by_g = {}
    for r in df.select("g", "k").collect():
        by_g.setdefault(r["g"], []).append(r["k"])
    want_sel = {
        g: sorted(vs)[(len(vs) + 1) // 2 - 1] for g, vs in by_g.items()
    }
    assert got_sel == want_sel
    assert None in got_sel  # the NULL group actually made it through


def test_pack_sequences_keeps_null_shard_rows(spark):
    """The exact ADVICE r7 repro: 3 docs, one with a NULL source, must
    produce 3 packed rows — the NULL shard is its own packing stream,
    as under the previous Window.partitionBy form."""
    from data_eng_project_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [("d1", "a b c", "s1"), ("d2", "d e", None), ("d3", "f g h i", "s1")],
        "doc_id string, text string, source string",
    )
    out = {r["doc_id"]: r for r in pack_sequences(docs, chunk_tokens=4).collect()}
    assert set(out) == {"d1", "d2", "d3"}
    assert out["d2"]["shard"] is None
    assert out["d2"]["start_offset"] == 0 and out["d2"]["n_tokens"] == 2
    # The non-null shard stream is unaffected: d1 then d3 by id order.
    assert out["d1"]["start_offset"] == 0
    assert out["d3"]["start_offset"] == 3


def test_winsorize_rejects_float_value_col(spark):
    """ADVICE r7 (low): a double value column must raise (mirroring
    _bucket_base_offsets) instead of silently truncating cuts, tail
    counts, and the winsorized mean through bigint casts."""
    from data_eng_project_spark.operators.datasetops import winsorize_group_stats

    df = spark.createDataFrame(
        [("a", 0.5), ("a", 1.5), ("a", 2.5)], "g string, v double"
    )
    with pytest.raises(TypeError, match="DECIMAL"):
        winsorize_group_stats(df, "v", "g").collect()


def test_winsorize_decimal_values_exact(spark):
    """Decimal value columns keep their native type end-to-end: cuts
    are the exact decimal rank values (no bigint truncation) and the
    winsorized mean clamps at those decimal cuts."""
    from decimal import Decimal

    from data_eng_project_spark.operators.datasetops import winsorize_group_stats

    vals = [Decimal(f"{i}.25") for i in range(1, 21)]
    df = spark.createDataFrame(
        [("a", v) for v in vals], "g string, v decimal(10,2)"
    )
    row = winsorize_group_stats(df, "v", "g", 5, 95).collect()[0]
    # n=20: lo rank = (19*5) div 100 + 1 = 1 -> 1.25;
    #       hi rank = (19*95) div 100 + 1 = 19 -> 19.25
    assert Decimal(row["lo_cut"]) == Decimal("1.25")
    assert Decimal(row["hi_cut"]) == Decimal("19.25")
    assert row["n_below"] == 0 and row["n_above"] == 1
    clamped = [min(max(v, Decimal("1.25")), Decimal("19.25")) for v in vals]
    assert row["winsorized_mean"] == round(float(sum(clamped)) / 20, 6)


def test_rank_select_randomized_differential(spark):
    """Seeded randomized differential for distributed_rank_select: the
    bucket-pruned selection equals driver-side sorted-rank selection
    across random frames — NULL group keys, heavy ties, random targets
    including out-of-range (select nothing) and the group edges, bucket
    counts {1, 5, 64}."""
    import random

    from data_eng_project_spark.operators.datasetops import distributed_rank_select

    random.seed(4321)
    for trial in range(3):
        n = random.randint(1, 120)
        rows = [
            (
                random.choice([None, "g0", "g1", "g2"]),
                random.choice(list(range(8))),
            )
            for _ in range(n)
        ]
        df = spark.createDataFrame(rows, "g string, v int").repartition(5)
        by_g: dict = {}
        for g, v in rows:
            by_g.setdefault(g, []).append(v)
        targets = [
            (g, random.choice([0, 1, len(vs), len(vs) + 3, (len(vs) + 1) // 2]))
            for g, vs in by_g.items()
        ]
        tdf = spark.createDataFrame(targets, "g string, _target long")
        for nb in (1, 5, 64):
            got = {
                r["g"]: r["_selected"]
                for r in distributed_rank_select(
                    df, "v", ["g"], tdf, n_buckets=nb
                ).collect()
            }
            want = {
                g: sorted(vs)[t - 1]
                for (g, t), vs in zip(targets, (by_g[g] for g, _ in targets))
                if 1 <= t <= len(vs)
            }
            assert got == want, f"trial={trial} nb={nb}"


def test_compression_roundtrip_report_counts_and_contracts(spark):
    """Report totals must equal the python twin's (UTF-8 bytes, doc
    count) and the contract booleans must hold on compressible text —
    including a NULL text row (counted as an empty doc, 0 bytes)."""
    from data_eng_project_spark.operators.textops import (
        compression_roundtrip_report,
    )

    rows = [
        (1, "spam " * 200),
        (2, "the quick brown fox jumps over the lazy dog " * 3),
        (3, "naïve café résumé — unicode crosses the byte boundary " * 4),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = compression_roundtrip_report(docs).collect()[0]
    want_raw = sum(len((t or "").encode("utf-8")) for _, t in rows)
    assert r["n_docs"] == 4
    assert r["total_raw_bytes"] == want_raw
    assert bool(r["all_roundtrip"]) and bool(r["corpus_compresses"])


def test_compression_roundtrip_report_empty_corpus_vacuous(spark):
    from data_eng_project_spark.operators.textops import (
        compression_roundtrip_report,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    r = compression_roundtrip_report(docs).collect()[0]
    assert r["n_docs"] == 0 and r["total_raw_bytes"] == 0
    assert bool(r["all_roundtrip"]) and bool(r["corpus_compresses"])
