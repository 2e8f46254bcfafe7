"""Unit tests for the round-5 additions — properties the oracle parity
check can't see: BFS distances against a hand-built graph, Holt
recurrence against a hand-walked series, collocation lift against
hand-counted probabilities, sorted-neighborhood rank correctness across
bucket boundaries (the hierarchical global rank must equal a true
global row_number, including pairs that straddle prefix buckets).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from data_eng_project_spark.operators.clusters import bfs_hops, connected_components
from data_eng_project_spark.operators.curation import collocation_lift
from data_eng_project_spark.operators.datasetops import sorted_neighborhood_pairs
from data_eng_project_spark.operators.temporal import holt_linear_per_key


def test_bfs_hops_path_graph(spark):
    # Path 1-2-3-4-5 plus isolated edge 10-11: distances from roots 1, 10.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    roots = spark.createDataFrame([(1,), (10,)], ["root"])
    got = {
        (r["root"], r["node"]): r["hops"]
        for r in bfs_hops(edges, roots, connected_components(edges)).collect()
    }
    assert got == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2, (1, 4): 3, (1, 5): 4,
        (10, 10): 0, (10, 11): 1,
    }
    # Two roots in one component, and a root in no edge (hop 0 only).
    roots = spark.createDataFrame([(1,), (4,), (42,)], ["root"])
    got = {
        (r["root"], r["node"]): r["hops"]
        for r in bfs_hops(edges, roots, connected_components(edges)).collect()
    }
    assert got == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2, (1, 4): 3, (1, 5): 4,
        (4, 4): 0, (4, 3): 1, (4, 5): 1, (4, 2): 2, (4, 1): 3,
        (42, 42): 0,
    }


def test_bfs_hops_takes_shortest_path_not_first_found(spark):
    # Triangle with a long detour: 1-2, 2-3, plus direct 1-3 → hops(3)=1.
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["id_a", "id_b"])
    roots = spark.createDataFrame([(1,)], ["root"])
    hops = bfs_hops(edges, roots, connected_components(edges))
    got = {r["node"]: r["hops"] for r in hops.collect()}
    assert got == {1: 0, 2: 1, 3: 1}


def test_bfs_hops_respects_max_hops_cap(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"])
    roots = spark.createDataFrame([(1,)], ["root"])
    hops = bfs_hops(edges, roots, connected_components(edges), max_hops=2)
    got = {r["node"]: r["hops"] for r in hops.collect()}
    assert got == {1: 0, 2: 1, 3: 2}  # node 4 is beyond the cap → absent


def test_holt_linear_matches_hand_walked_recurrence(spark):
    xs = [10.0, 12.0, 15.0, 11.0, 18.0]
    a, b = 0.5, 0.3
    lev, tr = [xs[0]], [0.0]
    for x in xs[1:]:
        l_new = a * x + (1 - a) * (lev[-1] + tr[-1])
        tr.append(b * (l_new - lev[-1]) + (1 - b) * tr[-1])
        lev.append(l_new)
    df = spark.createDataFrame(
        [("k", i, x) for i, x in enumerate(xs)], ["k", "seq", "x"]
    )
    out = {
        r["seq"]: (r["level"], r["trend"], r["forecast_next"])
        for r in holt_linear_per_key(
            df, key_col="k", order_col="seq", value_col="x", alpha=a, beta=b
        ).collect()
    }
    for i in range(len(xs)):
        assert math.isclose(out[i][0], round(lev[i], 6), abs_tol=1e-9)
        assert math.isclose(out[i][1], round(tr[i], 6), abs_tol=1e-9)
        assert math.isclose(out[i][2], round(lev[i] + tr[i], 6), abs_tol=1e-9)


def test_holt_linear_tracks_linear_series_exactly_in_the_limit(spark):
    # On x_t = t the trend estimate converges toward slope 1 and the
    # one-step forecast converges to the next value.
    df = spark.createDataFrame(
        [("k", t, float(t)) for t in range(200)], ["k", "seq", "x"]
    )
    last = (
        holt_linear_per_key(df, key_col="k", order_col="seq", value_col="x")
        .orderBy(F.col("seq").desc())
        .limit(1)
        .collect()[0]
    )
    assert abs(last["trend"] - 1.0) < 0.05
    assert abs(last["forecast_next"] - 200.0) < 0.5


def test_collocation_lift_hand_counted(spark):
    # Corpus: "a b" ×4 and "a c" ×1 and "c c" ×1 → 6 bigrams, 12 unigrams.
    rows = [("a b",)] * 4 + [("a c",), ("c c",)]
    docs = spark.createDataFrame(rows, ["text"])
    out = {
        (r["w1"], r["w2"]): (r["n_pair"], r["lift"])
        for r in collocation_lift(docs, min_count=1, k=10).collect()
    }
    n_uni, n_big = 12.0, 6.0
    c = {"a": 5, "b": 4, "c": 3}
    exp_ab = round((4 / n_big) / ((c["a"] / n_uni) * (c["b"] / n_uni)), 6)
    assert out[("a", "b")] == (4, exp_ab)
    assert set(out) == {("a", "b"), ("a", "c"), ("c", "c")}
    # Lift > 1 for the dominant pair, and the support floor filters.
    assert out[("a", "b")][1] > 1.0
    assert (
        collocation_lift(docs, min_count=2, k=10).count() == 1
    )  # only (a,b) has support ≥ 2


def test_sorted_neighborhood_equals_global_rank_semantics(spark):
    # Names chosen so candidate pairs straddle 2-char prefix buckets
    # ("apple" vs "aqple": buckets 'ap' / 'aq') — the hierarchical rank
    # must still see them as adjacent.
    names = ["apple", "aqple", "banana", "bananb", "cherry", "cherrz"]
    df = spark.createDataFrame([(n,) for n in names], ["p_name"])
    got = {
        (r["name_a"], r["name_b"]): (r["rank_gap"], r["distance"])
        for r in sorted_neighborhood_pairs(
            df, "p_name", window=2, max_distance=1
        ).collect()
    }
    # Global sorted order = the list above; gap-1 neighbors at distance 1.
    assert got[("apple", "aqple")] == (1, 1)
    assert got[("banana", "bananb")] == (1, 1)
    assert got[("cherry", "cherrz")] == (1, 1)
    assert ("aqple", "banana") not in got  # distance > 1


def test_sorted_neighborhood_window_bounds(spark):
    # With window=5 every pair of the 4 identical-prefix names is a
    # candidate; max_distance=9 keeps them all → C(4,2) pairs.
    names = ["aa1", "aa2", "aa3", "aa4"]
    df = spark.createDataFrame([(n,) for n in names], ["p_name"])
    out = sorted_neighborhood_pairs(df, "p_name", window=5, max_distance=9)
    assert out.count() == 6
    gaps = {r["rank_gap"] for r in out.collect()}
    assert gaps == {1, 2, 3}


def test_common_neighbor_stats_hand_graph(spark):
    from data_eng_project_spark.operators.clusters import common_neighbor_stats

    # Square 1-2-3-4-1 plus diagonal 1-3: edge (1,3) has common {2,4};
    # edge (1,2) has common {3}; edge (2,3) has common {1}.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], ["id_a", "id_b"]
    )
    got = {
        (r["id_a"], r["id_b"]): (r["common_neighbors"], r["neighbor_jaccard"])
        for r in common_neighbor_stats(edges).collect()
    }
    # deg: 1→3, 2→2, 3→3, 4→2.
    assert got[(1, 3)] == (2, round(2 / (3 + 3 - 2), 6))
    assert got[(1, 2)] == (1, round(1 / (3 + 2 - 1), 6))
    assert got[(2, 3)] == (1, round(1 / (2 + 3 - 1), 6))
    # Edge (3,4): N(3)={1,2,4}, N(4)={1,3} → common {1}.
    assert got[(3, 4)] == (1, round(1 / (3 + 2 - 1), 6))
    assert len(got) == 5

    # (1,2) listed both ways: each direction is an edge, and each end
    # lists the other twice, so N(1) = {2, 2, 3} and N(2) = {1, 1, 3}.
    edges = spark.createDataFrame([(1, 2), (2, 1), (2, 3), (1, 3)], ["id_a", "id_b"])
    got = {
        (r["id_a"], r["id_b"]): (r["common_neighbors"], r["neighbor_jaccard"])
        for r in common_neighbor_stats(edges).collect()
    }
    assert got == {
        (1, 2): (1, round(1 / (3 + 3 - 1), 6)),
        (2, 1): (1, round(1 / (3 + 3 - 1), 6)),
        (2, 3): (2, round(2 / (3 + 2 - 2), 6)),
        (1, 3): (2, round(2 / (3 + 2 - 2), 6)),
    }


def test_common_neighbor_stats_zero_common_edge_kept(spark):
    from data_eng_project_spark.operators.clusters import common_neighbor_stats

    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    [r] = common_neighbor_stats(edges).collect()
    assert (r["common_neighbors"], r["neighbor_jaccard"]) == (0, 0.0)


def test_global_sorted_rank_equals_global_row_number(spark):
    import random

    from data_eng_project_spark.operators.datasetops import global_sorted_rank

    rng = random.Random(7)
    vals = list(
        {
            "".join(rng.choice("abcdef") for _ in range(rng.randint(1, 6)))
            for _ in range(300)
        }
    )
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = {
        r["v"]: r["rnk"] for r in global_sorted_rank(df, "v").collect()
    }
    expected = {v: i + 1 for i, v in enumerate(sorted(vals))}
    assert got == expected


def test_er_entity_groups_unions_both_blocking_passes(spark):
    from data_eng_project_spark.operators.datasetops import er_entity_groups

    # "zed rock" vs "zed sock": shares token "zed" (token blocking) but
    # distance 1; "aaaa" vs "aaab": no shared token, sort-adjacent
    # (neighborhood blocking). "unrelated" matches nothing.
    names = ["zed rock", "zed sock", "aaaa", "aaab", "unrelated"]
    df = spark.createDataFrame([(n,) for n in names], ["p_name"])
    got = {
        r["name"]: (r["entity"], r["is_canonical"])
        for r in er_entity_groups(df, "p_name", max_distance=1).collect()
    }
    assert got["zed rock"] == ("zed rock", True)
    assert got["zed sock"] == ("zed rock", False)
    assert got["aaaa"] == ("aaaa", True)
    assert got["aaab"] == ("aaaa", False)
    assert got["unrelated"] == ("unrelated", True)  # singleton

def test_er_entity_groups_transitive_chain_collapses(spark):
    from data_eng_project_spark.operators.datasetops import er_entity_groups

    # aab—aac—aad chain (each step distance 1): one entity, canonical aab.
    names = ["aab", "aac", "aad"]
    df = spark.createDataFrame([(n,) for n in names], ["p_name"])
    got = {r["name"]: r["entity"] for r in er_entity_groups(df, "p_name", max_distance=1).collect()}
    assert got == {"aab": "aab", "aac": "aab", "aad": "aab"}


def test_priority_sample_is_without_replacement_top_k(spark):
    from data_eng_project_spark.functions.hashing import md5_full_bucket_int
    from data_eng_project_spark.operators.datasetops import priority_sample

    df = spark.range(100).select(
        F.lit("s").alias("src"), F.col("id"), (F.col("id") % 7 + 1).alias("w")
    )
    out = priority_sample(df, "w", "src", "id", k_per_stratum=10).collect()
    assert len(out) == 10
    assert len({r["id"] for r in out}) == 10  # without replacement
    # Winners are exactly the brute-force top-10 by w*2^32/(h+1).
    hs = {
        r["id"]: r["h"]
        for r in spark.range(100)
        .select("id", md5_full_bucket_int("id").alias("h"))
        .collect()
    }
    pri = {i: float((i % 7 + 1)) * 4294967296.0 / (hs[i] + 1.0) for i in range(100)}
    expected = set(sorted(pri, key=lambda i: (-pri[i], i))[:10])
    assert {r["id"] for r in out} == expected


def test_priority_sample_heavier_weight_wins_more(spark):
    from data_eng_project_spark.operators.datasetops import priority_sample

    # 500 rows, weight 1 vs weight 100 on even ids: the heavy half must
    # dominate the sample (probabilistic in design, deterministic here
    # because the hash is fixed).
    df = spark.range(500).select(
        F.lit("s").alias("src"),
        F.col("id"),
        F.when(F.col("id") % 2 == 0, 100).otherwise(1).alias("w"),
    )
    out = priority_sample(df, "w", "src", "id", k_per_stratum=50).collect()
    heavy = sum(1 for r in out if r["id"] % 2 == 0)
    assert heavy >= 45  # ~1% odds per slot for a weight-1 row


def test_exact_quota_split_hits_quota_exactly(spark):
    from data_eng_project_spark.operators.datasetops import exact_quota_split

    # Strata of size 40 and 7: eval counts must be exactly 4 and 0
    # (floor(0.1·n)), regardless of hash luck.
    rows = [("a", i) for i in range(40)] + [("b", 1000 + i) for i in range(7)]
    df = spark.createDataFrame(rows, ["src", "id"])
    out = exact_quota_split(df, "src", "id", eval_per_mille=100).collect()
    by = {}
    for r in out:
        by.setdefault(r["stratum"], []).append(r)
    assert sum(1 for r in by["a"] if r["split"] == "eval") == 4
    assert sum(1 for r in by["b"] if r["split"] == "eval") == 0
    # Ranks are a permutation of 1..n within each stratum.
    assert sorted(r["stratum_rank"] for r in by["a"]) == list(range(1, 41))


def test_exact_quota_split_eval_set_is_hash_stable(spark):
    from data_eng_project_spark.operators.datasetops import exact_quota_split

    # Adding rows to a stratum may grow the eval set but must keep the
    # RANK ORDER of surviving ids stable (hash order is per-id, fixed).
    rows1 = [("a", i) for i in range(20)]
    rows2 = [("a", i) for i in range(30)]
    r1 = {
        r["id"]: r["stratum_rank"]
        for r in exact_quota_split(
            spark.createDataFrame(rows1, ["src", "id"]), "src", "id"
        ).collect()
    }
    r2 = {
        r["id"]: r["stratum_rank"]
        for r in exact_quota_split(
            spark.createDataFrame(rows2, ["src", "id"]), "src", "id"
        ).collect()
    }
    common = sorted(r1, key=r1.get)
    assert common == sorted(common, key=r2.get)  # same relative order


# ---------------------------------------------------------------- kmeans


def test_kmeans_assigns_every_vector_once(spark):
    from data_eng_project_spark.operators.clusters import kmeans_lloyd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    out = kmeans_lloyd(emb, k=8, iters=2).collect()
    assert len(out) == n
    assert len({r["id"] for r in out}) == n
    assert all(1 <= r["cluster"] <= 8 for r in out)
    assert all(r["dist2"] >= 0.0 for r in out)


def test_kmeans_inertia_non_increasing(spark):
    """Lloyd's invariant: total within-cluster squared distance cannot
    rise across iterations (each assign step picks the argmin against
    the centroids the previous update produced). The 9-dp centroid
    rounding both engines share can perturb by at most ~dim·1e-9·scale,
    hence the epsilon."""
    from data_eng_project_spark.operators.clusters import kmeans_lloyd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    inertias = []
    for iters in (1, 2, 3):
        rows = kmeans_lloyd(emb, k=8, iters=iters).collect()
        inertias.append(sum(r["dist2"] for r in rows))
    assert inertias[1] <= inertias[0] + 1e-4
    assert inertias[2] <= inertias[1] + 1e-4


def test_kmeans_is_deterministic_across_partitionings(spark):
    from data_eng_project_spark.operators.clusters import kmeans_lloyd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {r["id"]: (r["cluster"], r["dist2"]) for r in kmeans_lloyd(emb, k=8, iters=3).collect()}
    b = {
        r["id"]: (r["cluster"], r["dist2"])
        for r in kmeans_lloyd(emb.repartition(13), k=8, iters=3).collect()
    }
    assert a == b


# ------------------------------------------------- continuation queries


def test_interpolation_recovers_linear_series_exactly(spark):
    """On a perfectly linear series, time-weighted interpolation must
    reconstruct every dropped point exactly (up to the 6-dp rounding):
    the interp formula is exact for affine functions of time."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, base + dt.timedelta(minutes=7 * i), 3.5 * i + 10.0)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    g = df.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.unix_micros("ts").alias("t_us"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("gappy"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    t_nonnull = F.when(F.col("gappy").isNotNull(), F.col("t_us"))
    w = g.select(
        "event_id",
        F.col("value").alias("truth"),
        F.last("gappy", ignorenulls=True).over(wp).alias("pv"),
        F.last(t_nonnull, ignorenulls=True).over(wp).alias("pt"),
        F.first("gappy", ignorenulls=True).over(wn).alias("nv"),
        F.first(t_nonnull, ignorenulls=True).over(wn).alias("nt"),
        "gappy",
        "t_us",
    )
    interp = (
        F.when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .when(F.col("nt") == F.col("pt"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("t_us") - F.col("pt")).cast("double")
                / (F.col("nt") - F.col("pt")).cast("double")
            )
        )
    )
    out = w.select(
        "event_id",
        "truth",
        F.round(F.coalesce("gappy", interp), 6).alias("filled"),
    ).collect()
    # Interior dropped points sit between two observations -> exact
    # (row 0 is a leading gap: NOCB gives the next value, not the truth).
    for r in out:
        if r["event_id"] == 0:
            continue
        assert abs(r["filled"] - r["truth"]) < 1e-6, r


def test_vocab_growth_cumulants_match_direct_counts(spark):
    from data_eng_project_spark.plans import REGISTRY

    rows = REGISTRY["vocab_growth_curve"].fn(spark, "/root/testdata/sf0.001").collect()
    rows.sort(key=lambda r: r["batch"])
    # Cumulants re-derive from the per-batch columns...
    tok, voc = 0, 0
    for r in rows:
        tok += r["n_tokens"]
        voc += r["new_words"]
        assert r["cum_tokens"] == tok
        assert r["cum_vocab"] == voc
    # ...and the final vocabulary equals a direct corpus-wide distinct.
    from pyspark.sql import functions as F

    from data_eng_project_spark.functions.text import letter_tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    direct = (
        docs.select(F.explode(letter_tokens("text")).alias("w"))
        .agg(F.countDistinct("w"))
        .collect()[0][0]
    )
    assert rows[-1]["cum_vocab"] == direct


def test_band_planning_capture_monotone_in_bands(spark):
    """For a fixed signature budget b*r = 64, more bands (shorter rows)
    can only raise the capture probability of any pair: 1-(1-s^r)^b is
    increasing in b and decreasing in r on 0<s<1. Check per bucket."""
    from data_eng_project_spark.plans import REGISTRY

    rows = REGISTRY["minhash_band_planning"].fn(spark, "/root/testdata/sf0.001").collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["sim_bucket"], {})[r["bands"]] = r["capture_rate"]
    for bucket, rates in by_bucket.items():
        assert rates[32] >= rates[16] >= rates[8], (bucket, rates)
        for v in rates.values():
            assert 0.0 <= v <= 1.0


def test_kmeans_fold_matches_groupby_decimal_sums(spark):
    """The assignment fold (DECIMAL(30,12) accumulator, merge result
    cast back) must equal the exploded groupBy SUM(DECIMAL(38,12)) for
    every (vector, centroid) pair — the exactness bridge between the
    operator's zero-shuffle form and the oracle's exploded SQL. Spark's
    p+1 decimal promotion clips a (38,12) accumulator to scale 11,
    which is why the headroom type exists (operators/clusters.
    kmeans_lloyd docstring)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    x = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("c"),
    ).limit(8)
    j = x.crossJoin(F.broadcast(c))
    acc_t, term_t, out_t = "decimal(30,12)", "decimal(37,12)", "decimal(38,12)"
    fold = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast(acc_t),
        lambda acc, t: (acc + t.cast(term_t)).cast(acc_t),
    ).cast(out_t)
    fr = {
        (r["vec_id"], r["cid"]): r["d"]
        for r in j.select("vec_id", "cid", fold.alias("d")).collect()
    }
    e = j.select(
        "vec_id",
        "cid",
        F.explode(F.zip_with("v", "c", lambda a, b: (a - b) * (a - b))).alias("t"),
    )
    gb = e.groupBy("vec_id", "cid").agg(F.sum(F.col("t").cast(out_t)).alias("d"))
    for r in gb.collect():
        assert fr[(r["vec_id"], r["cid"])] == r["d"]


def test_kmeans_survives_large_magnitude_embeddings(spark):
    """Regression (r5 ADVICE): a squared per-dimension difference of
    ~1e10 overflowed the old DECIMAL(20,12) term cast to NULL in
    non-ANSI mode, and the NULL _d2 struct sorted FIRST in array_min —
    silently mis-assigning the row. With DECIMAL(37,12) terms the
    vector must land with its obvious nearest seed and a non-NULL
    dist2."""
    from data_eng_project_spark.operators.clusters import kmeans_lloyd

    # Two tight groups separated by ~2e5 per dimension: any cross-group
    # distance term is ~4e10 >= 1e8, the old overflow bound.
    rows = [(f"v{i}", [float(i), float(i)]) for i in range(4)]
    rows += [(f"w{i}", [2.0e5 + i, 2.0e5 + i]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    # 4 iterations: both md5-rank seeds may draw from one group, and
    # Lloyd then needs assign→update→assign to settle on group means.
    out = {r["id"]: r for r in kmeans_lloyd(emb, k=2, iters=4).collect()}
    assert all(r["dist2"] is not None for r in out.values())
    low = {out[f"v{i}"]["cluster"] for i in range(4)}
    high = {out[f"w{i}"]["cluster"] for i in range(4)}
    assert len(low) == 1 and len(high) == 1 and low != high
    # Within-group dist2 stays group-sized; a mis-assignment across the
    # 2e5 gap would show up as ~8e10.
    assert all(r["dist2"] < 1.0e3 for r in out.values())


def test_band_planning_pow_rejects_non_power_of_two():
    """Regression (r5 ADVICE): repeated squaring computes x^n only for
    power-of-two n — a (bands=21, rows=3) config must raise, not
    silently evaluate x^2 on both engines."""
    import pytest as _pytest

    from data_eng_project_spark.plans.textdata import _pow_sql

    assert _pow_sql("x", 4) == "((((x) * (x))) * (((x) * (x))))"
    for bad in (0, 3, 6, 12):
        with _pytest.raises(ValueError):
            _pow_sql("x", bad)
