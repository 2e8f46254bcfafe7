"""Operator-level unit tests: scalar functions (incl. property tests),
joins, spatial correctness at cell boundaries, sketch-dedup accuracy,
similarity recall, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_eng_project_spark.functions.dates import parse_date_multi
from data_eng_project_spark.functions.geo import derive_lat, derive_lon, haversine_km
from data_eng_project_spark.functions.hashing import canonical_row_id
from data_eng_project_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from data_eng_project_spark.operators.joins import broadcast_lookup_join
from data_eng_project_spark.operators.multimodal import attach_fake_media, extract_media_meta
from data_eng_project_spark.operators.similarity import (
    all_pairs_above,
    brute_force_topk,
    lsh_bucketed_pairs,
)
from data_eng_project_spark.operators.spatial import near_join


# ---------------------------------------------------------------- scalars

def test_date_parse_formats_and_junk(spark):
    df = spark.createDataFrame(
        [("20220804",), ("2022-08-04",), ("garbage",), ("2022130a",), (None,), ("99999999",)],
        "s string",
    )
    out = [r.d for r in df.select(parse_date_multi("s").alias("d")).collect()]
    assert str(out[0]) == "2022-08-04" and str(out[1]) == "2022-08-04"
    assert out[2] is None and out[3] is None and out[4] is None
    # 99999999 matches the digit pattern but is no real date → NULL, no error
    assert out[5] is None


@settings(max_examples=30, deadline=None)
@given(st.text(max_size=12))
def test_date_parse_never_throws(spark, s):
    """Property (reference F1): parsing is a total function — arbitrary
    input yields a date or NULL, never an error."""
    df = spark.createDataFrame([(s,)], "s string")
    df.select(parse_date_multi("s")).collect()  # must not raise


def test_canonical_row_id_separator_safety(spark):
    df = spark.createDataFrame([("ab", "c"), ("a", "bc")], "x string, y string")
    ids = [r.i for r in df.select(canonical_row_id("x", "y").alias("i")).collect()]
    assert ids[0] != ids[1]


def test_haversine_known_distance(spark):
    # Paris (48.8566, 2.3522) ↔ Lyon (45.764, 4.8357) ≈ 391-393 km
    df = spark.createDataFrame([(48.8566, 2.3522, 45.764, 4.8357)], "a double, b double, c double, d double")
    km = df.select(haversine_km("a", "b", "c", "d").alias("km")).head().km
    assert 385 < km < 400


# ------------------------------------------------------------------ joins

def test_broadcast_join_is_broadcast(spark):
    facts = spark.range(1000).withColumnRenamed("id", "k")
    dim = spark.range(10).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 2)
    out = broadcast_lookup_join(facts, dim, on="k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert out.count() == 10  # inner ⇒ drop-on-miss


# ---------------------------------------------------------------- spatial

def test_near_join_equals_brute_force(spark):
    """Grid-join correctness incl. cell boundaries: compare against the
    naive cross-join + haversine filter on a derived point cloud."""
    points = spark.range(300).select(
        F.col("id").alias("pid"),
        derive_lat("id").alias("lat"),
        derive_lon("id").alias("lon"),
    )
    sites = spark.range(40).select(
        (F.col("id") * 7 + 3).alias("sid"),
    ).select(
        "sid",
        derive_lat("sid").alias("site_lat"),
        derive_lon("sid").alias("site_lon"),
    )
    radius = 400.0
    fast = {
        (r.pid, r.sid)
        for r in near_join(points, sites, radius_km=radius).collect()
    }
    brute = {
        (r.pid, r.sid)
        for r in points.crossJoin(sites)
        .withColumn("d", haversine_km("lat", "lon", "site_lat", "site_lon"))
        .filter(F.col("d") <= radius)
        .collect()
    }
    assert fast == brute and len(brute) > 0


def test_near_join_wraps_antimeridian(spark):
    """Regression: a within-radius pair straddling ±180° — unwrapped
    floor() cells put the two sides ~67 cells apart and dropped the
    pair; the ring-wrapped cells must keep it."""
    points = spark.createDataFrame([(1, 0.0, 179.9)], "pid long, lat double, lon double")
    sites = spark.createDataFrame(
        [(10, 0.0, -179.9)], "sid long, site_lat double, site_lon double"
    )
    out = near_join(points, sites, radius_km=50.0).collect()
    assert [(r.pid, r.sid) for r in out] == [(1, 10)]
    assert out[0].dist_km < 30.0  # ~22 km wrapped, not ~39,978 km unwrapped


# ------------------------------------------------------------------ dedup

@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills tonight"
    words = base.split()
    docs = [
        (0, base),
        (1, base),  # exact dup
        (2, " ".join(words[:-2] + ["this", "evening"])),  # near dup of 0
        (3, "completely different content about spark query engines and shuffles at scale"),
        (4, "another unrelated short document mentioning nothing in common whatsoever here"),
    ]
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_ngram_jaccard_finds_near_dups(near_dup_docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(near_dup_docs, "text", "doc_id", threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.3
    assert not any({a, b} & {3, 4} for (a, b) in pairs)


def test_minhash_lsh_matches_exact_on_strong_pairs(near_dup_docs):
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(near_dup_docs, "text", "doc_id", threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(near_dup_docs, "text", "doc_id", threshold=0.5).collect()
    }
    # LSH output is verified with exact Jaccard → subset; strong pairs
    # (J=1.0) are found with near-certainty at 16 bands.
    assert lsh <= exact
    assert (0, 1) in lsh


def test_simhash_finds_exact_dups(near_dup_docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(near_dup_docs, "text", "doc_id").collect()}
    assert pairs.get((0, 1)) == 0  # identical text → identical fingerprint


def test_ngram_jaccard_equals_naive_on_random_corpus(spark):
    """Exact-equality regression for the PPJoin prunings (including the
    round-5 asymmetric indexing prefix): on a random high-overlap corpus
    the pruned inverted-index join must return EXACTLY the naive
    all-pairs result — same pairs, same Jaccard values. Seeded; includes
    containment-shaped pairs (doc prefixes of other docs), size ties,
    and exact duplicates."""
    import random

    rnd = random.Random(99)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(60):
        length = rnd.randint(3, 14)
        docs.append((i, " ".join(rnd.choice(vocab) for _ in range(length))))
    docs += [(100 + i, docs[i][1]) for i in range(5)]  # exact dups
    docs += [  # containment: prefixes of existing docs
        (200 + i, " ".join(docs[i][1].split()[: max(2, len(docs[i][1].split()) // 2)]))
        for i in range(5)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    for t in (0.3, 0.5, 0.8):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(df, "text", "doc_id", n=1, threshold=t).collect()
        }
        sets = {i: set(txt.split()) for i, txt in docs}
        ids = sorted(sets)
        naive = {}
        for ai, a in enumerate(ids):
            for b in ids[ai + 1:]:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                j = round(inter / union, 6) if union else 0.0
                if j >= t:
                    naive[(a, b)] = j
        assert got == naive, (
            t,
            sorted(set(naive) - set(got))[:5],
            sorted(set(got) - set(naive))[:5],
        )


def test_ngram_jaccard_finds_contained_doc(spark):
    """Regression: a short doc wholly contained in a longer one at
    exactly threshold Jaccard. The unsound suffix-size count bound
    (c + min of suffix sizes) pruned this pair — the shared shingles
    all sit in the long doc's rarest-first SUFFIX (shared ⇒ freq 2,
    unique ⇒ freq 1 ⇒ ranked first) while the short doc holds them in
    its prefix; the sound positional bound keeps it."""
    from data_eng_project_spark.operators.dedup import (
        ngram_jaccard_pairs_bipartite,
    )

    long_doc = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    short_doc = "alpha beta gamma delta"  # ⊂ long, |A∩B|=4, J = 4/8 = 0.5
    docs = spark.createDataFrame(
        [(0, long_doc), (1, short_doc)], "doc_id long, text string"
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", n=1, threshold=0.5).collect()
    }
    assert pairs == {(0, 1): 0.5}
    # bipartite twin: corpus holds the long doc, the batch the short one
    bi = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_bipartite(
            docs.filter("doc_id = 0"), docs.filter("doc_id = 1"),
            "text", "doc_id", n=1, threshold=0.5,
        ).collect()
    }
    assert bi == {(0, 1): 0.5}


def test_language_id_ties_break_alphabetically(spark):
    """All-zero marker scores (no stopwords of any language) must land
    on the alphabetically first language, identically in Spark and the
    oracle's ascending CASE scan — not on the struct-max 'zh'."""
    from data_eng_project_spark.operators.textops import language_id

    docs = spark.createDataFrame(
        [(0, "zzz qqq xxx"), (1, "le el the und shi")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in language_id(docs).collect()}
    assert rows[0].lang_score == 0.0 and rows[0].lang_pred == "de"
    # one marker hit for de/en/es/fr/zh each → still a tie → 'de'
    assert rows[1].lang_score == 1.0 and rows[1].lang_pred == "de"


def test_quality_score_counts_adjacent_repeated_stopwords(spark):
    """'the the the' is three stopword hits, not two — the space-doubled
    haystack makes non-overlapping replace count immediate repeats."""
    from data_eng_project_spark.operators.textops import quality_score

    docs = spark.createDataFrame(
        [(0, "the the the cat")], "doc_id long, text string"
    )
    row = quality_score(docs).collect()[0]
    assert row.n_words == 4
    assert row.stopword_ratio == 0.75


def test_lsh_band_rows_drop_shingleless_docs(spark):
    """Docs shorter than the shingle width have no MinHash — they must
    not emit band rows (all of them would share one null-derived bucket
    per band, making the band self-join quadratic in their count)."""
    from data_eng_project_spark.operators.dedup import (
        _shingle_sets_direct,
        lsh_band_rows,
    )

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "x"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    sets = _shingle_sets_direct(docs, "text", "doc_id", 3, with_minhash_keys=True)
    ids = {r.id for r in lsh_band_rows(sets).select("id").distinct().collect()}
    assert ids == {2}


# ------------------------------------------------------------- similarity

@pytest.fixture(scope="module")
def vectors(spark):
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(60):
        rows.append((i, [rnd.uniform(-1, 1) for _ in range(16)]))
    # plant two near-duplicates of vector 0
    base = rows[0][1]
    rows.append((100, [x + 0.01 for x in base]))
    rows.append((101, [x * 1.02 for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_finds_planted(vectors):
    q = vectors.filter(F.col("vec_id") == 0).head().embedding
    topk = brute_force_topk(vectors, F.array(*[F.lit(float(x)) for x in q]), k=3)
    ids = [r.vec_id for r in topk.collect()]
    assert set(ids) == {0, 100, 101}


def test_lsh_pairs_recall_on_planted(vectors):
    exact = {
        (r.id_a, r.id_b)
        for r in all_pairs_above(vectors, threshold=0.98).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in lsh_bucketed_pairs(vectors, threshold=0.98, dim=16).collect()
    }
    # near-identical vectors share all hyperplane signs → full recall there
    assert (0, 100) in approx and (0, 101) in approx
    assert approx <= exact


def test_blocked_all_pairs_equals_exact(vectors):
    """The GEMM-blocked all-pairs must produce the same pair set as the
    zip_with exact form, with cosines agreeing to float-ulp level."""
    from data_eng_project_spark.operators.similarity import all_pairs_above_blocked

    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in all_pairs_above(vectors, threshold=0.9).collect()
    }
    blocked = {
        (r.id_a, r.id_b): r.cosine
        for r in all_pairs_above_blocked(vectors, threshold=0.9, n_blocks=4).collect()
    }
    assert set(blocked) == set(exact) and len(exact) > 0
    for k, v in blocked.items():
        assert abs(v - exact[k]) < 1e-9


def test_ivf_topk_recall_vs_brute_force(vectors):
    from data_eng_project_spark.operators.similarity import ivf_topk

    q = [float(x) for x in vectors.filter(F.col("vec_id") == 0).head().embedding]
    exact = [
        r.vec_id
        for r in brute_force_topk(
            vectors, F.array(*[F.lit(x) for x in q]), k=3
        ).collect()
    ]
    # Planted near-dups land in the query's own cluster — full-recall case.
    approx = [r.vec_id for r in ivf_topk(vectors, q, k=3, n_clusters=4, n_probe=2).collect()]
    assert set(approx) == set(exact) == {0, 100, 101}
    # Full probe degenerates to exact brute force, any data.
    assert [
        r.vec_id for r in ivf_topk(vectors, q, k=3, n_clusters=4, n_probe=4).collect()
    ] == exact


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3-4 (propagation needs >1 round), a 2-clique, and an
    isolated pair — all labeled with the component minimum."""
    from data_eng_project_spark.operators.clusters import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    got = {(r.id, r.comp) for r in connected_components(edges).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_job_count_is_independent_of_rounds(spark):
    """The rounds run inside one task, so the job count does not grow
    with them: a 64-node path needs ~7 hook/jump rounds, and building
    plus collecting the labels (with three disjoint cliques beside it)
    runs a fixed handful of Spark jobs (5 here). A per-round
    join+groupBy loop runs several jobs per round (57 here)."""
    from itertools import combinations

    from data_eng_project_spark.operators.clusters import connected_components

    cliques = [(1, 2, 3), (5, 6, 7, 8), (20, 21)]
    path = tuple(range(100, 164))
    edges = spark.createDataFrame(
        [pair for c in cliques for pair in combinations(c, 2)]
        + [(a, a + 1) for a in path[:-1]],
        "id_a long, id_b long",
    )
    sc = spark.sparkContext
    group = "connected-components-jobs"
    sc.setJobGroup(group, group)
    try:
        got = {(r.id, r.comp) for r in connected_components(edges).collect()}
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {(n, min(c)) for c in [*cliques, path] for n in c}
    assert jobs <= 6


def test_connected_components_long_path_converges_fast(spark):
    """A 200-node path needs ~199 rounds of plain neighbor-min
    propagation; with per-round pointer jumping it must converge well
    within 15 rounds. Guards the O(log diameter) behavior, not just
    correctness."""
    from data_eng_project_spark.operators.clusters import connected_components

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    got = connected_components(edges, max_iter=15)
    assert got.count() == n
    assert got.agg(F.max("comp")).collect()[0][0] == 1


def test_connected_components_raises_instead_of_returning_unconverged_labels(spark):
    """A path whose ids are in random order needs O(n) hook rounds: at
    300 nodes more than the default max_iter of 25, where the labels
    would still be wrong. The query must fail, naming max_iter, rather
    than return them; with room for the rounds it labels every node with
    the minimum id, as a union-find does."""
    import random

    from data_eng_project_spark.operators.clusters import connected_components

    ids = list(range(1, 301))
    random.Random(7).shuffle(ids)
    edges = spark.createDataFrame(list(zip(ids, ids[1:])), "id_a long, id_b long")
    with pytest.raises(Exception, match="max_iter=25"):
        connected_components(edges).collect()
    got = {r.id: r.comp for r in connected_components(edges, max_iter=1000).collect()}
    assert got == {i: 1 for i in ids}


@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=5, deadline=None)
def test_connected_components_match_union_find_random_graphs(spark, raw_edges):
    """Property (r5 review): on arbitrary random graphs — self-loops,
    parallel edges, any topology — min-label propagation with pointer
    jumping agrees with a driver-side union-find on every node's
    component minimum."""
    from data_eng_project_spark.operators.clusters import connected_components

    parent: dict[int, int] = {}

    def find(a: int) -> int:
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    nodes = set()
    for a, b in raw_edges:
        nodes.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for n in nodes:
        expected.setdefault(find(n), []).append(n)
    want = {n: min(members) for members in expected.values() for n in members}

    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in raw_edges], "id_a long, id_b long"
    )
    got = {r.id: r.comp for r in connected_components(edges).collect()}
    assert got == want


# ------------------------------------------------------------- temporal

def test_asof_join_inclusive_and_unmatched(spark):
    from data_eng_project_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 300), (4, 20, 50)],
        "event_id long, k long, ts long",
    )
    right = spark.createDataFrame(
        [(10, 100, "a"), (10, 200, "b"), (10, 205, "c"), (20, 60, "d")],
        "k long, rts long, payload string",
    )
    out = {
        r.event_id: r.asof_payload
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts", payload_cols=["payload"]
        ).collect()
    }
    # ts=100 matches rts=100 (inclusive); ts=205 matches rts=205 (not 200);
    # ts=300 matches the latest (205); ts=50 precedes everything → NULL.
    assert out == {1: "a", 2: "c", 3: "c", 4: None}


def test_asof_join_map_payload_executes_and_tie_break(spark):
    """ADVICE r4: a map-typed payload must not fail analysis (maps are
    not orderable, so the payload struct is dropped from the tie-break
    ORDER BY), and an explicit tie_break column list must pick the
    deterministic winner among right rows tied on (key, ts)."""
    from pyspark.sql import functions as F

    from data_eng_project_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 10, 100)], "event_id long, k long, ts long")
    right = spark.createDataFrame(
        [(10, 90, "a")], "k long, rts long, tag string"
    ).withColumn("attrs", F.create_map(F.lit("x"), F.lit("1")))
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        payload_cols=["attrs", "tag"], tie_break=["tag"],
    ).collect()
    assert out[0]["asof_tag"] == "a" and dict(out[0]["asof_attrs"]) == {"x": "1"}
    # no tie_break: map payload still executes (no ORDER BY on the map)
    out2 = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts", payload_cols=["attrs"]
    ).collect()
    assert dict(out2[0]["asof_attrs"]) == {"x": "1"}
    # explicit tie_break resolves duplicate (key, ts) rows: largest last()
    dup = spark.createDataFrame(
        [(10, 90, "b"), (10, 90, "a")], "k long, rts long, tag string"
    ).withColumn("attrs", F.create_map(F.lit("x"), F.lit("1")))
    out3 = asof_join(
        left, dup, on="k", left_ts="ts", right_ts="rts",
        payload_cols=["attrs", "tag"], tie_break=["tag"],
    ).collect()
    assert out3[0]["asof_tag"] == "b"  # last() over tag-ordered window


def test_driver_audit_canon_strings_comparable():
    """ADVICE r4: _canon must tag strings too, so a nullable string
    column at a sort tie point compares against ('\\x00none', '')
    instead of raising TypeError and mis-reporting EXCEPTION."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from driver_audit import _canon

    rows = [(1, None), (1, "abc"), (1, "abd")]
    got = sorted(tuple(_canon(v) for v in r) for r in rows)
    assert got[0][1] == ("\x00none", "")  # NULLs first, no TypeError


def test_asof_join_equals_naive_on_random_data(spark):
    """Randomized (seeded) equivalence: the union-merge as-of must agree
    with the obvious per-row reference implementation."""
    import random

    from data_eng_project_spark.operators.temporal import asof_join

    rnd = random.Random(1234)
    left = [(i, rnd.randint(0, 5), rnd.randint(0, 100)) for i in range(200)]
    right_keys = {(rnd.randint(0, 5), rnd.randint(0, 100)) for _ in range(60)}
    right = [(k, ts, f"p{k}_{ts}") for k, ts in right_keys]

    ldf = spark.createDataFrame(left, "event_id long, k long, ts long")
    rdf = spark.createDataFrame(right, "k long, rts long, payload string")
    got = {
        r.event_id: r.asof_payload
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="rts", payload_cols=["payload"]
        ).collect()
    }

    def naive(k, ts):
        cands = [(rts, p) for (rk, rts, p) in right if rk == k and rts <= ts]
        return max(cands)[1] if cands else None

    assert got == {eid: naive(k, ts) for (eid, k, ts) in left}


def test_range_pairs_equals_naive(spark):
    from data_eng_project_spark.operators.temporal import range_pairs

    rows = [(i, "t", 1_700_000_000 + t) for i, t in enumerate([0, 30, 60, 61, 200, 259, 260])]
    df = spark.createDataFrame(rows, "id long, g string, sec long").select(
        "id", "g", F.timestamp_seconds("sec").alias("ts")
    )
    got = {
        (r.id_a, r.id_b)
        for r in range_pairs(df, "ts", "id", 60, partition_cols=["g"]).collect()
    }
    naive = {
        (a[0], b[0])
        for a in rows
        for b in rows
        if 0 < b[2] - a[2] <= 60
    }
    # includes the exact-boundary pair (0,2) [gap=60] and the cross-bucket
    # pair (5,6); excludes (0,3) [gap=61]
    assert got == naive and (0, 2) in got and (5, 6) in got and (0, 3) not in got


# ------------------------------------------------------------- multimodal

def test_multimodal_meta_deterministic(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, "spark")], "doc_id long, text string")
    media = attach_fake_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    m1 = {r.doc_id: r for r in extract_media_meta(media).collect()}
    m2 = {r.doc_id: r for r in extract_media_meta(media).collect()}
    assert m1[1].checksum == m2[1].checksum  # deterministic
    assert m1[1].n_bytes == len(b"hello world")
    assert 64 <= m1[1].width < 256 and 64 <= m1[1].height < 256


def test_approx_quartiles_close_to_exact(spark):
    """The Greenwald-Khanna sketch at accuracy 10000 must land within
    0.5% relative error of the exact per-group quartiles — the evidence
    that the 100 TB sketch path answers the same question as the exact
    sort path. (The registered query now publishes the rank-guarantee
    booleans instead of raw sketch values — those are asserted here too —
    so this test recomputes the sketch values for the closeness check.)"""
    from pyspark.sql import functions as F

    from data_eng_project_spark.plans import REGISTRY
    from data_eng_project_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    exact = {
        r["l_returnflag"]: r
        for r in REGISTRY["percentile_price_quartiles"].fn(spark, sf).collect()
    }
    pct = F.expr(
        "approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D), 10000)"
    )
    approx = {
        r["l_returnflag"]: {"p25": r["_p"][0], "median": r["_p"][1], "p75": r["_p"][2]}
        for r in load_table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(pct.alias("_p"))
        .collect()
    }
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        for col in ("p25", "median", "p75"):
            assert abs(a[col] - e[col]) <= 0.005 * abs(e[col]), (flag, col, a[col], e[col])
    # and the registered contract form reports every rank guarantee held
    for r in REGISTRY["approx_price_quartiles"].fn(spark, sf).collect():
        assert r["p25_rank_ok"] and r["median_rank_ok"] and r["p75_rank_ok"], r


def test_bilinear_resize_properties():
    """The real resize path: constant images stay constant, a horizontal
    gradient stays monotone, identity-size resize is exact."""
    import numpy as np

    from data_eng_project_spark.operators.multimodal import (
        bilinear_resize,
        decode_raw_image,
        encode_raw_image,
    )

    const = np.full((40, 60, 3), 137, dtype=np.uint8)
    out = bilinear_resize(const, 17, 11)
    assert out.shape == (11, 17, 3) and (out == 137).all()

    grad = np.zeros((8, 256, 3), dtype=np.uint8)
    grad[:, :, 0] = np.arange(256, dtype=np.uint8)[None, :]
    small = bilinear_resize(grad, 64, 8)[:, :, 0].astype(int)
    assert (np.diff(small, axis=1) >= 0).all()  # monotone preserved
    assert small[0, 0] <= 8 and small[0, -1] >= 247  # endpoints near range

    img = np.random.default_rng(7).integers(0, 256, (23, 31, 3), dtype=np.uint8)
    assert (bilinear_resize(img, 31, 23) == img).all()  # identity
    assert (decode_raw_image(encode_raw_image(img)) == img).all()  # codec roundtrip


def test_resize_raw_images_distributed(spark):
    """The mapInPandas resize: every output dimension respects max_side,
    aspect ratio is preserved to rounding, and results are deterministic
    across runs (stable pixel channel sums)."""
    from data_eng_project_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    a = {r["doc_id"]: r for r in REGISTRY["multimodal_resize_raw"].fn(spark, sf).collect()}
    b = {r["doc_id"]: r for r in REGISTRY["multimodal_resize_raw"].fn(spark, sf).collect()}
    assert a.keys() == b.keys() and len(a) > 0
    for k in a:
        assert (a[k]["sum_r"], a[k]["sum_g"], a[k]["sum_b"]) == (
            b[k]["sum_r"], b[k]["sum_g"], b[k]["sum_b"],
        )
        assert 0 < a[k]["sum_b"] or a[k]["sum_b"] == 0  # defined, non-negative
        r = a[k]
        assert max(r["out_width"], r["out_height"]) <= 64
        scale = min(1.0, 64 / max(r["src_width"], r["src_height"]))
        assert r["out_width"] == max(1, round(r["src_width"] * scale))
        assert r["out_height"] == max(1, round(r["src_height"] * scale))


def test_audio_features_match_physics(spark):
    """The real audio path: a pure sine of amplitude A must measure
    RMS ≈ A/√2 and a zero-crossing rate ≈ its frequency."""
    import math

    from data_eng_project_spark.plans import REGISTRY

    rows = REGISTRY["multimodal_audio_features"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows[:50]:
        freq = 100 + r["doc_id"] % 900
        assert abs(r["rms"] - 0.5 / math.sqrt(2)) < 0.01, r
        assert abs(r["zero_cross_rate_hz"] - freq) < freq * 0.02, r
        assert 0.45 <= r["peak"] <= 0.5
        assert abs(r["duration_ms"] - 1000 * r["n_samples"] / r["sample_rate"]) <= 1


def test_video_frame_sampling_real(spark):
    """The real video path: sampling cadence is every 6th frame; the
    sweep pattern puts exactly one bright column in every frame, so mean
    luma is identical across a clip's frames; checksums are stable."""
    from data_eng_project_spark.plans import REGISTRY

    name = "multimodal_video_frames_raw"
    rows = REGISTRY[name].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rs in list(by_doc.items())[:50]:
        n_frames = 12 + doc_id % 25
        idxs = sorted(r["frame_idx"] for r in rs)
        assert idxs == list(range(0, n_frames, 6))
        lumas = {r["mean_luma"] for r in rs}
        assert len(lumas) == 1  # one bright bar per frame → constant mean
        for r in rs:  # saliency recovers the planted bar position
            assert r["peak_col"] == (r["frame_idx"] * 31) // (n_frames - 1)
    # checksum determinism via the operator directly (the registered
    # query now exposes only the SQL-verifiable stats)
    from data_eng_project_spark.operators.multimodal import (
        attach_raw_video,
        sample_raw_frames,
    )

    docs = spark.range(20).select(F.col("id").alias("doc_id"))
    one = {(r["doc_id"], r["frame_idx"]): r["frame_sha256"]
           for r in sample_raw_frames(attach_raw_video(docs), every_n=6).collect()}
    two = {(r["doc_id"], r["frame_idx"]): r["frame_sha256"]
           for r in sample_raw_frames(attach_raw_video(docs), every_n=6).collect()}
    assert one == two and len(one) > 0


def test_ewma_matches_sequential_recurrence(spark):
    """The applyInPandas EWMA must equal the hand-rolled sequential
    recurrence y_t = a*x_t + (1-a)*y_{t-1} per user, in order."""
    from data_eng_project_spark.plans import REGISTRY
    from data_eng_project_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_id"]: r["ewma"]
        for r in REGISTRY["ewma_user_values"].fn(spark, sf).collect()
    }
    rows = (
        load_table(spark, sf, "events")
        .select("event_id", "user_id", "ts", "value")
        .collect()
    )
    by_user = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        y = by_user.get(r["user_id"])
        y = r["value"] if y is None else 0.3 * r["value"] + 0.7 * y
        by_user[r["user_id"]] = y
        assert got[r["event_id"]] == round(y, 6), r["event_id"]
    assert len(got) == len(rows)


def test_png_codec_roundtrip_and_filters():
    """The stdlib PNG codec: exact encode→decode round-trip for RGB and
    RGBA, and an adversarial decode of a hand-filtered PNG exercising all
    five scanline filter types against the original pixels."""
    import struct
    import zlib

    import numpy as np

    from data_eng_project_spark.operators.multimodal import (
        _PNG_SIG,
        _paeth,
        _png_chunk,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(11)
    for ch in (3, 4):
        img = rng.integers(0, 256, (19, 27, ch), dtype=np.uint8)
        assert (decode_png(encode_png(img)) == img).all()

    # Hand-build a PNG whose five scanlines use filters 0..4.
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(np.int64)
    lines = []
    for y, f in enumerate([0, 1, 2, 3, 4]):
        line = flat[y]
        prior = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
        filt = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            left = line[x - ch] if x >= ch else 0
            up_left = prior[x - ch] if x >= ch else 0
            if f == 0:
                filt[x] = line[x]
            elif f == 1:
                filt[x] = line[x] - left
            elif f == 2:
                filt[x] = line[x] - prior[x]
            elif f == 3:
                filt[x] = line[x] - (left + prior[x]) // 2
            else:
                filt[x] = line[x] - _paeth(int(left), int(prior[x]), int(up_left))
        lines.append(bytes([f]) + bytes((filt % 256).astype(np.uint8)))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_png(payload) == img).all()


def test_png_resize_query_real_pixels(spark):
    """multimodal_image_resize runs the REAL compressed path: payloads
    are valid PNGs, outputs decode back to the expected dimensions, and a
    constant-color source stays constant through decode→resize→encode."""
    import numpy as np

    from data_eng_project_spark.operators.multimodal import (
        attach_png_images,
        bilinear_resize,
        decode_png,
        encode_png,
        resize_png_images,
    )
    from data_eng_project_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["multimodal_image_resize"].fn(spark, sf).collect()
    assert rows
    for r in rows[:50]:
        assert max(r["out_width"], r["out_height"]) <= 64
        scale = min(1.0, 64 / max(r["src_width"], r["src_height"]))
        assert r["out_width"] == max(1, round(r["src_width"] * scale))
        assert r["out_height"] == max(1, round(r["src_height"] * scale))

    # End-to-end pixel check without Spark: constant color survives.
    const = np.full((48, 96, 3), 123, dtype=np.uint8)
    out = decode_png(
        encode_png(bilinear_resize(decode_png(encode_png(const)), 32, 16))
    )
    assert out.shape == (16, 32, 3) and (out == 123).all()

    # And the distributed payloads really are decodable PNGs of the
    # declared output size.
    media = attach_png_images(spark.range(5).withColumnRenamed("id", "doc_id"))
    for r in resize_png_images(media, max_side=40).collect():
        arr = decode_png(bytes(r["out_payload"]))
        assert arr.shape == (r["out_height"], r["out_width"], 3)


def test_semdedup_matches_clusterwise_exact(vectors):
    """SemDeDup's dup flags must equal the keep-lowest-id policy applied
    to the EXACT cosine pairs restricted to its own cluster assignment —
    the operator's only approximation is the clustering itself."""
    from data_eng_project_spark.operators.similarity import all_pairs_above, semdedup

    out = semdedup(vectors, n_clusters=4, threshold=0.98)
    rows = out.collect()
    cluster_of = {r.vec_id: r.cluster for r in rows}
    flagged = {r.vec_id for r in rows if r.is_dup}
    exact_pairs = {
        (r.id_a, r.id_b)
        for r in all_pairs_above(vectors, threshold=0.98).collect()
    }
    expected = {
        b for (a, b) in exact_pairs if cluster_of[a] == cluster_of[b]
    }
    assert flagged == expected
    # the planted near-dups of vector 0 must land in its cluster and flag
    assert cluster_of[100] == cluster_of[0] and cluster_of[101] == cluster_of[0]
    assert {100, 101} <= flagged


def test_unigram_lm_scores_total_contract(spark):
    """Every input doc gets exactly one row; token-less docs (empty /
    all-punctuation) come back explicitly with lm_keep=false, n_tokens=0,
    avg_logprob NULL — never silently dropped."""
    from data_eng_project_spark.operators.curation import unigram_lm_scores

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the log"),
            (3, "!!! ... 123 ???"),  # zero letter tokens
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in unigram_lm_scores(docs).collect()}
    assert set(rows) == {1, 2, 3, 4}
    for tid in (3, 4):
        assert rows[tid].lm_keep is False
        assert rows[tid].n_tokens == 0
        assert rows[tid].avg_logprob is None
    assert rows[1].n_tokens == 6 and rows[1].avg_logprob is not None


def test_unigram_lm_scores_quantile_mode(spark):
    """keep_quantile derives the cut from the corpus distribution: with
    q=0.5 the below-median docs drop and the top scores survive."""
    from data_eng_project_spark.operators.curation import unigram_lm_scores

    common = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(i, common) for i in range(8)] + [(8, "zzz qqq xxx www vvv"), (9, "")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in unigram_lm_scores(docs, keep_quantile=0.5).collect()}
    assert all(rows[i].lm_keep for i in range(8))  # modal docs at/above median
    assert rows[8].lm_keep is False  # rare-token doc below the median cut
    assert rows[9].lm_keep is False  # token-less


def test_clear_cache_releases_dedup_caches(spark, near_dup_docs):
    """Jaccard operators persist their shingle-set frames; the runner's
    ``clearCache()`` after each op is what releases them, so a long-lived
    session's CacheManager is empty between ops."""
    from data_eng_project_spark.operators.dedup import ngram_jaccard_pairs_bipartite

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    batch = near_dup_docs.filter(F.col("doc_id") >= 3)
    corpus = near_dup_docs.filter(F.col("doc_id") < 3)
    ngram_jaccard_pairs_bipartite(corpus, batch, "text", "doc_id").collect()
    assert not cache_manager.isEmpty()
    spark.catalog.clearCache()
    assert cache_manager.isEmpty()


def test_decode_frame_png_stream():
    """decode_frame handles concatenated-PNG frame streams for real:
    returns the idx-th standalone PNG; only mp4/h264 remains stubbed."""
    import numpy as np
    import pytest as _pytest

    from data_eng_project_spark.operators.multimodal import (
        decode_frame,
        decode_png,
        encode_png,
    )

    frames = [
        np.full((8, 6, 3), 40 * (i + 1), dtype=np.uint8) for i in range(3)
    ]
    stream = b"".join(encode_png(f) for f in frames)
    for i, f in enumerate(frames):
        assert (decode_png(decode_frame(stream, i)) == f).all()
    with _pytest.raises(IndexError):
        decode_frame(stream, 3)
    with _pytest.raises(NotImplementedError):
        decode_frame(b"\x00\x00\x00\x18ftypmp42", 0)


def test_cross_source_dup_matrix(spark):
    from data_eng_project_spark.operators.curation import cross_source_dup_matrix

    docs = spark.createDataFrame(
        [
            (1, "s1", "shared  boilerplate"),
            (2, "s1", "unique one"),
            (3, "s2", "Shared Boilerplate"),   # same after normalization
            (4, "s2", "shared boilerplate"),   # second copy in s2
            (5, "s3", "shared boilerplate"),
            (6, "s3", "other text"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        (r.source_a, r.source_b): (r.n_shared_fps, r.n_doc_pairs)
        for r in cross_source_dup_matrix(docs).collect()
    }
    # s1 has 1 copy, s2 has 2, s3 has 1 of the shared fingerprint.
    assert rows[("s1", "s2")] == (1, 2)   # 1*2 cross pairs
    assert rows[("s1", "s3")] == (1, 1)
    assert rows[("s2", "s3")] == (1, 2)
    assert len(rows) == 3


def test_domain_mixture_weights(spark):
    from data_eng_project_spark.operators.curation import domain_mixture_weights

    docs = spark.createDataFrame(
        [
            (1, "s1", "a b c d e f"),      # 6 tokens
            (2, "s2", "a b"),              # 2
            (3, "s2", "a"),                # 1 -> s2 total 3, but wait 3 tokens
        ],
        "doc_id long, source string, text string",
    )
    rows = {r.source: r for r in domain_mixture_weights(docs).collect()}
    assert rows["s1"].n_tokens == 6 and rows["s2"].n_tokens == 3
    assert rows["s1"].token_share == round(6 / 9, 6)
    # uniform weight: target 1/2 each; s1 observed 2/3 -> weight 3/4.
    assert rows["s1"].uniform_weight == 0.75
    assert rows["s2"].uniform_weight == 1.5


def test_token_fertility_profile(spark):
    from data_eng_project_spark.operators.curation import token_fertility_profile

    docs = spark.createDataFrame(
        [(1, "en", "ab cd"), (2, "en", "ef-gh"), (3, "xx", "ij")],
        "doc_id long, lang string, text string",
    )
    rows = {r.lang: r for r in token_fertility_profile(docs).collect()}
    en = rows["en"]
    # "ab cd": 2 ws tokens, 2 bpe; "ef-gh": 1 ws, 3 bpe (ef, -, gh).
    assert (en.n_ws_tokens, en.n_bpe_tokens, en.n_chars) == (3, 5, 10)
    assert en.chars_per_ws_token == round(10 / 3, 6)
    assert en.bpe_blowup == round(5 / 3, 6)
    assert rows["xx"].n_ws_tokens == 1


def test_rollup_state_merge_equals_direct(spark):
    """Partial-aggregate rollup states from disjoint splits merge into
    exactly the one-shot rollup (associative counts + decimal sums)."""
    import datetime as dt

    from data_eng_project_spark.operators.temporal import (
        finalize_rollup,
        hourly_rollup_state,
        merge_rollup_states,
    )

    rows = [
        (i, "a" if i % 3 else "b", dt.datetime(2024, 1, 1, i % 5, i % 60), float(i) / 7)
        for i in range(200)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    direct = finalize_rollup(hourly_rollup_state(events))
    splits = [events.filter(F.col("event_id") % 3 == k) for k in range(3)]
    merged = finalize_rollup(
        merge_rollup_states(*[hourly_rollup_state(s) for s in splits])
    )
    key = lambda r: (r.window_start, r.event_type)
    d = {key(r): (r.n_events, r.total_value) for r in direct.collect()}
    m = {key(r): (r.n_events, r.total_value) for r in merged.collect()}
    assert d == m and len(d) > 0


def test_kmv_estimate_tracks_exact(spark):
    """KMV sketch: exact column equals true distinct count; the estimate
    from the 64th-smallest md5 lands within the expected error band
    (~1/sqrt(k) ≈ 12.5%; allow 3σ)."""
    import random

    from data_eng_project_spark.operators.textops import kmv_distinct_ngrams

    rnd = random.Random(13)
    vocab = [f"w{i}" for i in range(200)]
    docs = [
        (i, "s1", " ".join(rnd.choice(vocab) for _ in range(60))) for i in range(100)
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    row = kmv_distinct_ngrams(df, k=64).collect()[0]
    assert row.n_exact_distinct > 1000  # plenty of distinct shingles
    assert abs(row.rel_error) < 0.375
    assert row.kmv_estimate == round(
        row.n_exact_distinct * (1 + row.rel_error), 2
    ) or abs(row.kmv_estimate / row.n_exact_distinct - 1 - row.rel_error) < 1e-4


def test_kmv_small_source_falls_back_to_exact(spark):
    from data_eng_project_spark.operators.textops import kmv_distinct_ngrams

    df = spark.createDataFrame(
        [(1, "tiny", "a b c d e")], "doc_id long, source string, text string"
    )
    row = kmv_distinct_ngrams(df, k=64).collect()[0]
    # 3 shingles < k → estimator degenerates to the exact count.
    assert row.n_exact_distinct == 3
    assert row.kmv_estimate == 3.0 and row.rel_error == 0.0


@given(st.integers(min_value=2, max_value=5))
@settings(max_examples=3, deadline=None)
def test_rollup_merge_associative_any_split(nsplits):
    """Property: any partitioning of events into rollup states merges to
    the same final rollup (associativity/commutativity of the state)."""
    import datetime as dt

    from data_eng_project_spark.operators.temporal import (
        finalize_rollup,
        hourly_rollup_state,
        merge_rollup_states,
    )
    from data_eng_project_spark.session import get_session

    spark = get_session("tests", cpus=8)
    rows = [
        (i, "t" + str(i % 2), dt.datetime(2024, 2, 1, i % 4), float(i) * 0.31)
        for i in range(120)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    direct = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in finalize_rollup(hourly_rollup_state(events)).collect()
    }
    states = [
        hourly_rollup_state(events.filter(F.col("event_id") % nsplits == k))
        for k in range(nsplits)
    ]
    merged = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in finalize_rollup(merge_rollup_states(*states)).collect()
    }
    assert merged == direct


def test_kmv_invariant_under_duplication(spark):
    """Property: duplicating documents changes nothing — the sketch sees
    the distinct shingle set only (the dedup-semantics sanity check)."""
    from data_eng_project_spark.operators.textops import kmv_distinct_ngrams

    base = spark.createDataFrame(
        [(i, "s", f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i+4}") for i in range(30)],
        "doc_id long, source string, text string",
    )
    doubled = base.unionByName(
        base.withColumn("doc_id", F.col("doc_id") + 1000)
    )
    a = kmv_distinct_ngrams(base, k=16).collect()[0]
    b = kmv_distinct_ngrams(doubled, k=16).collect()[0]
    assert (a.n_exact_distinct, a.kmv_estimate) == (b.n_exact_distinct, b.kmv_estimate)


def test_kmv_source_similarity_tracks_exact(spark):
    """Two sources sharing half their vocabulary: the sketch Jaccard must
    land within the k=64 error band of the exact Jaccard, and a disjoint
    pair must estimate ~0."""
    from data_eng_project_spark.operators.textops import kmv_source_similarity

    def doc(i, src, words):
        return (i, src, " ".join(words))

    shared = [f"s{i}" for i in range(120)]
    a_only = [f"a{i}" for i in range(120)]
    b_only = [f"b{i}" for i in range(120)]
    rows = (
        [doc(i, "A", shared[i : i + 40] + a_only[i : i + 40]) for i in range(0, 80, 8)]
        + [doc(100 + i, "B", shared[i : i + 40] + b_only[i : i + 40]) for i in range(0, 80, 8)]
        + [doc(200 + i, "C", [f"c{i+j}" for j in range(40)]) for i in range(0, 80, 8)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r.source_a, r.source_b): r for r in kmv_source_similarity(df, k=64).collect()}
    ab = out[("A", "B")]
    assert ab.exact_jaccard > 0.05
    assert abs(ab.est_error) <= 0.25  # |est - exact| within a few sigma of 1/sqrt(64)
    # Disjoint pairs are absent by contract (intersection join emits only
    # overlapping pairs — no sources² zero rows at scale).
    assert ("A", "C") not in out and ("B", "C") not in out


def test_bigram_lm_backoff_fires_on_held_out_novelty(spark):
    """Model trains on even ids only: an odd doc repeating the training
    phrase scores with zero backoff; an odd doc of novel word order backs
    off on every bigram and scores lower."""
    from data_eng_project_spark.operators.curation import bigram_lm_scores

    phrase = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [
            (0, phrase),
            (2, phrase),
            (4, phrase),
            (1, phrase),                      # held-out, all bigrams seen
            (3, "mat the on sat cat the"),    # held-out, novel order
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
    assert rows[1].backoff_rate == 0.0
    assert rows[3].backoff_rate == 1.0
    assert rows[1].avg_logprob > rows[3].avg_logprob
    assert rows[1].n_bigrams == 5


def test_pq_topk_recall_on_planted(vectors):
    """PQ/ADC top-k with exact re-rank must recover the planted
    near-duplicates of vector 0 (the brute-force answer set)."""
    from data_eng_project_spark.operators.similarity import pq_topk

    q = vectors.filter(F.col("vec_id") == 0).head().embedding
    ids = {r.vec_id for r in pq_topk(vectors, [float(x) for x in q], k=3).collect()}
    assert ids == {0, 100, 101}


def test_pq_codes_shape(vectors):
    from data_eng_project_spark.operators.similarity import pq_train_encode

    encoded, books = pq_train_encode(vectors, m=4, nbits=4)
    assert len(books) == 4 and all(len(b) == 16 for b in books)
    assert all(len(c) == 4 for b in books for c in b)  # dsub = 16/4
    row = encoded.head()
    assert len(row["_codes"]) == 4
    assert all(0 <= c < 16 for c in row["_codes"])


def test_ivf_pq_topk_recall_on_planted(vectors):
    """The IVF-PQ composite must still recover the planted near-dups:
    coarse probe keeps vector 0's cluster, ADC+re-rank finds the set."""
    from data_eng_project_spark.operators.similarity import ivf_pq_topk

    q = [float(x) for x in vectors.filter(F.col("vec_id") == 0).head().embedding]
    ids = {r.vec_id for r in ivf_pq_topk(vectors, q, k=3, n_clusters=4, n_probe=2).collect()}
    assert ids == {0, 100, 101}


def test_dq_report_counts_violations_and_nulls(spark):
    """A rule that evaluates to NULL is a violation (can't-evaluate is
    not a pass); rates are exact."""
    from data_eng_project_spark.operators.quality import dq_report

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 20.0)],
        "id long, v double",
    )
    rows = {r.rule: r for r in dq_report(df, {"v_positive": F.col("v") > 0}).collect()}
    r = rows["v_positive"]
    assert (r.n_rows, r.n_violations, r.violation_rate) == (4, 2, 0.5)


def test_cusum_matches_direct_recursion(spark):
    """The windowed prefix-sum-minus-running-min form must equal the
    direct S_i = max(0, S_{i-1} + d_i) recursion (scaled by n)."""
    import datetime as dt

    from data_eng_project_spark.operators.temporal import cusum_hourly_changepoints

    # One event type, hourly counts with a level shift at hour 6.
    counts = [3, 2, 3, 3, 2, 3, 9, 10, 9, 10]
    rows = []
    eid = 0
    for h, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, "t", dt.datetime(2024, 3, 1, h, eid % 60)))
            eid += 1
    events = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    out = sorted(
        cusum_hourly_changepoints(events).collect(), key=lambda r: r.window_start
    )
    n, total = len(counts), sum(counts)
    s, expect = 0, []
    for x in counts:
        s = max(0, s + (n * x - total))
        expect.append(s)
    assert [r.cusum_scaled for r in out] == expect
    assert [r.x for r in out] == counts
    # the level shift must raise at least one alarm after hour 6
    assert any(r.alarm for r in out[6:])
    assert not any(r.alarm for r in out[:6])

    # Regression: a series starting ABOVE the mean — the prefix sums R
    # start positive, so the R_0 = 0 term of the running min is
    # load-bearing (without it the early CUSUM clamps to 0).
    rev = list(reversed(counts))
    rows, eid = [], 0
    for h, c in enumerate(rev):
        for _ in range(c):
            rows.append((eid, "t", dt.datetime(2024, 3, 2, h, eid % 60)))
            eid += 1
    events2 = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    out2 = sorted(
        cusum_hourly_changepoints(events2).collect(), key=lambda r: r.window_start
    )
    s, expect2 = 0, []
    for x in rev:
        s = max(0, s + (n * x - total))
        expect2.append(s)
    assert [r.cusum_scaled for r in out2] == expect2
    assert expect2[0] > 0  # the case the old identity got wrong


def test_audio_spectrum_finds_planted_tone(spark):
    """FFT features are real: a pure sine's dominant frequency must land
    within one bin of the planted frequency, carry most of the energy,
    and have a centroid near the tone."""
    from data_eng_project_spark.operators.multimodal import (
        attach_raw_audio,
        extract_audio_spectrum,
    )

    docs = spark.range(5).withColumnRenamed("id", "doc_id")
    media = attach_raw_audio(docs)
    n_fft, sr = 1024, 8000
    bin_hz = sr / n_fft
    for r in extract_audio_spectrum(media, n_fft=n_fft).collect():
        planted = 100 + r.doc_id % 900
        assert abs(r.dominant_freq_hz - planted) <= bin_hz
        assert r.dominant_share > 0.3  # Hann spreads energy over ~2 bins
        assert abs(r.spectral_centroid_hz - planted) <= 6 * bin_hz


def test_cms_never_undercounts_and_is_tight_on_heavy_hitters(spark):
    """CMS property: estimates are >= exact (collisions only add), and
    with width >> distinct terms the heavy hitters estimate exactly."""
    from data_eng_project_spark.operators.textops import cms_term_count_estimates

    rnd_words = [f"w{i}" for i in range(50)]
    docs = spark.createDataFrame(
        [(i, " ".join(["hot"] * 5 + rnd_words[i % 50 : i % 50 + 3])) for i in range(40)],
        "doc_id long, text string",
    )
    rows = {r.term: r for r in cms_term_count_estimates(docs, width=2048, top_k=5).collect()}
    assert all(r.overcount >= 0 for r in rows.values())
    hot = rows["hot"]
    assert hot.n_exact == 200 and hot.cms_estimate == 200  # wide sketch → exact


def test_chunk_assembly_reconstructs_stream(spark):
    """Loader contract: per (shard, chunk), the listed doc slices are
    contiguous, ordered, and sum to exactly chunk_tokens for every full
    chunk — gathering them reconstructs the packed token stream."""
    from data_eng_project_spark.plans import REGISTRY

    plan = REGISTRY["chunk_assembly_plan"].fn(spark, "/root/testdata/sf0.001")
    rows = plan.collect()
    by_chunk: dict = {}
    for r in rows:
        by_chunk.setdefault((r.shard, r.chunk_id), []).append(r)
    full_seen = 0
    for (shard, cid), parts in by_chunk.items():
        parts.sort(key=lambda r: r.doc_id)
        sizes = [r.doc_slice_end - r.doc_slice_start for r in parts]
        assert all(s > 0 for s in sizes)
        total = sum(sizes)
        assert total <= 512
        if total == 512:
            full_seen += 1
    assert full_seen > 0  # the corpus fills plenty of complete chunks


def test_pq_index_save_load_serves_same_answer(spark, vectors, tmp_path):
    """Index lifecycle: a saved PQ index served cold (no refit) returns
    the same top-k as the in-memory build."""
    from data_eng_project_spark.operators.similarity import (
        pq_save_index,
        pq_load_topk,
        pq_topk,
    )

    q = [float(x) for x in vectors.filter(F.col("vec_id") == 0).head().embedding]
    idx = str(tmp_path / "pqindex")
    pq_save_index(vectors, idx)
    served = [(r.vec_id, r.cosine) for r in pq_load_topk(spark, idx, q, k=3).collect()]
    direct = [(r.vec_id, r.cosine) for r in pq_topk(vectors, q, k=3).collect()]
    assert served == direct
    assert {v for v, _ in served} == {0, 100, 101}


def test_debounce_burst_semantics(spark):
    """Chained burst: events at t=0,3,6,9 s with a 5 s gap form ONE
    island (each within 5 s of its predecessor) — only t=0 survives;
    an event at t=20 starts a new island."""
    import datetime as dt

    from data_eng_project_spark.operators.temporal import debounce_events

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, "click", base + dt.timedelta(seconds=s))
        for i, s in enumerate([0, 3, 6, 9, 20])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    out = {
        r["event_id"]: r["debounce_keep"]
        for r in debounce_events(
            df, key_cols=["user_id", "event_type"], gap_seconds=5
        ).collect()
    }
    assert out == {0: True, 1: False, 2: False, 3: False, 4: True}


def test_forward_asof_matches_earliest_following(spark):
    import datetime as dt

    from data_eng_project_spark.operators.temporal import asof_join_forward

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5)), (1, dt.datetime(2024, 1, 8)),
         (2, dt.datetime(2024, 1, 1))],
        "k long, t timestamp",
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 3), 30), (1, dt.datetime(2024, 1, 7), 70),
         (1, dt.datetime(2024, 1, 9), 90)],
        "k long, t timestamp, v long",
    )
    out = asof_join_forward(
        left, right, on="k", left_ts="t", right_ts="t", payload_cols=["v"]
    ).collect()
    got = {(r["k"], r["t"].day): r["next_v"] for r in out}
    assert got == {(1, 5): 70, (1, 8): 90, (2, 1): None}


def test_asof_inner_keeps_match_with_null_first_payload(spark):
    """ADVICE r3: inner mode must test the match STRUCT, not its first
    payload column — a matched right row whose first payload column is
    legitimately NULL is still a match, in both directions."""
    from data_eng_project_spark.operators.temporal import (
        asof_join,
        asof_join_forward,
    )

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 100)], "event_id long, k long, ts long"
    )
    right = spark.createDataFrame(
        [(10, 90, None, "x"), (10, 110, None, "y")],
        "k long, rts long, v long, w string",
    )
    back = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        payload_cols=["v", "w"], how="inner",
    ).collect()
    assert [(r["event_id"], r["asof_v"], r["asof_w"]) for r in back] == [
        (1, None, "x")
    ]
    fwd = asof_join_forward(
        left, right, on="k", left_ts="ts", right_ts="rts",
        payload_cols=["v", "w"], how="inner",
    ).collect()
    assert [(r["event_id"], r["next_v"], r["next_w"]) for r in fwd] == [
        (1, None, "y")
    ]


def test_asof_ties_pick_deterministic_payload(spark):
    """Right rows tied on (key, ts): backward's last() takes the largest
    payload struct, forward's first() the smallest — stable across
    partitionings instead of partition-order accident."""
    from data_eng_project_spark.operators.temporal import (
        asof_join,
        asof_join_forward,
    )

    left = spark.createDataFrame([(1, 10, 100)], "event_id long, k long, ts long")
    right_rows = [(10, 90, "a"), (10, 90, "b"), (10, 90, "c")]
    fwd_rows = [(10, 110, "a"), (10, 110, "b"), (10, 110, "c")]
    for parts in (1, 7):
        right = spark.createDataFrame(
            right_rows, "k long, rts long, p string"
        ).repartition(parts)
        got = asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts", payload_cols=["p"]
        ).collect()
        assert [r["asof_p"] for r in got] == ["c"]
        fwd = spark.createDataFrame(
            fwd_rows, "k long, rts long, p string"
        ).repartition(parts)
        got_f = asof_join_forward(
            left, fwd, on="k", left_ts="ts", right_ts="rts", payload_cols=["p"]
        ).collect()
        assert [r["next_p"] for r in got_f] == ["a"]


def test_upsert_anti_join_deterministic_survivor(spark):
    """Regression: dropDuplicates kept a partition-order-dependent row;
    the upsert must pick the same survivor on every run (first by the
    non-key payload ordering)."""
    from data_eng_project_spark.operators.joins import upsert_anti_join

    new = spark.createDataFrame(
        [(1, 20.0), (1, 10.0), (2, 5.0)], "k long, price double"
    ).repartition(8)
    existing = spark.createDataFrame([(2, 1.0)], "k long, price double")
    for _ in range(3):
        rows = {r.k: r.price for r in upsert_anti_join(new, existing, "k").collect()}
        assert rows == {1: 10.0}  # smallest payload, deterministically


def test_dq_report_empty_rules_and_empty_table(spark):
    """Regression: zero rules returns an empty report (not None); an
    empty table reports rate 0.0, not NULL."""
    from data_eng_project_spark.operators.quality import dq_report

    df = spark.createDataFrame([(1,)], "v long")
    empty_report = dq_report(df, {})
    assert empty_report.count() == 0
    assert empty_report.columns == ["rule", "n_rows", "n_violations", "violation_rate"]

    empty_df = spark.createDataFrame([], "v long")
    row = dq_report(empty_df, {"v_pos": F.col("v") > 0}).collect()[0]
    assert (row.n_rows, row.n_violations, row.violation_rate) == (0, 0, 0.0)


def test_dq_report_freeform_rule_names_and_orphan_empty_fact(spark):
    """Regression (r5 review): rule names are user-facing labels, so a
    dotted name like 'price.positive' must not be parsed as a nested
    field by the internal column plumbing; dq_orphan_count on an empty
    fact table reports rate 0.0 (same contract as dq_report), not NULL."""
    from data_eng_project_spark.operators.quality import dq_orphan_count, dq_report

    df = spark.createDataFrame([(1,), (-2,)], "v long")
    rows = {
        r.rule: r
        for r in dq_report(
            df, {"price.positive": F.col("v") > 0, "v not-null": F.col("v").isNotNull()}
        ).collect()
    }
    assert rows["price.positive"].n_violations == 1
    assert rows["v not-null"].n_violations == 0

    fact = spark.createDataFrame([], "fk long")
    dim = spark.createDataFrame([(1,)], "k long")
    row = dq_orphan_count(fact, dim, "fk", "k", "fk resolves").collect()[0]
    assert (row.n_rows, row.n_violations, row.violation_rate) == (0, 0, 0.0)


def test_asof_join_null_keys_and_ts_never_match(spark):
    """Regression (r5 review): SQL ASOF semantics — NULL keys and NULL
    timestamps never match. Previously the window partitioned NULL keys
    together and a NULL-ts right row (nulls-first) backward-matched
    every left row; in the forward join a NULL-ts LEFT row matched the
    key's earliest right row."""
    from data_eng_project_spark.operators.temporal import (
        asof_join,
        asof_join_forward,
    )

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"),
         (2, None, "2024-01-01 10:00:00"),
         (3, 10, None)],
        "event_id long, k int, lts string",
    ).selectExpr("event_id", "k", "CAST(lts AS TIMESTAMP) AS lts")
    right = spark.createDataFrame(
        [(10, "2024-01-01 09:00:00", 100.0),
         (None, "2024-01-01 08:00:00", 666.0),
         (10, None, 777.0)],
        "k int, rts string, pay double",
    ).selectExpr("k", "CAST(rts AS TIMESTAMP) AS rts", "pay")

    out = {r["event_id"]: r["asof_pay"] for r in asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        payload_cols=["pay"],
    ).collect()}
    assert out == {1: 100.0, 2: None, 3: None}

    inner = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        payload_cols=["pay"], how="inner",
    ).collect()
    assert [r["event_id"] for r in inner] == [1]

    fwd_left = left.selectExpr(
        "event_id", "k", "CAST('2024-01-01 08:30:00' AS TIMESTAMP) AS lts"
    ).where("event_id = 1").unionByName(left.where("event_id != 1"))
    fout = {r["event_id"]: r["next_pay"] for r in asof_join_forward(
        fwd_left, right, on="k", left_ts="lts", right_ts="rts",
        payload_cols=["pay"],
    ).collect()}
    assert fout == {1: 100.0, 2: None, 3: None}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="how must be"):
        asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                  payload_cols=["pay"], how="outer")


def test_ewma_drops_null_values(spark):
    """Regression (r5 review): NULL values are excluded from the EWMA
    series — pandas ewm renormalizes across NaN while the recursive-CTE
    oracle cascades NULL; dropping is the one shared semantics."""
    from data_eng_project_spark.operators.temporal import ewma_per_key

    df = spark.createDataFrame(
        [(1, 7, "2024-01-01 10:00:00", 1.0),
         (2, 7, "2024-01-01 10:01:00", None),
         (3, 7, "2024-01-01 10:02:00", 3.0)],
        "event_id long, user_id long, ts string, value double",
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    rows = {r["event_id"]: r["ewma"] for r in ewma_per_key(df).collect()}
    # NULL row dropped; the recurrence runs 1.0 -> 0.3*3 + 0.7*1 = 1.6
    assert set(rows) == {1, 3}
    assert rows[1] == 1.0 and rows[3] == 1.6


def test_cusum_densifies_gap_hours(spark):
    """Regression (r5 review): hours with zero events must enter the
    hourly series as x = 0 — an outage is the changepoint signal."""
    from data_eng_project_spark.operators.temporal import (
        cusum_hourly_changepoints,
    )

    rows = [("a", f"2024-01-01 {h:02d}:15:00") for h in (0, 1, 2, 7)]
    df = spark.createDataFrame(rows, "event_type string, ts string").selectExpr(
        "event_type", "CAST(ts AS TIMESTAMP) AS ts"
    )
    out = cusum_hourly_changepoints(df).collect()
    assert len(out) == 8  # hours 0..7 inclusive, gaps densified
    xs = {r["window_start"].hour: r["x"] for r in out}
    assert xs[3] == 0 and xs[6] == 0 and xs[0] == 1 and xs[7] == 1


def test_bpe_encode_stats_preserves_id_column(spark):
    """Regression (r5 review): bpe_encode_stats must emit the caller's
    id column name and type, not a hardcoded 'doc_id long'."""
    from data_eng_project_spark.operators.tokenizer import (
        bpe_encode_stats,
        bpe_fit,
    )

    docs = spark.createDataFrame(
        [("a", "hello hello world"), ("b", "world world hello")],
        "name string, text string",
    )
    merges = bpe_fit([("hello", 3), ("world", 3)], n_merges=5)
    out = bpe_encode_stats(docs, merges, id_col="name", text_col="text")
    assert out.schema["name"].dataType.simpleString() == "string"
    got = {r["name"] for r in out.collect()}
    assert got == {"a", "b"}


def test_repetition_signals_keeps_one_token_docs(spark):
    """Regression (r5 review): a one-token doc has no bigram and must
    keep its output row (NULL top_bigram_frac, judged on the word frac
    alone) — the inner join silently erased it."""
    from data_eng_project_spark.operators.curation import repetition_signals

    df = spark.createDataFrame(
        [(1, "word"), (2, "spam spam spam spam spam"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["top_bigram_frac"] is None
    assert rows[1]["repetitive"] is True  # top_word_frac = 1.0 > 0.30
    assert rows[2]["repetitive"] is True


def test_quality_model_scores_keeps_letterless_docs(spark):
    """Regression (r5 review): an all-punctuation doc has no letter
    tokens and must keep its output row (n_tokens 0, NULL logit,
    keep false) instead of vanishing from the scores."""
    from data_eng_project_spark.operators.curation import quality_model_scores

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "12345 !!! ...")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_model_scores(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["n_tokens"] == 0
    assert rows[2]["quality_logit"] is None
    assert rows[2]["quality_keep"] is False


def test_pii_scan_counts_match_redactions_on_overlap(spark):
    """Regression (r5 review): a phone-shaped substring inside an email
    local part is swallowed by the email redaction — the phone count
    must be 0 (stage-wise counting), matching the redacted output."""
    import hashlib

    from data_eng_project_spark.operators.curation import pii_scan

    df = spark.createDataFrame(
        [(1, "mail joe+1-234-5678@mail.com now"),
         (2, "call +1-234-5678 or ping 10.0.0.1")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scan(df).collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_phones"] == 0
    assert rows[1]["redacted_md5"] == hashlib.md5(
        b"mail [EMAIL] now"
    ).hexdigest()
    assert rows[2]["n_phones"] == 1 and rows[2]["n_ips"] == 1


def test_pack_sequences_zero_token_doc_chunk_range(spark):
    """Regression (r5 review): a zero-token doc must report
    end_chunk == start_chunk and spans_boundary false, not an inverted
    [start, start-1] range."""
    from data_eng_project_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c", "s"), (2, "   ", "s"), (3, "d e", "s")],
        "doc_id long, text string, source string",
    )
    rows = {r["doc_id"]: r for r in pack_sequences(df, chunk_tokens=4).collect()}
    assert rows[2]["n_tokens"] == 0
    assert rows[2]["end_chunk"] == rows[2]["start_chunk"]
    assert rows[2]["spans_boundary"] is False
    # neighbors unaffected
    assert rows[1]["start_offset"] == 0 and rows[3]["start_offset"] == 3


def test_probe_index_verifies_against_indexed_text(spark, tmp_path):
    """Regression (r5 review): when an id exists in both the probe batch
    and the index with DIFFERENT text, candidates must verify id_b
    against the INDEXED corpus text, not an arbitrary winner of a
    batch-union dedup."""
    from data_eng_project_spark.streaming.dedup_index import (
        probe_index,
        write_index_delta,
    )

    index_dir = str(tmp_path / "idx")
    base = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(7, base)], "doc_id long, text string"
    )
    write_index_delta(corpus, 0, index_dir)
    # Batch: id 9 is a near-dup of the INDEXED text of id 7; id 7
    # re-appears with totally different text.
    batch = spark.createDataFrame(
        [(9, base + " extra"), (7, "completely different words entirely now")],
        "doc_id long, text string",
    )
    out = {(r["id_new"], r["id_indexed"]): r["jaccard"] for r in probe_index(
        spark, index_dir, batch, corpus
    ).collect()}
    assert (9, 7) in out  # verified against indexed text -> high jaccard


def test_near_join_large_radius_high_latitude_exact(spark):
    """Regression (r5 review): the linear lon-cell approximation broke
    the one-cell-apart guarantee for radius ≳ 755 km at |lat| 60° —
    east-west great-circle separation grows superlinearly (asin). The
    exact spherical bound must reproduce brute force at 999 km."""
    import math

    from data_eng_project_spark.functions.geo import EARTH_RADIUS_KM
    from data_eng_project_spark.operators.spatial import near_join

    radius = 999.0
    # Pairs of points at lat 60 separated by just under/over the radius
    # in pure longitude, plus a seam-straddling pair.
    half = math.degrees(
        2.0 * math.asin(math.sin(radius / (2 * EARTH_RADIUS_KM)) / math.cos(math.radians(60.0)))
    )
    pts = [
        (1, 60.0, 0.0),
        (2, 60.0, half * 0.999),   # within radius, near the max Δλ
        (3, 60.0, half * 1.01),    # just outside
        (4, 60.0, 179.99),
        (5, 60.0, -179.99 + half * 0.5),  # seam-straddling, within
    ]
    points = spark.createDataFrame(pts, "pid long, lat double, lon double")
    sites = spark.createDataFrame(
        [(r[0] + 100, r[1], r[2]) for r in pts],
        "sid long, site_lat double, site_lon double",
    )
    got = {
        (r["pid"], r["sid"])
        for r in near_join(points, sites, radius_km=radius).collect()
    }
    # Brute force oracle
    def hav(a, b):
        la1, lo1, la2, lo2 = map(math.radians, (a[1], a[2], b[1], b[2]))
        h = (math.sin((la2 - la1) / 2) ** 2
             + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2)
        return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(h))

    want = {
        (p[0], s[0] + 100)
        for p in pts
        for s in pts
        if hav(p, s) <= radius
    }
    assert got == want
    assert (1, 102) in got and (1, 103) not in got  # the knife-edge pair


def test_phrase_occurrences_case_insensitive_and_empty_guard(spark):
    """Regression (r5 review): an uppercase phrase word must match the
    lowercased document tokens; an empty phrase raises."""
    import pytest as _pytest

    from data_eng_project_spark.operators.textops import phrase_occurrences

    docs = spark.createDataFrame(
        [(1, "The cat sat"), (2, "no match here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_occurrences"] for r in phrase_occurrences(
        docs, ("The", "CAT")
    ).collect()}
    assert out == {1: 1}
    with _pytest.raises(ValueError, match="at least one token"):
        phrase_occurrences(docs, ())


def test_compression_signal_preserves_id_column(spark):
    """Regression (r5 review): string ids must round-trip."""
    from data_eng_project_spark.operators.textops import compression_ratio_signal

    docs = spark.createDataFrame(
        [("a", "xyz " * 50), ("b", "q")], "name string, text string"
    )
    out = compression_ratio_signal(docs, id_col="name")
    assert out.schema["name"].dataType.simpleString() == "string"
    rows = {r["name"]: r for r in out.collect()}
    assert rows["a"]["too_repetitive"] is True


def test_kmv_jaccard_exact_on_identical_small_sources(spark):
    """Regression (r5 review): two sources with identical shingle sets
    smaller than k must estimate Jaccard 1.0 (denominator is the union
    sketch size, not the fixed k)."""
    from data_eng_project_spark.operators.textops import kmv_source_similarity

    text = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [(1, text, "sa"), (2, text, "sb")],
        "doc_id long, text string, source string",
    )
    row = kmv_source_similarity(docs, n=3, k=64).collect()[0]
    assert row["exact_jaccard"] == 1.0
    assert row["kmv_jaccard"] == 1.0
    assert row["est_error"] == 0.0


def test_quality_score_empty_doc_reports_zero_words(spark):
    """Regression (r5 review): whitespace-only docs must report
    n_words 0 with NULL ratios, not a phantom 1-word doc."""
    from data_eng_project_spark.operators.textops import quality_score

    docs = spark.createDataFrame(
        [(1, "   "), (2, "real words here")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert rows[1]["n_words"] == 0
    assert rows[1]["mean_word_len"] is None
    assert rows[1]["stopword_ratio"] is None
    assert rows[2]["n_words"] == 3


def test_quality_score_edge_tabs_and_newlines(spark):
    """Regression (r5 ADVICE): trim() strips only ASCII spaces, so the
    old length guard let 'hello\\n' count 2 words and '\\t' count 2 —
    diverging from the oracle's filtered token count. n_words must be
    the NON-EMPTY whitespace-token count for every whitespace class."""
    from data_eng_project_spark.operators.textops import quality_score

    docs = spark.createDataFrame(
        [
            (1, "hello\n"),
            (2, "\t"),
            (3, "\n\t  \r\n"),
            (4, "\ta\tb\nc\r\n"),
            (5, "plain"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert rows[1]["n_words"] == 1
    assert rows[2]["n_words"] == 0
    assert rows[2]["mean_word_len"] is None
    assert rows[3]["n_words"] == 0
    assert rows[4]["n_words"] == 3
    assert rows[5]["n_words"] == 1
    # mean_word_len keeps the RAW char length numerator (oracle twin):
    # 'hello\n' is 6 chars over 1 word.
    assert rows[1]["mean_word_len"] == 6.0


def test_blocked_pairs_no_duplicates_with_empty_blocks(spark):
    """Regression (r5 review): with more blocks than occupied hash
    slots, a (i, j) group whose j-block is empty must NOT re-emit block
    i's internal pairs (the data-inferred `same` flag did exactly that)."""
    from data_eng_project_spark.operators.similarity import (
        all_pairs_above,
        all_pairs_above_blocked,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 3 == j) + 0.1 for j in range(4)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    exact = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in all_pairs_above(vecs, threshold=0.5).collect()
    )
    blocked = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in all_pairs_above_blocked(vecs, threshold=0.5, n_blocks=16).collect()
    )
    assert len(blocked) == len(set(blocked))  # no duplicate pairs
    assert blocked == exact
    assert len(exact) > 0


def test_knn_blocked_survives_zero_norm_corpus_vector(spark):
    """Regression (r5 review): a zero-norm corpus vector produced NaN
    cosines that poisoned the block-local k-th threshold and silently
    dropped ALL candidates for the block; valid candidates must
    survive and the zero-norm row must simply never rank."""
    from data_eng_project_spark.operators.similarity import knn_join_blocked

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05])], "vec_id long, embedding array<double>"
    )
    out = knn_join_blocked(
        queries, corpus, k=5, n_query_blocks=1, n_corpus_blocks=1
    ).collect()
    got = {r["cid"] for r in out}
    assert got == {1, 2}  # valid neighbors kept, zero-norm row absent


def test_ngram_jaccard_collapsed_classes(spark):
    """Exact-collapse semantics: case/whitespace variants form one
    class represented by the smallest id; the similarity join runs over
    representatives only; a near-dup class pair is emitted ONCE with
    both class sizes and the implied member-pair count; the jaccard
    equals the plain pair join's value between the representatives."""
    from data_eng_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_collapsed,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy dog again and once"
    other = "completely different content about spark shuffle partitions"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.upper()),                  # case variant → class of 1,2,3
            (3, "  " + base.replace(" ", "  ")),  # whitespace variant
            (4, near),
            (5, near + " "),                    # trailing space → class of 4,5
            (6, other),                         # singleton, no near-dups
        ],
        "doc_id long, text string",
    )
    rows = ngram_jaccard_pairs_collapsed(docs, "text", "doc_id", threshold=0.3).collect()
    got = {(r.id_a, r.id_b): r for r in rows}
    assert set(got) == {(1, 4)}, got
    r = got[(1, 4)]
    assert (r.n_docs_a, r.n_docs_b, r.n_doc_pairs) == (3, 2, 6)
    plain = {
        (p.id_a, p.id_b): p.jaccard
        for p in ngram_jaccard_pairs(
            docs.filter(F.col("doc_id").isin(1, 4, 6)), "text", "doc_id", threshold=0.3
        ).collect()
    }
    assert r.jaccard == plain[(1, 4)]


def test_ann_recall_report_planted_and_shape(vectors):
    from data_eng_project_spark.operators.similarity import ann_recall_report

    rep = {
        r["method"]: r
        for r in ann_recall_report(
            vectors,
            query_ids=[0, 1, 2],
            k=3,
            n_clusters=4,
            n_probe=2,
            m=4,
            nbits=4,
            rerank_factor=4,
            contracts={"ivf": 0.3, "pq": 0.1, "ivfpq": 0.1},
            include_recall=True,
        ).collect()
    }
    assert set(rep) == {"ivf", "pq", "ivfpq"}
    for r in rep.values():
        assert r["n_queries"] == 3 and r["k"] == 3 and r["exact_rows"] == 9
        assert 0.0 <= r["recall"] <= 1.0
    # Planted near-dups of query 0 land in its own cluster: IVF finds
    # {0,100,101} for that query, so its recall is at least 3/9.
    assert rep["ivf"]["recall"] >= 1 / 3


def test_ann_recall_report_degenerate_params_give_full_recall(vectors):
    """Full probe (n_probe = n_clusters) and a shortlist wider than the
    corpus (rerank_factor*k >= n) degenerate every method to the exact
    k-NN — recall must be exactly 1.0 for all three. This pins the
    per-qid join/rank plumbing independent of k-means behavior."""
    from data_eng_project_spark.operators.similarity import ann_recall_report

    rows = ann_recall_report(
        vectors,
        query_ids=[0, 5, 100],
        k=3,
        n_clusters=4,
        n_probe=4,
        m=4,
        nbits=4,
        rerank_factor=30,
        # lsh deliberately excluded: banding is candidate-LIMITING by
        # nature (a neighbor beyond Hamming max_hamming is unreachable
        # at any rerank width), so no parameter choice degenerates it
        # to exact k-NN.
        contracts={"ivf": 0.5, "pq": 0.5, "ivfpq": 0.3},
        include_recall=True,
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["recall"] == 1.0 and bool(r["recall_ok"]), r["method"]


def test_ann_recall_report_missing_query_id_raises(vectors):
    from data_eng_project_spark.operators.similarity import ann_recall_report

    with pytest.raises(ValueError, match="query ids not found"):
        ann_recall_report(vectors, query_ids=[0, 99999], k=3)


def test_ann_recall_report_testdata_floors(spark):
    """Recall floors on the driver's own synthetic embeddings (sf0.001,
    the adversarial no-structure case) — the registered contracts
    (0.4/0.2/0.2/0.1) sit well below these, so the oracle booleans
    carry real margin."""
    from data_eng_project_spark.operators.similarity import ann_recall_report

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rep = {
        r["method"]: r["recall"]
        for r in ann_recall_report(
            emb, query_ids=list(range(8)), include_recall=True
        ).collect()
    }
    assert rep["ivf"] >= 0.5
    assert rep["pq"] >= 0.3
    assert rep["ivfpq"] >= 0.25
    # hyperplane-LSH (16 planes, 3 bands): measured 0.25/0.21/0.34
    # across sf0.001/0.01/0.1
    assert rep["lsh"] >= 0.15


def test_minhash_lsh_collapsed_classes_and_noop_on_distinct(spark):
    """The LSH twin of the exact-collapse: duplicate classes collapse to
    their min-id representative before the banded join (class pair
    emitted once, sizes and member-pair mass carried); on an
    all-distinct corpus the collapse is a no-op and the pairs equal
    plain minhash_lsh_pairs with all class sizes 1."""
    from data_eng_project_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_collapsed,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy dog again and once"
    other = "completely different content about spark shuffle partitions"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.upper()),
            (3, "  " + base.replace(" ", "  ")),
            (4, near),
            (5, near + " "),
            (6, other),
        ],
        "doc_id long, text string",
    )
    rows = minhash_lsh_pairs_collapsed(
        docs, "text", "doc_id", threshold=0.3
    ).collect()
    got = {(r.id_a, r.id_b): r for r in rows}
    assert set(got) == {(1, 4)}, got
    r = got[(1, 4)]
    assert (r.n_docs_a, r.n_docs_b, r.n_doc_pairs) == (3, 2, 6)

    distinct = docs.filter(F.col("doc_id").isin(1, 4, 6))
    plain = {
        (p.id_a, p.id_b): p.jaccard
        for p in minhash_lsh_pairs(
            distinct, "text", "doc_id", threshold=0.3
        ).collect()
    }
    col = {
        (p.id_a, p.id_b): p
        for p in minhash_lsh_pairs_collapsed(
            distinct, "text", "doc_id", threshold=0.3
        ).collect()
    }
    assert set(col) == set(plain) and len(plain) > 0
    for k, p in col.items():
        assert p.jaccard == plain[k]
        assert (p.n_docs_a, p.n_docs_b, p.n_doc_pairs) == (1, 1, 1)


def test_minhash_signatures_match_band_row_formulation(spark):
    """The module's two signature formulations — minhash_signatures
    (shingles raw text itself) and lsh_band_rows (consumes pre-built
    _mkeys arrays), both explode→groupBy min-aggregates since the r11
    A/B — must produce identical signatures for the same corpus (same
    md5-derived keys, same universal-hash params), so the persisted
    index and any groupBy-path consumer can never disagree. Reconstruct
    each band bucket from minhash_signatures and compare with
    lsh_band_rows' buckets exactly."""
    from data_eng_project_spark.operators.dedup import (
        _shingle_sets_direct,
        lsh_band_rows,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    sig = {
        r["id"]: r["signature"]
        for r in minhash_signatures(docs, "text", "doc_id", num_hashes=64).collect()
    }
    rows = lsh_band_rows(
        _shingle_sets_direct(docs, "text", "doc_id", 3, with_minhash_keys=True),
        num_hashes=64,
        bands=16,
    ).collect()
    assert {r["id"] for r in rows} == set(sig)
    for r in rows:
        b, vals = r["band"], sig[r["id"]]
        expect = "_".join(str(vals[b * 4 + j]) for j in range(4))
        assert r["bucket"] == expect


def test_simhash_pairs_collapsed_classes_and_noop_on_distinct(spark):
    """The SimHash twin of the collapse (r11): duplicate classes
    collapse to min-id representatives before the quarter-band join;
    on an all-distinct corpus the pairs equal plain simhash_pairs with
    all class sizes 1."""
    from data_eng_project_spark.operators.dedup import (
        simhash_pairs,
        simhash_pairs_collapsed,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " again"  # one reinforcing token: Hamming 2 from base
    other = "completely different content about spark shuffle partitions"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.upper()),
            (3, "  " + base.replace(" ", "  ")),
            (4, near),
            (5, near + " "),
            (6, other),
        ],
        "doc_id long, text string",
    )
    rows = simhash_pairs_collapsed(docs, "text", "doc_id").collect()
    got = {(r.id_a, r.id_b): r for r in rows}
    assert (1, 4) in got, got
    r = got[(1, 4)]
    assert (r.n_docs_a, r.n_docs_b, r.n_doc_pairs) == (3, 2, 6)

    distinct = docs.filter(F.col("doc_id").isin(1, 4, 6))
    plain = {
        (p.id_a, p.id_b): p.hamming
        for p in simhash_pairs(distinct, "text", "doc_id").collect()
    }
    col = {
        (p.id_a, p.id_b): p
        for p in simhash_pairs_collapsed(distinct, "text", "doc_id").collect()
    }
    assert set(col) == set(plain) and len(plain) > 0
    for k, p in col.items():
        assert p.hamming == plain[k]
        assert (p.n_docs_a, p.n_docs_b, p.n_doc_pairs) == (1, 1, 1)


def test_containment_pairs_collapsed_classes_and_noop_on_distinct(spark):
    """The containment twin of the collapse (r12, the fourth pair family
    to get the posture): duplicate classes collapse to min-id
    representatives before the prefix-filtered containment join; on an
    all-distinct corpus the pairs equal plain ngram_containment_pairs
    with all class sizes 1."""
    from data_eng_project_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_containment_pairs_collapsed,
    )

    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "alpha beta gamma delta epsilon"  # wholly contained in long
    other = "completely different words about spark shuffle partition plans"
    docs = spark.createDataFrame(
        [
            (1, long),
            (2, long.upper()),
            (3, "  " + long.replace(" ", "  ")),
            (4, short),
            (5, short + " "),
            (6, other),
        ],
        "doc_id long, text string",
    )
    rows = ngram_containment_pairs_collapsed(
        docs, "text", "doc_id", n=3, threshold=0.8
    ).collect()
    got = {(r.id_a, r.id_b): r for r in rows}
    assert (1, 4) in got, got
    r = got[(1, 4)]
    assert r.containment == 1.0
    assert (r.n_docs_a, r.n_docs_b, r.n_doc_pairs) == (3, 2, 6)

    distinct = docs.filter(F.col("doc_id").isin(1, 4, 6))
    plain = {
        (p.id_a, p.id_b): p.containment
        for p in ngram_containment_pairs(
            distinct, "text", "doc_id", n=3, threshold=0.8
        ).collect()
    }
    col = {
        (p.id_a, p.id_b): p
        for p in ngram_containment_pairs_collapsed(
            distinct, "text", "doc_id", n=3, threshold=0.8
        ).collect()
    }
    assert set(col) == set(plain) and len(plain) > 0
    for k, p in col.items():
        assert p.containment == plain[k]
        assert (p.n_docs_a, p.n_docs_b, p.n_doc_pairs) == (1, 1, 1)


def test_semdedup_accuracy_report_counts_match_components(vectors):
    """The report's counts must equal the ones computed directly from
    its two constituent operators (semdedup flags, exact all-pairs dup
    ids) — pins the join/count plumbing independent of k-means
    behavior. Also: the planted near-dups of vector 0 (ids 100, 101)
    are exact dups at τ=0.9, so the ground-truth side is non-trivial."""
    from data_eng_project_spark.operators.similarity import (
        all_pairs_above,
        semdedup,
        semdedup_accuracy_report,
    )

    sem_dups = {
        r.vec_id
        for r in semdedup(vectors, n_clusters=4, threshold=0.9).collect()
        if r.is_dup
    }
    exact_dups = {
        r.id_b for r in all_pairs_above(vectors, threshold=0.9).collect()
    }
    assert {100, 101} <= exact_dups
    r = semdedup_accuracy_report(
        vectors, n_clusters=4, threshold=0.9, include_metrics=True
    ).collect()[0]
    assert r["n_vectors"] == 62
    assert r["n_exact_dups"] == len(exact_dups)
    assert r["n_sem_dups"] == len(sem_dups)
    assert r["n_hits"] == len(sem_dups & exact_dups)
    assert bool(r["precision_exact"]) == (sem_dups <= exact_dups)


def test_semdedup_accuracy_report_subset_invariant(vectors):
    """Cluster-restricted dups are a subset of global dups at ANY
    clustering — precision_exact holds and n_sem_dups ≤ n_exact_dups
    whatever k-means did."""
    from data_eng_project_spark.operators.similarity import semdedup_accuracy_report

    r = semdedup_accuracy_report(
        vectors, n_clusters=8, threshold=0.45, include_metrics=True
    ).collect()[0]
    assert bool(r["precision_exact"])
    assert r["n_hits"] == r["n_sem_dups"] <= r["n_exact_dups"]
    assert 0.0 <= r["recall"] <= 1.0


def test_semdedup_accuracy_report_empty_dup_set_vacuous(vectors):
    """An unreachable threshold yields zero exact dups; recall is 0/0
    and must grade vacuously true, not NULL or a crash."""
    from data_eng_project_spark.operators.similarity import semdedup_accuracy_report

    r = semdedup_accuracy_report(
        vectors, n_clusters=4, threshold=1.5, include_metrics=True
    ).collect()[0]
    assert r["n_exact_dups"] == 0 and r["n_sem_dups"] == 0
    assert bool(r["precision_exact"]) and bool(r["recall_ok"])


def test_semdedup_accuracy_report_testdata_floor(spark):
    """Measured recall floor on the driver's own synthetic embeddings
    (sf0.001; random vectors = the adversarial threshold-grazing case).
    The registered contract (0.15) sits well below the measured
    0.286/0.571/0.311 at sf0.001/0.01/0.1, so the oracle boolean
    carries real margin."""
    from data_eng_project_spark.operators.similarity import semdedup_accuracy_report

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    r = semdedup_accuracy_report(
        emb, n_clusters=16, threshold=0.45, recall_contract=0.15,
        include_metrics=True,
    ).collect()[0]
    assert bool(r["precision_exact"])
    assert r["recall"] >= 0.25
    assert bool(r["recall_ok"])


def test_all_pairs_collapsed_matches_blocked_on_distinct(vectors):
    """With all-distinct vectors the collapse is a no-op: class pairs
    equal the plain blocked pairs with all class sizes 1."""
    from data_eng_project_spark.operators.similarity import (
        all_pairs_above_blocked,
        all_pairs_above_collapsed,
    )

    plain = {
        (r.id_a, r.id_b): r.cosine
        for r in all_pairs_above_blocked(vectors, threshold=0.9).collect()
    }
    col = {
        (r.id_a, r.id_b): r
        for r in all_pairs_above_collapsed(vectors, threshold=0.9).collect()
    }
    assert set(col) == set(plain) and len(plain) > 0
    for k, r in col.items():
        assert r.cosine == plain[k]
        assert r.n_vecs_a == 1 and r.n_vecs_b == 1 and r.n_vec_pairs == 1


def test_all_pairs_collapsed_duplicate_classes(spark):
    """Planted duplicate classes: k byte-identical copies collapse to
    the min-id representative, pair rows carry class sizes, and the
    implied member-pair mass equals what the plain form would emit
    cross-class."""
    from data_eng_project_spark.operators.similarity import (
        all_pairs_above_blocked,
        all_pairs_above_collapsed,
    )

    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.9, 0.1, 0.0, 0.0]  # near-dup of a
    c = [0.0, 0.0, 1.0, 0.0]  # unrelated
    rows = (
        [(i, a) for i in (10, 11, 12)]        # class A, size 3, rep 10
        + [(20 + i, b) for i in range(2)]      # class B, size 2, rep 20
        + [(30, c)]                            # singleton
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    col = {
        (r.id_a, r.id_b): r
        for r in all_pairs_above_collapsed(df, threshold=0.5).collect()
    }
    assert set(col) == {(10, 20)}
    r = col[(10, 20)]
    assert (r.n_vecs_a, r.n_vecs_b, r.n_vec_pairs) == (3, 2, 6)
    # The plain form pays the quadratic price: 3·2 cross-class copies
    # of the SAME logical pair plus C(3,2)+C(2,2) intra-class rows.
    plain = all_pairs_above_blocked(df, threshold=0.5).collect()
    cross = [p for p in plain if p.cosine < 1.0]
    intra = [p for p in plain if p.cosine == 1.0]
    assert len(cross) == 6 and len(intra) == 3 + 1


def test_pca_trace_report_contracts(spark):
    import numpy as np

    from data_eng_project_spark.operators.linalg import pca_trace_report

    rng = np.random.RandomState(11)
    vecs = rng.uniform(-1, 1, size=(80, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    r = pca_trace_report(df).collect()[0]
    assert r["n_vecs"] == 80 and r["dim"] == 8
    assert bool(r["eigensum_matches_trace"]) and bool(r["components_orthonormal"])
    # The reported trace equals the population per-dim variance sum
    # (float32 storage: compare at the round-trip precision).
    v32 = vecs.astype(np.float32).astype(np.float64)
    want = float(v32.var(axis=0).sum())
    assert abs(r["total_variance"] - want) < 1e-5


def test_bpe_roundtrip_report_counts(spark):
    from data_eng_project_spark.operators.tokenizer import (
        bpe_fit,
        bpe_roundtrip_report,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "THE CAT!!"),          # case-folds and strips punctuation
            (3, ""),                   # empty doc: 0 words, still counted
            (4, None),                 # NULL text: 0 words, still counted
        ],
        "doc_id long, text string",
    )
    merges = bpe_fit([("the", 10), ("cat", 5), ("mat", 2)], n_merges=20)
    r = bpe_roundtrip_report(docs, merges).collect()[0]
    assert r["n_docs"] == 4
    assert r["n_words"] == 6 + 2  # doc1: 6 words, doc2: 2
    assert bool(r["all_roundtrip"]) and bool(r["no_empty_pieces"])
    # Empty merge table: every word round-trips as characters+EOW.
    r0 = bpe_roundtrip_report(docs, []).collect()[0]
    assert bool(r0["all_roundtrip"]) and r0["n_words"] == 8


def test_quantized_topk_agreement_planted_truth(spark):
    """Exact duplicates of a probe must appear in BOTH rankings (overlap
    includes them); an orthogonal-ish corpus keeps overlap == k when the
    code cosine preserves order; and a probe with no overlap degradation
    reports exactly k. Also: the probe census survives zero-overlap
    probes (left-join + coalesce path)."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_eng_project_spark.operators.curation import (
        quantized_topk_agreement,
    )

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = rng.normal(size=8)
        rows.append((i, [float(x) for x in v]))
    # plant exact duplicates of probe 0 (ids 100, 101): same direction,
    # scaled — cosine 1.0 under both float and int8 rankings
    base = np.array(rows[0][1])
    rows.append((100, [float(x) for x in base * 2.0]))
    rows.append((101, [float(x) for x in base * 0.5]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["probe_id"]: r["n_overlap"]
        for r in quantized_topk_agreement(
            df, F.col("vec_id").isin(0, 100), k=5
        ).collect()
    }
    # census: exactly the requested probes, each with overlap in [0, k]
    assert set(out) == {0, 100}
    assert all(0 <= v <= 5 for v in out.values())
    # The planted exact-duplicate family (0, 100, 101 — same direction,
    # different scales) has cosine 1.0 under BOTH the float and the
    # int8-code ranking (cosine is scale-invariant and the codes of a
    # scaled copy differ only by float rounding), so all three ids sit
    # in both top-5 sets of both probes: overlap at least 3.
    assert out[0] >= 3 and out[100] >= 3


def test_quantize_int8_reconstruction_bound_randomized(spark):
    """Mathematical invariants of the int8 quantizer on random vectors
    (no fixture pins these): codes stay in [-127, 127], every element
    reconstructs within half a quantization step (|x - q/s| <= 1/(2s),
    s = 127/max|x|), the reported rmse equals the per-element math, and
    an all-zero vector yields NULL scale/q_sum/rmse (documented: NULL,
    not a division blow-up)."""
    import math

    import numpy as np

    from data_eng_project_spark.operators.curation import (
        quantize_embeddings_int8,
    )

    rng = np.random.default_rng(11)
    rows = []
    for i in range(60):
        dim = int(rng.integers(1, 96))
        scale_mag = 10.0 ** float(rng.uniform(-3, 3))
        v = rng.normal(size=dim) * scale_mag
        rows.append((i, [float(x) for x in v]))
    rows.append((999, [0.0] * 16))  # all-zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}

    zero = out[999]
    assert zero["scale"] is None and zero["q_sum"] is None and zero["rmse"] is None

    by_id = dict(rows)
    for vid, r in out.items():
        if vid == 999:
            continue
        x = np.array(by_id[vid], dtype=np.float32).astype(np.float64)
        s = 127.0 / np.abs(x).max()
        q = np.round(x * s)
        assert np.all(np.abs(q) <= 127), vid
        # reported scale is the 6dp-rounded s
        assert abs(r["scale"] - round(s, 6)) < 1e-12, vid
        assert r["q_sum"] == int(q.sum()), vid
        # half-step reconstruction bound, with float slack
        err = np.abs(x - q / s)
        assert np.all(err <= 0.5 / s * (1 + 1e-9) + 1e-300), vid
        want_rmse = round(math.sqrt(float(((x - q / s) ** 2).sum()) / len(x)), 6)
        assert abs(r["rmse"] - want_rmse) < 2e-6, (vid, r["rmse"], want_rmse)


def test_quantized_topk_agreement_testdata_floor(spark):
    """Pin the corpus-measured agreement floor so a silent quality
    regression in the quantizer (or a loosened panel/ranking) cannot
    pass unnoticed: at sf0.001 every probe's int8 top-10 overlaps the
    float top-10 in at least 8 of 10 positions, and the panel-wide
    mean stays >= 9.5/10 (measured 9-10 per probe, mean 9.7)."""
    from data_eng_project_spark.plans import REGISTRY

    rows = (
        REGISTRY["quantized_topk_agreement"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert len(rows) == 10
    overlaps = [r["n_overlap"] for r in rows]
    assert min(overlaps) >= 8, overlaps
    assert sum(overlaps) / len(overlaps) >= 9.5, overlaps
