"""Dataset-management query surface: deterministic weighted sampling,
per-key trend fitting, Markov transition matrices, snapshot diffing,
cross-source quantile normalization, and dedup-aware representative
selection (operators/datasetops.py), each with an exact DuckDB oracle.

The reference is a civic-data ETL with none of these (SURVEY.md §2);
they extend the training-data-pipeline families the brief mandates:
PPS sampling and quantile normalization are the dataset-mixing
primitives, snapshot diff is the dataset-versioning primitive, and
representative selection is the keep-decision step downstream of
dedup clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_eng_project_spark.operators import dedup as D
from data_eng_project_spark.operators.clusters import (
    bfs_hops,
    common_neighbor_stats,
    pagerank,
    triangle_stats,
)
from data_eng_project_spark.operators.datasetops import (
    chunk_documents,
    cluster_representatives,
    er_entity_groups,
    exact_quota_split,
    fuzzy_name_pairs,
    groupwise_ols,
    incremental_join_view_merge,
    pps_systematic_sample,
    priority_sample,
    quantile_normalize,
    snapshot_diff,
    sorted_neighborhood_pairs,
    transition_matrix,
)
from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.plans.textdata import (
    _COMPONENT_CTES,
    _NGRAM_CTES,
    _ngram_ctes,
    JACCARD_THRESHOLD,
)
from data_eng_project_spark.tables import TABLE_NAMES, load_table

_PPS_K = 10


@register(
    "pps_sample_by_source",
    oracle=f"""
        WITH w AS (
            SELECT source AS stratum, doc_id AS id,
                   greatest(n_chars, 1) AS wt
            FROM documents
        ), c AS (
            SELECT stratum, id, wt,
                   sum(wt) OVER (PARTITION BY stratum ORDER BY id) AS cum
            FROM w
        ), t AS (
            SELECT stratum, sum(wt) AS total FROM w GROUP BY stratum
        )
        SELECT c.stratum, c.id, CAST(c.wt AS BIGINT) AS weight,
               CAST(((c.cum - c.wt) * {_PPS_K}) // t.total + 1 AS BIGINT)
                   AS pick_index
        FROM c JOIN t USING (stratum)
        WHERE (c.cum * {_PPS_K}) // t.total
              > ((c.cum - c.wt) * {_PPS_K}) // t.total
    """,
    tags=("datasetops", "sampling"),
)
def pps_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic PPS sample, 10 PICKS per source
    weighted by length (a certainty unit absorbing multiple pick
    boundaries is emitted once, so a skewed source can return fewer
    than 10 rows — see operators/datasetops.pps_systematic_sample) —
    the standard design for building a fixed-budget inspection/eval
    subset whose inclusion probability tracks how much of the token
    budget each document represents. Pure BIGINT arithmetic: no RNG,
    identical on any engine."""
    docs = load_table(spark, sf_dir, "documents")
    return pps_systematic_sample(
        docs, weight_col="n_chars", strata_col="source", id_col="doc_id",
        k_per_stratum=_PPS_K,
    )


@register(
    "winsorize_length_bounds",
    oracle="""
        WITH s AS (
            SELECT source, count(*) AS n FROM documents GROUP BY source
        ), t AS (
            SELECT source,
                   (n - 1) * 5  // 100 + 1 AS lo_rank,
                   (n - 1) * 95 // 100 + 1 AS hi_rank
            FROM s
        ), r AS (
            SELECT source, n_chars,
                   row_number() OVER (
                       PARTITION BY source ORDER BY n_chars ASC
                   ) AS rk
            FROM documents
        ), cuts AS (
            SELECT r.source,
                   CAST(max(CASE WHEN r.rk = t.lo_rank THEN r.n_chars END)
                        AS BIGINT) AS lo_cut,
                   CAST(max(CASE WHEN r.rk = t.hi_rank THEN r.n_chars END)
                        AS BIGINT) AS hi_cut
            FROM r JOIN t ON r.source = t.source
            GROUP BY r.source
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               max(c.lo_cut) AS lo_cut,
               max(c.hi_cut) AS hi_cut,
               CAST(sum(CASE WHEN d.n_chars < c.lo_cut THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_below,
               CAST(sum(CASE WHEN d.n_chars > c.hi_cut THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_above,
               round(CAST(sum(greatest(c.lo_cut, least(d.n_chars, c.hi_cut)))
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                   AS winsorized_mean
        FROM documents d JOIN cuts c ON d.source = c.source
        GROUP BY d.source
    """,
    tags=("datasetops", "curation", "robust", "percentile"),
)
def winsorize_length_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorization profile: exact p5/p95 length cuts
    (value at rank ⌊(n−1)·pct/100⌋+1 — integer rank arithmetic, no
    float interpolation), the tail counts outside them, and the clamped
    mean — the robust-scaling preamble run before z-scoring per-source
    quality scores (raw means are hostage to tail outliers; the
    winsorized mean is the stable center).

    Scale: sources are low-cardinality over the whole corpus, so a rank
    window would funnel each source through one task; the two
    percentile selections go through
    operators/datasetops.distributed_rank_select (sort ONLY the bucket
    containing each target rank — 1/n_buckets of the group), and the
    clamp pass is a broadcast of the |sources|-row cuts table into one
    partial-aggregable rollup. The DuckDB twin's plain rank window
    selects the identical value because the value AT a rank is
    deterministic under ties."""
    from data_eng_project_spark.operators.datasetops import winsorize_group_stats

    docs = load_table(spark, sf_dir, "documents")
    return winsorize_group_stats(docs, "n_chars", "source", lo_pct=5, hi_pct=95)


@register(
    "per_user_value_trend",
    oracle="""
        WITH x AS (
            SELECT user_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS x,
                   CAST(value AS DECIMAL(28,6)) AS y
            FROM events
        ), s AS (
            SELECT user_id, count(*) AS n,
                   sum(x) AS sx, sum(x * x) AS sxx,
                   CAST(sum(y) AS DOUBLE) AS sy,
                   CAST(sum(CAST(x AS DECIMAL(9,0)) * y) AS DOUBLE) AS sxy
            FROM x GROUP BY user_id
        )
        SELECT user_id,
               CAST(n AS BIGINT) AS n_obs,
               round((CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope,
               round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                            / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                     / CAST(n AS DOUBLE), 6) AS intercept
        FROM s WHERE n >= 3
    """,
    tags=("datasetops", "regression", "analytics"),
)
def per_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of event value against observation index —
    grouped regression via the map-side-combinable sufficient-statistics
    formulation (each group reduces to five exact sums; the closed form
    runs on the aggregate, never the rows)."""
    events = load_table(spark, sf_dir, "events")
    return groupwise_ols(
        events, key_col="user_id", order_cols=["ts", "event_id"],
        y_col="value", min_n=3,
    ).withColumnRenamed("key", "user_id")


@register(
    "event_transition_matrix",
    oracle="""
        WITH steps AS (
            SELECT event_type AS from_state,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_state
            FROM events
        ), c AS (
            SELECT from_state, to_state, count(*) AS n_transitions
            FROM steps WHERE to_state IS NOT NULL
            GROUP BY from_state, to_state
        )
        SELECT from_state, to_state,
               CAST(n_transitions AS BIGINT) AS n_transitions,
               round(n_transitions
                     / CAST(sum(n_transitions)
                            OVER (PARTITION BY from_state) AS DOUBLE),
                     6) AS prob
        FROM c
    """,
    tags=("datasetops", "behavioral", "markov"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    session history: lead() over each user's timeline, then a
    |states|²-cardinality aggregate — the normalization window runs on
    the tiny aggregate, not the events."""
    events = load_table(spark, sf_dir, "events")
    return transition_matrix(
        events, key_col="user_id", order_cols=["ts", "event_id"],
        state_col="event_type",
    )


@register(
    "snapshot_diff_orders",
    oracle="""
        WITH a AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 97 < 90
        ), b AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 11 = 0 THEN 'X'
                        ELSE o_orderstatus END AS o_orderstatus,
                   CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10.0
                        ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % 89 < 85
        ), j AS (
            SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
                   CASE WHEN a.o_orderkey IS NOT NULL
                             AND b.o_orderkey IS NOT NULL
                             AND NOT (a.o_orderstatus
                                      IS NOT DISTINCT FROM b.o_orderstatus)
                        THEN 1 ELSE 0 END AS chg_status,
                   CASE WHEN a.o_orderkey IS NOT NULL
                             AND b.o_orderkey IS NOT NULL
                             AND NOT (a.o_totalprice
                                      IS NOT DISTINCT FROM b.o_totalprice)
                        THEN 1 ELSE 0 END AS chg_price
            FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        )
        SELECT CASE WHEN ka IS NULL THEN 'added'
                    WHEN kb IS NULL THEN 'removed'
                    WHEN chg_status + chg_price > 0 THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               count(*) AS n_rows,
               CAST(sum(chg_status) AS BIGINT) AS n_changed_o_orderstatus,
               CAST(sum(chg_price) AS BIGINT) AS n_changed_o_totalprice
        FROM j GROUP BY 1
    """,
    tags=("datasetops", "versioning", "cdc"),
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff: two deterministic snapshots of orders
    (dropped keys, drifted status/price) classified added / removed /
    changed / unchanged with per-column drift counts — one full-outer
    join + a 4-row aggregate. The snapshot derivations are test
    plumbing computed identically on both engines; the operator under
    test is the null-safe keyed diff."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 97 < 90).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = orders.filter(F.col("o_orderkey") % 89 < 85).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return snapshot_diff(
        a, b, key_col="o_orderkey",
        compare_cols=["o_orderstatus", "o_totalprice"],
    )


@register(
    "quality_quantile_normalize",
    oracle="""
        WITH s AS (
            SELECT doc_id AS id, source AS stratum, n_chars AS score
            FROM documents
        ), r AS (
            SELECT id, stratum, score,
                   row_number() OVER (
                       PARTITION BY stratum ORDER BY score, id
                   ) AS src_rank
            FROM s
        ), np AS (
            SELECT stratum, count(*) AS n_s FROM s GROUP BY stratum
        ), nt AS (
            SELECT count(*) AS n_total FROM s
        ), g AS (
            SELECT row_number() OVER (ORDER BY score, id) AS g_rank,
                   score AS norm_score
            FROM s
        ), tr AS (
            SELECT r.id, r.stratum, r.score, r.src_rank,
                   CASE WHEN np.n_s > 1
                        THEN ((r.src_rank - 1) * (nt.n_total - 1))
                             // (np.n_s - 1) + 1
                        ELSE (nt.n_total + 1) // 2 END AS target_rank
            FROM r JOIN np USING (stratum) CROSS JOIN nt
        )
        SELECT tr.id, tr.stratum,
               CAST(tr.score AS BIGINT) AS score,
               CAST(tr.src_rank AS BIGINT) AS src_rank,
               CAST(g.norm_score AS BIGINT) AS norm_score
        FROM tr JOIN g ON tr.target_rank = g.g_rank
    """,
    tags=("datasetops", "normalization", "curation"),
)
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of a per-document score:
    each document's within-source rank maps onto the global score
    distribution, making per-source score scales comparable before one
    global keep-threshold — exact integer empirical-quantile lookup,
    no floating-point percent_rank anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    return quantile_normalize(
        docs, score_col="n_chars", strata_col="source", id_col="doc_id"
    )


@register(
    "dedup_canonical_keep",
    oracle=f"""
        WITH RECURSIVE {_NGRAM_CTES},{_COMPONENT_CTES},
        comp AS (
            SELECT src AS id, least(src, min(dst)) AS component
            FROM reach GROUP BY src
        ),
        lab AS (
            SELECT d.doc_id AS id,
                   coalesce(c.component, d.doc_id) AS component,
                   d.n_chars AS quality
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        )
        SELECT id, component, CAST(quality AS BIGINT) AS quality,
               row_number() OVER (
                   PARTITION BY component ORDER BY quality DESC, id
               ) = 1 AS keep
        FROM lab
    """,
    tags=("datasetops", "dedup", "selection"),
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-decision downstream of dedup clustering: one survivor
    per near-dup component, chosen by quality (longest doc, ties to
    smallest id) instead of id-order accident; documents outside any
    component keep trivially. Consumes the STAGED component artifact
    (pipelines/staging.py) — the expensive pair join and the iterative
    components run once per corpus, shared with PageRank / triangles /
    soft-dedup / the leakage audit."""
    from data_eng_project_spark.pipelines.staging import dup_components

    docs = load_table(spark, sf_dir, "documents")
    comps = dup_components(spark, sf_dir, n=3, threshold=JACCARD_THRESHOLD)
    return cluster_representatives(
        docs, comps, id_col="doc_id", quality_col="n_chars"
    )


_FUZZY_MAX_DIST = 3
_CHUNK_W, _CHUNK_S = 50, 40


@register(
    "fuzzy_part_name_pairs",
    oracle=f"""
        WITH names AS (SELECT DISTINCT p_name AS name FROM part),
        toks AS (
            SELECT DISTINCT name,
                   unnest(string_split_regex(trim(name), '\\s+')) AS tok
            FROM names
        ),
        cand AS (
            SELECT DISTINCT a.name AS name_a, b.name AS name_b
            FROM toks a JOIN toks b ON a.tok = b.tok AND a.name < b.name
        )
        SELECT name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS BIGINT) AS distance
        FROM cand WHERE levenshtein(name_a, name_b) <= {_FUZZY_MAX_DIST}
    """,
    tags=("datasetops", "entity-resolution", "fuzzy"),
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy match over the distinct part-name
    registry: shared-token inverted-index blocking (equi-join, never
    cross join) then exact Levenshtein verification ≤ 3 — the classic
    block-then-verify shape, over the engine-native levenshtein (JVM
    codegen on the Spark side, identical metric on DuckDB)."""
    part = load_table(spark, sf_dir, "part")
    return fuzzy_name_pairs(part, "p_name", max_distance=_FUZZY_MAX_DIST)


@register(
    "chunk_documents_overlap",
    oracle=f"""
        WITH t AS (
            SELECT doc_id AS id,
                   string_split_regex(trim(text), '\\s+') AS toks,
                   len(string_split_regex(trim(text), '\\s+')) AS n
            FROM documents
        ), nc AS (
            SELECT id, toks, n,
                   CASE WHEN n <= {_CHUNK_W} THEN 1
                        ELSE (n - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S} + 1
                        END AS n_chunks
            FROM t
        ), c AS (
            SELECT id, toks, n,
                   unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
            FROM nc
        )
        SELECT id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(chunk_idx * {_CHUNK_S} AS BIGINT) AS start_tok,
               CAST(least(chunk_idx * {_CHUNK_S} + {_CHUNK_W}, n) AS BIGINT)
                   AS end_tok,
               CAST(least(chunk_idx * {_CHUNK_S} + {_CHUNK_W}, n)
                    - chunk_idx * {_CHUNK_S} AS BIGINT) AS n_chunk_tokens,
               md5(array_to_string(
                   list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                              least(chunk_idx * {_CHUNK_S} + {_CHUNK_W}, n)),
                   ' ')) AS chunk_hash
        FROM c
    """,
    tags=("datasetops", "chunking", "rag"),
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping chunker: 50-token windows advancing by 40
    (10-token overlap), per-chunk offsets + content hash, all
    whole-stage-codegen built-ins (split/sequence/explode/slice/md5).
    The loader-side complement of pack_sequences_chunked (which packs
    WITHOUT overlap for pretraining; retrieval chunking overlaps so no
    boundary-spanning answer is lost)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "text", "doc_id", window=_CHUNK_W, stride=_CHUNK_S
    )


@register(
    "incremental_join_view_update",
    oracle="""
        SELECT c.c_nationkey AS nation_key,
               count(*) AS n_rows,
               round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(28,6)))
                          AS DOUBLE), 6) AS total
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey
    """,
    tags=("datasetops", "ivm", "incremental"),
)
def incremental_join_view_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a join-aggregate view (revenue per
    nation over orders ⋈ customer): the Spark side refreshes the view
    by aggregating ONLY the order delta (keys ≥ the watermark split)
    joined to the stable dimension and merging mergeable partials with
    the old state — Δ(A⋈B) = ΔA⋈B with B stable, history never
    rescanned. The oracle is the full recompute over all orders, so
    the parity check certifies that delta maintenance and recompute
    agree exactly."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nation_key"),
    )
    old_fact = orders.filter(F.col("o_orderkey") % 101 < 95)
    delta_fact = orders.filter(F.col("o_orderkey") % 101 >= 95)
    old_state = (
        old_fact.join(customer, "o_custkey")
        .groupBy("nation_key")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("total"),
        )
    )
    new_state = incremental_join_view_merge(
        old_state, delta_fact, customer,
        join_key="o_custkey", group_key="nation_key", sum_col="o_totalprice",
    )
    return new_state.select(
        "nation_key",
        "n_rows",
        F.round(F.col("total").cast("double"), 6).alias("total"),
    )


def _pagerank_oracle(n_iter: int = 10, damping: float = 0.85) -> str:
    """Recursive SQL rejects aggregation inside the recursive term, but
    a FIXED-iteration power method unrolls into ``n_iter`` chained CTEs
    — one global join+groupBy matvec each. operators/clusters.pagerank
    solves per component instead; that is exact because the symmetrized
    graph has no dangling nodes, and each term is the same
    rank * (1/out_degree) product with the same (1−d)/N teleport, so
    only the summation order of a node's in-mass differs. Rounding to
    6 dp happens once at the end on both engines; that ~1e-17 float-order
    noise sits far below it (same accepted risk class as every
    rounded-cosine oracle)."""
    teleport = f"{1.0 - damping!r}"
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(f"""
        r{i} AS (
            SELECT nodes.id,
                   {teleport} / (SELECT n FROM nn)
                   + {damping!r} * coalesce(m.in_mass, 0.0) AS rank
            FROM nodes LEFT JOIN (
                SELECT ne.dst AS id, sum(r.rank * ne.w) AS in_mass
                FROM ne JOIN r{i - 1} r ON r.id = ne.src
                GROUP BY ne.dst
            ) m ON m.id = nodes.id
        )""")
    return f"""
        WITH {_NGRAM_CTES},
        sym AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),
        ne AS (
            SELECT s.src, s.dst, 1.0 / deg.d AS w
            FROM sym s JOIN deg ON deg.src = s.src
        ),
        nodes AS (SELECT src AS id FROM deg),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (
            SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
        ),{",".join(steps)}
        SELECT id AS doc_id, round(rank, 6) AS rank FROM r{n_iter}
    """


@register(
    "pagerank_dup_docs",
    oracle=_pagerank_oracle(),
    tags=("datasetops", "graph", "centrality"),
)
def pagerank_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup pair graph — popularity
    weighting for curation decisions (e.g. the most-connected member of
    a dup family is the template, its satellites are variants). Fixed
    10-iteration power method, solved per dup component in one job
    (operators/clusters.pagerank). Reads the STAGED pair graph and
    components (pipelines/staging.py), so neither the similarity join
    nor the component fixpoint re-runs here."""
    from data_eng_project_spark.pipelines.staging import (
        dup_components,
        near_dup_pairs,
    )

    pairs = near_dup_pairs(spark, sf_dir, n=3, threshold=JACCARD_THRESHOLD)
    comps = dup_components(spark, sf_dir, n=3, threshold=JACCARD_THRESHOLD)
    ranks = pagerank(pairs, components=comps)
    return ranks.select(
        F.col("id").alias("doc_id"), F.round("rank", 6).alias("rank")
    )


_CONTAINMENT_T = 0.8


@register(
    "dedup_containment_pairs",
    oracle=f"""
        WITH {_NGRAM_CTES}
        SELECT id_a, id_b,
               round(i / least(na.n, nb.n), 6) AS containment
        FROM inter
        JOIN sz na ON na.doc_id = id_a
        JOIN sz nb ON nb.doc_id = id_b
        WHERE round(i / least(na.n, nb.n), 6) >= {_CONTAINMENT_T}
    """,
    tags=("datasetops", "dedup", "containment"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by shingle containment
    |A∩B|/min(|A|,|B|) ≥ 0.8 — catches a short document embedded in a
    long one, which Jaccard's union term dilutes below threshold
    (Broder's resemblance-vs-containment distinction; the quote /
    boilerplate / partial-scrape detector). Prefix-filtered inverted
    index, exact array_intersect verify (operators/dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(
        docs, "text", "doc_id", n=3, threshold=_CONTAINMENT_T
    )


@register(
    "dedup_containment_pairs_collapsed",
    # Full replay, the dedup_ngram_jaccard_collapsed idiom: the collapse
    # CTE reproduces collapse_exact_text_classes (md5 of the normalized
    # text, min-id representative), the n-gram CTE chain re-runs over
    # representatives only, and the final SELECT applies the containment
    # ratio + class-size arithmetic.
    oracle=f"""
        WITH cls AS (
            SELECT min(doc_id) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents
            GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ), documents_r AS (
            SELECT d.doc_id, d.text
            FROM documents d JOIN cls USING (doc_id)
        ), {_ngram_ctes("documents_r")}
        SELECT c.id_a, c.id_b, c.containment,
               ca.n_docs AS n_docs_a, cb.n_docs AS n_docs_b,
               CAST(ca.n_docs * cb.n_docs AS BIGINT) AS n_doc_pairs
        FROM (
            SELECT id_a, id_b,
                   round(i / least(na.n, nb.n), 6) AS containment
            FROM inter
            JOIN sz na ON na.doc_id = id_a
            JOIN sz nb ON nb.doc_id = id_b
            WHERE round(i / least(na.n, nb.n), 6) >= {_CONTAINMENT_T}
        ) c
        JOIN cls ca ON ca.doc_id = c.id_a
        JOIN cls cb ON cb.doc_id = c.id_b
    """,
    tags=("datasetops", "dedup", "containment", "collapsed"),
)
def dedup_containment_pairs_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup CLASS pairs: exact-duplicate classes collapse
    to their min-id representative first, then the prefix-filtered
    containment join runs over representatives only — the collapse-first
    posture the dup-heavy probes mandated for every pair family
    (operators/dedup.ngram_containment_pairs_collapsed)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs_collapsed(
        docs, "text", "doc_id", n=3, threshold=_CONTAINMENT_T
    )


@register(
    "dup_graph_triangles",
    oracle=f"""
        WITH {_NGRAM_CTES},
        e AS (SELECT id_a AS a, id_b AS b FROM pairs),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        tn AS (
            SELECT id, count(*) AS n_tri FROM (
                SELECT x AS id FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY id
        ),
        deg AS (
            SELECT id, count(*) AS degree FROM (
                SELECT id_a AS id FROM pairs
                UNION ALL SELECT id_b FROM pairs
            ) GROUP BY id
        )
        SELECT deg.id, CAST(degree AS BIGINT) AS degree,
               CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles,
               round(CASE WHEN degree >= 2
                          THEN 2.0 * coalesce(n_tri, 0)
                               / (degree * (degree - 1))
                          ELSE 0.0 END, 6) AS clustering_coeff
        FROM deg LEFT JOIN tn ON deg.id = tn.id
    """,
    tags=("datasetops", "graph", "triangles"),
)
def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the near-dup
    pair graph: separates true duplicate families (near-cliques,
    coefficient ≈ 1) from threshold-straddling chains (coefficient ≈ 0)
    before any keep-decision. Ordered-edge join enumeration — each
    triangle found exactly once, no cross join — over the STAGED pair
    graph (pipelines/staging.py): the triangle join's two self-joins
    hit a parquet pair list, not two fresh similarity joins."""
    from data_eng_project_spark.pipelines.staging import near_dup_pairs

    pairs = near_dup_pairs(spark, sf_dir, n=3, threshold=JACCARD_THRESHOLD)
    return triangle_stats(pairs)


@register(
    "knn_label_propagation",
    # The oracle replays the exact bipartite k-NN in SQL (rounded-cosine
    # ranking, cid tie-break — identical to knn_join_blocked's contract)
    # and votes over the top-5. Label outputs (not raw cosines) make the
    # GEMM-vs-sequential-fold ulp concern immaterial unless a rounding
    # boundary flips BOTH a top-5 membership AND the majority — the
    # exact numpy twin test (tests/test_datasetops.py) still guards the
    # k-NN layer pair-for-pair.
    oracle="""
        WITH hidden AS (
            SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 5 = 0
        ), labeled AS (
            SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 5 <> 0
        ), scored AS (
            SELECT h.vec_id AS qid, l.vec_id AS cid, l.label,
                   round(list_cosine_similarity(
                       CAST(h.embedding AS DOUBLE[]),
                       CAST(l.embedding AS DOUBLE[])), 6) AS cosine
            FROM hidden h CROSS JOIN labeled l
        ), top AS (
            SELECT qid, cid, label,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY cosine DESC, cid
                   ) AS rnk
            FROM scored
        ), votes AS (
            SELECT qid, label, count(*) AS n
            FROM top WHERE rnk <= 5 GROUP BY qid, label
        ), pred AS (
            SELECT qid, label AS predicted,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY n DESC, label
                   ) AS r
            FROM votes
        )
        SELECT p.qid AS vec_id,
               CAST(p.predicted AS BIGINT) AS predicted,
               CAST(h.label AS BIGINT) AS actual,
               p.predicted = h.label AS correct
        FROM pred p JOIN hidden h ON h.vec_id = p.qid
        WHERE p.r = 1
    """,
    tags=("datasetops", "similarity", "semi-supervised"),
)
def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation: labels of every 5th embedding
    are withheld, then predicted as the majority label of its k=5
    nearest labeled neighbors (cosine, GEMM-blocked bipartite k-NN —
    operators/similarity.knn_join_blocked). Ties break to the smallest
    label. Output carries the withheld truth so accuracy is a single
    downstream aggregate — the auto-labeling primitive for extending a
    small labeled seed set across a large corpus."""
    from data_eng_project_spark.operators.similarity import knn_join_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    hidden = emb.filter(F.col("vec_id") % 5 == 0)
    labeled = emb.filter(F.col("vec_id") % 5 != 0)
    knn = knn_join_blocked(
        hidden.select("vec_id", "embedding"),
        labeled.select("vec_id", "embedding"),
        k=5,
    )
    votes = (
        knn.join(
            labeled.select(F.col("vec_id").alias("cid"), F.col("label")), "cid"
        )
        .groupBy("qid", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    pred = (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(F.col("qid").alias("vec_id"), F.col("label").alias("predicted"))
    )
    return pred.join(
        hidden.select("vec_id", F.col("label").alias("actual")), "vec_id"
    ).select(
        "vec_id",
        F.col("predicted").cast("bigint").alias("predicted"),
        F.col("actual").cast("bigint").alias("actual"),
        (F.col("predicted") == F.col("actual")).alias("correct"),
    )


# The manifest pins the FULL catalog: use the canonical table list so a
# table added in tables.py can never silently go unmanifested.
_MANIFEST_TABLES = TABLE_NAMES


@register(
    "catalog_manifest",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{t}' AS table_name,
               CAST((SELECT count(*) FROM {t}) AS BIGINT) AS n_rows,
               CAST((SELECT count(*) FROM (DESCRIBE {t})) AS BIGINT)
                   AS n_cols,
               (SELECT md5(string_agg(lower(column_name), ','
                                      ORDER BY lower(column_name)))
                FROM (DESCRIBE {t}) d(column_name)) AS schema_md5
        """
        for t in _MANIFEST_TABLES
    ),
    tags=("datasetops", "catalog", "manifest"),
)
def catalog_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The publish manifest: one row per catalog table with row count,
    column count, and an md5 fingerprint of the sorted column names —
    what a dataset release pins so consumers can verify they read the
    same catalog version. Each table contributes one count scan
    (columnar count(*) reads footers, not data)."""
    parts = []
    for t in _MANIFEST_TABLES:
        df = load_table(spark, sf_dir, t)
        cols = sorted(c.lower() for c in df.columns)
        parts.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.lit(len(cols)).cast("bigint").alias("n_cols"),
                F.md5(F.lit(",".join(cols))).alias("schema_md5"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_BFS_MAX_HOPS = 12


@register(
    "dup_graph_bfs_hops",
    # Shortest-path BFS replayed in SQL: the recursive `walk` explores
    # (root, node, hops) tuples level-by-level from each component's
    # canonical (minimum-id) node with the SAME hop cap as the operator;
    # cycles terminate because hops is strictly increasing and capped,
    # and min(hops) per node is the BFS distance. Components come from
    # the shared transitive-closure CTE (_COMPONENT_CTES), so the pair
    # graph, the closure, and the walk all derive from one definition.
    oracle=f"""
        WITH RECURSIVE {_NGRAM_CTES},{_COMPONENT_CTES},
        comp AS (
            SELECT src AS id, least(src, min(dst)) AS component
            FROM reach GROUP BY src
        ),
        walk AS (
            SELECT component AS root, component AS node, 0 AS hops
            FROM comp GROUP BY component
            UNION
            SELECT w.root, s.dst AS node, w.hops + 1 AS hops
            FROM walk w JOIN sym s ON s.src = w.node
            WHERE w.hops < {_BFS_MAX_HOPS}
        )
        SELECT c.id AS doc_id, c.component,
               CAST(min(w.hops) AS BIGINT) AS hops
        FROM comp c JOIN walk w ON w.node = c.id AND w.root = c.component
        GROUP BY c.id, c.component
    """,
    tags=("datasetops", "graph", "bfs"),
)
def dup_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from each near-dup cluster's canonical document to
    every member (level-synchronous BFS — operators/clusters.bfs_hops):
    1 hop = direct near-dup of the kept representative, ≥2 hops = only
    transitively duplicated through a chain of borderline matches — the
    rows a curator re-reviews before an aggressive keep-one policy.
    Consumes the STAGED pair graph and components (pipelines/staging.py),
    so the similarity join and the component fixpoint are shared with
    the other five graph consumers, and the BFS itself re-scans a
    parquet edge list each round."""
    from data_eng_project_spark.pipelines.staging import (
        dup_components,
        near_dup_pairs,
    )

    pairs = near_dup_pairs(spark, sf_dir, n=3, threshold=JACCARD_THRESHOLD)
    comps = dup_components(spark, sf_dir, n=3, threshold=JACCARD_THRESHOLD)
    roots = comps.select(F.col("comp").alias("root")).distinct()
    hops = bfs_hops(pairs, roots, max_hops=_BFS_MAX_HOPS)
    return comps.join(
        hops,
        (comps["id"] == hops["node"]) & (comps["comp"] == hops["root"]),
    ).select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component"),
        F.col("hops").cast("long").alias("hops"),
    )


_SNM_WINDOW, _SNM_MAX_DIST = 5, 4


@register(
    "er_sorted_neighborhood",
    oracle=f"""
        WITH names AS (SELECT DISTINCT p_name AS name FROM part),
        r AS (
            SELECT name, row_number() OVER (ORDER BY name) AS rnk
            FROM names
        )
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS distance
        FROM r a JOIN r b
          ON b.rnk > a.rnk AND b.rnk <= a.rnk + {_SNM_WINDOW}
        WHERE levenshtein(a.name, b.name) <= {_SNM_MAX_DIST}
    """,
    tags=("datasetops", "entity-resolution", "blocking"),
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking over the distinct part-name
    registry: names within 5 sort ranks of each other verified by
    Levenshtein ≤ 4 — the complementary blocking pass to
    fuzzy_part_name_pairs' token inverted index (a typo inside the only
    shared token breaks token blocking but not sort adjacency). The
    oracle ranks with one global window; the operator builds the SAME
    global rank hierarchically (prefix buckets + offset prefix sum —
    operators/datasetops.sorted_neighborhood_pairs) and turns the
    window into a rank-arithmetic equi-join, so no corpus-wide
    single-partition stage exists at any scale."""
    part = load_table(spark, sf_dir, "part")
    return sorted_neighborhood_pairs(
        part, "p_name", window=_SNM_WINDOW, max_distance=_SNM_MAX_DIST
    )


@register(
    "dup_graph_common_neighbors",
    # N(x) is the raw adjacency set (a ∈ N(b), b ∈ N(a), no self
    # loops), so |N(a)∪N(b)| = deg(a)+deg(b)−common; wedge counting is
    # two adjacency joins. LEFT JOIN keeps zero-common edges. The +0.0
    # collapses IEEE −0.0 (possible only at jaccard 0, where round is
    # exact, but the guard costs nothing and matches the operator).
    oracle=f"""
        WITH {_NGRAM_CTES},
        e AS (SELECT id_a, id_b FROM pairs),
        sym AS (
            SELECT id_a AS src, id_b AS dst FROM e
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM e
        ),
        deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
        cn AS (
            SELECT e.id_a, e.id_b, count(*) AS c
            FROM e
            JOIN sym s1 ON s1.src = e.id_a
            JOIN sym s2 ON s2.src = e.id_b AND s2.dst = s1.dst
            GROUP BY e.id_a, e.id_b
        )
        SELECT e.id_a, e.id_b,
               CAST(coalesce(cn.c, 0) AS BIGINT) AS common_neighbors,
               round(CAST(coalesce(cn.c, 0) AS DOUBLE)
                     / CAST(da.deg + db.deg - coalesce(cn.c, 0) AS DOUBLE),
                     6) + 0.0 AS neighbor_jaccard
        FROM e
        LEFT JOIN cn ON cn.id_a = e.id_a AND cn.id_b = e.id_b
        JOIN deg da ON da.id = e.id_a
        JOIN deg db ON db.id = e.id_b
    """,
    tags=("datasetops", "graph", "link-prediction"),
)
def dup_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-strength scores for the near-dup pair graph: per pair, the
    common-neighbor count and neighborhood Jaccard — high means the
    edge sits inside a dense dup family, zero means a lone bridge
    between otherwise-unrelated documents (the edge a curator inspects
    before transitively collapsing two clusters; triangles score NODES,
    this scores EDGES). Wedge counting via two equi-joins over the
    STAGED pair graph (pipelines/staging.py) — see
    operators/clusters.common_neighbor_stats."""
    from data_eng_project_spark.pipelines.staging import near_dup_pairs

    pairs = near_dup_pairs(spark, sf_dir, n=3, threshold=JACCARD_THRESHOLD)
    return common_neighbor_stats(pairs)


_ER_WINDOW, _ER_MAX_DIST = 5, 3


@register(
    "er_entity_groups",
    # The oracle unions both blocking passes' candidates, verifies with
    # the same Levenshtein budget, and closes the match graph with the
    # recursive reachability pattern (_COMPONENT_CTES shape, over names
    # directly — least() on VARCHAR is the lexicographic canonical);
    # singletons label themselves via the LEFT JOIN coalesce. The
    # operator's integer-rank components agree because
    # global_sorted_rank is order-aligned: min rank ⇔ min name.
    oracle=f"""
        WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
        toks AS (
            SELECT DISTINCT name,
                   unnest(string_split_regex(trim(name), '\\s+')) AS tok
            FROM names
        ),
        tb AS (
            SELECT DISTINCT a.name AS name_a, b.name AS name_b
            FROM toks a JOIN toks b ON a.tok = b.tok AND a.name < b.name
        ),
        r AS (
            SELECT name, row_number() OVER (ORDER BY name) AS rnk
            FROM names
        ),
        sn AS (
            SELECT a.name AS name_a, b.name AS name_b
            FROM r a JOIN r b
              ON b.rnk > a.rnk AND b.rnk <= a.rnk + {_ER_WINDOW}
        ),
        cand AS (
            SELECT name_a, name_b FROM tb
            UNION
            SELECT name_a, name_b FROM sn
        ),
        matches AS (
            SELECT name_a, name_b FROM cand
            WHERE levenshtein(name_a, name_b) <= {_ER_MAX_DIST}
        ),
        msym AS (
            SELECT name_a AS src, name_b AS dst FROM matches
            UNION
            SELECT name_b AS src, name_a AS dst FROM matches
        ),
        mreach AS (
            SELECT src, dst FROM msym
            UNION
            SELECT q.src, s.dst FROM mreach q JOIN msym s ON q.dst = s.src
        ),
        comp AS (
            SELECT src AS name, least(src, min(dst)) AS entity
            FROM mreach GROUP BY src
        )
        SELECT n.name, coalesce(c.entity, n.name) AS entity,
               coalesce(c.entity, n.name) = n.name AS is_canonical
        FROM names n LEFT JOIN comp c ON c.name = n.name
    """,
    tags=("datasetops", "entity-resolution", "graph"),
)
def er_entity_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over the part-name registry: union
    of BOTH blocking passes (token inverted index + sorted
    neighborhood), exact Levenshtein ≤ 3 verification, connected
    components over the match graph, every name labeled with its
    entity's lexicographically-smallest member (singletons label
    themselves) — the full dedup-a-reference-registry pipeline, built
    from the same blocking operators registered individually
    (operators/datasetops.er_entity_groups)."""
    part = load_table(spark, sf_dir, "part")
    return er_entity_groups(
        part, "p_name", window=_ER_WINDOW, max_distance=_ER_MAX_DIST
    )


_PRIORITY_K = 10


@register(
    "priority_sample_by_source",
    # u's numerator is the exact first-8-hex md5 BIGINT on both engines
    # (functions/hashing.md5_full_bucket_int recipe); the priority
    # double w·2^32/(h+1) is the same expression tree on both sides, so
    # the descending order — and therefore the top-k frontier — is
    # engine-independent; h-collision ties break on id.
    oracle=f"""
        WITH b AS (
            SELECT source AS stratum, doc_id AS id,
                   greatest(n_chars, 1) AS wt,
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS h
            FROM documents
        ), p AS (
            SELECT stratum, id, wt,
                   CAST(wt AS DOUBLE) * 4294967296.0
                       / (CAST(h AS DOUBLE) + 1.0) AS priority
            FROM b
        ), r AS (
            SELECT stratum, id, wt, priority,
                   row_number() OVER (
                       PARTITION BY stratum ORDER BY priority DESC, id
                   ) AS rn
            FROM p
        )
        SELECT stratum, id, CAST(wt AS BIGINT) AS weight,
               round(priority, 6) + 0.0 AS priority
        FROM r WHERE rn <= {_PRIORITY_K}
    """,
    tags=("datasetops", "sampling", "priority"),
)
def priority_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: the 10
    highest-priority documents per source under Duffield–Lund–Thorup
    priority sampling (priority = weight/u, u from the engine's one md5
    id-hash) — the order-free companion to pps_sample_by_source for
    fixed-budget eval draws biased toward token-heavy documents. No
    RNG, reproducible on any cluster size
    (operators/datasetops.priority_sample)."""
    docs = load_table(spark, sf_dir, "documents")
    return priority_sample(
        docs, weight_col="n_chars", strata_col="source", id_col="doc_id",
        k_per_stratum=_PRIORITY_K,
    )


_EVAL_PER_MILLE = 100


@register(
    "split_exact_quota",
    oracle=f"""
        WITH b AS (
            SELECT source AS stratum, doc_id AS id,
                   md5(CAST(doc_id AS VARCHAR)) AS k
            FROM documents
        ), r AS (
            SELECT stratum, id,
                   row_number() OVER (
                       PARTITION BY stratum ORDER BY k, id
                   ) AS rn
            FROM b
        ), s AS (
            SELECT stratum, count(*) AS n FROM b GROUP BY stratum
        )
        SELECT r.id, r.stratum,
               CAST(r.rn AS BIGINT) AS stratum_rank,
               CASE WHEN r.rn * 1000 <= s.n * {_EVAL_PER_MILLE}
                    THEN 'eval' ELSE 'train' END AS split
        FROM r JOIN s USING (stratum)
    """,
    tags=("datasetops", "splits", "governance"),
)
def split_exact_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified split with an EXACT ⌊10%⌋-per-source eval quota: docs
    rank inside their source by the md5 id-hash (fixed pseudo-random
    order) and the first ⌊n/10⌋ become eval — the contract a
    hash-threshold split (dataset_split_profile) only meets in
    expectation. Pure integer quota arithmetic, one per-stratum window
    + a dimension-sized count broadcast
    (operators/datasetops.exact_quota_split)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_quota_split(
        docs, strata_col="source", id_col="doc_id",
        eval_per_mille=_EVAL_PER_MILLE,
    )


@register(
    "session_path_trigrams",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ), numbered AS (
            SELECT user_id, ts, event_id, event_type,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        ), paths AS (
            SELECT user_id, session_id, event_type AS step1,
                   lead(event_type, 1) OVER s AS step2,
                   lead(event_type, 2) OVER s AS step3
            FROM numbered
            WINDOW s AS (
                PARTITION BY user_id, session_id ORDER BY ts ASC, event_id ASC)
        )
        SELECT step1, step2, step3,
               count(*) AS n_paths,
               count(DISTINCT (user_id, session_id)) AS n_sessions
        FROM paths
        WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        GROUP BY step1, step2, step3
    """,
    tags=("datasetops", "behavioral", "sessions", "paths"),
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigram paths WITHIN sessions — the step past
    event_transition_matrix (first-order, whole-timeline): a path
    n-gram is what funnel designers actually read ("search → click →
    purchase happened 840 times in-session"), and restricting to the
    session keeps a user's unrelated visits from fabricating paths
    across day boundaries.

    Shape: the gaps-and-islands sessionization (identical 30-min-gap
    convention to sessionize_events) plus two lead() steps reuse ONE
    shuffle — all three windows hash-partition on user_id (the path
    window adds session_id, a prefix-compatible key), so Spark plans a
    single exchange; the trigram aggregate is |types|³-bounded,
    dimension-sized. n_sessions is a distinct count over (user,
    session) pairs — the skew-safe two-key distinct, not a string
    concat."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    is_new = F.when(prev_us.isNull() | ((us - prev_us) > 1800 * 1_000_000), 1).otherwise(0)
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    numbered = events.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum("is_new").over(running)
    )
    s = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    paths = numbered.select(
        "user_id",
        "session_id",
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(s).alias("step2"),
        F.lead("event_type", 2).over(s).alias("step3"),
    ).filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
    return paths.groupBy("step1", "step2", "step3").agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.count_distinct(F.col("user_id"), F.col("session_id")).alias("n_sessions"),
    )


@register(
    "table_checksum_buckets",
    oracle="""
        WITH r AS (
            SELECT CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                        AS BIGINT) % 32 AS bucket,
                   CAST(concat('0x', substr(md5(
                       concat_ws(chr(31),
                           COALESCE(CAST(o_orderkey AS VARCHAR), '<NULL>'),
                           COALESCE(CAST(o_custkey AS VARCHAR), '<NULL>'),
                           COALESCE(o_orderstatus, '<NULL>'),
                           COALESCE(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                         AS VARCHAR), '<NULL>'),
                           COALESCE(CAST(epoch_us(o_orderdate) AS VARCHAR),
                                    '<NULL>'),
                           COALESCE(o_orderpriority, '<NULL>'))), 1, 8))
                        AS BIGINT) AS h
            FROM orders
        )
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(h) % 1000000007 AS BIGINT) AS checksum
        FROM r GROUP BY bucket
    """,
    tags=("datasetops", "integrity", "checksum", "anti-entropy"),
)
def table_checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free per-bucket table checksums — the anti-entropy /
    replication-validation primitive: two clusters (or a table and its
    migrated copy) agree iff every bucket's (n_rows, checksum) row
    matches, and a divergence is localized to 1/32nd of the key space
    without comparing rows. Content hashing covers EVERY column through
    a canonical null-safe string (unit-separator concat; the double
    price pinned through DECIMAL(12,2) and the timestamp through µs
    epoch so both engines render identical bytes — the F3 record-id
    discipline). Checksums are sums of per-row md5 ints reduced mod a
    prime: addition is commutative, so partitioning/order never matters,
    and the sum accumulates in DECIMAL(38,0) before the mod so no engine
    wraps at BIGINT range (DuckDB's HUGEINT sum mirrors it exactly).
    One scan, one bucket-keyed aggregate — scale-free."""
    from data_eng_project_spark.functions.hashing import (
        md5_bucket,
        md5_full_bucket_int,
    )

    orders = load_table(spark, sf_dir, "orders")
    sep = F.lit("\x1f")
    null = F.lit("<NULL>")

    def s(c):
        return F.coalesce(c.cast("string"), null)

    repr_ = F.concat_ws(
        "\x1f",
        s(F.col("o_orderkey")),
        s(F.col("o_custkey")),
        s(F.col("o_orderstatus")),
        s(F.col("o_totalprice").cast("decimal(12,2)")),
        # NTZ → TZ cast is the identity under the UTC session pin
        s(F.unix_micros(F.col("o_orderdate").cast("timestamp"))),
        s(F.col("o_orderpriority")),
    )
    r = orders.select(
        md5_bucket("o_orderkey", 32).alias("bucket"),
        md5_full_bucket_int(repr_).alias("h"),
    )
    return r.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.pmod(F.sum(F.col("h").cast("decimal(38,0)")), F.lit(1000000007))
        .cast("bigint")
        .alias("checksum"),
    )
