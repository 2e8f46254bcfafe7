"""Every oracle-backed registry query must match its DuckDB oracle
exactly at sf0.001 — the local mirror of the driver's correctness gate.
Rows-only queries must at least execute and return a stable schema.
"""

from __future__ import annotations

import pytest

from data_eng_project_spark.plans import REGISTRY
from tests.oracle_harness import compare

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if not s.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    compare(df, sf_dir, spec.oracle)


def test_corpus_has_no_vertical_tab(spark, sf_dir):
    """Documented corpus assumption behind every \\s-tokenized oracle
    twin (functions/text.tokens): Java's \\s includes vertical tab
    \\x0B, DuckDB's RE2 \\s does not, so a document containing one
    would tokenize differently on the two engines. Pin the assumption
    to the data the oracles actually run on."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.filter(F.col("text").contains("\x0b")).count() == 0


def test_corpus_key_columns_non_null(spark, sf_dir):
    """size(NULL) = -1 sweep result (VERDICT r7 task 7): every F.size()
    call site in the package was audited under the pinned non-ANSI
    session after the r7 _bucketed_by_order NULL-cuts fix. Findings:

    - the only size() inputs that can be NULL on NON-null source data
      are percentile_approx array outputs — fixed in r7 (the cuts array
      is coalesced to an empty ARRAY<DOUBLE> before every size());
    - no size() runs on an array column carried through an outer join
      (all token/shingle/set arrays are computed from source columns
      BEFORE any join, and the frames joined afterwards carry only
      scalar counts, which coalesce correctly);
    - every remaining site (split/tokens/collect_set/array_intersect/
      slice outputs) is NULL only if the underlying text/embedding is
      NULL — which this test pins as a corpus guarantee, the same way
      the \\x0B assumption above is pinned. A NULL text document fed to
      the generic operators would yield size = -1 token counts under
      non-ANSI Spark, and the SQL oracles (len() of NULL -> NULL)
      would diverge, so the non-null contract is load-bearing for
      cross-engine parity, not just hygiene."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for c in ("doc_id", "text", "source", "lang"):
        assert docs.filter(F.col(c).isNull()).count() == 0, c
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for c in ("vec_id", "embedding", "label"):
        assert emb.filter(F.col(c).isNull()).count() == 0, c
    # Float-grouping assumption behind embedding_dup_pairs_collapsed's
    # GROUP BY on the vector value: no -0.0 / NaN elements (the one
    # place Spark's NormalizeFloatingNumbers and DuckDB's list grouping
    # could disagree) and no zero-norm vectors (NaN cosines).
    bad = emb.filter(
        F.exists("embedding", lambda x: F.isnan(x))
        | F.exists(
            "embedding", lambda x: (x == 0.0) & (F.signum(F.lit(1.0) / x) < 0)
        )
        | (
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
            == 0.0
        )
    )
    assert bad.count() == 0


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert df.columns  # stable schema
    assert df.count() >= 0


def test_query_index_is_current():
    """QUERIES.md is regenerated from the registry (tools/gen_query_index.py):
    a moved query, a tag or oracle edit, or a rows-only query without its
    rationale shows up here instead of in a stale index."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "gen_query_index.py")
    spec = importlib.util.spec_from_file_location("gen_query_index", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(gen.QUERIES_MD) as f:
        assert gen.render() == f.read()
