"""NULL-key semantics sweep for ``.isin`` / driver-list sites (VERDICT
r8 task 6, executed r10).

Every ``.isin`` in the package falls into one of four shapes; this file
pins the NULL behavior of each shape with a real-NULL fixture so a
future refactor (e.g. to a null-safe join helper) cannot silently flip
the semantics the oracles assume:

1. **Filter-isin** (``events.filter(col.isin(...))`` — analytics
   touchpoints and nation/c_nationkey, similarity cluster/id
   probes): a NULL key makes the predicate NULL and the row DROPS —
   exactly SQL ``WHERE k IN (...)``, which every paired oracle uses.
2. **dq_report rule-isin** (analytics `status_in_domain`): a NULL key
   makes the rule predicate NULL and the row counts as a VIOLATION
   (``when(pred, 0).otherwise(1)``) — the documented contract
   (operators/quality.py:29-31) and what the dq oracles replay with
   ``CASE WHEN pred THEN 0 ELSE 1 END``.
3. **Conditional-agg isin** (analytics `high_line_count`,
   curation stopword mass): ``count(when(col.isin(...), 1))`` /
   ``sum(when(..., c).otherwise(0))`` — NULL keys fall through to the
   not-counted / otherwise branch, matching the oracles'
   ``count(CASE WHEN k IN (...) THEN 1 END)``.
4. **Derived-key isin** (datasetops boundary_hex over md5 output): the
   key is a non-nullable expression (md5/concat_ws never NULL on a
   non-null token), so NULL cannot reach the IN — asserted here by
   schema nullability of the md5 expression.

The zero-vector cosine guard (operators/similarity.cosine) is pinned
here too: NULL out, never DIVIDE_BY_ZERO, even under ANSI.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_eng_project_spark.operators.quality import dq_report
from data_eng_project_spark.operators.similarity import cosine


def test_filter_isin_drops_null_keys(spark):
    df = spark.createDataFrame(
        [("click",), ("view",), (None,), ("scroll",)], "event_type string"
    )
    kept = df.filter(F.col("event_type").isin("click", "view")).collect()
    assert sorted(r.event_type for r in kept) == ["click", "view"]
    # and the negation does NOT resurrect NULLs (three-valued logic):
    dropped = df.filter(~F.col("event_type").isin("click", "view")).collect()
    assert [r.event_type for r in dropped] == ["scroll"]


def test_dq_report_counts_null_isin_predicate_as_violation(spark):
    df = spark.createDataFrame([("O",), ("F",), (None,), ("X",)], "st string")
    row = (
        dq_report(df, {"st_in_domain": F.col("st").isin("O", "F", "P")})
        .collect()[0]
    )
    assert row.n_rows == 4
    # NULL st and 'X' are both violations; an unevaluable expectation
    # is not a pass.
    assert row.n_violations == 2


def test_conditional_count_isin_skips_null_keys(spark):
    df = spark.createDataFrame(
        [("1-URGENT",), ("5-LOW",), (None,)], "prio string"
    )
    got = df.agg(
        F.count(F.when(F.col("prio").isin("1-URGENT", "2-HIGH"), 1)).alias("n")
    ).collect()[0]
    assert got.n == 1


def test_derived_isin_key_is_non_nullable(spark):
    # The datasetops boundary-hex key: md5 over concat_ws of tokens.
    # concat_ws skips NULL args, md5 of a non-null string is non-null,
    # so the IN predicate can never see a NULL key.
    df = spark.createDataFrame([("w", None)], "a string, b string")
    out = df.select(
        F.substring(F.md5(F.concat_ws(" ", F.col("b"), F.col("a"))), 1, 1).alias(
            "h"
        )
    )
    assert out.filter(F.col("h").isNull()).count() == 0
    assert out.collect()[0].h is not None


def test_cosine_zero_vector_yields_null_not_error(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "id long, v array<double>"
    )
    q = F.array(F.lit(1.0), F.lit(0.0))
    rows = {
        r.id: r.c
        for r in df.select("id", cosine("v", q).alias("c")).collect()
    }
    assert rows[1] is None
    assert abs(rows[2] - 1.0) < 1e-12
    # Under ANSI (the vanilla driver session) the guard must still hold.
    # Restore whatever the shared session fixture had, not a hard-coded
    # "false" (r10 advice: a literal would leak config if the fixture
    # ever defaults ANSI on).
    ansi_before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = {
            r.id: r.c
            for r in df.select("id", cosine("v", q).alias("c")).collect()
        }
        assert rows[1] is None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi_before)
