"""The staged near-dup pair graph (pipelines/staging.py): staged output
must equal direct computation bit-for-bit, the artifact must be built
exactly once, and consumers' plans must read the parquet stage instead
of re-running the similarity join."""

from __future__ import annotations

import os
import sys

import pytest

from data_eng_project_spark.pipelines import staging


@pytest.fixture()
def stage_dir(tmp_path, monkeypatch):
    d = str(tmp_path / "stage")
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", d)
    return d


def test_staged_pairs_equal_direct(spark, sf_dir, stage_dir):
    from data_eng_project_spark.operators import dedup as D
    from data_eng_project_spark.tables import load_table

    direct = D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", n=3, threshold=0.5
    )
    staged = staging.near_dup_pairs(spark, sf_dir, n=3, threshold=0.5)
    a = {(r["id_a"], r["id_b"], r["jaccard"]) for r in direct.collect()}
    b = {(r["id_a"], r["id_b"], r["jaccard"]) for r in staged.collect()}
    assert a == b and len(a) > 0


def test_staged_components_equal_direct(spark, sf_dir, stage_dir):
    from data_eng_project_spark.operators import dedup as D
    from data_eng_project_spark.operators.clusters import connected_components
    from data_eng_project_spark.tables import load_table

    pairs = D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", n=3, threshold=0.5
    )
    direct = {(r["id"], r["comp"]) for r in connected_components(pairs).collect()}
    staged = {
        (r["id"], r["comp"])
        for r in staging.dup_components(spark, sf_dir, n=3, threshold=0.5).collect()
    }
    assert direct == staged and len(direct) > 0


def test_stage_materialized_once_and_plans_scan_it(spark, sf_dir, stage_dir):
    path = staging.near_dup_pairs_path(sf_dir, n=3, threshold=0.5)
    assert not os.path.exists(path)
    staging.near_dup_pairs(spark, sf_dir, n=3, threshold=0.5)
    built_at = os.path.getmtime(os.path.join(path, "_SUCCESS"))

    # A second consumer call must NOT rebuild (mtime unchanged) and its
    # plan must be a parquet scan of the stage — no similarity self-join.
    again = staging.near_dup_pairs(spark, sf_dir, n=3, threshold=0.5)
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == built_at
    logical = again._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in logical  # no similarity self-join re-run
    physical = again._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in physical  # reads the staged parquet

    # components derive from the staged pairs and stage themselves
    comp_path = staging.dup_components_path(sf_dir, n=3, threshold=0.5)
    staging.dup_components(spark, sf_dir, n=3, threshold=0.5)
    assert os.path.exists(os.path.join(comp_path, "_SUCCESS"))
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == built_at


def test_staged_reads_run_no_job_and_declare_the_written_schema(spark, sf_dir, stage_dir):
    """Reading an already-staged artifact plans from the declared schema,
    so it runs no Spark job (no parquet footer read), and the declared
    schema is the one the producers actually write."""
    staging.dup_components(spark, sf_dir, n=3, threshold=0.5)
    sc = spark.sparkContext
    group = "staged-reads"
    sc.setJobGroup(group, group)
    try:
        pairs = staging.near_dup_pairs(spark, sf_dir, n=3, threshold=0.5)
        comps = staging.dup_components(spark, sf_dir, n=3, threshold=0.5)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for df, path in (
        (pairs, staging.near_dup_pairs_path(sf_dir, n=3, threshold=0.5)),
        (comps, staging.dup_components_path(sf_dir, n=3, threshold=0.5)),
    ):
        assert df.schema == spark.read.parquet(path).schema


def test_distinct_param_sets_get_distinct_stages(sf_dir):
    p1 = staging.near_dup_pairs_path(sf_dir, n=3, threshold=0.5)
    p2 = staging.near_dup_pairs_path(sf_dir, n=4, threshold=0.5)
    p3 = staging.near_dup_pairs_path(sf_dir, n=3, threshold=0.7)
    assert len({p1, p2, p3}) == 3


def test_stage_key_tracks_operator_source(sf_dir):
    """ADVICE r4 (medium): a semantic change to the producing operator
    must rotate the stage key without anyone remembering a version bump.
    The key embeds a fingerprint of the operator's source, so two
    different operator bodies can never share an artifact."""

    def op_v1(df):
        return df  # stand-in operator body

    def op_v2(df):
        return df.distinct()  # semantically different body

    p1 = staging.stage_path("k", sf_dir, _ops=(op_v1,), n=3)
    p2 = staging.stage_path("k", sf_dir, _ops=(op_v2,), n=3)
    assert p1 != p2
    # and the real pair-graph key is operator-bound (not params-only)
    assert staging.near_dup_pairs_path(sf_dir) != staging.stage_path(
        "near_dup_pairs", sf_dir, n=3, threshold=0.5
    )


def test_near_dedup_stage_staged_equals_recompute(spark, sf_dir, stage_dir):
    """Composer near_dedup with staged_corpus_dir must equal the
    recompute-on-subset form: subset pairs are the corpus pair graph
    restricted to both-endpoints-in-subset (Jaccard is pairwise)."""
    from pyspark.sql import functions as F

    from data_eng_project_spark.pipelines.composer import compose
    from data_eng_project_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    spec_base = [{"stage": "min_words", "n": 5}]
    direct = compose(docs, spec_base + [{"stage": "near_dedup", "n": 3, "threshold": 0.5}])
    staged = compose(
        docs,
        spec_base
        + [{"stage": "near_dedup", "n": 3, "threshold": 0.5, "staged_corpus_dir": sf_dir}],
    )
    a = sorted(r["doc_id"] for r in direct.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in staged.select("doc_id").collect())
    assert a == b and len(a) > 0
    # and the subset genuinely dropped near-dup members
    assert len(a) < docs.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 5).count()


def test_stage_key_tracks_same_module_helpers(sf_dir, tmp_path):
    """Regression (r5 review): the round-4 bug class one level down — a
    semantic change inside a SAME-MODULE callee (e.g. _verified_jaccard)
    while the named operator's own source stays byte-identical must
    still rotate the stage key."""
    import importlib.util
    import sys

    def _load(name: str, helper_body: str):
        src = (
            f"def _helper(x):\n    return {helper_body}\n\n\n"
            "def op(df):\n    return _helper(df)\n"
        )
        p = tmp_path / f"{name}.py"
        p.write_text(src)
        spec = importlib.util.spec_from_file_location(name, p)
        mod = importlib.util.module_from_spec(spec)
        sys.modules[name] = mod
        try:
            spec.loader.exec_module(mod)
            return mod.op
        finally:
            sys.modules.pop(name, None)

    op_a = _load("stagemod_a", "x")
    op_b = _load("stagemod_b", "x.distinct()")
    # op() is byte-identical in both modules; only the helper differs.
    import inspect

    assert inspect.getsource(op_a) == inspect.getsource(op_b)
    assert staging.stage_path("k", sf_dir, _ops=(op_a,), n=3) != staging.stage_path(
        "k", sf_dir, _ops=(op_b,), n=3
    )


def test_timed_staged_run_reports_per_consumer_seconds(spark, sf_dir, stage_dir):
    """r13 observability contract (VERDICT r12 #1): the staged timing
    must expose one wall-clock figure PER consumer, keyed exactly by
    STAGED_CONSUMERS, alongside the r12-compatible group totals — the
    fields BENCH_r13.json forwards so the driver can corroborate
    per-consumer claims."""
    out = staging.timed_staged_run(spark, sf_dir)
    assert set(out) == {"cold_build_sec", "warm_consumers_sec", "consumer_sec"}
    assert set(out["consumer_sec"]) == set(staging.STAGED_CONSUMERS)
    assert all(v >= 0 for v in out["consumer_sec"].values())
    # The group interval covers the per-consumer intervals (plus the
    # clearCache calls between them), never the other way around.
    assert out["warm_consumers_sec"] >= sum(out["consumer_sec"].values()) - 0.01


def test_stage_key_covers_cross_module_callees(sf_dir, monkeypatch):
    """ngram_jaccard_pairs tokenizes with functions/text.py, so that file
    must sit behind the pair graph's key: an edit there would otherwise
    leave a stale stage valid under a persistent $SPARK_GRAFT_STAGE_DIR."""
    import data_eng_project_spark

    seen = {}
    real = staging.stage_path

    def spy(kind, source_dir, _ops=(), **params):
        seen["ops"] = _ops
        return real(kind, source_dir, _ops, **params)

    monkeypatch.setattr(staging, "stage_path", spy)
    staging.near_dup_pairs_path(sf_dir)
    pkg = os.path.dirname(data_eng_project_spark.__file__)
    files = {os.path.relpath(f, pkg) for f in staging._op_source_files(*seen["ops"])}
    assert {os.path.join("operators", "dedup.py"), os.path.join("functions", "text.py")} <= files


def test_stage_key_rotates_on_cross_module_callee_edit(sf_dir, tmp_path, monkeypatch):
    """Editing an in-package module two imports away (op -> mid -> leaf)
    rotates the key, while the op's own file stays identical."""
    import importlib.util

    def _load(name, src):
        path = tmp_path / f"{name.rsplit('.', 1)[-1]}.py"
        path.write_text(src)
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        monkeypatch.setitem(sys.modules, name, mod)
        spec.loader.exec_module(mod)
        return mod

    _load("data_eng_project_spark._stage_key_leaf", "def leaf(x):\n    return x\n")
    _load(
        "data_eng_project_spark._stage_key_mid",
        "from data_eng_project_spark._stage_key_leaf import leaf\n\n\n"
        "def helper(x):\n    return leaf(x)\n",
    )
    op = _load(
        "stage_key_caller",
        "from data_eng_project_spark._stage_key_mid import helper\n\n\n"
        "def op(df):\n    return helper(df)\n",
    ).op

    before = staging.stage_path("k", sf_dir, _ops=(op,), n=3)
    (tmp_path / "_stage_key_leaf.py").write_text("def leaf(x):\n    return x.distinct()\n")
    assert staging.stage_path("k", sf_dir, _ops=(op,), n=3) != before


def test_second_staged_pass_reuses_compiled_classes(spark, sf_dir, tmp_path, monkeypatch):
    """A repeated staged pass (build the pair graph and components in a
    fresh stage dir, then run the five consumers) must reuse the
    generated classes an earlier pass compiled. One pass uses
    153 classes at sf0.001, more than Spark's default cache of 100 holds,
    so under the default LRU eviction the second pass recompiles about
    138 of them. The bound is 5% of a pass's classes: before class names
    dropped their codegen stage ids (``get_session``), AQE numbering a
    rerun's stages in another order recompiled 4 classes of
    ``pagerank_dup_docs``. The first pass's own count depends on which
    tests ran before it in the shared session, so it is only reported."""
    from data_eng_project_spark.plans import REGISTRY
    from data_eng_project_spark.session import codegen_compiles

    def one_pass(stage: str) -> int:
        monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / stage))
        before = codegen_compiles(spark)
        frames = [staging.near_dup_pairs, staging.dup_components]
        frames += [REGISTRY[name].fn for name in staging.STAGED_CONSUMERS]
        for build in frames:
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        return codegen_compiles(spark) - before

    first = one_pass("first")
    second = one_pass("second")
    assert second <= 0.05 * 153, (first, second)
