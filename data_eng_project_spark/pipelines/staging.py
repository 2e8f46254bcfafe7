"""Materialized shared stages — compute an expensive artifact ONCE,
persist it as parquet (the engine's own S10 staging-sink pattern), and
let every downstream consumer read the staged copy.

Why this exists: at 100 TB the near-duplicate PAIR GRAPH is the single
most expensive artifact in the system — an inverted-index set-similarity
self-join over the whole corpus (operators/dedup.ngram_jaccard_pairs).
Five heavy consumers (canonical-keep selection, PageRank, triangle
stats, soft-dedup weights, the split-leakage audit) plus the cluster
assignment all need exactly that graph; recomputing it per consumer
multiplies the dominant cost by the consumer count. Staging it turns
five O(corpus) similarity joins into one join + four parquet scans of a
pair list that is orders of magnitude smaller than the corpus.

Mechanics
- Stage files are keyed by (artifact kind, absolute source dir,
  parameters, stage version, producing-operator source fingerprint):
  a different corpus or threshold is a different artifact, and ANY
  edit to the producing operator's code rotates the key — a semantic
  change can never leave a stale artifact valid in a persistent
  $SPARK_GRAFT_STAGE_DIR (ADVICE r4; the round-4 positional-filter
  fix changed pair output under an unchanged key).
- Writes are atomic: the job lands in a pid-suffixed temp dir which is
  then rename(2)d into place — a concurrent builder loses the race
  harmlessly and reads the winner's output.
- The staging root defaults to a per-host temp dir and can be pointed
  at durable storage with $SPARK_GRAFT_STAGE_DIR (on a cluster: a lake
  path, where the rename becomes the store's atomic commit).
- Source tables here are immutable benchmark snapshots, so staleness
  is governed by the key alone. For mutable corpora a consumer should
  key by snapshot/ledger version — see sources/ledger.py.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import sys
import tempfile
import types

from pyspark.sql import DataFrame, SparkSession

# Manual epoch for key-schema changes to *this* module. Semantic changes
# to the staged OPERATORS invalidate keys automatically via
# _op_fingerprint below — no human has to remember a bump.
# (v2: retro-invalidates any artifact materialized before the round-4
# PPJoin positional-filter soundness fix, which changed
# ngram_jaccard_pairs output; pre-fix parquet under a persistent
# $SPARK_GRAFT_STAGE_DIR must never be served as current.)
_STAGE_VERSION = 2


_PKG = __name__.split(".")[0]


def _op_source_files(*ops) -> list[str]:
    """Source files behind the staged operators: each op's defining
    file plus the file of every in-package module reachable from that
    module's module-level globals, transitively. A global counts when
    it is an in-package module or an object whose ``__module__`` is one
    (``from ..functions.text import tokens`` reaches functions/text.py).
    Imports made inside a function body are not followed; a staged
    producer's callees must be imported at module level."""
    files: set[str] = set()
    seen: set[int] = set()
    todo = [op.__globals__ for op in ops if hasattr(op, "__globals__")]
    for op in ops:
        src_file = inspect.getsourcefile(op)
        if src_file:
            files.add(os.path.abspath(src_file))
    while todo:
        namespace = todo.pop()
        if id(namespace) in seen:
            continue
        seen.add(id(namespace))
        for value in list(namespace.values()):
            mod = (
                value
                if isinstance(value, types.ModuleType)
                else sys.modules.get(getattr(value, "__module__", None) or "")
            )
            name = getattr(mod, "__name__", "")
            path = getattr(mod, "__file__", None)
            if (name == _PKG or name.startswith(_PKG + ".")) and path:
                files.add(os.path.abspath(path))
                todo.append(vars(mod))
    return sorted(files)


def _op_fingerprint(*ops) -> str:
    """Digest of the staged operators' source code: any edit to the code
    that produces a staged artifact yields a new stage key, so a semantic
    change can never leave stale artifacts valid (the failure mode a
    memory-dependent manual version constant allows). Comment-only edits
    also rotate the key — a few seconds of rebuild, bought for the
    guarantee.

    The digest covers each operator's own source and, in full, every
    file _op_source_files finds behind it: a fix inside a same-module
    callee (round 4: ``_verified_jaccard`` under ``ngram_jaccard_pairs``)
    or in a callee from another module of the package (``tokens`` in
    functions/text.py) rotates the key while the named function's bytes
    stay identical."""
    h = hashlib.md5()
    for op in ops:
        h.update(getattr(op, "__qualname__", repr(op)).encode())
        h.update(inspect.getsource(op).encode())
    for path in _op_source_files(*ops):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def stage_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_STAGE_DIR",
        os.path.join(tempfile.gettempdir(), "spark_graft_stage"),
    )


def stage_path(kind: str, source_dir: str, _ops: tuple = (), **params) -> str:
    key = hashlib.md5(
        repr(
            (
                kind,
                os.path.abspath(source_dir),
                _STAGE_VERSION,
                _op_fingerprint(*_ops),
                sorted(params.items()),
            )
        ).encode()
    ).hexdigest()[:16]
    return os.path.join(stage_root(), f"{kind}-{key}.parquet")


def _is_staged(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def materialize_once(df: DataFrame, path: str) -> None:
    """Write ``df`` to ``path`` unless a complete copy already exists.
    Atomic: write to a pid-suffixed temp dir, rename into place; on a
    lost race the temp copy is discarded and the winner's stands."""
    if _is_staged(path):
        return
    os.makedirs(stage_root(), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def near_dup_pairs_path(sf_dir: str, n: int = 3, threshold: float = 0.5) -> str:
    """Canonical stage location of the pair graph — keyed by the
    producing operator's source fingerprint, so callers (and tests)
    always agree with the builder on what 'current' means."""
    from data_eng_project_spark.operators import dedup as D

    return stage_path(
        "near_dup_pairs",
        sf_dir,
        _ops=(D.ngram_jaccard_pairs,),
        n=n,
        threshold=threshold,
    )


def dup_components_path(sf_dir: str, n: int = 3, threshold: float = 0.5) -> str:
    from data_eng_project_spark.operators import dedup as D
    from data_eng_project_spark.operators.clusters import connected_components

    return stage_path(
        "dup_components",
        sf_dir,
        _ops=(D.ngram_jaccard_pairs, connected_components),
        n=n,
        threshold=threshold,
    )


# Readers pass the staged schema, so a read plans without the footer job
# that schema inference would run.
NEAR_DUP_PAIRS_SCHEMA = "id_a long, id_b long, jaccard double"


def near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The staged near-dup pair graph of ``sf_dir``'s documents table:
    (id_a, id_b, jaccard) from the exact PPJoin-pruned n-gram-Jaccard
    self-join. First caller materializes; everyone else scans parquet
    (doubles round-trip bit-exactly, so staged and direct results are
    identical to the oracle hash)."""
    from data_eng_project_spark.tables import load_table
    from data_eng_project_spark.operators import dedup as D

    path = near_dup_pairs_path(sf_dir, n=n, threshold=threshold)
    if not _is_staged(path):
        docs = load_table(spark, sf_dir, "documents")
        pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id", n=n, threshold=threshold)
        materialize_once(pairs, path)
    return spark.read.schema(NEAR_DUP_PAIRS_SCHEMA).parquet(path)


# The five registry consumers of the staged pair graph — the single
# source of truth for every tool that times the staged path (bench.py's
# `staged` group, tools/scale_probe.py's `staged` pseudo-query). One
# list, so a consumer rename cannot drift between the two harnesses.
STAGED_CONSUMERS = (
    "dedup_canonical_keep",
    "soft_dedup_weights",
    "dup_graph_triangles",
    "split_leakage_audit",
    "pagerank_dup_docs",
)


def timed_staged_run(spark: SparkSession, sf_dir: str) -> dict:
    """Time the staged pair-graph path in a FRESH throwaway stage dir:
    cold build (pair graph + components materialization) then the five
    warm consumers reading the stage. Returns
    {"cold_build_sec": ..., "warm_consumers_sec": ...,
     "consumer_sec": {name: sec}} — the per-consumer split is the r13
    observability fix (VERDICT r12: the r12 artifact only recorded the
    group total, so a claimed per-consumer win could not be checked
    against the driver's own run). ``warm_consumers_sec`` keeps its
    exact r12 meaning (one wall-clock interval over the loop) for
    cross-round comparability; per-consumer values are timed inside it.
    Restores $SPARK_GRAFT_STAGE_DIR and removes the temp dir on exit;
    unknown consumer names raise (a silent skip would report a fake
    speedup)."""
    import time

    from data_eng_project_spark.plans import REGISTRY

    missing = [q for q in STAGED_CONSUMERS if q not in REGISTRY]
    if missing:
        raise KeyError(f"staged consumers missing from REGISTRY: {missing}")
    stage_dir = tempfile.mkdtemp(prefix="staged_bench_")
    prev = os.environ.get("SPARK_GRAFT_STAGE_DIR")
    os.environ["SPARK_GRAFT_STAGE_DIR"] = stage_dir
    per_consumer: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        for build in (near_dup_pairs, dup_components):
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        for name in STAGED_CONSUMERS:
            tq = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            per_consumer[name] = round(time.perf_counter() - tq, 3)
            spark.catalog.clearCache()
        warm = round(time.perf_counter() - t0, 3)
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_STAGE_DIR", None)
        else:
            os.environ["SPARK_GRAFT_STAGE_DIR"] = prev
        shutil.rmtree(stage_dir, ignore_errors=True)
    return {
        "cold_build_sec": cold,
        "warm_consumers_sec": warm,
        "consumer_sec": per_consumer,
    }


DUP_COMPONENTS_SCHEMA = "id long, comp long"


def dup_components(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The staged connected components (id, comp) of the near-dup pair
    graph — derived from the staged pair list, so the component labelling
    also runs at most once per corpus."""
    from data_eng_project_spark.operators.clusters import connected_components

    path = dup_components_path(sf_dir, n=n, threshold=threshold)
    if not _is_staged(path):
        pairs = near_dup_pairs(spark, sf_dir, n=n, threshold=threshold)
        materialize_once(connected_components(pairs), path)
    return spark.read.schema(DUP_COMPONENTS_SCHEMA).parquet(path)
