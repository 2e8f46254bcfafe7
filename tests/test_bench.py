"""bench.py's timing loop and the query set behind `value`."""

import importlib.util
import os

from data_eng_project_spark.plans import REGISTRY

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_time_queries_returns_min_seconds_per_query(spark, sf_dir):
    names = ["q1_pricing_summary", "customer_nation_region"]
    out = bench.time_queries(spark, sf_dir, [REGISTRY[n] for n in names], sweeps=2)
    assert sorted(out) == sorted(names)
    assert all(v > 0 for v in out.values())


def test_extended_queries_are_registered():
    assert all(name in REGISTRY for name in bench.EXTENDED)


def test_headline_set_is_the_21_queries_value_sums():
    assert sum(1 for spec in REGISTRY.values() if spec.headline) == 21


def test_codegen_compiles_counts_new_classes_not_cache_hits(spark):
    """A plan whose generated code this session has not seen compiles at
    least one class; running the same plan again is a cache hit."""
    import random

    from pyspark.sql import functions as F

    from data_eng_project_spark.session import codegen_compiles

    # The literal is inlined into the generated code, so the class is new.
    salt = random.randrange(1, 2**40)

    def run() -> int:
        before = codegen_compiles(spark)
        spark.range(100).select((F.col("id") * salt).alias("x")).write.format(
            "noop"
        ).mode("overwrite").save()
        return codegen_compiles(spark) - before

    assert run() >= 1
    assert run() == 0
