"""Query registry: name → (spark_fn, oracle_sql, tags).

``register`` wraps every query so that it runs ``session.prepare`` on the
session it is handed before building its plan: the driver passes in its
own vanilla session (ANSI on, host timezone), and the engine's
NULL-on-failure, UTC and ``nanosAsLong`` semantics must hold on it for
every query call. The wrapper is what ``REGISTRY[name].fn``,
``__spark_entry__.queries()`` and a direct import of a plan function all
get, so no query body prepares the session itself.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from data_eng_project_spark.session import prepare

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    headline: bool = False  # included in bench.py's timed set
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None, headline: bool = False, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            # A silent overwrite would drop the earlier query from the
            # graded/audited surface invisibly — collisions must be loud.
            raise ValueError(f"duplicate query registration: {name!r}")

        @functools.wraps(fn)
        def prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
            prepare(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(
            name=name, fn=prepared, oracle=oracle, headline=headline, tags=tags
        )
        return prepared

    return deco
