"""Query registry: the single source of truth for the engine's declared surface.

Every operator that SURVEY.md §2 claims as implemented registers here with
 - a Spark callable ``(spark, sf_dir) -> DataFrame``
 - optionally an exact DuckDB oracle SQL string (same column names/aliases)

``__spark_entry__.py`` re-exports this registry to the driver, which runs
Spark vs DuckDB side-by-side at sf0.01 (row-count + schema + order-insensitive
value-hash). Queries without an oracle get a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None,
             tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Decorator: declare a named engine query (and optionally its oracle)."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")

        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Every entry point tunes the (possibly external) session first:
            # AQE/Arrow confs + shipping this package to executor workers.
            from pyspark_ml_features_spark.session import tune_session

            return fn(tune_session(spark), sf_dir)

        tuned.__name__ = fn.__name__
        tuned.__doc__ = fn.__doc__
        _REGISTRY[name] = Query(name=name, fn=tuned, oracle=oracle,
                                doc=(fn.__doc__ or "").strip(), tags=tags)
        return fn

    return wrap


def all_queries() -> dict[str, Query]:
    # Import for side effects: operator modules register on import.
    from pyspark_ml_features_spark import queries as _  # noqa: F401

    return dict(_REGISTRY)


def spark_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in all_queries().items()}


def oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items()
            if q.oracle is not None}
