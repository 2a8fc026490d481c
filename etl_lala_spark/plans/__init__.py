"""Named-query registry: the engine's public query surface.

Every operator from SURVEY.md §2 (and the LLM-data-pipeline additions) is
exposed as a named query: a ``(spark, sf_dir) -> DataFrame`` callable plus —
whenever the semantics are ANSI-SQL-expressible — an equivalent DuckDB SQL
string used as a correctness oracle. ``__spark_entry__`` re-exports this
registry to the verification driver.

Register with::

    @register("q1_pricing_summary", oracle="SELECT ...")
    def q1(spark: SparkSession, sf_dir: str) -> DataFrame: ...

Column-name discipline: the driver's comparison sorts columns by name before
hashing values, so every computed column MUST carry the same alias in the
Spark plan and in the oracle SQL. Float discipline: double aggregates are
rounded (round(x, 2..6)) identically on both sides so independent summation
orders hash-match.

Registry order is registration order: the ``_PLAN_MODULES`` order, then
source order within each module. Importing the registry only imports those
modules; it spawns no process and writes no file.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Submodules that populate the registry on import.
_PLAN_MODULES = (
    "etl_lala_spark.plans.relational",
    "etl_lala_spark.plans.tpch_ext",
    "etl_lala_spark.plans.advanced",
    "etl_lala_spark.plans.scalars_ext",
    "etl_lala_spark.plans.windows",
    "etl_lala_spark.plans.datasus",
    "etl_lala_spark.plans.events",
    "etl_lala_spark.plans.llm_text",
    "etl_lala_spark.plans.llm_dedup",
    "etl_lala_spark.plans.llm_similarity",
    "etl_lala_spark.plans.multimodal",
    "etl_lala_spark.plans.audits",
    "etl_lala_spark.plans.stream_twins",
    "etl_lala_spark.plans.lifecycle",
    "etl_lala_spark.plans.gates_io",
)


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered table views
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator adding a query (and optional DuckDB oracle) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load_all() -> None:
    for mod in _PLAN_MODULES:
        importlib.import_module(mod)


def all_queries() -> dict[str, Query]:
    _load_all()
    return dict(_REGISTRY)


def query_fns() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
