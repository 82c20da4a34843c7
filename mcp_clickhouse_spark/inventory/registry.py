"""Query registry backing the driver contract (``__spark_entry__``).

Every operator from SURVEY.md §2 that we claim as done registers here with a
Spark callable and (when SQL-expressible) a DuckDB oracle. The driver runs
both at sf0.01 and compares row-count + schema + order-insensitive value
hash, so:

  - column names must match exactly on both sides (alias everything);
  - float results must be bit-deterministic: money/quantity aggregates go
    through exact DECIMAL arithmetic on BOTH sides before a final cast to
    double (fp summation order differs between engines otherwise);
  - anything order-sensitive inside a value (e.g. arrays from collect_list)
    must be canonically sorted on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL, or None → driver does rows-only check
    category: str


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, category: str = "core"):
    """Decorator: register a (spark, sf_dir) -> DataFrame callable."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, category=category)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from mcp_clickhouse_spark.session import read_table

    return read_table(spark, sf_dir, name)


# --- prepared-plan cache ----------------------------------------------------
# Re-invoking a query callable rebuilds its DataFrame expression tree through
# the Python API — ~100-150 ms of py4j round-trips for a multi-join query,
# pure driver overhead re-deriving a plan that cannot have changed for the
# same (session, sf_dir, query).  A long-lived server serving repeated
# queries prepares once and re-executes — same idea as SQL prepared
# statements — so run_prepared memoizes the ANALYZED LOGICAL PLAN and
# replays it through Dataset.ofRows on later calls.
#
# What this does NOT cache: results, shuffles, or physical plans.  ofRows
# builds a fresh Dataset → fresh QueryExecution → fresh RDDs and shuffle
# dependencies, so every call re-optimizes, re-plans, and RE-EXECUTES the
# query end-to-end (measured: replayed join_star executes in the same
# ~0.5 s as a cold build — only the ~140 ms Python construction drops to
# ~5 ms; reusing the SAME DataFrame object would instead skip computed
# shuffle stages entirely, which is why we never do that).
_PLAN_CACHE: dict[tuple[int, str, str], Any] = {}
_PLAN_CACHE_MAX = 1024


def run_prepared(spark: SparkSession, sf_dir: str, spec: "QuerySpec") -> DataFrame:
    """Build spec's DataFrame, replaying the memoized analyzed plan when the
    same (session, sf_dir, query) was built before."""
    key = (id(spark), sf_dir, spec.name)
    # The cached value pins the session object alongside the plan: if only
    # the id were kept, a garbage-collected session could recycle its id and
    # a NEW session would silently replay the dead session's analyzed plan.
    hit = _PLAN_CACHE.get(key)
    plan = hit[1] if hit is not None and hit[0] is spark else None
    if plan is not None:
        try:
            jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, plan
            )
            from pyspark.sql.classic.dataframe import DataFrame as _CDF

            return _CDF(jdf, spark)
        except Exception:
            _PLAN_CACHE.pop(key, None)  # connect-mode session, API drift, …
    df = spec.fn(spark, sf_dir)
    try:
        if not df.isStreaming:
            if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
                _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
            _PLAN_CACHE[key] = (spark, df._jdf.queryExecution().analyzed())
    except Exception:
        pass  # non-classic DataFrame — just skip memoization
    return df
