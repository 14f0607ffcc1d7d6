"""Driver-facing query catalog.

Every implemented operator from SURVEY.md §2 is exposed here as a
``QuerySpec``: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus a
DuckDB oracle SQL twin (or None for non-SQL-expressible operators, which
get the driver's weaker rows-only check).  ``__spark_entry__.py`` is a
thin re-export of this module.

Column-name contract: every computed column is aliased identically on
both sides; every Double column is rounded to 4 places on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from tg_reporting_etl_spark.adapters import oracle as orc
from tg_reporting_etl_spark.adapters import testdata as td
from tg_reporting_etl_spark.plans.util import round_doubles


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ids: str  # SURVEY.md §2 operator ids exercised
    # bench bucket: "data" (operator throughput), "orch" (scheduling,
    # sink and micro-batch lifecycle on fixed-size work) or
    # "adversarial" (an operator driven into its documented worst case)
    kind: str = "data"


KINDS = ("data", "orch", "adversarial")

_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, survey_ids: str, kind: str = "data"):
    if kind not in KINDS:
        raise ValueError(f"{name}: kind must be one of {KINDS}, got {kind!r}")

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QuerySpec(name, fn, oracle, survey_ids, kind)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.spark_fn for name, spec in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: spec.oracle for name, spec in _REGISTRY.items() if spec.oracle is not None}


def query_kinds() -> dict[str, str]:
    """Each query's bench bucket (see ``QuerySpec.kind``)."""
    _load_all()
    return {name: spec.kind for name, spec in _REGISTRY.items()}


_LOADED = False


def _load_all() -> None:
    """Import every plan module so its @register decorators run."""
    global _LOADED
    if _LOADED:
        return
    from tg_reporting_etl_spark.plans import (  # noqa: F401
        events_plans,
        ingest_plans,
        leaderboard_plans,
        llm_plans,
        player_plans,
        register_risk_plans,
        rollup_plans,
        rtp_plans,
        runner_plans,
        scrub_plans,
        session_plans,
        streaming_plans,
        trans_plans,
    )

    _LOADED = True


# Shared window parameters (testdata ranges are SF-invariant: events span
# 2024-01, lineitem shipdates span 1995-2001 — verified in TESTDATA).
EVENTS_GTE, EVENTS_LT = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
LINEITEM_GTE, LINEITEM_LT = "1995-01-01 00:00:00", "2002-01-01 00:00:00"

__all__ = [
    "QuerySpec",
    "register",
    "queries",
    "oracle_sql",
    "query_kinds",
    "round_doubles",
    "orc",
    "td",
    "EVENTS_GTE",
    "EVENTS_LT",
    "LINEITEM_GTE",
    "LINEITEM_LT",
]
