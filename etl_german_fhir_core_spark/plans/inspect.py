"""Plan-shape assertions: the engine's guard rails against performance regressions.

The reference hard-codes its physical strategy (RAM dictionaries, keyset paging —
SURVEY §4); this engine delegates to Catalyst but VERIFIES the resulting plan has the
shape a 100 TB deployment needs: dims broadcast, filters pushed to Parquet, no
gratuitous exchanges, hot paths inside whole-stage codegen. Used by tests/test_plans.py.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def has_broadcast_join(df: DataFrame) -> bool:
    """True if the plan contains a BroadcastHashJoin (dim joins must never shuffle
    the fact side — SURVEY §1.3 DbMappings analog)."""
    return "BroadcastHashJoin" in explain_str(df)


def has_broadcast_hint(df: DataFrame) -> bool:
    """True if the LOGICAL plan carries an explicit broadcast hint — independent of
    whether AQE ends up broadcasting. Used as a NEGATIVE assertion on operators
    whose join sides are per-row frames (per-document sizes, per-shingle sets):
    forcing those into a broadcast is a scale bug even when the test corpus fits."""
    s = df._jdf.queryExecution().analyzed().toString()  # type: ignore[attr-defined]
    return "ResolvedHint" in s or "UnresolvedHint" in s


def pushed_filters(df: DataFrame) -> list[str]:
    """The PushedFilters lists from every Parquet scan in the plan."""
    s = explain_str(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", s)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators (each is a full network/disk pass at
    scale; a table write's budget is 1: the bucket-clustering exchange, which
    the LWW hash-agg reuses). A single-partition exchange is not counted."""
    s = explain_str(df, "simple")  # simple mode inlines "Exchange hashpartitioning(...)"
    return len(re.findall(r"\bExchange (?:hashpartitioning|rangepartitioning)", s))


def uses_whole_stage_codegen(df: DataFrame) -> bool:
    """True if the executed plan contains WholeStageCodegen stages. Under AQE the
    final plan only exists after execution, so this runs the plan once (intended
    for test-scale data; the "*(n)" markers appear in simple mode afterwards)."""
    df.collect()  # a write would spawn its own QueryExecution; collect finalizes df's
    s = explain_str(df, "simple")
    return bool(re.search(r"\*\(\d+\)", s)) or "WholeStageCodegen" in s
