"""Lookup / routing joins — the reference's dictionary-join family (SURVEY §2.4).

All dimension joins broadcast the small side explicitly (the RAM-dictionary analog,
DbMappings.java:37-72); fact-fact joins are left to Catalyst (sort-merge + AQE skew
splitting). At 100 TB the dims here (vocabularies, concept maps) are MBs — broadcast
is strictly correct; never let a dim shuffle the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def concept_lookup(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Equi lookup join against a small dimension (J1 analog:
    mapper/helpers/FindOmopConcepts.java:75-129 — RAM map in bulk mode, i.e. a
    broadcast hash join)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def lookup_with_default(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    value_col: str,
    default,
    out_col: str | None = None,
) -> DataFrame:
    """Lookup with fallback default (J4 analog: source_to_concept_map default
    concept 0 when unmapped — FindOmopConcepts.java:109-112, 139-153)."""
    out_col = out_col or value_col
    joined = fact.join(F.broadcast(dim), on=on, how="left")
    return joined.withColumn(out_col, F.coalesce(F.col(value_col), F.lit(default)))


def temporal_validity_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    fact_date: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "inner",
) -> DataFrame:
    """As-of/range join (J2 analog: keep the candidate concept whose
    [valid_start_date, valid_end_date] covers the record date —
    FindOmopConcepts.java:116-128). Broadcast + residual range filter: Catalyst plans
    BroadcastHashJoin on the equi keys with the range predicate as a post-join
    filter — no shuffle of the fact side."""
    cond: Column | None = None
    for k in on:
        c = fact[k] == dim[k]
        cond = c if cond is None else cond & c
    cond = cond & (fact[fact_date] >= dim[valid_from]) & (fact[fact_date] <= dim[valid_to])
    joined = fact.join(F.broadcast(dim), on=cond, how=how)
    # drop the dim's duplicate key columns
    return joined.drop(*[dim[k] for k in on])


def materialize_dim(df, name: str | None = None, storage_level=None):
    """J7: materialized vocabulary view (reference precomputes 3-way dim joins into
    helper tables once per job and reuses them across every mapper,
    pre_process_create_etl_helper_tables.sql:27-233).

    Persists the (small, dim-sized) frame so repeated broadcast joins against it
    re-read memory instead of re-running the dim join, optionally registers a temp
    view for SQL access, and returns ``(cached_df, release)`` — call ``release()``
    at end-of-job (the reference drops its helper tables in post-processing).

    Scale contract: ONLY for dim-sized frames (vocabularies, concept maps) — this
    is the one place persist is correct; fact-sized persists were measured 6x
    slower than re-scanning pruned parquet (CLAUDE.md).
    """
    from pyspark import StorageLevel

    cached = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    if name:
        cached.createOrReplaceTempView(name)

    def release():
        cached.unpersist()
        if name:
            cached.sparkSession.catalog.dropTempView(name)

    return cached, release
