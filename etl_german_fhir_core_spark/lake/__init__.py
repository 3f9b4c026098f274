"""Iceberg-style snapshot table layer over bucketed Parquet.

The environment ships no Iceberg/Delta jars, so the engine provides its own minimal
lakehouse table format with the subset of semantics the CDC north rule needs:

- atomic snapshot commits (JSON manifest, the store's PUT-IF-ABSENT) — the analog of an
  Iceberg commit; on an object store this becomes an optimistic-concurrency swap,
- key-bucketed data layout (``bucket(N, conv_id)``) so MERGE touches only the buckets a
  batch writes to — the analog of the reference's provenance-key B-tree indexes
  (/root/reference/src/main/resources/pre_processing/pre_process_add_index.sql:1-16),
- copy-on-write keyed MERGE with last-write-wins resolution — the analog of the
  reference's delete-then-insert upsert keyed on the record's stable id
  (/root/reference/src/main/java/org/miracum/etl/fhirtoomop/mapper/ConditionMapper.java:131-140),
- additive schema evolution — the analog of ``ADD COLUMN IF NOT EXISTS``
  (/root/reference/src/main/resources/pre_processing/pre_process_alter_tables.sql:4-17),
- idempotent epoch commits recorded in the manifest — the analog of Spring Batch's
  restartable reader state (FhirServerItemReader.java:160-191).
"""

from etl_german_fhir_core_spark.lake.store import (
    CommitConflict,
    ConditionalPutCommitter,
    LocalStore,
)
from etl_german_fhir_core_spark.lake.table import MergeResult, SnapshotTable

__all__ = [
    "SnapshotTable",
    "MergeResult",
    "CommitConflict",
    "ConditionalPutCommitter",
    "LocalStore",
]
