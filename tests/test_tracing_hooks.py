"""The traced benchmark run patches the package's public functions by name and
reads result fields in its wrappers; a rename or a dropped field would fail
only that run. This pins both without any Spark work."""

from __future__ import annotations

import ast
import dataclasses
import inspect
import os
import sys

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench")


def _tracing():
    if PERFBENCH not in sys.path:
        sys.path.insert(0, PERFBENCH)
    import tracing

    return tracing


def test_traced_entry_points_patch_and_restore():
    from etl_german_fhir_core_spark.cdc.engine import CdcEngine
    from etl_german_fhir_core_spark.lake.table import SnapshotTable
    from etl_german_fhir_core_spark.operators import dedup
    from etl_german_fhir_core_spark.streaming.changefeed import ChangeFeedSync

    tracing = _tracing()
    targets = [(CdcEngine, n) for n in ("plan_epochs", "apply_epoch")]
    targets += [(SnapshotTable, n) for n in ("merge", "merge_agg", "merge_replace_keys",
                                             "overwrite", "changes_between")]
    targets += [(ChangeFeedSync, "sync_once")]
    targets += [(dedup, n) for n in tracing.OPERATOR_FUNCTIONS]
    assert len(targets) == 14
    before = {(o, n): getattr(o, n) for o, n in targets}

    restore = tracing.install(tracing.Tracer(counters=None))
    try:
        patched = [n for o, n in targets if getattr(o, n) is not before[(o, n)]]
    finally:
        restore()
    assert patched == [n for _o, n in targets]
    assert all(getattr(o, n) is before[(o, n)] for o, n in targets)
    # the wrappers call through with these signatures
    assert list(inspect.signature(CdcEngine.apply_epoch).parameters) == [
        "self", "epoch_id", "lo", "hi"]
    assert list(inspect.signature(ChangeFeedSync.sync_once).parameters) == ["self"]


def test_traced_wrappers_read_existing_result_fields():
    from etl_german_fhir_core_spark.cdc.engine import EpochResult
    from etl_german_fhir_core_spark.lake.table import MergeResult

    tracing = _tracing()
    result_of = {"apply_epoch": EpochResult, "write": MergeResult}
    tree = ast.parse(inspect.getsource(tracing.install))
    read = {}
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name in result_of:
            read[fn.name] = {
                node.attr for node in ast.walk(fn)
                if isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name) and node.value.id == "res"
            }
    assert set(read) == set(result_of)
    for wrapper, cls in result_of.items():
        fields = {f.name for f in dataclasses.fields(cls)}
        assert read[wrapper] and read[wrapper] <= fields, (wrapper, read[wrapper] - fields)
