"""Outside-in layer tracing: spans around the package's public functions.

The traced run patches the public entry points of each layer with wrappers
that open a span per call. Spans nest (``lake.merge`` inside
``cdc.apply_epoch`` or inside a consumer's ``sync_once``), carry an id and
their parent's id, and stay in memory until the run ends. Each span also
records the Spark substrate's deltas over its interval — jobs, tasks, failed
tasks, GC, input and shuffle bytes — read from the executor summary after the
listener bus has drained.

The wrappers do no I/O of their own: what needs the table's manifests
(staged bytes, touched-bucket fraction, merge mode) is filled in afterwards
by :func:`annotate_merges`, outside every span.

Untraced runs install nothing, so the program runs exactly as a user's would.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager

COUNTER_FIELDS = (
    "jobs", "tasks", "failed_tasks", "gc_ms", "task_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
)
OPERATOR_FUNCTIONS = {
    "ngram_jaccard_pairs": "ngram_jaccard",
    "minhash_signatures": "minhash_signatures",
    "minhash_lsh_pairs": "minhash_lsh",
    "simhash_candidates": "simhash_candidates",
    "simhash_pairs": "simhash_pairs",
    "dedup_clusters": "dedup_clusters",
}
LAKE_WRITES = ("lake.merge", "lake.merge_agg", "lake.merge_replace_keys")


class SparkCounters:
    """Cumulative substrate counters of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def read(self) -> dict:
        # task-end events reach the status store through the listener bus;
        # drain it so a span sees the tasks its own jobs ran
        self._sc.listenerBus().waitUntilEmpty(10_000)
        out = dict.fromkeys(COUNTER_FIELDS, 0)
        summaries = self._sc.statusStore().executorList(True)
        for i in range(summaries.size()):
            e = summaries.apply(i)
            out["tasks"] += e.totalTasks()
            out["failed_tasks"] += e.failedTasks()
            out["gc_ms"] += e.totalGCTime()
            out["task_ms"] += e.totalDuration()
            out["input_bytes"] += e.totalInputBytes()
            out["shuffle_read_bytes"] += e.totalShuffleRead()
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
        out["jobs"] = int(self._sc.dagScheduler().nextJobId())
        return out


class Tracer:
    """In-memory span recorder. ``span`` is a context manager yielding the
    span's record, to which callers may add attributes."""

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": next(self._ids),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs}
        # the counter reads sit inside the span's own interval, so a parent's
        # self time never absorbs a child's bookkeeping
        t0 = time.perf_counter()
        c0 = self.counters.read()
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            c1 = self.counters.read()
            rec.update({k: c1[k] - c0[k] for k in COUNTER_FIELDS})
            rec["start"], rec["end"] = t0, time.perf_counter()
            self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def install(tracer: Tracer):
    """Patch every traced public function; returns a callable that restores
    the originals."""
    from etl_german_fhir_core_spark.cdc.engine import CdcEngine
    from etl_german_fhir_core_spark.lake.table import SnapshotTable
    from etl_german_fhir_core_spark.operators import dedup
    from etl_german_fhir_core_spark.streaming.changefeed import (
        AggFeedSync,
        ChangeFeedSync,
    )

    undo = []

    def patch(owner, attr, wrapper_factory):
        orig = getattr(owner, attr)
        setattr(owner, attr, wrapper_factory(orig))
        undo.append((owner, attr, orig))

    def simple(name):
        def factory(orig):
            def wrapped(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)
            return wrapped
        return factory

    # ---- cdc
    patch(CdcEngine, "plan_epochs", simple("cdc.plan_epochs"))

    def apply_epoch(orig):
        def wrapped(self, epoch_id, lo, hi):
            with tracer.span("cdc.apply_epoch") as rec:
                res = orig(self, epoch_id, lo, hi)
                rec.update(rows_in=res.rows_in, rows_applied=res.rows_applied,
                           rows_deleted=res.rows_deleted,
                           conflicts=res.conflict_count)
                return res
        return wrapped

    patch(CdcEngine, "apply_epoch", apply_epoch)

    # ---- lake: table writes record what annotate_merges needs, no I/O
    def write(name):
        def factory(orig):
            def wrapped(self, *a, **kw):
                with tracer.span(name, root=self.root) as rec:
                    res = orig(self, *a, **kw)
                    rec.update(committed=not res.skipped,
                               snapshot_id=res.snapshot_id,
                               touched=len(res.touched_buckets),
                               rows=res.rows_upserted + res.rows_deleted
                               + res.conflict_count)
                    return res
            return wrapped
        return factory

    for name in LAKE_WRITES:
        patch(SnapshotTable, name.split(".", 1)[1], write(name))
    patch(SnapshotTable, "overwrite", simple("lake.overwrite"))
    # the diff is lazy: this span is its planning (manifest reads, bucket
    # pruning); the consumer's merge that follows executes it
    patch(SnapshotTable, "changes_between", simple("lake.changes_between"))

    # ---- streaming (AggFeedSync inherits sync_once)
    def sync_once(orig):
        def wrapped(self):
            kind = "agg" if isinstance(self, AggFeedSync) else "replica"
            with tracer.span(f"streaming.{kind}.sync_once"):
                return orig(self)
        return wrapped

    patch(ChangeFeedSync, "sync_once", sync_once)

    # ---- operators (callers must reach them through the module attribute)
    for fn, op in OPERATOR_FUNCTIONS.items():
        patch(dedup, fn, simple(f"operators.{op}.build"))

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore


def _manifest_files(m: dict) -> set[str]:
    out = set()
    for fmap in (m.get("files", {}), m.get("deltas", {})):
        for fs in fmap.values():
            out.update(fs)
    return out


def annotate_merges(spark, spans: list[dict]) -> None:
    """Add each committed ``lake.merge`` span's mode, staged bytes (files its
    snapshot added) and touched-bucket fraction, read from the manifests
    after the run."""
    from etl_german_fhir_core_spark.lake.table import SnapshotTable

    tables: dict[str, SnapshotTable] = {}
    for s in spans:
        if s["name"] != "lake.merge":
            continue
        tbl = tables.get(s["root"]) or tables.setdefault(
            s["root"], SnapshotTable.load(spark, s["root"]))
        s["mode"] = tbl.manifest().get("merge_mode", "cow")
        if not s["committed"]:
            continue
        new = tbl.manifest(s["snapshot_id"])
        added = _manifest_files(new) - _manifest_files(tbl.manifest(s["snapshot_id"] - 1))
        s["staged_bytes"] = sum(os.path.getsize(os.path.join(tbl.root, f)) for f in added)
        s["touched_frac"] = s["touched"] / new["num_buckets"]


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part its (sequential) children cover."""
    return (span["end"] - span["start"]) - sum(c["end"] - c["start"] for c in children)


def children_of(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    kids = children_of(spans)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out
