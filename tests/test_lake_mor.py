"""MERGE-ON-READ tables (merge_mode='mor'): epochs append per-bucket delta
files instead of copy-on-writing whole buckets; reads resolve LWW across
base + deltas under the same (order_cols, _lsn, _src) total order the CoW
merge applies at write time. Write amplification is O(batch), not
O(touched-bucket); compact() folds deltas back into the base.

Reference behaviors under test: same MERGE semantics as the CoW path
(SURVEY §7.1 — delete-then-insert keyed upsert, ConditionMapper.java:131-140;
tombstones FhirPsqlResource.java:30-32) delivered through the Iceberg-v2
row-level-delta / Delta deletion-vector storage model instead of rewrite.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_german_fhir_core_spark.lake import SnapshotTable

TS0 = dt.datetime(2025, 1, 1, 0, 0, 0)


def _schema():
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )


def _batch(spark, rows, extra=None):
    fields = [
        T.StructField("op", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
    if extra:
        fields.append(T.StructField(extra, T.StringType(), True))
    return spark.createDataFrame(rows, T.StructType(fields))


def _mk(spark, root, mode):
    return SnapshotTable.create(spark, root, _schema(), ["conv_id", "turn_idx"],
                                num_buckets=4, merge_mode=mode)


def _full_state(tbl):
    """(key) -> (text, _lsn, _deleted) including retained tombstones."""
    return {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["_lsn"], bool(r["_deleted"]))
        for r in tbl.read(include_meta=True).collect()
    }


# Three epochs covering: inserts, in-batch conflicts (LWW losers), an
# out-of-order stale update, a delete of a live key, a late event UNDER a
# tombstone (must stay suppressed), and a re-insert OVER a tombstone.
EPOCHS = [
    ("e1", [
        ("I", 1, "c1", 0, "a0", TS0),
        ("I", 2, "c1", 1, "a1", TS0),
        ("I", 3, "c2", 0, "b0", TS0),
        ("U", 4, "c2", 0, "b0-dup", TS0),             # in-batch conflict, wins on lsn
        ("I", 5, "c3", 0, "c0", TS0),
    ]),
    ("e2", [
        ("U", 10, "c1", 0, "a0-new", TS0 + dt.timedelta(seconds=60)),
        ("U", 11, "c1", 1, "stale", TS0 - dt.timedelta(seconds=60)),  # LWW loser vs base
        ("D", 12, "c3", 0, None, TS0 + dt.timedelta(seconds=61)),
        ("I", 13, "c4", 7, "d7", TS0),
    ]),
    ("e3", [
        ("U", 20, "c3", 0, "late-under-tombstone", TS0 + dt.timedelta(seconds=30)),
        ("I", 21, "c2", 9, "b9", TS0),
        ("U", 22, "c4", 7, "d7-new", TS0 + dt.timedelta(seconds=90)),
    ]),
]

EXPECTED_LIVE = {
    ("c1", 0): "a0-new",
    ("c1", 1): "a1",
    ("c2", 0): "b0-dup",
    ("c2", 9): "b9",
    ("c4", 7): "d7-new",
}


def _run_epochs(tbl):
    for eid, rows in EPOCHS:
        tbl.merge(_batch(tbl.spark, rows), epoch_id=eid)


def test_mor_state_equivalent_to_cow_and_never_rewrites_base(spark, tmp_path):
    cow = _mk(spark, str(tmp_path / "cow"), "cow")
    mor = _mk(spark, str(tmp_path / "mor"), "mor")
    _run_epochs(cow)

    base_after = {}
    for eid, rows in EPOCHS:
        r = mor.merge(_batch(spark, rows), epoch_id=eid)
        assert not r.skipped
        base_after[eid] = mor.manifest()["files"]

    # identical resolved state — live view AND meta (winner lsn, retained
    # tombstone for c3/0 suppressing the late lsn=20 event)
    assert _full_state(mor) == _full_state(cow)
    assert _full_state(mor)[("c3", 0)][2] is True
    assert {k for k, v in _full_state(mor).items() if not v[2]} == set(EXPECTED_LIVE)

    # THE MoR property: no epoch ever rewrote a base file
    assert base_after["e1"] == base_after["e2"] == base_after["e3"] == {}
    m = mor.manifest()
    assert sum(len(fs) for fs in m["deltas"].values()) >= 3
    # idempotent replay: no new snapshot, no delta growth
    before = mor.current_snapshot_id()
    assert mor.merge(_batch(spark, EPOCHS[1][1]), epoch_id="e2").skipped
    assert mor.current_snapshot_id() == before


def test_mor_compact_folds_deltas_into_base(spark, tmp_path):
    mor = _mk(spark, str(tmp_path / "t"), "mor")
    _run_epochs(mor)
    state = _full_state(mor)

    r = mor.compact(epoch_id="fold-1")
    assert not r.skipped
    m = mor.manifest()
    assert all(not fs for fs in m["deltas"].values())
    assert sum(len(fs) for fs in m["files"].values()) > 0
    assert _full_state(mor) == state  # content-preserving, tombstones included

    # post-compaction the read is the plain CoW scan again (no resolution agg)
    plan = mor.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "max_by" not in plan
    # nothing left to compact
    assert mor.compact(epoch_id="fold-2").skipped


def test_mor_changes_between_spans_delta_commits(spark, tmp_path):
    mor = _mk(spark, str(tmp_path / "t"), "mor")
    _run_epochs(mor)
    # diff from snapshot 1 (after e1) to head: exactly the e2+e3 net effect
    diff = {
        (r["op"], r["conv_id"], r["turn_idx"]): r["text"]
        for r in mor.changes_between(1, mor.current_snapshot_id()).collect()
    }
    assert diff == {
        ("U", "c1", 0): "a0-new",
        ("D", "c3", 0): "c0",          # D carries the removed payload
        ("I", "c4", 7): "d7-new",
        ("I", "c2", 9): "b9",
    }


def test_mor_cow_paths_resolve_and_clear_deltas(spark, tmp_path):
    mor = _mk(spark, str(tmp_path / "t"), "mor")
    _run_epochs(mor)
    m = mor.manifest()
    delta_buckets = {b for b, fs in m["deltas"].items() if fs}
    assert delta_buckets

    # delete_where rewrites the buckets it touches as CoW — those buckets'
    # deltas MUST be cleared or the deleted rows would resurrect at read
    mor.delete_where(F.col("conv_id") == "c1", epoch_id="gdpr-c1")
    m2 = mor.manifest()
    live = _full_state(mor)
    assert ("c1", 0) not in live and ("c1", 1) not in live
    for b, fs in m2["deltas"].items():
        if m2["files"].get(b) != m.get("files", {}).get(b):  # rewritten bucket
            assert fs == []
    # untouched keys intact
    assert live[("c2", 0)][0] == "b0-dup"
    assert live[("c3", 0)][2] is True


def test_mor_vacuum_keeps_live_delta_files(spark, tmp_path):
    mor = _mk(spark, str(tmp_path / "t"), "mor")
    _run_epochs(mor)
    state = _full_state(mor)
    removed = mor.vacuum(keep_last=1)
    assert removed >= 0
    # every referenced delta file survived; the table still reads correctly
    m = mor.manifest()
    for fs in m["deltas"].values():
        for f in fs:
            assert os.path.exists(os.path.join(mor.root, f)), f
    assert _full_state(mor) == state


def test_mor_schema_evolution_null_fills_older_deltas(spark, tmp_path):
    mor = _mk(spark, str(tmp_path / "t"), "mor")
    mor.merge(_batch(spark, [("I", 1, "c1", 0, "a", TS0)]), epoch_id="e1")
    mor.merge(
        _batch(spark, [("I", 2, "c2", 0, "b", TS0, "tool-x")], extra="tool"),
        epoch_id="e2",
    )
    rows = {r["conv_id"]: r["tool"] for r in mor.read().collect()}
    assert rows == {"c1": None, "c2": "tool-x"}


def test_mor_rebucket_resolves_then_rehashes(spark, tmp_path):
    mor = _mk(spark, str(tmp_path / "t"), "mor")
    _run_epochs(mor)
    state = _full_state(mor)
    mor.rebucket(8, epoch_id="layout-8")
    m = mor.manifest()
    assert m["num_buckets"] == 8
    assert all(not fs for fs in m.get("deltas", {}).values())
    assert _full_state(mor) == state


def test_mor_resolution_scoped_to_dirty_buckets(spark, tmp_path):
    """Read-time resolution is O(un-compacted fraction), not O(selection):
    buckets without deltas scan shuffle-free like CoW. After compacting only
    some buckets, a read restricted to a clean bucket must plan NO resolution
    aggregate, while the full read (mixed clean + dirty) stays correct."""
    mor = _mk(spark, str(tmp_path / "t"), "mor")
    _run_epochs(mor)
    state = _full_state(mor)
    m = mor.manifest()
    delta_buckets = sorted(int(b) for b, fs in m["deltas"].items() if fs)
    assert len(delta_buckets) >= 2
    keep_dirty = delta_buckets[0]
    mor.compact(
        epoch_id="partial",
        target_buckets=[b for b in delta_buckets if b != keep_dirty],
    )
    m2 = mor.manifest()
    assert m2["deltas"][str(keep_dirty)]  # still dirty
    clean = [int(b) for b in m2["files"] if not m2["deltas"].get(b)]
    assert clean

    # mixed read: clean fast path union resolved dirty bucket — same state
    assert _full_state(mor) == state

    # clean-bucket slice pays zero resolution (the pruning payoff)
    plan = (
        mor.read(buckets=clean[:1])._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "max_by" not in plan
    # dirty-bucket slice does resolve
    plan_d = (
        mor.read(buckets=[keep_dirty])._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "max_by" in plan_d


def test_mor_concurrent_delta_appends_rebase_when_disjoint(spark, tmp_path):
    """Two writers appending MoR deltas concurrently: disjoint buckets rebase
    (both epochs land, union state), the same bucket conflicts (relative _src
    order between the two delta files would be ambiguous)."""
    from etl_german_fhir_core_spark.lake import CommitConflict
    from etl_german_fhir_core_spark.lake.table import _bucket_expr

    root = str(tmp_path / "t")
    t1 = _mk(spark, root, "mor")
    t2 = SnapshotTable.load(spark, root)

    # find conv ids landing in two different buckets (and two sharing one)
    ids = spark.createDataFrame(
        [(f"k{i}",) for i in range(32)], "conv_id string"
    ).select("conv_id", _bucket_expr("conv_id", 4).alias("b")).collect()
    by_bucket: dict[int, list[str]] = {}
    for r in ids:
        by_bucket.setdefault(r["b"], []).append(r["conv_id"])
    (b1, ks1), (b2, ks2) = sorted(by_bucket.items())[:2]

    # writer 1 plans against the empty head; writer 2 commits first
    stale = t1.manifest()
    t2.merge(_batch(spark, [("I", 1, ks2[0], 0, "w2", TS0)]), epoch_id="w2-e1")

    orig = t1.manifest
    armed = {"on": True}

    def stale_once(snapshot_id=None):
        if armed["on"] and snapshot_id is None:
            armed["on"] = False
            return stale
        return orig(snapshot_id)

    # DISJOINT bucket: t1's delta append rebases onto t2's commit
    t1.manifest = stale_once
    r = t1.merge(_batch(spark, [("I", 2, ks1[0], 0, "w1", TS0)]), epoch_id="w1-e1")
    t1.manifest = orig
    assert not r.skipped
    live = {k: v[0] for k, v in _full_state(t1).items() if not v[2]}
    assert live == {(ks2[0], 0): "w2", (ks1[0], 0): "w1"}
    assert t1.has_epoch("w1-e1") and t1.has_epoch("w2-e1")

    # SAME bucket: append-append must conflict, not silently interleave
    stale2 = t1.manifest()
    t2.merge(_batch(spark, [("I", 3, ks1[1], 0, "w2b", TS0)]), epoch_id="w2-e2")
    armed["on"] = True

    def stale2_once(snapshot_id=None):
        if armed["on"] and snapshot_id is None:
            armed["on"] = False
            return stale2
        return orig(snapshot_id)

    t1.manifest = stale2_once
    with pytest.raises(CommitConflict):
        t1.merge(_batch(spark, [("I", 4, ks1[2], 0, "w1b", TS0)]),
                 epoch_id="w1-e2")
    t1.manifest = orig
    assert not t1.has_epoch("w1-e2")


def test_mor_stats_widen_keeps_range_skipping(spark, tmp_path):
    """MoR delta appends WIDEN a bucket's tracked [min, max] instead of
    dropping it: read_range still prunes out-of-window buckets on a write-hot
    MoR table, finds rows added by deltas (bounds grew to cover them), and a
    bucket with no base stats history stays conservatively readable."""
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]),
        ["conv_id", "turn_idx"], num_buckets=4,
        stats_cols=["ts"], merge_mode="mor",
    )

    def _b(rows):
        return spark.createDataFrame(
            rows, "op string, lsn long, conv_id string, turn_idx int, "
            "text string, ts timestamp")

    # seed through compact so every bucket has known base bounds around TS0
    tbl.merge(_b([("I", i, f"c{i}", 0, "seed", TS0) for i in range(1, 17)]),
              epoch_id="seed")
    tbl.compact(epoch_id="fold-0")
    m0 = tbl.manifest()
    assert all("ts" in s for s in m0["stats"].values())

    # a delta append far in the future must WIDEN its bucket's bounds...
    late = TS0 + dt.timedelta(days=30)
    tbl.merge(_b([("I", 100, "c1", 9, "late", late)]), epoch_id="late")
    m1 = tbl.manifest()
    from etl_german_fhir_core_spark.lake.table import _bucket_expr
    b1 = (spark.createDataFrame([("c1",)], "conv_id string")
          .select(_bucket_expr("conv_id", 4).alias("b")).collect()[0]["b"])
    assert m1["stats"][str(b1)]["ts"][1] > m0["stats"][str(b1)]["ts"][1]

    # ...so a window query over the late range both PRUNES (not every bucket
    # is scanned) and FINDS the delta row
    pruned = tbl._range_buckets("ts", late - dt.timedelta(hours=1),
                                late + dt.timedelta(hours=1))
    assert pruned is not None and len(pruned) < 4
    got = tbl.read_range("ts", late - dt.timedelta(hours=1),
                         late + dt.timedelta(hours=1)).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in got] == [("c1", 9)]
    # the seed window still prunes nothing incorrectly: all 16 seeds found
    assert tbl.read_range("ts", TS0, TS0).count() == 16


def test_mor_compact_min_deltas_folds_deep_chains_only(spark, tmp_path):
    """compact(min_deltas=k) folds only buckets with >= k delta files — the
    maintenance pass rewrites the deep chains where read-side resolution cost
    concentrates, not every bucket one small delta ever touched."""
    mor = _mk(spark, str(tmp_path / "t"), "mor")
    # c1 gets 3 epochs of deltas; cX keys get 1 each
    for i in range(3):
        mor.merge(_batch(spark, [("I", 10 + i, "c1", i, f"a{i}", TS0)]),
                  epoch_id=f"hot-{i}")
    mor.merge(_batch(spark, [("I", 50, "c2", 0, "b", TS0),
                             ("I", 51, "c3", 0, "c", TS0)]), epoch_id="cold")
    state = _full_state(mor)
    m = mor.manifest()
    deep = {b for b, fs in m["deltas"].items() if len(fs) >= 3}
    shallow = {b for b, fs in m["deltas"].items() if 0 < len(fs) < 3}
    assert deep and shallow

    r = mor.compact(epoch_id="fold-deep", min_deltas=3)
    m2 = mor.manifest()
    assert set(map(str, r.touched_buckets)) == deep
    for b in deep:
        assert m2["deltas"][b] == [] and m2["files"][b]
    for b in shallow:
        assert m2["deltas"][b] == m["deltas"][b]  # untouched
    assert _full_state(mor) == state
