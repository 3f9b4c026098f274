"""ChangeFeedSync: a downstream table fed ONLY by the source's snapshot diffs
converges to the source state, in snapshot order, exactly once, across
kill/resume (VERDICT r04 next #8)."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_german_fhir_core_spark.lake import SnapshotTable
from etl_german_fhir_core_spark.lake.store import LocalStore
from etl_german_fhir_core_spark.lake.table import SnapshotExpiredError
from etl_german_fhir_core_spark.streaming import AggFeedSync, ChangeFeedSync

TS0 = dt.datetime(2025, 1, 1, 0, 0, 0)

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "op string, lsn long, conv_id string, turn_idx int, "
        "text string, ts timestamp"
    )


def _mk(spark, root, store=None):
    return SnapshotTable.create(spark, root, SCHEMA, ["conv_id", "turn_idx"],
                                num_buckets=4, store=store)


def _live(tbl):
    import pandas as pd

    df = (
        tbl.read(include_meta=True)
        .filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        .toPandas()
    )
    return df[sorted(df.columns)].sort_values(
        ["conv_id", "turn_idx"], kind="mergesort"
    ).reset_index(drop=True)


class _FailNthPut(LocalStore):
    def __init__(self, fail_on: int):
        self._n = 0
        self._fail_on = fail_on

    def put_blob(self, path, data):
        self._n += 1
        if self._n == self._fail_on:
            raise TimeoutError("injected: position write lost")
        super().put_blob(path, data)


def test_diff_stream_converges_exactly_once_across_crash(spark, tmp_path):
    src = _mk(spark, str(tmp_path / "src"))
    # first put = position 1; second crashes
    tgt = _mk(spark, str(tmp_path / "tgt"), store=_FailNthPut(fail_on=2))
    src.merge(_batch(spark, [
        ("U", i, f"c{i}", 0, f"v{i}", TS0 + dt.timedelta(seconds=i))
        for i in range(1, 6)
    ]), epoch_id="e000001")

    sync = ChangeFeedSync(src, tgt, str(tmp_path / "state"))
    assert sync.sync_once() == [1]
    import pandas as pd

    pd.testing.assert_frame_equal(_live(src), _live(tgt))

    # source advances: LWW overwrite, delete (tombstone), insert, stale no-op
    src.merge(_batch(spark, [
        ("U", 10, "c1", 0, "v1-new", TS0 + dt.timedelta(seconds=60)),
        ("D", 11, "c2", 0, None, TS0 + dt.timedelta(seconds=61)),
        ("U", 12, "c9", 0, "v9", TS0 + dt.timedelta(seconds=62)),
    ]), epoch_id="e000002")
    src.merge(_batch(spark, [
        ("U", 13, "c3", 0, "stale", TS0 - dt.timedelta(seconds=5)),  # LWW loser
    ]), epoch_id="e000003")

    # crash BETWEEN the applied merge for snapshot 2 and its position write
    with pytest.raises(TimeoutError, match="injected"):
        sync.sync_once()
    assert sync.position() == 1  # position did not advance past the crash

    # resume: the re-derived diff hits the idempotent skip, then the tail applies
    assert sync.sync_once() == [2, 3]
    pd.testing.assert_frame_equal(_live(src), _live(tgt))
    assert _live(tgt).loc[lambda d: d.conv_id == "c1", "text"].iloc[0] == "v1-new"
    assert "c2" not in set(_live(tgt).conv_id)
    # exactly-once: one target snapshot per sync, none for the replay
    assert tgt.current_snapshot_id() == 2
    # consumer epochs are a settling ledger family — tail stays bounded
    assert len(tgt.committed_epochs()) <= 2


def test_lagging_consumer_vacuum_guard_and_bootstrap(spark, tmp_path):
    src = _mk(spark, str(tmp_path / "src"))
    for i in range(1, 5):
        src.merge(_batch(spark, [
            ("U", i, f"c{i}", 0, f"v{i}", TS0 + dt.timedelta(seconds=i))
        ]), epoch_id=f"e{i:06d}")
    src.merge(_batch(spark, [
        ("D", 9, "c1", 0, None, TS0 + dt.timedelta(seconds=30)),
    ]), epoch_id="e000005")
    src.vacuum(keep_last=1)  # consumer at position 0 is now behind the window

    tgt = _mk(spark, str(tmp_path / "tgt"))
    strict = ChangeFeedSync(src, tgt, str(tmp_path / "state"))
    with pytest.raises(SnapshotExpiredError, match="keep_last"):
        strict.sync_once()

    seeded = ChangeFeedSync(src, tgt, str(tmp_path / "state"), bootstrap=True)
    assert seeded.sync_once() == [src.current_snapshot_id()]
    import pandas as pd

    pd.testing.assert_frame_equal(_live(src), _live(tgt))
    # the bootstrap carried the c1 tombstone: a stale late event cannot resurrect
    tgt.merge(_batch(spark, [
        ("U", 2, "c1", 0, "stale resurrection", TS0 + dt.timedelta(seconds=2)),
    ]), epoch_id="late-stale")
    assert "c1" not in set(_live(tgt).conv_id)
    # and the consumer keeps tailing normal diffs afterwards
    src.merge(_batch(spark, [
        ("U", 20, "c6", 0, "v6", TS0 + dt.timedelta(seconds=90)),
    ]), epoch_id="e000006")
    seeded.sync_once()
    pd.testing.assert_frame_equal(_live(src), _live(tgt))


def test_source_rename_mid_tail_is_replayed_on_target(spark, tmp_path):
    """A source rename_column between syncs must be replayed on the target
    BEFORE diffs apply — otherwise the post-rename diff's new column name
    would evolve in as a brand-new column and split the data."""
    src = _mk(spark, str(tmp_path / "src"))
    tgt = _mk(spark, str(tmp_path / "tgt"))
    sync = ChangeFeedSync(src, tgt, str(tmp_path / "state"))

    src.merge(_batch(spark, [
        ("U", 1, "c1", 0, "hello", TS0),
    ]), epoch_id="e000001")
    sync.sync_once()

    src.rename_column("text", "content", epoch_id="migrate")
    src.merge(
        spark.createDataFrame(
            [("U", 2, "c2", 0, "world", TS0)],
            "op string, lsn long, conv_id string, turn_idx int, "
            "content string, ts timestamp",
        ),
        epoch_id="e000002",
    )
    sync.sync_once()
    assert [f.name for f in tgt.user_schema()] == ["conv_id", "turn_idx",
                                                   "content", "ts"]
    got = {r["conv_id"]: r["content"] for r in tgt.read().collect()}
    assert got == {"c1": "hello", "c2": "world"}  # no split/null columns
    # replayed rename is idempotent across further syncs
    src.merge(_batch(spark, [("U", 3, "c3", 0, "again", TS0)])
              .withColumnRenamed("text", "content"), epoch_id="e000003")
    sync.sync_once()
    import pandas as pd

    pd.testing.assert_frame_equal(_live(src), _live(tgt))


def test_foreachbatch_clock_tails_new_snapshots(spark, tmp_path):
    src = _mk(spark, str(tmp_path / "src"))
    tgt = _mk(spark, str(tmp_path / "tgt"))
    sync = ChangeFeedSync(src, tgt, str(tmp_path / "state"))
    q = sync.stream(spark, trigger_seconds=1)
    try:
        src.merge(_batch(spark, [
            ("U", 1, "c1", 0, "hello", TS0),
            ("U", 2, "c2", 0, "world", TS0),
        ]), epoch_id="e000001")
        deadline = time.time() + 60
        while time.time() < deadline:
            if sync.position() == src.current_snapshot_id():
                break
            time.sleep(0.5)
        assert sync.position() == src.current_snapshot_id()
    finally:
        q.stop()
    import pandas as pd

    pd.testing.assert_frame_equal(_live(src), _live(tgt))


def test_agg_feed_delta_maintained_view(spark, tmp_path):
    """AggFeedSync: a COUNT/SUM view maintained purely from signed diff deltas
    (U_pre/D retract) must equal the direct aggregate of the source's live
    state after inserts, payload updates, LWW losers, deletes, and a source
    column rename — across a crash between fold and position write."""
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("score", T.IntegerType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    src = SnapshotTable.create(spark, str(tmp_path / "src"), schema,
                               ["conv_id", "turn_idx"], num_buckets=4)
    agg_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), True),
            T.StructField("sum_score", T.LongType(), True),
        ]
    )
    # 3rd position write crashes
    tgt = SnapshotTable.create(spark, str(tmp_path / "agg"), agg_schema,
                               ["conv_id"], num_buckets=4,
                               store=_FailNthPut(fail_on=3))

    def _b(rows):
        return spark.createDataFrame(
            rows, "op string, lsn long, conv_id string, turn_idx int, "
            "score int, ts timestamp"
        )

    def _expected():
        df = src.read()
        val = "points" if "points" in df.columns else "score"
        return {
            (r["conv_id"]): (r["n"], r["s"])
            for r in df.groupBy("conv_id")
            .agg(F.count("*").alias("n"),
                 F.sum(F.coalesce(F.col(val), F.lit(0))).alias("s"))
            .collect()
        }

    def _got():
        return {
            r["conv_id"]: (r["n_rows"], r["sum_score"])
            for r in tgt.read().filter(F.col("n_rows") > 0).collect()
        }

    sync = AggFeedSync(src, tgt, str(tmp_path / "state"),
                       group_cols=["conv_id"],
                       sum_cols={"sum_score": "score"})

    src.merge(_b([
        ("U", 1, "c1", 0, 10, TS0),
        ("U", 2, "c1", 1, 20, TS0),
        ("U", 3, "c2", 0, 7, TS0),
    ]), epoch_id="e000001")
    sync.sync_once()
    assert _got() == _expected() == {"c1": (2, 30), "c2": (1, 7)}

    # update changes a value (retraction via U_pre), a stale LWW loser is a
    # no-op in the source hence absent from the diff, one delete, one insert
    src.merge(_b([
        ("U", 10, "c1", 0, 15, TS0 + dt.timedelta(seconds=60)),   # 10 -> 15
        ("U", 11, "c1", 1, 99, TS0 - dt.timedelta(seconds=60)),   # LWW loser
        ("D", 12, "c2", 0, None, TS0 + dt.timedelta(seconds=61)),
        ("U", 13, "c3", 0, 5, TS0),
    ]), epoch_id="e000002")
    sync.sync_once()
    assert _got() == _expected() == {"c1": (2, 35), "c3": (1, 5)}
    # the fully-deleted group converges to the zero row, hidden by the filter
    zero = {r["conv_id"]: r["n_rows"] for r in tgt.read().collect()}
    assert zero["c2"] == 0

    # crash between the fold for snapshot 3 and its position write
    src.merge(_b([("U", 20, "c3", 1, 6, TS0)]), epoch_id="e000003")
    with pytest.raises(TimeoutError, match="injected"):
        sync.sync_once()
    sids = tgt.current_snapshot_id()
    sync.sync_once()  # re-derives the same delta -> ledgered idempotent skip
    assert tgt.current_snapshot_id() == sids  # folded exactly once
    assert _got() == _expected()

    # source rename of the summed column: the consumer's configured name
    # resolves through the rename map, no reconfiguration
    src.rename_column("score", "points", epoch_id="migrate-score")
    src.merge(
        spark.createDataFrame(
            [("U", 30, "c1", 2, 40, TS0)],
            "op string, lsn long, conv_id string, turn_idx int, "
            "points int, ts timestamp",
        ),
        epoch_id="e000004",
    )
    sync.sync_once()
    assert _got() == _expected()
    assert _got()["c1"] == (3, 75)


def test_agg_feed_minmax_dirty_group_reaggregation(spark, tmp_path):
    """MIN/MAX view maintenance: extremes are not retractable from deltas, so
    every group a step's diff touches is re-aggregated from the source at the
    diff's TO snapshot (bucket-pruned + semi-join) and replaced in ONE commit
    under cdf-<n>, insert-only groups included. Covers: max shrinks when its
    row is deleted, max shrinks when its row is updated DOWN, fully-deleted
    group is REMOVED, a crash inside the one write retries to exactly one
    commit, and a lost position write replays as a ledger skip."""
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("score", T.IntegerType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    src = SnapshotTable.create(spark, str(tmp_path / "src"), schema,
                               ["conv_id", "turn_idx"], num_buckets=4)
    agg_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), True),
            T.StructField("sum_score", T.LongType(), True),
            T.StructField("min_score", T.IntegerType(), True),
            T.StructField("max_score", T.IntegerType(), True),
        ]
    )
    tgt = SnapshotTable.create(spark, str(tmp_path / "agg"), agg_schema,
                               ["conv_id"], num_buckets=4)

    def _b(rows):
        return spark.createDataFrame(
            rows, "op string, lsn long, conv_id string, turn_idx int, "
            "score int, ts timestamp"
        )

    def _expected():
        return {
            r["conv_id"]: (r["n"], r["s"], r["lo"], r["hi"])
            for r in src.read().groupBy("conv_id")
            .agg(F.count("*").alias("n"),
                 F.sum(F.coalesce(F.col("score"), F.lit(0))).alias("s"),
                 F.min("score").alias("lo"), F.max("score").alias("hi"))
            .collect()
        }

    def _got():
        return {
            r["conv_id"]: (r["n_rows"], r["sum_score"],
                           r["min_score"], r["max_score"])
            for r in tgt.read().collect()
        }

    sync = AggFeedSync(src, tgt, str(tmp_path / "state"),
                       group_cols=["conv_id"],
                       sum_cols={"sum_score": "score"},
                       min_cols={"min_score": "score"},
                       max_cols={"max_score": "score"})

    # insert-only step: one commit, no maintenance marker
    src.merge(_b([
        ("U", 1, "c1", 0, 10, TS0),
        ("U", 2, "c1", 1, 50, TS0),
        ("U", 3, "c2", 0, 7, TS0),
    ]), epoch_id="e000001")
    sids = tgt.current_snapshot_id()
    sync.sync_once()
    assert _got() == _expected() == {"c1": (2, 60, 10, 50), "c2": (1, 7, 7, 7)}
    assert not tgt.has_epoch("cdf-1/mm")
    assert tgt.current_snapshot_id() == sids + 1
    assert tgt.manifest()["epoch_id"] == "cdf-1"

    # the monoid-impossible cases: delete c1's max row; update c2's only row
    # DOWN; widen c3 insert-only in the same step (same single commit)
    src.merge(_b([
        ("D", 10, "c1", 1, None, TS0 + dt.timedelta(seconds=60)),  # kills max 50
        ("U", 11, "c2", 0, 3, TS0 + dt.timedelta(seconds=61)),     # 7 -> 3
        ("U", 12, "c3", 0, 5, TS0),
    ]), epoch_id="e000002")
    sids = tgt.current_snapshot_id()
    sync.sync_once()
    assert _got() == _expected() == {
        "c1": (1, 10, 10, 10), "c2": (1, 3, 3, 3), "c3": (1, 5, 5, 5)
    }
    assert tgt.current_snapshot_id() == sids + 1

    # fully-deleted group is REMOVED (replace semantics), not a zero-row
    src.merge(_b([
        ("D", 20, "c2", 0, None, TS0 + dt.timedelta(seconds=120)),
    ]), epoch_id="e000003")
    sync.sync_once()
    got = _got()
    assert "c2" not in got and got == _expected()

    # (a) crash INSIDE the view's one write (staged, manifest never
    # published): nothing is ledgered, the position stays, and the retry
    # re-derives the identical re-aggregate in exactly one commit
    src.merge(_b([
        ("U", 30, "c1", 0, 2, TS0 + dt.timedelta(seconds=180)),   # 10 -> 2
        ("U", 31, "c4", 0, 9, TS0),                                # insert
    ]), epoch_id="e000004")
    publish = tgt._publish

    def crashing(*a, **k):
        raise TimeoutError("injected: died inside the view commit")

    tgt._publish = crashing
    sids = tgt.current_snapshot_id()
    jsc = spark.sparkContext._jsc
    cached = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(TimeoutError, match="injected"):
        sync.sync_once()
    tgt._publish = publish
    assert set(jsc.getPersistentRDDs().keys()) <= cached  # key set released
    assert sync.position() == 3          # position never advanced
    assert not tgt.has_epoch("cdf-4")    # ...and nothing committed
    assert tgt.current_snapshot_id() == sids
    sync.sync_once()
    assert tgt.current_snapshot_id() == sids + 1  # exactly one commit
    assert sync.position() == 4
    assert _got() == _expected()
    assert _got()["c1"] == (1, 2, 2, 2) and _got()["c4"] == (1, 9, 9, 9)

    # (b) the position write after the commit is lost: the resume's pin
    # re-derives (4, 5] under cdf-5 and hits the ledger skip, zero commits
    src.merge(_b([
        ("D", 40, "c4", 0, None, TS0 + dt.timedelta(seconds=240)),
        ("U", 41, "c1", 1, 8, TS0 + dt.timedelta(seconds=241)),
    ]), epoch_id="e000005")
    store = tgt.store
    tgt.store = _FailNthPut(fail_on=1)
    sids = tgt.current_snapshot_id()
    with pytest.raises(TimeoutError, match="injected"):
        sync.sync_once()
    tgt.store = store
    assert sync.position() == 4 and tgt.has_epoch("cdf-5")
    assert tgt.current_snapshot_id() == sids + 1
    assert sync.sync_once() == [5]
    assert sync.position() == 5
    assert tgt.current_snapshot_id() == sids + 1  # the replay committed nothing
    assert _got() == _expected()
    assert _got()["c1"] == (2, 10, 2, 8) and "c4" not in _got()
    assert set(jsc.getPersistentRDDs().keys()) <= cached
    # settled cdf-<n> ids fold into the watermark: ledger tail stays bounded
    assert len(tgt.committed_epochs()) <= 2


def test_agg_feed_minmax_null_group_key(spark, tmp_path):
    """A NULLABLE group column's NULL group is a group like any other: its
    retractions must reach the re-aggregation and the replace scope (null-safe
    semi and anti joins) — else a lowered maximum would stay stale forever or
    the old NULL row would survive beside its replacement. Also: deleting the
    NULL group's last row removes it."""
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("label", T.StringType(), True),
            T.StructField("score", T.IntegerType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    src = SnapshotTable.create(spark, str(tmp_path / "src"), schema,
                               ["conv_id", "turn_idx"], num_buckets=4)
    agg_schema = T.StructType(
        [
            T.StructField("label", T.StringType(), True),
            T.StructField("n_rows", T.LongType(), True),
            T.StructField("max_score", T.IntegerType(), True),
        ]
    )
    tgt = SnapshotTable.create(spark, str(tmp_path / "agg"), agg_schema,
                               ["label"], num_buckets=4)

    def _b(rows):
        return spark.createDataFrame(
            rows, "op string, lsn long, conv_id string, turn_idx int, "
            "label string, score int, ts timestamp"
        )

    def _got():
        return {
            r["label"]: (r["n_rows"], r["max_score"])
            for r in tgt.read().collect()
        }

    sync = AggFeedSync(src, tgt, str(tmp_path / "state"),
                       group_cols=["label"],
                       max_cols={"max_score": "score"})

    src.merge(_b([
        ("I", 1, "c1", 0, None, 99, TS0),
        ("I", 2, "c1", 1, None, 5, TS0),
        ("I", 3, "c2", 0, "A", 7, TS0),
    ]), epoch_id="e000001")
    sync.sync_once()
    assert _got() == {None: (2, 99), "A": (1, 7)}

    # lower the NULL group's maximum: 99 -> 3 (touched via U_pre; the
    # null-safe semi join must re-aggregate the NULL group, leaving max 5)
    src.merge(_b([
        ("U", 10, "c1", 0, None, 3, TS0 + dt.timedelta(seconds=60)),
    ]), epoch_id="e000002")
    sync.sync_once()
    assert _got() == {None: (2, 5), "A": (1, 7)}

    # delete the NULL group's remaining rows: the group is REMOVED
    src.merge(_b([
        ("D", 20, "c1", 0, None, None, TS0 + dt.timedelta(seconds=120)),
        ("D", 21, "c1", 1, None, None, TS0 + dt.timedelta(seconds=121)),
    ]), epoch_id="e000003")
    sync.sync_once()
    assert _got() == {"A": (1, 7)}


def test_agg_feed_over_mor_source(spark, tmp_path):
    """Integration of the round's two features: AggFeedSync (with MIN/MAX
    touched-group re-aggregation) tailing a MERGE-ON-READ source — diffs span
    delta-append commits and a compaction, and the maintained view equals the
    direct aggregate of the source's resolved live state."""
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("score", T.IntegerType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    src = SnapshotTable.create(spark, str(tmp_path / "src"), schema,
                               ["conv_id", "turn_idx"], num_buckets=4,
                               merge_mode="mor")
    agg_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), True),
            T.StructField("max_score", T.IntegerType(), True),
        ]
    )
    tgt = SnapshotTable.create(spark, str(tmp_path / "agg"), agg_schema,
                               ["conv_id"], num_buckets=4)

    def _b(rows):
        return spark.createDataFrame(
            rows, "op string, lsn long, conv_id string, turn_idx int, "
            "score int, ts timestamp")

    def _expected():
        return {
            r["conv_id"]: (r["n"], r["hi"])
            for r in src.read().groupBy("conv_id")
            .agg(F.count("*").alias("n"), F.max("score").alias("hi"))
            .collect()
        }

    def _got():
        return {r["conv_id"]: (r["n_rows"], r["max_score"])
                for r in tgt.read().collect()}

    sync = AggFeedSync(src, tgt, str(tmp_path / "state"),
                       group_cols=["conv_id"],
                       max_cols={"max_score": "score"})

    src.merge(_b([("I", 1, "c1", 0, 10, TS0),
                  ("I", 2, "c1", 1, 50, TS0),
                  ("I", 3, "c2", 0, 7, TS0)]), epoch_id="e1")
    sync.sync_once()
    assert _got() == _expected() == {"c1": (2, 50), "c2": (1, 7)}

    # delete the max (the re-aggregation reads the MoR source at that
    # snapshot), then compact the source mid-stream, then keep appending
    src.merge(_b([("D", 10, "c1", 1, None, TS0 + dt.timedelta(seconds=60))]),
              epoch_id="e2")
    src.compact(epoch_id="fold")
    src.merge(_b([("I", 20, "c3", 0, 9, TS0)]), epoch_id="e3")
    applied = sync.sync_once()
    assert len(applied) == 3  # delta commit, compaction, delta commit
    assert _got() == _expected() == {"c1": (1, 10), "c2": (1, 7), "c3": (1, 9)}


def test_agg_feed_bulk_retraction_large_dirty_set(spark, tmp_path):
    """VERDICT r05 wrong #2: `_reaggregate` must NOT force-broadcast the
    touched-group key set — a bulk retraction touches every group at once
    (here 10^5 groups), exactly the step where a forced broadcast of the
    keys would OOM at scale. Asserts (a) the re-aggregation plan carries no
    broadcast HINT (AQE may still choose one at runtime for small sets) and
    (b) a 10^5-group retraction step converges to the source truth."""
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("score", T.IntegerType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    src = SnapshotTable.create(spark, str(tmp_path / "src"), schema,
                               ["conv_id", "turn_idx"], num_buckets=4)
    agg_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), True),
            T.StructField("max_score", T.IntegerType(), True),
        ]
    )
    tgt = SnapshotTable.create(spark, str(tmp_path / "agg"), agg_schema,
                               ["conv_id"], num_buckets=4)
    N = 100_000

    def _gen(lsn0, score_expr, ts):
        return spark.range(N).select(
            F.lit("U").alias("op"),
            (F.col("id") + lsn0).alias("lsn"),
            F.concat(F.lit("g"), F.col("id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            score_expr.cast("int").alias("score"),
            F.lit(ts).alias("ts"),
        )

    src.merge(_gen(1, F.col("id") % 97 + 10, TS0), epoch_id="e000001")
    sync = AggFeedSync(src, tgt, str(tmp_path / "state"),
                       group_cols=["conv_id"],
                       max_cols={"max_score": "score"})
    sync.sync_once()
    assert tgt.read().count() == N

    # structural guard: the re-aggregation subtree must not carry a broadcast
    # hint on the (unbounded) touched-key side
    from etl_german_fhir_core_spark.plans import has_broadcast_hint

    dirty = src.read().select("conv_id").limit(100)
    assert not has_broadcast_hint(
        sync._reaggregate(dirty, src.current_snapshot_id())
    )

    # bulk retraction: every group's max shrinks in ONE step -> the entire
    # 10^5-group key set goes through the re-aggregation path
    src.merge(_gen(N + 1, F.col("id") % 7, TS0 + dt.timedelta(seconds=60)),
              epoch_id="e000002")
    sync.sync_once()
    got = {r["conv_id"]: (r["n_rows"], r["max_score"])
           for r in tgt.read().collect()}
    exp = {r["conv_id"]: (r["n"], r["hi"])
           for r in src.read().groupBy("conv_id")
           .agg(F.count("*").alias("n"), F.max("score").alias("hi")).collect()}
    assert len(got) == N and got == exp


_SCORED = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("score", T.IntegerType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
_VIEW = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("sum_score", T.LongType(), True),
        T.StructField("max_score", T.IntegerType(), True),
    ]
)


def _scored(spark, rows, val="score"):
    return spark.createDataFrame(
        rows, f"op string, lsn long, conv_id string, turn_idx int, "
        f"{val} int, ts timestamp"
    )


def _view_sync(src, tgt, state):
    return AggFeedSync(src, tgt, state, group_cols=["conv_id"],
                       sum_cols={"sum_score": "score"},
                       max_cols={"max_score": "score"})


def _view(tgt):
    return {
        r["conv_id"]: (r["n_rows"], r["sum_score"], r["max_score"])
        for r in tgt.read().filter(F.col("n_rows") > 0).collect()
    }


def _direct_view(src):
    df = src.read()
    val = "points" if "points" in df.columns else "score"
    return {
        r["conv_id"]: (r["n"], r["s"], r["hi"])
        for r in df.groupBy("conv_id")
        .agg(F.count("*").alias("n"),
             F.sum(F.coalesce(F.col(val), F.lit(0))).alias("s"),
             F.max(val).alias("hi"))
        .collect()
    }


def test_crash_then_source_advance_replays_pinned_window_once(spark, tmp_path):
    """Crash between a sync's target commit cdf-<h> and its position write,
    then MORE source commits before the resume: the resume must replay
    exactly (pos, h] under cdf-<h> (the ledger skip) and only then diff
    (h, head]. Re-deriving a wider (pos, head] window under a fresh epoch id
    would fold (pos, h]'s signed deltas into the view a second time."""
    import pandas as pd

    src = SnapshotTable.create(spark, str(tmp_path / "src"), _SCORED,
                               ["conv_id", "turn_idx"], num_buckets=4)
    # each consumer's second position write is lost
    rep = SnapshotTable.create(spark, str(tmp_path / "rep"), _SCORED,
                               ["conv_id", "turn_idx"], num_buckets=4,
                               store=_FailNthPut(fail_on=2))
    agg = SnapshotTable.create(spark, str(tmp_path / "agg"), _VIEW,
                               ["conv_id"], num_buckets=4,
                               store=_FailNthPut(fail_on=2))
    syncs = [
        ChangeFeedSync(src, rep, str(tmp_path / "rep_state")),
        _view_sync(src, agg, str(tmp_path / "agg_state")),
    ]

    src.merge(_scored(spark, [
        ("U", 1, "c1", 0, 10, TS0),
        ("U", 2, "c1", 1, 50, TS0),
        ("U", 3, "c2", 0, 7, TS0),
    ]), epoch_id="e000001")
    for s in syncs:
        assert s.sync_once() == [1]

    # window (1, 2] is insert-only, so the view folds it in one commit too
    src.merge(_scored(spark, [
        ("U", 4, "c1", 2, 20, TS0),
        ("U", 5, "c3", 0, 5, TS0),
    ]), epoch_id="e000002")
    before = [s.target.current_snapshot_id() for s in syncs]
    for s, sid in zip(syncs, before):
        with pytest.raises(TimeoutError, match="injected"):
            s.sync_once()
        assert s.position() == 1 and s.target.has_epoch("cdf-2")
        assert s.target.current_snapshot_id() == sid + 1

    # the source advances past h = 2: a delete, an LWW update lowering c1's
    # max (50 -> 1), and an insert
    src.merge(_scored(spark, [
        ("D", 10, "c2", 0, None, TS0 + dt.timedelta(seconds=60)),
        ("U", 11, "c1", 1, 1, TS0 + dt.timedelta(seconds=61)),
    ]), epoch_id="e000003")
    src.merge(_scored(spark, [("U", 12, "c4", 0, 9, TS0)]),
              epoch_id="e000004")
    for s in syncs:
        assert s.sync_once() == [2, 3, 4]
        assert s.position() == 4

    pd.testing.assert_frame_equal(_live(src), _live(rep))
    assert _view(agg) == _direct_view(src) == {
        "c1": (3, 31, 20), "c3": (1, 5, 5), "c4": (1, 9, 9)
    }
    # one commit for (1, 2]; then one for (2, 4], replica and view alike
    assert rep.current_snapshot_id() == before[0] + 2
    assert agg.current_snapshot_id() == before[1] + 2


def test_lagging_consumer_catches_up_in_one_commit(spark, tmp_path):
    """A consumer 20 source commits behind — upserts, deletes, an LWW loser,
    a key born and deleted inside the lag, a MoR compaction and a column
    rename — catches up with ONE covering diff: the replica gains one data
    commit, the view one. Both end equal to the source at head: the
    replica's live rows (user columns + _lsn) are the source's, and the view
    rows with n_rows > 0 are the source's direct aggregate (a net diff never
    sees the born-and-deleted key)."""
    import pandas as pd

    src = SnapshotTable.create(spark, str(tmp_path / "src"), _SCORED,
                               ["conv_id", "turn_idx"], num_buckets=4,
                               merge_mode="mor")

    rep = SnapshotTable.create(spark, str(tmp_path / "rep"), _SCORED,
                               ["conv_id", "turn_idx"], num_buckets=4)
    agg = SnapshotTable.create(spark, str(tmp_path / "agg"), _VIEW,
                               ["conv_id"], num_buckets=4)
    lag = (ChangeFeedSync(src, rep, str(tmp_path / "rs")),
           _view_sync(src, agg, str(tmp_path / "as")))
    src.merge(_scored(spark, [
        ("U", i + 1, f"c{i % 4}", i // 4, 10 * (i + 1), TS0) for i in range(8)
    ]), epoch_id="e000001")
    for s in lag:
        s.sync_once()

    val = "score"
    for i in range(20):
        ts = TS0 + dt.timedelta(minutes=i + 1)
        if i == 7:
            src.compact(epoch_id="fold")
        elif i == 12:
            src.rename_column("score", "points", epoch_id="migrate")
            val = "points"
        else:
            lsn = 100 * (i + 1)
            rows = [("U", lsn, f"c{i % 5}", 10 + i, 3 * i, ts)]
            if i % 4 == 0:  # LWW winner replacing an existing row
                rows.append(("U", lsn + 1, f"c{i % 4}", 0, i, ts))
            if i == 3:
                rows.append(("U", lsn + 2, "born", 0, 77, ts))
            if i == 5:
                rows.append(("D", lsn + 2, "born", 0, None, ts))
            if i == 9:
                rows.append(("D", lsn + 2, "c1", 1, None, ts))
            if i == 15:  # LWW loser: older than the stored row
                rows.append(("U", lsn + 2, "c2", 0, 999, TS0))
            if i == 17:
                rows.append(("D", lsn + 2, "c3", 1, None, ts))
            src.merge(_scored(spark, rows, val), epoch_id=f"e{i + 2:06d}")

    head = src.current_snapshot_id()
    assert head - lag[0].position() == 20
    rep_sid = rep.current_snapshot_id()
    agg_sid = agg.current_snapshot_id()
    for s in lag:
        assert s.sync_once() == list(range(2, head + 1))
    assert [
        rep.manifest(sid)["epoch_id"]
        for sid in range(rep_sid + 1, rep.current_snapshot_id() + 1)
    ] == ["cdf-rename-score-points", f"cdf-{head}"]  # rename replay + 1 diff
    assert [
        agg.manifest(sid)["epoch_id"]
        for sid in range(agg_sid + 1, agg.current_snapshot_id() + 1)
    ] == [f"cdf-{head}"]  # one view data commit

    cols = sorted([*src.read().columns, "_lsn"])
    pd.testing.assert_frame_equal(_live(rep)[cols], _live(src)[cols])
    assert _view(agg) == _direct_view(src)
