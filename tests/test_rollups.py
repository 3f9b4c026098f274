"""Incremental derived-table rollups (W8 MERGE-widening analog): folding per-epoch
partial aggregates must equal a full recompute over the feed."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_german_fhir_core_spark.cdc import CdcEngine, synth_feed, write_feed
from etl_german_fhir_core_spark.cdc.engine import RollupSpec
from etl_german_fhir_core_spark.lake import SnapshotTable

TARGET = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

ROLLUP = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("period_start", T.TimestampType(), True),
        T.StructField("period_end", T.TimestampType(), True),
        T.StructField("n_events", T.LongType(), True),
    ]
)


def _partial(batch):
    return batch.groupBy("conv_id").agg(
        F.min("ts").alias("period_start"),
        F.max("ts").alias("period_end"),
        F.count("*").alias("n_events"),
    )


def test_incremental_rollup_equals_full_recompute(spark, tmp_path):
    feed_path = str(tmp_path / "feed")
    write_feed(synth_feed(spark, 3000, n_convs=40, max_turns=10, ooo_frac=0.2), feed_path, 3)

    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), TARGET, ["conv_id", "turn_idx"], num_buckets=4
    )
    rtbl = SnapshotTable.create(
        spark, str(tmp_path / "r"), ROLLUP, ["conv_id"], num_buckets=4
    )
    spec = RollupSpec(
        table=rtbl,
        partial=_partial,
        combine={"period_start": "min", "period_end": "max", "n_events": "sum"},
    )
    eng = CdcEngine(spark, feed_path, tbl, epoch_rows=1000, rollups=[spec])
    eng.run()

    got = {
        r["conv_id"]: (r["period_start"], r["period_end"], r["n_events"])
        for r in rtbl.read().collect()
    }
    expect = {
        r["conv_id"]: (r["period_start"], r["period_end"], r["n_events"])
        for r in _partial(
            spark.read.parquet(feed_path).filter(F.col("op") != "D")
        ).collect()
    }
    assert got == expect

    # idempotence: replaying a committed epoch leaves the rollup untouched
    sid = rtbl.current_snapshot_id()
    eng2 = CdcEngine(spark, feed_path, tbl, epoch_rows=1000, rollups=[spec])
    eng2.run()
    assert rtbl.current_snapshot_id() == sid


def test_state_rollup_retracts_deletes(spark, tmp_path):
    """mode='state' (VERDICT r01 #3): the derived table must equal a recompute from
    the FINAL LWW state — tombstoned and superseded events retract, unlike the
    event-cumulative monoid fold."""
    feed_path = str(tmp_path / "feed")
    feed = synth_feed(spark, 3000, n_convs=40, max_turns=10, ooo_frac=0.2)
    write_feed(feed, feed_path, 3)
    assert feed.filter(F.col("op") == "D").count() > 0  # deletes exercised

    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), TARGET, ["conv_id", "turn_idx"], num_buckets=4
    )
    rtbl = SnapshotTable.create(
        spark, str(tmp_path / "r"), ROLLUP, ["conv_id"], num_buckets=4
    )
    spec = RollupSpec(table=rtbl, partial=_partial, mode="state")
    eng = CdcEngine(spark, feed_path, tbl, epoch_rows=1000, rollups=[spec])
    eng.run()

    got = {
        r["conv_id"]: (r["period_start"], r["period_end"], r["n_events"])
        for r in rtbl.read().collect()
    }
    expect = {
        r["conv_id"]: (r["period_start"], r["period_end"], r["n_events"])
        for r in _partial(tbl.read()).collect()  # recompute from final state
    }
    assert got == expect

    # idempotence: replay leaves the rollup untouched
    sid = rtbl.current_snapshot_id()
    CdcEngine(spark, feed_path, tbl, epoch_rows=1000, rollups=[spec]).run()
    assert rtbl.current_snapshot_id() == sid


def test_state_rollup_keeps_the_null_group(spark, tmp_path):
    """A state-mode rollup keyed on a NULLABLE column (``tool``) must keep its
    NULL group: the scoped state read, the recomputed partial and the keyed
    replace all match the NULL key null-safely, so the rollup equals a
    recompute from the final state, NULL group included."""
    feed_path = str(tmp_path / "feed")
    write_feed(synth_feed(spark, 3000, n_convs=40, max_turns=10, ooo_frac=0.2), feed_path, 3)

    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), TARGET, ["conv_id", "turn_idx"], num_buckets=4
    )
    rtbl = SnapshotTable.create(
        spark, str(tmp_path / "r"),
        T.StructType([
            T.StructField("tool", T.StringType(), True),
            T.StructField("n_events", T.LongType(), True),
        ]),
        ["tool"], num_buckets=4,
    )

    def by_tool(batch):
        return batch.groupBy("tool").agg(F.count("*").alias("n_events"))

    spec = RollupSpec(table=rtbl, partial=by_tool, mode="state")
    CdcEngine(spark, feed_path, tbl, epoch_rows=1000, rollups=[spec]).run()

    got = {r["tool"]: r["n_events"] for r in rtbl.read().collect()}
    expect = {r["tool"]: r["n_events"] for r in by_tool(tbl.read()).collect()}
    assert None in expect  # the feed has tool-less turns
    assert got == expect


def test_rollup_folds_on_resume_after_main_commit(spark, tmp_path):
    """ADVICE r01 (high): a crash between the main-table commit and the rollup
    commit must NOT lose that epoch's fold — the resume path re-folds it."""
    feed_path = str(tmp_path / "feed")
    write_feed(synth_feed(spark, 2000, n_convs=30, max_turns=8, ooo_frac=0.2), feed_path, 2)

    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), TARGET, ["conv_id", "turn_idx"], num_buckets=4
    )
    rtbl = SnapshotTable.create(
        spark, str(tmp_path / "r"), ROLLUP, ["conv_id"], num_buckets=4
    )
    spec = RollupSpec(
        table=rtbl,
        partial=_partial,
        combine={"period_start": "min", "period_end": "max", "n_events": "sum"},
    )
    # crash simulation: epoch 1 commits the MAIN table only (no rollup spec wired)
    CdcEngine(spark, feed_path, tbl, epoch_rows=1000).run(max_epochs=1)
    assert len(tbl.committed_epochs()) == 1
    assert rtbl.committed_epochs() == []

    # resume with the rollup wired: the skipped epoch must still fold
    CdcEngine(spark, feed_path, tbl, epoch_rows=1000, rollups=[spec]).run()
    got = {
        r["conv_id"]: (r["period_start"], r["period_end"], r["n_events"])
        for r in rtbl.read().collect()
    }
    expect = {
        r["conv_id"]: (r["period_start"], r["period_end"], r["n_events"])
        for r in _partial(
            spark.read.parquet(feed_path).filter(F.col("op") != "D")
        ).collect()
    }
    assert got == expect
