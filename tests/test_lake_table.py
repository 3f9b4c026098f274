"""SnapshotTable unit tests: MERGE upsert/tombstone/LWW, idempotent epoch commits,
schema evolution, scoped delete, bulk overwrite, vacuum.

Reference behaviors under test (SURVEY §2.2/§5): delete-then-insert keyed upsert
(ConditionMapper.java:131-140), tombstones (FhirPsqlResource.java:30-32), ADD COLUMN
IF NOT EXISTS evolution (pre_process_alter_tables.sql:4-17), truncate-and-reload
(PatientStepListener.java:77-84), key-prefix scoped cleanup
(single_step_clean_up_diagnosis_data.sql:1-41).
"""

from __future__ import annotations

import datetime as dt

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
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )


def _batch(spark, rows, with_tool=False):
    fields = [
        T.StructField("op", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
    if with_tool:
        fields.append(T.StructField("tool", T.StringType(), True))
    return spark.createDataFrame(rows, T.StructType(fields))


def _state(tbl):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in tbl.read().collect()
    }


def test_merge_upsert_tombstone_lww(spark, tmp_path):
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=4
    )
    e1 = _batch(
        spark,
        [
            ("I", 1, "c1", 0, "user", "hello", TS0),
            ("I", 2, "c1", 1, "assistant", "hi", TS0),
            ("I", 3, "c2", 0, "user", "bye", TS0),
        ],
    )
    r1 = tbl.merge(e1, epoch_id="1")
    assert not r1.skipped and r1.rows_upserted == 3
    assert _state(tbl) == {("c1", 0): "hello", ("c1", 1): "hi", ("c2", 0): "bye"}

    # update + delete + LWW within batch (two updates to same key, later ts wins)
    e2 = _batch(
        spark,
        [
            ("U", 4, "c1", 0, "user", "hello v2", TS0 + dt.timedelta(seconds=10)),
            ("U", 5, "c1", 0, "user", "hello v3", TS0 + dt.timedelta(seconds=20)),
            ("D", 6, "c2", 0, None, None, TS0 + dt.timedelta(seconds=5)),
        ],
    )
    r2 = tbl.merge(e2, epoch_id="2")
    assert r2.rows_deleted == 1
    assert r2.conflict_count == 1  # one LWW loser on (c1, 0)
    assert _state(tbl) == {("c1", 0): "hello v3", ("c1", 1): "hi"}


def test_lww_ts_tie_broken_by_lsn(spark, tmp_path):
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=2
    )
    # identical ts, higher lsn must win (SURVEY §7.1 rule 3: total order (ts, lsn))
    e = _batch(
        spark,
        [
            ("I", 10, "c1", 0, "user", "low-lsn", TS0),
            ("U", 11, "c1", 0, "user", "high-lsn", TS0),
        ],
    )
    tbl.merge(e, epoch_id="1")
    assert _state(tbl) == {("c1", 0): "high-lsn"}


def test_out_of_order_ts_older_update_loses(spark, tmp_path):
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=2
    )
    tbl.merge(
        _batch(spark, [("I", 1, "c1", 0, "user", "newest", TS0 + dt.timedelta(60))]),
        epoch_id="1",
    )
    # late-arriving older event must NOT overwrite (reference analog: ordered replay)
    tbl.merge(
        _batch(spark, [("U", 2, "c1", 0, "user", "stale", TS0)]),
        epoch_id="2",
    )
    assert _state(tbl) == {("c1", 0): "newest"}


def test_idempotent_epoch_replay(spark, tmp_path):
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=2
    )
    e1 = _batch(spark, [("I", 1, "c1", 0, "user", "once", TS0)])
    tbl.merge(e1, epoch_id="1")
    sid = tbl.current_snapshot_id()
    r = tbl.merge(e1, epoch_id="1")  # replay
    assert r.skipped
    assert tbl.current_snapshot_id() == sid
    assert _state(tbl) == {("c1", 0): "once"}


def test_schema_evolution_tool_column(spark, tmp_path):
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=2
    )
    tbl.merge(_batch(spark, [("I", 1, "c1", 0, "user", "old", TS0)]), epoch_id="1")
    assert "tool" not in [f.name for f in tbl.user_schema()]
    # 'tool' appears mid-stream (north rule additive evolution)
    e2 = _batch(
        spark,
        [("I", 2, "c1", 1, "tool", "call", TS0, "bash")],
        with_tool=True,
    )
    tbl.merge(e2, epoch_id="2")
    rows = {(r["conv_id"], r["turn_idx"]): r["tool"] for r in tbl.read().collect()}
    assert rows == {("c1", 0): None, ("c1", 1): "bash"}  # NULL backfill
    with pytest.raises(TypeError):
        bad = e2.withColumn("tool", F.lit(1).cast("int"))
        tbl.merge(bad, epoch_id="3")


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=8
    )
    rows = [("I", i, f"c{i}", 0, "user", f"t{i}", TS0) for i in range(20)]
    tbl.merge(_batch(spark, rows), epoch_id="1")
    before = tbl.manifest()["files"]
    r = tbl.merge(
        _batch(spark, [("U", 100, "c1", 0, "user", "upd", TS0 + dt.timedelta(1))]),
        epoch_id="2",
    )
    after = tbl.manifest()["files"]
    assert len(r.touched_buckets) == 1
    for b, fs in before.items():
        if int(b) not in r.touched_buckets:
            assert after[b] == fs  # carried forward by reference, not rewritten


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merge_refuses_staged_bucket_outside_touched(spark, tmp_path, mode):
    """A caller-supplied ``touched`` that misses a bucket the batch writes is
    refused before anything commits: the manifest takes only the touched
    buckets' files, so committing would drop the other bucket's rows."""
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"],
        num_buckets=8, merge_mode=mode,
    )
    rows = [("I", i, f"c{i}", 0, "user", f"t{i}", TS0) for i in range(20)]
    tbl.merge(_batch(spark, rows), epoch_id="1")
    sid, state = tbl.current_snapshot_id(), _state(tbl)
    upd = _batch(spark, [("U", 100 + i, f"c{i}", 0, "user", "upd", TS0 + dt.timedelta(1))
                         for i in range(20)])
    from etl_german_fhir_core_spark.lake.table import _touched_buckets

    touched = _touched_buckets(upd, "conv_id", 8)
    assert len(touched) > 1
    with pytest.raises(ValueError, match="outside the touched set"):
        tbl.merge(upd, epoch_id="2", touched=touched[:1])
    assert tbl.current_snapshot_id() == sid
    assert _state(tbl) == state and not tbl.has_epoch("2")


def test_salted_staging_spreads_hot_bucket(spark, tmp_path):
    """files_per_bucket > 1: a hot conversation's bucket is written as multiple
    files by parallel tasks (north rule: salted repartitioning for hot conv_id),
    and no single file holds the whole hot bucket."""
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"],
        num_buckets=4, files_per_bucket=4,
    )
    rows = [("I", i, "conv-hot", i, "user", f"t{i}", TS0) for i in range(400)]
    rows += [("I", 1000 + i, f"c{i}", 0, "user", "x", TS0) for i in range(40)]
    tbl.merge(_batch(spark, rows), epoch_id="1")
    m = tbl.manifest()
    from etl_german_fhir_core_spark.lake.table import _bucket_expr

    hot_bucket = (
        spark.createDataFrame([("conv-hot",)], "conv_id string")
        .select(_bucket_expr("conv_id", 4).alias("b"))
        .collect()[0]["b"]
    )
    hot_files = m["files"][str(hot_bucket)]
    assert len(hot_files) > 1  # parallel writers, not one serialized task
    assert _state(tbl)[("conv-hot", 7)] == "t7"  # content intact


def test_overwrite_and_delete_where_and_vacuum(spark, tmp_path):
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=2
    )
    tbl.merge(_batch(spark, [("I", 1, "c1", 0, "user", "x", TS0)]), epoch_id="1")
    bulk = _batch(
        spark,
        [
            ("I", 1, "c9", 0, "user", "a", TS0),
            ("U", 2, "c9", 0, "user", "b", TS0 + dt.timedelta(1)),
            ("I", 3, "c8", 0, "user", "keep", TS0),
        ],
    )
    tbl.overwrite(bulk, epoch_id="bulk1")
    assert _state(tbl) == {("c9", 0): "b", ("c8", 0): "keep"}

    tbl.delete_where(F.col("conv_id") == "c9", epoch_id="cleanup1")
    assert _state(tbl) == {("c8", 0): "keep"}

    removed = tbl.vacuum()
    assert removed > 0
    assert _state(tbl) == {("c8", 0): "keep"}  # current snapshot intact


def test_schema_evolution_type_widening(spark, tmp_path):
    """Iceberg-style safe promotion: a column arriving as LONG widens an INT
    column; pre-widening files (int32 parquet) read through the widened schema
    losslessly; a narrower batch after widening upcasts. Unsafe changes reject."""
    import datetime as dt

    import pyspark.sql.types as T
    import pytest

    from etl_german_fhir_core_spark.lake import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("score", T.IntegerType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, ["conv_id", "turn_idx"], num_buckets=2
    )
    ts = dt.datetime(2025, 1, 1)
    b1 = spark.createDataFrame(
        [("I", 1, "c1", 0, 7, ts)],
        "op string, lsn long, conv_id string, turn_idx int, score int, ts timestamp",
    )
    tbl.merge(b1, epoch_id="1")

    # widen: score arrives as LONG (value beyond int32)
    b2 = spark.createDataFrame(
        [("I", 2, "c2", 0, 5_000_000_000, ts)],
        "op string, lsn long, conv_id string, turn_idx int, score long, ts timestamp",
    )
    tbl.merge(b2, epoch_id="2")
    assert dict(tbl.schema()["score"].jsonValue().items())["type"] == "long"
    got = {r["conv_id"]: r["score"] for r in tbl.read().collect()}
    assert got == {"c1": 7, "c2": 5_000_000_000}  # old int32 file reads as long

    # narrower batch after widening upcasts fine
    b3 = spark.createDataFrame(
        [("I", 3, "c3", 0, 9, ts)],
        "op string, lsn long, conv_id string, turn_idx int, score int, ts timestamp",
    )
    tbl.merge(b3, epoch_id="3")
    assert {r["score"] for r in tbl.read().collect()} == {7, 5_000_000_000, 9}

    # unsafe change still rejected
    b4 = spark.createDataFrame(
        [("I", 4, "c4", 0, "not-a-number", ts)],
        "op string, lsn long, conv_id string, turn_idx int, score string, ts timestamp",
    )
    with pytest.raises(TypeError):
        tbl.merge(b4, epoch_id="4")


def test_snapshot_isolation_and_time_travel(spark, tmp_path):
    """Readers pinned to a snapshot id keep seeing that exact state after later
    merges (CoW never mutates live files); vacuum() is what destroys time travel,
    and only for superseded snapshots."""
    import datetime as dt

    import pyspark.sql.types as T

    from etl_german_fhir_core_spark.lake import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, ["conv_id", "turn_idx"], num_buckets=2
    )
    ts = dt.datetime(2025, 1, 1)

    def batch(lsn, text):
        return spark.createDataFrame(
            [("U", lsn, "c1", 0, text, ts + dt.timedelta(seconds=lsn))],
            "op string, lsn long, conv_id string, turn_idx int, text string, ts timestamp",
        )

    tbl.merge(batch(1, "v1"), epoch_id="1")
    sid_v1 = tbl.current_snapshot_id()
    tbl.merge(batch(2, "v2"), epoch_id="2")

    # pinned reader sees the old state; head reader sees the new one
    assert [r["text"] for r in tbl.read(snapshot_id=sid_v1).collect()] == ["v1"]
    assert [r["text"] for r in tbl.read().collect()] == ["v2"]

    # vacuum removes superseded files → time travel gone, head unaffected
    removed = tbl.vacuum()
    assert removed >= 1
    assert [r["text"] for r in tbl.read().collect()] == ["v2"]


def test_changes_between_snapshots(spark, tmp_path):
    """Incremental snapshot diff (Delta-CDF analog): the change batch between
    two snapshots must exactly transform the older live state into the newer
    one — inserts, LWW-replaced updates, tombstone deletes — and must be
    manifest-pruned to buckets whose file lists actually changed."""
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=8
    )
    tbl.merge(
        _batch(spark, [
            ("I", 1, "cA", 0, "user", "a0", TS0),
            ("I", 2, "cA", 1, "user", "a1", TS0),
            ("I", 3, "cB", 0, "user", "b0", TS0),
        ]),
        epoch_id="1",
    )
    s1 = tbl.current_snapshot_id()
    tbl.merge(
        _batch(spark, [
            ("U", 11, "cA", 1, "user", "a1-v2", TS0 + dt.timedelta(seconds=9)),
            ("D", 12, "cB", 0, None, None, TS0 + dt.timedelta(seconds=9)),
            ("I", 13, "cC", 0, "user", "c0", TS0 + dt.timedelta(seconds=9)),
        ]),
        epoch_id="2",
    )
    tbl.merge(
        _batch(spark, [("I", 21, "cD", 0, "user", "d0", TS0 + dt.timedelta(seconds=20))]),
        epoch_id="3",
    )
    s3 = tbl.current_snapshot_id()

    changes = {
        (r["conv_id"], r["turn_idx"]): (r["op"], r["text"], r["lsn"])
        for r in tbl.changes_between(s1, s3).collect()
    }
    assert changes == {
        ("cA", 1): ("U", "a1-v2", 11),
        ("cB", 0): ("D", "b0", 3),   # D carries the removed row's payload/lsn
        ("cC", 0): ("I", "c0", 13),
        ("cD", 0): ("I", "d0", 21),
    }
    # unchanged key (cA, 0) is absent — and applying the diff reproduces state B
    old = {(r["conv_id"], r["turn_idx"]): r["text"]
           for r in tbl.read(snapshot_id=s1).collect()}
    for (k, t), (op, text, _lsn) in changes.items():
        if op == "D":
            old.pop((k, t))
        else:
            old[(k, t)] = text
    assert old == _state(tbl)

    # self-diff is empty; a diff spanning no changed buckets reads nothing
    assert tbl.changes_between(s3, s3).count() == 0


def test_column_stats_pruned_range_read(spark, tmp_path):
    """Manifest column stats (opt-in stats_cols): every commit maintains
    per-bucket [min, max]; read_range must skip buckets that cannot intersect
    the window (a dict lookup — no file opened) and still return exactly the
    rows a full-scan filter would."""
    from etl_german_fhir_core_spark.lake.table import _bucket_expr

    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"],
        num_buckets=8, stats_cols=["ts"],
    )
    rows = [
        ("I", i + 1, f"conv-{i}", 0, "user", f"t{i}", TS0 + dt.timedelta(days=i))
        for i in range(20)
    ]
    tbl.merge(_batch(spark, rows), epoch_id="1")

    m = tbl.manifest()
    assert m["stats"] and all("ts" in s for s in m["stats"].values())

    lo, hi = TS0, TS0 + dt.timedelta(days=2)
    pruned = tbl._range_buckets("ts", lo, hi)
    nonempty = {int(b) for b, fs in m["files"].items() if fs}
    # expected: the buckets of conv-0..conv-2 (the in-window rows)
    conv_bucket = {
        r["conv_id"]: r["b"]
        for r in spark.createDataFrame(
            [(f"conv-{i}",) for i in range(20)], "conv_id string"
        ).select("conv_id", _bucket_expr("conv_id", 8).alias("b")).collect()
    }
    needed = {conv_bucket[f"conv-{i}"] for i in range(3)}
    assert needed <= set(pruned)            # never skips a bucket it needs
    assert set(pruned) < nonempty           # actually skips something
    got = {r["conv_id"] for r in tbl.read_range("ts", lo, hi).collect()}
    assert got == {"conv-0", "conv-1", "conv-2"}

    # stats stay correct across a bucket-rewriting commit (scoped delete)
    tbl.delete_where(
        F.col("conv_id") == "conv-0", epoch_id="del",
        buckets=[conv_bucket["conv-0"]],
    )
    got2 = {r["conv_id"] for r in tbl.read_range("ts", lo, hi).collect()}
    assert got2 == {"conv-1", "conv-2"}

    # untracked column → no pruning decision, plain filtered read
    assert tbl._range_buckets("text", "a", "z") is None
    assert tbl.read_range("text", "t5", "t5").count() == 1


def test_compact_sorts_within_bucket(spark, tmp_path):
    """Compaction rewrites each bucket ordered by the table key (Iceberg
    sort-order rewrite): Parquet row-group min/max on the sorted key then lets
    key filters skip row groups inside the bucket file. Content-preserving."""
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"],
        num_buckets=2, files_per_bucket=4,
    )
    rows = [("I", i + 1, f"c{(i * 7) % 20}", i % 5, "user", f"t{i}", TS0)
            for i in range(200)]
    tbl.merge(_batch(spark, rows), epoch_id="1")
    before = sorted(_state(tbl).items())

    tbl.compact(epoch_id="c1")
    m = tbl.manifest()
    assert all(len(fs) <= 1 for fs in m["files"].values())
    for fs in m["files"].values():
        for rel in fs:
            got = [
                (r["conv_id"], r["turn_idx"])
                for r in spark.read.parquet(str(tmp_path / "t" / rel)).collect()
            ]
            assert got == sorted(got)  # physically sorted within the file
    assert sorted(_state(tbl).items()) == before


def test_changes_between_schema_evolution_and_preimage(spark, tmp_path):
    """Snapshot diff across an additive schema evolution: a column that did not
    exist at snapshot A null-fills on the old side; emit_preimage adds the
    Delta-CDF-style U_pre row carrying the replaced payload/lsn."""
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=4
    )
    tbl.merge(
        _batch(spark, [("I", 1, "cA", 0, "user", "v1", TS0)]), epoch_id="1"
    )
    s1 = tbl.current_snapshot_id()
    # epoch 2 evolves the schema (tool column) AND replaces the row
    tbl.merge(
        _batch(
            spark,
            [("U", 2, "cA", 0, "user", "v2", TS0 + dt.timedelta(seconds=5), "bash")],
            with_tool=True,
        ),
        epoch_id="2",
    )
    s2 = tbl.current_snapshot_id()

    rows = {r["op"]: r for r in tbl.changes_between(s1, s2, emit_preimage=True).collect()}
    assert set(rows) == {"U", "U_pre"}
    assert (rows["U"]["text"], rows["U"]["tool"], rows["U"]["lsn"]) == ("v2", "bash", 2)
    # pre-image: the replaced payload; 'tool' predates snapshot A → null-filled
    assert (rows["U_pre"]["text"], rows["U_pre"]["tool"], rows["U_pre"]["lsn"]) == (
        "v1", None, 1,
    )
    # default mode stays postimage-only
    assert [r["op"] for r in tbl.changes_between(s1, s2).collect()] == ["U"]


def test_overwrite_retains_tombstones(spark, tmp_path):
    """Bulk load keeps D-winners as hidden tombstones (same retention invariant
    as merge): after the bulk→incremental handoff, a late event OLDER than the
    bulk-covered delete must stay suppressed, while a newer one applies."""
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=2
    )
    bulk = _batch(spark, [
        ("I", 1, "c1", 0, "user", "x", TS0),
        ("D", 2, "c1", 0, None, None, TS0 + dt.timedelta(seconds=10)),
        ("I", 3, "c2", 0, "user", "y", TS0),
    ])
    tbl.overwrite(bulk, epoch_id="bulk")
    assert _state(tbl) == {("c2", 0): "y"}
    meta = tbl.read(include_meta=True)
    assert meta.filter(F.coalesce(F.col("_deleted"), F.lit(False))).count() == 1

    # late event OLDER than the bulk delete: suppressed by the retained tombstone
    tbl.merge(
        _batch(spark, [("U", 9, "c1", 0, "user", "stale", TS0 + dt.timedelta(seconds=5))]),
        epoch_id="e1",
    )
    assert _state(tbl) == {("c2", 0): "y"}
    # genuinely newer event re-creates the key
    tbl.merge(
        _batch(spark, [("U", 10, "c1", 0, "user", "new", TS0 + dt.timedelta(seconds=60))]),
        epoch_id="e2",
    )
    assert _state(tbl) == {("c2", 0): "y", ("c1", 0): "new"}


def test_vacuum_snapshot_retention(spark, tmp_path):
    """vacuum(keep_last=N): the N most recent snapshots stay fully readable
    (time travel + changes_between across them); files only older snapshots
    referenced are reclaimed."""
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "t"), _schema(), ["conv_id", "turn_idx"], num_buckets=2
    )
    for i in range(3):
        tbl.merge(
            _batch(spark, [("U", i + 1, "c1", 0, "user", f"v{i}", TS0 + dt.timedelta(seconds=i))]),
            epoch_id=str(i + 1),
        )
    s1, s2, s3 = (tbl.current_snapshot_id() - 2, tbl.current_snapshot_id() - 1,
                  tbl.current_snapshot_id())

    tbl.vacuum(keep_last=2)
    # retained window fully readable: current and its parent
    assert {r["text"] for r in tbl.read(snapshot_id=s3).collect()} == {"v2"}
    assert {r["text"] for r in tbl.read(snapshot_id=s2).collect()} == {"v1"}
    diff = tbl.changes_between(s2, s3).collect()
    assert [(r["op"], r["text"]) for r in diff] == [("U", "v2")]
    # beyond the window: that snapshot's unshared file is gone
    import pytest as _pytest

    with _pytest.raises(Exception):
        tbl.read(snapshot_id=s1).collect()

    # keep_last=1 then reclaims the rest; current still intact
    tbl.vacuum(keep_last=1)
    assert {r["text"] for r in tbl.read().collect()} == {"v2"}


def test_rebucket_layout_evolution(spark, tmp_path):
    """Bucket-layout evolution (Iceberg partition-spec evolution for the bucket
    transform): rebucket() re-hashes the table into a new bucket count in one
    CoW rewrite — content identical (incl. retained tombstones), ledger and
    resume semantics preserved, merges after the flip land under the new
    layout, and changes_between across the flip sees ZERO row changes."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable.create(spark, root, _schema(), ["conv_id", "turn_idx"],
                               num_buckets=2)
    rows = [("I", i, f"c{i % 7}", i // 7, "user", f"m{i}", TS0) for i in range(1, 41)]
    rows.append(("D", 41, "c0", 0, None, None, TS0 + dt.timedelta(seconds=1)))
    tbl.merge(_batch(spark, rows), epoch_id="e1")
    before = _state(tbl)
    before_meta = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["_lsn"], r["_deleted"])
        for r in tbl.read(include_meta=True).collect()
    }
    pre_flip = tbl.current_snapshot_id()

    r = tbl.rebucket(8, epoch_id="layout-8")
    assert not r.skipped and len(r.touched_buckets) == 8
    m = tbl.manifest()
    assert m["num_buckets"] == 8 and len(m["files"]) == 8
    # content-preserving: user view AND meta (lsn, retained tombstone) identical
    assert _state(tbl) == before
    after_meta = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["_lsn"], r["_deleted"])
        for r in tbl.read(include_meta=True).collect()
    }
    assert after_meta == before_meta
    assert ("c0", 0) in after_meta and after_meta[("c0", 0)][2]  # tombstone rode along

    # the diff across the flip is EMPTY (same data, new layout)
    assert tbl.changes_between(pre_flip, tbl.current_snapshot_id()).count() == 0

    # idempotent per epoch id; same-count rebucket is a ledgered no-op marker
    assert tbl.rebucket(8, epoch_id="layout-8").skipped
    r_same = tbl.rebucket(8, epoch_id="layout-8-again")
    assert tbl.manifest()["num_buckets"] == 8
    assert tbl.has_epoch("layout-8-again")

    # ledger PRESERVED across the flip (unlike overwrite): e1 still committed
    assert tbl.has_epoch("e1")

    # merges after the flip land under the new layout and prune correctly
    tbl.merge(_batch(spark, [
        ("U", 50, "c1", 0, "user", "rehashed", TS0 + dt.timedelta(seconds=9)),
        ("I", 51, "c9", 0, "user", "new", TS0),
    ]), epoch_id="e2")
    got = _state(tbl)
    assert got[("c1", 0)] == "rehashed" and got[("c9", 0)] == "new"
    # diff spanning the flip + the merge shows ONLY the merge's rows
    diff = {(r["op"], r["conv_id"], r["turn_idx"])
            for r in tbl.changes_between(pre_flip, tbl.current_snapshot_id()).collect()}
    assert diff == {("U", "c1", 0), ("I", "c9", 0)}


def test_rebucket_conflicts_with_concurrent_old_layout_writer(spark, tmp_path):
    """A commit staged against the OLD layout must fail with CommitConflict
    after a concurrent rebucket — its CoW files carry bucket ids the new hash
    disagrees with, so rebase would corrupt co-location silently."""
    from etl_german_fhir_core_spark.lake import CommitConflict

    root = str(tmp_path / "t")
    t1 = SnapshotTable.create(spark, root, _schema(), ["conv_id", "turn_idx"],
                              num_buckets=2)
    t1.merge(_batch(spark, [("I", 1, "c1", 0, "user", "a", TS0)]), epoch_id="e1")
    t2 = SnapshotTable.load(spark, root)

    # Pin t1's view of the head to the PRE-rebucket manifest, then let t2's
    # rebucket land first: t1 stages its CoW files against num_buckets=2,
    # CAS-loses for real (same target snapshot id), and _publish's layout
    # guard must re-raise instead of rebasing.
    stale = t1.manifest()
    t2.rebucket(4, epoch_id="layout-4")
    orig = t1.manifest
    pinned = {"armed": True}

    def stale_once(snapshot_id=None):
        if pinned["armed"] and snapshot_id is None:
            pinned["armed"] = False
            return stale
        return orig(snapshot_id)

    t1.manifest = stale_once
    with pytest.raises(CommitConflict):
        t1.merge(_batch(spark, [("I", 2, "c2", 0, "user", "b", TS0)]), epoch_id="e2")
    # the losing commit left no trace; the table is intact under the new layout
    t1.manifest = orig
    assert not t1.has_epoch("e2")
    assert t1.manifest()["num_buckets"] == 4
    assert _state(t1) == {("c1", 0): "a"}


def test_snapshot_tags_pin_through_vacuum(spark, tmp_path):
    """Iceberg-style snapshot tags: a tagged snapshot (e.g. the corpus version
    a model trained on) survives vacuum regardless of keep_last — data files,
    manifest JSON, time travel, and diff-from-tag all keep working below the
    .oldest-readable watermark; drop_tag releases it to the NEXT vacuum."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable.create(spark, root, _schema(), ["conv_id", "turn_idx"],
                               num_buckets=2)
    tbl.merge(_batch(spark, [("I", 1, "c1", 0, "user", "v1", TS0)]), epoch_id="e1")
    assert tbl.tag("train-v1") == 1
    for i in range(2, 6):
        tbl.merge(_batch(spark, [
            ("U", i, "c1", 0, "user", f"v{i}", TS0 + dt.timedelta(seconds=i))
        ]), epoch_id=f"e{i}")

    tbl.vacuum(keep_last=1)
    assert tbl.oldest_readable_snapshot() == 5
    # the pinned snapshot still reads (files + manifest retained)...
    assert {r["text"] for r in tbl.read(tag="train-v1").collect()} == {"v1"}
    assert {r["text"] for r in tbl.read(snapshot_id=1).collect()} == {"v1"}
    # ...and diffing from the pin to head is legal at any lag
    diff = tbl.changes_between(1, tbl.current_snapshot_id()).collect()
    assert [(r["op"], r["text"]) for r in diff] == [("U", "v5")]
    # untagged snapshots behind the watermark still fail eagerly
    with pytest.raises(Exception, match="precede|precedes"):
        tbl.read(snapshot_id=3)

    # re-tag moves the name; tagging behind the watermark is refused
    tbl.tag("train-v1", 5)
    from etl_german_fhir_core_spark.lake.table import SnapshotExpiredError
    with pytest.raises(SnapshotExpiredError):
        tbl.tag("too-old", 1)

    # drop + vacuum reclaims; the guard then rejects the old pin
    tbl.drop_tag("train-v1")
    tbl.vacuum(keep_last=1)
    with pytest.raises(Exception, match="precede|precedes"):
        tbl.read(snapshot_id=1)
    with pytest.raises(KeyError):
        tbl.read(tag="train-v1")


def test_table_has_no_raw_file_io():
    """lake/table.py reaches storage only through its store: no raw file call
    and no shutil import, so paths the runtime store tripwire
    (test_retry_queue_side_paths_are_store_clean) never drives stay covered.
    A stage is listed through the store too: no ``.inputFiles()`` call and no
    AnalysisException import (the classification that listing needed)."""
    import ast
    import pathlib

    from etl_german_fhir_core_spark.lake import table

    raw = {"listdir", "replace", "walk", "unlink", "makedirs"}
    banned = {"open"} | {f"os.{n}" for n in raw}
    tree = ast.parse(pathlib.Path(table.__file__).read_text())
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and ast.unparse(node.func) in banned:
            found.append((ast.unparse(node.func), node.lineno))
        elif isinstance(node, ast.Attribute) and node.attr == "inputFiles":
            found.append((ast.unparse(node), node.lineno))
        elif isinstance(node, ast.Import):
            found += [(a.name, node.lineno) for a in node.names
                      if a.name.split(".")[0] == "shutil"]
        elif isinstance(node, ast.ImportFrom) and node.module in ("os", "shutil"):
            found += [(f"{node.module}.{a.name}", node.lineno) for a in node.names
                      if node.module == "shutil" or a.name in raw]
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            found += [(a.name, node.lineno) for a in node.names
                      if a.name.split(".")[-1] == "AnalysisException"]
    assert not found, found
