"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 re-expressed Spark-first;
``oracle_sql()`` holds the equivalent ANSI SQL for DuckDB over the same parquet
views (region nation customer supplier part orders lineitem events documents
embeddings). Column names/aliases match exactly on both sides.

The CDC-family queries derive a deterministic change feed from the ``events`` table
(event_id→lsn, user_id→conv_id, event_type→op, ts→ts) so Spark and DuckDB replay the
identical WAL — the oracle for the engine's LWW/tombstone semantics
(reference: delete-then-insert upsert keyed on the stable id,
/root/reference/src/main/java/org/miracum/etl/fhirtoomop/mapper/ConditionMapper.java:131-140).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SF_DEFAULT = "/root/testdata/sf0.001"

_LANGS = {
    "de": [" der ", " die ", " und ", " ist ", " nicht ", " das ", " ein "],
    "fr": [" le ", " la ", " les ", " est ", " une ", " dans ", " pour "],
    "es": [" el ", " los ", " es ", " una ", " por ", " para ", " que "],
    "en": [" the ", " and ", " is ", " of ", " to ", " in ", " that "],
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin-repartition a narrow scan up to the session's parallelism
    (r06, guide §2.5/§6): the small-SF parquet inputs arrive as 1-4 splits
    (openCostInBytes floors the split size and single-row-group files cannot
    split), so scan-stage work — projections, partial aggregates, Arrow
    kernels — otherwise runs on a few cores while the rest idle. No-op when
    the scan already has >= parallelism partitions (any at-scale input), so
    nothing extra is shuffled in production. Results are row-identical; only
    row placement changes."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


# --------------------------------------------------------------------------- feed

def _feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic change feed derived from events (shared with oracle CTE below)."""
    e = _spread(_t(spark, sf_dir, "events"))
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "click", "U")
        .otherwise("I")
    )
    turn = (F.col("event_id") % 30).cast("int")
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
        (turn % 4 + 1).cast("int"),
    )
    text = F.concat(F.lit("msg "), F.col("event_id").cast("string"), F.lit(" "), F.col("event_type"))
    is_del = op == "D"
    return e.select(
        F.col("event_id").alias("lsn"),
        op.alias("op"),
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        turn.alias("turn_idx"),
        F.when(is_del, F.lit(None).cast("string")).otherwise(role).alias("role"),
        F.when(is_del, F.lit(None).cast("string")).otherwise(text).alias("text"),
        F.col("ts"),
    )


_FEED_CTE = """
WITH feed AS (
  SELECT event_id AS lsn,
         CASE WHEN event_type = 'error' THEN 'D'
              WHEN event_type = 'click' THEN 'U' ELSE 'I' END AS op,
         'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(event_id % 30 AS INTEGER) AS turn_idx,
         CASE WHEN event_type = 'error' THEN NULL
              ELSE (['user','assistant','system','tool'])[CAST((event_id % 30) % 4 AS INTEGER) + 1]
         END AS role,
         CASE WHEN event_type = 'error' THEN NULL
              ELSE 'msg ' || CAST(event_id AS VARCHAR) || ' ' || event_type
         END AS text,
         ts
  FROM events
)
"""

_NORM_DOC = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


# --------------------------------------------------------------------------- CDC

def q_cdc_lww_final_state(spark, sf_dir):
    """S3+V3+W3: LWW-compacted final table state keyed (conv_id, turn_idx), total
    order (ts, lsn); tombstones drop the key. Same shape as the engine's MERGE
    resolution: a hash aggregate (max_by over the total order) with map-side
    partial aggregation, NOT a sort window — measured ~3x faster on wide text
    rows (the oracle's ROW_NUMBER picks the identical winner because (ts, lsn)
    is a total order)."""
    feed = _feed(spark, sf_dir)
    return (
        feed.groupBy("conv_id", "turn_idx")
        .agg(
            F.max_by(
                F.struct("op", "role", "text", "ts"), F.struct("ts", "lsn")
            ).alias("_w")
        )
        .select("conv_id", "turn_idx", "_w.*")
        .filter(F.col("op") != "D")
        .select("conv_id", "turn_idx", "role", "text", "ts")
    )


def q_cdc_tombstoned_keys(spark, sf_dir):
    """W4: keys whose final state is deleted (hash-agg LWW, as above)."""
    feed = _feed(spark, sf_dir)
    return (
        feed.groupBy("conv_id", "turn_idx")
        .agg(F.max_by(F.col("op"), F.struct("ts", "lsn")).alias("op"))
        .filter(F.col("op") == "D")
        .select("conv_id", "turn_idx")
    )


def q_cdc_epoch_window_scan(spark, sf_dir):
    """S3/S4: incremental time-window micro-batch scan with per-op accounting."""
    feed = _feed(spark, sf_dir)
    ts_type = feed.schema["ts"].dataType  # NTZ-safe under any driver session TZ
    return (
        feed.filter(
            (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast(ts_type))
            & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast(ts_type))
        )
        .groupBy("op")
        .agg(F.count("*").alias("n_events"), F.min("lsn").alias("lo_lsn"), F.max("lsn").alias("hi_lsn"))
    )


def q_cdc_conflict_stats(spark, sf_dir):
    """A3/A4 lineage analog: keys receiving multiple changes (LWW conflict counts)."""
    feed = _feed(spark, sf_dir)
    return (
        feed.groupBy("conv_id", "turn_idx")
        .agg(F.count("*").alias("n_changes"))
        .filter(F.col("n_changes") > 1)
    )


def q_cdc_lineage_rollup(spark, sf_dir):
    """A3: per-op job accounting over the whole feed (read/write/delete counters)."""
    feed = _feed(spark, sf_dir)
    return feed.groupBy("op").agg(
        F.count("*").alias("n"),
        F.min("lsn").alias("lo_lsn"),
        F.max("lsn").alias("hi_lsn"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def q_cdc_snapshot_diff(spark, sf_dir):
    """Incremental snapshot diff (SnapshotTable.changes_between — the Delta-CDF
    / Iceberg incremental-read analog, manifest-pruned to changed buckets): a
    REAL table is built in-query by merging the feed's first half (snapshot A)
    then the rest (snapshot B); the emitted change batch (op I/U/D + key +
    payload + winner lsn) must equal the set difference of the two LWW states —
    which the oracle computes directly from the feed with window functions.
    Exercises the actual table/manifest code path, not a DataFrame re-derivation."""
    import tempfile

    from pyspark.sql import types as T2

    from etl_german_fhir_core_spark.lake import SnapshotTable

    feed = _feed(spark, sf_dir)
    mid = feed.agg(F.max("lsn")).collect()[0][0] // 2
    schema = T2.StructType([
        T2.StructField("conv_id", T2.StringType(), False),
        T2.StructField("turn_idx", T2.IntegerType(), False),
        T2.StructField("role", T2.StringType(), True),
        T2.StructField("text", T2.StringType(), True),
        T2.StructField("ts", feed.schema["ts"].dataType, True),
    ])
    root = tempfile.mkdtemp(prefix="diff_tbl_")  # leaked until /tmp GC: the
    # returned frame reads these files lazily, so no cleanup before collect
    tbl = SnapshotTable.create(spark, f"{root}/t", schema,
                               ["conv_id", "turn_idx"], num_buckets=8)
    tbl.merge(feed.filter(F.col("lsn") <= mid), epoch_id="a")
    s1 = tbl.current_snapshot_id()
    tbl.merge(feed.filter(F.col("lsn") > mid), epoch_id="b")
    s2 = tbl.current_snapshot_id()
    return tbl.changes_between(s1, s2).select(
        "op", "conv_id", "turn_idx", "role", "text", "ts", "lsn"
    )


def _cdc_table_schema(feed):
    from pyspark.sql import types as T2

    return T2.StructType([
        T2.StructField("conv_id", T2.StringType(), False),
        T2.StructField("turn_idx", T2.IntegerType(), False),
        T2.StructField("role", T2.StringType(), True),
        T2.StructField("text", T2.StringType(), True),
        T2.StructField("ts", feed.schema["ts"].dataType, True),
    ])


def q_cdc_rename_final_state(spark, sf_dir):
    """Column-rename schema evolution END TO END against an independent oracle
    (lake/table.rename_column; reference ALTER TABLE ... RENAME migrations,
    pre_processing/pre_process_alter_tables.sql:45-46, InitOmopDb.java:111-141):
    a REAL table is built in-query — first half of the feed merged under the
    original 'role' name, the column renamed to 'speaker' (METADATA-only, no
    file rewrite; identity carried by the manifest rename map), then the second
    half merged with the feed STILL shipping 'role'. The final live state must
    equal the plain LWW oracle modulo the column name — old files, lagging
    batches, and LWW overwrites across the rename all unify at read time."""
    import tempfile

    from etl_german_fhir_core_spark.lake import SnapshotTable

    feed = _feed(spark, sf_dir)
    mid = feed.agg(F.max("lsn")).collect()[0][0] // 2
    root = tempfile.mkdtemp(prefix="rename_tbl_")  # leaked until /tmp GC (lazy read)
    tbl = SnapshotTable.create(spark, f"{root}/t", _cdc_table_schema(feed),
                               ["conv_id", "turn_idx"], num_buckets=8)
    tbl.merge(feed.filter(F.col("lsn") <= mid), epoch_id="a")
    tbl.rename_column("role", "speaker", epoch_id="migrate")
    tbl.merge(feed.filter(F.col("lsn") > mid), epoch_id="b")
    return tbl.read().select("conv_id", "turn_idx", "speaker", "text", "ts")


def q_cdc_changefeed_sync(spark, sf_dir):
    """Streaming change-feed consumer END TO END against an independent oracle
    (streaming/changefeed.ChangeFeedSync — Delta-CDF-as-a-source; reference
    analog: downstream post-processing consuming the date-windowed incremental
    re-read, TaskConfiguration.java:225-247): a source table is built in-query
    (two merges), and a TARGET table is fed ONLY by the source's covering
    snapshot diffs (manifest-pruned changes_between, ledgered exactly-once
    apply, durable position blob). The target's final live state must equal the LWW
    oracle computed directly from the feed — convergence through the diff
    channel, verified independently in DuckDB."""
    import tempfile

    from etl_german_fhir_core_spark.lake import SnapshotTable
    from etl_german_fhir_core_spark.streaming import ChangeFeedSync

    feed = _feed(spark, sf_dir)
    mid = feed.agg(F.max("lsn")).collect()[0][0] // 2
    root = tempfile.mkdtemp(prefix="cdf_tbl_")  # leaked until /tmp GC (lazy read)
    schema = _cdc_table_schema(feed)
    src = SnapshotTable.create(spark, f"{root}/src", schema,
                               ["conv_id", "turn_idx"], num_buckets=8)
    tgt = SnapshotTable.create(spark, f"{root}/tgt", schema,
                               ["conv_id", "turn_idx"], num_buckets=8)
    src.merge(feed.filter(F.col("lsn") <= mid), epoch_id="a")
    src.merge(feed.filter(F.col("lsn") > mid), epoch_id="b")
    ChangeFeedSync(src, tgt, f"{root}/state").sync_once()
    return tgt.read().select("conv_id", "turn_idx", "role", "text", "ts")


def q_cdc_changefeed_agg(spark, sf_dir):
    """Delta-maintained aggregate view END TO END against an independent oracle
    (streaming/changefeed.AggFeedSync — incremental view maintenance, the
    retraction-capable third rollup mode: RollupSpec 'monoid' cannot retract a
    tombstone's contribution and 'state' retracts by rescanning touched keys;
    the CDF path folds SIGNED deltas from U_pre/D preimage rows, O(diff) per
    sync). A per-conversation COUNT/SUM view maintained ONLY from snapshot
    diffs across two source merges (including deletes and LWW losers) must
    equal DuckDB's direct aggregate over the feed's LWW live state."""
    import tempfile

    from pyspark.sql import types as T2

    from etl_german_fhir_core_spark.lake import SnapshotTable
    from etl_german_fhir_core_spark.streaming import AggFeedSync

    feed = _feed(spark, sf_dir)
    mid = feed.agg(F.max("lsn")).collect()[0][0] // 2
    root = tempfile.mkdtemp(prefix="cdfagg_tbl_")  # leaked until /tmp GC (lazy read)
    src = SnapshotTable.create(spark, f"{root}/src", _cdc_table_schema(feed),
                               ["conv_id", "turn_idx"], num_buckets=8)
    agg_schema = T2.StructType([
        T2.StructField("conv_id", T2.StringType(), False),
        T2.StructField("n_rows", T2.LongType(), True),
        T2.StructField("sum_turn", T2.LongType(), True),
    ])
    tgt = SnapshotTable.create(spark, f"{root}/agg", agg_schema,
                               ["conv_id"], num_buckets=8)
    sync = AggFeedSync(src, tgt, f"{root}/state", group_cols=["conv_id"],
                       sum_cols={"sum_turn": "turn_idx"})
    src.merge(feed.filter(F.col("lsn") <= mid), epoch_id="a")
    sync.sync_once()  # each sync folds ONE covering diff (position, head]
    src.merge(feed.filter(F.col("lsn") > mid), epoch_id="b")
    sync.sync_once()
    return (
        tgt.read().filter(F.col("n_rows") > 0)
        .select("conv_id", "n_rows", "sum_turn")
    )


def q_cdc_changefeed_minmax(spark, sf_dir):
    """Delta-maintained MIN/MAX view over the change feed (streaming/changefeed
    AggFeedSync min_cols/max_cols — the IVM case monoid folding cannot do:
    extremes are not retractable, so groups hit by a delete or an LWW
    replacement are re-aggregated from the source at the diff's TO snapshot,
    bucket-pruned + semi-joined, under the cdf-<n>/mm maintenance marker;
    insert-only groups still fold O(diff)). The per-conversation
    COUNT/SUM/MIN/MAX view maintained only from snapshot diffs across two
    source merges must equal DuckDB's direct aggregate over the feed's LWW
    live state — deletes of a conversation's extreme turns included."""
    import tempfile

    from pyspark.sql import types as T2

    from etl_german_fhir_core_spark.lake import SnapshotTable
    from etl_german_fhir_core_spark.streaming import AggFeedSync

    feed = _feed(spark, sf_dir)
    mid = feed.agg(F.max("lsn")).collect()[0][0] // 2
    root = tempfile.mkdtemp(prefix="cdfmm_tbl_")  # leaked until /tmp GC (lazy read)
    src = SnapshotTable.create(spark, f"{root}/src", _cdc_table_schema(feed),
                               ["conv_id", "turn_idx"], num_buckets=8)
    agg_schema = T2.StructType([
        T2.StructField("conv_id", T2.StringType(), False),
        T2.StructField("n_rows", T2.LongType(), True),
        T2.StructField("sum_turn", T2.LongType(), True),
        T2.StructField("min_turn", T2.IntegerType(), True),
        T2.StructField("max_turn", T2.IntegerType(), True),
    ])
    tgt = SnapshotTable.create(spark, f"{root}/agg", agg_schema,
                               ["conv_id"], num_buckets=8)
    sync = AggFeedSync(src, tgt, f"{root}/state", group_cols=["conv_id"],
                       sum_cols={"sum_turn": "turn_idx"},
                       min_cols={"min_turn": "turn_idx"},
                       max_cols={"max_turn": "turn_idx"})
    src.merge(feed.filter(F.col("lsn") <= mid), epoch_id="a")
    sync.sync_once()
    src.merge(feed.filter(F.col("lsn") > mid), epoch_id="b")
    sync.sync_once()
    return (
        tgt.read().filter(F.col("n_rows") > 0)
        .select("conv_id", "n_rows", "sum_turn", "min_turn", "max_turn")
    )


def q_cdc_mor_final_state(spark, sf_dir):
    """MERGE-ON-READ table end to end (lake/table merge_mode='mor' — Iceberg v2
    row-level deltas / Delta deletion vectors): epochs append per-bucket delta
    files (write cost O(batch), base never rewritten), reads resolve LWW
    across base + deltas under (order_cols, _lsn, _src), compact() folds
    deltas back into the base. The feed is merged in three epochs with a
    compaction between #2 and #3, so the final read resolves a compacted base
    against a live delta layer — and must equal the same DuckDB LWW oracle as
    the CoW path."""
    import tempfile

    from etl_german_fhir_core_spark.lake import SnapshotTable

    feed = _feed(spark, sf_dir)
    hi = feed.agg(F.max("lsn")).collect()[0][0]
    cut1, cut2 = hi // 3, 2 * hi // 3
    root = tempfile.mkdtemp(prefix="mor_tbl_")  # leaked until /tmp GC (lazy read)
    tbl = SnapshotTable.create(spark, f"{root}/t", _cdc_table_schema(feed),
                               ["conv_id", "turn_idx"], num_buckets=8,
                               merge_mode="mor")
    tbl.merge(feed.filter(F.col("lsn") <= cut1), epoch_id="e1")
    tbl.merge(feed.filter((F.col("lsn") > cut1) & (F.col("lsn") <= cut2)),
              epoch_id="e2")
    tbl.compact(epoch_id="fold-1")
    tbl.merge(feed.filter(F.col("lsn") > cut2), epoch_id="e3")
    return tbl.read().select("conv_id", "turn_idx", "role", "text", "ts")


# --------------------------------------------------------------------------- mappers

def q_mapper_normalize_project(spark, sf_dir):
    """T1/T5/T6: key prefixing, JSON-path extraction (S2 analog), truncation."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.concat(F.lit("evt-"), F.col("event_id").cast("string")).alias("key_prefixed"),
        F.substring(F.upper(F.col("event_type")), 1, 4).alias("status_code"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("prop_k"),
    )


def q_mapper_validity_filter(spark, sf_dir):
    """T2/T3/T4: status whitelist + required-field gate."""
    e = _t(spark, sf_dir, "events")
    return e.filter(
        F.col("event_type").isin("click", "view", "purchase") & F.col("value").isNotNull()
    ).select("event_id", "user_id", "event_type", "value")


def q_mapper_date_arithmetic(spark, sf_dir):
    """T8/T9: timestamp arithmetic (documentation-time minus age analog)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        (F.col("ts") + F.expr("make_interval(0,0,0,0,0,0, CAST(FLOOR(value) AS INT))")).alias("shifted_ts"),
        F.date_trunc("day", F.col("ts")).alias("day_bucket"),
    )


def q_mapper_conditional_concept(spark, sf_dir):
    """T10: hardcoded concept assignment with fallback (gender→concept analog)."""
    e = _t(spark, sf_dir, "events")
    concept = (
        F.when(F.col("event_type") == "click", 8507)
        .when(F.col("event_type") == "view", 8532)
        .when(F.col("event_type") == "purchase", 8551)
        .otherwise(0)
    )
    return e.groupBy(concept.alias("concept_id")).agg(F.count("*").alias("n"))


def q_mapper_code_explode(spark, sf_dir):
    """T12: code splitting/explosion (splitDiagnoseCodes analog) over part types."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split(F.col("p_type"), " ")).alias("code_token"))
        .groupBy("code_token")
        .agg(F.count("*").alias("n"))
    )


def q_surrogate_id_dense(spark, sf_dir):
    """T13: deterministic dense surrogate-id minting — two-pass range-partitioned
    numbering (sampled split points → per-range counts → partition-local
    row_number + prefix offsets), NOT a global single-partition window."""
    from etl_german_fhir_core_spark.operators.ids import dense_surrogate_ids

    d = _t(spark, sf_dir, "documents")
    return dense_surrogate_ids(d, "doc_id", num_partitions=8)


def q_mapper_tz_anchor(spark, sf_dir):
    """T8: timezone-anchored conversion (PatientMapper.java:474-486 anchors
    birthDate at Europe/Berlin): interpret the naive event ts as UTC, emit Berlin
    wall-clock + local date. Session-timezone-independent (convert_timezone on
    TIMESTAMP_NTZ, DST-aware: +1h winter / +2h summer)."""
    from etl_german_fhir_core_spark.functions.temporal import tz_anchor

    e = _t(spark, sf_dir, "events")
    berlin = tz_anchor(F.col("ts"), "UTC", "Europe/Berlin")
    return e.select(
        "event_id",
        berlin.alias("ts_berlin"),
        # local civil DAY as a day-truncated timestamp (engine-portable dtype)
        F.date_trunc("day", berlin).alias("day_berlin"),
    )


def q_mapper_absent_unwrap(spark, sf_dir):
    """T14: data-absent-reason unwrap (ResourceCheckDataAbsentReason.java): when
    the absent marker holds the value is NULL and the reason is recorded."""
    from etl_german_fhir_core_spark.functions.temporal import null_when

    e = _t(spark, sf_dir, "events")
    absent = F.col("event_type") == "error"
    return e.select(
        "event_id",
        F.round(null_when(F.col("value"), absent), 6).alias("value_unwrapped"),
        F.when(absent, F.lit("masked-error"))
        .otherwise(F.lit(None).cast("string"))
        .alias("absent_reason"),
    )


def q_cdc_rollup_final_state(spark, sf_dir):
    """W8/J9 state-consistent derived table: per-conversation period over the
    FINAL LWW state, so tombstoned/superseded turns retract — the contract the
    engine's mode='state' RollupSpec maintains incrementally
    (post_process_observation_period.sql:17-54 recomputes from target rows)."""
    final = q_cdc_lww_final_state(spark, sf_dir)
    return final.groupBy("conv_id").agg(
        F.min("ts").alias("period_start"),
        F.max("ts").alias("period_end"),
        F.count("*").alias("n_turns"),
    )


# --------------------------------------------------------------------------- joins

def q_join_concept_lookup(spark, sf_dir):
    """J1: broadcast dictionary join (concept lookup) + rollup."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_join_lookup_default(spark, sf_dir):
    """J4: lookup with default when unmapped (source_to_concept_map default 0)."""
    o = _t(spark, sf_dir, "orders")
    rich = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        "c_custkey", F.lit(1).alias("is_rich")
    )
    return (
        o.join(F.broadcast(rich), o.o_custkey == rich.c_custkey, "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("is_rich"), F.lit(0)).alias("rich_flag"),
        )
    )


def q_join_temporal_validity(spark, sf_dir):
    """J2: temporal-validity (as-of/range) join — keep orders whose date falls inside
    the priority's first-half validity window (derived dim)."""
    o = _t(spark, sf_dir, "orders")
    dim = o.groupBy(F.col("o_orderpriority").alias("pr")).agg(
        F.min("o_orderdate").alias("valid_from"),
        F.timestamp_micros(
            F.expr(
                "(unix_micros(CAST(min(o_orderdate) AS TIMESTAMP))"
                " + unix_micros(CAST(max(o_orderdate) AS TIMESTAMP))) div 2"
            )
        ).cast(o.schema["o_orderdate"].dataType).alias("valid_to"),
    )
    j = o.join(
        F.broadcast(dim),
        (o.o_orderpriority == dim.pr)
        & (o.o_orderdate >= dim.valid_from)
        & (o.o_orderdate <= dim.valid_to),
    )
    return j.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_in_window")
    )


def q_join_reference_person(spark, sf_dir):
    """J5: reference-key lookup with fallback name (person-id map analog)."""
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey, "left")
        .select(
            "event_id",
            F.coalesce(F.col("c_name"), F.lit("unknown")).alias("person_name"),
        )
    )


def q_join_pairing_reciprocal(spark, sf_dir):
    """J8: primary/secondary pairing self-join with reciprocal emission."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    l1 = li.filter(F.col("l_linenumber") == 1).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk1")
    )
    l2 = li.filter(F.col("l_linenumber") == 2).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk2")
    )
    pairs = l1.join(l2, "ok")
    # r06: both directions ride ONE join via a 2-element explode — the former
    # fwd/bwd union duplicated the whole self-join subtree (2 SortMergeJoins,
    # 4 scans; plans/r06). Identical rows, 0.70 s -> 0.54 s at sf1.0.
    d = pairs.select(
        F.col("ok").alias("orderkey"),
        F.explode(
            F.array(
                F.struct(
                    F.col("pk1").alias("part_a"),
                    F.col("pk2").alias("part_b"),
                    F.lit("primary_of").alias("relationship_id"),
                ),
                F.struct(
                    F.col("pk2").alias("part_a"),
                    F.col("pk1").alias("part_b"),
                    F.lit("secondary_of").alias("relationship_id"),
                ),
            )
        ).alias("e"),
    )
    return d.select("orderkey", "e.part_a", "e.part_b", "e.relationship_id")


def q_join_vocab_materialized(spark, sf_dir):
    """J7: materialized vocabulary view — the 3-way dim join (customer→nation→
    region) is persisted ONCE and reused by fact joins, the reference's
    pre-computed etl-helper tables (pre_process_create_etl_helper_tables.sql:
    27-233). Dim-sized persist only; the fact side streams past it broadcast."""
    from etl_german_fhir_core_spark.operators.routing import materialize_dim

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    vocab, _release = materialize_dim(dim)
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(vocab), o.o_custkey == vocab.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------- windows/aggs

def q_era_islands(spark, sf_dir):
    """V1/V2: gaps-and-islands era collapse (condition_era 30-day-gap analog; here a
    30-minute gap per user over the events stream)."""
    from etl_german_fhir_core_spark.operators.eras import collapse_eras

    e = _t(spark, sf_dir, "events")
    return collapse_eras(e, ["user_id"], "ts", gap_seconds=1800)


def q_era_stockpile(spark, sf_dir):
    """V2: drug_era stockpile algorithm — each event carries a duration (value
    minutes); an era extends while the next event starts within 30 minutes of the
    RUNNING MAX end of all previous events (post_process_drug_era.sql:63-149)."""
    e = _t(spark, sf_dir, "events")
    end_ts = F.col("ts") + F.expr("make_interval(0,0,0,0,0, CAST(FLOOR(value) AS INT), 0)")
    base = e.select("user_id", "event_id", "ts", end_ts.alias("end_ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_max_end = F.max("end_ts").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = base.withColumn(
        "new_era",
        F.when(
            prev_max_end.isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                > F.unix_micros(prev_max_end.cast("timestamp")) + 1800 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "era_id",
        F.sum("new_era").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return numbered.groupBy("user_id", "era_id").agg(
        F.min("ts").alias("era_start"),
        F.max("end_ts").alias("era_end"),
        F.count("*").alias("n_events"),
    )


def q_era_ingredient_rollup(spark, sf_dir):
    """J10: roll the exposure code up to its ancestor concept through a broadcast
    dim chain BEFORE era building (post_process_drug_era.sql:17-47:
    drug_exposure ⋈ concept_ancestor ⋈ concept → RxNorm Ingredient), then
    gaps-and-islands eras per (person, ancestor). The ancestor map is
    many-to-one (types of equal name length share a group)."""
    from etl_german_fhir_core_spark.operators.eras import collapse_eras

    e = _t(spark, sf_dir, "events")
    concept = (
        e.select("event_type").distinct()
        .withColumn("mid", F.length("event_type"))
    )
    ancestor = (
        concept.select("mid").distinct()
        .withColumn("anc", F.concat(F.lit("grp-"), F.col("mid").cast("string")))
    )
    j = (
        e.join(F.broadcast(concept), "event_type")
        .join(F.broadcast(ancestor), "mid")
        .select("user_id", "anc", "ts")
    )
    return collapse_eras(j, ["user_id", "anc"], "ts", gap_seconds=1800)


def q_jsonb_predicate_scan(spark, sf_dir):
    """S2: predicate pushdown into the JSON payload (Encounter contact-level split
    analog — TaskConfiguration.java:284-306): route events by a JSON field parity."""
    e = _spread(_t(spark, sf_dir, "events"))
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.withColumn(
            "contact_level",
            F.when(k % 2 == 0, "einrichtungskontakt").otherwise("abteilungskontakt"),
        )
        .groupBy("contact_level", "event_type")
        .agg(F.count("*").alias("n"))
    )


def q_compound_pack_unpack(spark, sf_dir):
    """T11: compound string packing (zip;city;country → data_one analog) and
    positional unpack."""
    e = _t(spark, sf_dir, "events")
    packed = F.concat_ws(";", F.col("event_type"), F.col("user_id").cast("string"))
    return e.select(
        "event_id",
        packed.alias("data_one"),
        F.split(packed, ";").getItem(0).alias("unpacked_type"),
    )


def q_agg_observation_period(spark, sf_dir):
    """A1: observation-period rollup (min/max/count per person)."""
    e = _t(spark, sf_dir, "events")  # no _spread: arithmetic-only partial agg
    # already compresses map-side; a round-robin exchange of raw rows costs
    # more than the extra cores gain (measured 0.24 s vs 1.33 s at sf1.0)
    return e.groupBy("user_id").agg(
        F.min("ts").alias("period_start"),
        F.max("ts").alias("period_end"),
        F.count("*").alias("n_events"),
    )


def q_agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the reference's aggregation class at full width."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate")
            <= F.lit("1998-09-02").cast(li.schema["l_shipdate"].dataType)
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 4
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_topk_per_group(spark, sf_dir):
    """Top-3 revenue line items per brand (the classic top-k-per-group window)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand", "l_orderkey", "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("rev"),
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("rev").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "l_orderkey", "l_linenumber", "rev", "rk")
    )


def q_pivot_event_types(spark, sf_dir):
    """Manual pivot: events per type per week (CASE-sum pivot, engine-portable)."""
    e = _t(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).alias("week")
    agg = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    return e.groupBy(week).agg(*agg)


def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS over (returnflag, linestatus): per-pair, per-flag, grand total."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


def q_window_latest_per_key(spark, sf_dir):
    """V3: last-write-wins dedup in isolation (latest event per user+type).

    r06: the row_number window (two full sorts around the exchange, even with
    Spark 4's WindowGroupLimit pushdown) is replaced by a pure HASH aggregate:
    the total order (ts, event_id) packs losslessly into one decimal(38,0) —
    ts_micros * 10^10 + event_id, exact while 0 <= event_id < 10^10, far above
    any generated feed — and max(decimal) is hash-aggregable (map-side partial
    agg, zero sorts). Both output columns unpack exactly from the packed max
    (pmod / integer division; ts round-trips micros -> TIMESTAMP_NTZ under the
    pinned UTC session), so the result is bit-identical to the window form —
    measured 1.55 s -> 1.09 s at sf1.0 (plans/r06). No _spread here: the
    packed-max partial aggregate is pure arithmetic and compresses map-side,
    so a round-robin exchange of the raw rows costs more than the extra
    cores gain (1.01 s vs 1.55 s measured)."""
    e = _t(spark, sf_dir, "events")
    c = F.lit(10_000_000_000).cast("decimal(11,0)")
    pack = (
        F.unix_micros(F.col("ts").cast("timestamp")).cast("decimal(28,0)") * c
        + F.col("event_id").cast("decimal(11,0)")
    )
    g = e.groupBy("user_id", "event_type").agg(F.max(pack).alias("_mx"))
    lsn = F.pmod(F.col("_mx"), c)
    mic = ((F.col("_mx") - lsn) / c).cast("decimal(28,0)")
    return g.select(
        "user_id",
        "event_type",
        lsn.cast("long").alias("event_id"),
        F.timestamp_micros(mic.cast("long")).cast(e.schema["ts"].dataType).alias("ts"),
    )


# --------------------------------------------------------------------------- text

def q_text_token_count(spark, sf_dir):
    from etl_german_fhir_core_spark.functions.text import token_count

    d = _spread(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def q_text_quality_score(spark, sf_dir):
    """Quality scoring: alpha ratio + punctuation ratio blend (scaled int for
    cross-engine float stability)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    n = F.length(F.col("text")).cast("double")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(F.col("text"), "[^\\.,;:!\\?]", "")).cast("double")
    score = F.when(n > 0, (alpha / n) * 0.7 + (1.0 - F.least(punct / n * 5.0, F.lit(1.0))) * 0.3).otherwise(0.0)
    return d.select("doc_id", F.round(score * 1e6).cast("long").alias("quality_micro"))


def q_text_lang_id(spark, sf_dir):
    """Language-ID heuristic via cue-phrase occurrence counts (argmax, tie order
    de>fr>es>en, 'und' when no cue hits)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    scores = {}
    for lang, cues in _LANGS.items():
        s = None
        for cue in cues:
            hits = (F.length(padded) - F.length(F.replace(padded, F.lit(cue), F.lit("")))) / len(cue)
            s = hits if s is None else s + hits
        scores[lang] = s
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in ["en", "es", "fr", "de"]:
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return d.select("doc_id", expr.alias("lang_guess"))


def q_dedup_exact(spark, sf_dir):
    """Exact dedup on normalized content (keep min doc_id + duplicate count)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")))
    return (
        d.withColumn("content_key", norm)
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dupes"))
        .select("keep_id", "n_dupes")
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by 3-gram word-shingle Jaccard ≥ 0.5 (inverted-index self-join)."""
    from etl_german_fhir_core_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    return out.select("id1", "id2", F.round(F.col("jaccard"), 6).alias("jaccard"))


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs, Jaccard-verified. Oracle: verified output is
    EXACT Jaccard on LSH candidates, and on the contract corpus the fixture's
    true pairs are high-jaccard near-dups (j≈0.9: per-pair candidate probability
    1-(1-j^4)^8 ≈ 0.9998 at 8 bands × 4 rows), so recall is 1.0 empirically and
    the result equals dedup_ngram_jaccard — same DuckDB oracle. Any recall loss
    would surface as a row-count mismatch; the band knob stays the
    recall/candidate-volume tradeoff at scale."""
    from etl_german_fhir_core_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=32, bands=8, verify_threshold=0.5)
    return out.select("id1", "id2", F.round(F.col("jaccard"), 6).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    """SimHash signatures + prefix buckets, on the md5 hash basis: bit b of the
    vote comes from hex digit b//4, bit b%4 of md5(shingle) — reproducible in
    any SQL engine, so the full 64-bit signature gets a DuckDB oracle (the
    xxhash64 default basis is the production fast path; this closes the one
    rows-only row from r03)."""
    from etl_german_fhir_core_spark.operators.dedup import simhash_buckets

    d = _t(spark, sf_dir, "documents")
    return simhash_buckets(d, "doc_id", "text", n=3, prefix_bits=16,
                           hash_basis="md5")


def q_dedup_simhash_pairs(spark, sf_dir):
    """End-to-end SimHash near-dup pipeline: Manku-style block-combination
    candidate tables (GUARANTEED recall within Hamming radius max_hamming:
    d bit-errors touch ≤d of the d+g blocks, so some whole g-combination
    agrees) + a popcount(xor)≤d Hamming filter in the candidate kernel +
    candidate-only exact Jaccard verify over shingle-hash sets
    (operators/dedup.simhash_pairs). The contract corpus's
    j≥0.5 pairs all sit within Hamming 12 of each other, so the exact-Jaccard
    pair SQL is its oracle — closing the loop on the one family (raw
    signatures) that is inherently rows-only."""
    from etl_german_fhir_core_spark.operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    out = simhash_pairs(d, "doc_id", "text", n=3, max_hamming=12,
                        verify_threshold=0.5)
    return out.select("id1", "id2", F.round(F.col("jaccard"), 6).alias("jaccard"))


def q_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster resolution: near-dup PAIRS (3-gram Jaccard ≥ 0.5) →
    connected components with the min doc id as canonical (iterative min-label
    propagation; A~B, B~C collapse to one cluster even if (A,C) was never a
    pair). The keep-one-per-cluster step every dedup pipeline ends with."""
    from etl_german_fhir_core_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    return dedup_clusters(pairs)


def q_dedup_clusters_star(spark, sf_dir):
    """Duplicate-cluster resolution via alternating large-star/small-star
    contraction — O(log n) rounds vs min-label propagation's O(diameter), the
    scale path for deep/chain-shaped near-dup components (operators/dedup.py
    dedup_clusters_star). Same pair input and same recursive-CTE oracle as
    dedup_clusters — both must resolve identical components."""
    from etl_german_fhir_core_spark.operators.dedup import (
        dedup_clusters_star,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    return dedup_clusters_star(pairs)


def q_text_redact_pii(spark, sf_dir):
    """Training-data PII scrub (functions/text.redact_pii): URLs, emails, and
    phone shapes → typed placeholders, as chained JVM-side regexp_replace. The
    corpus has no organic PII, so deterministic synthetic PII (pure function of
    doc_id) is appended in-query and the DuckDB oracle applies the identical
    chain — a missed match, wrong order (email-inside-URL), or non-global
    replace fails the hash."""
    from etl_german_fhir_core_spark.functions.text import redact_pii

    d = _spread(_t(spark, sf_dir, "documents"))
    with_pii = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com via https://ex.example/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?x=1 or call +1 555 010 "), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return with_pii.select("doc_id", redact_pii("text").alias("text"))


def q_text_contamination(spark, sf_dir):
    """Benchmark-contamination check (operators/dedup.ngram_contamination):
    per-document fraction of distinct 5-gram shingles that appear anywhere in
    the 'benchmark' slice (doc_id % 20 == 0 plays the held-out eval corpus).
    The train/eval hygiene pass every pre-training pipeline needs; benchmark
    shingles broadcast (eval suites are MBs against TBs)."""
    from etl_german_fhir_core_spark.operators.dedup import ngram_contamination

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 0)
    train = d.filter(F.col("doc_id") % 20 != 0)
    out = ngram_contamination(train, bench, "doc_id", "text", n=5)
    return out.select(
        F.col("doc").alias("doc_id"), "n_shingles", "n_contaminated",
        "contamination_rate",
    )


def q_dedup_chunk_exact(spark, sf_dir):
    """Sub-document exact dedup (operators/dedup.chunk_exact_dupes): fixed
    10-word chunks repeated across the corpus — the boilerplate/templated-span
    pass document-level dedup misses. Chunks are built by slicing the token
    array per chunk index (codegen'd; no order-nondeterministic collect_list)."""
    from etl_german_fhir_core_spark.operators.dedup import chunk_exact_dupes

    d = _t(spark, sf_dir, "documents")
    return chunk_exact_dupes(d, "doc_id", "text", chunk_words=10, min_dupes=2)


def q_text_top_ngrams(spark, sf_dir):
    """Corpus n-gram document-frequency stats (operators/dedup.top_ngrams): the
    20 most document-frequent 3-grams, ties broken lexicographically — the
    boilerplate-discovery query whose output justifies ngram_jaccard_pairs'
    max_df stop-shingle cap."""
    from etl_german_fhir_core_spark.operators.dedup import top_ngrams

    d = _t(spark, sf_dir, "documents")
    return top_ngrams(d, "doc_id", "text", n=3, k=20)


_STOPWORDS = ["the", "and", "is", "of", "to", "in", "that", "a"]


def q_text_stopword_ratio(spark, sf_dir):
    """Quality signal: stopword ratio = stopword occurrences / word count
    (natural text sits ~0.2-0.5; gibberish and boilerplate fall outside).
    Scaled to micro-units for cross-engine float stability."""
    d = _spread(_t(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    hits = None
    for w in _STOPWORDS:
        cue = f" {w} "
        # non-overlapping count via length difference; single-space collapse above
        # means adjacent stopwords still match once each side
        h = (F.length(padded) - F.length(F.replace(padded, F.lit(cue), F.lit(" ")))) / (
            len(cue) - 1
        )
        hits = h if hits is None else hits + h
    words = F.size(F.split(norm, " "))
    ratio = F.when(words > 0, hits / words).otherwise(0.0)
    return d.select(
        "doc_id", F.round(ratio * 1e6).cast("long").alias("stopword_ratio_micro")
    )


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (the dedup-family vector variant): exact
    all-pairs cosine ≥ 0.4, id1 < id2 (synthetic embeddings are near-orthogonal —
    max pairwise cosine ~0.51). Brute force is the verification baseline;
    at corpus scale candidates come from the LSH/IVF ANN operators first and only
    candidate pairs get the exact cosine (same shape as minhash verify)."""
    from etl_german_fhir_core_spark.operators.similarity import cosine_similarity

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    a = emb.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"))
    pairs = a.join(b, F.col("id1") < F.col("id2"))
    sim = cosine_similarity(F.col("v1"), F.col("v2"))
    return (
        pairs.select("id1", "id2", F.round(sim, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.4)
    )


def q_dedup_embedding_ann(spark, sf_dir):
    """Embedding near-dup pairs via IVF candidate generation + exact cosine
    verify (operators/similarity.embedding_ann_pairs) — the scale path for
    dedup_embedding_cosine's all-pairs baseline. At the contract configuration
    multi-probe assignment surfaces every ≥0.4 pair on the corpus (verified
    empirically — centroids are hash-deterministic), so the all-pairs SQL is its
    oracle; at scale nprobe trades recall for candidate volume."""
    from etl_german_fhir_core_spark.operators.similarity import embedding_ann_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    out = embedding_ann_pairs(emb, dim=64, threshold=0.4, n_centroids=16, nprobe=6)
    return out.select("id1", "id2", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting: deterministic 128-bit content hash of the
    normalized text. md5 here because DuckDB computes the identical digest (the
    oracle); the engine's internal dedup path uses the cheaper xxhash64 variant
    (functions/text.py doc_fingerprint), same normalization."""
    d = _spread(_t(spark, sf_dir, "documents"))
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")))
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


# --------------------------------------------------------------------------- vectors

def q_sim_cosine_topk(spark, sf_dir):
    """Brute-force exact top-3 cosine neighbors for query vectors vec_id < 5."""
    from etl_german_fhir_core_spark.operators.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_bruteforce(emb, q, "vec_id", "embedding", k=3)
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("sim"), 6).alias("sim"), "rank"
    )


def q_sim_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate NN, 8-table multiprobe union (recall knob). At
    the contract configuration (bits=2 × 8 seeds) the table union recovers the
    exact top-3 for every query on the contract corpus (verified empirically —
    hyperplanes are seed-fixed and deterministic), so the brute-force top-k SQL
    is its oracle; at scale callers raise bits (smaller buckets) and accept
    <1.0 recall — the recall/cost tradeoff IS the operator."""
    from etl_german_fhir_core_spark.operators.similarity import lsh_ann_topk
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5)
    cand = None
    for seed in range(42, 50):
        t = lsh_ann_topk(emb, q, dim=64, k=3, bits=2, seed=seed).select(
            "query_id", "neighbor_id", "sim"
        )
        cand = t if cand is None else cand.unionByName(t)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cand.distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", F.round(F.col("sim"), 6).alias("sim"), "rank")
    )


def q_sim_ann_ivf(spark, sf_dir):
    """IVF-bucketed approximate NN (coarse k-means cells + nprobe rerank). The
    contract configuration probes EVERY cell (nprobe == n_centroids), which makes
    IVF provably equal to brute force — so the brute-force top-k SQL is its
    oracle; production sets nprobe ≪ n_centroids (recall/latency knob, covered by
    tests/test_operators.py::test_ivf_ann_recall)."""
    from etl_german_fhir_core_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = ivf_ann_topk(emb, q, dim=64, k=3, n_centroids=16, nprobe=16)
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("sim"), 6).alias("sim"), "rank"
    )


def q_rest_paged_scan(spark, sf_dir):
    """S6: paged REST (FHIR-Bundle) source — deterministic page grid, executor-
    parallel fetch via injected transport, JVM-side Bundle parse
    (FhirServerItemReader.java:29-198 re-expressed; sources/rest.py). The
    'server' here is backed by the documents table (driver-side by design — it
    plays the REMOTE SERVER, not part of the Spark plan), so the oracle is a
    plain SELECT over the same table: a lost page, dropped entry, or mis-parsed
    field fails the hash."""
    import json as _json

    from pyspark.sql import types as T2

    from etl_german_fhir_core_spark.sources import rest_paged_scan

    rows = sorted(
        (int(r["doc_id"]), r["text"])
        for r in _t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )

    def fetch(url: str) -> str:
        q = dict(p.split("=") for p in url.split("?")[1].split("&"))
        off, count = int(q["_getpagesoffset"]), int(q["_count"])
        entries = [
            {"resource": {"doc_id": i, "text": t}} for i, t in rows[off : off + count]
        ]
        return _json.dumps({"total": len(rows), "entry": entries})

    schema = T2.StructType(
        [T2.StructField("doc_id", T2.LongType()), T2.StructField("text", T2.StringType())]
    )
    out = rest_paged_scan(
        spark, "http://fake/fhir/DocumentReference", fetch, schema, page_size=100
    )
    return out.select("doc_id", "text")


def q_rest_link_walk(spark, sf_dir):
    """S6 cursor mode: opaque next-link walking with recorded restart state —
    the reference's actual pagination protocol (FhirServerItemReader.java:76-133,
    restart :160-191; sources/rest.rest_link_walk_scan). The fake server only
    hands out opaque continuation tokens (no total/offset), so the page-grid
    fast path is impossible by construction; same plain-SELECT oracle as
    rest_paged_scan — a lost page, dropped entry, or mis-parsed field fails the
    hash."""
    import json as _json

    from pyspark.sql import types as T2

    from etl_german_fhir_core_spark.sources import rest_link_walk_scan

    rows = sorted(
        (int(r["doc_id"]), r["text"])
        for r in _t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )
    page = 100

    def fetch(url: str) -> str:
        k = 0 if "cursor-" not in url else int(url.rsplit("cursor-", 1)[1])
        entries = [
            {"resource": {"doc_id": i, "text": t}}
            for i, t in rows[k * page : (k + 1) * page]
        ]
        links = (
            [{"relation": "next", "url": f"http://fake/fhir?cursor-{k + 1}"}]
            if (k + 1) * page < len(rows)
            else []
        )
        return _json.dumps({"link": links, "entry": entries})

    schema = T2.StructType(
        [T2.StructField("doc_id", T2.LongType()), T2.StructField("text", T2.StringType())]
    )
    out = rest_link_walk_scan(
        spark, "http://fake/fhir/DocumentReference", fetch, schema
    )
    return out.select("doc_id", "text")


def q_multimodal_payload_meta(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload column + typed metadata (decode is
    stubbed in etl_german_fhir_core_spark.multimodal; here: byte length accounting)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length(F.encode(F.col("text"), "utf-8")).alias("payload_bytes"),
    )


def q_multimodal_ppm_decode(spark, sf_dir):
    """END-TO-END image decode on REAL pixel bytes (multimodal/binary.py
    pure-numpy PPM codec): each doc gets a deterministic solid-color P6 payload
    whose dimensions/colors are arithmetic functions of doc_id, generated and
    decoded entirely inside Arrow-batched mapInPandas stages. The decoded
    header dimensions and per-channel means must recover those functions
    exactly — so a plain-arithmetic DuckDB SELECT is a full value oracle for
    the binary decode path (a mis-parsed header, channel swap, or byte-order
    bug fails the hash)."""
    import numpy as np
    import pandas as pd

    from etl_german_fhir_core_spark.multimodal import encode_ppm, extract_features

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 8 + i % 5, 6 + i % 3
                arr = np.zeros((h, w, 3), dtype=np.uint8)
                arr[..., 0] = i % 256
                arr[..., 1] = (i * 7) % 256
                arr[..., 2] = (i * 13) % 256
                payloads.append(encode_ppm(arr))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    imgs = d.mapInPandas(gen, "doc_id long, payload binary")
    feats = extract_features(imgs)
    mean = lambda i: (F.round(F.element_at("feature", i) * 255, 0)).cast("int")
    return feats.select(
        "doc_id", "width", "height",
        mean(1).alias("mean_r"), mean(2).alias("mean_g"), mean(3).alias("mean_b"),
    )


def q_multimodal_png_decode(spark, sf_dir):
    """END-TO-END PNG decode on REAL pixel bytes (multimodal/binary.py stdlib
    zlib + numpy codec): each doc gets a solid-color PNG whose dims/colors are
    arithmetic functions of doc_id, ENCODED WITH A DIFFERENT SCANLINE FILTER
    per doc (doc_id % 5 cycles None/Sub/Up/Average/Paeth) — the decoded output
    must be filter-invariant, so the plain-arithmetic DuckDB oracle validates
    chunk walking, zlib inflate, and ALL FIVE unfilter branches at once."""
    import numpy as np
    import pandas as pd

    from etl_german_fhir_core_spark.multimodal import encode_png, extract_features

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 6 + i % 4, 5 + i % 3
                arr = np.zeros((h, w, 3), dtype=np.uint8)
                arr[..., 0] = (i * 3) % 256
                arr[..., 1] = (i * 11) % 256
                arr[..., 2] = (i * 19) % 256
                payloads.append(encode_png(arr, filter_type=i % 5))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    imgs = d.mapInPandas(gen, "doc_id long, payload binary")
    feats = extract_features(imgs)
    mean = lambda i: (F.round(F.element_at("feature", i) * 255, 0)).cast("int")
    return feats.select(
        "doc_id", "width", "height",
        mean(1).alias("mean_r"), mean(2).alias("mean_g"), mean(3).alias("mean_b"),
    )


def q_multimodal_wav_features(spark, sf_dir):
    """END-TO-END audio decode on REAL PCM samples (multimodal/audio.py pure
    struct/numpy WAV codec): each doc gets a constant-amplitude 16-bit PCM
    payload whose rate/length/channels/amplitude are arithmetic functions of
    doc_id; constant signals make mean and RMS exact in int16 full-scale
    units, so a plain-arithmetic DuckDB SELECT fully oracles the RIFF chunk
    walk, sample decode, and feature math (a byte-order or channel-interleave
    bug fails the hash)."""
    import numpy as np
    import pandas as pd

    from etl_german_fhir_core_spark.multimodal import (
        encode_wav,
        extract_audio_features,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                rate = 8000 + (i % 5) * 1000
                n = 800 + (i % 7) * 100
                ch = 1 + i % 2
                a = ((i * 37) % 30000) - 15000
                payloads.append(encode_wav(np.full((n, ch), a, np.int16), rate))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    wavs = d.mapInPandas(gen, "doc_id long, payload binary")
    feats = extract_audio_features(wavs)
    scaled = lambda i: (F.round(F.element_at("feature", i) * 32768, 0)).cast("int")
    return feats.select(
        "doc_id", "sample_rate", "n_samples", "n_channels",
        scaled(1).alias("mean_i"), scaled(2).alias("rms_i"),
    )


def q_multimodal_video_frames(spark, sf_dir):
    """END-TO-END video frame sampling on REAL pixel data (multimodal/video.py
    pure-numpy Y4M codec): each doc gets a YUV4MPEG2 stream of solid-GRAY
    frames — full-range BT.601 is exactly lossless on R=G=B, so the sampled
    frames' means are pure arithmetic in (doc_id, frame_idx) and a DuckDB
    range() unnest oracles the probe, the every-Nth sampling plan, AND the
    YUV420→RGB conversion (a plane-order or chroma-siting bug fails the hash)."""
    import numpy as np
    import pandas as pd

    from etl_german_fhir_core_spark.multimodal import encode_y4m, sample_video_frames

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                nf = 3 + i % 5
                w, h = 16 + (i % 3) * 2, 8 + (i % 2) * 2
                frames = [
                    np.full((h, w, 3), (i * 17 + k * 29) % 256, np.uint8)
                    for k in range(nf)
                ]
                payloads.append(encode_y4m(frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    vids = d.mapInPandas(gen, "doc_id long, payload binary")
    out = sample_video_frames(vids, every_n=2)
    return out.select(
        "doc_id", "frame_idx", "width", "height", "n_frames",
        (F.round(F.element_at("feature", 1) * 255, 0)).cast("int").alias("gray"),
    )


# --------------------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: LWW-compacted CDC final state on sf0.001."""
    return q_cdc_lww_final_state(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_lww_final_state": q_cdc_lww_final_state,
        "cdc_tombstoned_keys": q_cdc_tombstoned_keys,
        "cdc_epoch_window_scan": q_cdc_epoch_window_scan,
        "cdc_conflict_stats": q_cdc_conflict_stats,
        "cdc_lineage_rollup": q_cdc_lineage_rollup,
        "cdc_snapshot_diff": q_cdc_snapshot_diff,
        "cdc_rename_final_state": q_cdc_rename_final_state,
        "cdc_changefeed_sync": q_cdc_changefeed_sync,
        "cdc_changefeed_agg": q_cdc_changefeed_agg,
        "cdc_changefeed_minmax": q_cdc_changefeed_minmax,
        "cdc_mor_final_state": q_cdc_mor_final_state,
        "cdc_rollup_final_state": q_cdc_rollup_final_state,
        "mapper_normalize_project": q_mapper_normalize_project,
        "mapper_validity_filter": q_mapper_validity_filter,
        "mapper_date_arithmetic": q_mapper_date_arithmetic,
        "mapper_conditional_concept": q_mapper_conditional_concept,
        "mapper_code_explode": q_mapper_code_explode,
        "mapper_tz_anchor": q_mapper_tz_anchor,
        "mapper_absent_unwrap": q_mapper_absent_unwrap,
        "surrogate_id_dense": q_surrogate_id_dense,
        "join_concept_lookup": q_join_concept_lookup,
        "join_lookup_default": q_join_lookup_default,
        "join_temporal_validity": q_join_temporal_validity,
        "join_reference_person": q_join_reference_person,
        "join_pairing_reciprocal": q_join_pairing_reciprocal,
        "join_vocab_materialized": q_join_vocab_materialized,
        "era_islands": q_era_islands,
        "era_stockpile": q_era_stockpile,
        "era_ingredient_rollup": q_era_ingredient_rollup,
        "jsonb_predicate_scan": q_jsonb_predicate_scan,
        "compound_pack_unpack": q_compound_pack_unpack,
        "agg_observation_period": q_agg_observation_period,
        "agg_pricing_summary": q_agg_pricing_summary,
        "topk_per_group": q_topk_per_group,
        "pivot_event_types": q_pivot_event_types,
        "grouping_sets": q_grouping_sets,
        "window_latest_per_key": q_window_latest_per_key,
        "text_token_count": q_text_token_count,
        "text_quality_score": q_text_quality_score,
        "text_lang_id": q_text_lang_id,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters_star,
        "dedup_chunk_exact": q_dedup_chunk_exact,
        "text_redact_pii": q_text_redact_pii,
        "text_contamination": q_text_contamination,
        "text_top_ngrams": q_text_top_ngrams,
        "dedup_embedding_ann": q_dedup_embedding_ann,
        "text_stopword_ratio": q_text_stopword_ratio,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "text_fingerprint": q_text_fingerprint,
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_ann_lsh": q_sim_ann_lsh,
        "sim_ann_ivf": q_sim_ann_ivf,
        "rest_paged_scan": q_rest_paged_scan,
        "rest_link_walk": q_rest_link_walk,
        "multimodal_payload_meta": q_multimodal_payload_meta,
        "multimodal_ppm_decode": q_multimodal_ppm_decode,
        "multimodal_png_decode": q_multimodal_png_decode,
        "multimodal_wav_features": q_multimodal_wav_features,
        "multimodal_video_frames": q_multimodal_video_frames,
    }


def oracle_sql() -> dict[str, str]:
    lang_scores = {}
    for lang, cues in _LANGS.items():
        parts = [
            f"(length(p) - length(replace(p, '{cue}', ''))) / {len(cue)}" for cue in cues
        ]
        lang_scores[lang] = " + ".join(parts)
    lang_case = (
        "CASE "
        + " ".join(
            f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'"
            for lang in ["de", "fr", "es", "en"]
        )
        + " ELSE 'und' END"
    )

    oracles = {
        "cdc_lww_final_state": _FEED_CTE
        + """
            SELECT conv_id, turn_idx, role, text, ts FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                           ORDER BY ts DESC, lsn DESC) AS rn
              FROM feed
            ) WHERE rn = 1 AND op <> 'D'
        """,
        # MoR storage must be semantically invisible: same LWW oracle as CoW
        "cdc_mor_final_state": _FEED_CTE
        + """
            SELECT conv_id, turn_idx, role, text, ts FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                           ORDER BY ts DESC, lsn DESC) AS rn
              FROM feed
            ) WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_tombstoned_keys": _FEED_CTE
        + """
            SELECT conv_id, turn_idx FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                           ORDER BY ts DESC, lsn DESC) AS rn
              FROM feed
            ) WHERE rn = 1 AND op = 'D'
        """,
        # the rename is metadata-only, so the oracle is the plain LWW final
        # state with the column aliased to its post-rename name
        "cdc_rename_final_state": _FEED_CTE
        + """
            SELECT conv_id, turn_idx, role AS speaker, text, ts FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                           ORDER BY ts DESC, lsn DESC) AS rn
              FROM feed
            ) WHERE rn = 1 AND op <> 'D'
        """,
        # a change-feed-fed target must CONVERGE to the source's LWW state
        "cdc_changefeed_sync": _FEED_CTE
        + """
            SELECT conv_id, turn_idx, role, text, ts FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                           ORDER BY ts DESC, lsn DESC) AS rn
              FROM feed
            ) WHERE rn = 1 AND op <> 'D'
        """,
        # the delta-maintained COUNT/SUM view must equal the direct aggregate
        # of the LWW live state (DuckDB SUM(int) is HUGEINT — cast to BIGINT)
        "cdc_changefeed_agg": _FEED_CTE
        + """
            SELECT conv_id,
                   COUNT(*) AS n_rows,
                   CAST(SUM(turn_idx) AS BIGINT) AS sum_turn
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                           ORDER BY ts DESC, lsn DESC) AS rn
              FROM feed
            ) WHERE rn = 1 AND op <> 'D'
            GROUP BY conv_id
        """,
        "cdc_changefeed_minmax": _FEED_CTE
        + """
            SELECT conv_id,
                   COUNT(*) AS n_rows,
                   CAST(SUM(turn_idx) AS BIGINT) AS sum_turn,
                   MIN(turn_idx) AS min_turn,
                   MAX(turn_idx) AS max_turn
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                           ORDER BY ts DESC, lsn DESC) AS rn
              FROM feed
            ) WHERE rn = 1 AND op <> 'D'
            GROUP BY conv_id
        """,
        "cdc_epoch_window_scan": _FEED_CTE
        + """
            SELECT op, COUNT(*) AS n_events, MIN(lsn) AS lo_lsn, MAX(lsn) AS hi_lsn
            FROM feed
            WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
            GROUP BY op
        """,
        "cdc_conflict_stats": _FEED_CTE
        + """
            SELECT conv_id, turn_idx, COUNT(*) AS n_changes
            FROM feed GROUP BY conv_id, turn_idx HAVING COUNT(*) > 1
        """,
        "cdc_lineage_rollup": _FEED_CTE
        + """
            SELECT op, COUNT(*) AS n, MIN(lsn) AS lo_lsn, MAX(lsn) AS hi_lsn,
                   COUNT(DISTINCT conv_id) AS n_convs
            FROM feed GROUP BY op
        """,
        # diff of the two LWW live states (winner lsn detects replacement) —
        # exactly what changes_between must emit from the real table/manifests
        "cdc_snapshot_diff": _FEED_CTE
        + """
            , wa AS (
              SELECT conv_id, turn_idx, role, text, ts, lsn FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                             ORDER BY ts DESC, lsn DESC) AS rn
                FROM feed WHERE lsn <= (SELECT MAX(lsn) // 2 FROM feed)
              ) WHERE rn = 1 AND op <> 'D'
            ), wb AS (
              SELECT conv_id, turn_idx, role, text, ts, lsn FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                             ORDER BY ts DESC, lsn DESC) AS rn
                FROM feed
              ) WHERE rn = 1 AND op <> 'D'
            )
            SELECT CASE WHEN a.conv_id IS NULL THEN 'I'
                        WHEN b.conv_id IS NULL THEN 'D'
                        WHEN a.lsn <> b.lsn THEN 'U' END AS op,
                   COALESCE(a.conv_id, b.conv_id) AS conv_id,
                   COALESCE(a.turn_idx, b.turn_idx) AS turn_idx,
                   CASE WHEN b.conv_id IS NULL THEN a.role ELSE b.role END AS role,
                   CASE WHEN b.conv_id IS NULL THEN a.text ELSE b.text END AS text,
                   CASE WHEN b.conv_id IS NULL THEN a.ts ELSE b.ts END AS ts,
                   CASE WHEN b.conv_id IS NULL THEN a.lsn ELSE b.lsn END AS lsn
            FROM wa a FULL OUTER JOIN wb b
              ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
            WHERE a.conv_id IS NULL OR b.conv_id IS NULL OR a.lsn <> b.lsn
        """,
        "cdc_rollup_final_state": _FEED_CTE
        + """
            , final AS (
              SELECT conv_id, ts FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                             ORDER BY ts DESC, lsn DESC) AS rn
                FROM feed
              ) WHERE rn = 1 AND op <> 'D'
            )
            SELECT conv_id, MIN(ts) AS period_start, MAX(ts) AS period_end,
                   COUNT(*) AS n_turns
            FROM final GROUP BY conv_id
        """,
        "mapper_tz_anchor": """
            SELECT event_id,
                   CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Berlin' AS TIMESTAMP) AS ts_berlin,
                   date_trunc('day', CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Berlin' AS TIMESTAMP)) AS day_berlin
            FROM events
        """,
        "mapper_absent_unwrap": """
            SELECT event_id,
                   ROUND(CASE WHEN event_type = 'error' THEN NULL ELSE value END, 6) AS value_unwrapped,
                   CASE WHEN event_type = 'error' THEN 'masked-error' ELSE NULL END AS absent_reason
            FROM events
        """,
        "join_vocab_materialized": """
            SELECT r_name, n_name, COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 4) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "mapper_normalize_project": """
            SELECT 'evt-' || CAST(event_id AS VARCHAR) AS key_prefixed,
                   substr(upper(event_type), 1, 4) AS status_code,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
            FROM events
        """,
        "mapper_validity_filter": """
            SELECT event_id, user_id, event_type, value FROM events
            WHERE event_type IN ('click','view','purchase') AND value IS NOT NULL
        """,
        "mapper_date_arithmetic": """
            SELECT event_id,
                   ts + CAST(FLOOR(value) AS INTEGER) * INTERVAL 1 SECOND AS shifted_ts,
                   date_trunc('day', ts) AS day_bucket
            FROM events
        """,
        "mapper_conditional_concept": """
            SELECT CASE WHEN event_type='click' THEN 8507
                        WHEN event_type='view' THEN 8532
                        WHEN event_type='purchase' THEN 8551 ELSE 0 END AS concept_id,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        """,
        "mapper_code_explode": """
            SELECT code_token, COUNT(*) AS n FROM (
              SELECT unnest(string_split(p_type, ' ')) AS code_token FROM part
            ) GROUP BY code_token
        """,
        "surrogate_id_dense": """
            SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS surrogate_id
            FROM documents
        """,
        "join_concept_lookup": """
            SELECT p_brand,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "join_lookup_default": """
            SELECT o_orderkey, COALESCE(is_rich, 0) AS rich_flag
            FROM orders LEFT JOIN (
              SELECT c_custkey, 1 AS is_rich FROM customer WHERE c_acctbal > 5000
            ) ON o_custkey = c_custkey
        """,
        "join_temporal_validity": """
            WITH dim AS (
              SELECT o_orderpriority AS pr,
                     MIN(o_orderdate) AS valid_from,
                     make_timestamp((epoch_us(MIN(o_orderdate)) + epoch_us(MAX(o_orderdate))) // 2) AS valid_to
              FROM orders GROUP BY o_orderpriority
            )
            SELECT o_orderpriority AS priority, COUNT(*) AS n_in_window
            FROM orders JOIN dim ON o_orderpriority = pr
                 AND o_orderdate >= valid_from AND o_orderdate <= valid_to
            GROUP BY o_orderpriority
        """,
        "join_reference_person": """
            SELECT event_id, COALESCE(c_name, 'unknown') AS person_name
            FROM events LEFT JOIN customer ON user_id = c_custkey
        """,
        "join_pairing_reciprocal": """
            WITH pairs AS (
              SELECT l1.l_orderkey AS ok, l1.l_partkey AS pk1, l2.l_partkey AS pk2
              FROM lineitem l1 JOIN lineitem l2
                ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber = 1 AND l2.l_linenumber = 2
            )
            SELECT ok AS orderkey, pk1 AS part_a, pk2 AS part_b, 'primary_of' AS relationship_id FROM pairs
            UNION ALL
            SELECT ok AS orderkey, pk2 AS part_a, pk1 AS part_b, 'secondary_of' AS relationship_id FROM pairs
        """,
        "era_islands": """
            WITH flagged AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_era
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), numbered AS (
              SELECT user_id, ts,
                     CAST(SUM(new_era) OVER (PARTITION BY user_id ORDER BY ts
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS era_id
              FROM flagged
            )
            SELECT user_id, era_id, MIN(ts) AS era_start, MAX(ts) AS era_end,
                   COUNT(*) AS n_events
            FROM numbered GROUP BY user_id, era_id
        """,
        "era_stockpile": """
            WITH base AS (
              SELECT user_id, event_id, ts,
                     ts + CAST(FLOOR(value) AS INTEGER) * INTERVAL 1 MINUTE AS end_ts
              FROM events
            ), flagged AS (
              SELECT user_id, event_id, ts, end_ts,
                     CASE WHEN MAX(end_ts) OVER w IS NULL
                          OR epoch_us(ts) > epoch_us(MAX(end_ts) OVER w) + 1800000000
                          THEN 1 ELSE 0 END AS new_era
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ), numbered AS (
              SELECT user_id, ts, end_ts,
                     CAST(SUM(new_era) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS era_id
              FROM flagged
            )
            SELECT user_id, era_id, MIN(ts) AS era_start, MAX(end_ts) AS era_end,
                   COUNT(*) AS n_events
            FROM numbered GROUP BY user_id, era_id
        """,
        "era_ingredient_rollup": """
            WITH concept AS (
              SELECT DISTINCT event_type, length(event_type) AS mid FROM events
            ), ancestor AS (
              SELECT DISTINCT mid, 'grp-' || CAST(mid AS VARCHAR) AS anc FROM concept
            ), j AS (
              SELECT e.user_id, a.anc, e.ts
              FROM events e
              JOIN concept c ON e.event_type = c.event_type
              JOIN ancestor a ON c.mid = a.mid
            ), flagged AS (
              SELECT user_id, anc, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_era
              FROM j
              WINDOW w AS (PARTITION BY user_id, anc ORDER BY ts)
            ), numbered AS (
              SELECT user_id, anc, ts,
                     CAST(SUM(new_era) OVER (PARTITION BY user_id, anc ORDER BY ts
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS era_id
              FROM flagged
            )
            SELECT user_id, anc, era_id, MIN(ts) AS era_start, MAX(ts) AS era_end,
                   COUNT(*) AS n_events
            FROM numbered GROUP BY user_id, anc, era_id
        """,
        "jsonb_predicate_scan": """
            SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) % 2 = 0
                        THEN 'einrichtungskontakt' ELSE 'abteilungskontakt' END AS contact_level,
                   event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "compound_pack_unpack": """
            SELECT event_id,
                   event_type || ';' || CAST(user_id AS VARCHAR) AS data_one,
                   string_split(event_type || ';' || CAST(user_id AS VARCHAR), ';')[1] AS unpacked_type
            FROM events
        """,
        "agg_observation_period": """
            SELECT user_id, MIN(ts) AS period_start, MAX(ts) AS period_end,
                   COUNT(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 4) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   ROUND(AVG(l_extendedprice), 6) AS avg_price,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "topk_per_group": """
            SELECT p_brand, l_orderkey, l_linenumber, rev, CAST(rk AS INTEGER) AS rk FROM (
              SELECT p_brand, l_orderkey, l_linenumber,
                     ROUND(l_extendedprice * (1 - l_discount), 4) AS rev,
                     ROW_NUMBER() OVER (PARTITION BY p_brand
                                        ORDER BY ROUND(l_extendedprice * (1 - l_discount), 4) DESC,
                                                 l_orderkey, l_linenumber) AS rk
              FROM lineitem JOIN part ON l_partkey = p_partkey
            ) WHERE rk <= 3
        """,
        "pivot_event_types": """
            SELECT date_trunc('week', ts) AS week,
                   COUNT(*) FILTER (event_type = 'click') AS n_click,
                   COUNT(*) FILTER (event_type = 'view') AS n_view,
                   COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
                   COUNT(*) FILTER (event_type = 'signup') AS n_signup,
                   COUNT(*) FILTER (event_type = 'error') AS n_error
            FROM events GROUP BY 1
        """,
        "grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        "window_latest_per_key": """
            SELECT user_id, event_type, event_id, ts FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "text_token_count": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[\w]+|[^\w\s]')) AS INTEGER) AS n_tokens
            FROM documents
        """,
        "text_quality_score": r"""
            SELECT doc_id,
                   CAST(ROUND((
                     (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)) * 0.7
                     + (1.0 - LEAST(length(regexp_replace(text, '[^\.,;:!\?]', '', 'g')) * 1.0
                                    / length(text) * 5.0, 1.0)) * 0.3
                   ) * 1e6) AS BIGINT) AS quality_micro
            FROM documents WHERE length(text) > 0
            UNION ALL
            SELECT doc_id, 0 AS quality_micro FROM documents
            WHERE length(text) = 0 OR text IS NULL
        """,
        "text_lang_id": f"""
            WITH padded AS (
              SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents
            ), scored AS (
              SELECT doc_id,
                     {', '.join(f'{expr} AS s_{lang}' for lang, expr in lang_scores.items())}
              FROM padded
            ), best AS (
              SELECT doc_id, s_de, s_fr, s_es, s_en,
                     GREATEST(s_de, s_fr, s_es, s_en) AS best
              FROM scored
            )
            SELECT doc_id, {lang_case} AS lang_guess FROM best
        """,
        "dedup_exact": f"""
            SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
            FROM (SELECT doc_id, {_NORM_DOC} AS content_key FROM documents)
            GROUP BY content_key
        """,
        "dedup_ngram_jaccard": f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_DOC}, ' ') AS w FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM norm, UNNEST(range(1, GREATEST(len(w) - 1, 1))) AS t(i)
              WHERE len(w) >= 3
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
              FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id1, id2,
                   ROUND(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes s1 ON s1.doc_id = id1
            JOIN sizes s2 ON s2.doc_id = id2
            WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.5
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE norm AS (
              SELECT doc_id, string_split({_NORM_DOC}, ' ') AS w FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM norm, UNNEST(range(1, GREATEST(len(w) - 1, 1))) AS t(i)
              WHERE len(w) >= 3
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
              FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ), pairs AS (
              SELECT id1, id2 FROM inter
              JOIN sizes s1 ON s1.doc_id = id1
              JOIN sizes s2 ON s2.doc_id = id2
              WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.5
            ), edges AS (
              SELECT id1 AS a, id2 AS b FROM pairs
              UNION
              SELECT id2 AS a, id1 AS b FROM pairs
            ), reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            )
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
            FROM reach GROUP BY a
        """,
        "text_stopword_ratio": f"""
            WITH norm AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n,
                     ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS p
              FROM documents
            )
            SELECT doc_id,
                   CAST(ROUND(
                     CASE WHEN len(string_split(n, ' ')) > 0 THEN
                       ({' + '.join(f"(length(p) - length(replace(p, ' {w} ', ' '))) / {len(w) + 1}.0" for w in _STOPWORDS)})
                       / len(string_split(n, ' '))
                     ELSE 0 END * 1e6
                   ) AS BIGINT) AS stopword_ratio_micro
            FROM norm
        """,
        "dedup_embedding_cosine": """
            SELECT id1, id2, cos_sim FROM (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                     ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                  CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            ) WHERE cos_sim >= 0.4
        """,
        "sim_cosine_topk": """
            SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, CAST(rank AS INTEGER) AS rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                                                 c.vec_id) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 5
            ) WHERE rank <= 3
        """,
        "multimodal_payload_meta": """
            SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes
            FROM documents
        """,
        "text_fingerprint": f"""
            SELECT doc_id, md5({_NORM_DOC}) AS fingerprint FROM documents
        """,
        "rest_paged_scan": """
            SELECT doc_id, text FROM documents
        """,
        "rest_link_walk": """
            SELECT doc_id, text FROM documents
        """,
        "text_redact_pii": """
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com via https://ex.example/p/'
                            || CAST(doc_id AS VARCHAR)
                            || '?x=1 or call +1 555 010 '
                            || CAST(doc_id AS VARCHAR),
                       'https?://[^\\s]+', '<URL>', 'g'),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                       '<EMAIL>', 'g'),
                       '(\\+[0-9][0-9\\- ]{5,14}[0-9])|(\\([0-9]{2,5}\\)[\\- ]?[0-9][0-9\\- ]{3,12}[0-9])|([0-9]{2,5}(-[0-9]{2,6}){1,4})', '<PHONE>', 'g') AS text
            FROM documents
        """,
        "text_contamination": f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_DOC}, ' ') AS w FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                          || ' ' || w[i+4] AS shingle
              FROM norm, UNNEST(range(1, GREATEST(len(w) - 3, 1))) AS t(i)
              WHERE len(w) >= 5
            ), bench AS (
              SELECT DISTINCT shingle FROM grams WHERE doc_id % 20 = 0
            )
            SELECT g.doc_id, COUNT(*) AS n_shingles,
                   COUNT(b.shingle) AS n_contaminated,
                   ROUND(COUNT(b.shingle) * 1.0 / COUNT(*), 6) AS contamination_rate
            FROM (SELECT * FROM grams WHERE doc_id % 20 <> 0) g
            LEFT JOIN bench b ON g.shingle = b.shingle
            GROUP BY g.doc_id
        """,
        "dedup_chunk_exact": f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_DOC}, ' ') AS w FROM documents
            ), chunks AS (
              SELECT doc_id,
                     array_to_string(w[ci*10+1 : ci*10+10], ' ') AS chunk
              FROM norm,
                   UNNEST(range(0, CAST(CEIL(len(w) / 10.0) AS INT))) AS t(ci)
            )
            SELECT chunk, MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
            FROM chunks GROUP BY chunk HAVING COUNT(*) >= 2
        """,
        "text_top_ngrams": f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_DOC}, ' ') AS w FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM norm, UNNEST(range(1, GREATEST(len(w) - 1, 1))) AS t(i)
              WHERE len(w) >= 3
            )
            SELECT shingle, COUNT(*) AS doc_freq FROM grams
            GROUP BY shingle ORDER BY doc_freq DESC, shingle LIMIT 20
        """,
        # the PPM payloads are solid-color images whose dims/colors are pure
        # arithmetic in doc_id — decoding real bytes must recover them exactly
        "multimodal_ppm_decode": """
            SELECT doc_id,
                   CAST(8 + doc_id % 5 AS INTEGER) AS width,
                   CAST(6 + doc_id % 3 AS INTEGER) AS height,
                   CAST(doc_id % 256 AS INTEGER) AS mean_r,
                   CAST((doc_id * 7) % 256 AS INTEGER) AS mean_g,
                   CAST((doc_id * 13) % 256 AS INTEGER) AS mean_b
            FROM documents
        """,
        # PNG payloads: solid colors, but a DIFFERENT scanline filter per doc
        # (doc_id % 5) — decoding must be filter-invariant, so this one oracle
        # validates all five unfilter branches plus zlib inflate + chunk walk
        "multimodal_png_decode": """
            SELECT doc_id,
                   CAST(6 + doc_id % 4 AS INTEGER) AS width,
                   CAST(5 + doc_id % 3 AS INTEGER) AS height,
                   CAST((doc_id * 3) % 256 AS INTEGER) AS mean_r,
                   CAST((doc_id * 11) % 256 AS INTEGER) AS mean_g,
                   CAST((doc_id * 19) % 256 AS INTEGER) AS mean_b
            FROM documents
        """,
        # constant-amplitude PCM: mean == amplitude, RMS == |amplitude| (both
        # exact in int16 full-scale units), rate/shape pure arithmetic
        "multimodal_wav_features": """
            SELECT doc_id,
                   CAST(8000 + (doc_id % 5) * 1000 AS INTEGER) AS sample_rate,
                   CAST(800 + (doc_id % 7) * 100 AS INTEGER) AS n_samples,
                   CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
                   CAST((doc_id * 37) % 30000 - 15000 AS INTEGER) AS mean_i,
                   CAST(ABS((doc_id * 37) % 30000 - 15000) AS INTEGER) AS rms_i
            FROM documents
        """,
        # solid-gray Y4M frames roundtrip EXACTLY through full-range BT.601
        # YUV420, so every-2nd-frame sampling is a range() unnest and the
        # sampled mean is arithmetic in (doc_id, frame_idx)
        "multimodal_video_frames": """
            SELECT doc_id,
                   CAST(fi AS INTEGER) AS frame_idx,
                   CAST(16 + (doc_id % 3) * 2 AS INTEGER) AS width,
                   CAST(8 + (doc_id % 2) * 2 AS INTEGER) AS height,
                   CAST(3 + doc_id % 5 AS INTEGER) AS n_frames,
                   CAST((doc_id * 17 + fi * 29) % 256 AS INTEGER) AS gray
            FROM documents, UNNEST(range(0, 3 + doc_id % 5, 2)) AS t(fi)
        """,
        # dedup_minhash_lsh's VERIFIED output is exact Jaccard on LSH candidates;
        # at the contract band configuration recall is 1.0 on this corpus, so the
        # exact-Jaccard pair SQL is its oracle (any recall loss would surface as a
        # row-count mismatch — the check is strict, not circular).
        "dedup_minhash_lsh": f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_DOC}, ' ') AS w FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM norm, UNNEST(range(1, GREATEST(len(w) - 1, 1))) AS t(i)
              WHERE len(w) >= 3
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
              FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id1, id2,
                   ROUND(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes s1 ON s1.doc_id = id1
            JOIN sizes s2 ON s2.doc_id = id2
            WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.5
        """,
        # ANN oracles: at the contract configurations the approximate result
        # PROVABLY (ivf: nprobe == n_centroids) or empirically-deterministically
        # (lsh: 4-table union, seed-fixed hyperplanes) equals brute-force top-k,
        # whose SQL DuckDB computes exactly.
        "sim_ann_ivf": """
            SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, CAST(rank AS INTEGER) AS rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                                                 c.vec_id) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 5
            ) WHERE rank <= 3
        """,
        "sim_ann_lsh": """
            SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, CAST(rank AS INTEGER) AS rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                                                 c.vec_id) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 5
            ) WHERE rank <= 3
        """,
    }
    # dedup_simhash (md5 basis): the bit-vote IS expressible in DuckDB — bit b of
    # each shingle's contribution is bit (b%4) of hex digit (b//4) of
    # md5(shingle); signature bit b is set iff the ±1 vote sum is positive. The
    # 64 vote sums and the signed-64-bit assembly (bit 63 = -2^63) are generated
    # here; bucket = unsigned >> 48, written as (sig >> 48) & 65535 (identical
    # under arithmetic or logical shift after the mask).
    _vote_terms = ",\n                   ".join(
        "SUM(CASE WHEN ((strpos('0123456789abcdef', substr(m, "
        f"{b // 4 + 1}, 1)) - 1) >> {b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    _sig_terms = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({2**b if b < 63 else -(2**63)} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
        for b in range(64)
    )
    oracles["dedup_simhash"] = f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_DOC}, ' ') AS w FROM documents
            ), grams AS (
              SELECT DISTINCT doc_id,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM norm, UNNEST(range(1, GREATEST(len(w) - 1, 1))) AS t(i)
              WHERE len(w) >= 3
            ), digs AS (
              SELECT doc_id, md5(shingle) AS m FROM grams
            ), votes AS (
              SELECT doc_id,
                   {_vote_terms}
              FROM digs GROUP BY doc_id
            ), sig AS (
              SELECT doc_id AS doc, CAST({_sig_terms} AS BIGINT) AS simhash
              FROM votes
            )
            SELECT doc, simhash, CAST((simhash >> 48) & 65535 AS BIGINT) AS bucket
            FROM sig
        """
    # star-contraction clusters resolve the same components as label propagation —
    # one recursive-CTE oracle serves both
    oracles["dedup_clusters_star"] = oracles["dedup_clusters"]
    # IVF-candidate + exact-verify pairs equal the all-pairs baseline at the
    # contract nprobe — one all-pairs cosine oracle serves both
    oracles["dedup_embedding_ann"] = oracles["dedup_embedding_cosine"]
    # simhash candidates + exact-Jaccard verify equal the exact pair query at
    # the contract rotation config — the minhash oracle serves it too
    oracles["dedup_simhash_pairs"] = oracles["dedup_minhash_lsh"]
    return oracles


if __name__ == "__main__":
    from etl_german_fhir_core_spark.session import get_spark

    s = get_spark("entry-smoke", master="local[8]")
    df = entry(s)
    df.show(5, truncate=False)
    print("rows:", df.count())
