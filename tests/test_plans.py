"""Plan-shape regression tests: broadcast joins stay broadcast, filters push down,
the CDC apply path keeps its shuffle budget."""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import functions as F

from etl_german_fhir_core_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    pushed_filters,
    uses_whole_stage_codegen,
)


def test_concept_lookup_broadcasts(spark, tmp_path):
    fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
    spark.range(1000).select(
        (F.col("id") % 10).alias("code"), F.col("id").alias("v")
    ).write.parquet(fact_p)
    spark.range(10).select(
        F.col("id").alias("code"), (F.col("id") * 100).alias("concept")
    ).write.parquet(dim_p)
    from etl_german_fhir_core_spark.operators import concept_lookup

    out = concept_lookup(spark.read.parquet(fact_p), spark.read.parquet(dim_p), ["code"])
    assert has_broadcast_join(out)
    assert uses_whole_stage_codegen(out)


def test_feed_scan_pushes_lsn_filter(spark, tmp_path):
    p = str(tmp_path / "feed")
    spark.range(10_000).select(
        F.col("id").alias("lsn"),
        F.lit("x").alias("text"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    ).write.parquet(p)
    from etl_german_fhir_core_spark.sources import parquet_feed

    df = parquet_feed(spark, p, lo_lsn=100, hi_lsn=200).select("lsn")
    filters = pushed_filters(df)
    assert any("lsn" in f for f in filters), filters
    # column pruning: text never read
    from etl_german_fhir_core_spark.plans import explain_str

    assert "text" not in "".join(re.findall(r"ReadSchema: [^\n]*", explain_str(df)))


def test_merge_resolution_shuffle_budget(spark, tmp_path, monkeypatch):
    """The LWW resolution plan must cost exactly one hash-partition exchange
    (the groupBy on the key) — a second exchange before the window/sort would
    double the epoch's network cost at scale. The same budget holds for the
    frame every table write path hands to its staging write: the clustering
    exchange also serves the resolution aggregate, salted or not."""
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
        spark, str(tmp_path / "t"), schema, ["conv_id", "turn_idx"], num_buckets=4
    )
    batch = spark.createDataFrame(
        [("I", 1, "c1", 0, "hello", dt.datetime(2025, 1, 1))],
        "op string, lsn long, conv_id string, turn_idx int, text string, ts timestamp",
    )
    tbl.merge(batch, epoch_id="1")
    # re-merge path: existing ∪ batch → groupBy max_by; the resolution
    # aggregate alone costs one exchange
    batch2 = batch.withColumn("lsn", F.lit(2).cast("long"))
    from etl_german_fhir_core_spark.lake.table import BUCKET_COL, _bucket_expr

    combined_plan = (
        batch2.withColumn(BUCKET_COL, _bucket_expr("conv_id", 4))
        .groupBy("conv_id", "turn_idx")
        .agg(F.max_by(F.struct("text"), F.struct("ts", "lsn")).alias("w"))
    )
    assert count_exchanges(combined_plan) == 1

    # every frame a table write hands to DataFrame.write, captured per call
    # (patched on the concrete session DataFrame class, which defines write)
    written: list = []
    frame_cls = type(batch)
    write = frame_cls.write
    monkeypatch.setattr(
        frame_cls, "write",
        property(lambda df: (written.append(df), write.fget(df))[1]),
    )

    def exchanges_of_write(op) -> int:
        written.clear()
        op()
        assert len(written) == 1  # one staging write per commit
        return count_exchanges(written[0])

    # eight conversations over several buckets: a write into a single
    # bucket would plan its exchange as SinglePartition
    convs = [f"c{i}" for i in range(8)]
    wide = spark.createDataFrame(
        [("U", 2, c, 0, "again", dt.datetime(2025, 1, 2)) for c in convs],
        "op string, lsn long, conv_id string, turn_idx int, text string, ts timestamp",
    )

    def mk(name, **kw):
        t = SnapshotTable.create(
            spark, str(tmp_path / name), schema, ["conv_id", "turn_idx"],
            num_buckets=4, **kw,
        )
        t.merge(wide.withColumn("lsn", F.lit(1).cast("long")), epoch_id="1")
        return t

    cow, salted, mor = mk("cow"), mk("salted", files_per_bucket=4), mk(
        "mor", merge_mode="mor"
    )
    assert exchanges_of_write(lambda: cow.merge(wide, epoch_id="2")) == 1
    assert exchanges_of_write(lambda: salted.merge(wide, epoch_id="2")) == 1
    assert exchanges_of_write(lambda: mor.merge(wide, epoch_id="2")) == 1
    # the scope keys come from a frame the planner sizes as small, so the
    # anti-join broadcasts them; a large key set sort-merge joins instead
    keys = spark.range(8).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id")
    )
    assert exchanges_of_write(
        lambda: cow.merge_replace_keys(
            wide.select("conv_id", "turn_idx", F.lit("replaced").alias("text"), "ts"),
            keys,
            epoch_id="r",
        )
    ) == 1
    assert exchanges_of_write(
        lambda: cow.delete_where(F.col("text") == "gone", epoch_id="d")
    ) == 1
    # bulk overwrite resolves LWW like merge: the winner aggregate reuses the
    # clustering exchange (no window exchange + sort ahead of it)
    assert exchanges_of_write(lambda: cow.overwrite(wide, epoch_id="b")) == 1
    assert exchanges_of_write(lambda: salted.overwrite(wide, epoch_id="b")) == 1
    agg = SnapshotTable.create(
        spark, str(tmp_path / "agg"),
        T.StructType([
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("n", T.LongType(), True),
        ]),
        ["conv_id"], num_buckets=4,
    )
    rows = wide.select("conv_id", F.lit(1).cast("long").alias("n"))
    agg.merge_agg(rows, {"n": "sum"}, epoch_id="1")
    assert exchanges_of_write(
        lambda: agg.merge_agg(rows, {"n": "sum"}, epoch_id="2")
    ) == 1
    assert sorted((r["conv_id"], r["n"]) for r in agg.read().collect()) == [
        (c, 2) for c in convs
    ]


def test_jdbc_paged_scan_roundtrip_derby(spark):
    """S1 executed for real: embedded Derby (ships with Spark) seeded over JDBC,
    read back through jdbc_paged with partition-column bounds — the keyset-paging
    analog (TaskConfiguration.java:256-274). Asserts both the data and the
    parallel-scan shape (one partition per id range)."""
    from etl_german_fhir_core_spark.sources.readers import jdbc_paged

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection("jdbc:derby:memory:s1db;create=true")
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE events_src (id INT PRIMARY KEY, name VARCHAR(20))")
    for i in range(100):
        st.executeUpdate(f"INSERT INTO events_src VALUES ({i}, 'n{i}')")
    st.close()
    conn.close()  # in-memory db lives for the JVM's lifetime

    df = jdbc_paged(
        spark, "jdbc:derby:memory:s1db", "events_src", "id", 0, 100, 4,
        properties={"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"},
    )
    assert df.rdd.getNumPartitions() == 4  # bounds → 4 parallel range scans
    rows = {r["ID"] if "ID" in df.columns else r["id"]: r[df.columns[1]] for r in df.collect()}
    assert len(rows) == 100 and rows[42] == "n42"


def test_round2_query_plan_shapes(spark):
    """Plan regressions for the round-2 driver queries: dim joins stay broadcast,
    scalar mappers stay map-only (zero exchanges) with column-pruned scans, the
    LWW flagship costs exactly one hash exchange."""
    import __spark_entry__ as E
    from etl_german_fhir_core_spark.plans import (
        count_exchanges,
        explain_str,
        has_broadcast_join,
    )

    sf = "/root/testdata/sf0.001"
    qs = E.queries()

    vocab = qs["join_vocab_materialized"](spark, sf)
    assert has_broadcast_join(vocab)
    assert count_exchanges(vocab) <= 1  # only the final groupBy

    tz = qs["mapper_tz_anchor"](spark, sf)
    assert count_exchanges(tz) == 0  # pure map, session-TZ-independent
    rs = "".join(explain_str(tz).split("ReadSchema:")[1:])
    assert "event_id" in rs and "props" not in rs  # payload column pruned

    lww = qs["cdc_lww_final_state"](spark, sf)
    assert count_exchanges(lww) == 1  # single hash-agg exchange, no sort window

    sid = qs["surrogate_id_dense"](spark, sf)
    assert "SinglePartition" not in explain_str(sid, "simple")


def test_similarity_kernels_are_arrow_vectorized(spark):
    """The similarity family's hot kernels must run as Arrow-batched pandas/
    mapInPandas nodes (ArrowEvalPython / MapInPandas), NEVER row-at-a-time
    Python (BatchEvalPython) and never interpreted per-element HOF lambdas
    (aggregate/zip_with in the plan) — the r02 scale-killer this locks out."""
    import __spark_entry__ as E
    from etl_german_fhir_core_spark.plans import explain_str

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    for name in ("sim_cosine_topk", "sim_ann_lsh", "sim_ann_ivf"):
        plan = explain_str(qs[name](spark, sf), "simple")
        assert "BatchEvalPython" not in plan, name  # no per-row Python
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan, name
        assert "aggregate(" not in plan and "zip_with(" not in plan, name


def test_dedup_verify_runs_no_per_pair_python(spark):
    """MinHash and SimHash verify their candidates in the JVM (a pair join to
    the shingle-hash sets + array_intersect): the MinHash plan carries no
    Python node at all, and the SimHash plan exactly one MapInPandas — its
    candidate kernel. A per-pair Python verify (the CIDR'22 anti-pattern)
    would add a MapInPandas to each."""
    from etl_german_fhir_core_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from etl_german_fhir_core_spark.plans import explain_str

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mh = explain_str(
        minhash_lsh_pairs(d, "doc_id", "text", n=3, bands=8, verify_threshold=0.5),
        "simple",
    )
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in mh, node
    sh = explain_str(simhash_pairs(d, "doc_id", "text", n=3, verify_threshold=0.5), "simple")
    assert sh.count("MapInPandas") == 1
