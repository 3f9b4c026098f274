"""spark-submit entry point: tail a SnapshotTable's change feed downstream.

Two consumer modes over the same exactly-once machinery
(streaming/changefeed.py — one covering snapshot diff per sync, ledgered
cdf-<n> epochs, durable store-blob position):

  replica  apply each diff to a same-schema target table (Delta-CDF replica)
  agg      maintain a delta-folded aggregate view (COUNT always; SUM via
           --sum out=src; MIN/MAX via --min/--max out=src — extremes use
           dirty-group re-aggregation, see AggFeedSync)

Usage:
  spark-submit --py-files engine.zip jobs/changefeed_job.py \
      --source /path/src_table --target /path/tgt_table --state /path/state \
      --mode replica [--once | --ticks N --trigger-seconds S]
  spark-submit ... --mode agg --group-cols conv_id \
      --sum sum_turn=turn_idx --min min_turn=turn_idx --max max_turn=turn_idx

--once runs a single sync_once() and exits (cron-style); otherwise a
rate-clock streaming query drives sync_once per trigger for --ticks triggers.
Restartable: position lives in the state blob, application in the target's
ledger — re-submitting after a kill resumes exactly once. Prints one JSON
line with the applied snapshot ids, the target commits they cost and the
final position.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import types as T


def _kv(spec: str) -> tuple[str, str]:
    out, _, src = spec.partition("=")
    if not out or not src:
        raise argparse.ArgumentTypeError(f"expected OUT=SRC, got {spec!r}")
    return out, src


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True)
    ap.add_argument("--target", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--mode", choices=["replica", "agg"], default="replica")
    ap.add_argument("--bootstrap", action="store_true",
                    help="replica mode: re-seed from current state when the "
                         "position is behind the source's vacuum window "
                         "(agg mode always bootstraps)")
    ap.add_argument("--group-cols", default="conv_id",
                    help="agg mode: comma-separated group columns "
                         "(= the target table's key columns)")
    ap.add_argument("--sum", type=_kv, action="append", default=[],
                    metavar="OUT=SRC")
    ap.add_argument("--min", type=_kv, action="append", default=[],
                    metavar="OUT=SRC")
    ap.add_argument("--max", type=_kv, action="append", default=[],
                    metavar="OUT=SRC")
    ap.add_argument("--num-buckets", type=int, default=16,
                    help="bucket count when the job creates the target")
    ap.add_argument("--once", action="store_true",
                    help="one sync_once() then exit (cron-style)")
    ap.add_argument("--ticks", type=int, default=5,
                    help="streaming mode: stop after this many triggers")
    ap.add_argument("--trigger-seconds", type=int, default=1)
    args = ap.parse_args()

    from etl_german_fhir_core_spark.lake import SnapshotTable
    from etl_german_fhir_core_spark.streaming import AggFeedSync, ChangeFeedSync

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    src = SnapshotTable.load(spark, args.source)
    group_cols = [c.strip() for c in args.group_cols.split(",") if c.strip()]

    if SnapshotTable.exists(args.target):
        tgt = SnapshotTable.load(spark, args.target)
    elif args.mode == "replica":
        tgt = SnapshotTable.create(
            spark, args.target, src.schema(), src.key_cols(),
            num_buckets=args.num_buckets,
        )
    else:
        # derive the agg view's schema from the configured aggregates: the
        # group columns keep their source types; n_rows/sums are long;
        # min/max keep the source column's type
        sf = {f.name: f for f in src.schema()}
        fields = [T.StructField(c, sf[c].dataType, sf[c].nullable)
                  for c in group_cols]
        fields.append(T.StructField("n_rows", T.LongType(), True))
        fields += [T.StructField(out, T.LongType(), True)
                   for out, _ in args.sum]
        fields += [T.StructField(out, sf[s].dataType, True)
                   for out, s in [*args.min, *args.max]]
        tgt = SnapshotTable.create(
            spark, args.target, T.StructType(fields), group_cols,
            num_buckets=args.num_buckets,
        )

    if args.mode == "replica":
        sync = ChangeFeedSync(src, tgt, args.state, bootstrap=args.bootstrap)
    else:
        sync = AggFeedSync(
            src, tgt, args.state, group_cols=group_cols,
            sum_cols=dict(args.sum), min_cols=dict(args.min),
            max_cols=dict(args.max),
        )

    tgt_sid0 = tgt.current_snapshot_id()
    t0 = time.time()
    if args.once:
        applied = sync.sync_once()
    else:
        applied = []
        q = sync.stream(spark, trigger_seconds=args.trigger_seconds)
        try:
            deadline = time.time() + args.ticks * max(args.trigger_seconds, 1) + 10
            while time.time() < deadline and sync.position() < src.current_snapshot_id():
                time.sleep(0.5)
        finally:
            q.stop()
    print(json.dumps({
        "mode": args.mode,
        "applied": applied,
        # target snapshots this run committed: 1 per sync (2 with a /mm
        # re-aggregation), whatever the number of source commits applied
        "target_commits": tgt.current_snapshot_id() - tgt_sid0,
        "position": sync.position(),
        "source_head": src.current_snapshot_id(),
        "target_rows": tgt.read().count(),
        "elapsed_sec": round(time.time() - t0, 2),
    }))


if __name__ == "__main__":
    main()
