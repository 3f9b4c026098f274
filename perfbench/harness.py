"""One workload in one process: set-up, measurement, correctness gate.

Started by perfbench/run.py, which prepares the environment (PYTHONPATH,
driver memory, scratch directories inside the checkout) and watches it.

Set-up (``setup_s``) = Spark session start + input preparation + the warm-up
calls. The untraced run then measures for ``--seconds``. The traced run
(``--trace 1``) measures twice, untraced and then traced, for ``--seconds``
each: the per-layer metrics come from the traced window, and the ratio of the
two windows' median loop iterations is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback
from types import SimpleNamespace

pc = time.perf_counter

# The result's end-to-end metrics, which carry the bounds: every workload
# reports every one. The only timing is CPU seconds of the process tree per
# thousand input events: on a shared machine it repeats where wall times do
# not (perfbench/README.md). The report prints the wall times beside it.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_kevent": "s/kevent",
    "bytes_written_per_event": "B/event",
}
# every figure the report prints by name, with its unit
FIGURE_UNITS = {
    "setup_s": "s", "events_per_s": "events/s", "epoch_p50_s": "s",
    "epoch_tail_s": "s", "sync_p50_s": "s", "replica_freshness_p50_s": "s",
    "replica_read_s": "s", "bytes_written_per_event": "B/event",
    "stored_bytes_per_live_row": "B/row", "ngram_jaccard_s": "s",
    "minhash_lsh_s": "s", "simhash_pairs_s": "s", "dedup_clusters_s": "s",
    "recall_vs_exact.minhash_lsh": "fraction",
    "recall_vs_exact.simhash_pairs": "fraction", "peak_rss_mb": "MB",
    "epoch_cpu_s": "s", "sync_cpu_s": "s", "replica_read_cpu_s": "s",
    "ngram_jaccard_cpu_s": "s", "minhash_lsh_cpu_s": "s", "simhash_pairs_cpu_s": "s",
    "dedup_clusters_cpu_s": "s", "cpu_s_per_kevent": "s/kevent",
}
OPS = ("ngram_jaccard", "minhash_lsh", "simhash_pairs", "dedup_clusters")
PER_LAYER = {
    "cdc.apply_epoch_s": "s",
    "cdc.self_s": "s",
    "cdc.spark_jobs_per_epoch": "count",
    "cdc.plan_epochs_s": "s",
    "cdc.useful_ratio": "fraction",
    "cdc.conflict_ratio": "fraction",
    "lake.overwrite_s": "s",
    "lake.merge.cow_s": "s",
    "lake.merge.spark_jobs": "count",
    "lake.merge.shuffle_write_bytes": "B",
    "lake.merge.touched_bucket_frac": "fraction",
    "lake.merge.staged_bytes_per_event": "B/event",
    "lake.merge.mor_s": "s",
    "lake.merge_agg_s": "s",
    "lake.merge_replace_keys_s": "s",
    "lake.changes_between_s": "s",
    "lake.changes_between.input_bytes": "B",
    "lake.changes_between.rows": "count",
    "lake.read.mor_s": "s",
    "streaming.replica.sync_once_s": "s",
    "streaming.agg.sync_once_s": "s",
    "streaming.self_s": "s",
    "streaming.target_commits_per_sync": "count",
    "streaming.spark_jobs_per_sync": "count",
    "streaming.shuffle_bytes_per_sync": "B",
    **{f"operators.{op}.{k}": u for op in OPS for k, u in (
        ("build_s", "s"), ("execute_s", "s"),
        ("spark_jobs", "count"), ("shuffle_write_bytes", "B"))},
    "operators.stage_bytes": "B",
    "operators.minhash.candidates": "count",
    "operators.simhash.candidates": "count",
    "operators.minhash_lsh.verify_yield": "fraction",
    "operators.simhash_pairs.verify_yield": "fraction",
    "operators.minhash_lsh.recall_vs_exact": "fraction",
    "operators.simhash_pairs.recall_vs_exact": "fraction",
    "spark.tasks": "count",
    "spark.input_bytes": "B",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_frac": "fraction",
}


class RssSampler:
    """Peak resident memory of this process tree (driver, JVM, Python
    workers) plus the operators' staged sides, sampled from /proc."""

    def __init__(self, stage_dirs: list, period: float = 0.2):
        self.stage_dirs = stage_dirs
        self.period = period
        self.samples: list[tuple[bool, int]] = []
        self._stop = threading.Event()
        self._on = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    @staticmethod
    def _tree_rss() -> int:
        from workloads import process_tree

        total, page = 0, os.sysconf("SC_PAGE_SIZE")
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self):
        from workloads import dir_bytes

        while not self._stop.wait(self.period):
            self.samples.append(
                (self._on.is_set(), self._tree_rss() + dir_bytes(*list(self.stage_dirs))))

    def measuring(self, on: bool):
        (self._on.set if on else self._on.clear)()

    def peak(self) -> int:
        return max(b for on, b in self.samples if on)

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


def per_layer(spans, w0, w1, extras) -> dict:
    from tracing import LAKE_WRITES, children_of, descendants, self_time

    kids = children_of(spans)
    win = [x for x in spans if x["start"] >= w0 and x["end"] <= w1]
    out = dict.fromkeys(PER_LAYER, 0.0)

    def named(name, pool=win):
        return [x for x in pool if x["name"] == name]

    def avg(vals):
        vals = list(vals)
        return sum(vals) / len(vals) if vals else 0.0

    def mean(xs, key=None):
        return avg(x["end"] - x["start"] if key is None else x.get(key, 0) for x in xs)

    def mean_self(xs):
        return avg(self_time(x, kids.get(x["id"], [])) for x in xs)

    epochs = named("cdc.apply_epoch")
    out["cdc.apply_epoch_s"] = mean(epochs)
    out["cdc.self_s"] = mean_self(epochs)
    out["cdc.spark_jobs_per_epoch"] = mean(epochs, "jobs")
    out["cdc.plan_epochs_s"] = mean(named("cdc.plan_epochs", spans))
    rows_in = sum(e["rows_in"] for e in epochs)
    if rows_in:
        out["cdc.useful_ratio"] = sum(
            e["rows_applied"] + e["rows_deleted"] for e in epochs) / rows_in
        out["cdc.conflict_ratio"] = sum(e["conflicts"] for e in epochs) / rows_in
    out["lake.overwrite_s"] = mean(named("lake.overwrite", spans))

    epoch_ids = {e["id"] for e in epochs}
    merges = named("lake.merge")
    cow = [x for x in merges if x["parent"] in epoch_ids]
    out["lake.merge.cow_s"] = mean(cow)
    out["lake.merge.spark_jobs"] = mean(cow, "jobs")
    out["lake.merge.shuffle_write_bytes"] = mean(cow, "shuffle_write_bytes")
    out["lake.merge.touched_bucket_frac"] = mean(cow, "touched_frac")
    if rows_in:
        out["lake.merge.staged_bytes_per_event"] = sum(
            x.get("staged_bytes", 0) for x in cow) / rows_in
    # the replica's merge-on-read merges execute the lazy snapshot diffs
    mor = [x for x in merges if x.get("mode") == "mor"]
    out["lake.merge.mor_s"] = mean(mor)
    out["lake.changes_between.input_bytes"] = mean(mor, "input_bytes")
    out["lake.changes_between.rows"] = mean(mor, "rows")
    out["lake.merge_agg_s"] = mean(named("lake.merge_agg"))
    out["lake.merge_replace_keys_s"] = mean(named("lake.merge_replace_keys"))
    out["lake.changes_between_s"] = mean(named("lake.changes_between"))
    out["lake.read.mor_s"] = mean(named("lake.read.mor", spans))

    rep, agg = named("streaming.replica.sync_once"), named("streaming.agg.sync_once")
    syncs = rep + agg
    out["streaming.replica.sync_once_s"] = mean(rep)
    out["streaming.agg.sync_once_s"] = mean(agg)
    out["streaming.self_s"] = mean_self(syncs)
    out["streaming.target_commits_per_sync"] = avg(
        sum(1 for d in descendants(spans, x["id"])
            if d["name"] in LAKE_WRITES and d["committed"]) for x in syncs)
    out["streaming.spark_jobs_per_sync"] = mean(syncs, "jobs")
    out["streaming.shuffle_bytes_per_sync"] = mean(syncs, "shuffle_write_bytes")

    for op in OPS:
        builds = [x for x in named(f"operators.{op}.build") if x["parent"] is None]
        execs = named(f"operators.{op}.execute")
        out[f"operators.{op}.build_s"] = mean(builds)
        out[f"operators.{op}.execute_s"] = mean(execs)
        if builds:
            out[f"operators.{op}.spark_jobs"] = sum(
                x["jobs"] for x in builds + execs) / len(builds)
            out[f"operators.{op}.shuffle_write_bytes"] = sum(
                x["shuffle_write_bytes"] for x in builds + execs) / len(builds)
    out.update(extras)

    top = [x for x in win if x["parent"] is None]
    out["spark.tasks"] = mean(top, "tasks")
    out["spark.input_bytes"] = mean(top, "input_bytes")
    out["spark.gc_s"] = mean(top, "gc_ms") / 1000
    out["spark.failed_tasks"] = sum(x["failed_tasks"] for x in top)
    return out


def layer_seconds(spans, w0, w1) -> dict:
    """Calls, mean seconds and mean self seconds per call, by span name."""
    from tracing import children_of, self_time

    kids = children_of(spans)
    acc: dict[str, list] = {}
    for x in spans:
        if x["start"] >= w0 and x["end"] <= w1:
            a = acc.setdefault(x["name"] + (f".{x['mode']}" if "mode" in x else ""),
                               [0, 0.0, 0.0])
            a[0] += 1
            a[1] += x["end"] - x["start"]
            a[2] += self_time(x, kids.get(x["id"], []))
    return {k: (n, t / n, st / n) for k, (n, t, st) in sorted(acc.items())}


def report(workload, fig, notes, extra, errors, attempted, failed, layer_secs=None):
    print(f"== perfbench {workload}")
    for k, v in fig.items():
        shown = "n/a" if v is None else f"{v:.4f}"
        note = f"  ({notes[k]})" if k in notes else ""
        print(f"  {k:32s} {shown:>14} {FIGURE_UNITS[k]}{note}")
    print(f"  {'error_rate':32s} {failed / max(attempted, 1):14.4f} fraction "
          f"({failed}/{attempted})")
    for k, v in extra.items():
        print(f"  {k:32s} {v:14.4f} s")
    for e in errors:
        print(f"  CHECK FAILED: {e}")
    if layer_secs:
        print("  traced spans: name, calls, s/call, self s/call")
        for k, (n, t, st) in layer_secs.items():
            print(f"    {k:40s} {n:5d} {t:10.4f} {st:10.4f}")
    sys.stdout.flush()


def main() -> int:
    t_start = pc()
    ap = argparse.ArgumentParser()
    for a in ("--workload", "--work", "--out"):
        ap.add_argument(a, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, required=True)
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    from etl_german_fhir_core_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    session_s = pc() - t_start

    import tracing
    import workloads as wl
    from etl_german_fhir_core_spark.operators import dedup

    sampler = RssSampler(dedup._NJP_STAGES)
    ctx = SimpleNamespace(spark=spark, work=args.work, seed=args.seed,
                          nproc=nproc, tracer=None)
    tracer = tracing.Tracer(tracing.SparkCounters(spark)) if args.trace else None
    w = wl.WORKLOADS[args.workload](ctx)
    extra: dict = {"setup.session_s": session_s}
    try:
        # input preparation (the bootstrap overwrite, plan_epochs) is traced
        # too; the warm-up calls are not
        restore = tracing.install(tracer) if tracer else (lambda: None)
        t = pc()
        w.prep()
        extra["setup.prep_s"] = pc() - t
        restore()
        t = pc()
        w.warmup()
        extra["setup.warmup_s"] = pc() - t
        setup_s = pc() - t_start
        spark.catalog.clearCache()

        sampler.measuring(True)
        s = w.run(pc() + args.seconds)
        sampler.measuring(False)
        fig, notes = w.end_to_end(s)
        fig = {"setup_s": setup_s, **fig, "peak_rss_mb": sampler.peak() / 2**20}
        attempted = s["attempted"]

        layer_secs = None
        if tracer:
            spark.catalog.clearCache()
            restore = tracing.install(tracer)
            ctx.tracer = tracer
            t0 = pc()
            st = w.run(t0 + args.seconds)
            t1 = pc()
            lx = {"trace.overhead_frac":
                  statistics.median(st["iters"]) / statistics.median(s["iters"]) - 1}
            if args.workload == "ingest_trickle":
                for _ in range(w.replica_reads):
                    w.replica_read()
            restore()
            ctx.tracer = None
            attempted += st["attempted"]
            if args.workload == "dedup_corpus":
                cand = w.candidate_counts()
                lx["operators.stage_bytes"] = statistics.mean(st["stage_bytes"])
                lx["operators.minhash.candidates"] = cand["minhash"]
                lx["operators.simhash.candidates"] = cand["simhash"]
                for op, c in (("minhash_lsh", "minhash"), ("simhash_pairs", "simhash")):
                    lx[f"operators.{op}.verify_yield"] = len(w.outputs[op]) / max(cand[c], 1)
                    lx[f"operators.{op}.recall_vs_exact"] = w.recall(op)
            tracing.annotate_merges(spark, tracer.spans)
            metrics = per_layer(tracer.spans, t0, t1, lx)
            layer_secs = layer_seconds(tracer.spans, t0, t1)
            # beside the per-run work dir, which run.py removes
            tracer.dump(os.path.join(os.path.dirname(args.work),
                                     f"{args.workload}-spans.json"))
            out_metrics = {k: {"value": float(v), "unit": PER_LAYER[k]}
                           for k, v in metrics.items()}
        else:
            out_metrics = {k: {"value": float(fig[k]), "unit": u}
                           for k, u in END_TO_END.items()}

        t = pc()
        errors = w.check()
        extra["check_s"] = pc() - t
    except Exception:
        traceback.print_exc()
        spark.stop()
        return 1
    finally:
        sampler.close()
    failed = attempted if errors else 0
    extra["child_wall_s"] = pc() - t_start
    report(args.workload, fig, notes, extra, errors, attempted, failed, layer_secs)
    result = {"correct": not errors, "attempted": attempted, "failed": failed,
              "metrics": out_metrics}
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
