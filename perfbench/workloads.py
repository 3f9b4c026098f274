"""The benchmark workloads: inputs from a seed, a closed measurement
loop, and a correctness gate against an independent reference.

Every workload follows one shape, driven by harness.py:

- ``prep()`` builds the inputs and seeds the state;
- ``warmup()`` pays the first-call costs (JIT, codegen, Python workers);
- ``run(deadline)`` issues calls back to back, each after the previous one
  returned, until the deadline, and returns the raw samples (``iters`` holds
  the wall time of each loop iteration);
- ``end_to_end(samples)`` turns them into the workload's end-to-end figures,
  named as in perfbench/README.md;
- ``check()`` compares the outputs with a DuckDB reference and returns the
  list of failures (empty = correct).

The engine only ever receives the generated inputs; the seed never reaches it.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import nullcontext

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_german_fhir_core_spark.cdc.engine import CdcEngine
from etl_german_fhir_core_spark.cdc.feed import synth_feed, write_feed
from etl_german_fhir_core_spark.lake.table import SnapshotTable
from etl_german_fhir_core_spark.operators import dedup
from etl_german_fhir_core_spark.streaming.changefeed import AggFeedSync, ChangeFeedSync

KEYS = ["conv_id", "turn_idx"]
TABLE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])
AGG_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("n_rows", T.LongType(), True),
    T.StructField("max_ts", T.TimestampType(), True),
])
NUM_BUCKETS = 16
# feed shape: 10% of events on one hot conversation, 10% arriving up to an
# hour out of order
SKEW_FRAC = 0.1
OOO_FRAC = 0.1

pc = time.perf_counter


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def process_tree(root: int) -> list[int]:
    """``root`` and its live descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def cpu_s() -> float:
    """CPU seconds used so far by this process tree: the driver, the JVM and
    the Python workers, reaped workers included (their parent's cutime)."""
    ticks = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def percentile_tail(xs: list[float]):
    """(percentile, value, samples) for the highest nearest-rank percentile
    with at least ten samples beyond it, or None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    p = math.floor(100 * (1 - 10 / n))
    k = max(1, math.ceil(p / 100 * n))
    return p, sorted(xs)[k - 1], n


def live_file_bytes(tbl: SnapshotTable) -> int:
    m = tbl.manifest()
    return sum(
        os.path.getsize(os.path.join(tbl.root, f))
        for fmap in (m["files"], m.get("deltas", {}))
        for fs in fmap.values()
        for f in fs
    )


def duck(nproc: int):
    con = duckdb.connect()
    con.execute(f"SET threads TO {nproc}")
    return con


def lww_reference(con, feed_path: str, hi_lsn: int) -> pd.DataFrame:
    """Winning event per key under the (ts, lsn) total order — the state the
    table must hold, tombstones included."""
    return con.execute(
        f"""
        SELECT conv_id, turn_idx, lsn AS _lsn, op = 'D' AS _deleted
        FROM read_parquet('{feed_path}/*.parquet')
        WHERE lsn <= {int(hi_lsn)}
        QUALIFY row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC) = 1
        """
    ).df()


def table_state(tbl: SnapshotTable) -> pd.DataFrame:
    return (
        tbl.read(include_meta=True)
        .select(*KEYS, "_lsn",
                F.coalesce(F.col("_deleted"), F.lit(False)).alias("_deleted"))
        .toPandas()
    )


def compare_state(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list[str]:
    cols = [*KEYS, "_lsn", "_deleted"]

    def norm(df):
        df = df[cols].copy()
        df["turn_idx"] = df["turn_idx"].astype("int64")
        df["_lsn"] = df["_lsn"].astype("int64")
        df["_deleted"] = df["_deleted"].astype(bool)
        return df.sort_values(KEYS, kind="mergesort").reset_index(drop=True)

    g, w = norm(got), norm(want)
    if len(g) != len(w):
        return [f"{what}: {len(g)} keys, reference has {len(w)}"]
    bad = int((g != w).any(axis=1).sum())
    return [f"{what}: {bad} keys differ from the LWW reference"] if bad else []


class IngestTrickle:
    """A steady-state table fed by many small epochs; after every
    ``epochs_per_tick`` epochs one tick syncs a merge-on-read replica and a
    per-conversation aggregate view through the change feed."""

    name = "ingest_trickle"
    boot_events = 60_000
    n_convs = 1_000  # 20k keys; the bootstrap fills ~95% of them
    epoch_rows = 4_000
    # enough for the warm-up epoch plus both windows of a traced run
    max_epochs = 12
    epochs_per_tick = 2
    replica_reads = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "trickle")
        self.applied_hi = 0

    def prep(self) -> None:
        """Generate the feed and bootstrap the source table from its head."""
        spark = self.ctx.spark
        self.feed = os.path.join(self.dir, "feed")
        total = self.boot_events + self.max_epochs * self.epoch_rows
        write_feed(
            synth_feed(spark, total, n_convs=self.n_convs, seed=self.ctx.seed,
                       skew_frac=SKEW_FRAC, ooo_frac=OOO_FRAC),
            self.feed, n_files=self.ctx.nproc,
        )
        self.src = SnapshotTable.create(spark, os.path.join(self.dir, "src"),
                                        TABLE_SCHEMA, KEYS, num_buckets=NUM_BUCKETS)
        boot = spark.read.parquet(self.feed).where(F.col("lsn") <= self.boot_events)
        self.src.overwrite(boot, epoch_id="bootstrap")
        self.applied_hi = self.boot_events
        self.start_consumers()

    def start_consumers(self) -> None:
        """Create both consumers (their first tick seeds them from the
        bootstrap snapshot) and plan the epochs."""
        spark, d = self.ctx.spark, self.dir
        self.replica = SnapshotTable.create(
            spark, os.path.join(d, "replica"), TABLE_SCHEMA, KEYS,
            num_buckets=NUM_BUCKETS, merge_mode="mor",
        )
        self.agg = SnapshotTable.create(spark, os.path.join(d, "agg"), AGG_SCHEMA,
                                        ["conv_id"], num_buckets=NUM_BUCKETS)
        self.replica_sync = ChangeFeedSync(self.src, self.replica,
                                           os.path.join(d, "replica-state"))
        self.agg_sync = AggFeedSync(self.src, self.agg, os.path.join(d, "agg-state"),
                                    group_cols=["conv_id"], max_cols={"max_ts": "ts"})
        self.engine = CdcEngine(spark, self.feed, self.src, epoch_rows=self.epoch_rows)
        self.plan = self.engine.plan_epochs()

    def roots(self) -> list[str]:
        return [self.src.root, self.replica.root, self.agg.root]

    def tick(self) -> None:
        self.replica_sync.sync_once()
        self.agg_sync.sync_once()

    def apply_next(self) -> int:
        """Apply the next planned epoch; returns its feed event count."""
        eid, lo, hi = self.plan.pop(0)
        self.engine.apply_epoch(eid, lo, hi)
        self.applied_hi = hi
        return hi - lo

    def warmup(self) -> None:
        """A first tick seeds both consumers from the bootstrap snapshot and
        the replica continues from a compacted copy, as a long-running
        consumer would. One epoch and one tick follow: the first tick after
        the compaction still pays first-call costs (11-15 s against a steady
        10-11 s on a 4-core box), and one replica read."""
        self.tick()
        self.replica.compact(epoch_id="seed-compact")
        self.apply_next()
        self.tick()
        self.replica_read()

    def run(self, deadline: float) -> dict:
        s = {"epochs": [], "epoch_cpu": [], "events": [], "ticks": [], "tick_cpu": [],
             "freshness": [], "iters": []}
        bytes0 = dir_bytes(*self.roots())
        while not s["iters"] or pc() < deadline:
            if len(self.plan) < self.epochs_per_tick:
                raise RuntimeError("trickle feed exhausted; raise max_epochs")
            starts = []
            for _ in range(self.epochs_per_tick):
                starts.append(pc())
                c = cpu_s()
                s["events"].append(self.apply_next())
                s["epochs"].append(pc() - starts[-1])
                s["epoch_cpu"].append(cpu_s() - c)
            t, c = pc(), cpu_s()
            self.tick()
            end = pc()
            s["tick_cpu"].append(cpu_s() - c)
            s["ticks"].append(end - t)
            s["freshness"] += [end - st for st in starts]
            s["iters"].append(end - starts[0])
        s["bytes_written"] = dir_bytes(*self.roots()) - bytes0
        s["attempted"] = len(s["epochs"]) + 2 * len(s["ticks"])
        return s

    def replica_read(self) -> tuple[float, float]:
        """A full resolved read of the replica (base ∪ deltas), materialized:
        (wall s, CPU s)."""
        tracer = self.ctx.tracer
        t, c = pc(), cpu_s()
        with tracer.span("lake.read.mor") if tracer else nullcontext():
            self.replica.read().write.format("noop").mode("overwrite").save()
        return pc() - t, cpu_s() - c

    def end_to_end(self, s: dict) -> tuple[dict, dict]:
        tail = percentile_tail(s["epochs"])
        live = self.src.read().count()
        reads = [self.replica_read() for _ in range(self.replica_reads)]
        fig = {
            "events_per_s": sum(s["events"]) / sum(s["epochs"]),
            "epoch_p50_s": statistics.median(s["epochs"]),
            "epoch_tail_s": tail[1] if tail else None,
            "sync_p50_s": statistics.median(s["ticks"]),
            "replica_freshness_p50_s": statistics.median(s["freshness"]),
            "replica_read_s": statistics.median(w for w, _ in reads),
            "epoch_cpu_s": statistics.median(s["epoch_cpu"]),
            "sync_cpu_s": statistics.median(s["tick_cpu"]),
            "replica_read_cpu_s": statistics.median(c for _, c in reads),
            "cpu_s_per_kevent": (sum(s["epoch_cpu"]) + sum(s["tick_cpu"]))
            / sum(s["events"]) * 1000,
            "bytes_written_per_event": s["bytes_written"] / sum(s["events"]),
            "stored_bytes_per_live_row": live_file_bytes(self.src) / max(live, 1),
        }
        notes = {
            "epoch_p50_s": f"{len(s['epochs'])} epochs",
            "epoch_tail_s": (f"p{tail[0]} of {tail[2]} epochs" if tail else
                             f"n/a: {len(s['epochs'])} epochs, the tail needs 11"),
            "sync_p50_s": f"{len(s['ticks'])} ticks",
            "replica_read_s": f"median of {self.replica_reads}",
        }
        return fig, notes

    def check(self) -> list[str]:
        con = duck(self.ctx.nproc)
        errs = compare_state(table_state(self.src),
                             lww_reference(con, self.feed, self.applied_hi),
                             "trickle source")
        cols = [*KEYS, "role", "text", "tool", "ts", "_lsn"]

        def live(tbl):
            return (tbl.read(include_meta=True)
                    .filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
                    .select(*cols))

        a, b = live(self.src), live(self.replica)
        diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        if diff:
            errs.append(f"replica: {diff} rows differ from the source state")
        src_pdf = self.src.read().select("conv_id", "ts").toPandas()
        con.register("src_live", src_pdf)
        want = con.execute(
            "SELECT conv_id, count(*) AS n_rows, max(ts) AS max_ts "
            "FROM src_live GROUP BY conv_id ORDER BY conv_id"
        ).df()
        got = (self.agg.read().where(F.col("n_rows") > 0).toPandas()
               .sort_values("conv_id", kind="mergesort").reset_index(drop=True))
        same = (
            len(got) == len(want)
            and (got["conv_id"].values == want["conv_id"].values).all()
            and (got["n_rows"].astype("int64").values
                 == want["n_rows"].astype("int64").values).all()
            and (pd.to_datetime(got["max_ts"]).values
                 == pd.to_datetime(want["max_ts"]).values).all()
        )
        if not same:
            errs.append("aggregate view differs from the group-by over the source")
        return errs


def make_corpus(seed: int, n_base: int, copies: int, hub: int) -> pd.DataFrame:
    """``copies`` word-salted copies of each of ``n_base`` random documents
    plus one hub cluster of ``hub`` near-copies of a single document (the
    hub-degree skew). All copies but the last are salted 2-3%, so each
    group's copies are pairwise above the 0.5 threshold (trigram Jaccard
    near 0.75) and every cluster is a clique: label propagation then takes
    the same number of rounds on every seed. The last copy is salted 30%
    (Jaccard near 0.2 with its group): a candidate MinHash and SimHash may
    emit, which verification must reject."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(50_000)], dtype=object)
    docs: list[str] = []

    def salted(base: np.ndarray, rate: float) -> str:
        words = vocab[base].copy()
        hit = rng.random(len(base)) < rate
        words[hit] = [f"s{x}" for x in rng.integers(0, 1 << 40, int(hit.sum()))]
        return " ".join(words)

    rates = [*np.linspace(0.02, 0.03, copies - 1), 0.3]
    for _ in range(n_base):
        base = rng.integers(0, len(vocab), int(rng.integers(80, 120)))
        docs += [salted(base, r) for r in rates]
    base = rng.integers(0, len(vocab), 100)
    docs += [salted(base, 0.02) for _ in range(hub)]
    return pd.DataFrame({"doc_id": np.arange(len(docs), dtype=np.int64), "text": docs})


def exact_pairs(con, corpus: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """Exact word-trigram Jaccard pairs, computed in DuckDB over shingle
    strings (the operators hash their shingles; this reference does not)."""
    con.register("corpus", corpus)
    return con.execute(
        f"""
        WITH t AS (SELECT doc_id AS doc, string_split(text, ' ') AS w FROM corpus),
        i AS (SELECT doc, w, unnest(range(1, len(w) - 1)) AS k FROM t),
        s AS (SELECT DISTINCT doc, w[k] || ' ' || w[k + 1] || ' ' || w[k + 2] AS sh
              FROM i),
        sz AS (SELECT doc, count(*) AS n FROM s GROUP BY doc),
        x AS (SELECT a.doc AS id1, b.doc AS id2, count(*) AS k
              FROM s a JOIN s b ON a.sh = b.sh AND a.doc < b.doc GROUP BY 1, 2)
        SELECT id1, id2, x.k::DOUBLE / (p.n + q.n - x.k) AS jaccard
        FROM x JOIN sz p ON p.doc = x.id1 JOIN sz q ON q.doc = x.id2
        WHERE x.k::DOUBLE / (p.n + q.n - x.k) >= {threshold}
        """
    ).df()


def components(pairs: pd.DataFrame) -> dict[int, int]:
    """Union-find components of a pair list: doc -> smallest doc id."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id1"].tolist(), pairs["id2"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def pair_set(df: pd.DataFrame) -> set:
    return set(zip(df["id1"].astype("int64").tolist(), df["id2"].astype("int64").tolist()))


class DedupCorpus:
    """A near-duplicate corpus; one closed-loop call is one pass of the four
    dedup operators (exact n-gram, MinHash LSH, SimHash, clustering)."""

    name = "dedup_corpus"
    n_base = 600
    copies = 8
    hub = 100
    threshold = 0.5
    OPS = ("ngram_jaccard", "minhash_lsh", "simhash_pairs", "dedup_clusters")

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "dedup")
        self.outputs: dict[str, pd.DataFrame] = {}
        self.cpu: dict[str, float] = {}

    def prep(self) -> None:
        self.corpus = make_corpus(self.ctx.seed, self.n_base, self.copies, self.hub)
        path = os.path.join(self.dir, "corpus")
        os.makedirs(path)
        n = self.ctx.nproc
        cuts = np.linspace(0, len(self.corpus), n + 1).astype(int)
        for i in range(n):
            self.corpus.iloc[cuts[i]:cuts[i + 1]].to_parquet(
                os.path.join(path, f"part-{i:03d}.parquet"), index=False)
        self.docs = self.ctx.spark.read.parquet(path)
        self.n_docs = len(self.corpus)

    def _call(self, op: str, pairs_df=None):
        """Build one operator's result frame (eager staging happens here)."""
        docs, n, thr = self.docs, 3, self.threshold
        if op == "ngram_jaccard":
            return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=n, threshold=thr)
        if op == "minhash_lsh":
            return dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=n, num_hashes=32,
                                           bands=8, verify_threshold=thr)
        if op == "simhash_pairs":
            return dedup.simhash_pairs(docs, "doc_id", "text", n=n, max_hamming=6,
                                       verify_threshold=thr)
        return dedup.dedup_clusters(pairs_df)

    def one_pass(self) -> dict[str, tuple[float, float, int]]:
        """Run the four operators once: {op: (build_s, execute_s, stage_bytes)}."""
        tracer = self.ctx.tracer
        out = {}
        for op in self.OPS:
            pairs_df = None
            if op == "dedup_clusters":
                pairs_df = self.ctx.spark.createDataFrame(
                    self.outputs["ngram_jaccard"][["id1", "id2"]])
            staged0 = len(dedup._NJP_STAGES)
            t0, c0 = pc(), cpu_s()
            frame = self._call(op, pairs_df)
            t1 = pc()
            with tracer.span(f"operators.{op}.execute") if tracer else nullcontext():
                self.outputs[op] = frame.toPandas()
            t2 = pc()
            self.cpu[op] = cpu_s() - c0
            out[op] = (t1 - t0, t2 - t1, dir_bytes(*dedup._NJP_STAGES[staged0:]))
        self.ctx.spark.catalog.clearCache()
        return out

    def warmup(self) -> None:
        self.one_pass()

    def run(self, deadline: float) -> dict:
        s = {"iters": [], "ops": {op: [] for op in self.OPS},
             "cpu": {op: [] for op in self.OPS}, "stage_bytes": []}
        while not s["iters"] or pc() < deadline:
            res = self.one_pass()
            for op, (b, e, _) in res.items():
                s["ops"][op].append(b + e)
                s["cpu"][op].append(self.cpu[op])
            s["iters"].append(sum(b + e for b, e, _ in res.values()))
            s["stage_bytes"].append(sum(sb for _, _, sb in res.values()))
        s["attempted"] = len(self.OPS) * len(s["iters"])
        return s

    def end_to_end(self, s: dict) -> tuple[dict, dict]:
        fig = {f"{op}_s": statistics.median(s["ops"][op]) for op in self.OPS}
        fig.update({f"{op}_cpu_s": statistics.median(s["cpu"][op]) for op in self.OPS})
        fig["cpu_s_per_kevent"] = sum(sum(v) for v in s["cpu"].values()) / (
            self.n_docs * len(s["iters"])) * 1000
        fig["events_per_s"] = self.n_docs / statistics.median(s["iters"])
        fig["bytes_written_per_event"] = statistics.median(s["stage_bytes"]) / self.n_docs
        for op in ("minhash_lsh", "simhash_pairs"):
            fig[f"recall_vs_exact.{op}"] = self.recall(op)
        notes = {f"{op}_s": f"{len(s['iters'])} passes" for op in self.OPS}
        notes["events_per_s"] = "documents per second of a four-operator pass"
        notes["bytes_written_per_event"] = "bytes staged on /dev/shm per document"
        return fig, notes

    def candidate_counts(self) -> dict[str, int]:
        docs = self.docs
        return {
            "minhash": dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3,
                                               num_hashes=32, bands=8,
                                               verify_threshold=None).count(),
            "simhash": dedup.simhash_candidates(docs, "doc_id", "text", n=3,
                                                max_hamming=6).count(),
        }

    def reference(self) -> set:
        if not hasattr(self, "_ref"):
            self._ref = pair_set(exact_pairs(duck(self.ctx.nproc), self.corpus,
                                             self.threshold))
        return self._ref

    def recall(self, op: str) -> float:
        ref = self.reference()
        return len(pair_set(self.outputs[op]) & ref) / max(len(ref), 1)

    def check(self) -> list[str]:
        ref = self.reference()
        errs = []
        got = pair_set(self.outputs["ngram_jaccard"])
        if got != ref:
            errs.append(f"ngram_jaccard: {len(got ^ ref)} pairs differ from exact "
                        f"Jaccard ({len(got)} vs {len(ref)})")
        for op in ("minhash_lsh", "simhash_pairs"):
            extra = pair_set(self.outputs[op]) - ref
            if extra:
                errs.append(f"{op}: {len(extra)} pairs are not exact-Jaccard pairs")
        want = components(self.outputs["ngram_jaccard"])
        cl = self.outputs["dedup_clusters"]
        got_cl = dict(zip(cl["doc_id"].astype("int64").tolist(),
                          cl["cluster_id"].astype("int64").tolist()))
        if got_cl != want:
            errs.append("dedup_clusters: components differ from union-find")
        return errs


WORKLOADS = {w.name: w for w in (IngestTrickle, DedupCorpus)}
