"""Deduplication operator family for large-scale training-data pipelines.

All variants are DataFrame compositions (shuffle-conscious; Python only in
the Arrow-batched numpy kernels noted below):

- exact: normalize → group on content (or 64-bit fingerprint) → keep min id.
- n-gram Jaccard: per-doc shingle-hash sets (:func:`_shingle_hash_sets`) staged
  once → numpy intersection-count kernel over the whole corpus.
- MinHash + LSH: k hash functions via xxhash64(shingle, seed) → min per seed →
  band signatures → band-bucket self-join → candidate pairs.
- SimHash: per-doc shingle-hash sets → numpy bit-vote kernel → 64-bit
  signature → block-combination candidate tables scanned by a numpy kernel,
  Hamming-filtered.

One representation per concept. Every shingle comes from one base
(:func:`_shingles`: tokenize → explode → n token columns). Exact Jaccard is
the per-doc shingle-hash set frame: the n-gram kernel counts intersections
over it; MinHash and SimHash verify their candidates by joining the pairs to
it on both sides and intersecting the two sets in the JVM. Both SimHash hash
bases vote in the one numpy kernel. Both staged kernels write their side with
:func:`_stage` and load it with :func:`_load_side`. Scale notes: LSH keeps
the candidate set near-linear (band buckets), which is the 100 TB path — the
exact all-pairs kernel is only for small corpora / verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_german_fhir_core_spark.functions.text import normalize_text, tokenize_ws


_SIDE_CACHE: dict = {}
_NJP_STAGES: list[str] = []


def _stage(frame: DataFrame) -> str:
    """Write ``frame`` to a fresh parquet stage and return its path — the one
    staged side of the numpy kernels. Stages live on tmpfs (/dev/shm) for I/O
    determinism and are tracked in ``_NJP_STAGES`` for atexit cleanup: they
    must not outlive the driver process, and cannot be deleted earlier since
    the kernels' frames read them lazily for the caller's whole session.

    The stage is a driver-local directory that every task reads by path, so
    it is correct only when all executors share the driver's host. Any
    master other than ``local[...]`` / ``local-cluster[...]`` raises before
    anything is written, instead of letting tasks on other hosts miss the
    side and silently undercount pairs."""
    import os
    import tempfile

    master = frame.sparkSession.sparkContext.master
    if not master.startswith("local"):
        raise RuntimeError(
            f"staged dedup kernels need a single-host master (local[...] or "
            f"local-cluster[...]), got {master!r}: the side is staged to a "
            "driver-local directory that executors on other hosts cannot read"
        )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    path = tempfile.mkdtemp(prefix="dedup_stage_", dir=shm)
    if not _NJP_STAGES:
        import atexit
        import shutil

        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _NJP_STAGES]
        )
    _NJP_STAGES.append(path)
    frame.write.mode("overwrite").parquet(path)
    return path


def _load_side(path: str, build):
    """A staged side, loaded ONCE per Python worker: ``build`` turns the
    staged pyarrow table into the kernel's arrays (guide §4.5: heavyweight
    init cached in a module-level global keyed by path+pid so reused workers
    keep it across tasks). One slot per ``build`` function, so successive
    stagings replace, never accumulate. ``build`` must be a module-level
    function: it is pickled by reference, so its identity survives task
    deserialization."""
    import os

    key = (path, os.getpid())
    hit = _SIDE_CACHE.get(build)
    if hit is not None and hit[0] == key:
        return hit[1]
    import pyarrow.parquet as pq

    # use_threads=False: every reused worker on the host loads the side at
    # once; with pyarrow's default per-process thread pool that is
    # workers × cpus threads thrashing one tmpfs directory (measured 3.6 s
    # first-call medians vs 0.5 s warm) — single-threaded reads of a few
    # tens of MB are faster and contention-free
    data = build(pq.read_table(path, use_threads=False))
    _SIDE_CACHE[build] = (key, data)
    return data


def _njp_side(t):
    """The staged (doc, sz, _hs) side of :func:`ngram_jaccard_pairs`' kernel
    as (hashes sorted ascending, doc-index per hash, doc ids, set sizes)."""
    import numpy as np
    import pyarrow.compute as pc

    doc = t.column("doc").to_numpy(zero_copy_only=False)
    sz = t.column("sz").to_numpy(zero_copy_only=False)
    flat, lens = [], []
    for chunk in t.column("_hs").chunks:
        flat.append(chunk.flatten().to_numpy(zero_copy_only=False))
        lens.append(pc.list_value_length(chunk).to_numpy(zero_copy_only=False))
    if flat:
        h = np.concatenate(flat)
        idx = np.repeat(np.arange(len(doc)), np.concatenate(lens).astype(np.int64))
    else:
        h = np.empty(0, np.int64)
        idx = np.empty(0, np.int64)
    order = np.argsort(h, kind="stable")
    return (h[order], idx[order], doc, sz)


def _sim_side(t):
    """The staged (doc, simhash) side of the simhash candidate kernel as
    (doc ids, signatures as uint64)."""
    import numpy as np

    doc = t.column("doc").to_numpy(zero_copy_only=False)
    sig = (
        t.column("simhash").to_numpy(zero_copy_only=False)
        .astype(np.int64)
        .view(np.uint64)
    )
    return (doc, sig)


def _spread_small_input(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition a SMALL scan up to the session's default parallelism (r06,
    guide §2.5 input skew / §6 split sizing): a few-MB parquet corpus arrives
    as 1-2 input splits (openCostInBytes floors the split size), so the whole
    shingle+partial-aggregate stage — the expensive per-row work — runs
    near-single-core while 30 cores idle. Scale-adaptive by construction:
    when the scan already has >= parallelism partitions (any real corpus),
    this is a no-op and nothing is shuffled.

    With ``key`` the repartition HASH-clusters on that column: downstream
    per-doc aggregates (distinct, collect_set, signature mins, bit votes)
    then satisfy their distribution from this one small-frame exchange and
    plan NO exchange of the much larger exploded shingle rows (guide §2.4
    "two operations keyed the same way share one exchange")."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p, F.col(key)) if key else df.repartition(p)
    return df


def _drop_checkpoint(frame: DataFrame) -> None:
    """Free a local checkpoint's blocks. A checkpoint has no DataFrame-level
    unpersist (``DataFrame.unpersist`` leaves them cached), so unpersist the
    RDD under its plan directly; Spark logs that the truncated lineage cannot
    be recomputed — intended, callers drop only superseded rounds."""
    frame._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int, shingle) -> DataFrame:
    """The ONE shingle base: (doc, shingle(*tokens)) rows, one per word n-gram
    occurrence of the normalized, lowercased text (duplicates kept), where
    ``shingle`` maps the n token columns to one aliased column (the shingle
    string, or a hash of it). Docs with fewer than n tokens emit no row.

    Built as explode(sequence(0, size-n)) + n element_at lookups — the same
    codegen-only Generate+Project shape as chunk_exact_dupes, with NO exchange
    and NO sort (r06: the previous posexplode + lead()-window shape paid a
    hash exchange by doc plus a per-doc sort before a single shingle existed,
    and every consumer of the lazy frame re-paid it; guide §2.4 "remove
    shuffles outright"). Array-transform HOFs remain off the table: their
    lambdas evaluate interpreted per element (measured 6x slower at sf0.1) —
    element_at with a column index is a plain codegen'd projection."""
    toks = tokenize_ws(F.col(text_col))
    base = _spread_small_input(df, key=id_col).select(
        F.col(id_col).alias("doc"), toks.alias("_w")
    ).filter(
        F.size("_w") >= n  # guard: sequence(0, negative) would step DOWNWARD
    )
    idx = base.select(
        "doc", F.col("_w"), F.explode(F.sequence(F.lit(0), F.size("_w") - n)).alias("_i")
    )
    return idx.select(
        "doc",
        shingle(*[F.element_at(F.col("_w"), F.col("_i") + (j + 1)) for j in range(n)]),
    )


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (doc, shingle) string rows per doc (set semantics) from
    :func:`_shingles` — the shape of the consumers that match shingle text
    (contamination, top n-grams)."""
    return _shingles(
        df, id_col, text_col, n, lambda *w: F.concat_ws(" ", *w).alias("shingle")
    ).distinct()


def dedup_exact(
    df: DataFrame, id_col: str, text_col: str, use_fingerprint: bool = True
) -> DataFrame:
    """Exact dedup on normalized content. ``use_fingerprint`` groups on a 64-bit
    xxhash64 fingerprint (constant-width shuffle keys — the 100 TB path); otherwise
    groups on the normalized text itself (oracle-friendly). Returns one surviving row
    (min id) per content group with the duplicate count."""
    norm = F.lower(normalize_text(F.col(text_col)))
    key = F.xxhash64(norm) if use_fingerprint else norm
    grouped = (
        df.withColumn("_k", key)
        .groupBy("_k")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dupes"))
    )
    return grouped.drop("_k") if use_fingerprint else grouped.withColumnRenamed("_k", "content_key")


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Exploded (doc, _h) rows, one xxhash64 over the n token columns per
    shingle occurrence (duplicates kept) — the shared basis of the shingle-hash
    sets and the MinHash signatures. Tokens carry no whitespace, so the n-tuple
    IS the shingle: the set semantics of hashing the concat'd shingle string
    without materializing millions of intermediate strings."""
    return _shingles(df, id_col, text_col, n, lambda *w: F.xxhash64(*w).alias("_h"))


def _shingle_hash_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Per-doc shingle-hash sets as lazy (doc, sz, _hs) rows: ``_hs`` is the
    distinct set of :func:`_shingle_hashes` values and ``sz`` its size — the
    one exact-Jaccard representation of the family (collisions are 2^-64
    noise, the basis the minhash/fingerprint family stands on).

    Degenerate documents: a doc with fewer than n tokens (``""`` and
    whitespace-only docs included, at every n — :func:`tokenize_ws` yields
    no tokens for them) has no shingle and no row here, so it appears in no
    pair of any operator built on this frame."""
    return (
        _shingle_hashes(df, id_col, text_col, n)
        .groupBy("doc")
        .agg(F.collect_set("_h").alias("_hs"))
        .select("doc", F.size("_hs").alias("sz"), "_hs")
    )


def _verify_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    pairs: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ ``threshold`` for a GIVEN (id1, id2) candidate
    set — cost O(corpus sets + |pairs| × set size), never O(all pairs).

    The pairs join the shingle-hash set frame on both sides and
    ``size(array_intersect)`` counts the intersection in the JVM: no Python,
    nothing staged, nothing persisted. Pairs with an empty intersection are
    dropped; Jaccard is ``inter / (sz1 + sz2 - inter)``, the arithmetic of
    the :func:`ngram_jaccard_pairs` kernel, so both return identical values."""
    sets = _shingle_hash_sets(df, id_col, text_col, n)

    def side(i: int) -> DataFrame:
        return sets.select(
            F.col("doc").alias(f"id{i}"),
            F.col("sz").alias(f"_sz{i}"),
            F.col("_hs").alias(f"_hs{i}"),
        )

    inter = F.col("_inter")
    return (
        pairs.select("id1", "id2")
        .join(side(1), "id1")
        .join(side(2), "id2")
        .withColumn("_inter", F.size(F.array_intersect("_hs1", "_hs2")))
        .filter(inter > 0)
        .select(
            "id1", "id2", (inter / (F.col("_sz1") + F.col("_sz2") - inter)).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All document pairs with n-gram Jaccard ≥ threshold.

    The per-doc shingle-hash sets (:func:`_shingle_hash_sets`) are staged to
    parquet once, and a numpy kernel counts every pair's intersection against
    that staged side — Jaccard via |A|+|B|-|inter|. ``max_df`` drops shingles
    with document frequency above the cap (stop-shingles, the skew risk of
    any all-pairs shape) from the intersection; set sizes stay pre-filter.

    Unlike the lazy operators of this module, the call runs Spark jobs
    EAGERLY: the corpus scan and the staging write happen at call time (the
    returned frame reads the stage lazily), so building the frame costs a
    full corpus pass and a failure surfaces here. The stage is driver-local
    (:func:`_stage`), so the session must run on a single host (``local[...]``
    or ``local-cluster[...]``); any other master raises.
    """
    # Why a staged kernel, not an inverted-index self-join on shingle: at
    # sf1.0 that join emitted 127M one-shingle candidate rows into a
    # 127M-distinct-key aggregate (92 s), and exact prefix filtering (PPJoin)
    # cut emissions only 2.3x on this dense vocabulary (plans/r06). Each task
    # loads the hash-sorted staged side ONCE per worker and counts exact
    # intersections for its slice of documents: searchsorted range lookup per
    # shingle hash, vectorized multi-range expansion, one np.unique per chunk
    # — Σ df² match work with no shuffle of candidate rows, no join, no sort.
    # The staged side is O(corpus shingle hashes) per worker, so this stays
    # the small-corpus/verification path (LSH is the 100 TB candidate path);
    # max_df's document frequency is a free by-product of the range lookup.
    from pyspark.sql import types as T

    spark = df.sparkSession
    stage = _stage(_shingle_hash_sets(df, id_col, text_col, n))
    a = spark.read.parquet(stage).repartition(
        spark.sparkContext.defaultParallelism
    )
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id1", id_type),
            T.StructField("id2", id_type),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    md = -1 if max_df is None else int(max_df)
    thr = float(threshold)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        bh, bidx, b_doc, b_sz = _load_side(stage, _njp_side)
        nb = len(b_doc)
        for pdf in batches:
            m = len(pdf)
            if m == 0 or nb == 0:
                continue
            a_doc = pdf["doc"].to_numpy()
            a_sz = pdf["sz"].to_numpy()
            hs_col = pdf["_hs"].to_numpy()
            for c0 in range(0, m, 1024):  # chunk: bounds match-expansion memory
                c1 = min(c0 + 1024, m)
                lens = np.fromiter(
                    (len(hs_col[i]) for i in range(c0, c1)), np.int64, c1 - c0
                )
                if lens.sum() == 0:
                    continue
                ah = np.concatenate([np.asarray(hs_col[i]) for i in range(c0, c1)])
                ad = np.repeat(np.arange(c0, c1), lens)
                lo = np.searchsorted(bh, ah, "left")
                hi = np.searchsorted(bh, ah, "right")
                cnt = hi - lo  # == global document frequency of the shingle
                if md >= 0:
                    cnt = np.where(cnt <= md, cnt, 0)
                tot = int(cnt.sum())
                if tot == 0:
                    continue
                ends = np.cumsum(cnt)
                pos = np.arange(tot) + np.repeat(lo - (ends - cnt), cnt)
                a_rep = np.repeat(ad, cnt)
                b_hit = bidx[pos]
                # keep only b_doc > a_doc BEFORE the unique: drops self-matches
                # and the mirrored direction (each unordered pair survives in
                # exactly the chunk holding its smaller doc), halving the sort
                # volume of the counting unique — and making every output pair
                # globally unique with no distinct afterwards
                fwd = b_doc[b_hit] > a_doc[a_rep]
                if not fwd.any():
                    continue
                key = a_rep[fwd] * nb + b_hit[fwd]
                uk, inter = np.unique(key, return_counts=True)
                ai = uk // nb
                bi = uk - ai * nb
                jac = inter / (a_sz[ai] + b_sz[bi] - inter)
                ok = jac >= thr
                yield pd.DataFrame(
                    {"id1": a_doc[ai[ok]], "id2": b_doc[bi[ok]], "jaccard": jac[ok]}
                )

    return a.mapInPandas(kernel, out_schema)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(doc, h0..h{k-1}) MinHash signature rows — the shingle-explode +
    map-side-partial min-aggregate stage of :func:`minhash_lsh_pairs`, exposed
    separately so the scaling sweep can attribute wall time per stage
    (signature agg vs bucket join vs verify — BENCH/BASELINE.md).

    The base hash is :func:`_shingle_hashes`' xxhash64, so the whole stage is
    Generate → map-side partial min-agg → ONE exchange of k longs per doc (no
    sort, no distinct: duplicate shingles cannot change a min)."""
    return _shingle_hashes(df, id_col, text_col, n).groupBy("doc").agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs, Jaccard-verified at
    ``verify_threshold`` (``None`` returns the raw (id1, id2) candidates).

    signature[i] = min over shingles of hash_i(shingle); band j = hash of its
    rows; candidates = pairs sharing any band bucket.

    Scale shape: each shingle string is hashed ONCE (xxhash64 → long); the k
    signature hashes derive from that 64-bit base via fixed-width long hashing
    inside a codegen'd map-side partial aggregate (array-transform HOFs were
    measured 3x SLOWER here — interpreted per element, no whole-stage codegen).
    The groupBy(doc) shuffle moves only k longs per doc thanks to partial
    aggregation; the bucket join then shuffles bands × 16 bytes per doc.
    """
    rows_per_band = num_hashes // bands
    mins = minhash_signatures(df, id_col, text_col, n=n, num_hashes=num_hashes)
    band_cols = [
        F.xxhash64(
            *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    sigs = mins.select("doc", *band_cols)
    buckets = sigs.select(
        "doc",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")
    x, y = buckets.alias("x"), buckets.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("id1"), F.col("y.doc").alias("id2"))
        .distinct()
    )
    if verify_threshold is None:
        return cand
    # Verification is CANDIDATE-ONLY: Jaccard is computed just for the pairs LSH
    # surfaced (O(candidates)), never by re-running the all-pairs kernel over
    # the corpus — that quadratic work is exactly what LSH exists to avoid.
    return _verify_pairs(df, id_col, text_col, n, cand, verify_threshold)


def simhash_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    prefix_bits: int = 16,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document + a prefix bucket for near-dup candidate grouping.

    bit b of the signature = majority vote over the doc's DISTINCT shingles of
    bit b of hash(shingle) (an exact tie votes 0). Each shingle string hashes
    to one 64-bit long (:func:`_shingles`), one object-hash ``collect_set``
    gathers the per-doc distinct set (one small-frame exchange), and an
    Arrow-batched numpy kernel votes: ``np.unpackbits`` (little-endian = bit
    b of the uint64) and one segmented reduction per batch. Row-independent —
    no staged side, no join. (Why not JVM aggregates: 64 per-bit
    conditional sums measured 6.5 s of a 13 s candidate run at 40k docs.)

    ``hash_basis`` selects the per-shingle hash the bit-votes derive from:

    - ``"xxhash64"`` (default): one JVM xxhash64 of the shingle string.
    - ``"md5"``: bits come from the first 16 hex digits of md5(shingle), bit b =
      bit (b % 4) of hex digit (b // 4) — the digits packed into one long,
      digit i at bits 4i..4i+3. md5 exists in every SQL engine, which makes
      the signature CROSS-ENGINE REPRODUCIBLE — the DuckDB-oracle basis
      (xxhash64 bit-votes have no SQL equivalent; VERDICT r03 next #2). Same
      quality (both are uniform bit sources).
    """
    from pyspark.sql import types as T

    if hash_basis == "xxhash64":
        digest = F.xxhash64
    elif hash_basis == "md5":
        # the hex digits reversed read as one base-16 number put digit i at
        # bits 4i..4i+3; a negative target base makes conv emit it signed
        def digest(s):
            return F.conv(F.reverse(F.substring(F.md5(s), 1, 16)), 16, -10).cast("long")

    else:
        raise ValueError(f"unknown hash_basis {hash_basis!r}")
    sh = _shingles(
        df, id_col, text_col, n, lambda *w: digest(F.concat_ws(" ", *w)).alias("_h")
    )
    ds = sh.groupBy("doc").agg(F.collect_set("_h").alias("_hs"))
    out_schema = T.StructType(
        [
            T.StructField("doc", df.schema[id_col].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def vote_kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            hs = pdf["_hs"].to_numpy()
            lens = np.fromiter((len(h) for h in hs), np.int64, m)
            flat = (
                np.concatenate([np.asarray(h) for h in hs])
                .astype(np.int64)
                .view(np.uint64)
            )
            bits = np.unpackbits(
                flat.view(np.uint8), bitorder="little"
            ).reshape(-1, 64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            ones = np.add.reduceat(bits.astype(np.int64), starts, axis=0)
            # vote_b > 0  <=>  2*ones_b > n_hashes (exact tie -> bit 0)
            sigbits = (2 * ones) > lens[:, None]
            sig = (
                (sigbits.astype(np.uint64) << np.arange(64, dtype=np.uint64))
                .sum(axis=1, dtype=np.uint64)
                .view(np.int64)
            )
            yield pd.DataFrame({"doc": pdf["doc"], "simhash": sig})

    out = ds.mapInPandas(vote_kernel, out_schema)
    return out.withColumn(
        "bucket", F.shiftrightunsigned(F.col("simhash"), 64 - prefix_bits)
    )


# candidate-table budget of a SimHash plan: with the numpy kernel the table
# count is a pure cost knob, and wide radii want hundreds of tables
_SIMHASH_MAX_TABLES = 4096


def _simhash_table_plan(
    max_hamming: int, n_docs: int
) -> tuple[int, list[tuple[int, ...]]]:
    """Choose the Manku-style multi-table candidate construction for radius d:
    split the 64-bit signature into ``k = d + g`` blocks and key one candidate
    table on every g-combination of blocks (C(k, g) tables). A pair within
    Hamming distance d flips bits in at most d blocks, leaving ≥ g blocks
    untouched — so at least one whole g-combination agrees: recall is GUARANTEED
    at radius d, same as the plain pigeonhole (g=1), but each table's join key
    is g blocks ≈ 64·g/k bits wide, so bucket self-joins stay near-linear
    instead of collapsing to ~N²/2^w at narrow widths (VERDICT r03 wrong #1).

    g is a pure cost knob (every candidate pair ≤ radius d survives regardless
    of g), chosen against ``n_docs`` under a budget of
    ``_SIMHASH_MAX_TABLES`` tables: per table the kernel pays ~N·log2 N sort
    work plus ~N²/2^w_avg collision popcounts (w_avg = g·64/(d+g) composite
    key bits); the plan minimizes the sum over the feasible g values. A corpus
    under two docs has no pair, and is planned as N=2."""
    from itertools import combinations
    from math import comb, log2

    d = max_hamming
    feasible = [
        g
        for g in range(1, 11)
        if comb(d + g, g) <= _SIMHASH_MAX_TABLES and d + g <= 64
    ]
    if not feasible:
        raise ValueError(
            f"no block-combination plan fits max_hamming={d}: even g=1 needs "
            f"{d + 1} blocks of the 64 signature bits and C({d + 1},1)={d + 1} "
            f"candidate tables (budget {_SIMHASH_MAX_TABLES}); lower max_hamming"
        )
    n = float(max(n_docs, 2))

    def cost(gg: int) -> float:
        t = comb(d + gg, gg)
        w = gg * 64.0 / (d + gg)
        return t * n * (log2(n) + 3.0) + t * n * n / (2.0**w)

    g = min(feasible, key=cost)
    return d + g, list(combinations(range(d + g), g))


def _popcount64(x):
    """Vectorized 64-bit population count (SWAR; numpy<2 has no bitwise_count).
    ``x`` must be uint64; integer wraparound in the multiply is intended."""
    import numpy as np

    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return (x * h) >> np.uint64(56)


def _simhash_candidates(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Candidate (id1, id2) pairs within Hamming radius ``max_hamming``:
    Manku-style block-combination tables guarantee recall (a pair within
    distance d leaves ≥ g of the d+g blocks untouched, so some whole
    g-combination agrees) and a ``popcount(sig1 XOR sig2) ≤ d`` filter removes
    every block-collision pair — the output is therefore EXACTLY the
    Hamming-ball pair set, independent of the table plan chosen.

    r06 execution (guide §8 / §4.2; the r05 JVM shape was an exploded
    (doc, key) self-join — at wide radii its narrow block keys collapse to
    ~N²/2^w join emissions, measured 213 s at 400k docs, d=12): the
    (doc, simhash) side — 16 bytes/doc — is staged once and each task
    processes a slice of the candidate TABLES in numpy: build its tables'
    composite block keys, argsort, expand equal-key runs into pairs
    (vectorized multi-range), popcount-filter, pre-dedupe. No join, no
    per-table shuffle; table count becomes a pure cost knob the plan chooser
    optimizes against N (``_simhash_table_plan`` cost model), which unlocks
    wide-radius plans (d=12 → hundreds of tables of ~16-bit keys) that the
    expression-tree version could not afford."""
    import numpy as np  # noqa: F401  (kernel contract)
    from pyspark.sql import types as T

    spark = sigs.sparkSession
    stage = _stage(sigs.select("doc", "simhash"))
    # the plan's N is a parquet footer-count over the just-written stage —
    # metadata-only, never recomputes the signature pipeline
    k, combos = _simhash_table_plan(max_hamming, spark.read.parquet(stage).count())
    base, extra = divmod(64, k)
    widths = [base + (1 if i < extra else 0) for i in range(k)]
    offsets = [sum(widths[:i]) for i in range(k)]

    par = spark.sparkContext.defaultParallelism
    tables = spark.range(0, len(combos), 1, min(len(combos), par))
    id_type = sigs.schema["doc"].dataType
    out_schema = T.StructType(
        [T.StructField("id1", id_type), T.StructField("id2", id_type)]
    )
    d = int(max_hamming)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        doc, sig = _load_side(stage, _sim_side)
        nb = len(doc)
        for pdf in batches:
            if nb < 2 or len(pdf) == 0:
                continue
            out1, out2 = [], []
            for t in pdf["id"].to_numpy():
                combo = combos[int(t)]
                key = np.zeros(nb, dtype=np.uint64)
                acc = 0
                for b in combo:
                    blk = (sig >> np.uint64(offsets[b])) & np.uint64(
                        (1 << widths[b]) - 1
                    )
                    key |= blk << np.uint64(acc)
                    acc += widths[b]
                order = np.argsort(key, kind="stable")
                ks = key[order]
                # equal-key runs -> within-run pair expansion (each element
                # pairs with every earlier element of its run)
                run_start = np.zeros(nb, dtype=np.int64)
                new_run = np.flatnonzero(ks[1:] != ks[:-1]) + 1
                run_start[new_run] = new_run
                np.maximum.accumulate(run_start, out=run_start)
                npairs = np.arange(nb, dtype=np.int64) - run_start
                tot = int(npairs.sum())
                if tot == 0:
                    continue
                idx = np.arange(nb, dtype=np.int64)
                a_pos = np.repeat(idx, npairs)
                ends = np.cumsum(npairs)
                b_pos = np.arange(tot) - np.repeat(ends - npairs, npairs) + np.repeat(
                    run_start, npairs
                )
                ai, bi = order[a_pos], order[b_pos]
                keep = _popcount64(sig[ai] ^ sig[bi]) <= np.uint64(d)
                if not keep.any():
                    continue
                ai, bi = ai[keep], bi[keep]
                lo = np.minimum(ai, bi)
                hi = np.maximum(ai, bi)
                out1.append(lo)
                out2.append(hi)
            if not out1:
                continue
            lo = np.concatenate(out1)
            hi = np.concatenate(out2)
            # pre-dedupe across this task's tables (a near-identical pair is
            # caught by MANY tables; without this the distinct would shuffle
            # tables× duplicates)
            packed = np.unique(lo.astype(np.int64) * nb + hi)
            li = packed // nb
            ri = packed - li * nb
            yield pd.DataFrame({"id1": doc[li], "id2": doc[ri]})

    out = tables.mapInPandas(kernel, out_schema)
    # doc-id order (the public contract is id1 < id2 by DOC id, not by row
    # position): swap where needed, then global distinct (tiny: ≈ true pairs)
    return (
        out.select(
            F.least("id1", "id2").alias("id1"), F.greatest("id1", "id2").alias("id2")
        )
        .distinct()
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_hamming: int = 6,
) -> DataFrame:
    """Hamming-filtered simhash candidate pairs (pre-verify) — the probe surface
    for candidate-volume measurement (bench.py compares this count against
    minhash's candidate count at equal recall). The output is the exact
    Hamming ball for ANY table plan; the cost model picks the plan
    (:func:`_simhash_table_plan`).

    r06: no persist and no localCheckpoint — the signature pipeline runs
    exactly once into the kernel's staged side (the stage IS the
    materialization barrier), so the former persist+count+checkpoint job
    chain (three extra actions of the r05 verify-floor attribution) is gone.
    The stage is driver-local (:func:`_stage`), so the session must run on a
    single host (``local[...]`` or ``local-cluster[...]``); any other master
    raises."""
    sigs = simhash_buckets(df, id_col, text_col, n).select("doc", "simhash")
    return _simhash_candidates(sigs, max_hamming)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_hamming: int = 6,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via SimHash candidates + exact Jaccard verify — the
    end-to-end simhash pipeline (simhash_buckets emits the raw signatures).

    Candidate generation is the multi-table block-combination scheme (Manku et
    al., WWW'07 §3 — see _simhash_table_plan): recall within Hamming radius
    ``max_hamming`` is guaranteed, and the candidate kernel's
    ``popcount(sig1 XOR sig2) ≤ d`` filter bounds the verify set to true
    Hamming-ball pairs even at wide radii (:func:`_simhash_candidates`).
    Verification is candidate-only exact n-gram Jaccard over the shingle-hash
    sets — the same :func:`_verify_pairs` as minhash — so precision is exact.
    The signatures keep their string hash basis (:func:`simhash_buckets`).

    The signature frame is consumed exactly once (the candidate kernel's
    staged side materializes it, eagerly at call time); the verify is a lazy
    JVM join, so the whole operator is one staged write plus one job. Like
    :func:`simhash_candidates` it needs a single-host session (``local[...]``
    or ``local-cluster[...]``); any other master raises."""
    sigs = simhash_buckets(df, id_col, text_col, n).select("doc", "simhash")
    cand = _simhash_candidates(sigs, max_hamming)
    return _verify_pairs(df, id_col, text_col, n, cand, verify_threshold)


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-contamination check — the train/eval hygiene pass every
    pre-training pipeline needs: for each document, the fraction of its distinct
    word n-grams that also occur anywhere in ``benchmark`` (the held-out eval
    corpus). Output: (doc, n_shingles, n_contaminated, contamination_rate).

    Scale shape: the benchmark shingle set is tiny relative to a training corpus
    (an eval suite is MBs against TBs), so it broadcasts and the corpus-side
    shingles stream through a broadcast LEFT join — one corpus shuffle for the
    per-doc aggregate, no benchmark-side skew. Set
    ``broadcast_benchmark=False`` for a benchmark too large to broadcast (falls
    back to a shuffle join)."""
    sh = _shingle_rows(df, id_col, text_col, n)
    bench = (
        _shingle_rows(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    marked = sh.join(bench, "shingle", "left")
    return (
        marked.groupBy("doc")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),  # non-null = benchmark hit
        )
        .withColumn(
            "contamination_rate",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
        )
    )


def chunk_exact_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 10,
    min_dupes: int = 2,
    use_fingerprint: bool = False,
) -> DataFrame:
    """Sub-document exact dedup: split each normalized document into fixed-width
    word chunks and find chunks repeated across the corpus — the
    paragraph/boilerplate-level pass that document-level dedup misses (shared
    footers, license blocks, templated spans). Output: (chunk, keep_id,
    n_dupes) for every chunk occurring ≥ ``min_dupes`` times.

    The chunk text is built by slicing the token array per chunk index
    (sequence + explode + slice — all codegen'd; no collect_list whose order
    would be nondeterministic), then one hash-agg on the chunk.
    ``use_fingerprint=True`` groups on ``xxhash64(chunk)`` instead of the raw
    string — constant-width shuffle keys, the 100 TB path (same trade as
    dedup_exact); the string key is the oracle-friendly default."""
    toks = F.split(F.lower(normalize_text(F.col(text_col))), " ")
    base = df.select(F.col(id_col).alias("doc"), toks.alias("_w"))
    n_chunks = F.ceil(F.size("_w") / F.lit(chunk_words)).cast("int")
    chunks = base.select(
        "doc",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("_ci"),
        "_w",
    ).select(
        "doc",
        F.concat_ws(
            " ", F.slice("_w", F.col("_ci") * chunk_words + 1, chunk_words)
        ).alias("chunk"),
    )
    key = F.xxhash64("chunk").alias("chunk_key") if use_fingerprint else F.col("chunk")
    grouped = (
        chunks.groupBy(key)
        .agg(F.min("doc").alias("keep_id"), F.count("*").alias("n_dupes"))
        .filter(F.col("n_dupes") >= min_dupes)
    )
    return grouped


def top_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 20
) -> DataFrame:
    """Corpus n-gram document-frequency statistics: the ``k`` distinct word
    n-grams appearing in the most documents (ties broken lexicographically —
    deterministic top-k). The boilerplate-discovery / stop-shingle-selection
    companion to ``ngram_jaccard_pairs``'s ``max_df`` knob: its output IS the
    evidence for choosing that cap. One hash-agg + a global top-k (Spark runs
    ORDER BY+LIMIT as per-partition TakeOrdered — no full sort)."""
    sh = _shingle_rows(df, id_col, text_col, n)
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(k)
    )


def dedup_clusters_star(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR contraction —
    the O(log n)-round algorithm (public MapReduce formulation: Kiveris et al.,
    "Connected Components in MapReduce and Beyond"), the scale path where
    ``dedup_clusters``'s min-label propagation (O(diameter) rounds) would need
    one round per hop on chain-shaped components.

    large-star: every node u connects its LARGER neighbors to m = min(Γ(u)∪{u});
    small-star: every node u connects its smaller-or-equal neighborhood to its
    minimum. The edge set contracts to stars centered at each component's
    minimum id; each round is a handful of hash joins/aggregations on the pair
    graph (near-linear in duplicate count, never corpus-sized).

    Input: (id1, id2) pairs. Output: (doc_id, cluster_id) for every paired doc.
    """
    nodes = (
        pairs.select(F.col("id1").alias("doc_id"))
        .union(pairs.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    e = (
        pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _large_star(edges: DataFrame) -> DataFrame:
        nbr = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m = nbr.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        return (
            nbr.join(m, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        d = edges.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).where(F.col("a") != F.col("b")).distinct()
        m = d.groupBy("a").agg(F.min("b").alias("m"))
        joined = d.join(m, "a")
        out = joined.select(F.col("b").alias("a"), F.col("m").alias("b")).union(
            m.select(F.col("a"), F.col("m").alias("b"))
        )
        return out.where(F.col("a") != F.col("b")).distinct()

    converged = False
    for _ in range(max_iters):
        # localCheckpoint (eager) truncates the logical plan each round —
        # without it Catalyst re-analyzes a plan that doubles per iteration and
        # analysis time explodes long before execution does (measured: a
        # 40-node chain went from minutes to seconds)
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        changed = (
            e2.subtract(e).limit(1).count() + e.subtract(e2).limit(1).count()
        )
        _drop_checkpoint(e)
        e = e2
        if changed == 0:
            converged = True
            break
    if not converged:
        _drop_checkpoint(e)
        raise RuntimeError(
            f"dedup_clusters_star did not converge within max_iters={max_iters}"
        )
    # converged stars: every non-minimum node carries an edge to its component
    # minimum; minima label themselves
    star = e.select(
        F.greatest("a", "b").alias("doc_id"), F.least("a", "b").alias("cluster_id")
    ).groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))
    return nodes.join(star, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id")
    )


def dedup_clusters(
    pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected components with
    the min doc id as the canonical representative — the step a real dedup
    pipeline needs after pair generation (keep one doc per component, not per
    pair; A~B and B~C must collapse A,B,C together even though (A,C) was never
    emitted).

    Algorithm: iterative min-label propagation over the undirected edge list —
    each round every node adopts the smallest label among itself and its
    neighbors; converges in O(component diameter) rounds (near-dup components
    are shallow in practice; ``max_iters`` bounds the rounds, and a chain
    deeper than that raises instead of returning unconverged ids). The large-
    star/small-star contraction (:func:`dedup_clusters_star`) is the O(log n)
    path for deep components.

    Each round is ONE aggregate and ONE action: round 1 groups the
    both-direction edges (label = least(min(neighbor), self)); every later
    round groups neighbor labels ∪ own label and carries the old label along.
    The round's frame is a lazy local checkpoint, so one filtered count
    (label changed) both fills it and probes convergence, and the previous
    round is then dropped. The checkpoint also cuts the lineage: a persisted
    round frame embeds every earlier round's cached plan, which Spark renders
    (initial and final adaptive plan) for every action — the string grew ~3×
    per round and a 6-hop chain exhausted a 2 GB driver heap. The returned
    frame is the last round's checkpoint, the only RDD the call leaves
    persisted.

    Input: (id1, id2) pairs. Output: (doc_id, cluster_id).
    """
    from pyspark import StorageLevel

    edges = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b")).union(
        pairs.select(F.col("id2").alias("a"), F.col("id1").alias("b"))
    )
    # lazily cached: round 1's action fills it, so a costly pair lineage (a
    # kernel frame, not a literal list) runs once instead of once per round
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)

    def settle(frame: DataFrame) -> tuple[DataFrame, int]:
        frame = frame.localCheckpoint(eager=False)
        return frame, frame.filter(F.col("cluster_id") != F.col("_old")).count()

    labels, changed = settle(
        edges.groupBy(F.col("a").alias("doc_id"))
        .agg(F.least(F.min("b"), F.first("a")).alias("cluster_id"))
        .withColumn("_old", F.col("doc_id"))
    )
    rounds = 1
    while changed:
        if rounds == max_iters:
            edges.unpersist()
            _drop_checkpoint(labels)
            # a chain-shaped component longer than max_iters would otherwise
            # return silently WRONG cluster ids (ADVICE r02 low) — fail loudly
            raise RuntimeError(
                f"dedup_clusters did not converge within max_iters={max_iters} "
                "(component diameter exceeds the iteration budget; raise max_iters)"
            )
        nbr = edges.join(labels.select(F.col("doc_id").alias("b"), "cluster_id"), "b")
        new, changed = settle(
            nbr.select(
                F.col("a").alias("doc_id"),
                "cluster_id",
                F.lit(None).cast(labels.schema["cluster_id"].dataType).alias("_old"),
            )
            .union(
                labels.select("doc_id", "cluster_id", F.col("cluster_id").alias("_old"))
            )
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"), F.max("_old").alias("_old"))
        )
        _drop_checkpoint(labels)
        labels = new
        rounds += 1
    edges.unpersist()
    return labels.select("doc_id", "cluster_id")
