"""Stage 3: per-file signatures — chunk shingles → MinHash + SimHash.

One ``mapInArrow`` pass over the corpus computes, per file:
  chunks (CDC kernel) → shingles (w-grams of chunk hashes) →
  K-permutation MinHash (batched numpy, Broder '97) + 64-bit SimHash
  (Charikar '02, unweighted bit votes).

Design notes for scale:
- Signatures are computed in the SAME pass that chunks the file — no
  groupBy(file_id) shuffle to reassemble chunk streams; the corpus scan is
  the only input.
- MinHash universal hash is ``(a_i * x + b_i) mod (2^31-1)`` with x a
  31-bit reduction of the shingle hash: all arithmetic fits int64, so the
  identical formula runs in numpy here, in pyspark.sql.functions for the
  relational variant, and in ANSI SQL for the DuckDB oracle.
- Empty files (no chunks) get an empty minhash/simhash=0 row so the
  signature table stays 1:1 with the corpus (content_sha256 invariant
  carried through).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..chunkers import chunk_fn
from ..config import MERSENNE31, DedupConfig, minhash_coeffs

SIG_SCHEMA = (
    "file_id long, n_chunks int, n_shingles int, "
    "minhash array<long>, simhash long, shingles array<long>"
)

_EMPTY_MINHASH_SENTINEL = MERSENNE31  # > any real hash value


_MIX_P1 = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant
_MIX_P2 = np.uint64(0xBF58476D1CE4E5B9)  # splitmix64 finalizer constants
_MIX_P3 = np.uint64(0x94D049BB133111EB)


def _mix_wgrams(d: np.ndarray, w: int) -> np.ndarray:
    """Vectorized w-gram hash over per-chunk digest words: multiply-xor
    chain across the window, then a splitmix64-style finalizer. Replaces a
    per-gram blake2b call (measured ~0.5 ms/file — a quarter of the
    signature kernel) with pure numpy; uint64 arithmetic wraps mod 2^64.
    """
    m = d.size - w + 1
    h = d[:m].copy()
    for j in range(1, w):
        h = h * _MIX_P1 ^ d[j:j + m]
    h ^= h >> np.uint64(30)
    h *= _MIX_P2
    h ^= h >> np.uint64(27)
    h *= _MIX_P3
    h ^= h >> np.uint64(31)
    return h


def shingle_hashes(data: bytes, cfg: DedupConfig) -> np.ndarray:
    """Chunk → w-gram shingles → uint64 hashes (one content scan).

    The shingle token stream is the file's CDC chunk-hash sequence — the
    reference's dedup unit (writer.go Fragment.Hash) lifted to w-grams so
    near-dup detection tolerates chunk-local edits. The w-gram combiner is
    ``_mix_wgrams`` over the first 8 bytes of each chunk digest.
    """
    fn = chunk_fn(cfg.mode)
    mv = memoryview(data)  # no per-chunk bytes copy on the hash input
    digests = [
        hashlib.new(cfg.hash_name, mv[off:off + ln]).digest()
        for off, ln in fn(data, cfg.max_size)
    ]
    n = len(digests)
    if n == 0:
        return np.empty(0, dtype=np.uint64), 0
    dsize = len(digests[0])
    arr = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(n, dsize)
    d = arr[:, :8].copy().view(">u8").ravel().astype(np.uint64)
    w = min(cfg.shingle_w, n)
    return _mix_wgrams(d, w), n


def minhash_simhash(x: np.ndarray, a: np.ndarray, b: np.ndarray):
    """Batched MinHash + SimHash from shingle hashes ``x`` (uint64)."""
    if x.size == 0:
        return np.full(a.shape[0], _EMPTY_MINHASH_SENTINEL, dtype=np.int64), 0
    x31 = (x % np.uint64(MERSENNE31)).astype(np.int64)  # reduce into field
    # (K, n) universal hashes; a,b int64, x31 < 2^31 → products < 2^62
    hv = (a[:, None] * x31[None, :] + b[:, None]) % MERSENNE31
    mh = hv.min(axis=1)
    # SimHash: unweighted ±1 votes per bit of the raw 64-bit shingle hash.
    # unpackbits over the little-endian byte view: column j IS bit j of the
    # word (identical values to a shift-and-mask matrix at 1/8 the memory
    # traffic — this runs on every shingle of the corpus)
    bits = np.unpackbits(
        x.view(np.uint8).reshape(x.size, 8), axis=1, bitorder="little"
    )
    votes = 2 * bits.sum(axis=0, dtype=np.int64) - np.int64(x.size)
    sim = 0
    for j in range(64):
        if votes[j] > 0:
            sim |= 1 << j
    # store as signed 64-bit (Spark long)
    if sim >= 1 << 63:
        sim -= 1 << 64
    return mh, sim


def _sig_record_batch(ids, contents, a, b, cfg) -> pa.RecordBatch:
    """Kernel loop shared by both feed paths: (file_id, bytes) rows →
    one signature RecordBatch."""
    o_id, o_nc, o_ns, o_mh, o_sh, o_sg = [], [], [], [], [], []
    for fid, data in zip(ids, contents):
        data = data or b""
        x, n_chunks = shingle_hashes(data, cfg)
        mh, sim = minhash_simhash(x, a, b)
        o_id.append(fid)
        o_nc.append(n_chunks)
        o_ns.append(int(x.size))
        o_mh.append(mh.tolist())
        o_sh.append(sim)
        # bottom-k sketch of the distinct shingles (np.unique is
        # sorted, so the first k ARE the k smallest) — the exact-
        # Jaccard verify set; emitted here so the corpus is
        # scanned ONCE
        u = np.unique(x)[:cfg.max_shingles]
        o_sg.append(u.astype(np.int64).tolist())
    return pa.RecordBatch.from_arrays(
        [
            pa.array(o_id, pa.int64()),
            pa.array(o_nc, pa.int32()),
            pa.array(o_ns, pa.int32()),
            pa.array(o_mh, pa.list_(pa.int64())),
            pa.array(o_sh, pa.int64()),
            pa.array(o_sg, pa.list_(pa.int64())),
        ],
        names=["file_id", "n_chunks", "n_shingles", "minhash",
               "simhash", "shingles"],
    )


def compute_signatures(corpus: DataFrame, cfg: DedupConfig,
                       content_col: str = "content",
                       id_col: str = "file_id") -> DataFrame:
    """Corpus → signatures DataFrame (SURVEY.md A7/A8)."""
    a_list, b_list = minhash_coeffs(cfg.num_perm, cfg.seed)

    def sig_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        a = np.asarray(a_list, dtype=np.int64)
        b = np.asarray(b_list, dtype=np.int64)
        for batch in batches:
            # content arrives as BINARY (cast JVM-side): to_pylist yields
            # bytes directly — no Arrow utf-8 decode + Python re-encode of
            # the whole corpus
            yield _sig_record_batch(
                batch.column(0).to_pylist(),
                batch.column(1).to_pylist(),
                a, b, cfg,
            )

    return corpus.select(
        F.col(id_col).alias("file_id"),
        # string→binary is a zero-copy reinterpretation of the UTF8String
        # bytes JVM-side; the kernel needs bytes, never str
        F.col(content_col).cast("binary").alias("content"),
    ).mapInArrow(sig_batches, SIG_SCHEMA)


def parquet_scan_tasks(corpus_path: str) -> list:
    """Driver-side split planning for the Python-native feed: one
    (path, row_group, uncompressed_bytes) triple per parquet row group
    (footer metadata only — no data read). The Iceberg analog lists data
    files + split offsets from the catalog manifest."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def footer(fp):
        md = pq.ParquetFile(fp).metadata
        return [
            (fp, rg, md.row_group(rg).total_byte_size)
            for rg in range(md.num_row_groups)
        ]

    paths = [
        os.path.join(corpus_path, name)
        for name in sorted(os.listdir(corpus_path))
        if name.endswith(".parquet")
    ]
    # serial footer opens cost ~5 ms each — 1.4 s of dead driver time on a
    # 256-file corpus (event-log measured); a thread pool makes it ~0.1 s
    with ThreadPoolExecutor(max_workers=16) as ex:
        return [t for ts in ex.map(footer, paths) for t in ts]


def _pack_tasks(tasks: list, n_buckets: int) -> list:
    """Greedy size-balanced bin packing (largest first, into the lightest
    bucket) — the same job Spark's FilePartition packing does for JVM
    scans. Returns a list of [(path, rg), ...] buckets."""
    import heapq

    n_buckets = max(1, min(n_buckets, len(tasks)))
    heap = [(0, i) for i in range(n_buckets)]  # (bytes, bucket)
    heapq.heapify(heap)
    buckets = [[] for _ in range(n_buckets)]
    for path, rg, sz in sorted(tasks, key=lambda t: (-t[2], t[0], t[1])):
        filled, i = heapq.heappop(heap)
        buckets[i].append((path, rg))
        heapq.heappush(heap, (filled + sz, i))
    return [b for b in buckets if b]


def compute_signatures_direct(spark, corpus_path: str, cfg: DedupConfig,
                              content_col: str = "content",
                              id_col: str = "file_id",
                              rows_per_kernel_batch: int = 64,
                              n_tasks: int | None = None) -> DataFrame:
    """Signatures with a PYTHON-NATIVE parquet feed: tasks carry (file,
    row_group) coordinates; each Python worker opens its split with
    pyarrow and streams bytes straight into the kernel.

    Why this exists (measured, BENCH/BASELINE.md §4): the JVM-scan path
    copies every corpus byte ~6× (parquet decompress → UTF8String →
    binary → Arrow IPC → local socket → Python), and with 8 concurrent
    Arrow feed streams in one JVM that path hits a machine-level per-byte
    floor that caps stage scaling at ~0.83 regardless of kernel speed.
    Reading the columnar split in the worker (pyarrow C++, zero JVM
    involvement) makes the feed scale with the workers themselves. This
    is the standard Spark pattern for Python-heavy columnar stages
    (file-list DataFrame + mapInArrow reader — same shape petastorm/NVT
    use); Spark still owns scheduling, retries, and everything downstream
    of the signature rows. Column pruning is explicit (``columns=[id,
    content]``), predicate pushdown is irrelevant (the kernel reads every
    row), and the output is row-for-row identical to
    ``compute_signatures`` (equivalence-tested).
    """
    a_list, b_list = minhash_coeffs(cfg.num_perm, cfg.seed)
    tasks = parquet_scan_tasks(corpus_path)
    if not tasks:
        raise FileNotFoundError(f"no parquet files under {corpus_path}")
    # Task granularity matters twice (measured): mapInArrow pays a fixed
    # per-task cost (~0.14 s even with worker reuse), so row-group-per-task
    # over small row groups drowns in setup; and a python-RDD-backed task
    # frame (createDataFrame over parallelize) adds a whole extra
    # pickled-conversion pass per partition (~10 s on a 256-task corpus).
    # So: greedy size-balanced buckets, ONE LocalRelation row per bucket
    # (driver→JVM directly, no python-RDD path), round-robin repartition
    # to exactly one task per bucket.
    if n_tasks is None:
        par = spark.sparkContext.defaultParallelism
        total = sum(t[2] for t in tasks)
        # ~2 waves of core-count tasks (uniform corpora: full waves, no
        # straggler tail), floored by a bytes target for huge inputs;
        # rounded up to a multiple of the core count so every wave is full
        n_raw = max(2 * par, int(total // (512 << 20)) + 1)
        n_tasks = ((n_raw + par - 1) // par) * par
    buckets = _pack_tasks(tasks, n_tasks)

    bc_buckets = spark.sparkContext.broadcast(buckets)
    # worker wall/CPU totals ride accumulators (per-task delivery, ~zero
    # overhead): feed_metrics()["cpu_s"] after an action gives the exact
    # Python-side cost of the feed+kernel — the mid-run host-health
    # signal an endpoint canary cannot see (this VM's host flips
    # performance modes mid-run; BENCH/BASELINE.md §4).
    wall_acc = spark.sparkContext.accumulator(0.0)
    cpu_acc = spark.sparkContext.accumulator(0.0)
    global _LAST_FEED_ACCS
    _LAST_FEED_ACCS = {"wall_s": wall_acc, "cpu_s": cpu_acc}

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import time

        import pyarrow.parquet as pq

        a = np.asarray(a_list, dtype=np.int64)
        b = np.asarray(b_list, dtype=np.int64)
        for batch in batches:
            for bucket_id in batch.column(0).to_pylist():
                t0w, t0c = time.time(), time.process_time()
                for path, rg in bc_buckets.value[bucket_id]:
                    pf = pq.ParquetFile(path)
                    # bounded batches: a row group may decompress to
                    # hundreds of MB; use_threads=False — one core per
                    # worker, the parallelism is Spark's
                    for tb in pf.iter_batches(
                        batch_size=rows_per_kernel_batch,
                        row_groups=[rg],
                        columns=[id_col, content_col],
                        use_threads=False,
                    ):
                        ids = tb.column(0).to_pylist()
                        col = tb.column(1)
                        if pa.types.is_string(col.type):
                            col = col.cast(pa.binary())  # zero-copy view
                        elif pa.types.is_large_string(col.type):
                            col = col.cast(pa.large_binary())
                        yield _sig_record_batch(
                            ids, col.to_pylist(), a, b, cfg
                        )
                wall_acc.add(time.time() - t0w)
                cpu_acc.add(time.process_time() - t0c)

    # exactly ONE bucket per task, with NO shuffle and NO sampling job:
    # spark.range(n, numPartitions=n) is a leaf with one id per partition
    # (round-robin repartition collided — event-log audit found 0-bucket
    # and 2-bucket tasks, a whole straggler wave at 8 cores — and
    # repartitionByRange costs a separate range-sampling job); the bucket
    # payload rides a broadcast, not the rows.
    tasks_df = spark.range(0, len(buckets), 1, len(buckets))
    return tasks_df.mapInArrow(run, SIG_SCHEMA)


_LAST_FEED_ACCS: dict | None = None


def feed_metrics() -> dict | None:
    """Worker wall/CPU totals of the most recent
    ``compute_signatures_direct`` plan, valid after an action has run it:
    ``{"wall_s": float, "cpu_s": float}``. None if the direct feed has
    not been built in this process."""
    if _LAST_FEED_ACCS is None:
        return None
    return {k: round(float(v.value), 2) for k, v in _LAST_FEED_ACCS.items()}


def minhash_jaccard_est(col_a: str, col_b: str, k: int):
    """Estimated Jaccard = fraction of agreeing MinHash components —
    pure JVM expression (zip_with + aggregate)."""
    return (
        F.aggregate(
            F.zip_with(
                F.col(col_a), F.col(col_b),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / k
    )
