"""One benchmark run in one process: set up, warm up, time, check, report.

Started by ``run.py`` (which owns the scratch directory, the environment
and the process group); not meant to be run by hand. The load is a single
closed-loop caller on ``local[<cores>]``: each timed pass starts when the
previous one has ended and its output has been checked.

A *pass* is the unit the workload times; an *op* is one public call
inside it:

- batch:  one ``run_pipeline`` call up to a materialized distinct-cluster
  count (one op per pass);
- sql:    each declared query of ``SQL_QUERIES`` to a noop sink (one op
  per query).

With ``--trace 1`` the event log is on for the whole process (launch
config), but its listener is detached until the timed passes are over, so
the warm-up and timed passes run untraced and only the traced pass is
logged.

Before every pass the Spark cache is cleared and the input re-cached, and
the run checks that only the input is persisted. Every pass's output is
checked against the oracle outside the timed region; a failed call or a
failed check counts in ``failed``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = len(os.sched_getaffinity(0))

# Files per generated corpus and dup share (synth.generate_corpus).
BATCH_FILES = 2000
DUP_FRACTION = 0.4
# The traced fold: the batch corpus as this many incremental_update calls
# (file_id % FOLD_BATCHES) into fresh state, then current_clusters.
FOLD_BATCHES = 4
MIN_RECALL = 0.99
MIN_AGREEMENT = 0.99
# The declared queries the timed sql passes sweep, in queries() order:
# exact-dup grouping over the _par_read document scan, the ngram pair
# aggregation, and the connected-components trio built on its pairs.
SQL_QUERIES = (
    "exact_dup_groups", "ngram_jaccard_pairs", "neardup_components",
    "neardup_survivors", "dedup_reduction_stats",
)
# Every declared query, in queries() order: the traced sql pass times each.
ENTRY_QUERIES = (
    "exact_dup_groups", "doc_dedup_stats", "doc_manifest", "chunk_manifest",
    "chunk_dedup_stats", "max_mem", "dup_docs_by_lang", "zpaq_chunk_stats",
    "token_stats", "quality_scores", "lang_id", "doc_fingerprints",
    "passage_dedup", "doc_repetition", "minhash_signatures",
    "minhash_band_candidates", "simhash_docs", "ngram_jaccard_pairs",
    "neardup_components", "neardup_survivors", "dedup_reduction_stats",
    "embedding_neighbors", "embedding_topk", "embedding_ann",
    "pricing_summary", "top_customers", "user_event_windows", "mem_use",
    "block_sizes", "backref_stats", "event_sessions", "doc_stats_cube",
)
PIPELINE_LAYERS = ("signatures", "groups", "lsh", "verify", "cluster",
                   "pipeline")
LAYER_FIELDS = ("wall_s", "jobs", "tasks", "task_s", "busy", "proc_cpu_s",
                "gc_s", "shuffle_mb", "spill_mb", "task_skew", "rows_out")


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in BENCHMARK.json order."""
    names = [f"{layer}.{f}" for layer in PIPELINE_LAYERS for f in LAYER_FIELDS]
    names += ["groups.contraction", "lsh.dropped_buckets", "verify.yield",
              "pipeline.driver_gap_s", "pipeline.cached_mb",
              "trace.overhead_s"]
    names += [f"setup.{p}_s" for p in ("session", "input", "oracle", "warmup")]
    names += [f"streaming.fold{i}_s" for i in range(FOLD_BATCHES)]
    names += [f"streaming.{m}" for m in (
        "fold_jobs", "fold_task_s", "fold_shuffle_mb", "fold_untagged_jobs",
        "state_mb", "state_bytes_per_input_byte", "serve_s", "serve_jobs",
        "serve_task_s")]
    names += [f"entry.{q}_s" for q in ENTRY_QUERIES]
    for q in ("minhash_band_candidates", "ngram_jaccard_pairs"):
        names += [f"entry.{q}.shuffle_mb", f"entry.{q}.spill_mb"]
    return names


class CheckFailed(Exception):
    """An output check failed; ``ops`` is how many ops it covers."""

    def __init__(self, msg: str, ops: int = 1):
        super().__init__(msg)
        self.ops = ops


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every live descendant
    (the Python driver, the JVM, the Python workers), plus what each has
    reaped. Spark's executor CPU time counts JVM threads only, not the
    Python workers that run the signature and UDF kernels."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2:].split()
        parent[int(d)] = int(rest[1])
        cpu[int(d)] = sum(int(x) for x in rest[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(p for p, pp in parent.items() if pp == pid)
    return total / os.sysconf("SC_CLK_TCK")


class Tracer:
    """Layer windows for the traced run: tags jobs with the layer name and
    records wall time and process-tree CPU around each layer call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.windows: dict[str, list[tuple[float, float]]] = {}
        self.cpu: dict[str, float] = {}

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(name, name)
        c0, t0 = tree_cpu_s(os.getpid()), time.time()
        try:
            yield
        finally:
            t1, c1 = time.time(), tree_cpu_s(os.getpid())
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.windows.setdefault(name, []).append((t0 * 1000, t1 * 1000))
            self.cpu[name] = self.cpu.get(name, 0.0) + (c1 - c0)

    def wall_s(self, name: str) -> float:
        return sum(b - a for a, b in self.windows.get(name, [])) / 1000.0


def release_all(spark) -> None:
    """Drop every Dataset cache and every persisted RDD (localCheckpoint
    blocks and persists made outside the Dataset cache manager)."""
    spark.catalog.clearCache()
    for _, rdd in list(spark.sparkContext._jsc.getPersistentRDDs().items()):
        rdd.unpersist(True)


def persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def cached_mb(spark, exclude: set[int]) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos if i.id() not in exclude) / 1e6


def event_log_pause(spark):
    """Detach the event-log listener the launch config started; returns it
    for ``event_log_resume``. Events queued before the call are written."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger().get()
    sc.removeSparkListener(logger)
    return logger


def event_log_resume(spark, logger) -> None:
    spark.sparkContext._jsc.sc().listenerBus().addToEventLogQueue(logger)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Batch:
    """run_pipeline over a cached in-memory corpus (no corpus_path),
    checked against the single-node oracle."""

    ops_per_pass = 1
    warmup_passes = 2  # untimed, after the cold pass, inside set-up
    traced_ops = 3  # the layered pass, the pipeline call, the fold + serve

    def __init__(self, spark, scratch: str, seed: int):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from dedup_spark.config import DedupConfig
        from dedup_spark.oracle import run_oracle
        from dedup_spark.synth import generate_corpus
        from pyspark.sql import functions as F

        self.spark, self.scratch = spark, scratch
        self.checks: list[dict] = []
        t0 = time.perf_counter()
        rows = generate_corpus(BATCH_FILES, seed=seed,
                               dup_fraction=DUP_FRACTION)
        for i, r in enumerate(rows):
            r["file_id"] = i
            del r["cluster_gt"]
        self.input_bytes = sum(len(r["content"].encode()) for r in rows)
        path = os.path.join(scratch, "corpus.parquet")
        pq.write_table(pa.Table.from_pylist(rows), path)
        self.df = (
            spark.read.parquet(path).repartition(2 * CORES)
            .withColumn("content_sha256", F.sha2("content", 256))
        )
        release_all(spark)
        self.df.cache().count()
        self.input_ids = {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
        self.input_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.pairs, self.labels = run_oracle(
            [(r["file_id"], r["content"]) for r in rows], DedupConfig())
        self.n_clusters = len(set(self.labels.values()))
        self.oracle_s = time.perf_counter() - t0

    def check(self, got: dict[int, int]) -> dict[str, float]:
        """Compare (file_id -> cluster_id) with the oracle; raises
        CheckFailed below the recall or agreement floor."""
        if set(got) != set(self.labels):
            raise CheckFailed(f"{len(got)} files clustered, "
                              f"{len(self.labels)} in the corpus")
        hit = sum(1 for a, b in self.pairs if got[a] == got[b])
        recall = hit / len(self.pairs) if self.pairs else 1.0
        agree = sum(1 for f, c in got.items() if self.labels[f] == c) / len(got)
        out = {"pair_recall": recall, "cluster_agreement": agree,
               "clusters": len(set(got.values()))}
        if recall < MIN_RECALL or agree < MIN_AGREEMENT:
            raise CheckFailed(json.dumps(out))
        self.checks.append(out)
        return out

    def reset(self) -> None:
        release_all(self.spark)
        self.df.cache().count()
        if persisted(self.spark) != 1:
            raise CheckFailed(f"{persisted(self.spark)} RDDs persisted "
                              "after re-caching the input, expected 1",
                              self.ops_per_pass)

    def run_pass(self) -> list[float]:
        from dedup_spark.config import DedupConfig
        from dedup_spark.pipeline import run_pipeline

        t0 = time.perf_counter()
        res = run_pipeline(self.df, DedupConfig())
        res["clusters"].select("cluster_id").distinct().count()
        wall = time.perf_counter() - t0
        got = {r["file_id"]: r["cluster_id"]
               for r in res["clusters"].collect()}
        self.check(got)
        return [wall]

    def summary(self, walls: list[list[float]]) -> dict:
        med = statistics.median(sum(w) for w in walls)
        return {
            "files_per_s": (BATCH_FILES / med, "1/s"),
            "pair_recall": (min(c["pair_recall"] for c in self.checks), "share"),
            "cluster_agreement": (
                min(c["cluster_agreement"] for c in self.checks), "share"),
            "clusters": (self.checks[-1]["clusters"], "count"),
            "oracle_clusters": (self.n_clusters, "count"),
        }

    def traced(self, tracer: Tracer, op_medians: list[float]) -> dict:
        """The pipeline's layers one call at a time, each output persisted
        and counted; one whole run_pipeline call; then the corpus folded
        into fresh state as FOLD_BATCHES incremental_update calls and read
        back with current_clusters."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from dedup_spark.config import DedupConfig
        from dedup_spark.operators.cluster import cluster_assignments
        from dedup_spark.operators.groups import group_star_pairs, with_groups
        from dedup_spark.operators.lsh import (
            candidate_pairs, dropped_bucket_metrics)
        from dedup_spark.operators.signatures import compute_signatures
        from dedup_spark.operators.verify import verify_pairs
        from dedup_spark.pipeline import run_pipeline
        from dedup_spark.streaming import current_clusters, incremental_update

        cfg, lvl = DedupConfig(), StorageLevel.MEMORY_AND_DISK_DESER
        group_cols = ["g1", "g2", "rep", "group_size"]
        rows = {}
        self.reset()
        with tracer.layer("signatures"):
            sigs = compute_signatures(self.df, cfg).persist(lvl)
            rows["signatures"] = n_sigs = sigs.count()
        with tracer.layer("groups"):
            sig_groups = with_groups(sigs).persist(lvl)
            sig_groups.count()
            groups = sig_groups.select("file_id", *group_cols)
            rep_sigs = sig_groups.where(
                F.col("file_id") == F.col("rep")).drop(*group_cols)
            rows["groups"] = rep_sigs.count()
        with tracer.layer("lsh"):
            pairs = candidate_pairs(rep_sigs, cfg, n_rows=n_sigs).persist(lvl)
            rows["lsh"] = pairs.count()
        with tracer.layer("verify"):
            edges = verify_pairs(pairs, rep_sigs,
                                 rep_sigs.select("file_id", "shingles"),
                                 cfg).persist(lvl)
            rows["verify"] = edges.count()
        with tracer.layer("cluster"):
            clusters = cluster_assignments(
                groups.select("file_id"),
                group_star_pairs(groups).unionByName(
                    edges.where("verified").select("src", "dst")),
                edges_canonical=True,
            ).persist(lvl)
            rows["cluster"] = clusters.count()
        self.check(
            {r["file_id"]: r["cluster_id"] for r in clusters.collect()})
        verified = edges.where("verified").count()
        dropped = dropped_bucket_metrics(rep_sigs, cfg).first()

        self.reset()
        with tracer.layer("pipeline"):
            res = run_pipeline(self.df, cfg)
            rows["pipeline"] = res["clusters"].select(
                "cluster_id").distinct().count()
        self.check(
            {r["file_id"]: r["cluster_id"] for r in res["clusters"].collect()})
        extra = {
            "groups.contraction": rows["groups"] / n_sigs,
            "lsh.dropped_buckets": dropped["dropped_buckets"],
            "verify.yield": verified / rows["lsh"] if rows["lsh"] else 0.0,
            "pipeline.cached_mb": cached_mb(self.spark, self.input_ids),
            # the traced whole call against the untraced median pass
            "trace.overhead_s": tracer.wall_s("pipeline") - sum(op_medians),
        }

        self.reset()
        state = os.path.join(self.scratch, "state")
        shutil.rmtree(state, ignore_errors=True)
        for b in range(FOLD_BATCHES):
            with tracer.layer("streaming.fold"):
                incremental_update(
                    self.df.where(F.col("file_id") % FOLD_BATCHES == b),
                    state, cfg)
        with tracer.layer("streaming.serve"):
            got = {r["file_id"]: r["cluster_id"]
                   for r in current_clusters(self.spark, state).collect()}
        self.check(got)
        state_bytes = dir_bytes(state)
        for i, (a, b) in enumerate(tracer.windows["streaming.fold"]):
            extra[f"streaming.fold{i}_s"] = (b - a) / 1000.0
        extra.update({
            "streaming.state_mb": state_bytes / 1e6,
            "streaming.state_bytes_per_input_byte":
                state_bytes / self.input_bytes,
            "streaming.serve_s": tracer.wall_s("streaming.serve"),
        })
        return {"rows": rows, "extra": extra}


class Sql:
    """Declared queries over the sf0.01 tables in ``sqldata/``, each
    to a noop sink; row counts checked against sql_counts.json. Timed
    passes sweep SQL_QUERIES; the traced pass sweeps every query."""

    ops_per_pass = len(SQL_QUERIES)
    warmup_passes = 1  # untimed, after the cold sweep, inside set-up
    traced_ops = len(ENTRY_QUERIES)

    def __init__(self, spark, scratch: str, seed: int):
        from regen_sql_counts import DATA, table_rows

        import __spark_entry__ as entry_mod

        self.spark, self.entry, self.data = spark, entry_mod, DATA
        t0 = time.perf_counter()
        with open(os.path.join(HERE, "sql_counts.json")) as f:
            stored = json.load(f)
        self.expected = stored["counts"]
        self.oracle_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        if table_rows() != stored["tables"]:
            raise CheckFailed("sqldata/ does not match sql_counts.json; run "
                              "perfbench/regen_sql_counts.py")
        self.input_s = time.perf_counter() - t0

    def reset(self) -> None:
        self.entry.release_caches()
        release_all(self.spark)
        if persisted(self.spark) != 0:
            raise CheckFailed(f"{persisted(self.spark)} RDDs persisted "
                              "after clearing the cache, expected 0",
                              self.ops_per_pass)

    def _sweep(self, layer, names: tuple[str, ...]) -> list[float]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        queries = self.entry.queries()
        walls, bad = [], {}
        for name in names:
            obs = Observation(name)
            with layer(f"entry.{name}"):
                t0 = time.perf_counter()
                queries[name](self.spark, self.data).observe(
                    obs, F.count(F.lit(1)).alias("rows")
                ).write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
            if obs.get["rows"] != self.expected[name]:
                bad[name] = (obs.get["rows"], self.expected[name])
        if bad:
            raise CheckFailed(f"row counts (got, expected): {bad}", len(bad))
        return walls

    def run_pass(self) -> list[float]:
        return self._sweep(_untraced, SQL_QUERIES)

    def summary(self, walls: list[list[float]]) -> dict:
        return {}  # pass_s is the query sum, op_geomean_s the query geomean

    def traced(self, tracer: Tracer, op_medians: list[float]) -> dict:
        self.reset()
        walls = dict(zip(ENTRY_QUERIES, self._sweep(tracer.layer,
                                                    ENTRY_QUERIES)))
        extra = {f"entry.{q}_s": w for q, w in walls.items()}
        # the timed queries traced against their untraced medians
        extra["trace.overhead_s"] = (
            sum(walls[q] for q in SQL_QUERIES) - sum(op_medians))
        return {"rows": {}, "extra": extra}


@contextmanager
def _untraced(name):
    yield


def log_pass(label: str, walls: list[float] | None) -> None:
    if walls is not None:
        print(f"perfbench: {label} pass {sum(walls):.3f} s", file=sys.stderr,
              flush=True)


WORKLOADS = {
    "batch_mem_2k": Batch,
    "sql_dedup5": Sql,
}


class Counter:
    """Attempted and failed ops. A failed check fails the ops it covers;
    a pass that raises fails all of its ops."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, ops: int, fn):
        """Run one pass of ``ops`` ops; returns its result, or None if it
        failed."""
        self.attempted += ops
        try:
            return fn()
        except CheckFailed as e:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
            self.failed += min(e.ops, ops)
        except Exception:  # a failing pass is reported, not fatal
            traceback.print_exc()
            self.failed += ops
        return None


def layer_metrics(tracer: Tracer, out: dict, log_dir: str) -> dict:
    """Per-layer metrics of the traced pass, 0 for layers it never ran."""
    import eventlog

    stats = eventlog.layer_stats(eventlog.read_events(log_dir), tracer.windows)
    m = {name: 0.0 for name in per_layer_names()}
    for layer in PIPELINE_LAYERS:
        s, wall = stats.get(layer), tracer.wall_s(layer)
        if s is None:
            continue
        m.update({
            f"{layer}.wall_s": wall, f"{layer}.jobs": s.jobs,
            f"{layer}.tasks": s.tasks, f"{layer}.task_s": s.task_s,
            f"{layer}.busy": s.task_s / (wall * CORES) if wall else 0.0,
            f"{layer}.proc_cpu_s": tracer.cpu[layer], f"{layer}.gc_s": s.gc_s,
            f"{layer}.shuffle_mb": s.shuffle_mb,
            f"{layer}.spill_mb": s.spill_mb, f"{layer}.task_skew": s.task_skew,
            f"{layer}.rows_out": out["rows"][layer],
        })
    if "pipeline" in stats:
        (a, b), = tracer.windows["pipeline"]
        m["pipeline.driver_gap_s"] = (
            tracer.wall_s("pipeline") - stats["pipeline"].busy_s(a, b))
    if "streaming.fold" in stats:
        fold, serve = stats["streaming.fold"], stats["streaming.serve"]
        m.update({
            "streaming.fold_jobs": fold.jobs,
            "streaming.fold_task_s": fold.task_s,
            "streaming.fold_shuffle_mb": fold.shuffle_mb,
            "streaming.fold_untagged_jobs": fold.untagged_jobs,
            "streaming.serve_jobs": serve.jobs,
            "streaming.serve_task_s": serve.task_s,
        })
    for q in ("minhash_band_candidates", "ngram_jaccard_pairs"):
        if f"entry.{q}" in stats:
            m[f"entry.{q}.shuffle_mb"] = stats[f"entry.{q}"].shuffle_mb
            m[f"entry.{q}.spill_mb"] = stats[f"entry.{q}"].spill_mb
    m.update(out["extra"])
    return m


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (the gateway JVM
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--eventlog")
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from dedup_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    event_logger = event_log_pause(spark) if args.trace else None

    wl = WORKLOADS[args.workload](spark, args.scratch, args.seed)
    counter = Counter()
    t0 = time.perf_counter()

    def one_pass():
        wl.reset()
        return wl.run_pass()

    for _ in range(1 + wl.warmup_passes):
        log_pass("warm-up", counter.run(wl.ops_per_pass, one_pass))
    warmup_s = time.perf_counter() - t0
    setup = {"session": session_s, "input": wl.input_s,
             "oracle": wl.oracle_s, "warmup": warmup_s}

    walls: list[list[float]] = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.seconds:
        w = counter.run(wl.ops_per_pass, one_pass)
        log_pass("timed", w)
        if w is not None:
            walls.append(w)
    if not walls:
        print("no timed pass succeeded", file=sys.stderr)
        return 1

    # per-op medians: one slow op in one pass moves nothing
    op_medians = [statistics.median(col) for col in zip(*walls)]
    untraced_pass = sum(op_medians)
    traced = None
    if args.trace:
        event_log_resume(spark, event_logger)
        tracer = Tracer(spark)
        traced = counter.run(wl.traced_ops,
                             lambda: wl.traced(tracer, op_medians))
        if traced is None:
            return 1
    stop_spark(spark)

    if args.trace:
        metrics = layer_metrics(tracer, traced, args.eventlog)
        metrics.update({f"setup.{k}_s": v for k, v in setup.items()})
        units = {}
    else:
        metrics = {
            "setup_s": sum(setup.values()),
            "pass_s": untraced_pass,
            "op_geomean_s": math.exp(statistics.fmean(
                math.log(m) for m in op_medians)),
        }
        units = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s"}

    lines = [f"workload {args.workload}: {len(walls)} timed passes, "
             f"{wl.ops_per_pass} ops each, {CORES} cores"]
    view = {k: (v, units[k]) for k, v in metrics.items() if k in units}
    view.update(wl.summary(walls))
    view["error_rate"] = (counter.failed / counter.attempted, "share")
    for name, (value, unit) in view.items():
        n = 1 if name == "setup_s" else len(walls)
        lines.append(f"  {name} = {value:.6g} {unit} (n={n})")
    result = {
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {
            k: {"value": float(v), "unit": units.get(k, _unit(k))}
            for k, v in metrics.items()
        },
    }
    with open(args.result, "w") as f:
        f.write("\n".join(lines) + "\n" + json.dumps(result) + "\n")
    return 0


def _unit(name: str) -> str:
    tail = name.rsplit(".", 1)[-1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if tail in ("busy", "task_skew", "contraction", "yield",
                "state_bytes_per_input_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
