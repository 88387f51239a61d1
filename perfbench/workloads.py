"""The three workloads: set-up, timed job and correctness gate.

* batch_100k: the 100k-file continuity corpus of bench.py through the
  in-memory pipeline (`run_pipeline(workdir=None, collect_metrics=False)`).
* boilerplate_ckpt_100k: a licence-header and hot-repo corpus run the way
  `cli run` runs it: checkpointed through StageCatalog with metrics on,
  then `dedup_output` written to parquet.
* stream_ingest: a static index signed at set-up, then one closed-loop
  client that drops one file into the stream source and drains it with
  `run_incremental_dedup` (availableNow) before sending the next.

Every job runs in a fresh JVM on local[nproc]; `stop_session` shuts the
JVM down so the next session starts cold.

BENCHMARK.json lists the last two: between them they reach every layer.
A full measurement campaign makes 22 runs per listed workload, and on a
4-core host a third ~45 s workload does not fit its time budget.
batch_100k, the cheapest and the only one without the catalog, stays
runnable by name for continuity with bench.py's 100k corpus.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field, replace

import pandas as pd
import pyarrow.parquet as pq

from polyminhash_spark.config import DedupConfig, default_config
from polyminhash_spark.corpus import CorpusParams
from perfbench.inputs import Inputs, prepare
from perfbench.ledger import RssSampler, StatusStore, alive, descendants

NPROC = len(os.sched_getaffinity(0))
RECALL_MIN = 0.99
# compaction fires on every batch_id > 0 divisible by this: with 1, the
# second micro-batch already folds the index tail
COMPACT_EVERY = 1
STREAM_SCHEMA = "repo string, path string, commit string, lang string, content string"


@dataclass(frozen=True)
class Workload:
    name: str
    params: CorpusParams           # seed and size are filled in per run
    checkpointed: bool = False
    stream: bool = False
    clusters_at_42: int | None = None


WORKLOADS = {w.name: w for w in (
    Workload("batch_100k", CorpusParams(n_files=100_000, dup_frac=0.2),
             clusters_at_42=85_716),
    Workload("boilerplate_ckpt_100k",
             CorpusParams(n_files=100_000, dup_frac=0.6,
                          license_header_frac=0.5, hot_repo_frac=0.3),
             checkpointed=True, clusters_at_42=69_520),
    Workload("stream_ingest", CorpusParams(dup_frac=0.5), stream=True),
)}

# stream sizing: (static index rows, rows per micro-batch)
STREAM_FULL = (2_000, 400)
STREAM_TOY = (200, 20)
TOY_FILES = 400


def config() -> DedupConfig:
    """cli defaults, with the signature repartition floor sized to the
    host the way build_session sizes spark.sql.shuffle.partitions."""
    return default_config().with_(shuffle_partitions=NPROC)


def stream_batches(seconds: int) -> int:
    """Micro-batches drained in a run: at least two, so that one
    compaction fires; more when the run is given more time."""
    return max(2, seconds // 15)


def make_inputs(wl: Workload, seed: int, seconds: int, toy: bool,
                cache_root: str) -> Inputs:
    cfg = config()
    if wl.stream:
        static_rows, batch_rows = STREAM_TOY if toy else STREAM_FULL
        k = 2 if toy else stream_batches(seconds)
        params = replace(wl.params, seed=seed,
                         n_files=static_rows + k * batch_rows)
        return prepare(cache_root, params, cfg, stream=(k, batch_rows))
    n = TOY_FILES if toy else wl.params.n_files
    return prepare(cache_root, replace(wl.params, seed=seed, n_files=n), cfg)


# --- sessions ---------------------------------------------------------------

def start_session(run_dir: str):
    from polyminhash_spark.session import build_session

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = build_session(
        app_name="perfbench", master=f"local[{NPROC}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # no hsperfdata file under /tmp either
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, kill: bool = False) -> None:
    """End the session and its JVM, so the next session launches a new one.

    kill=True is for the last session of a run, whose outputs are already
    read: the JVM is killed instead of stopped (a graceful stop after a
    100k job takes seconds), and every process it had started is waited
    for."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if kill:
        pids = descendants(os.getpid())
        # its connection to the JVM ends with the kill; nothing to report
        spark.sparkContext._accumulatorServer.handle_error = lambda *a: None
        gateway.proc.kill()
        gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while any(alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.05)
    else:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def register(wl: Workload, spark, inputs: Inputs):
    """Input registration, the part of set-up after session start: the
    corpus scan for batch workloads; the signed, cached static index for
    the stream."""
    if not wl.stream:
        src = spark.read.parquet(inputs.corpus)
        src.inputFiles()
        return src
    from polyminhash_spark.operators.normalize import normalize
    from polyminhash_spark.operators.signatures import add_signatures
    from polyminhash_spark.streaming.dedup_stream import STREAM_CARRY

    cfg = config()
    # signed as scanned: a few thousand rows need no spreading, and a
    # one-partition index adds one task, not a dozen, to every union a
    # micro-batch makes with it
    static = add_signatures(normalize(spark.read.parquet(inputs.static), cfg),
                            cfg, carry_cols=STREAM_CARRY,
                            repartition=False).persist()
    static.count()
    return static


# --- timed jobs -------------------------------------------------------------

@dataclass
class JobResult:
    wall_s: float
    first_stage: int
    end_stage: int
    peak_rss_mb: float
    files: int                       # input files the job processed
    table: pd.DataFrame              # checked output (hex ids)
    counts: dict = field(default_factory=dict)
    output_write_s: float = 0.0
    batches: list[dict] = field(default_factory=list)


def _hex(col: pd.Series) -> pd.Series:
    return col.map(bytes.hex)


def run_batch(wl: Workload, spark, src, run_dir: str, store: StatusStore,
              tracer=None) -> JobResult:
    from polyminhash_spark.pipeline import dedup_output, run_pipeline

    cfg = config()
    out = os.path.join(run_dir, "output")
    output_s = 0.0
    first = store.watermark()
    t0 = time.perf_counter()
    with RssSampler() as rss:
        if wl.checkpointed:
            res = run_pipeline(spark, src, cfg,
                               workdir=os.path.join(run_dir, "stages"),
                               collect_metrics=True)
            if tracer:
                tracer.mark("output")
            t1 = time.perf_counter()
            dedup_output(res).write.mode("overwrite").parquet(out)
            output_s = time.perf_counter() - t1
        else:
            res = run_pipeline(spark, src, cfg, workdir=None,
                               collect_metrics=False)
        if tracer:
            tracer.mark(None)
    wall = time.perf_counter() - t0
    end = store.watermark()
    if wl.checkpointed:
        table = pq.read_table(out, columns=["id", "cluster_id"]).to_pandas()
    else:
        table = res.clusters.toPandas()
        table = pd.DataFrame({"id": _hex(table["id"]),
                              "cluster_id": _hex(table["cluster_id"])})
    counts = {}
    if tracer:
        counts = {
            "rows_out": res.normalized.count(),
            "reps": res.signed.count(),
            "pairs_out": res.candidates.count(),
            "tier3_pairs": res.verified.count(),
            "dup_pairs": res.verified.filter("is_duplicate").count(),
        }
    return JobResult(wall, first, end, rss.peak_mb, len(table), table,
                     counts=counts, output_write_s=output_s)


def run_stream(spark, static, inputs: Inputs, run_dir: str,
               store: StatusStore) -> JobResult:
    from polyminhash_spark.streaming.dedup_stream import run_incremental_dedup

    cfg = config()
    incoming = os.path.join(run_dir, "incoming")
    sink = os.path.join(run_dir, "sink")
    index = os.path.join(run_dir, "index")
    os.makedirs(incoming)
    src = spark.readStream.schema(STREAM_SCHEMA).parquet(incoming)
    batches = []
    first = store.watermark()
    t0 = time.perf_counter()
    with RssSampler() as rss:
        for k, path in enumerate(inputs.batches):
            # dot-files are invisible to the file source: rename publishes
            hidden = os.path.join(incoming, f".batch_{k:04d}")
            shutil.copyfile(path, hidden)
            os.rename(hidden, os.path.join(incoming, f"batch_{k:04d}.parquet"))
            b0, tb = store.watermark(), time.perf_counter()
            q = run_incremental_dedup(
                spark, src, static, cfg, sink_path=sink,
                checkpoint_path=os.path.join(run_dir, "checkpoint"),
                index_path=index, compact_every=COMPACT_EVERY)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"micro-batch {k} failed: {q.exception()}")
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            batches.append({
                "wall_s": time.perf_counter() - tb,
                "rows": sum(p["numInputRows"] for p in progress),
                "trigger_s": sum(p["durationMs"]["triggerExecution"]
                                 for p in progress) / 1e3,
                "add_batch_s": sum(p["durationMs"].get("addBatch", 0)
                                   for p in progress) / 1e3,
                "first_stage": b0, "end_stage": store.watermark(),
            })
    wall = time.perf_counter() - t0
    end = store.watermark()
    table = pq.read_table(sink, columns=["id_a", "id_b", "is_duplicate"]) \
        .to_pandas()
    table = pd.DataFrame({"id_a": _hex(table["id_a"]), "id_b": _hex(table["id_b"]),
                          "is_duplicate": table["is_duplicate"].astype(bool)})
    index_files, index_bytes = dir_stats(index, ".parquet")
    counts = {"index_rows": pq.read_table(index, columns=["id"]).num_rows,
              "index_files": index_files, "index_bytes": index_bytes}
    return JobResult(wall, first, end, rss.peak_mb,
                     sum(b["rows"] for b in batches), table, counts=counts,
                     batches=batches)


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under path, counting names ending in suffix."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


# --- correctness gate -------------------------------------------------------

def digest(rows) -> str:
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(" ".join(map(str, row)).encode() + b"\n")
    return h.hexdigest()


def check_clusters(table: pd.DataFrame, inputs: Inputs,
                   expected_clusters: int | None) -> tuple[list[str], dict]:
    """Gate for batch workloads over the (id, cluster_id) hex table."""
    failures = []
    if len(table) != len(inputs.ids) or set(table["id"]) != set(inputs.ids):
        failures.append(f"{len(table)} labeled rows for {len(inputs.ids)} inputs")
    mins = table.groupby("cluster_id")["id"].min()
    bad = int((mins.index != mins.values).sum())
    if bad:
        failures.append(f"{bad} cluster labels differ from their minimum member id")
    n_clusters = len(mins)
    if expected_clusters is not None and n_clusters != expected_clusters:
        failures.append(f"{n_clusters} clusters, expected {expected_clusters}")
    label = dict(zip(table["id"], table["cluster_id"]))
    ids = inputs.ids
    found = sum(1 for a, b in inputs.pairs
                if label.get(ids[a]) is not None
                and label.get(ids[a]) == label.get(ids[b]))
    recall = found / len(inputs.pairs) if len(inputs.pairs) else 1.0
    if recall < RECALL_MIN:
        failures.append(f"dup_pair_recall {recall:.4f} < {RECALL_MIN}")
    return failures, {
        "clusters": n_clusters, "recall": recall, "must_find": len(inputs.pairs),
        "digest": digest(zip(table["id"], table["cluster_id"])),
    }


def check_stream(table: pd.DataFrame, job: JobResult,
                 inputs: Inputs) -> tuple[list[str], dict]:
    """Gate for the stream: every sent row ingested and indexed once, no
    pair written twice, and the stream-side must-find pairs found."""
    failures = []
    sent = len(inputs.stream_rows)
    if job.files != sent:
        failures.append(f"{job.files} rows ingested of {sent} sent")
    if job.counts.get("index_rows") != sent:
        failures.append(f"index holds {job.counts.get('index_rows')} rows "
                        f"of {sent} ingested")
    canon = [tuple(sorted(p)) for p in zip(table["id_a"], table["id_b"])]
    if len(set(canon)) != len(canon):
        failures.append(f"{len(canon) - len(set(canon))} pairs written twice")
    dups = {c for c, d in zip(canon, table["is_duplicate"]) if d}
    streamed = set(inputs.stream_rows)
    ids = inputs.ids
    must = [(a, b) for a, b in inputs.pairs if a in streamed or b in streamed]
    found = sum(1 for a, b in must if tuple(sorted((ids[a], ids[b]))) in dups)
    recall = found / len(must) if must else 1.0
    if recall < RECALL_MIN:
        failures.append(f"dup_pair_recall {recall:.4f} < {RECALL_MIN}")
    return failures, {"recall": recall, "must_find": len(must),
                      "dup_pairs": len(dups), "digest": digest(dups)}


def check(wl: Workload, job: JobResult, inputs: Inputs, seed: int,
          toy: bool) -> tuple[list[str], dict]:
    if wl.stream:
        return check_stream(job.table, job, inputs)
    expected = wl.clusters_at_42 if seed == 42 and not toy else None
    return check_clusters(job.table, inputs, expected)
