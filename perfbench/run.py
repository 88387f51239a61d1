"""polyminhash_spark benchmark: one workload per invocation, fresh JVM.

    python3 perfbench/run.py --workload <name> [--seed 42] [--seconds 30]
                             [--trace 0|1] [--toy]

Run from the repository root.  Inputs are generated from --seed before
anything is timed and cached under .perfbench/cache.  With --trace 0 the
job runs untraced after three cold set-ups (session start in a new JVM +
input registration; setup_s is their median) and the end-to-end metrics
are printed.  With --trace 1 the job runs with layer spans in a new JVM
and the per-layer metrics are printed, with trace.overhead_s = traced
wall - untraced wall.  The untraced wall and output digest come from the
reference an untraced run of the same code, workload and seed left in
the cache; without one, the untraced job runs first in its own JVM.
Every run passes the correctness gate (workloads.check; with --trace 1
also traced digest == untraced digest).  The last stdout line is the
result {"correct", "attempted", "failed", "metrics"}, where attempted
counts the input files the run's jobs processed (all failed when a check
fails); the line before it holds the host record, the checks and the
per-stage ledger.  Exit code 0 iff the gate passed.  --toy shrinks every
input for the self-tests.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from contextlib import nullcontext

SETUP_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True,
                   choices=("batch_100k", "boilerplate_ckpt_100k",
                            "stream_ingest"))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=int, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true",
                   help="a few hundred files and two micro-batches")
    return p.parse_args(argv)


def isolate(root: str, run_dir: str) -> None:
    """Keep Spark, its Python workers and temp files inside the checkout."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    from perfbench.workloads import NPROC

    os.environ.update({
        "SPARK_GRAFT_CPUS": str(NPROC),
        # a 4g heap holds every workload; the 8g default lets the JVM grow
        # past what a shared 16 GB host can spare
        "POLYMINHASH_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": local,
        "POLYMINHASH_LOCAL_DIR": local,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })


def reference_path(root: str, args) -> str:
    """Cache file for the untraced reference of this code and these inputs."""
    h = hashlib.sha256(
        f"{args.workload}:{args.seed}:{args.seconds}:{args.toy}".encode())
    sources = sorted(
        os.path.join(d, n)
        for top in ("polyminhash_spark", "perfbench")
        for d, _, names in os.walk(os.path.join(root, top))
        for n in names if n.endswith(".py"))
    for path in sources:
        with open(path, "rb") as f:
            h.update(path[len(root):].encode() + f.read())
    return os.path.join(root, ".perfbench", "cache",
                        f"untraced-{h.hexdigest()[:16]}.json")


def run_job(wl, spark, registered, inputs, job_dir, store, tracer=None):
    from perfbench import workloads as W

    os.makedirs(job_dir)
    if wl.stream:
        return W.run_stream(spark, registered, inputs, job_dir, store)
    return W.run_batch(wl, spark, registered, job_dir, store, tracer)


def untraced(wl, inputs, seed, run_dir, toy, reference):
    """Cold set-ups, then the untraced job: end-to-end metrics.  A passing
    run leaves its wall and digest in `reference` for traced runs."""
    from perfbench import workloads as W
    from perfbench.host import io_stall_s
    from perfbench.ledger import StatusStore, median, summarize

    repeats = 2 if toy else SETUP_REPEATS
    setups = []
    for i in range(repeats):
        t0 = time.perf_counter()
        spark = W.start_session(run_dir)
        registered = W.register(wl, spark, inputs)
        setups.append(time.perf_counter() - t0)
        if i < repeats - 1:
            W.stop_session(spark)
    try:
        store = StatusStore(spark)
        stall0 = io_stall_s()
        job = run_job(wl, spark, registered, inputs,
                      os.path.join(run_dir, "job"), store)
        stall = io_stall_s() - stall0
        ledger = summarize(store, store.stages(job.first_stage, job.end_stage))
    finally:
        W.stop_session(spark, kill=True)
    failures, facts = W.check(wl, job, inputs, seed, toy)
    latency = (median([b["trigger_s"] for b in job.batches]) if wl.stream
               else job.wall_s)
    metrics = {
        "files_per_s": job.files / job.wall_s,
        "batch_latency_p50_s": latency,
        "setup_s": median(setups),
        "task_core_s": ledger["run_s"],
        "shuffle_mb": ledger["shuffle_write_mb"],
        "dup_pair_recall": facts["recall"],
    }
    if not failures:
        with open(reference, "w") as f:
            json.dump({"wall_s": job.wall_s, "files": job.files,
                       "facts": facts}, f)
    detail = {"setup_s_all": setups, "job_wall_s": job.wall_s,
              "peak_rss_mb": job.peak_rss_mb, "host_io_stall_s": stall,
              "ledger": ledger, "batches": job.batches, "checks": facts}
    return metrics, failures, job.files, detail


def traced(wl, inputs, seed, run_dir, toy, calibration, reference):
    """The traced job in a new JVM, after the untraced one when there is
    no reference yet: per-layer metrics."""
    from perfbench import workloads as W
    from perfbench.ledger import StatusStore, median, summarize
    from perfbench.trace import LAYERS, Tracer

    def one(tag, traced, last):
        t0 = time.perf_counter()
        spark = W.start_session(run_dir)
        start_s = time.perf_counter() - t0
        try:
            registered = W.register(wl, spark, inputs)
            store = StatusStore(spark)
            tracer = Tracer(store) if traced else None
            with tracer or nullcontext():
                job = run_job(wl, spark, registered, inputs,
                              os.path.join(run_dir, tag), store, tracer)
            spans = {}
            if tracer:
                for s in tracer.spans():
                    spans[s.layer] = dict(
                        summarize(store, store.stages(s.first_stage, s.end_stage)),
                        wall_s=s.wall_s)
            per_batch = [summarize(store, store.stages(b["first_stage"],
                                                       b["end_stage"]))
                         for b in job.batches]
        finally:
            W.stop_session(spark, kill=last)
        failures, facts = W.check(wl, job, inputs, seed, toy)
        return dict(job=job, start_s=start_s, spans=spans, per_batch=per_batch,
                    failures=failures, facts=facts,
                    timers=dict(tracer.timers) if tracer else {})

    failures = []
    if os.path.exists(reference):
        with open(reference) as f:
            plain = json.load(f)
        plain["files"] = 0  # processed by the run that left the reference
    else:
        got = one("job-untraced", False, last=False)
        failures += got["failures"]
        plain = {"wall_s": got["job"].wall_s, "files": got["job"].files,
                 "facts": got["facts"]}
    run = one("job-traced", True, last=True)
    failures += run["failures"]
    if plain["facts"]["digest"] != run["facts"]["digest"]:
        failures.append("traced output digest differs from the untraced one")
    job, spans, counts = run["job"], run["spans"], run["job"].counts

    def span(layer, key="wall_s"):
        return spans.get(layer, {}).get(key, 0.0)

    batches, per_batch = job.batches, run["per_batch"]
    k = max(len(batches), 1)
    tier3 = counts.get("tier3_pairs", 0)
    m = {
        "normalize.rows_out": counts.get("rows_out", 0),
        "exact_groups.reps": counts.get("reps", 0),
        "signatures.python_s": span("signatures", "python_s"),
        "signatures.task_skew": span("signatures", "task_skew"),
        "kernels.signature_docs_per_s": calibration["signature_docs_per_s"],
        "kernels.verify_pairs_per_s": calibration["verify_pairs_per_s"],
        "candidates.shuffle_mb": span("candidates", "shuffle_write_mb"),
        "candidates.spill_mb": span("candidates", "spill_mb"),
        "candidates.task_skew": span("candidates", "task_skew"),
        "candidates.pairs_out": counts.get("pairs_out", 0),
        "verify.shuffle_mb": span("verify", "shuffle_write_mb"),
        "verify.python_s": span("verify", "python_s"),
        "verify.tier3_pairs": tier3,
        "verify.dup_yield": counts.get("dup_pairs", 0) / tier3 if tier3 else 0.0,
        "cluster.components": 0 if wl.stream else run["facts"]["clusters"],
        "catalog.write_s": run["timers"].get("catalog", 0.0),
        "catalog.bytes_mb": (W.dir_stats(os.path.join(run_dir, "job-traced",
                                                      "stages"))[1] / 1e6
                             if wl.checkpointed else 0.0),
        "output.write_s": job.output_write_s,
        "stream.add_batch_s": median([b["add_batch_s"] for b in batches]),
        "stream.stages_per_batch": sum(b["stages"] for b in per_batch) / k,
        "stream.tasks_per_batch": sum(b["tasks"] for b in per_batch) / k,
        "stream.python_s_per_batch": sum(b["python_s"] for b in per_batch) / k,
        "stream.index_files": counts.get("index_files", 0),
        "stream.index_mb": counts.get("index_bytes", 0) / 1e6,
        "stream.compact_s": run["timers"].get("compact", 0.0),
        "session.start_s": run["start_s"],
        "session.peak_rss_mb": job.peak_rss_mb,
        "trace.overhead_s": job.wall_s - plain["wall_s"],
    }
    for layer in LAYERS:
        m[f"{layer}.wall_s"] = span(layer)
    detail = {"spans": spans,
              "untraced_wall_s": plain["wall_s"], "traced_wall_s": job.wall_s,
              "per_batch": per_batch, "batches": batches,
              "checks": {"untraced": plain["facts"], "traced": run["facts"]}}
    return m, failures, plain["files"] + job.files, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "polyminhash_spark")):
        print("perfbench: polyminhash_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    load_1m = os.getloadavg()[0]
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    isolate(root, run_dir)
    from perfbench import workloads as W
    from perfbench.host import calibrate, host_record

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = W.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    try:
        inputs = W.make_inputs(wl, args.seed, args.seconds, args.toy,
                               os.path.join(work, "cache"))
        t1 = time.perf_counter()
        calibration = calibrate(W.config())
        phases = {"inputs_s": t1 - t0, "calibrate_s": time.perf_counter() - t1}
        # flush what input generation and earlier runs left dirty, so the
        # page-cache writeback does not land inside a timed window
        os.sync()
        reference = reference_path(root, args)
        if args.trace:
            metrics, failures, attempted, detail = traced(
                wl, inputs, args.seed, run_dir, args.toy, calibration,
                reference)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            metrics, failures, attempted, detail = untraced(
                wl, inputs, args.seed, run_dir, args.toy, reference)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["total_s"] = time.perf_counter() - t0
    detail.update(workload=wl.name, seed=args.seed, toy=args.toy,
                  failures=failures, phases=phases,
                  host=host_record(f"local[{W.NPROC}]", calibration, load_1m))
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": attempted if failures else 0,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }))
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
