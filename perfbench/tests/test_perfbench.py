"""Toy-size self-tests of the benchmark.  Run from the repository root:

    python3 -m pytest perfbench/tests -q

The end-to-end cases run perfbench/run.py --toy (a few hundred files,
two micro-batches) in a subprocess per workload and trace mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from dataclasses import replace

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402
from perfbench import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = W.start_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    W.stop_session(s)


def test_status_store_read_starts_no_job(spark):
    from perfbench.ledger import StatusStore, summarize

    store = StatusStore(spark)
    first = store.watermark()
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    jobs = store.job_ids()
    rows = store.stages(first)
    ledger = summarize(store, rows)
    assert store.job_ids() == jobs
    assert rows and ledger["tasks"] > 0 and ledger["shuffle_write_mb"] > 0


def test_record_id_matches_pipeline(spark):
    import pyspark.sql.functions as F
    from polyminhash_spark.operators.normalize import record_id

    rows = [("org1/r", "src/a b.py", "c0ffee"), ("o", "é/ü", "")]
    got = spark.createDataFrame(rows, "repo string, path string, commit string") \
        .select(F.lower(F.hex(record_id())).alias("id")).collect()
    assert [r.id for r in got] == [I.record_id_hex(*r) for r in rows]


def test_cache_key_covers_every_corpus_param():
    cfg = W.config()
    base = W.WORKLOADS["boilerplate_ckpt_100k"].params
    keys = {I._key(p, cfg, None) for p in (
        base, replace(base, dup_frac=0.5), replace(base, license_header_frac=0.0),
        replace(base, hot_repo_frac=0.0), replace(base, seed=7))}
    assert len(keys) == 5


def _inputs(n_ids: int, pairs) -> I.Inputs:
    ids = [f"{i:032x}" for i in range(n_ids)]
    return I.Inputs(ids=ids, pairs=np.asarray(pairs).reshape(-1, 2))


def test_gate_accepts_a_correct_cluster_table():
    inputs = _inputs(5, [(0, 1), (1, 2)])
    ids = inputs.ids
    table = pd.DataFrame({"id": ids, "cluster_id": [ids[0]] * 3 + [ids[3], ids[4]]})
    failures, facts = W.check_clusters(table, inputs, expected_clusters=3)
    assert failures == [] and facts["recall"] == 1.0


def test_gate_rejects_a_corrupted_cluster_table():
    inputs = _inputs(5, [(0, 1), (1, 2)])
    ids = inputs.ids
    labels = [ids[0]] * 3 + [ids[3], ids[4]]
    labels[1] = ids[1]  # member 1 split off under a label of its own
    table = pd.DataFrame({"id": ids, "cluster_id": labels})
    failures, facts = W.check_clusters(table, inputs, expected_clusters=None)
    assert any("dup_pair_recall" in f for f in failures)
    labels = [ids[1]] * 3 + [ids[3], ids[4]]  # label is not the minimum id
    failures, _ = W.check_clusters(
        pd.DataFrame({"id": ids, "cluster_id": labels}), inputs, None)
    assert any("minimum member id" in f for f in failures)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_workload_runs_and_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(3 + trace), "--trace", str(trace), "--toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    *_, detail_line, result_line = proc.stdout.strip().splitlines()
    result = json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    detail = json.loads(detail_line)["detail"]
    assert detail["host"]["nproc"] == W.NPROC
    if trace:
        checks = detail["checks"]
        assert checks["traced"]["digest"] == checks["untraced"]["digest"]


def test_refuses_to_run_without_the_package(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "stream_ingest"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0 and proc.stdout == ""
