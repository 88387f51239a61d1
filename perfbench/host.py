"""Host record and the single-thread kernel calibration.

The calibration runs the two hot kernels on the driver, one thread, on a
fixed sample that does not depend on --seed, so its rates compare hosts
and measurement windows: a run's end-to-end numbers can be normalized
by them when the host's per-clock speed drifts.
"""

from __future__ import annotations

import os
import platform
import statistics
import time

import numpy as np

from polyminhash_spark import kernels as K
from polyminhash_spark.config import DedupConfig
from polyminhash_spark.corpus import CorpusParams, generate_corpus

SAMPLE = CorpusParams(n_files=1_000, dup_frac=0.5, seed=0)
REPEATS = 3


def _rate(fn, n: int) -> float:
    """Median items/s over REPEATS timed calls of fn (n items each)."""
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times)


def calibrate(cfg: DedupConfig) -> dict:
    rows, truth = generate_corpus(SAMPLE)
    texts = [K.normalize_text(r["content"]) for r in rows]
    seeds = K.mixed_seeds(cfg.perm_seeds())

    def sign():
        K.signature_batch(texts, cfg.shingle_k, cfg.shingle_unit,
                          cfg.max_shingles_per_doc, seeds, cfg.bands,
                          cfg.rows_per_band, impl=cfg.minhash_impl)

    # adjacent members of one duplicate group: the pairs tier 3 verifies
    pairs = [(texts[i], texts[i + 1]) for i in range(len(rows) - 1)
             if truth[i]["true_group_id"] >= 0
             and truth[i]["true_group_id"] == truth[i + 1]["true_group_id"]]

    def verify():
        # per pair, the work of the tier-3 UDF: shingle both sides, exact
        # Jaccard, and the suffix-array clone relation for dup-grade pairs
        for a, b in pairs:
            j = K.jaccard_arrays(K.shingles_for(a, cfg.shingle_k),
                                 K.shingles_for(b, cfg.shingle_k))
            if j >= cfg.jaccard_threshold:
                K.exact_clone_relation(a, b)

    return {"signature_docs_per_s": _rate(sign, len(texts)),
            "verify_pairs_per_s": _rate(verify, len(pairs))}


def io_stall_s() -> float:
    """Seconds all non-idle tasks of the host were stalled on I/O so far
    (Linux pressure-stall information; 0.0 where unavailable)."""
    try:
        with open("/proc/pressure/io") as f:
            for line in f:
                if line.startswith("full"):
                    return int(line.rsplit("total=", 1)[1]) / 1e6
    except (OSError, ValueError, IndexError):
        pass
    return 0.0


def host_record(master: str, calibration: dict, load_1m: float) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "load_1m_before": load_1m,
        "python": platform.python_version(),
        "numpy": np.__version__,
        "kernels": calibration,
    }
