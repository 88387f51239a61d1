"""Benchmark inputs: corpus parquet files and the must-find pair list,
generated once per full `CorpusParams` (seed included) and cached.

The cache key hashes every CorpusParams field plus the stream split, so
two workloads that differ only in `dup_frac`, `license_header_frac` or
`hot_repo_frac` never share a file.

Ground truth: a must-find pair is two rows of one generator duplicate
group whose exact char-shingle Jaccard (kernels.char_shingles over
kernels.normalize_text) reaches `cfg.jaccard_threshold`.  Rows are named
by their pipeline record id (lower-case hex of the binary(16) id that
operators.normalize.record_id derives), so outputs can be checked
without Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from polyminhash_spark import kernels
from polyminhash_spark.config import DedupConfig
from polyminhash_spark.corpus import CorpusParams, generate_corpus

COLUMNS = ("repo", "path", "commit", "lang", "content")
ROW_GROUP = 4096  # same row-group size as corpus.write_corpus_parquet


def record_id_hex(repo: str, path: str, commit: str) -> str:
    """Python twin of operators.normalize.record_id, as lower-case hex."""
    key = "".join(f"{len(v)}:{v}" for v in (repo, path, commit))
    return hashlib.sha256(key.encode("utf-8")).hexdigest()[:32]


@dataclass(frozen=True)
class Inputs:
    """Paths and truth for one (workload, seed).

    Batch workloads use `corpus`; the stream workload uses `static`
    (the pre-signed index) and `batches` (one parquet file per
    micro-batch, in arrival order)."""
    ids: list[str]                 # record id hex per generated row
    pairs: np.ndarray              # (n, 2) row indices of must-find pairs
    corpus: str | None = None
    static: str | None = None
    batches: tuple[str, ...] = ()
    stream_rows: tuple[int, ...] = ()  # row indices sent through the stream


def _write(path: str, rows: list[dict]) -> None:
    table = pa.table({c: [r[c] for r in rows] for c in COLUMNS},
                     schema=pa.schema([(c, pa.string()) for c in COLUMNS]))
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def _must_find_pairs(rows: list[dict], truth: list[dict],
                     cfg: DedupConfig) -> np.ndarray:
    groups: dict[int, list[int]] = {}
    for i, t in enumerate(truth):
        if t["true_group_id"] >= 0:
            groups.setdefault(t["true_group_id"], []).append(i)
    out = []
    for members in groups.values():
        sh = [kernels.char_shingles(kernels.normalize_text(rows[i]["content"]),
                                    cfg.shingle_k) for i in members]
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                if kernels.jaccard_arrays(sh[a], sh[b]) >= cfg.jaccard_threshold:
                    out.append((members[a], members[b]))
    return np.asarray(out, dtype=np.int64).reshape(-1, 2)


def _key(params: CorpusParams, cfg: DedupConfig, stream: tuple | None) -> str:
    payload = json.dumps({"params": asdict(params), "stream": stream,
                          "k": cfg.shingle_k, "t": cfg.jaccard_threshold},
                         sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def prepare(cache_root: str, params: CorpusParams, cfg: DedupConfig,
            stream: tuple[int, int] | None = None) -> Inputs:
    """Materialize (or reuse) the inputs for `params`.

    stream=(n_batches, batch_rows) splits the corpus: a seed-driven
    random subset of n_batches * batch_rows rows becomes the stream, in
    that order, and the rest becomes the static index.  Duplicate groups
    therefore straddle index and stream as well as micro-batches."""
    d = os.path.join(cache_root, _key(params, cfg, stream))
    if not os.path.exists(os.path.join(d, "truth.npz")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rows, truth = generate_corpus(params)
        ids = np.array([record_id_hex(r["repo"], r["path"], r["commit"])
                        for r in rows])
        stream_rows: list[int] = []
        if stream is None:
            _write(os.path.join(tmp, "corpus.parquet"), rows)
        else:
            n_batches, batch_rows = stream
            order = list(range(len(rows)))
            random.Random(params.seed).shuffle(order)
            stream_rows = order[:n_batches * batch_rows]
            taken = set(stream_rows)
            _write(os.path.join(tmp, "static.parquet"),
                   [r for i, r in enumerate(rows) if i not in taken])
            for b in range(n_batches):
                part = stream_rows[b * batch_rows:(b + 1) * batch_rows]
                _write(os.path.join(tmp, f"batch_{b:04d}.parquet"),
                       [rows[i] for i in part])
        np.savez(os.path.join(tmp, "truth.npz"), ids=ids,
                 pairs=_must_find_pairs(rows, truth, cfg),
                 stream_rows=np.asarray(stream_rows, dtype=np.int64))
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with np.load(os.path.join(d, "truth.npz")) as z:
        ids, pairs, stream_rows = list(z["ids"]), z["pairs"], z["stream_rows"]
    if stream is None:
        return Inputs(ids, pairs, corpus=os.path.join(d, "corpus.parquet"))
    return Inputs(ids, pairs, static=os.path.join(d, "static.parquet"),
                  batches=tuple(os.path.join(d, f"batch_{b:04d}.parquet")
                                for b in range(stream[0])),
                  stream_rows=tuple(int(i) for i in stream_rows))
