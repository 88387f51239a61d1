"""Layer spans recorded from outside the package.

While a `Tracer` is entered, the operator names that
`polyminhash_spark.pipeline` imports are replaced by wrappers that mark
a span boundary (wall clock + Spark stage-id watermark) on entry.
`run_pipeline` materializes each stage before it builds the next, so a
layer's span runs from its entry call to the next layer's entry call.
On checkpointed runs the last layer ends when `StageCatalog.write_stage`
returns for the `neighbors` stage; the run-level metrics aggregates
after it form a `tail` span.

Besides spans, the tracer accumulates the wall time of the catalog's
own bookkeeping (`_count_and_checksum` re-read and `append_metrics`
writes, both called from `StageCatalog.write_stage`) and of
`dedup_stream.compact_index`.  Every patch is undone on exit.
"""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import dataclass

import polyminhash_spark.pipeline as pipeline_mod
import polyminhash_spark.sources.catalog as catalog_mod
import polyminhash_spark.streaming.dedup_stream as stream_mod

from perfbench.ledger import StatusStore

# pipeline-imported entry -> layer name
PIPELINE_ENTRIES = {
    "normalize": "normalize",
    "exact_groups": "exact_groups",
    "add_signatures": "signatures",
    "explode_bands": "candidates",
    "candidate_pairs": "candidates",
    "verify_pairs": "verify",
    "connected_components": "cluster",
    "topk_neighbors": "topk",
}
LAYERS = tuple(dict.fromkeys(PIPELINE_ENTRIES.values()))


@dataclass(frozen=True)
class Span:
    layer: str
    wall_s: float
    first_stage: int   # stage ids [first_stage, end_stage) ran in the span
    end_stage: int


class Tracer:
    def __init__(self, store: StatusStore):
        self.store = store
        self.timers: dict[str, float] = defaultdict(float)
        self._marks: list[tuple[str | None, float, int]] = []
        self._undo: list[tuple[object, str, object]] = []

    def mark(self, layer: str | None) -> None:
        """Open `layer`'s span (closing the open one); None closes only."""
        if self._marks and self._marks[-1][0] == layer:
            return
        self._marks.append((layer, time.perf_counter(), self.store.watermark()))

    def spans(self) -> list[Span]:
        return [Span(a[0], b[1] - a[1], a[2], b[2])
                for a, b in zip(self._marks, self._marks[1:]) if a[0]]

    def _patch(self, owner, name: str, wrapper) -> None:
        orig = getattr(owner, name)
        self._undo.append((owner, name, orig))
        setattr(owner, name, wrapper(orig))

    def _entry(self, layer: str):
        def wrap(orig):
            def traced(*args, **kwargs):
                self.mark(layer)
                return orig(*args, **kwargs)
            return traced
        return wrap

    def _timed(self, key: str):
        def wrap(orig):
            def traced(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    self.timers[key] += time.perf_counter() - t0
            return traced
        return wrap

    def _write_stage(self, orig):
        def traced(cat, stage, *args, **kwargs):
            out = orig(cat, stage, *args, **kwargs)
            if stage == "neighbors":
                self.mark("tail")
            return out
        return traced

    def __enter__(self) -> "Tracer":
        for name, layer in PIPELINE_ENTRIES.items():
            self._patch(pipeline_mod, name, self._entry(layer))
        self._patch(catalog_mod.StageCatalog, "write_stage", self._write_stage)
        self._patch(catalog_mod, "_count_and_checksum", self._timed("catalog"))
        self._patch(catalog_mod.StageCatalog, "append_metrics",
                    self._timed("catalog"))
        self._patch(stream_mod, "compact_index", self._timed("compact"))
        return self

    def __exit__(self, *exc) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            setattr(owner, name, orig)
