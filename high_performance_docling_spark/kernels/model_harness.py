"""Batched model-inference harness: executor-local singletons and
fixed-size batches.

This is the Spark-native port of the reference's GPU inference pattern
(fork/layout/layout_predictor_gpu.py):

  - **executor-local lazy singleton with an init lock** (:21 module-level
    ``_model_init_lock``, :92-137 guarded load): one model instance per
    Python worker process, loaded on first use, shared across tasks
    (Spark reuses python workers), never per-row or per-batch.
  - **fixed-size batches accumulated ACROSS Arrow record batches**
    (:267-268 "Process in chunks of FIXED_BS"): Arrow hands the stage
    variable-sized record batches; the harness re-chunks the row stream
    into exactly ``batch_size``-item model calls so a real GPU model can
    keep static buffers / CUDA-graph replay.
  - **pad-by-repeat** (:271-272 "Pad chunk to FIXED_BS by repeating the
    last image") with results sliced back to the real item count
    (:289-292 ``_slice_model_output``). Padding is opt-in per spec: a
    CUDA-graph model needs static shapes (pad=True); a CPU kernel
    stand-in would only waste work (pad=False).

Pure Python, so the kernels' model seams (layout, OCR, tables,
enrichment) use it in the serial oracle and inside Spark stages alike;
operators/model_harness.py adds the mapInArrow stage around it. Swapping
a real model in means writing a ``loader`` that loads weights and a
``forward`` that runs one batched inference — the Spark plumbing
(schemas, batching, singleton lifecycle) does not change.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

# executor-local model registry: one entry per (worker process, spec name).
# Module globals are per python-worker-process, which Spark reuses across
# tasks — exactly the lifetime the reference's process-wide singleton has.
_REGISTRY: dict[str, Any] = {}
_model_init_lock = threading.Lock()  # layout_predictor_gpu.py:21


@dataclass(frozen=True)
class ModelSpec:
    """Declares a model the harness manages. ``loader`` must be picklable
    (top-level function or closure over picklable config)."""

    name: str
    loader: Callable[[], Any] = field(compare=False)
    batch_size: int = 32  # layout_predictor_gpu.py:25 FIXED_BS
    pad_by_repeat: bool = False


def get_model(spec: ModelSpec) -> Any:
    """Lazy per-worker singleton with double-checked init lock
    (layout_predictor_gpu.py:92-137 semantics)."""
    model = _REGISTRY.get(spec.name)
    if model is None:
        with _model_init_lock:
            model = _REGISTRY.get(spec.name)
            if model is None:
                model = spec.loader()
                _REGISTRY[spec.name] = model
    return model


class FixedBatcher:
    """Re-chunks a stream of work items into fixed-size model calls.

    ``forward(model, items)`` is invoked with EXACTLY ``batch_size`` items
    when padding is on (tail repeated), or with the real tail size when
    off; it must return one result per input item (padding results are
    sliced away). Usable standalone inside any Python stage (the OCR and
    table-decode seams) or through :func:`arrow_model_stage`.
    """

    def __init__(self, spec: ModelSpec, forward: Callable[[Any, list], list]):
        self.spec = spec
        self.forward = forward
        self.model = get_model(spec)
        self._buf: list[Any] = []
        self.n_forward_calls = 0

    def _flush_one(self) -> list:
        bs = self.spec.batch_size
        chunk = self._buf[:bs]
        self._buf = self._buf[bs:]
        b = len(chunk)
        if self.spec.pad_by_repeat and b < bs:
            chunk = chunk + [chunk[-1]] * (bs - b)  # pad-by-repeat (:271)
        self.n_forward_calls += 1
        results = self.forward(self.model, chunk)
        if len(results) != len(chunk):
            raise ValueError(
                f"model '{self.spec.name}' returned {len(results)} results "
                f"for {len(chunk)} items"
            )
        return results[:b]  # slice padding away (:289-292)

    def add(self, item: Any) -> Iterator[Any]:
        """Queue one item; yields results whenever a full batch completes."""
        self._buf.append(item)
        while len(self._buf) >= self.spec.batch_size:
            yield from self._flush_one()

    def finish(self) -> Iterator[Any]:
        """Flush the (padded) tail at end of stream."""
        while self._buf:
            yield from self._flush_one()

    def run(self, items: list[Any]) -> list[Any]:
        """Convenience: batch a fully-materialized item list. Extends the
        buffer once and flushes full batches directly — same chunk
        boundaries and forward-call count as per-item add(), without a
        generator per item."""
        self._buf.extend(items)
        out: list[Any] = []
        bs = self.spec.batch_size
        while len(self._buf) >= bs:
            out.extend(self._flush_one())
        out.extend(self.finish())
        return out
