"""Single-thread, in-process replay of a document sample through the
public kernel functions, one timed span per call.

The replay calls the kernels in the order ``oracle.extract_doc_result``
does. Each document is the parent span of its kernel calls, and its
``doc_id`` is the trace id. Every replayed document's spans must equal the
oracle's, so the ledger cannot drift from the real pipeline.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

from high_performance_docling_spark.corpus import GenConfig, typeset
from high_performance_docling_spark.kernels.assemble import assemble_page_elements
from high_performance_docling_spark.kernels.convert import apply_ocr
from high_performance_docling_spark.kernels.layout_postprocess import postprocess_page
from high_performance_docling_spark.kernels.reading_order import assemble_spans
from high_performance_docling_spark.kernels.table_decode import attach_table_structures
from high_performance_docling_spark.operators.model_harness import FixedBatcher, ModelSpec
from high_performance_docling_spark.operators.stages import SynthLayoutDetector
from high_performance_docling_spark.oracle import extract_doc_result, extract_doc_spans

# one span name per public kernel function (see README.md for the map)
PHASES = ("parse", "layout_predict", "layout_postprocess", "ocr",
          "table_structure", "page_assemble", "reading_order")


@dataclass
class Span:
    trace_id: str
    name: str
    parent: str | None
    start: float
    end: float


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out as JSON lines."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, trace_id: str, name: str, parent: str | None = "doc"):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(trace_id, name, parent, t0,
                                   time.perf_counter()))

    def phase_ms(self) -> dict[str, float]:
        out = dict.fromkeys(PHASES, 0.0)
        for s in self.spans:
            if s.name in out:
                out[s.name] += (s.end - s.start) * 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def detector_spec(cfg: GenConfig) -> ModelSpec:
    # the fused path's detector seam (kernels/convert.py _detect_batch)
    return ModelSpec(name=f"synth-layout-detector:{cfg!r}",
                     loader=lambda: SynthLayoutDetector(cfg),
                     batch_size=32, pad_by_repeat=False)


def replay_doc(tr: Tracer, doc_id: str, spans: list[dict], cfg: GenConfig) -> list[dict]:
    with tr.span(doc_id, "doc", parent=None):
        with tr.span(doc_id, "parse"):
            pages = typeset(doc_id, spans, cfg)
        items = [(doc_id, p) for p in pages]
        with tr.span(doc_id, "layout_predict"):
            detections = FixedBatcher(
                detector_spec(cfg), SynthLayoutDetector.predict_batch
            ).run(items)
        clusters = []
        for page, dets in zip(pages, detections):
            with tr.span(doc_id, "layout_postprocess"):
                clusters.append(postprocess_page(
                    page.width, page.height, page.cells, dets,
                    keep_empty_clusters=cfg.keep_empty_clusters))
        if cfg.keep_empty_clusters:
            with tr.span(doc_id, "ocr"):
                apply_ocr([(doc_id, p.page_no) for p in pages], clusters)
        with tr.span(doc_id, "table_structure"):
            attach_table_structures(clusters, [p.cells for p in pages])
        elements: list[dict] = []
        for page, page_clusters in zip(pages, clusters):
            with tr.span(doc_id, "page_assemble"):
                elements.extend(assemble_page_elements(doc_id, page.page_no,
                                                       page_clusters))
        for cid, el in enumerate(elements):
            el["cid"] = cid
        with tr.span(doc_id, "reading_order"):
            out = assemble_spans(
                elements,
                enable_merges=cfg.enable_merges,
                process_list_markers=cfg.process_list_markers,
                reading_order_mode=cfg.reading_order_mode,
                enrich_formulas=cfg.enrich_formulas,
            )
    return out


def replay(docs: list[tuple[str, list[dict]]], cfg: GenConfig,
           passes: int = 5) -> tuple[dict[str, float], int, Tracer]:
    """Replay ``docs`` ``passes`` times. Each document's traced replay is
    followed by one timed ``oracle.extract_doc_result`` call without phase
    timers, so host noise hits both alike.

    Returns per-layer ms/doc (each phase's median over passes, the
    oracle's median serial time, and the unattributed rest, so the
    phases plus ``unattributed`` sum to ``serial``), the number of
    replayed documents whose spans differ from the oracle, and the
    tracer of the last pass."""
    mismatched = sum(
        replay_doc(Tracer(), doc_id, spans, cfg)
        != extract_doc_spans(doc_id, spans, cfg)
        for doc_id, spans in docs
    )
    n = len(docs)
    phase_samples: dict[str, list[float]] = {p: [] for p in PHASES}
    serial_samples: list[float] = []
    for _ in range(passes):
        tr = Tracer()
        serial_s = 0.0
        for doc_id, spans in docs:
            replay_doc(tr, doc_id, spans, cfg)
            t0 = time.perf_counter()
            extract_doc_result(doc_id, spans, cfg)
            serial_s += time.perf_counter() - t0
        for phase, ms in tr.phase_ms().items():
            phase_samples[phase].append(ms / n)
        serial_samples.append(serial_s * 1000.0 / n)
    ms = {p: statistics.median(v) for p, v in phase_samples.items()}
    ms["serial"] = statistics.median(serial_samples)
    ms["unattributed"] = ms["serial"] - sum(ms[p] for p in PHASES)
    return ms, mismatched, tr
