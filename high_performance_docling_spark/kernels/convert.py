"""Shared conversion core: layout detection → postprocess → OCR → tables.

The one copy of these phases and of how ``GenConfig`` drives them. The
serial oracle runs :func:`process_page_batch` per document (and the
doc-grain Spark stage runs the oracle); the page-grain Spark stages run
the same functions split at the detection boundary: ``detect_stage``
builds its model from :func:`synth_detector_spec` and ``layout_stage``
calls :func:`convert_detected_pages`. So the two paths can't drift.

OCR stage (reference: gpu_processor.py:204-288):
  - identify: text-labeled clusters with zero cells (:204-234) — requires
    the layout post-processor to keep empty clusters
    (cfg.keep_empty_clusters, mirroring LayoutOptions.keep_empty_clusters)
  - batch "inference" in chunks of 32 (:236-258) — the TrOCR model is
    replaced by :func:`synth_ocr_text`, a deterministic function of the
    crop identity (doc, page, bbox), with the batching seam preserved
  - re-join: OCR text appended to its cluster as a from_ocr cell with the
    cluster bbox, confidence 0.9 (:260-288)
"""

from __future__ import annotations

import time

from ..corpus import GenConfig, TypesetPage, synth_detections
from ..labels import CAPTION, FOOTNOTE, LIST_ITEM, SECTION_HEADER, TEXT
from .layout_postprocess import postprocess_page
from .model_harness import FixedBatcher, ModelSpec
from .table_decode import attach_table_structures

OCR_TEXT_LABELS = {TEXT, SECTION_HEADER, CAPTION, FOOTNOTE, LIST_ITEM}
OCR_BATCH_SIZE = 32  # gpu_processor.py:236
_OCR_CELL_INDEX_BASE = 10**9  # synthetic index keeps OCR cells after native ones


def synth_ocr_text(doc_id: str, page_no: int, l: float, t: float, r: float, b: float) -> str:
    """Deterministic stand-in for TrOCR: the 'recognized' text is a pure
    function of the crop identity, so the corpus generator and the OCR
    stage agree exactly."""
    # terminal '.' keeps OCR'd text merge-proof: predict_merges must
    # never chain a scanned region into the following paragraph
    return (
        f"scanned region {int(round(l))} {int(round(t))} "
        f"{int(round(r))} {int(round(b))} of {doc_id} p{page_no}."
    )


class SynthOcrModel:
    """Executor-local singleton 'recognizer'. A real TrOCR load replaces
    __init__ (gpu_processor.py model init); recognize_batch stays one
    batched generate() per <=OCR_BATCH_SIZE crops."""

    def __init__(self) -> None:
        self.n_forward_calls = 0

    def recognize_batch(self, crops: list[tuple[str, int, float, float, float, float]]) -> list[str]:
        self.n_forward_calls += 1
        return [synth_ocr_text(*crop) for crop in crops]


_OCR_MODEL_SPEC = ModelSpec(
    name="synth-ocr",
    loader=SynthOcrModel,
    batch_size=OCR_BATCH_SIZE,
    pad_by_repeat=False,  # CPU stand-in; a static-shape GPU model pads
)


def _ocr_model_spec() -> ModelSpec:
    """The OCR spec, for callers that look the singleton up themselves."""
    return _OCR_MODEL_SPEC


def apply_ocr(
    meta: list[tuple[str, int]], page_clusters: list[list[dict]]
) -> None:
    """Identify OCR regions across a batch of pages (meta = (doc_id,
    page_no) per entry), run the batched recognizer through the model
    harness (executor-local singleton, fixed 32-crop batches —
    gpu_processor.py:236-258), join results back onto their clusters
    (mutates page_clusters). OCR batches form across documents, like the
    reference's cross-page batching."""
    tasks: list[tuple[int, dict]] = []
    for pi, clusters in enumerate(page_clusters):
        for cluster in clusters:
            if cluster["label"] in OCR_TEXT_LABELS and len(cluster["cells"]) == 0:
                tasks.append((pi, cluster))
    if not tasks:
        return
    batcher = FixedBatcher(_OCR_MODEL_SPEC, SynthOcrModel.recognize_batch)
    crops = [
        (meta[pi][0], meta[pi][1], cl["l"], cl["t"], cl["r"], cl["b"])
        for pi, cl in tasks
    ]
    for (pi, cl), text in zip(tasks, batcher.run(crops)):
        cl["cells"].append(
            {
                "index": _OCR_CELL_INDEX_BASE + int(cl["id"]),
                "text": text,
                "l": cl["l"], "t": cl["t"], "r": cl["r"], "b": cl["b"],
                "from_ocr": True,
                "confidence": 0.9,
            }
        )


class SynthLayoutDetector:
    """Executor-local singleton 'model'. A real deployment replaces this
    class with the RT-DETR load (weights, processor, warm-up —
    layout_predictor_gpu.py:92-137) and predict_batch with one batched
    forward; the Spark stage around it does not change."""

    def __init__(self, cfg: GenConfig):
        self.cfg = cfg
        self.n_forward_calls = 0

    def predict_batch(self, items: list[tuple[str, TypesetPage]]) -> list[list[dict]]:
        # ONE batched forward pass per call (the GPU-inference slot)
        self.n_forward_calls += 1
        return [synth_detections(doc_id, page, self.cfg) for doc_id, page in items]


def synth_detector_spec(
    cfg: GenConfig, pad_by_repeat: bool, batch_size: int = 32
) -> ModelSpec:
    """Harness spec of the synth detector. Both paths share one
    executor-local instance per ``cfg``: the doc-grain path runs it
    unpadded (a CPU stand-in), the page-grain detect_stage pads (a
    CUDA-graph model needs a static batch shape)."""
    return ModelSpec(
        name=f"synth-layout-detector:{cfg!r}",  # full cfg: any field changes detector behavior
        loader=lambda: SynthLayoutDetector(cfg),
        batch_size=batch_size,
        pad_by_repeat=pad_by_repeat,
    )


def mark_phase(timers: dict[str, float] | None, key: str, t0: float) -> float:
    """Add the wall ms since ``t0`` to ``timers[key]`` (when timing) and
    return the current time, the next phase's start."""
    t1 = time.monotonic()
    if timers is not None:
        timers[key] = timers.get(key, 0.0) + (t1 - t0) * 1000.0
    return t1


def process_page_batch(
    items: list[tuple[str, TypesetPage]], cfg: GenConfig,
    timers: dict[str, float] | None = None,
) -> list[list[dict]]:
    """Layout detection, then :func:`convert_detected_pages` — the
    oracle's conversion of ``items`` (one document's pages on the
    doc-grain path). Detection runs the synth detector through the
    harness singleton in unpadded 32-page batches; ``cfg.detector`` is
    read only by the page-grain detect_stage.

    ``timers`` (optional) accumulates per-phase wall ms under the
    reference's timer field names (gpu_processor.py:102-129 layout
    predict/postprocess, :204-234 OCR; tf_predictor.py:556-562 tables) —
    the lineage sink turns them into the per-run timer dump."""
    t = time.monotonic()
    detections = FixedBatcher(
        synth_detector_spec(cfg, pad_by_repeat=False),
        SynthLayoutDetector.predict_batch,
    ).run(items)
    mark_phase(timers, "layout_predict", t)
    return convert_detected_pages(items, detections, cfg, timers)


def convert_detected_pages(
    items: list[tuple[str, TypesetPage]], detections: list[list[dict]],
    cfg: GenConfig, timers: dict[str, float] | None = None,
) -> list[list[dict]]:
    """Layout postprocess each page, then OCR fill, then table structure:
    page ``items`` (doc_id, page) with their raw ``detections`` → the
    post-processed clusters per page. OCR and table model batches form
    across all of ``items``, each through the executor-local harness
    singleton. Pages need only page_no, width, height and cells."""
    t = time.monotonic()
    page_clusters = [
        postprocess_page(
            p.width, p.height, p.cells, dets,
            keep_empty_clusters=cfg.keep_empty_clusters,
        )
        for (_, p), dets in zip(items, detections)
    ]
    t = mark_phase(timers, "layout_postprocess", t)
    if cfg.keep_empty_clusters:
        apply_ocr([(doc_id, p.page_no) for doc_id, p in items], page_clusters)
        t = mark_phase(timers, "ocr", t)
    attach_table_structures(page_clusters, [p.cells for _, p in items])
    mark_phase(timers, "table_structure", t)
    return page_clusters
