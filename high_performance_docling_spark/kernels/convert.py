"""Shared page-batch conversion core: postprocess → OCR → tables.

Used by both the Spark stages (operators/stages.py) and the serial
oracle so the two can't drift.

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

from typing import Any

from ..corpus import GenConfig, TypesetPage, synth_detections
from ..labels import CAPTION, FOOTNOTE, LIST_ITEM, SECTION_HEADER, TEXT
from .layout_postprocess import postprocess_page
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


_OCR_MODEL_SPEC = None


def _ocr_model_spec():
    global _OCR_MODEL_SPEC
    if _OCR_MODEL_SPEC is None:
        from ..operators.model_harness import ModelSpec

        _OCR_MODEL_SPEC = ModelSpec(
            name="synth-ocr",
            loader=SynthOcrModel,
            batch_size=OCR_BATCH_SIZE,
            pad_by_repeat=False,  # CPU stand-in; a static-shape GPU model pads
        )
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
    from ..operators.model_harness import FixedBatcher

    tasks: list[tuple[int, dict]] = []
    for pi, clusters in enumerate(page_clusters):
        for cluster in clusters:
            if cluster["label"] in OCR_TEXT_LABELS and len(cluster["cells"]) == 0:
                tasks.append((pi, cluster))
    if not tasks:
        return
    batcher = FixedBatcher(_ocr_model_spec(), SynthOcrModel.recognize_batch)
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


def _detect_batch(
    items: list[tuple[str, TypesetPage]], cfg: GenConfig
) -> list[list[dict]]:
    """Layout detection through the model harness (same executor-local
    singleton + fixed 32-page batches as the page-grain detect_stage), so
    the doc-grain path exercises the identical model seam. Always the
    synth detector: ``cfg.detector`` is read only by detect_stage."""
    from ..operators.model_harness import FixedBatcher, ModelSpec
    from ..operators.stages import SynthLayoutDetector

    spec = ModelSpec(
        name=f"synth-layout-detector:{cfg!r}",  # full cfg: any field changes detector behavior
        loader=lambda: SynthLayoutDetector(cfg),
        batch_size=32,
        pad_by_repeat=False,  # CPU stand-in in the fused path; the staged
        # GPU-shaped stage pads (detect_stage)
    )
    return FixedBatcher(spec, SynthLayoutDetector.predict_batch).run(items)


def process_page_batch(
    items: list[tuple[str, TypesetPage]], cfg: GenConfig,
    timers: dict[str, float] | None = None,
) -> list[list[dict]]:
    """Layout postprocess each page, then OCR fill, then table structure —
    layout, OCR and table model batches all form across the pages of
    ``items`` (one document's pages on the doc-grain path), each through
    the executor-local harness singleton.

    ``timers`` (optional) accumulates per-phase wall ms under the
    reference's timer field names (gpu_processor.py:102-129 layout
    predict/postprocess, :204-234 OCR; tf_predictor.py:556-562 tables) —
    the lineage sink turns them into the per-run timer dump."""
    import time as _time

    def _mark(key: str, t0: float) -> float:
        t1 = _time.monotonic()
        if timers is not None:
            timers[key] = timers.get(key, 0.0) + (t1 - t0) * 1000.0
        return t1

    t = _time.monotonic()
    detections = _detect_batch(items, cfg)
    t = _mark("layout_predict", t)
    page_clusters = [
        postprocess_page(
            p.width, p.height, p.cells, dets,
            keep_empty_clusters=cfg.keep_empty_clusters,
        )
        for (doc_id, p), dets in zip(items, detections)
    ]
    t = _mark("layout_postprocess", t)
    if cfg.keep_empty_clusters:
        apply_ocr([(doc_id, p.page_no) for doc_id, p in items], page_clusters)
        t = _mark("ocr", t)
    attach_table_structures(page_clusters, [p.cells for _, p in items])
    _mark("table_structure", t)
    return page_clusters


def process_parsed_batch(rows: list[dict], cfg: GenConfig) -> list[list[dict]]:
    """Same as process_page_batch but from already-parsed page rows
    (doc_id, page_no, width, height, cells, detections) — the
    checkpointed page-grain path, where detections were materialized by
    S1/S2."""
    page_clusters = [
        postprocess_page(
            row["width"], row["height"], row["cells"], row["detections"],
            keep_empty_clusters=cfg.keep_empty_clusters,
        )
        for row in rows
    ]
    if cfg.keep_empty_clusters:
        apply_ocr([(r["doc_id"], r["page_no"]) for r in rows], page_clusters)
    attach_table_structures(page_clusters, [r["cells"] for r in rows])
    return page_clusters
