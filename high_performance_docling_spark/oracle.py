"""Serial reference-faithful pipeline (the "golden oracle").

Runs the exact same kernels as the Spark stages, eagerly and in-process,
one document at a time — mirroring the reference's single-process flow
(/root/reference/main.py:53-93: preprocess → layout → postprocess →
assemble → reading order). pytest asserts Spark output == this oracle
exactly (FIXTURES.md §5), so the Spark plumbing (Arrow schemas,
partitioning, shuffles, checkpoints) is what the equality tests exercise.

The oracle owns the phases both Spark paths share: the doc-grain stage
calls :func:`extract_doc_result` per document, and the page-grain path
runs kernels/convert.py's conversion core and then hands each document's
elements to :func:`assemble_doc`. Only this module and kernels/convert.py
map ``GenConfig`` onto kernel calls.
"""

from __future__ import annotations

import time
from typing import Any

from .corpus import GenConfig, typeset
from .kernels.assemble import assemble_page_elements
from .kernels.confidence import doc_confidence, page_confidence
from .kernels.convert import mark_phase, process_page_batch
from .kernels.reading_order import assemble_spans


def extract_doc_spans(
    doc_id: str, spans: list[dict[str, Any]], cfg: GenConfig
) -> list[dict[str, Any]]:
    """docs-row → ordered output spans [(kind, text, media_ref, order)]."""
    return extract_doc_result(doc_id, spans, cfg)["spans"]


def assemble_doc(
    elements: list[dict[str, Any]], cfg: GenConfig,
    page_confidences: list[dict[str, Any]] | None = None,
) -> dict[str, Any]:
    """One document's page-ordered elements → {"spans": [...]}, plus
    "confidence" (the pages' scores folded into the ConfidenceReport)
    when ``page_confidences`` is given. Numbers the elements' cids in
    place, document-global (readingorder_model.py:61), then runs reading
    order and attachment under the config's assembly flags."""
    for cid, el in enumerate(elements):
        el["cid"] = cid
    out: dict[str, Any] = {
        "spans": assemble_spans(
            elements,
            enable_merges=cfg.enable_merges,
            process_list_markers=cfg.process_list_markers,
            reading_order_mode=cfg.reading_order_mode,
            enrich_formulas=cfg.enrich_formulas,
        )
    }
    if page_confidences is not None:
        out["confidence"] = doc_confidence(page_confidences)
    return out


def extract_doc_result(
    doc_id: str, spans: list[dict[str, Any]], cfg: GenConfig,
    with_confidence: bool = False,
    timers: dict[str, float] | None = None,
) -> dict[str, Any]:
    """docs-row → {"spans": [...], "confidence": ConfidenceReport dict}.

    The confidence struct is the reference's per-page + per-document
    quality report (base_models.py:379-459), computed from the same
    post-processed clusters the spans come from (layout_model.py:243-249
    hook point). ``timers`` accumulates per-phase wall ms (parse /
    layout_predict / layout_postprocess / ocr / table_structure /
    doc_assemble, which includes the confidence report when asked) — the
    reference's stage-timer analogue."""
    t = time.monotonic()
    pages = typeset(doc_id, spans, cfg)
    mark_phase(timers, "parse", t)
    page_clusters = process_page_batch(
        [(doc_id, p) for p in pages], cfg, timers=timers
    )
    t = time.monotonic()
    elements: list[dict[str, Any]] = []
    for page, clusters in zip(pages, page_clusters):
        elements.extend(assemble_page_elements(doc_id, page.page_no, clusters))
    out = assemble_doc(
        elements, cfg,
        [
            page_confidence(page.page_no, clusters)
            for page, clusters in zip(pages, page_clusters)
        ] if with_confidence else None,
    )
    mark_phase(timers, "doc_assemble", t)
    return out
