"""Pipeline stages as vectorized Arrow UDF DataFrame transforms.

Two paths over the same kernels; ``pipeline.extract_spans`` picks one by
``checkpoint_dir`` alone.

Doc grain (no checkpoint_dir): :func:`doc_fused_stage` turns each
document into ordered spans inside ONE mapInPandas stage. A document is
self-contained, so this path has no shuffle and no second Python stage.

Page grain (checkpoint_dir set), the S1-S3 outputs materialized to
parquet:

  S0 docs      (doc_id, spans[])                       input corpus
  S1 parse     docs → pages (cells + typeset elements)  mapInPandas, 1→N rows
  S2 detect    pages → pages with detections           model harness
  S3+S6 layout pages → page elements                   mapInPandas, 1→1 rows
  S7 assemble  elements → (doc_id, spans_out[])        repartition(doc_id)

Page-grain scale design:
  - S1 explodes documents to page grain, so a 400-page mega-doc becomes
    400 independent rows that ``page_partitions`` can spread across the
    cluster (reference analogue: batch splitter,
    lambda_preprocessor.py:47-58).
  - S2 batches pages ACROSS documents into fixed-size model calls (the
    shape a GPU detector needs); S3 batches table structure across the
    pages of each Arrow batch.
  - The path's only shuffle is S7's repartition(doc_id); elements are
    text-sized (images/cells already dropped), so the shuffled payload is
    small.
  - Inside each stage the work is batched NumPy/Python over Arrow record
    batches — no per-row Python UDFs.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator
from operator import itemgetter
from typing import Any

import pandas as pd

_OFFSET_KEY = itemgetter("offset")

from ..corpus import (
    GenConfig,
    TypesetPage,
    element_from_dict,
    element_to_dict,
    synth_detections,
    typeset,
)
from ..kernels.assemble import assemble_page_elements
from ..kernels.convert import process_parsed_batch
from ..kernels.reading_order import assemble_spans
from ..schemas import (
    ELEMENTS_SCHEMA,
    PAGES_SCHEMA,
    PARSED_PAGES_SCHEMA,
    SPANS_OUT_SCHEMA,
)
from .model_harness import ModelSpec, arrow_model_stage


def _write_lineage_ms(
    lineage_dir: str | None, stage: str, n_in: int, n_out: int, wall_ms: float
) -> None:
    """Append a per-partition lineage row (SURVEY.md §2.9). Executor-local
    file append; on a real cluster this directory is shared storage."""
    if not lineage_dir:
        return
    try:
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
    except Exception:
        pid = -1
    os.makedirs(lineage_dir, exist_ok=True)
    row = {
        "stage": stage,
        "partition_id": pid,
        "input_rows": n_in,
        "output_rows": n_out,
        "wall_ms": wall_ms,
    }
    fname = f"{stage.replace('/', '.')}-{pid}-{os.getpid()}.jsonl"
    with open(os.path.join(lineage_dir, fname), "a") as f:
        f.write(json.dumps(row) + "\n")


def _write_lineage(lineage_dir: str | None, stage: str, n_in: int, n_out: int, t0: float) -> None:
    _write_lineage_ms(
        lineage_dir, stage, n_in, n_out, (time.monotonic() - t0) * 1000.0
    )


# --------------------------------------------------------------------------
# S1: parse — docs → pages (the synthetic "PDF backend" scan)
# --------------------------------------------------------------------------

def parse_stage(docs_df, cfg: GenConfig, lineage_dir: str | None = None,
                with_detections: bool = True):
    """(doc_id, spans[]) → one row per page.

    with_detections=True (legacy single-stage form): cells + raw
    detections, the synthetic detector invoked inline.
    with_detections=False (staged model path): cells + typeset `elements`
    (this corpus's stand-in for the rendered page image); detection runs
    in the separate :func:`detect_stage` model stage.

    Reference analogue: per-page load/parse (lambda_preprocessor.py:15-44);
    the detect stage mirrors layout_predictor_gpu.py:253-315.
    """
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t0 = time.monotonic()
        n_in = n_out = 0
        cols = ["doc_id", "page_no", "width", "height", "cells",
                "detections" if with_detections else "elements"]
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                n_in += 1
                span_list = [dict(s) for s in spans]
                span_list.sort(key=lambda s: s["offset"])
                pages = typeset(doc_id, span_list, cfg)
                for page in pages:
                    row = {
                        "doc_id": doc_id,
                        "page_no": page.page_no,
                        "width": page.width,
                        "height": page.height,
                        "cells": page.cells,
                    }
                    if with_detections:
                        row["detections"] = synth_detections(doc_id, page, cfg)
                    else:
                        row["elements"] = [element_to_dict(e) for e in page.elements]
                    rows.append(row)
            n_out += len(rows)
            yield pd.DataFrame(rows, columns=cols)
        _write_lineage(lineage_dir, "parse", n_in, n_out, t0)

    return docs_df.mapInPandas(
        fn, PAGES_SCHEMA if with_detections else PARSED_PAGES_SCHEMA
    )


# --------------------------------------------------------------------------
# S2: layout detection — a batched model stage through the generic harness
# --------------------------------------------------------------------------

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


def detect_stage(parsed_df, cfg: GenConfig, lineage_dir: str | None = None,
                 batch_size: int = 32):
    """Parsed pages (with typeset `elements`) → pages with detections.

    Runs through the generic model harness: executor-local lazy singleton
    detector, pages accumulated across Arrow record batches into
    fixed-size ``batch_size`` model calls, tail padded by repeating the
    last page (layout_predictor_gpu.py:267-275 semantics).

    ``cfg.detector`` selects the model behind the UNCHANGED harness:
    "synth" replays ground-truth boxes + recoverable noise; "conv" runs
    the real-math conv detector — each page renders to a float32 CHW
    raster in item_fn, pad-by-repeat repeats actual image tensors, and
    one NCHW batch flows through a genuine convolution forward per
    ⌈N/batch_size⌉ calls (kernels/toy_models.ConvLayoutDetector)."""
    if cfg.detector == "conv":
        from ..kernels.toy_models import ConvLayoutDetector

        spec = ModelSpec(
            name="conv-layout-detector",
            loader=ConvLayoutDetector,
            batch_size=batch_size,
            pad_by_repeat=True,
        )

        def item_fn(row: dict):
            from ..kernels.toy_models import render_detect_input

            return render_detect_input(
                float(row["width"]), float(row["height"]), row["elements"]
            )

        def forward(model, items: list) -> list:
            return model.predict_batch(items)
    else:
        spec = ModelSpec(
            name=f"synth-layout-detector:{cfg!r}",  # full cfg: any field changes detector behavior
            loader=lambda: SynthLayoutDetector(cfg),
            batch_size=batch_size,
            pad_by_repeat=True,  # a CUDA-graph model needs static batch shape
        )

        def item_fn(row: dict) -> tuple[str, TypesetPage]:
            page = TypesetPage(
                page_no=int(row["page_no"]),
                width=float(row["width"]),
                height=float(row["height"]),
                # the detector reads cell geometry for the marker-only
                # split noise case — must match the inline path exactly
                cells=[dict(c) for c in row["cells"]],
                elements=[element_from_dict(d, int(row["page_no"]))
                          for d in row["elements"]],
            )
            return (row["doc_id"], page)

        def forward(model: SynthLayoutDetector, items: list) -> list:
            return model.predict_batch(items)

    def result_fn(row: dict, dets: list[dict]) -> dict:
        return {
            "doc_id": row["doc_id"],
            "page_no": row["page_no"],
            "width": row["width"],
            "height": row["height"],
            "cells": row["cells"],
            "detections": dets,
        }

    t0 = time.monotonic()

    def on_complete(n_rows: int, n_forwards: int) -> None:
        _write_lineage(lineage_dir, "detect", n_rows, n_rows, t0)

    return arrow_model_stage(parsed_df, spec, item_fn, forward, result_fn,
                             PAGES_SCHEMA, on_complete=on_complete)


# --------------------------------------------------------------------------
# S2+S3+S6: layout postprocess + page assembly — pages → page elements
# --------------------------------------------------------------------------

def layout_stage(pages_df, cfg: GenConfig, lineage_dir: str | None = None,
                 with_confidence: bool = False):
    """One row per page in, one row per page out: layout post-processing
    (layout_postprocessor.py port), table-structure decoding batched
    ACROSS the pages of each Arrow batch (mirrors the reference's ≤128
    cross-page table batches, tablemodel04_rs.py:186-202), then page
    assembly (page_assemble_model.py port). Narrow — no shuffle.
    ``with_confidence`` adds the per-page PageConfidenceScores struct,
    computed here where the post-processed clusters still exist (a
    partial aggregation that doc_assemble_stage folds into the
    ConfidenceReport); it rides the elements checkpoint too."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import spatial_index as _si

        t0 = time.monotonic()
        n = 0
        grid0 = _si.GRID_CALLS
        for pdf in batches:
            rows = []
            for doc_id, page_no, width, height, cells, dets in zip(
                pdf["doc_id"], pdf["page_no"], pdf["width"], pdf["height"],
                pdf["cells"], pdf["detections"],
            ):
                n += 1
                rows.append(
                    {
                        "doc_id": doc_id,
                        "page_no": int(page_no),
                        "width": float(width),
                        "height": float(height),
                        "cells": [dict(c) for c in cells],
                        "detections": [dict(d) for d in dets],
                    }
                )
            page_clusters = process_parsed_batch(rows, cfg)
            out_elements = []
            out_conf = []
            for row, clusters in zip(rows, page_clusters):
                doc_id, page_no = row["doc_id"], row["page_no"]
                els = assemble_page_elements(doc_id, page_no, clusters)
                out_elements.append(
                    [
                        {
                            "label": e["label"],
                            "l": e["l"], "t": e["t"], "r": e["r"], "b": e["b"],
                            "text": e["text"],
                            "media_ref": e["media_ref"],
                            "children": e["children"],
                        }
                        for e in els
                    ]
                )
                if with_confidence:
                    from ..kernels.confidence import page_confidence

                    out_conf.append(page_confidence(page_no, clusters))
            data = {
                "doc_id": pdf["doc_id"],
                "page_no": pdf["page_no"],
                "elements": out_elements,
            }
            if with_confidence:
                data["page_confidence"] = out_conf
            yield pd.DataFrame(data)
        _write_lineage(lineage_dir, "layout", n, n, t0)
        if _si.GRID_CALLS > grid0:
            # evidence row: this partition had page(s) past GRID_CUTOVER
            _write_lineage_ms(lineage_dir, "layout/grid_pages",
                              _si.GRID_CALLS - grid0,
                              _si.GRID_CALLS - grid0, 0.0)

    from ..schemas import ELEMENTS_CONF_SCHEMA

    return pages_df.mapInPandas(
        fn, ELEMENTS_CONF_SCHEMA if with_confidence else ELEMENTS_SCHEMA
    )


# --------------------------------------------------------------------------
# fully-fused doc-grain stage: docs → ordered spans, zero shuffles
# --------------------------------------------------------------------------

def doc_fused_stage(docs_df, cfg: GenConfig, lineage_dir: str | None = None,
                    with_confidence: bool = False):
    """The default doc-grain path: a document is self-contained, so
    parse → layout → OCR → tables → assembly → reading order all run
    doc-locally in ONE mapInPandas stage (the serial oracle per doc,
    parallelized by partition). Model batches (layout, OCR, tables) form
    per document, not across the documents of an Arrow batch.

    Trade-off vs the checkpointed page-grain path: no shuffle and
    near-perfect core scaling, but a mega-document is one task (fine while
    per-page cost is CPU-milliseconds; pass ``checkpoint_dir`` to
    ``extract_spans`` when page-level model stages — GPU layout/OCR/
    TableFormer — need cross-doc batching at page grain, or when stage
    checkpoints are required)."""
    from ..oracle import extract_doc_result
    from ..schemas import SPANS_CONF_SCHEMA

    cols = ["doc_id", "spans"] + (["confidence"] if with_confidence else [])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import spatial_index as _si

        t0 = time.monotonic()
        n = 0
        grid0 = _si.GRID_CALLS
        timers: dict[str, float] = {}
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                n += 1
                # spans arrive from Arrow as fresh plain dicts and are
                # read-only downstream — no defensive copy needed
                # (tests/test_pipeline_e2e.py pins the no-mutation rule)
                span_list = sorted(spans, key=_OFFSET_KEY)
                res = extract_doc_result(doc_id, span_list, cfg,
                                         with_confidence=with_confidence,
                                         timers=timers if lineage_dir else None)
                row = {"doc_id": doc_id, "spans": res["spans"]}
                if with_confidence:
                    row["confidence"] = res["confidence"]
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)
        _write_lineage(lineage_dir, "doc_fused", n, n, t0)
        # per-phase timer dump, mirroring the reference's stage timers
        # (gpu_processor.py:333-363 / tf_predictor.py:556-562): one
        # lineage row per phase so lineage_report prints the breakdown
        for phase, ms in sorted(timers.items()):
            _write_lineage_ms(lineage_dir, f"doc_fused/{phase}", n, n, ms)
        if _si.GRID_CALLS > grid0:
            _write_lineage_ms(lineage_dir, "doc_fused/grid_pages",
                              _si.GRID_CALLS - grid0,
                              _si.GRID_CALLS - grid0, 0.0)

    return docs_df.mapInPandas(
        fn, SPANS_CONF_SCHEMA if with_confidence else SPANS_OUT_SCHEMA
    )


# --------------------------------------------------------------------------
# S7: document assembly — elements → ordered spans per doc
# --------------------------------------------------------------------------

def doc_assemble_stage(elements_df, cfg: GenConfig,
                       lineage_dir: str | None = None,
                       with_confidence: bool = False):
    """Per-document assembly: co-locate each doc's pages via
    repartition(doc_id), then group INSIDE the partition and run reading
    order + caption/footnote attachment, emitting the ordered span array.

    Deliberately ``repartition + mapInPandas`` instead of
    ``groupBy().applyInPandas``: applyInPandas pays a per-GROUP Arrow
    round-trip (~1ms), which for millions of small documents dwarfs the
    real work; one Arrow stream per PARTITION with an in-Python groupby
    is ~100× cheaper per doc and scales with cores. The in-group page
    sort makes the result independent of shuffle order (SURVEY.md §7).
    This is the page-grain path's single shuffle.
    """
    out_cols = ["doc_id", "spans"] + (["confidence"] if with_confidence else [])

    def assemble_doc(
        doc_id: str, pages: list[tuple[int, Any, Any]]
    ) -> dict[str, Any]:
        pages.sort(key=lambda x: x[0])
        elements: list[dict[str, Any]] = []
        for page_no, els, _pc in pages:
            for e in els:
                el = dict(e)
                el["page_no"] = int(page_no)
                children = el.get("children")
                el["children"] = [] if children is None else [dict(c) for c in children]
                el["cid"] = len(elements)
                elements.append(el)
        out = {
            "doc_id": doc_id,
            "spans": assemble_spans(
                elements,
                enable_merges=cfg.enable_merges,
                process_list_markers=cfg.process_list_markers,
                reading_order_mode=cfg.reading_order_mode,
                enrich_formulas=cfg.enrich_formulas,
            ),
        }
        if with_confidence:
            from ..kernels.confidence import doc_confidence

            out["confidence"] = doc_confidence(
                [dict(pc) for _, _, pc in pages if pc is not None]
            )
        return out

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t0 = time.monotonic()
        by_doc: dict[str, list[tuple[int, Any, Any]]] = {}
        for pdf in batches:
            confs = (
                pdf["page_confidence"]
                if with_confidence and "page_confidence" in pdf.columns
                else [None] * len(pdf)
            )
            for doc_id, page_no, els, pc in zip(
                pdf["doc_id"], pdf["page_no"], pdf["elements"], confs
            ):
                by_doc.setdefault(doc_id, []).append((int(page_no), els, pc))
        # grouping requires buffering the partition's input, but the OUTPUT
        # streams in bounded chunks (popping inputs as we go) so peak
        # memory doesn't double with partition size
        n_docs = len(by_doc)
        chunk: list[dict[str, Any]] = []
        for doc_id in list(by_doc):
            chunk.append(assemble_doc(doc_id, by_doc.pop(doc_id)))
            if len(chunk) >= 256:
                yield pd.DataFrame(chunk, columns=out_cols)
                chunk = []
        _write_lineage(lineage_dir, "assemble", n_docs, n_docs, t0)
        yield pd.DataFrame(chunk, columns=out_cols)

    from ..schemas import SPANS_CONF_SCHEMA

    n = elements_df.sparkSession.sparkContext.defaultParallelism * 2
    return elements_df.repartition(n, "doc_id").mapInPandas(
        fn, SPANS_CONF_SCHEMA if with_confidence else SPANS_OUT_SCHEMA
    )
