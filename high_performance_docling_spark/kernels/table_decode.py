"""Synthetic table-structure decoder + full S5 table pipeline driver.

The reference's TableFormer (fork/table/tablemodel04_rs.py + transformer_rs
+ bbox_decoder_rs + batched_decoder) is a neural AR decoder emitting an
OTSL tag sequence plus one normalized bbox per emitting tag. In this
sandbox the neural stage is replaced by :func:`geometric_table_decode` —
a deterministic geometric reconstruction (band-cluster the member tokens
into rows/columns, emit fcel/ecel/ched/lcel/ucel accordingly) with the
SAME output contract (otsl_seq, normalized bboxes, classes), so everything
downstream (bbox translation, OTSL walk, IOPDF matching, the 9-step
matching post-processor, response generation, grid merge, index
compaction) is the real reference-faithful pipeline
(fork/table/tf_predictor.py:632-926 flow).

Batching: :func:`decode_tables_batch` accepts up to MAX_TABLE_BATCH work
items per call, mirroring the reference's dynamic chunking
(tablemodel04_rs.py:186-202) so a real model can slot in unchanged.
"""

from __future__ import annotations

from bisect import bisect_right as _bisect_right
from typing import Any

from .model_harness import FixedBatcher, ModelSpec
from .otsl import OtslCorrector, build_table_cells, check_bbox_sync, translate_bboxes
from .table_match import (
    compact_row_col_indexes,
    generate_tf_response,
    iopdf_match,
    iou_match,
    matching_post_process,
    merge_tf_output,
)

MAX_TABLE_BATCH = 128  # reference: tablemodel04_rs.py:187
_BAND_TOL = 3.0  # pt tolerance when clustering token edges into bands


def _bands(values: list[float], tol: float) -> list[float]:
    """Cluster 1D positions into band representatives (sorted)."""
    out: list[float] = []
    for v in sorted(values):
        if not out or v - out[-1] > tol:
            out.append(v)
    return out


def geometric_table_decode(
    table_bbox: list[float], tokens: list[dict[str, Any]]
) -> tuple[list[str], list[list[float]], list[int]]:
    """Reconstruct (otsl_seq, normalized bboxes, classes) from token
    geometry. Row bands from token tops, column bands from token lefts;
    a token spanning k column bands becomes fcel + (k-1) lcel; row 0 is
    emitted as ched (column headers); empty grid slots become ecel."""
    tl, tt, tr, tb = table_bbox
    w = max(tr - tl, 1e-6)
    h = max(tb - tt, 1e-6)
    if not tokens:
        return [], [], []

    row_pos = _bands([t["bbox"][1] for t in tokens], _BAND_TOL)
    col_pos = _bands([t["bbox"][0] for t in tokens], _BAND_TOL)

    # band positions are sorted, so "largest i with pos[i] <= v + tol" is
    # bisect_right - 1 — same float comparisons, same index as the
    # reference's linear max() scan
    def row_of(t):
        return _bisect_right(row_pos, t["bbox"][1] + _BAND_TOL) - 1

    def col_of(x):
        return _bisect_right(col_pos, x + _BAND_TOL) - 1

    n_rows, n_cols = len(row_pos), len(col_pos)
    grid: list[list[dict | None]] = [[None] * n_cols for _ in range(n_rows)]
    for t in tokens:
        r = row_of(t)
        c0 = col_of(t["bbox"][0])
        # how many column / row bands does this token cover?
        c1 = c0
        for c in range(c0 + 1, n_cols):
            if t["bbox"][2] > col_pos[c] + _BAND_TOL:
                c1 = c
        r1 = r
        for rr in range(r + 1, n_rows):
            if t["bbox"][3] > row_pos[rr] + _BAND_TOL:
                r1 = rr
        if grid[r][c0] is None:
            grid[r][c0] = {"token": t, "c1": c1, "r1": r1}
        else:
            # multiple tokens in one slot: widen the slot's extent
            grid[r][c0]["c1"] = max(grid[r][c0]["c1"], c1)
            grid[r][c0]["r1"] = max(grid[r][c0]["r1"], r1)

    # derive span ownership AFTER all tokens placed, so widened slots emit
    # lcel/ucel/xcel continuations rather than phantom ecels
    span_origin: list[list[tuple[int, int] | None]] = [
        [None] * n_cols for _ in range(n_rows)
    ]
    for r in range(n_rows):
        for c0 in range(n_cols):
            slot = grid[r][c0]
            if slot is None:
                continue
            for rr in range(r, slot["r1"] + 1):
                for c in range(c0, slot["c1"] + 1):
                    if span_origin[rr][c] is None:
                        span_origin[rr][c] = (r, c0)

    otsl: list[str] = []
    bboxes: list[list[float]] = []
    classes: list[int] = []
    # Per-step grammar corrections at the same point in the decode loop
    # where the reference applies them (batched_decoder.py:158-166): the
    # corrected tag decides bbox emission. Identity on this decoder's
    # legal streams; load-bearing once a neural AR decoder slots in.
    corrector = OtslCorrector()

    def norm(b):
        return [
            (b[0] - tl) / w,
            (b[1] - tt) / h,
            (b[2] - tl) / w,
            (b[3] - tt) / h,
        ]

    for r in range(n_rows):
        for c in range(n_cols):
            origin = span_origin[r][c]
            if origin is not None and origin != (r, c):
                orow, ocol = origin
                if orow == r:
                    tag = "lcel"  # left-merge continuation
                elif ocol == c:
                    tag = "ucel"  # up-merge continuation
                else:
                    tag = "xcel"
                tag = corrector.step(tag)
                otsl.append(tag)
                if tag in ("xcel", "fcel"):
                    # xcel is an emitting tag (tf_cell_matcher.py:381): it
                    # consumes a bbox/class slot; a corrected ucel+lcel→fcel
                    # emits its origin's box like the AR decoder's bbox head
                    bboxes.append(norm(grid[orow][ocol]["token"]["bbox"]))
                    classes.append(2)
                continue
            slot = grid[r][c]
            if slot is None:
                otsl.append(corrector.step("ecel"))
                # empty slot bbox: the grid cell extent
                x1 = col_pos[c]
                x2 = col_pos[c + 1] if c + 1 < n_cols else tr
                y1 = row_pos[r]
                y2 = row_pos[r + 1] if r + 1 < n_rows else tb
                bboxes.append(norm([x1, y1, x2, y2]))
                classes.append(0)
            else:
                tag = "ched" if r == 0 and n_rows > 1 else "fcel"
                otsl.append(corrector.step(tag))
                bboxes.append(norm(slot["token"]["bbox"]))
                classes.append(2)
        otsl.append(corrector.step("nl"))
    return otsl, bboxes, classes


def table_structure_for_tokens(
    table_bbox: list[float], tokens: list[dict[str, Any]],
    matcher: str = "iopdf", iou_thres: float = 0.05,
) -> dict[str, Any] | None:
    """Full S5 for one table: decode → build cells → match → post-process →
    respond → merge → compact. Returns {"tf_cells", "num_rows",
    "num_cols", "otsl_seq", "text"} or None when undecodable.

    ``matcher``: "iopdf" (default, the reference's active path) or "iou"
    (the tf_cell_matcher.py:564-640 alternative behind the
    pdf_cell_iou_thres config)."""
    if not tokens:
        return None
    otsl_seq, norm_bboxes, classes = geometric_table_decode(table_bbox, tokens)
    if not otsl_seq:
        return None
    _sync, norm_bboxes = check_bbox_sync(otsl_seq, norm_bboxes)  # tf_predictor.py:789
    page_bboxes = translate_bboxes(table_bbox, norm_bboxes)
    table_cells = build_table_cells(otsl_seq, page_bboxes, classes)
    if matcher == "iou":
        matches, _n = iou_match(table_cells, tokens, iou_thres)
    else:
        matches = iopdf_match(table_cells, tokens)
    cells_out, final_matches = matching_post_process(table_cells, tokens, matches)
    responses = generate_tf_response(cells_out, final_matches)
    responses.sort(key=lambda item: item["cell_id"])  # tf_predictor.py:845
    tf_cells = merge_tf_output(responses, tokens)
    num_rows, num_cols = compact_row_col_indexes(tf_cells)
    text = serialize_table_text(tf_cells)
    return {
        "tf_cells": tf_cells,
        "num_rows": num_rows,
        "num_cols": num_cols,
        "otsl_seq": otsl_seq,
        "text": text,
    }


def serialize_table_text(tf_cells: list[dict]) -> str:
    """Row-major text serialization of the merged grid: cells ordered by
    (start_row, start_col), each cell's matched tokens in match order."""
    parts: list[str] = []
    for cell in sorted(
        tf_cells, key=lambda c: (c["start_row_offset_idx"], c["start_col_offset_idx"])
    ):
        toks = [t["token"] for t in cell["text_cell_bboxes"] if t["token"]]
        if toks:
            parts.append(" ".join(toks))
    return " ".join(parts)


def gather_table_tokens(
    table_bbox: list[float], page_cells: list[dict[str, Any]], ios: float = 0.8
) -> list[dict[str, Any]]:
    """Table-token lookup with the reference's word-index semantics
    (page_word_index.py:80-126 query_bbox + table_structure_model.py:301-341
    _get_table_tokens): a token belongs to the table when IoS(word, table
    bbox) >= 0.8 over ALL page words — NOT when the word was argmax-assigned
    to the table cluster. A word overlapping the table but claimed by a
    neighboring cluster is still captured (VERDICT r1 parity fix).

    Whitespace handling matches :114-120: empty/space-only words skipped,
    leading/trailing space stripped. The reference accelerates the scan
    with a uniform grid; at our page sizes a linear pass per table is
    faster than building the index (same result, order = word index
    order, as np.unique over candidate ids yields ascending ids)."""
    ql, qt, qr, qb = table_bbox
    out: list[dict[str, Any]] = []
    for c in page_cells:
        l = c["l"]
        t = c["t"]
        r = c["r"]
        b = c["b"]
        iw = (r if r < qr else qr) - (l if l > ql else ql)
        if iw <= 0:
            continue
        ih = (b if b < qb else qb) - (t if t > qt else qt)
        if ih <= 0:
            continue
        if iw * ih / ((r - l) * (b - t) + 1e-6) < ios:
            continue
        text = c["text"]
        if not text or text.isspace():
            continue
        if text[0].isspace() or text[-1].isspace():
            text = text.strip()
        out.append({"id": c["index"], "text": text, "bbox": [l, t, r, b]})
    return out


def attach_table_structures(
    pages_clusters: list[list[dict]],
    pages_cells: list[list[dict]] | None = None,
) -> None:
    """Run S5 for every table cluster across a batch of pages (mirrors the
    reference's cross-table batching: tables from many pages share model
    batches, table_structure_model.py:155-278 + tf_predictor
    multi_table_predict). Mutates clusters in place: sets ``table_text``
    and ``table_struct`` on decodable tables; undecodable ones fall back
    to the assembly's sanitize-join (page_assemble_model.py:114-123
    empty-Table fallback).

    ``pages_cells`` (one word list per page) enables the reference's
    IoS>=0.8 word-index token gathering; when absent, falls back to the
    cluster's assigned cells (table_structure_model.py:313-317 fallback)."""
    from ..labels import TABLE_LABELS

    work: list[dict[str, Any]] = []
    refs: list[dict] = []
    for pi, clusters in enumerate(pages_clusters):
        page_cells = pages_cells[pi] if pages_cells is not None else None
        for cl in clusters:
            if cl["label"] not in TABLE_LABELS:
                continue
            if page_cells is not None:
                tokens = gather_table_tokens(
                    [cl["l"], cl["t"], cl["r"], cl["b"]], page_cells
                )
            else:
                tokens = [
                    {
                        "id": c["index"],
                        "text": c["text"],
                        "bbox": [c["l"], c["t"], c["r"], c["b"]],
                    }
                    for c in cl["cells"]
                ]
            if not tokens:
                continue
            work.append(
                {
                    "table_bbox": [cl["l"], cl["t"], cl["r"], cl["b"]],
                    "tokens": tokens,
                }
            )
            refs.append(cl)
    for cl, result in zip(refs, decode_tables_batch(work)):
        if result is not None:
            cl["table_text"] = result["text"]
            cl["table_struct"] = {
                "num_rows": result["num_rows"],
                "num_cols": result["num_cols"],
                "otsl_seq": result["otsl_seq"],
            }


class GeometricTableDecoder:
    """Executor-local singleton 'model' for table structure. A real
    TableFormer load (weights + compile, tf_predictor.py init) replaces
    __init__; decode_batch stays one batched forward per <=MAX_TABLE_BATCH
    items (tablemodel04_rs.py:186-202 dynamic chunking)."""

    def __init__(self) -> None:
        self.n_forward_calls = 0

    def decode_batch(self, items: list[dict[str, Any]]) -> list[dict[str, Any] | None]:
        self.n_forward_calls += 1
        return [
            table_structure_for_tokens(it["table_bbox"], it["tokens"]) for it in items
        ]


# pad_by_repeat=False: this decoder is a CPU kernel — padding would burn
# real work; a CUDA-graph decoder flips it to True
_TABLE_MODEL_SPEC = ModelSpec(
    name="geometric-table-decoder",
    loader=GeometricTableDecoder,
    batch_size=MAX_TABLE_BATCH,
    pad_by_repeat=False,
)


def decode_tables_batch(work_items: list[dict[str, Any]]) -> list[dict[str, Any] | None]:
    """Batched entry point (model-swap seam): the executor-local singleton
    decoder (model harness) processes work items in fixed chunks of
    MAX_TABLE_BATCH, mirroring the reference's dynamic chunking.
    Each item: {"table_bbox": [...], "tokens": [...]}."""
    if not work_items:
        return []
    batcher = FixedBatcher(_TABLE_MODEL_SPEC, GeometricTableDecoder.decode_batch)
    return batcher.run(work_items)
