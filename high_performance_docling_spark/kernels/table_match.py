"""Table-cell ↔ pdf-cell matching and the 9-step matching post-processor.

From-scratch ports of:
  - IOPDF argmax matching        (fork/table/tf_cell_matcher.py:444-497)
  - MatchingPostProcessor        (fork/table/matching_post_processor.py:18-1404)
  - docling response generation  (fork/table/tf_predictor.py:981-1075)
  - tf-output merge by grid slot (fork/table/tf_predictor.py:379-436)
  - row/col index compaction     (fork/table/tf_predictor.py:584-623)

Order-sensitive heuristics (orphan duplicate resolution, column
elimination scan, dict insertion orders) are preserved exactly; match
dicts use STRING pdf-cell-id keys throughout (the reference mixes int
keys with a JSON round-trip that stringifies them —
matching_post_processor.py:385-388 — string-everywhere is equivalent).
All geometry is float64 TOP-LEFT page coords.
"""

from __future__ import annotations

import math
from operator import itemgetter as _itemgetter

import numpy as np

_CELL_ID_KEY = _itemgetter("cell_id")


# --------------------------------------------------------------------------
# matching (tf_cell_matcher.py:444-497)
# --------------------------------------------------------------------------

def iopdf_match(table_cells: list[dict], pdf_cells: list[dict]) -> dict[str, list[dict]]:
    """Per pdf cell: argmax over table cells of intersection/pdf_area,
    kept when > 0.01. Returns {pdf_id(str): [{"table_cell_id", "iopdf"}]}."""
    if not table_cells or not pdf_cells:
        return {}
    if len(table_cells) * len(pdf_cells) <= 2048:
        # typical tables: direct per-pdf-cell argmax loop — same IEEE
        # ops (clip ≡ skip-on-nonpositive with threshold > 0), same
        # first-strict-max tie-break as np.argmax, no numpy call overhead
        tgeom = [
            (t["bbox"][0], t["bbox"][1], t["bbox"][2], t["bbox"][3],
             t["cell_id"])
            for t in table_cells
        ]
        matches: dict[str, list[dict]] = {}
        for p in pdf_cells:
            pl, pt, pr, pb_ = p["bbox"]
            pa = (pr - pl) * (pb_ - pt)
            if pa == 0:
                pa = 1e-6
            best_score = 0.0
            best_cid = tgeom[0][4]
            for tl, tt, tr, tb_, cid in tgeom:
                iw = (tr if tr < pr else pr) - (tl if tl > pl else pl)
                if iw <= 0.0:
                    continue
                ih = (tb_ if tb_ < pb_ else pb_) - (tt if tt > pt else pt)
                if ih <= 0.0:
                    continue
                score = (iw * ih) / pa
                if score > best_score:
                    best_score = score
                    best_cid = cid
            if best_score > 0.01:
                matches[str(p["id"])] = [
                    {"table_cell_id": int(best_cid), "iopdf": best_score}
                ]
        return matches
    # flat-buffer construction: np.array over a flat float list is much
    # cheaper than over a list of 4-element lists
    tb = np.array(
        [v for t in table_cells for v in t["bbox"]], dtype=np.float64
    ).reshape(-1, 4)  # (T,4)
    pb = np.array(
        [v for p in pdf_cells for v in p["bbox"]], dtype=np.float64
    ).reshape(-1, 4)  # (P,4)
    ix1 = np.maximum(tb[:, None, 0], pb[None, :, 0])
    iy1 = np.maximum(tb[:, None, 1], pb[None, :, 1])
    ix2 = np.minimum(tb[:, None, 2], pb[None, :, 2])
    iy2 = np.minimum(tb[:, None, 3], pb[None, :, 3])
    inter = np.clip(ix2 - ix1, 0, None) * np.clip(iy2 - iy1, 0, None)  # (T,P)
    pdf_areas = (pb[:, 2] - pb[:, 0]) * (pb[:, 3] - pb[:, 1])
    pdf_areas = np.where(pdf_areas == 0, 1e-6, pdf_areas)
    iopdf = inter / pdf_areas[None, :]
    best_t = np.argmax(iopdf, axis=0).tolist()
    # value at the argmax == column max, exactly
    best_score = iopdf.max(axis=0).tolist()
    matches: dict[str, list[dict]] = {}
    for j, score in enumerate(best_score):
        if score > 0.01:
            matches[str(pdf_cells[j]["id"])] = [
                {
                    "table_cell_id": int(table_cells[best_t[j]]["cell_id"]),
                    "iopdf": score,
                }
            ]
    return matches


def iou_match(
    table_cells: list[dict], pdf_cells: list[dict], iou_thres: float = 0.05
) -> tuple[dict[str, list[dict]], int]:
    """IoU matching alternative (tf_cell_matcher.py:564-640 _iou_match,
    the parity option behind config["predict"]["pdf_cell_iou_thres"]):
    keeps EVERY (table_cell, pdf_cell) pair whose IoU >= threshold — a pdf
    cell can match several table cells, unlike iopdf_match's argmax.
    Returns ({pdf_id(str): [{"table_cell_id", "iou", "text"}]}, counter)."""
    if not table_cells or not pdf_cells:
        return {}, 0
    tb = np.array([t["bbox"] for t in table_cells], dtype=np.float64)  # (T,4)
    pb = np.array([p["bbox"] for p in pdf_cells], dtype=np.float64)  # (P,4)
    t_areas = (tb[:, 2] - tb[:, 0]) * (tb[:, 3] - tb[:, 1])
    p_areas = (pb[:, 2] - pb[:, 0]) * (pb[:, 3] - pb[:, 1])
    ix1 = np.maximum(tb[:, None, 0], pb[None, :, 0])
    iy1 = np.maximum(tb[:, None, 1], pb[None, :, 1])
    ix2 = np.minimum(tb[:, None, 2], pb[None, :, 2])
    iy2 = np.minimum(tb[:, None, 3], pb[None, :, 3])
    iw = ix2 - ix1
    ih = iy2 - iy1
    inter = np.where((iw > 0) & (ih > 0), iw * ih, 0.0)  # find_intersection None
    div = t_areas[:, None] + p_areas[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        iou = np.where(div > 0, inter / np.maximum(div, 1e-300), 0.0)
    matches: dict[str, list[dict]] = {}
    counter = 0
    for i, tc in enumerate(table_cells):  # table-major order (:604)
        for j in np.where((inter[i] > 0) & (iou[i] >= iou_thres))[0]:
            matches.setdefault(str(pdf_cells[int(j)]["id"]), []).append(
                {
                    "table_cell_id": int(tc["cell_id"]),
                    "iou": float(iou[i, int(j)]),
                    "text": pdf_cells[int(j)]["text"],
                }
            )
            counter += 1
    return matches, counter


# --------------------------------------------------------------------------
# matching post-processor steps (matching_post_processor.py)
# --------------------------------------------------------------------------

def _table_dimension(table_cells: list[dict]) -> tuple[int, int, int]:
    """(columns, rows, max_cell_id) — :32-60."""
    columns = rows = 1
    max_cell_id = 0
    for c in table_cells:
        columns = max(columns, c["column_id"])
        rows = max(rows, c["row_id"])
        max_cell_id = max(max_cell_id, c["cell_id"])
    return columns + 1, rows + 1, max_cell_id


def _good_bad_in_column(table_cells, column, matches):
    """Split a column's cells into matched (good, repeated once per match
    occurrence — the reference appends per match, :84-114) and unmatched.

    The reference's inner scan over every match per cell is O(cells ×
    matches); counting match occurrences per table_cell_id once gives the
    identical good/bad lists (all appends for one cell are the same
    object, so ``[cell] * count`` preserves order exactly) in O(matches +
    cells)."""
    counts: dict[int, int] = {}
    for match_list in matches.values():
        for m in match_list:
            tcid = m["table_cell_id"]
            counts[tcid] = counts.get(tcid, 0) + 1
    good, bad = [], []
    for cell in table_cells:
        if cell["column_id"] != column:
            continue
        n = counts.get(cell["cell_id"], 0) if cell.get("cell_class", 2) > 1 else 0
        if n:
            good.extend([cell] * n)
        else:
            bad.append(cell)
    return good, bad


def _find_alignment(cells: list[dict]) -> str:
    """Column alignment vote: smallest edge spread wins — :150-190."""
    if not cells:
        return "left"
    lefts = [c["bbox"][0] for c in cells]
    rights = [c["bbox"][2] for c in cells]
    middles = [(lf + r) / 2 for lf, r in zip(lefts, rights)]
    deltas = [max(lefts) - min(lefts), max(middles) - min(middles),
              max(rights) - min(rights)]
    return ["left", "middle", "right"][deltas.index(min(deltas))]


def _median(values: list[float]) -> float:
    """Exact median (np.median semantics: mean of the two middles) without
    numpy's per-call overhead on tiny lists."""
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return float(s[mid]) if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def _median_pos_size(cells, alignment):
    """Exact medians over unspanned, non-empty cells — :192-267."""
    xs, ys, ws, hs = [], [], [], []
    for c in cells:
        if "rowspan_val" in c or "colspan_val" in c or c.get("cell_class", 2) <= 1:
            continue
        x1, y1, x2, y2 = c["bbox"]
        x = x1 if alignment == "left" else ((x1 + x2) / 2 if alignment == "middle" else x2)
        xs.append(x)
        ys.append(y1)
        ws.append(x2 - x1)
        hs.append(y2 - y1)
    return (
        _median(xs) if xs else 0.0,
        _median(ys) if ys else 0.0,
        _median(ws) if ws else 1.0,
        _median(hs) if hs else 1.0,
    )


def _move_cells(cells, median_x, rescale, median_w, median_h, alignment):
    """Snap unmatched cells to the column's median alignment line — :269-357."""
    out = []
    for c in cells:
        x1, y1, x2, y2 = c["bbox"]
        w = x2 - x1
        nx1, ny1, nx2, ny2 = median_x, y1, median_x + w, y2
        if rescale:
            nx2 = median_x + median_w
            ny2 = y1 + median_h
        if alignment == "middle":
            nx1 = median_x - w / 2
            nx2 = nx1 + w
            if rescale:
                nx1 = median_x - median_w / 2
                nx2 = median_x + median_w / 2
        if alignment == "right":
            nx1, nx2 = median_x - w, median_x
            if rescale:
                nx1 = median_x - median_w
        nc = {
            "bbox": [nx1, ny1, nx2, ny2],
            "cell_id": c["cell_id"],
            "column_id": c["column_id"],
            "label": c["label"],
            "row_id": c["row_id"],
            "cell_class": c["cell_class"],
        }
        for k in ("rowspan_val", "colspan_val"):
            if k in c:
                nc[k] = c[k]
        out.append(nc)
    return out


def _align_cells_to_pdf(table_cells, pdf_cells, matches):
    """Replace matched table-cell bboxes with (the envelope of) their
    matched pdf cells' bboxes — :474-539."""
    pdf_bbox = {p["id"]: p["bbox"] for p in pdf_cells}
    by_id = {c["cell_id"]: c for c in table_cells}
    new_cells = []
    for pdf_id, match_list in matches.items():
        # single-match lists (the step-8 final assignment) skip the set
        # build; identical iteration for the general case
        if len(match_list) == 1:
            ids = (int(match_list[0]["table_cell_id"]),)
        else:
            ids = set(int(m["table_cell_id"]) for m in match_list)
        bbox = pdf_bbox.get(int(pdf_id))
        if not bbox:
            continue
        for cid in ids:
            tc = by_id.get(cid)
            if not tc:
                continue
            nc = dict(tc)
            nc["bbox"] = list(bbox)
            nc.setdefault("cell_class", 2)
            new_cells.append(nc)
    groups: dict[int, list] = {}
    for c in new_cells:
        groups.setdefault(c["cell_id"], []).append(c["bbox"])
    out, seen = [], set()
    for c in new_cells:
        cid = c["cell_id"]
        if cid in seen:
            continue
        bbs = groups[cid]
        if len(bbs) > 1:
            c["bbox"] = [min(b[0] for b in bbs), min(b[1] for b in bbs),
                         max(b[2] for b in bbs), max(b[3] for b in bbs)]
        out.append(c)
        seen.add(cid)
    return out


def _deduplicate_columns(tab_columns, table_cells, iou_matches, ioc_matches):
    """Drop the lower-scoring of two adjacent columns whose pdf-cell sets
    overlap >60% — :541-680.

    Requires unique ``cell_id``s in ``table_cells`` (the decoder numbers
    cells one per emitting tag): the single cell_id → column_id map below
    stands in for the reference's per-column scans only then, so a
    duplicate id raises ``ValueError``."""
    # cell_id → column map turns the per-column O(matches × cells) scans
    # into two single passes; per-column float additions happen in the
    # same order as the reference's per-column loops (iou dict order,
    # then ioc dict order), so the scores are bit-identical
    col_of = {c["cell_id"]: c["column_id"] for c in table_cells}
    if len(col_of) != len(table_cells):
        raise ValueError("_deduplicate_columns: duplicate cell_id in table_cells")
    pdf_iou_by_col: list[list] = [[] for _ in range(tab_columns)]
    pdf_ioc_by_col: list[list] = [[] for _ in range(tab_columns)]
    score_in_col = [0.0] * tab_columns
    for key, mlist in iou_matches.items():
        for m in mlist:
            col = col_of.get(m["table_cell_id"])
            if col is not None and 0 <= col < tab_columns:
                score_in_col[col] += m.get("iou", m.get("iopdf", 0.0))
                pdf_iou_by_col[col].append(key)
    for key, mlist in ioc_matches.items():
        for m in mlist:
            col = col_of.get(m["table_cell_id"])
            if col is not None and 0 <= col < tab_columns:
                score_in_col[col] += m["iopdf"]
                pdf_ioc_by_col[col].append(key)
    pdf_in_col = []
    for col in range(tab_columns):
        pdf_iou, pdf_ioc = pdf_iou_by_col[col], pdf_ioc_by_col[col]
        col_pdf = pdf_iou + list(set(pdf_ioc) - set(pdf_iou))
        pdf_in_col.append(list(set(int(x) for x in col_pdf)))

    cols_to_drop = []
    for cl in range(tab_columns - 1):
        a, b = pdf_in_col[cl], pdf_in_col[cl + 1]
        inter = set(a) & set(b)
        frac = len(inter) / len(a) if a else 0.0
        if frac > 0.6:
            if score_in_col[cl] >= score_in_col[cl + 1]:
                cols_to_drop.append(cl + 1)
            else:
                cols_to_drop.append(cl)

    removed_ids = set()
    new_cells = []
    for c in table_cells:
        if c["column_id"] in cols_to_drop:
            removed_ids.add(c["cell_id"])
        else:
            new_cells.append(c)
    new_matches = {}
    for pdf_id, mlist in ioc_matches.items():
        kept = [m for m in mlist if m["table_cell_id"] not in removed_ids]
        if kept:
            new_matches[pdf_id] = kept
    return new_cells, new_matches, tab_columns - len(cols_to_drop)


def _final_assignment(ioc_matches):
    """Each pdf cell keeps only its single best iopdf match — :682-717."""
    return {
        pdf_id: [max(mlist, key=lambda m: m["iopdf"])]
        for pdf_id, mlist in ioc_matches.items()
    }


def _merge_bbox(b1, b2):
    return [min(b1[0], b2[0]), min(b1[1], b2[1]), max(b1[2], b2[2]), max(b1[3], b2[3])]


def _pick_orphans(tab_rows, tab_cols, max_cell_id, table_cells, pdf_cells, matches):
    """Band unmatched pdf cells into rows (Y extents) and columns (X
    extents), duplicate-resolving by centroid depth; attach to the
    structural cell at (row, col) or create a new one — :742-1106.
    Sequential order preserved exactly (duplicate resolution mutates
    earlier bands)."""
    new_matches = matches
    new_cells = table_cells

    def band_scan(n_bands, axis_is_row):
        bands: list[list[str]] = []
        depths: list[list[int]] = []
        bboxes: list[list[list[float]]] = []
        used_ids: list[str] = []
        used_band: list[int] = []
        lo_key, hi_key = (1, 3) if axis_is_row else (0, 2)
        span_key = "rowspan_val" if axis_is_row else "colspan_val"
        grp_key = "row_id" if axis_is_row else "column_id"
        # band extents in one pass over table_cells (the reference
        # rescans all cells per band); min/max accumulation is
        # order-independent, results identical
        ext: dict[int, list[float]] = {}
        for cell in table_cells:
            if span_key not in cell and cell.get("cell_class", 2) > 1:
                band = cell[grp_key]
                lo = cell["bbox"][lo_key]
                hi = cell["bbox"][hi_key]
                e = ext.get(band)
                if e is None:
                    ext[band] = [lo, hi]
                else:
                    if lo < e[0]:
                        e[0] = lo
                    if hi > e[1]:
                        e[1] = hi
        # unmatched pdf cells (matches is not mutated during the scans)
        unmatched = [
            (str(p["id"]), p["bbox"][lo_key], p["bbox"][hi_key], p["bbox"])
            for p in pdf_cells
            if str(p["id"]) not in matches
        ]
        for band in range(n_bands):
            e = ext.get(band)
            b_lo = e[0] if e is not None else -1
            b_hi = e[1] if e is not None else -1
            in_band, in_depth, in_bbox = [], [], []
            centroid_band = (b_hi + b_lo) / 2
            for pid, p_lo, p_hi, p_bbox in unmatched:
                centroid_cell = (p_hi + p_lo) / 2
                within = (
                    (b_lo <= p_lo <= b_hi)
                    or (b_lo <= p_hi <= b_hi)
                    or (p_lo <= b_lo and p_hi >= b_hi)
                )
                if not within:
                    continue
                depth = abs(centroid_band - centroid_cell)
                if pid not in used_ids:
                    used_ids.append(pid)
                    used_band.append(band)
                    in_band.append(pid)
                    in_depth.append(round(depth))
                    in_bbox.append(p_bbox)
                else:
                    used_ix = used_ids.index(pid)
                    prev_band = used_band[used_ix]
                    if len(bands) > prev_band and pid in bands[prev_band]:
                        ix = bands[prev_band].index(pid)
                        if round(depth) < depths[prev_band][ix]:
                            bands[prev_band].pop(ix)
                            depths[prev_band].pop(ix)
                            bboxes[prev_band].pop(ix)
                            used_ids.pop(used_ix)
                            used_band.pop(used_ix)
                            used_ids.append(pid)
                            used_band.append(band)
                            in_band.append(pid)
                            in_depth.append(round(depth))
                            in_bbox.append(p_bbox)
            bands.append(in_band)
            depths.append(in_depth)
            bboxes.append(in_bbox)
        return bands, depths, bboxes, used_ids, used_band

    orphan_rows, _row_depths, _row_bboxes, _, _ = band_scan(tab_rows, True)
    orphan_cols, col_depths, col_bboxes, used_col_ids, used_col_band = band_scan(
        tab_cols, False
    )

    # Row ids per orphan pdf cell, processed in ascending pdf id order
    # (the reference sorts to match its C++ implementation, :1026-1039).
    row_per_pdf: dict[int, int] = {}
    orphan_pdf_ids: list[int] = []
    for row_id, row_ids in enumerate(orphan_rows):
        orphan_pdf_ids.extend(int(x) for x in row_ids)
        for pid in row_ids:
            row_per_pdf[int(pid)] = row_id
    orphan_pdf_ids.sort()

    for pdf_int in orphan_pdf_ids:
        new_row = row_per_pdf[pdf_int]
        pid = str(pdf_int)
        if pid not in used_col_ids:
            continue
        new_col = used_col_band[used_col_ids.index(pid)]
        depth_ix = orphan_cols[new_col].index(pid)
        confidence = col_depths[new_col][depth_ix]
        pdf_bbox = col_bboxes[new_col][depth_ix]

        target = [
            c for c in table_cells
            if c["row_id"] == new_row and c["column_id"] == new_col
        ]
        if target:
            tid = target[0]["cell_id"]
            for c in new_cells:
                if c["cell_id"] == tid:
                    c["bbox"] = _merge_bbox(c["bbox"], pdf_bbox)
        else:
            max_cell_id += 1
            tid = max_cell_id
            new_cells.append(
                {
                    "bbox": list(pdf_bbox),
                    "cell_id": tid,
                    "column_id": new_col,
                    "label": "body",
                    "row_id": new_row,
                    "cell_class": 2,
                }
            )
        new_matches[pid] = [{"post": confidence, "table_cell_id": tid}]
    return new_matches, new_cells, max_cell_id


def _correct_overlapping(table_cells):
    """Push overlapping cell bboxes apart along the smaller-overlap axis —
    :390-472 (sequential pairwise, mutating)."""
    def overlap(b1, b2):
        return not (
            b1[0] >= b2[2] or b1[2] <= b2[0] or b1[3] <= b2[1] or b1[1] >= b2[3]
        )

    def correct(c1, c2):
        x1a, y1a, x2a, y2a = c1["bbox"]
        x1b, y1b, x2b, y2b = c2["bbox"]
        ox = min(x2a, x2b) - max(x1a, x1b)
        oy = min(y2a, y2b) - max(y1a, y1b)
        if ox <= 0 or oy <= 0:
            return
        if ox < oy:
            if x1a < x1b:
                c1["bbox"][2] -= math.ceil(ox / 2) + 2
                c2["bbox"][0] += math.floor(ox / 2)
            else:
                c2["bbox"][2] -= math.ceil(ox / 2) + 2
                c1["bbox"][0] += math.floor(ox / 2)
        else:
            if y1a < y1b:
                c1["bbox"][3] -= math.ceil(oy / 2) + 2
                c2["bbox"][1] += math.floor(oy / 2)
            else:
                c2["bbox"][3] -= math.ceil(oy / 2) + 2
                c1["bbox"][1] += math.floor(oy / 2)
        for c in (c1, c2):
            b = c["bbox"]
            c["bbox"] = [min(b[0], b[2]), min(b[1], b[3]),
                         max(b[0], b[2]), max(b[1], b[3])]

    for i in range(len(table_cells)):
        for j in range(i + 1, len(table_cells)):
            if table_cells[i]["bbox"] != table_cells[j]["bbox"]:
                if overlap(table_cells[i]["bbox"], table_cells[j]["bbox"]):
                    correct(table_cells[i], table_cells[j])
    return table_cells


def matching_post_process(
    table_cells: list[dict],
    pdf_cells: list[dict],
    matches: dict[str, list[dict]],
    correct_overlapping_cells: bool = False,
) -> tuple[list[dict], dict[str, list[dict]]]:
    """Steps 0-9 of MatchingPostProcessor.process (:1128-1404)."""
    pdf_cells = [p for p in pdf_cells if p["text"] != ""]  # :1108-1126
    if not matches:
        matches = iopdf_match(table_cells, pdf_cells)

    tab_columns, tab_rows, max_cell_id = _table_dimension(table_cells)

    fixed = []
    for col in range(tab_columns):  # steps 1-4
        good, bad = _good_bad_in_column(table_cells, col, matches)
        alignment = _find_alignment(good)
        median_x, _my, median_w, median_h = _median_pos_size(good, alignment)
        moved = _move_cells(bad, median_x, False, median_w, median_h, alignment)
        fixed.extend(good)
        fixed.extend(moved)

    fixed_sorted = sorted(fixed, key=_CELL_ID_KEY)
    ioc_matches = iopdf_match(fixed_sorted, pdf_cells)  # step 5

    dedup_cells, dedup_matches, _ncols = _deduplicate_columns(  # step 7
        tab_columns, fixed_sorted, matches, ioc_matches
    )
    final_matches = _final_assignment(dedup_matches)  # step 8

    dedup_sorted = sorted(dedup_cells, key=_CELL_ID_KEY)  # step 8a
    if len(pdf_cells) > 300:  # performance bypass that changes results (:1333-1340)
        aligned = dedup_sorted
    else:
        aligned = _align_cells_to_pdf(dedup_sorted, pdf_cells, final_matches)

    final_matches, cells_out, max_cell_id = _pick_orphans(  # step 9
        tab_rows, tab_columns, max_cell_id, aligned, pdf_cells, final_matches
    )

    if correct_overlapping_cells and len(cells_out) <= 300:
        cells_out = _correct_overlapping(cells_out)

    return cells_out, final_matches


# --------------------------------------------------------------------------
# docling response + merge + compaction (tf_predictor.py)
# --------------------------------------------------------------------------

def generate_tf_response(table_cells: list[dict], matches: dict[str, list[dict]]) -> list[dict]:
    """One response row per MATCHED pdf cell (cell_id = pdf id) carrying its
    table cell's grid coordinates — tf_predictor.py:981-1075."""
    by_id = {c["cell_id"]: c for c in table_cells}
    out = []
    for pdf_cell_id, mlist in matches.items():
        tf = {
            "cell_id": int(pdf_cell_id),
            "bbox": {},
            "row_span": 1,
            "col_span": 1,
            "start_row_offset_idx": -1,
            "end_row_offset_idx": -1,
            "start_col_offset_idx": -1,
            "end_col_offset_idx": -1,
            "column_header": False,
            "row_header": False,
            "row_section": False,
        }
        for m in mlist:
            tc = by_id.get(m["table_cell_id"])
            if tc is None:
                continue
            label = tc.get("label")
            if label == "ched":
                tf["column_header"] = True
            if label == "rhed":
                tf["row_header"] = True
            if label == "srow":
                tf["row_section"] = True
            tf["start_col_offset_idx"] = tc["column_id"]
            tf["end_col_offset_idx"] = tc["column_id"] + 1
            tf["start_row_offset_idx"] = tc["row_id"]
            tf["end_row_offset_idx"] = tc["row_id"] + 1
            if "colspan_val" in tc:
                tf["col_span"] = tc["colspan_val"]
                tf["end_col_offset_idx"] = tc["column_id"] + tc["colspan_val"]
            if "rowspan_val" in tc:
                tf["row_span"] = tc["rowspan_val"]
                tf["end_row_offset_idx"] = tc["row_id"] + tc["rowspan_val"]
            b = tc["bbox"]
            tf["bbox"] = {"l": b[0], "t": b[1], "r": b[2], "b": b[3]}
        out.append(tf)
    return out


def merge_tf_output(docling_output: list[dict], pdf_cells: list[dict]) -> list[dict]:
    """Group responses by (start_col, start_row) grid slot; collect matched
    pdf tokens per slot — tf_predictor.py:379-436."""
    pdf_by_id = {p["id"]: p for p in pdf_cells}
    # tuple grid key instead of the reference's f-string: identical
    # first-seen insertion order (so identical output order), no string
    # formatting in the hot loop
    slots: dict[tuple, dict] = {}
    for item in docling_output:
        key = (item["start_col_offset_idx"], item["start_row_offset_idx"])
        if key not in slots:
            slots[key] = {
                "bbox": item["bbox"],
                "row_span": item["row_span"],
                "col_span": item["col_span"],
                "start_row_offset_idx": item["start_row_offset_idx"],
                "end_row_offset_idx": item["end_row_offset_idx"],
                "start_col_offset_idx": item["start_col_offset_idx"],
                "end_col_offset_idx": item["end_col_offset_idx"],
                "text_cell_bboxes": [],
                "column_header": item["column_header"],
                "row_header": item["row_header"],
                "row_section": item["row_section"],
            }
        p = pdf_by_id.get(item["cell_id"])
        if p is not None:
            slots[key]["text_cell_bboxes"].append(
                {"l": p["bbox"][0], "t": p["bbox"][1], "r": p["bbox"][2],
                 "b": p["bbox"][3], "token": p["text"]}
            )
    return list(slots.values())


def compact_row_col_indexes(tf_cells: list[dict]) -> tuple[int, int]:
    """Remap start_row/col to dense 0..K-1 ranks; returns (num_rows,
    num_cols) — tf_predictor.py:584-623. Mutates tf_cells."""
    col_rank = {v: i for i, v in enumerate(sorted({c["start_col_offset_idx"] for c in tf_cells}))}
    row_rank = {v: i for i, v in enumerate(sorted({c["start_row_offset_idx"] for c in tf_cells}))}
    max_c = max_r = 0
    for c in tf_cells:
        c["start_col_offset_idx"] = col_rank[c["start_col_offset_idx"]]
        c["end_col_offset_idx"] = c["start_col_offset_idx"] + c["col_span"]
        if c["end_col_offset_idx"] > max_c:
            max_c = c["end_col_offset_idx"]
        c["start_row_offset_idx"] = row_rank[c["start_row_offset_idx"]]
        c["end_row_offset_idx"] = c["start_row_offset_idx"] + c["row_span"]
        if c["end_row_offset_idx"] > max_r:
            max_r = c["end_row_offset_idx"]
    return max_r, max_c
