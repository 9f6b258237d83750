"""Order-sensitive matching post-processor edge cases
(matching_post_processor.py ports: column dedup, cell moving, orphan
banding with duplicate resolution, >300-cell bypass)."""

import pytest

from high_performance_docling_spark.kernels.table_match import (
    _deduplicate_columns,
    _find_alignment,
    _good_bad_in_column,
    _move_cells,
    _pick_orphans,
    matching_post_process,
)


def tcell(cid, r, c, bbox, cls=2, label="fcel", **extra):
    d = {"cell_id": cid, "row_id": r, "column_id": c, "bbox": list(bbox),
         "cell_class": cls, "label": label}
    d.update(extra)
    return d


def tok(i, text, l, t, r, b):
    return {"id": i, "text": text, "bbox": [float(l), float(t), float(r), float(b)]}


def test_good_bad_repeats_per_match_occurrence():
    cells = [tcell(0, 0, 0, [0, 0, 10, 10]), tcell(1, 1, 0, [0, 10, 10, 20])]
    matches = {
        "5": [{"table_cell_id": 0, "iopdf": 1.0}],
        "6": [{"table_cell_id": 0, "iopdf": 0.9}],
    }
    good, bad = _good_bad_in_column(cells, 0, matches)
    # cell 0 matched twice → appears twice (reference :84-114 semantics)
    assert [c["cell_id"] for c in good] == [0, 0]
    assert [c["cell_id"] for c in bad] == [1]


def test_good_bad_empty_class_never_good():
    cells = [tcell(0, 0, 0, [0, 0, 10, 10], cls=0)]
    matches = {"5": [{"table_cell_id": 0, "iopdf": 1.0}]}
    good, bad = _good_bad_in_column(cells, 0, matches)
    assert good == [] and [c["cell_id"] for c in bad] == [0]


def test_alignment_vote_right():
    cells = [
        tcell(0, 0, 0, [0, 0, 100, 10]),
        tcell(1, 1, 0, [60, 10, 100, 20]),
        tcell(2, 2, 0, [30, 20, 100, 30]),
    ]
    assert _find_alignment(cells) == "right"


def test_move_cells_right_alignment():
    moved = _move_cells(
        [tcell(0, 0, 0, [0, 0, 40, 10])], median_x=100, rescale=False,
        median_w=1, median_h=1, alignment="right",
    )
    assert moved[0]["bbox"] == [60, 0, 100, 10]


def test_column_dedup_drops_lower_scoring_adjacent():
    # columns 0 and 1 point at the same pdf cells; col 0 scores higher
    cells = [
        tcell(0, 0, 0, [0, 0, 10, 10]),
        tcell(1, 0, 1, [0, 0, 10, 10]),
        tcell(2, 0, 2, [20, 0, 30, 10]),
    ]
    iou = {"7": [{"table_cell_id": 0, "iopdf": 0.9}]}
    ioc = {
        "7": [{"table_cell_id": 0, "iopdf": 0.9},
              {"table_cell_id": 1, "iopdf": 0.2}],
        "8": [{"table_cell_id": 2, "iopdf": 0.8}],
    }
    new_cells, new_matches, ncols = _deduplicate_columns(3, cells, iou, ioc)
    assert [c["cell_id"] for c in new_cells] == [0, 2]
    assert ncols == 2
    assert "7" in new_matches and all(
        m["table_cell_id"] != 1 for m in new_matches["7"]
    )


def test_column_dedup_rejects_duplicate_cell_ids():
    # one cell_id in two columns: the cell_id → column map would keep only
    # the last, so the column scores would silently differ from :541-680
    cells = [tcell(0, 0, 0, [0, 0, 10, 10]), tcell(0, 0, 1, [20, 0, 30, 10])]
    iou = {"7": [{"table_cell_id": 0, "iopdf": 0.9}]}
    with pytest.raises(ValueError, match="duplicate cell_id"):
        _deduplicate_columns(2, cells, iou, {})


def test_orphan_banding_assigns_row_and_column():
    # 1x2 grid; one unmatched token below row 0 in column 1's band →
    # creates a NEW structural cell at (0-band it falls in, col 1)
    cells = [
        tcell(0, 0, 0, [0, 0, 40, 20]),
        tcell(1, 0, 1, [50, 0, 90, 20]),
    ]
    tokens = [
        tok(10, "a", 1, 1, 39, 19),
        tok(11, "b", 51, 1, 89, 19),
        tok(12, "orphan", 55, 2, 85, 18),  # inside row 0 band, col 1 band
    ]
    matches = {
        "10": [{"table_cell_id": 0, "iopdf": 1.0}],
        "11": [{"table_cell_id": 1, "iopdf": 1.0}],
    }
    new_matches, new_cells, max_id = _pick_orphans(
        1, 2, 1, [dict(c) for c in cells], tokens, dict(matches)
    )
    assert "12" in new_matches
    tid = new_matches["12"][0]["table_cell_id"]
    target = next(c for c in new_cells if c["cell_id"] == tid)
    assert (target["row_id"], target["column_id"]) == (0, 1)
    # existing structural cell reused → bbox merged to cover the orphan
    assert tid == 1


def test_orphan_duplicate_resolution_prefers_smaller_depth():
    # two row bands; the orphan's centroid is nearer band 1 → duplicate
    # resolution moves it from band 0 to band 1 (reference :848-891)
    cells = [
        tcell(0, 0, 0, [0, 0, 40, 30]),
        tcell(1, 1, 0, [0, 28, 40, 60]),
    ]
    tokens = [
        tok(10, "a", 1, 1, 39, 29),
        tok(11, "b", 1, 29, 39, 59),
        # starts inside both bands; centroid (37) is depth 22 from band 0's
        # centroid (15) but only depth 7 from band 1's (44) → band 1 wins
        tok(12, "x", 1, 29, 39, 45),
    ]
    matches = {
        "10": [{"table_cell_id": 0, "iopdf": 1.0}],
        "11": [{"table_cell_id": 1, "iopdf": 1.0}],
    }
    new_matches, new_cells, _ = _pick_orphans(
        2, 1, 1, [dict(c) for c in cells], tokens, dict(matches)
    )
    tid = new_matches["12"][0]["table_cell_id"]
    target = next(c for c in new_cells if c["cell_id"] == tid)
    assert target["row_id"] == 1


def test_over_300_pdf_cells_bypasses_alignment():
    # >300 tokens skips the 8a align step (:1333-1340) — smoke that the
    # path completes and every token still gets matched
    cells = [
        tcell(i, i // 20, i % 20, [(i % 20) * 10, (i // 20) * 10,
                                   (i % 20) * 10 + 9, (i // 20) * 10 + 9])
        for i in range(400)
    ]
    tokens = [
        tok(i, f"t{i}", (i % 20) * 10 + 1, (i // 20) * 10 + 1,
            (i % 20) * 10 + 8, (i // 20) * 10 + 8)
        for i in range(400)
    ]
    out_cells, out_matches = matching_post_process(cells, tokens, {})
    assert len(out_matches) == 400
