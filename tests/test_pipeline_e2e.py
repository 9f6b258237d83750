"""Spark pipeline == serial oracle, span-for-span (FIXTURES.md §5), plus
checkpoint/resume semantics."""

import os

from high_performance_docling_spark.corpus import GenConfig
from high_performance_docling_spark.oracle import extract_doc_spans
from high_performance_docling_spark.pipeline import (
    docs_dataframe,
    extract_spans,
)

CFG = GenConfig(seed=42, n_docs=36, noise=True, mega_frac=0.1, mega_pages=16)


def _spans(rows):
    return {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in rows}


def test_spark_matches_oracle_exactly(spark):
    docs = docs_dataframe(spark, CFG, num_partitions=6)
    got = _spans(extract_spans(spark, docs, CFG).collect())
    inputs = _spans(docs.collect())
    assert len(got) == CFG.n_docs
    for doc_id, in_spans in inputs.items():
        assert got[doc_id] == extract_doc_spans(doc_id, in_spans, CFG), doc_id


def test_staged_mode_equals_fused_mode(spark, tmp_path):
    """The checkpointed page-grain path (parse → detect → layout, then the
    doc_id shuffle into doc_assemble_stage) equals the lazy doc-grain
    path on the mega-doc corpus."""
    docs = docs_dataframe(spark, CFG, num_partitions=6)
    lazy = _spans(extract_spans(spark, docs, CFG).collect())
    paged = _spans(extract_spans(spark, docs, CFG,
                                 checkpoint_dir=str(tmp_path / "ckpt")).collect())
    assert len(lazy) == CFG.n_docs
    assert lazy == paged


def test_doc_assemble_stage_threads_reading_order_mode(spark):
    """The page-grain assembly honours cfg.reading_order_mode: on a
    two-column page whose whitespace band is wider than the gutter, rb
    reads each column down while xycut interleaves them, and
    doc_assemble_stage equals assemble_spans under each mode."""
    from high_performance_docling_spark.kernels.reading_order import assemble_spans
    from high_performance_docling_spark.operators.stages import doc_assemble_stage
    from high_performance_docling_spark.schemas import ELEMENTS_SCHEMA

    def el(l, t, r, b, text):
        return {"label": "text", "l": float(l), "t": float(t), "r": float(r),
                "b": float(b), "text": text, "media_ref": "", "children": []}

    pages = [  # page 1 first: the stage must sort pages before numbering
        (1, [el(50, 100, 560, 200, "Next page.")]),
        (0, [el(50, 100, 290, 200, "Left top."),
             el(320, 100, 560, 200, "Right top."),
             el(50, 300, 290, 400, "Left bottom."),
             el(320, 300, 560, 400, "Right bottom.")]),
    ]
    df = spark.createDataFrame(
        [("d0", page_no, els) for page_no, els in pages], ELEMENTS_SCHEMA
    )
    got = {}
    for mode in ("rb", "xycut"):
        cfg = GenConfig(reading_order_mode=mode)
        (row,) = doc_assemble_stage(df, cfg).collect()
        got[mode] = [s.asDict() for s in row["spans"]]
        elements = [
            dict(e, cid=cid, page_no=page_no)
            for cid, (page_no, e) in enumerate(
                (p, e) for p, els in sorted(pages) for e in els
            )
        ]
        assert got[mode] == assemble_spans(
            elements,
            enable_merges=cfg.enable_merges,
            process_list_markers=cfg.process_list_markers,
            reading_order_mode=mode,
            enrich_formulas=cfg.enrich_formulas,
        ), mode
    assert [s["text"] for s in got["rb"]] == [
        "Left top.", "Left bottom.", "Right top.", "Right bottom.", "Next page.",
    ]
    assert got["rb"] != got["xycut"]


def test_mega_cluster_page_grid_path_staged_e2e(spark, tmp_path):
    """VERDICT r4 #7: a pathological ≥20k-cluster page driven through the
    DISTRIBUTED page-grain pipeline (checkpointed), not just the kernel:
    spans stay EXACT (equal to both the serial oracle and the same doc
    without the density stress) and the lineage stream records the grid
    path taken in the layout stage."""
    import json

    dense = GenConfig(seed=21, n_docs=2, pages_min=1, pages_max=1,
                      two_col_frac=0.0, dense_noise_boxes=20000)
    base = GenConfig(seed=21, n_docs=2, pages_min=1, pages_max=1,
                     two_col_frac=0.0)
    # precondition: the stress page really exceeds 20k raw clusters
    from high_performance_docling_spark.corpus import (
        generate_doc, synth_detections, typeset,
    )

    d0 = generate_doc(dense, 0)
    page0 = typeset(d0["doc_id"], d0["spans"], dense)[0]
    assert len(synth_detections(d0["doc_id"], page0, dense)) > 20000

    docs = docs_dataframe(spark, dense, num_partitions=2)
    ldir = str(tmp_path / "lineage")
    got = _spans(
        extract_spans(spark, docs, dense, lineage_dir=ldir,
                      checkpoint_dir=str(tmp_path / "ckpt")).collect()
    )
    inputs = _spans(docs.collect())
    for doc_id, in_spans in inputs.items():
        assert got[doc_id] == extract_doc_spans(doc_id, in_spans, dense), doc_id
        # the 20k recoverable proposals are fully absorbed: output equals
        # the SAME document extracted without the density stress
        assert got[doc_id] == extract_doc_spans(doc_id, in_spans, base), doc_id

    rows = []
    for fname in os.listdir(ldir):
        if fname.endswith(".jsonl"):
            with open(os.path.join(ldir, fname)) as f:
                rows += [json.loads(line) for line in f]
    grid_rows = [r for r in rows if r["stage"] == "layout/grid_pages"]
    assert grid_rows and sum(r["input_rows"] for r in grid_rows) >= 2, rows


def test_output_schema(spark):
    docs = docs_dataframe(spark, GenConfig(seed=1, n_docs=2), num_partitions=1)
    out = extract_spans(spark, docs, GenConfig(seed=1, n_docs=2))
    assert [f.name for f in out.schema.fields] == ["doc_id", "spans"]
    span_fields = out.schema["spans"].dataType.elementType.fieldNames()
    assert span_fields == ["kind", "text", "media_ref", "order"]


def test_checkpoint_resume(spark, tmp_path):
    cfg = GenConfig(seed=5, n_docs=8)
    ckpt = str(tmp_path / "ckpt")
    docs = docs_dataframe(spark, cfg, num_partitions=2)

    out1 = _spans(extract_spans(spark, docs, cfg, checkpoint_dir=ckpt).collect())
    assert os.path.exists(os.path.join(ckpt, "pages"))
    assert os.path.exists(os.path.join(ckpt, "elements"))

    # simulate a restart: resume must not reprocess completed keys and
    # must produce identical output
    out2 = _spans(extract_spans(spark, docs, cfg, checkpoint_dir=ckpt).collect())
    assert out1 == out2

    # partial checkpoint: drop half the docs from the pages checkpoint and
    # verify only the missing ones are recomputed (by output completeness)
    import shutil

    shutil.rmtree(os.path.join(ckpt, "elements"))
    out3 = _spans(extract_spans(spark, docs, cfg, checkpoint_dir=ckpt).collect())
    assert out3 == out1


def test_lineage_rows_written(spark, tmp_path):
    """Every run without checkpoint_dir, whatever ``mode`` says, runs the
    doc-grain stage; only a checkpointed run writes page-grain rows."""
    cfg = GenConfig(seed=3, n_docs=4)
    docs = docs_dataframe(spark, cfg, num_partitions=2)
    for mode in ("fused", "staged"):
        ldir = str(tmp_path / f"lineage-{mode}")
        extract_spans(spark, docs, cfg, lineage_dir=ldir, mode=mode).collect()
        files = os.listdir(ldir)
        assert any(f.startswith("doc_fused") for f in files), mode
        assert not any(f.startswith("assemble") for f in files), mode
    ldir = str(tmp_path / "lineage-ckpt")
    extract_spans(spark, docs, cfg, lineage_dir=ldir,
                  checkpoint_dir=str(tmp_path / "ckpt")).collect()
    files = os.listdir(ldir)
    for stage in ("parse", "detect", "layout", "assemble"):
        assert any(f.startswith(stage + "-") for f in files), stage
    assert not any(f.startswith("doc_fused") for f in files)


def test_checkpoint_recovers_from_uncommitted_write(spark, tmp_path):
    """A job killed mid-write leaves the checkpoint dir WITHOUT _SUCCESS;
    a restart must treat it as absent and rewrite, not crash."""
    cfg = GenConfig(seed=9, n_docs=4)
    ckpt = str(tmp_path / "ckpt")
    docs = docs_dataframe(spark, cfg, num_partitions=2)

    # simulate the crash artifact: pages dir exists but never committed
    crashed = os.path.join(ckpt, "pages")
    os.makedirs(os.path.join(crashed, "_temporary"))

    out = _spans(extract_spans(spark, docs, cfg, checkpoint_dir=ckpt).collect())
    assert len(out) == cfg.n_docs
    assert os.path.exists(os.path.join(crashed, "_SUCCESS"))


def test_confidence_report_on_pipeline_output(spark):
    """extract_spans(with_confidence=True) carries the ConfidenceReport
    struct (base_models.py:379-459): per-page layout/ocr scores from the
    post-processed clusters, parse (low-decile cell text quality) and
    table (mean TABLE-cluster confidence) analogues, doc roll-up =
    mean of page means / mean of page lows."""
    import math

    from high_performance_docling_spark.corpus import GenConfig
    from high_performance_docling_spark.oracle import extract_doc_result
    from high_performance_docling_spark.pipeline import (
        docs_dataframe,
        extract_spans,
    )

    cfg = GenConfig(seed=13, n_docs=10, ocr_frac=0.25, keep_empty_clusters=True)
    docs = docs_dataframe(spark, cfg, num_partitions=4)
    out = extract_spans(spark, docs, cfg, with_confidence=True).collect()
    assert len(out) == 10
    saw_ocr = False
    saw_table = False
    for row in out:
        conf = row["confidence"]
        assert conf["mean_grade"] in ("poor", "fair", "good", "excellent",
                                      "unspecified")
        assert not math.isnan(conf["mean_score"])
        pages = conf["pages"]
        assert len(pages) >= 1
        for p in pages:
            # a page with clusters has cells → parse_score set, in [0,1]
            assert p["layout_score"] is not None
            assert p["parse_score"] is not None
            assert 0.0 <= p["parse_score"] <= 1.0
            if p["table_score"] is not None:
                saw_table = True
                assert 0.0 < p["table_score"] <= 1.0
            if p["ocr_score"] is not None:
                saw_ocr = True
                assert abs(p["ocr_score"] - 0.9) < 1e-9  # synthetic OCR conf
        # doc roll-up = mean of page means / mean of page lows
        means = [p["mean_score"] for p in pages if p["mean_score"] is not None]
        lows = [p["low_score"] for p in pages if p["low_score"] is not None]
        assert abs(conf["mean_score"] - sum(means) / len(means)) < 1e-9
        assert abs(conf["low_score"] - sum(lows) / len(lows)) < 1e-9
    assert saw_ocr and saw_table
    # spot-check one doc against the serial oracle
    from high_performance_docling_spark.corpus import generate_doc

    d0 = generate_doc(cfg, 0)
    expect = extract_doc_result(d0["doc_id"], d0["spans"], cfg,
                                with_confidence=True)["confidence"]
    got = next(r["confidence"] for r in out if r["doc_id"] == d0["doc_id"])
    assert got["mean_grade"] == expect["mean_grade"]
    assert abs(got["mean_score"] - expect["mean_score"]) < 1e-12
    got_pages = {p["page_no"]: p for p in got["pages"]}
    for p in expect["pages"]:
        g = got_pages[p["page_no"]]
        for k in ("layout_score", "mean_score", "low_score"):
            assert abs(g[k] - p[k]) < 1e-12


def test_fused_lineage_reports_per_phase_timers(spark, tmp_path):
    """The fused stage writes one lineage row per internal phase (parse /
    layout_predict / layout_postprocess / table_structure / doc_assemble)
    — the reference's stage-timer dump (gpu_processor.py:333-363) as
    lineage rows; phase sums must not exceed the stage total."""
    import json

    cfg = GenConfig(seed=3, n_docs=6)
    ldir = str(tmp_path / "lineage")
    docs = docs_dataframe(spark, cfg, num_partitions=2)
    extract_spans(spark, docs, cfg, lineage_dir=ldir).collect()

    rows = []
    for f in os.listdir(ldir):
        with open(os.path.join(ldir, f)) as fh:
            rows.extend(json.loads(ln) for ln in fh)
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r["stage"], 0.0)
        by_stage[r["stage"]] += r["wall_ms"]
    for phase in ("doc_fused/parse", "doc_fused/layout_predict",
                  "doc_fused/layout_postprocess",
                  "doc_fused/table_structure", "doc_fused/doc_assemble"):
        assert phase in by_stage and by_stage[phase] > 0.0, phase
    phase_sum = sum(v for k, v in by_stage.items() if k.startswith("doc_fused/"))
    assert phase_sum <= by_stage["doc_fused"] * 1.05


def test_doc_grain_path_leaves_input_spans_unchanged(tmp_path):
    """doc_fused_stage hands the Arrow-decoded span dicts straight to
    extract_doc_result without a defensive copy, so neither may mutate
    them: a change would alias into the caller's rows. Checked on a
    corpus that runs OCR, merges, list markers, noise and confidence."""
    import copy

    import pandas as pd

    from high_performance_docling_spark.corpus import generate_doc
    from high_performance_docling_spark.oracle import extract_doc_result
    from high_performance_docling_spark.operators.stages import doc_fused_stage

    cfg = GenConfig(seed=11, n_docs=8, noise=True, ocr_frac=0.3,
                    keep_empty_clusters=True, enable_merges=True,
                    process_list_markers=True, mega_frac=0.2, mega_pages=6)
    docs = [generate_doc(cfg, i) for i in range(cfg.n_docs)]
    before = copy.deepcopy(docs)

    for d in docs:
        extract_doc_result(d["doc_id"], d["spans"], cfg, with_confidence=True)
    assert docs == before

    class _CaptureStage:
        """Stands in for a DataFrame: keeps the mapInPandas body."""

        def mapInPandas(self, fn, schema):
            self.fn = fn
            return self

    # shuffled span order: the stage sorts by offset without copying
    pdf = pd.DataFrame({"doc_id": [d["doc_id"] for d in docs],
                        "spans": [d["spans"][::-1] for d in docs]})
    for lineage_dir in (None, str(tmp_path / "lineage")):
        stage = doc_fused_stage(_CaptureStage(), cfg, lineage_dir,
                                with_confidence=True)
        (out,) = list(stage.fn(iter([pdf])))
        assert docs == before
        assert [s for d in pdf["spans"] for s in d] == [
            s for d in before for s in d["spans"][::-1]]
        for d, got in zip(before, out["spans"]):
            assert got == extract_doc_spans(d["doc_id"], d["spans"], cfg)
