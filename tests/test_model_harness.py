"""Model-UDF harness: executor-local singleton, fixed-batch accumulation
across Arrow record batches, pad-by-repeat, and the staged detect path.

Reference semantics being pinned: layout_predictor_gpu.py:21 (init lock),
:92-137 (guarded lazy load), :267-275 (FIXED_BS chunks, pad-by-repeat),
:289-292 (slice padding from results)."""

import uuid

from pyspark.sql import functions as F, types as T

from high_performance_docling_spark.operators.model_harness import (
    FixedBatcher,
    ModelSpec,
    arrow_model_stage,
    get_model,
)


class CountingModel:
    def __init__(self):
        self.instance_id = uuid.uuid4().hex
        self.calls = 0

    def forward(self, items):
        self.calls += 1
        return [
            {"v": it, "call_no": self.calls, "batch_len": len(items),
             "instance": self.instance_id}
            for it in items
        ]


def _spec(batch_size=32, pad=True):
    return ModelSpec(
        name=f"counting-{uuid.uuid4().hex}",
        loader=CountingModel,
        batch_size=batch_size,
        pad_by_repeat=pad,
    )


def test_singleton_loader_called_once():
    spec = _spec()
    m1 = get_model(spec)
    m2 = get_model(spec)
    assert m1 is m2


def test_fixed_batcher_one_forward_per_32_items_with_padding():
    spec = _spec(batch_size=32, pad=True)
    batcher = FixedBatcher(spec, CountingModel.forward)
    results = batcher.run(list(range(70)))
    assert [r["v"] for r in results] == list(range(70))  # order + no padding leak
    assert batcher.n_forward_calls == 3  # ceil(70/32)
    # every model call saw EXACTLY batch_size items (tail padded)
    assert {r["batch_len"] for r in results} == {32}
    # items 64..69 rode the padded third call
    assert results[69]["call_no"] == 3


def test_fixed_batcher_no_padding_mode():
    spec = _spec(batch_size=32, pad=False)
    batcher = FixedBatcher(spec, CountingModel.forward)
    results = batcher.run(list(range(70)))
    assert batcher.n_forward_calls == 3
    assert results[69]["batch_len"] == 6  # real tail size, no padding


def test_arrow_model_stage_batches_across_record_batches(spark):
    # 70 rows in ONE partition, tiny Arrow batches (10 rows) so the harness
    # must accumulate ACROSS record batches to fill 32-item model calls
    # class defined LOCALLY so cloudpickle ships it by value to workers
    class LocalCountingModel:
        def __init__(self):
            self.instance_id = uuid.uuid4().hex
            self.calls = 0

        def forward(self, items):
            self.calls += 1
            return [
                {"v": it, "call_no": self.calls, "batch_len": len(items),
                 "instance": self.instance_id}
                for it in items
            ]

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        df = spark.range(70).select(F.col("id").cast("int")).repartition(1)
        out_schema = T.StructType([
            T.StructField("id", T.IntegerType()),
            T.StructField("call_no", T.IntegerType()),
            T.StructField("batch_len", T.IntegerType()),
            T.StructField("instance", T.StringType()),
        ])
        spec = ModelSpec(
            name=f"counting-{uuid.uuid4().hex}",
            loader=LocalCountingModel,
            batch_size=32,
            pad_by_repeat=True,
        )
        out = arrow_model_stage(
            df,
            spec,
            item_fn=lambda row: row["id"],
            forward=lambda m, items: m.forward(items),
            result_fn=lambda row, res: {
                "id": row["id"], "call_no": res["call_no"],
                "batch_len": res["batch_len"], "instance": res["instance"],
            },
            out_schema=out_schema,
        ).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert sorted(r["id"] for r in out) == list(range(70))
    # one forward per <=32 items: exactly 3 calls, all full-size (padded)
    assert {r["call_no"] for r in out} == {1, 2, 3}
    assert {r["batch_len"] for r in out} == {32}
    # single executor-local model instance served the whole partition
    assert len({r["instance"] for r in out}) == 1


def test_detect_stage_equals_inline_detection(spark):
    """detect_stage (padded batches across Arrow batches) returns, page
    for page, the detections the synth detector gives on the serially
    typeset pages."""
    from high_performance_docling_spark.corpus import (
        GenConfig,
        generate_corpus,
        synth_detections,
        typeset,
    )
    from high_performance_docling_spark.operators.stages import (
        detect_stage,
        parse_stage,
    )
    from high_performance_docling_spark.pipeline import docs_dataframe

    cfg = GenConfig(seed=7, n_docs=12)
    docs = docs_dataframe(spark, cfg, num_partitions=4)
    staged = detect_stage(parse_stage(docs, cfg), cfg).collect()
    staged_map = {
        (r["doc_id"], r["page_no"]): [d.asDict() for d in r["detections"]]
        for r in staged
    }
    serial_map = {}
    for doc in generate_corpus(cfg):
        spans = sorted(doc["spans"], key=lambda s: s["offset"])
        for page in typeset(doc["doc_id"], spans, cfg):
            serial_map[(doc["doc_id"], page.page_no)] = synth_detections(
                doc["doc_id"], page, cfg
            )
    assert staged_map == serial_map and len(serial_map) > 0


# ---------------------------------------------------------------------------
# real-math models through the harness (kernels/toy_models.py)
# ---------------------------------------------------------------------------


def test_conv_detector_real_nchw_tensors_through_pad_and_slice():
    """(a) of the r3 verdict: real float32 NCHW tensors flow through
    pad-by-repeat and result slicing with exactly ceil(N/32) forwards."""
    import numpy as np

    from high_performance_docling_spark.kernels.toy_models import (
        CANVAS_H,
        CANVAS_W,
        ConvLayoutDetector,
        render_detect_input,
    )

    # 70 distinct one-rect pages -> 70 distinct images
    imgs = [
        render_detect_input(612, 792, [{
            "label": "text", "l": 50.0 + i, "t": 60.5, "r": 200.25 + i,
            "b": 100.75}])
        for i in range(70)
    ]
    assert imgs[0].dtype == np.float32 and imgs[0].shape == (3, CANVAS_H, CANVAS_W)

    seen_shapes = []
    det = ConvLayoutDetector()
    orig_forward = det.forward

    def spy_forward(batch):
        seen_shapes.append((batch.shape, batch.dtype))
        return orig_forward(batch)

    det.forward = spy_forward
    spec = ModelSpec(name=f"conv-{uuid.uuid4().hex}", loader=lambda: det,
                     batch_size=32, pad_by_repeat=True)
    results = FixedBatcher(spec, ConvLayoutDetector.predict_batch).run(imgs)
    assert det.n_forward_calls == 3  # ceil(70/32)
    # every forward saw a full static-shape float32 NCHW batch (padded)
    assert seen_shapes == [((32, 3, CANVAS_H, CANVAS_W), np.dtype("float32"))] * 3
    # result slicing: one detection list per REAL image, in order, exact
    assert len(results) == 70
    for i, dets in enumerate(results):
        assert len(dets) == 1 and dets[0]["label"] == "text"
        assert abs(dets[0]["l"] - (50.0 + i)) < 1e-5
        assert abs(dets[0]["r"] - (200.25 + i)) < 1e-5


def test_tiny_rtdetr_random_weights_contract():
    """RT-DETR-shaped random-weight net: dtype/stride/head shapes and
    deterministic post_process through the batcher."""
    import numpy as np

    from high_performance_docling_spark.kernels.toy_models import TinyRTDETR

    rng = np.random.default_rng(0)
    imgs = [rng.standard_normal((3, 64, 64)).astype(np.float32)
            for _ in range(5)]
    m = TinyRTDETR(seed=17)
    feats = m.forward(np.stack(imgs))
    assert feats.shape == (5, m.num_labels + 4, 16, 16)  # two s2 convs
    assert feats.dtype == np.float32
    spec = ModelSpec(name=f"rtdetr-{uuid.uuid4().hex}", loader=lambda: m,
                     batch_size=4, pad_by_repeat=True)
    r1 = FixedBatcher(spec, TinyRTDETR.predict_batch).run(imgs)
    assert m.n_forward_calls == 2  # ceil(5/4)
    r2 = TinyRTDETR(seed=17).predict_batch(imgs)  # fresh weights, same seed
    assert r1 == r2  # deterministic: weights fixed by seed
    for dets in r1:  # post_process emits sigmoid scores + cxcywh boxes
        for d in dets:
            assert 0.6 < d["confidence"] <= 1.0
            assert len(d["box_cxcywh"]) == 4
            assert all(0.0 <= v <= 1.0 for v in d["box_cxcywh"])


def test_kv_cached_step_equals_full_attention():
    """The reference's own gate (test_kv_cache_math.py:12-80): stepwise
    KV-cached decode == full causal attention, atol 1e-6."""
    import numpy as np

    from high_performance_docling_spark.kernels.toy_models import ToyARDecoder

    for seed in (5, 11, 23):
        dec = ToyARDecoder(seed=seed)
        rng = np.random.default_rng(seed)
        toks = [int(t) for t in rng.integers(0, dec.vocab, 17)]
        full = dec.full_forward(toks)
        cache = dec.new_cache()
        step = np.stack([dec.decode_step(t, cache) for t in toks])
        assert step.dtype == np.float32 and full.dtype == np.float32
        np.testing.assert_allclose(step, full, atol=1e-6)
        # the cache really accumulated one K/V row per step
        assert cache["k"].shape == (17, dec.d)
        assert cache["v"].shape == (17, dec.d)
        # greedy decode is deterministic and vocab-bounded
        out = dec.greedy_decode(1, 16)
        assert out == dec.greedy_decode(1, 16)
        assert all(0 <= t < dec.vocab for t in out)


def test_toy_ar_decoder_through_tableformer_batcher():
    """The <=128-tables-per-chunk contract (tablemodel04_rs.py:187) with
    the real AR decoder as the model: one forward per 128 work items."""
    from high_performance_docling_spark.kernels.toy_models import ToyARDecoder

    spec = ModelSpec(name=f"ar-{uuid.uuid4().hex}",
                     loader=lambda: ToyARDecoder(seed=5),
                     batch_size=128, pad_by_repeat=False)

    def forward(model, items):
        return [model.greedy_decode(start, n) for start, n in items]

    batcher = FixedBatcher(spec, forward)
    work = [(i % 12, 6) for i in range(300)]
    results = batcher.run(work)
    assert batcher.n_forward_calls == 3  # ceil(300/128)
    assert len(results) == 300
    assert results[0] == results[12]  # same start token -> same decode


def test_staged_conv_detector_e2e_spans_exact(spark, tmp_path):
    """e2e gate: spans stay EXACT when the real-math conv detector
    replaces synth_detections in the checkpointed page-grain path (the
    only path whose detect_stage reads cfg.detector)."""
    from high_performance_docling_spark.corpus import GenConfig
    from high_performance_docling_spark.pipeline import (
        docs_dataframe,
        extract_spans,
    )

    cfg = GenConfig(seed=42, n_docs=12, noise=False, two_col_frac=0.4,
                    mega_frac=0.1, mega_pages=8, detector="conv")
    docs = docs_dataframe(spark, cfg, num_partitions=4)

    def spans(rows):
        return {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in rows}

    fused = spans(extract_spans(spark, docs, cfg).collect())
    staged = spans(extract_spans(spark, docs, cfg,
                                 checkpoint_dir=str(tmp_path / "ckpt")).collect())
    assert fused == staged and len(fused) == 12
    # and the output equals the serial oracle span-for-span
    from high_performance_docling_spark.oracle import extract_doc_spans

    inputs = spans(docs.collect())
    for doc_id, in_spans in inputs.items():
        assert staged[doc_id] == extract_doc_spans(doc_id, in_spans, cfg), \
            doc_id


def test_staged_conv_detector_exact_on_ocr_corpus(spark, tmp_path):
    """The real-math detector's ~1e-7 pt recovery error survives the OCR
    path too: synthetic OCR text keys on int-rounded crop geometry, so
    conv-detector staged spans equal synth-detector staged spans on a
    scanned-region corpus (checkpointed page-grain path, where
    detect_stage dispatches on cfg.detector)."""
    from high_performance_docling_spark.corpus import GenConfig
    from high_performance_docling_spark.pipeline import (
        docs_dataframe,
        extract_spans,
    )

    base = dict(seed=21, n_docs=8, noise=False, ocr_frac=0.3,
                keep_empty_clusters=True)
    cfg_syn = GenConfig(**base, detector="synth")
    cfg_conv = GenConfig(**base, detector="conv")
    docs = docs_dataframe(spark, cfg_syn, num_partitions=2)

    def spans(df):
        return {r["doc_id"]: [s.asDict() for s in r["spans"]]
                for r in df.collect()}

    syn = spans(extract_spans(spark, docs, cfg_syn,
                              checkpoint_dir=str(tmp_path / "syn")))
    conv = spans(extract_spans(spark, docs, cfg_conv,
                               checkpoint_dir=str(tmp_path / "conv")))
    assert syn == conv and len(conv) == 8
    # non-vacuous: scanned OCR text is present in the output
    assert any("scanned region" in s["text"]
               for spans_ in conv.values() for s in spans_)
