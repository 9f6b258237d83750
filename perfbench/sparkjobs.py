"""The Spark side of the benchmark: session lifecycle and every job it runs.

One ``local[nproc]`` session at a time, launched through spark-submit
with launch conf in ``PYSPARK_SUBMIT_ARGS``. Stopping a session also
shuts down its JVM, so the next session pays a full start again.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import tempfile
import time
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from high_performance_docling_spark.corpus import generate_doc
from high_performance_docling_spark.pipeline import (
    docs_dataframe,
    extract_spans,
    get_spark,
)
from high_performance_docling_spark.schemas import DOCS_SCHEMA, SPANS_OUT_SCHEMA

from . import proctree
from .workloads import WARMUP_DOCS_PER_FILE, WARMUP_FILES, Workload

JVM_MEM = "4g"


def launch_env(out_dir: str, event_log_dir: str | None) -> None:
    """Point every file Spark, the JVM and Python workers write into
    ``out_dir`` and set the launch conf of the next session. The event
    log is on only when ``event_log_dir`` is given."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the gateway's connection file goes here too
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = JVM_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(out_dir, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_session(nproc: int):
    return get_spark("perfbench", master=f"local[{nproc}]",
                     shuffle_partitions=max(16, 2 * nproc))


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the Python daemon and workers are the JVM's children: wait for them
    deadline = time.monotonic() + 30
    while proctree.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in proctree.descendants():
        os.kill(pid, signal.SIGKILL)


def write_warmup_corpus(wl: Workload, path: str) -> None:
    """Small fixed corpus, one file per core slot, written without Spark
    so the warm-up extraction is the session's first Python job."""
    from pyspark.sql.pandas.types import to_arrow_schema

    cfg = wl.warmup_config()
    schema = to_arrow_schema(DOCS_SCHEMA)
    os.makedirs(path, exist_ok=True)
    for f in range(WARMUP_FILES):
        rows = [generate_doc(cfg, f * WARMUP_DOCS_PER_FILE + i)
                for i in range(WARMUP_DOCS_PER_FILE)]
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(path, f"part-{f:05d}.parquet"))


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warmup(spark, wl: Workload, path: str) -> None:
    spark.sparkContext.setJobGroup("warmup", "warm-up extraction")
    noop(extract_spans(spark, spark.read.parquet(path), wl.warmup_config(),
                       mode=wl.mode))


def generate_corpus(spark, wl: Workload, seed: int, path: str) -> None:
    spark.sparkContext.setJobGroup("corpus", "corpus generation")
    docs_dataframe(spark, wl.config(seed), num_partitions=wl.n_files) \
        .write.mode("overwrite").parquet(path)


# --------------------------------------------------------------------------
# correctness gate
# --------------------------------------------------------------------------

def _oracle_fn(cfg):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from high_performance_docling_spark.oracle import extract_doc_spans

        for pdf in batches:
            yield pd.DataFrame(
                [(doc_id, extract_doc_spans(doc_id, [dict(s) for s in spans], cfg))
                 for doc_id, spans in zip(pdf["doc_id"], pdf["spans"])],
                columns=["doc_id", "spans"],
            )
    return fn


def _by_doc(rows) -> dict[str, list[dict]]:
    return {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in rows}


@dataclass
class GateResult:
    docs: int
    mismatched: int
    error: str | None = None


def correctness_gate(spark, wl: Workload, seed: int, path: str) -> GateResult:
    """Every document's pipeline spans against ``oracle.extract_doc_spans``.
    The oracle runs per document in the Spark workers, to use every core;
    both sides come back through the same collect path. If the pipeline
    job raises, every document counts as mismatched."""
    cfg = wl.config(seed)
    docs = spark.read.parquet(path)
    spark.sparkContext.setJobGroup("gate", "correctness gate")
    want = _by_doc(docs.mapInPandas(_oracle_fn(cfg), SPANS_OUT_SCHEMA).collect())
    try:
        got = _by_doc(extract_spans(spark, docs, cfg, mode=wl.mode).collect())
    except Exception as exc:  # a failed job is a result, not a crash
        return GateResult(len(want), len(want), repr(exc)[:500])
    mismatched = sum(got.get(d) != spans for d, spans in want.items())
    mismatched += len(got.keys() - want.keys())
    return GateResult(len(want), mismatched)


# --------------------------------------------------------------------------
# timed extraction jobs
# --------------------------------------------------------------------------

@dataclass
class Job:
    wall_s: float
    docs_out: int
    cpu_s: float
    rss_mb: float         # peak summed RSS of the JVM and Python workers
    jvm_rss_mb: float
    python_rss_mb: float
    error: str | None = None


def timed_extractions(spark, wl: Workload, seed: int, path: str,
                      seconds: float, group: str, min_jobs: int = 3) -> list[Job]:
    """Repeat the extraction into the noop sink for ``seconds`` (and at
    least ``min_jobs`` times). A job that raises is recorded and the loop
    goes on; its documents count as failed."""
    from pyspark.sql import Observation, functions as F

    cfg = wl.config(seed)
    jobs: list[Job] = []
    sc = spark.sparkContext
    with proctree.RssSampler() as rss:
        t_end = time.monotonic() + seconds
        while len(jobs) < min_jobs or time.monotonic() < t_end:
            i = len(jobs)
            sc.setJobGroup(f"{group}-{i}", f"timed extraction {i}")
            obs = Observation(f"{group}_{i}")
            cpu0 = proctree.descendants()
            rss.take()
            t0 = time.monotonic()
            try:
                out = extract_spans(spark, spark.read.parquet(path), cfg,
                                    mode=wl.mode)
                noop(out.observe(obs, F.count(F.lit(1)).alias("docs")))
                docs_out, error = obs.get["docs"], None
            except Exception as exc:  # a failed job is a result, not a crash
                docs_out, error = 0, repr(exc)[:500]
            wall = time.monotonic() - t0
            cpu = proctree.cpu_seconds_between(cpu0, proctree.descendants())
            jobs.append(Job(wall, docs_out, cpu, *rss.take(), error))
    return jobs


# --------------------------------------------------------------------------
# traced-run probes
# --------------------------------------------------------------------------

def _decode_only(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Trivial Python body: spans decoded into pandas, one count out."""
    for pdf in batches:
        yield pd.DataFrame({"doc_id": pdf["doc_id"],
                            "n": [len(s) for s in pdf["spans"]]})


def floor_probes(spark, path: str, repeats: int) -> None:
    """Scan-only and decode-only noop jobs over the corpus (job groups
    ``scan-i`` and ``floor-i``), for the scan and Arrow floors. The scan
    job hashes every column: a bare noop scan leaves the spans column
    unread."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    for i in range(repeats):
        sc.setJobGroup(f"scan-{i}", "scan-only noop")
        noop(spark.read.parquet(path).select(F.xxhash64("doc_id", "spans")))
        sc.setJobGroup(f"floor-{i}", "decode-only mapInPandas")
        noop(spark.read.parquet(path).mapInPandas(_decode_only,
                                                  "doc_id string, n int"))


def _shape_fn(cfg, mode: str):
    """Input shape and model-harness counts, computed in the workers with
    the pipeline's batching: one detector/OCR batch per document on the
    fused path, one per Arrow batch (input task) on the staged path."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from high_performance_docling_spark.corpus import synth_detections, typeset
        from high_performance_docling_spark.kernels.convert import (
            _ocr_model_spec,
            process_page_batch,
        )
        from high_performance_docling_spark.labels import TABLE_LABELS
        from high_performance_docling_spark.operators.model_harness import get_model

        from .replay import detector_spec

        detector = get_model(detector_spec(cfg))
        ocr = get_model(_ocr_model_spec())
        for pdf in batches:
            det0, ocr0 = detector.n_forward_calls, ocr.n_forward_calls
            clusters, tables, batches_items = [], 0, []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                span_list = sorted((dict(s) for s in spans),
                                   key=lambda s: s["offset"])
                items = [(doc_id, p) for p in typeset(doc_id, span_list, cfg)]
                for _, page in items:
                    clusters.append(len(synth_detections(doc_id, page, cfg)))
                    tables += sum(e.label in TABLE_LABELS for e in page.elements)
                batches_items.append(items)
            if mode == "staged":
                batches_items = [[it for b in batches_items for it in b]]
            for items in batches_items:
                process_page_batch(items, cfg)
            yield pd.DataFrame([{
                "docs": len(pdf), "pages": len(clusters), "tables": tables,
                "det_calls": detector.n_forward_calls - det0,
                "ocr_calls": ocr.n_forward_calls - ocr0,
                "clusters": clusters,
            }])
    return fn


SHAPE_SCHEMA = ("docs long, pages long, tables long, det_calls long, "
                "ocr_calls long, clusters array<long>")


def input_shape(spark, wl: Workload, seed: int, path: str) -> list[dict]:
    spark.sparkContext.setJobGroup("shape", "input shape counts")
    rows = spark.read.parquet(path).mapInPandas(
        _shape_fn(wl.config(seed), wl.mode), SHAPE_SCHEMA).collect()
    return [r.asDict() for r in rows]
