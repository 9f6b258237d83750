"""End-to-end extraction pipeline: docs → ordered spans.

Wires the stages (operators/stages.py) with:
  - the shuffle-free doc-grain stage by default,
  - optional parquet stage checkpoints keyed by (doc_id[, page_no]) on
    the page-grain path — a restarted job anti-joins completed keys and
    only processes the remainder (north rule resumability; reference
    analogue: the phase boundaries at main.py:53-80),
  - per-partition lineage rows,
  - skew handling on the page-grain path: ``page_partitions``
    repartitions the page table by hash(doc_id, page_no) right after the
    document→page explode so mega-docs spread across the cluster
    (SURVEY.md §4 "skew handling").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpus import GenConfig, generate_doc
from .operators.stages import (
    detect_stage,
    doc_assemble_stage,
    doc_fused_stage,
    layout_stage,
    parse_stage,
)
from .schemas import DOCS_SCHEMA


def get_spark(
    app: str = "hpd-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.cpu_count() or 8
    builder = (
        SparkSession.builder.appName(app)
        .master(master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', cpus)}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # sandbox-scale split size: corpora here are tens of MB, and the
        # Python stages are CPU-bound per row — default 128m would read
        # everything as 1-2 splits and serialize the pipeline. A real
        # 100 TB table has thousands of row groups and uses the default.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
        )
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def docs_dataframe(
    spark: SparkSession, cfg: GenConfig, num_partitions: int | None = None
) -> DataFrame:
    """Synthesize the input corpus as a DataFrame (S0). Generation happens
    distributed: one Arrow batch of doc indices in, docs rows out."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [generate_doc(cfg, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    rng_df = spark.range(cfg.n_docs, numPartitions=num_partitions or 32)
    return rng_df.mapInPandas(gen, DOCS_SCHEMA)


def _checkpoint_committed(path: str) -> bool:
    """A checkpoint counts only when the parquet job COMMITTED (_SUCCESS
    marker): a job killed mid-write leaves the directory with only
    _temporary/ inside, which must be treated as absent, not as done.
    Local-FS in the sandbox; on a cluster swap for the Hadoop FS API /
    Iceberg snapshot check."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _checkpoint_stage(
    spark: SparkSession,
    input_df: DataFrame,
    stage_fn,
    path: str,
    input_keys: list[str],
) -> DataFrame:
    """Run stage_fn over only the not-yet-completed input rows, append to
    the stage's parquet checkpoint, return the full checkpointed output.

    Resume semantics: completed keys are anti-joined from the INPUT before
    the stage runs, so a restarted job never reprocesses finished
    partitions (north rule). The append runs unconditionally (an empty
    append is harmless) — probing the output first would evaluate the
    Python stage twice. Join strategy for the done-keys set is left to
    Catalyst/AQE: at 100 TB the completed-key set can be huge and must be
    allowed to shuffle rather than broadcast.
    """
    if _checkpoint_committed(path):
        done_keys = spark.read.parquet(path).select(*input_keys).distinct()
        todo = input_df.join(done_keys, input_keys, "left_anti")
        stage_fn(todo).write.mode("append").parquet(path)
    else:
        stage_fn(input_df).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def extract_spans(
    spark: SparkSession,
    docs_df: DataFrame,
    cfg: GenConfig,
    checkpoint_dir: str | None = None,
    lineage_dir: str | None = None,
    page_partitions: int | None = None,
    mode: str = "fused",
    input_partitions: int | None = None,
    with_confidence: bool = False,
) -> DataFrame:
    """Full S0→S7 pipeline. ``checkpoint_dir`` alone picks the execution
    path (partitioning/shuffle strategy is explicit, per the north rule):
      - None (default): doc grain, ZERO shuffles — each partition converts
        whole documents end-to-end in one Python stage
        (``doc_fused_stage``). Fastest and perfectly scalable while stages
        are CPU kernels.
      - set: page-grain stages (parse → detect → layout), each resumable
        from its parquet checkpoint, with one doc_id shuffle before
        assembly — use when page-level model stages need cross-doc GPU
        batching, when mega-docs need ``page_partitions``, or when
        resumable stage checkpoints are required.

    ``mode`` selects nothing: it is accepted so existing callers that pass
    ``mode="fused"`` or ``mode="staged"`` keep working, and both run the
    path ``checkpoint_dir`` picks.
    """
    # Parallelism guard: if the input still arrives with fewer splits than
    # cores (tiny corpus or in-memory DF), fan out once. The shuffle is
    # not free (the spans payload moves), so the primary lever is the
    # small files.maxPartitionBytes set in get_spark; this is the backstop.
    # Partition count comes from (in order): the caller's hint, the file
    # split count, and only as a last resort the RDD-conversion probe
    # (df.rdd builds a conversion plan per call — avoid it when possible).
    target = spark.sparkContext.defaultParallelism
    n_parts = input_partitions
    if n_parts is None:
        files = docs_df.inputFiles()
        n_parts = len(files) if files else None
    if n_parts is None:
        n_parts = docs_df.rdd.getNumPartitions()
    if n_parts < target:
        docs_df = docs_df.repartition(target * 2, "doc_id")

    if checkpoint_dir is None:
        # with_confidence adds the per-doc ConfidenceReport struct
        # (base_models.py:379-459) computed from the same post-processed
        # clusters as the spans
        return doc_fused_stage(docs_df, cfg, lineage_dir,
                               with_confidence=with_confidence)

    # Checkpointed page-grain path: parse → detect (model stage) → layout,
    # each materialized to parquet so no two Python stages chain in one
    # job (the 2-workers-per-slot oversubscription pitfall) and each is
    # independently resumable. The detect stage runs through the generic
    # model harness (executor-local singleton, fixed 32-page batches) —
    # on a real cluster it is the stage you'd schedule on GPU executors.
    parsed = _checkpoint_stage(
        spark,
        docs_df,
        lambda df: parse_stage(df, cfg, lineage_dir),
        os.path.join(checkpoint_dir, "parsed"),
        ["doc_id"],
    )
    pages = _checkpoint_stage(
        spark,
        parsed,
        lambda df: detect_stage(df, cfg, lineage_dir),
        os.path.join(checkpoint_dir, "pages"),
        ["doc_id", "page_no"],
    )
    if page_partitions:
        pages = pages.repartition(page_partitions, "doc_id", "page_no")
    elements = _checkpoint_stage(
        spark,
        pages,
        lambda df: layout_stage(df, cfg, lineage_dir,
                                with_confidence=with_confidence),
        os.path.join(checkpoint_dir, "elements"),
        ["doc_id", "page_no"],
    )
    return doc_assemble_stage(elements, cfg, lineage_dir,
                              with_confidence=with_confidence)
