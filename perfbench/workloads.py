"""The benchmark's workloads: one corpus shape and one execution mode each.

Every corpus is a pure function of the run seed (``GenConfig.seed``); the
document count, file count and replay sample are fixed per workload so
that runs with different seeds do the same amount of work.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from high_performance_docling_spark.corpus import GenConfig

# Seed of the small warm-up corpus. It is independent of the run seed so
# that set-up time does not vary with the corpus being measured.
WARMUP_SEED = 991
WARMUP_FILES = 4
WARMUP_DOCS_PER_FILE = 6


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    mode: str              # extract_spans(mode=...)
    n_docs: int            # documents per extraction job
    n_files: int           # Parquet files the corpus is written as
    replay_docs: int       # size of the fixed replay sample
    gen: dict = field(default_factory=dict)  # GenConfig overrides

    def config(self, seed: int) -> GenConfig:
        return GenConfig(seed=seed, n_docs=self.n_docs, **self.gen)

    def warmup_config(self) -> GenConfig:
        return replace(self.config(WARMUP_SEED),
                       n_docs=WARMUP_FILES * WARMUP_DOCS_PER_FILE)

    def replay_indices(self) -> list[int]:
        """Fixed document indices of the replay sample, spread evenly
        over the corpus so mega documents can fall in it."""
        step = self.n_docs // self.replay_docs
        return [i * step + step // 2 for i in range(self.replay_docs)]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="fused_default",
            why=("default GenConfig through the fused doc_fused_stage: the "
                 "production path, kernel-bound, no shuffle"),
            mode="fused", n_docs=1600, n_files=8, replay_docs=48,
        ),
        Workload(
            name="staged_ocr",
            why=("ocr_frac=0.2 with empty clusters kept, mode=staged: page "
                 "rows cross Arrow twice, a doc_id shuffle, batched OCR"),
            mode="staged", n_docs=1200, n_files=8, replay_docs=48,
            gen={"ocr_frac": 0.2, "keep_empty_clusters": True},
        ),
        # Not listed in BENCHMARK.json: three workloads do not fit the
        # benchmark's time budget on 4 cores. Run it by name.
        Workload(
            name="dense_layout",
            why=("dense_noise_boxes=200, fused: every page in the 97-2048 "
                 "cluster numpy overlap band; postprocess-bound, waves and "
                 "task skew count"),
            mode="fused", n_docs=400, n_files=8, replay_docs=40,
            gen={"dense_noise_boxes": 200},
        ),
    )
}
