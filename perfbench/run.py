#!/usr/bin/env python3
"""Extraction benchmark: drives ``pipeline.extract_spans`` at local[nproc].

    python3 perfbench/run.py --workload fused_default --seed 1 --seconds 20 --trace 0

For one workload (or ``all``) it generates the corpus from the seed,
checks every document against the serial oracle, repeats the extraction
into the noop sink for ``--seconds`` and prints the end-to-end metrics.
``--trace 1`` adds a second session with Spark's event log on, floor
probes and a single-thread kernel replay, and prints the per-layer
metrics instead. Metric names and units come from BENCHMARK.json; the
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is 1 when any output
mismatches the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "high_performance_docling_spark"
OUT = os.path.join(ROOT, ".perfbench_out")
SMALL_BAND_MAX = 96      # layout_postprocess pure-Python overlap band
GRID_BAND_MIN = 2049     # spatial_index.GRID_CUTOVER + 1
FLOOR_REPEATS = 3


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _steal_s() -> float:
    """CPU time the hypervisor took from this VM, all CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _git_commit() -> str | None:
    if shutil.which("git") is None:
        return None
    res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True)
    if res.returncode != 0:
        return None  # the checkout is not a git repository
    return res.stdout.strip()


class Session:
    """One measured Spark session: launch, warm-up, and a guaranteed stop."""

    def __init__(self, wl, nproc: int, run_dir: str, warm_dir: str,
                 event_log_dir: str | None = None):
        from perfbench import sparkjobs

        self.jobs = sparkjobs
        sparkjobs.launch_env(run_dir, event_log_dir)
        t0 = time.monotonic()
        self.spark = sparkjobs.start_session(nproc)
        t1 = time.monotonic()
        try:
            sparkjobs.warmup(self.spark, wl, warm_dir)
        except BaseException:
            self.close()
            raise
        self.session_start_s = t1 - t0
        self.warmup_s = time.monotonic() - t1
        self.setup_s = self.session_start_s + self.warmup_s

    def close(self) -> None:
        self.jobs.stop_session(self.spark)

    def __enter__(self) -> "Session":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _job_summary(jobs) -> dict:
    """Medians over timed jobs; CPU and memory over the jobs that ran."""
    ok = [j for j in jobs if j.error is None]
    return {
        "docs_per_s": _median(j.docs_out / j.wall_s for j in jobs),
        "cpu_ms_per_doc": _median(j.cpu_s * 1000.0 / j.docs_out for j in ok),
        "peak_rss_mb": _median(j.rss_mb for j in ok),
        "mem.jvm_peak_rss_mb": _median(j.jvm_rss_mb for j in ok),
        "mem.python_peak_rss_mb": _median(j.python_rss_mb for j in ok),
    }


def run_workload(wl, seed: int, seconds: float, trace: bool, nproc: int) -> dict:
    from perfbench import sparkjobs

    run_dir = os.path.join(OUT, f"run-{os.getpid()}-{wl.name}")
    shutil.rmtree(run_dir, ignore_errors=True)
    warm_dir = os.path.join(run_dir, "warmup")
    corpus = os.path.join(run_dir, "corpus")
    sparkjobs.write_warmup_corpus(wl, warm_dir)
    prov = {
        "workload": wl.name, "mode": wl.mode, "seed": seed,
        "n_docs": wl.n_docs, "n_files": wl.n_files, "seconds": seconds,
        "trace": int(trace), "nproc": nproc,
        "loadavg_1m_before": os.getloadavg()[0],
        "steal_s_before": _steal_s(),
        "python": platform.python_version(),
        "pyspark": __import__("pyspark").__version__,
        "git_commit": _git_commit(),
        "jvm_memory": sparkjobs.JVM_MEM,
    }
    try:
        with Session(wl, nproc, run_dir, warm_dir) as s:
            t0 = time.monotonic()
            sparkjobs.generate_corpus(s.spark, wl, seed, corpus)
            corpus_gen_s = time.monotonic() - t0
            t0 = time.monotonic()
            gate = sparkjobs.correctness_gate(s.spark, wl, seed, corpus)
            gate_s = time.monotonic() - t0
            all_jobs = sparkjobs.timed_extractions(s.spark, wl, seed, corpus,
                                                   seconds, "timed")
        e2e = _job_summary(all_jobs)
        e2e["setup_s"] = s.setup_s
        layers = None
        replay_mismatched = 0
        if trace:
            layers, replay_mismatched, traced_jobs = _traced(
                wl, seed, seconds, nproc, run_dir, warm_dir, corpus, e2e)
            layers["corpus_gen_s"] = corpus_gen_s
            all_jobs += traced_jobs
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = wl.n_docs * len(all_jobs)
    failed = wl.n_docs * sum(j.error is not None for j in all_jobs)
    e2e["failed_doc_share"] = failed / attempted
    e2e["mismatched_docs"] = gate.mismatched
    prov.update(
        loadavg_1m_after=os.getloadavg()[0],
        steal_s=_steal_s() - prov["steal_s_before"],
        session_start_s=s.session_start_s,
        warmup_s=s.warmup_s,
        corpus_gen_s=corpus_gen_s,
        gate={"docs": gate.docs, "mismatched": gate.mismatched,
              "error": gate.error, "seconds": gate_s},
        replay_mismatched=replay_mismatched,
        jobs=[j.__dict__ for j in all_jobs],
    )
    return {
        "workload": wl.name,
        "correct": gate.mismatched == 0 and replay_mismatched == 0,
        "attempted": attempted, "failed": failed,
        "e2e": e2e, "layers": layers, "provenance": prov,
    }


def _traced(wl, seed, seconds, nproc, run_dir, warm_dir, corpus, untraced):
    """Second session with the event log on: timed extractions, floor
    probes and the input-shape job; then the kernel replay in-process.
    Returns (per-layer metrics, replay mismatches, timed jobs)."""
    import pyarrow.parquet as pq

    from perfbench import eventlog, sparkjobs
    from perfbench.replay import replay
    from high_performance_docling_spark.corpus import doc_id_for

    log_dir = os.path.join(run_dir, "eventlog")
    with Session(wl, nproc, run_dir, warm_dir, event_log_dir=log_dir) as s:
        jobs = sparkjobs.timed_extractions(s.spark, wl, seed, corpus,
                                           seconds, "traced")
        sparkjobs.floor_probes(s.spark, corpus, FLOOR_REPEATS)
        shape = sparkjobs.input_shape(s.spark, wl, seed, corpus)
    (log_name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    groups = eventlog.read_groups(os.path.join(log_dir, log_name))

    cfg = wl.config(seed)
    sample = set(doc_id_for(i) for i in wl.replay_indices())
    table = pq.read_table(corpus, filters=[("doc_id", "in", sorted(sample))])
    docs = [(r["doc_id"], r["spans"]) for r in table.to_pylist()]
    kernel_ms, replay_mismatched, tracer = replay(docs, cfg)

    trace_dir = os.path.join(OUT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    stem = os.path.join(trace_dir, f"{wl.name}-seed{seed}")
    tracer.dump(stem + ".spans.jsonl")
    shutil.copyfile(os.path.join(log_dir, log_name), stem + ".eventlog.json")

    n = wl.n_docs
    parquet_bytes = sum(os.path.getsize(os.path.join(corpus, f))
                        for f in os.listdir(corpus) if f.endswith(".parquet"))
    layers = {
        "pipeline.session_start_s": s.session_start_s,
        "pipeline.warmup_s": s.warmup_s,
        # Spark's input metrics miss the Parquet reader's column reads
        "scan.bytes_per_doc": parquet_bytes / n,
    }
    layers.update(_eventlog_layers(groups, n, nproc, kernel_ms["serial"]))
    layers.update({f"kernel.{k}.ms_per_doc": v for k, v in kernel_ms.items()})
    layers.update(_shape_layers(shape))
    traced = _job_summary(jobs)
    layers["mem.jvm_peak_rss_mb"] = traced["mem.jvm_peak_rss_mb"]
    layers["mem.python_peak_rss_mb"] = traced["mem.python_peak_rss_mb"]
    layers["trace.overhead"] = traced["docs_per_s"] / untraced["docs_per_s"]
    return layers, replay_mismatched, jobs


def _eventlog_layers(groups, n: int, nproc: int, serial_ms: float) -> dict:
    from perfbench.eventlog import (
        PY_BOOT, PY_INIT, PY_RETURNED, PY_RUN, PY_SENT, median)

    def by_prefix(prefix):
        return [g for k, g in sorted(groups.items()) if k.startswith(prefix)]

    timed = by_prefix("traced-")
    per_job: dict[str, list[float]] = {}

    def add(key, value):
        per_job.setdefault(key, []).append(value)

    for g in timed:
        stages = g.stages()
        python_stages = [stages[sid] for sid in sorted(stages)
                         if any(t.sql.get(PY_RUN) for t in stages[sid])]
        if not python_stages:
            continue  # the job failed before its Python stage ran
        # the first Python stage is the one reading the Parquet input
        input_stage = python_stages[0]
        py_stages = {"doc_fused": 0.0, "convert": 0.0, "doc_assemble": 0.0}
        for ts in python_stages:
            py_ms = sum(t.sql.get(PY_RUN, 0.0) for t in ts)
            if any(t.shuffle_bytes_written for t in ts):
                py_stages["convert"] += py_ms       # before the doc_id shuffle
            elif any(t.shuffle_bytes_read for t in ts):
                py_stages["doc_assemble"] += py_ms  # after it
            else:
                py_stages["doc_fused"] += py_ms
        for name, ms in py_stages.items():
            add(f"stages.{name}.python_ms_per_doc", ms / n)
        add("stages.python_ms_per_doc", sum(py_stages.values()) / n)
        add("pipeline.input_tasks", len(input_stage))
        add("arrow.bytes_to_python_per_doc", g.total(PY_SENT) / n)
        add("arrow.bytes_from_python_per_doc", g.total(PY_RETURNED) / n)
        add("shuffle.bytes_per_doc", sum(t.shuffle_bytes_written for t in g.tasks) / n)
        add("shuffle.write_ms_per_doc", sum(t.shuffle_write_ms for t in g.tasks) / n)
        add("shuffle.fetch_wait_ms", sum(t.fetch_wait_ms for t in g.tasks))
        add("tasks.count", len(g.tasks))
        run = sorted(t.run_ms for t in input_stage)
        p50 = median(run)
        add("tasks.ms_p50", p50)
        add("tasks.ms_max", run[-1])
        add("tasks.skew", run[-1] / p50 if p50 else 0.0)
        total_run = sum(t.run_ms for t in g.tasks)
        add("tasks.gc_ms_share", sum(t.gc_ms for t in g.tasks) / total_run)
        add("cores.busy_share", total_run / (g.wall_ms * nproc))
    out = {k: median(v) for k, v in per_job.items()}
    out["tasks.failed"] = sum(t.failed for g in timed for t in g.tasks)

    scan_ms = median([sum(t.run_ms for t in g.tasks) / n for g in by_prefix("scan-")])
    floor_ms = median([sum(t.run_ms for t in g.tasks) / n for g in by_prefix("floor-")])
    out["scan.ms_per_doc_core"] = scan_ms
    out["arrow.floor_ms_per_doc_core"] = floor_ms - scan_ms
    out["arrow.worker_start_ms"] = max(
        t.sql.get(PY_BOOT, 0.0) + t.sql.get(PY_INIT, 0.0)
        for t in groups["warmup"].tasks)
    out["stages.glue_ms_per_doc"] = (out.pop("stages.python_ms_per_doc")
                                     - serial_ms - out["arrow.floor_ms_per_doc_core"])
    return out


def _shape_layers(shape: list[dict]) -> dict:
    docs = sum(r["docs"] for r in shape)
    pages = sum(r["pages"] for r in shape)
    det_calls = sum(r["det_calls"] for r in shape)
    clusters = sorted(c for r in shape for c in r["clusters"])
    return {
        "corpus.pages_per_doc": pages / docs,
        "corpus.clusters_per_page_p50": statistics.median(clusters),
        "corpus.clusters_per_page_max": clusters[-1],
        "corpus.tables_per_doc": sum(r["tables"] for r in shape) / docs,
        "corpus.pages_small_band": sum(c <= SMALL_BAND_MAX for c in clusters),
        "corpus.pages_dense_band": sum(SMALL_BAND_MAX < c < GRID_BAND_MIN
                                       for c in clusters),
        "corpus.pages_grid_band": sum(c >= GRID_BAND_MIN for c in clusters),
        "harness.detector.forward_calls_per_doc": det_calls / docs,
        "harness.detector.batch_fill": pages / (det_calls * 32),
        "harness.ocr.forward_calls_per_doc": sum(r["ocr_calls"] for r in shape) / docs,
    }


def _declared(spec: dict, values: dict, key: str) -> dict:
    """The metrics BENCHMARK.json declares under ``key``, with units; a
    declared metric the run did not produce is an error."""
    missing = [m["name"] for m in spec[key] if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not produced: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec[key]}


def main(argv: list[str] | None = None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package and perfbench by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="timed seconds per session (default: run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.seconds is None:
        args.seconds = spec["run_seconds"]

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    nproc = os.cpu_count() or 4
    results = [run_workload(WORKLOADS[w], args.seed, args.seconds,
                            bool(args.trace), nproc) for w in names]

    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(failed_doc_share="ratio", mismatched_docs="count")
    metrics = {}
    for r in results:
        print("provenance " + json.dumps(r["provenance"]))
        shown = {**r["e2e"], **(r["layers"] or {})}
        for name, value in shown.items():
            print(f"{r['workload']:<14} {name:<42} {value:>14.6g} {units.get(name, '')}")
        declared = _declared(spec, r["layers"] if args.trace else r["e2e"], key)
        if len(results) == 1:
            metrics = declared
        else:
            metrics.update({f"{r['workload']}.{k}": v for k, v in declared.items()})
    correct = all(r["correct"] for r in results)
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
