"""The benchmark's definition: workloads, metrics, bounds, and the
layer → end-to-end prediction table.

``python3 perfbench/run.py --write-spec`` writes BENCHMARK.json (the keys
the benchmark contract fixes) and perfbench/spec.json (everything else a
later change needs to name what should and should not move: each
workload's reason, seed, input size, nproc and session settings, and the
prediction table).
"""

from __future__ import annotations

import json
import os

RUN_SECONDS = 5
SEEDS = list(range(1, 11))  # the seeds the steadiness mode runs
# CPU seconds the reference load of tracing.HostSpeed takes on the host
# the end-to-end times are scaled to (about a 4-vCPU cloud guest's)
REFERENCE_LOAD_S = 0.2

WORKLOADS = [
    {
        "name": "job_mixed",
        "why": "run_extraction_job over the default transcript mix with 2% "
               "whales at 100x turns: kernels, routing, bucket write and "
               "commit all on the path",
        "reason": "The paper's headline job, end to end: read, route, "
                  "Arrow-batched extract, bucket write, metrics and manifest. "
                  "Whales make extract task skew visible. About 26k turns "
                  "(900 conversations): a warm iteration takes 4-7 s on "
                  "4 vCPUs, by the host's speed; the kernels are about a third of its CPU time and "
                  "the fixed per-job cost (exchanges, Arrow crossing, write, "
                  "commit) most of the rest, so both a kernel gain and a "
                  "one-exchange rewrite move norm_wall_s here.",
    },
    {
        "name": "ingest_curate",
        "why": "convert_directory over real PDF, office and text files, fed "
               "as turns into run_curation to a noop sink: files, extract, "
               "dedup and chunking",
        "reason": "The directory-ingestion surface and the curation plan in "
                  "one action. sources.files has no exchange and no bucket "
                  "write, so its per-task overhead and the binary-format "
                  "kernels show here; run_curation reuses extract_turns but "
                  "feeds a cache and dedup joins instead of the bucket "
                  "write, so an extract change that helps the job but hurts "
                  "this use shows here. The only workload for "
                  "operators.dedup, operators.curation and "
                  "operators.chunking.",
    },
]

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "norm_wall_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "ok_frac", "unit": "ratio", "better": "higher", "bound": 0.01},
]

# content types whose per-document kernel cost is probed directly
KERNEL_TYPES = ("html", "plain", "markdown", "csv", "asciidoc", "pdfish",
                "pdf_real", "office")
# content types the kernel-seconds split reports
OUTPUT_TYPES = ("html", "plain", "markdown", "csv", "asciidoc", "pdf",
                "empty", "docx", "xlsx", "pptx", "hwpx")

# (name, unit, prediction: which end-to-end metric on which workload)
_LAYERS = [
    # wall time as the user sees it, steal included, and without it; both
    # follow the host's speed (see NOTES.md), so norm_wall_s is the
    # bounded one
    ("wall_s", "s", "none: end to end; net_wall_s plus the host's steal"),
    ("net_wall_s", "s", "none: end to end; norm_wall_s at this run's host "
     "speed"),
    ("docs_per_s", "docs/s", "none: end to end; input docs / wall_s"),
    # process-tree CPU time per iteration; it follows the host's speed
    # (see NOTES.md), so it has no bound
    ("cpu_s", "s", "none: end to end; work the cores absorb without a "
     "longer wall shows here, not in norm_wall_s"),
    ("setup.net_s", "s", "none: setup_s at this run's host speed"),
    ("setup.session_s", "s", "setup_s on every workload"),
    ("setup.warmup_s", "s", "setup_s on every workload"),
    ("sources.scan_s", "s", "norm_wall_s on job_mixed (parquet scan) and ingest_curate (binaryFile scan)"),
    ("sources.scan_tasks", "count", "norm_wall_s on ingest_curate"),
    ("sources.sniff_us_per_doc", "us", "norm_wall_s on job_mixed and ingest_curate"),
    ("extract.noop_s", "s", "norm_wall_s on job_mixed and ingest_curate"),
    ("extract.route_shuffle_bytes", "bytes", "norm_wall_s on job_mixed"),
    ("extract.python_overhead_s", "s", "norm_wall_s on job_mixed"),
    ("extract.task_skew", "ratio", "norm_wall_s on job_mixed (whales)"),
    ("functions.kernel_s", "s", "norm_wall_s on job_mixed and ingest_curate"),
    *[(f"functions.kernel_s.{t}", "s", "norm_wall_s on job_mixed and ingest_curate")
      for t in OUTPUT_TYPES],
    *[(f"functions.{t}_us_per_doc", "us", "norm_wall_s on job_mixed and ingest_curate")
      for t in KERNEL_TYPES],
    ("pipeline.post_extract_s", "s", "norm_wall_s on job_mixed"),
    ("pipeline.bucket_shuffle_bytes", "bytes", "norm_wall_s on job_mixed"),
    ("pipeline.write_task_skew", "ratio", "norm_wall_s on job_mixed"),
    ("pipeline.commit_s", "s", "norm_wall_s on job_mixed"),
    ("pipeline.files_written", "count", "norm_wall_s on job_mixed"),
    ("pipeline.bytes_written", "bytes", "norm_wall_s on job_mixed"),
    ("pipeline.spill_bytes", "bytes", "peak_rss_mb on job_mixed"),
    ("files.tasks", "count", "norm_wall_s on ingest_curate"),
    ("files.task_ms_median", "ms", "norm_wall_s on ingest_curate"),
    ("files.kernel_s", "s", "norm_wall_s on ingest_curate"),
    ("files.overhead_s", "s", "norm_wall_s on ingest_curate"),
    ("curate.extract_gate_s", "s", "norm_wall_s on ingest_curate"),
    ("curate.lsh_pairs_s", "s", "norm_wall_s on ingest_curate"),
    ("curate.chunk_vectors_s", "s", "norm_wall_s on ingest_curate"),
    ("curate.candidate_pairs", "count", "norm_wall_s on ingest_curate"),
    ("curate.verified_pairs", "count", "norm_wall_s on ingest_curate"),
    ("curate.verified_ratio", "ratio", "norm_wall_s on ingest_curate (useful/attempted)"),
    ("curate.cache_bytes", "bytes", "peak_rss_mb on ingest_curate"),
    ("spark.stages", "count", "norm_wall_s on every workload"),
    ("spark.tasks", "count", "norm_wall_s on every workload"),
    ("spark.shuffle_write_bytes", "bytes", "norm_wall_s on every workload"),
    ("spark.gc_s", "s", "norm_wall_s and peak_rss_mb on every workload"),
    ("peak_rss_mb", "MB", "none: the memory cost of every workload; it varies "
     "by more than a tenth between runs, so it is a layer metric"),
    ("host.steal_frac", "ratio", "none: CPU time the hypervisor gave other "
     "guests during timed calls; the gap between wall_s and net_wall_s"),
    ("host.reference_s", "s", "none: the host's speed this run, as CPU "
     "seconds of a fixed reference load; net_wall_s / norm_wall_s = "
     "host.reference_s / REFERENCE_LOAD_S"),
    ("trace.overhead_s", "s", "none: traced minus untraced wall_s in one run"),
    ("trace.spans", "count", "none: spans recorded in the traced iteration"),
]

_HIGHER = {"curate.verified_ratio", "docs_per_s"}
PER_LAYER = [
    {"name": n, "unit": u, "better": "higher" if n in _HIGHER else "lower"}
    for n, u, _ in _LAYERS
]
# what each layer metric should move, and the workloads on which a change
# confined to that layer should leave every end-to-end metric unchanged
PREDICTIONS = {
    n: {"moves": p,
        "no_change_on": [w["name"] for w in WORKLOADS
                         if w["name"] not in p and "every workload" not in p
                         and not p.startswith("none")]}
    for n, _, p in _LAYERS
}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w["name"], "why": w["why"]} for w in WORKLOADS],
        "end_to_end": END_TO_END,
        "per_layer": PER_LAYER,
    }


def details() -> dict:
    from run import (DRIVER_MEMORY, FILES_MAX_PARTITION_BYTES, NPROC,
                     SHUFFLE_PARTITIONS)
    from workloads import WORKLOADS as IMPL

    return {
        "seeds": SEEDS,
        "nproc": NPROC,
        "session": {
            "master": f"local[{NPROC}]",
            "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
            "spark.sql.files.maxPartitionBytes": FILES_MAX_PARTITION_BYTES,
            "spark.driver.memory": DRIVER_MEMORY,
            "traced runs add": "a plain JSON Spark event log",
        },
        "reference_load_s": REFERENCE_LOAD_S,
        "workloads": [
            {**w, "input": IMPL[w["name"]].sizes["full"],
             "warm_up_input": IMPL[w["name"]].warm_sizes["full"],
             "call": IMPL[w["name"]].call_span}
            for w in WORKLOADS
        ],
        "predictions": PREDICTIONS,
    }


def write(root: str) -> None:
    with open(os.path.join(root, "BENCHMARK.json"), "w") as fh:
        json.dump(benchmark_json(), fh, indent=2)
        fh.write("\n")
    with open(os.path.join(root, "perfbench", "spec.json"), "w") as fh:
        json.dump(details(), fh, indent=2)
        fh.write("\n")
