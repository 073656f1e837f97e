#!/usr/bin/env python3
"""Outside-in benchmark of doc_parser_spark.

    python3 perfbench/run.py --workload job_mixed --seed 1 --trace 0

One run: start a session at local[nproc], generate the workload's inputs
from the seed, run two warm-up iterations (a cold one over a smaller input
of the same kind, then one over the timed input), then time iterations of
the workload's user call until ``--seconds`` (default: spec.RUN_SECONDS) of
timed wall have accumulated. Every iteration's output is
checked; the run exits 1 if any check fails. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
session also writes a Spark event log and one extra, traced iteration plus
per-layer probes give the per-layer metrics, and the spans are written to
``.perfbench_out/spans-<workload>-<seed>.json``.

Other modes: ``--scale tiny`` (a seconds-long smoke size) and
``--write-spec`` (rewrite BENCHMARK.json and perfbench/spec.json from
spec.py). ``perfbench/steady.py`` runs sets of seeds and reports spreads.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

import spec
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
# 2 tasks per core per shuffle; explicit so SPARK_GRAFT_CPUS cannot change it
SHUFFLE_PARTITIONS = 2 * NPROC
FILES_MAX_PARTITION_BYTES = "32m"


def session_settings(local_dir: str, event_dir: str | None) -> dict:
    confs = {
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(local_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        confs.update(tracing.event_log_confs(event_dir))
    return confs


def _prepare_env(work: str, event_dir: str | None) -> None:
    """Make the package importable by this process and Spark's Python
    workers, keep every file the run writes inside ``work``, and pass the
    benchmark's session settings to the JVM at launch."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # both JVMs spark-submit starts (launcher and driver): temp files in
    # the work dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}"
        for k, v in session_settings(local, event_dir).items()
    ) + " pyspark-shell"


def _mkdir(*parts: str) -> str:
    path = os.path.join(*parts)
    os.makedirs(path)
    return path


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(tracing.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--write-spec", action="store_true")
    args = ap.parse_args(argv)

    if args.write_spec:
        sys.path.insert(0, ROOT)
        spec.write(ROOT)
        return 0
    if not os.path.isdir(os.path.join(ROOT, "doc_parser_spark")):
        print(f"perfbench: no doc_parser_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    event_dir = os.path.join(work, "events") if args.trace else None
    os.makedirs(event_dir or work, exist_ok=True)
    _prepare_env(work, event_dir)
    try:
        return _run(args, work, event_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, event_dir: str | None) -> int:
    from doc_parser_spark.session import get_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.scale)

    host = tracing.HostSpeed(NPROC)
    host.sample()
    with tracing.Timed() as session:
        spark = get_spark(
            app_name=f"perfbench.{wl.name}", master=f"local[{NPROC}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            files_max_partition_bytes=FILES_MAX_PARTITION_BYTES,
        )
    try:
        return _measure(args, wl, spark, session, host, work, event_dir)
    finally:
        _stop(spark)


def _measure(args, wl, spark, session, host, work, event_dir) -> int:
    from workloads import CheckFailed

    with tracing.Timed() as gen:
        inp = wl.generate(args.seed, _mkdir(work, "in"), wl.size)
        warm_inp = wl.generate(args.seed, _mkdir(work, "warm"), wl.warm_size)
    host.sample()

    out_n, cpus, timed = [0], [], []

    def iteration(tracer=None, data=inp):
        out = os.path.join(work, f"out{out_n[0]}")
        out_n[0] += 1
        if tracer is None:
            cpu = tracing.tree_cpu_s(os.getpid())
            with tracing.Timed() as t:
                res = wl.call(spark, data, out)
            cpus.append(tracing.tree_cpu_s(os.getpid()) - cpu)
            timed.append(t)
            return t.wall, res, out, None
        tracer.new_run()
        with tracer.span("iteration"):
            with tracer.span(wl.call_span) as span:
                span.result = wl.call(spark, data, out)
        return span.seconds, span.result, out, span

    checks, errors, check_s = [], [], [0.0]

    def check(res, out, data=inp, keep=False) -> int:
        """Check one iteration's output; returns its failed documents.
        Only iterations over the timed inputs join the final checks."""
        t = time.perf_counter()
        try:
            c = wl.check(spark, data, out, res)
            if data is inp:
                checks.append(c)
            return c["failed"]
        except CheckFailed as e:
            errors.append(str(e))
            return data.docs
        finally:
            if not keep:
                shutil.rmtree(out, ignore_errors=True)
            check_s[0] += time.perf_counter() - t

    # two warm-up iterations: the cold one over the small input, whose
    # output is kept and read back through the package's readers after
    # timing, then one over the timed input, after which an iteration's
    # wall no longer falls
    warmups = []
    for data in (warm_inp, inp):
        _, res, out, _ = iteration(data=data)
        warmups.append(timed.pop())
        cpus.pop()  # warm-up iterations are not timed
        check(res, out, data, keep=data is warm_inp)
        if data is warm_inp:
            warm_out = out
    # set-up time less the host's steal; scaled to the reference host speed
    # below, like norm_wall_s. The raw walls of its parts are layer metrics
    setup_net = session.net + gen.net + sum(w.net for w in warmups)
    host.sample()

    walls, failed_docs, attempted = [], 0, 0
    with tracing.RssSampler() as rss:
        while sum(walls) < args.seconds:
            rss.active.set()
            attempted += inp.docs
            try:
                wall, res, out, _ = iteration()
            except Exception as e:  # the program failed: report, stop timing
                errors.append(f"iteration raised {e!r}")
                failed_docs += inp.docs
                break
            finally:
                rss.active.clear()
            walls.append(wall)
            failed_docs += check(res, out)
            host.sample()
    if not walls:
        print(f"perfbench: no iteration completed: {errors}", file=sys.stderr)
        return 1
    t = time.perf_counter()
    try:
        wl.check_readers(spark, warm_inp, warm_out)
        wl.check_final(spark, inp, checks)
    except CheckFailed as e:
        errors.append(str(e))
        failed_docs = attempted
    shutil.rmtree(warm_out, ignore_errors=True)
    check_s[0] += time.perf_counter() - t
    host.sample()

    wall_s = statistics.median(walls)
    net_wall_s = statistics.median(t.net for t in timed)
    # the host's speed this run, relative to the reference
    scale = spec.REFERENCE_LOAD_S / host.median
    summary = {
        "setup_s": (setup_net * scale, "s"),
        "norm_wall_s": (net_wall_s * scale, "s"),
        "net_wall_s": (net_wall_s, "s"),
        "cpu_s": (statistics.median(cpus), "s"),
        "ok_frac": (1 - failed_docs / attempted, "ratio"),
        "wall_s": (wall_s, "s"),
        "docs_per_s": (inp.docs / wall_s, "docs/s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "host.steal_frac": (
            statistics.median(t.steal_frac for t in timed), "ratio"),
        "host.reference_s": (host.median, "s"),
        "setup.net_s": (setup_net, "s"),
        "setup.session_s": (session.wall, "s"),
        "setup.warmup_s": (sum(w.wall for w in warmups), "s"),
    }
    metrics = {m["name"]: summary[m["name"]] for m in spec.END_TO_END}
    if args.trace:
        tracer = tracing.Tracer(spark, event_dir)
        traced, res, out, span = iteration(tracer)
        try:
            layer = wl.layers(spark, inp, tracer, out, span)
        except CheckFailed as e:
            errors.append(str(e))
            layer = {}
        check(res, out)
        call = tracer.stages()
        call = tracing.stages_of(call, wl.call_span)
        layer.update({k: v for k, (v, _) in summary.items()})
        layer.update({
            "spark.stages": len(call.stages),
            "spark.tasks": len(call.tasks),
            "spark.shuffle_write_bytes": call.total("shuffle_write"),
            "spark.gc_s": call.total("gc_ms") / 1e3,
            "trace.overhead_s": traced - wall_s,
            "trace.spans": len(tracer.spans),
        })
        os.makedirs(OUT, exist_ok=True)
        spans_path = os.path.join(OUT, f"spans-{wl.name}-{args.seed}.json")
        tracer.dump(spans_path)
        units = {m["name"]: m["unit"] for m in spec.PER_LAYER}
        # layers this workload does not call report 0
        metrics = {k: (layer.get(k, 0.0), units[k]) for k in units}
        print(f"spans: {spans_path}")
        print("not on this workload's path (reported as 0): "
              + ", ".join(k for k in units if k not in layer))

    print(f"{wl.name} seed={args.seed} nproc={NPROC} docs={inp.docs} "
          f"iterations={len(walls)} walls={[round(w, 3) for w in walls]}")
    print(f"  phases: session {session.wall:.1f} s, generate {gen.wall:.1f} "
          f"s, warm-up {[round(w.wall, 1) for w in warmups]} s over "
          f"{warm_inp.docs} docs, checks {check_s[0]:.1f} s")
    for k, (v, unit) in summary.items():
        print(f"  {k:<16} {v:12.4f} {unit}")
    for e in errors:
        print(f"CHECK FAILED: {e}")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed_docs,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
