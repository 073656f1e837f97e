#!/usr/bin/env python3
"""Steadiness mode: run the benchmark on several seeds, in one or more
sets, and report each end-to-end metric's spread against its bound.

    python3 perfbench/steady.py --workloads job_mixed,ingest_curate \\
        --seeds 1-10 --sets 2

Each run is a fresh ``perfbench/run.py`` process, exactly as the benchmark
command is run; workloads alternate within a seed so slow drift of the
machine spreads over all of them. For every workload and metric it prints
the median, the quartile spread (q3 - q1) / median from
``statistics.quantiles(values, n=4)``, and, with two or more sets, how much
worse each later set's median is than the first's. It exits 1 when any
metric's spread or set-to-set drift exceeds its bound, and marks spreads
above a third of the bound. The report is also
written to ``.perfbench_out/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}:\n"
                         f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["elapsed_s"] = time.time() - t
    # printed by every run, to tell a slow run on a busy host from a slow
    # program
    steal = [ln.split()[1] for ln in lines if ln.split()[:1] == ["host.steal_frac"]]
    res["steal_frac"] = float(steal[0]) if steal else float("nan")
    return res


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec.WORKLOADS))
    ap.add_argument("--seeds", default=f"{spec.SEEDS[0]}-{spec.SEEDS[-1]}")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec.RUN_SECONDS)
    args = ap.parse_args(argv)
    workloads = args.workloads.split(",")
    seeds = _seeds(args.seeds)

    runs: dict = {w: [[] for _ in range(args.sets)] for w in workloads}
    for s in range(args.sets):
        for seed in seeds:
            for w in workloads:
                r = run_once(w, seed, args.seconds, 0)
                runs[w][s].append(r)
                print(f"set {s} {w} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                ) + f" (run {r['elapsed_s']:.1f} s, steal "
                    f"{r['steal_frac']:.3f})", flush=True)

    ok, report = True, {}
    print(f"\n{'workload':<14}{'metric':<13}{'median':>11}{'spread':>8}"
          f"{'bound':>7}{'drift':>8}")
    for w in workloads:
        report[w] = {}
        for m in spec.END_TO_END:
            name, bound = m["name"], m["bound"]
            sets = [[r["metrics"][name]["value"] for r in rs]
                    for rs in runs[w]]
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) for v in sets] if len(seeds) > 1 else [0.0]
            sign = 1 if m["better"] == "lower" else -1
            drifts = [sign * (md - meds[0]) / meds[0] if meds[0] else 0.0
                      for md in meds[1:]]
            bad = max(spreads) > bound or any(d > bound for d in drifts)
            ok &= not bad
            flag = "FAIL" if bad else (
                "high" if max(spreads) > bound / 3 else "")
            report[w][name] = {"values": sets, "medians": meds,
                               "spreads": spreads, "drifts": drifts,
                               "bound": bound, "flag": flag}
            print(f"{w:<14}{name:<13}{meds[0]:>11.4g}{max(spreads):>8.3f}"
                  f"{bound:>7.2f}"
                  f"{(max(drifts) if drifts else 0.0):>8.3f}  {flag}")
        el = [r["elapsed_s"] for rs in runs[w] for r in rs]
        report[w]["elapsed_s"] = el
        report[w]["steal_frac"] = [r["steal_frac"] for rs in runs[w] for r in rs]
        print(f"{w:<14}run time median {statistics.median(el):.1f} s, "
              f"max {max(el):.1f} s")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench_out",
                        f"steady-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"report: {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
