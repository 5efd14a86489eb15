"""Run a workload over several seeds, in interleaved sets, and check the
spread and agreement of each metric against its bound.

    python3 perfbench/spread.py --workload NAME [--seeds 1-10] [--sets 2] [--trace 0]

Run from the root of a source checkout. Every seed is run once per set, the
sets interleaved (seed 1 of set 1, seed 1 of set 2, seed 2 of set 1, ...),
so that a drift of the host's speed falls on all sets alike. For every
metric and set it prints the median and the distance between the first and
third quartile as a share of the median (`statistics.quantiles(values,
n=4)`); for every set after the first, how much worse its median is than
the first set's. It exits non-zero if any run failed, or any spread or
worsening exceeds the metric's bound from BENCHMARK.json.

Before each run it times a fixed single-threaded Python loop (`host_s`):
the machine's speed drifts when it is shared, and this shows by how much.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

from harness import iqr_share


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def host_kernel_s() -> float:
    """Median of three timings of a fixed pure-Python loop."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def worsening(first: float, later: float, better: str) -> float:
    """How much worse `later` is than `first`, as a share of `first`."""
    if not first:
        return 0.0
    return (later - first) / first if better == "lower" else (first - later) / first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    results: list[list[dict]] = [[] for _ in range(args.sets)]
    ok = True
    for seed in seeds(args.seeds):
        for k in range(args.sets):
            host = host_kernel_s()
            cmd = spec["command"] + [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.time()
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            wall = time.time() - t0
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
            res = json.loads(last) if out.returncode == 0 else {}
            ok &= bool(res.get("correct"))
            notes = [ln for ln in out.stderr.splitlines() if ln.startswith(("phases:", "wall:"))]
            print(f"set {k + 1} seed {seed}: exit {out.returncode} correct={res.get('correct')} "
                  f"wall {wall:.1f}s host_s {host:.3f} {'; '.join(notes)}", flush=True)
            if res.get("correct"):
                results[k].append(res)
    if not ok:
        return 1
    for name in results[0][0]["metrics"]:
        m = metrics[name]
        bound = m.get("bound")
        medians = []
        for k, rs in enumerate(results):
            values = [r["metrics"][name]["value"] for r in rs]
            med = statistics.median(values)
            spread = iqr_share(values) if len(values) > 1 and med else 0.0
            medians.append(med)
            over = bound is not None and spread > bound
            line = f"{name:44s} set {k + 1} median {med:14.4f}  spread {spread:6.3f}"
            if k:
                worse = worsening(medians[0], med, m["better"])
                over |= bound is not None and worse > bound
                line += f"  worse than set 1 by {worse:6.3f}"
            ok &= not over
            print(line + f"  bound {bound}" + ("  OVER" if over else ""))
            print("    " + " ".join(f"{v:.4g}" for v in values))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
