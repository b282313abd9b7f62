#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end
metric's median and quartile spread (q3 - q1, as a share of the median),
the way a regression check reads them.

    python3 perfbench/spread.py --seeds 10 [--sets 2] [--first-seed 1]
                                [--workload W ...] [--traced N] [--out F]

``--sets 2`` runs two sets of seeds, interleaved run by run so that a
drift in the host's speed reaches both alike, and reports how far the
second set's median lies from the first's. ``--traced N`` adds N traced
runs per workload and reports the tracing overhead (traced minus
untraced ``total_wall_s`` within each run). With ``--out``, everything
is also written as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_one(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:"
                           f" {p.stderr[-2000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.monotonic() - t
    m = re.search(r" steal=([\d.]+)", p.stderr)
    out["steal"] = float(m.group(1)) if m else None
    return out


def summarize(vals: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return {"median": med, "spread": (q3 - q1) / med, "values": vals}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append",
                   default=None, help="default: every workload")
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--out", default=None)
    args = p.parse_args()
    names = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    secs = spec["run_seconds"]
    # runs[workload][set] -> result lines
    runs: dict[str, list[list[dict]]] = {w: [[] for _ in range(args.sets)]
                                         for w in names}
    t0 = time.monotonic()
    for i in range(args.seeds):
        for w in names:
            for j in range(args.sets):
                seed = args.first_seed + j * args.seeds + i
                out = run_one(w, seed, secs)
                runs[w][j].append(out)
                print(f"[{time.monotonic() - t0:7.0f}s] {w} seed={seed}"
                      f" wall={out['wall_s']:.1f}s steal={out['steal']}"
                      f" correct={out['correct']}"
                      f" failed={out['failed']}/{out['attempted']} "
                      + " ".join(f"{k}={v['value']:.4f}"
                                 for k, v in out["metrics"].items()),
                      flush=True)
    report: dict = {}
    for w in names:
        sets = []
        for j, outs in enumerate(runs[w]):
            keys = outs[0]["metrics"]
            sets.append({
                "seeds": [args.first_seed + j * args.seeds + i
                          for i in range(args.seeds)],
                "correct": all(o["correct"] for o in outs),
                "failed": [o["failed"] for o in outs],
                "attempted": [o["attempted"] for o in outs],
                "run_wall_s": [o["wall_s"] for o in outs],
                "steal": [o["steal"] for o in outs],
                "metrics": {k: summarize([o["metrics"][k]["value"] for o in outs])
                            for k in keys},
            })
        report[w] = {"sets": sets}
        for j, s in enumerate(sets):
            print(f"{w} set {j}: correct={s['correct']}"
                  f" mean run wall={statistics.mean(s['run_wall_s']):.1f}s")
            for k, r in s["metrics"].items():
                flag = "" if r["spread"] < bounds[k] / 3 else "  <-- over bound/3"
                if k != "setup_s" and r["spread"] > bounds[k]:
                    flag = "  <-- OVER BOUND"
                drift = ""
                if j:
                    d = r["median"] / sets[0]["metrics"][k]["median"] - 1
                    drift = f" vs set 0 {d:+.4f}" + (
                        "  <-- WORSE BY MORE THAN BOUND" if d > bounds[k] else "")
                print(f"  {k:13s} median={r['median']:10.4f}"
                      f" spread={r['spread']:.4f} bound={bounds[k]}{drift}{flag}")
        if args.traced:
            traced = [run_one(w, args.first_seed + i, secs, trace=1)
                      for i in range(args.traced)]
            over = [t["metrics"]["trace.overhead_s"]["value"] for t in traced]
            total = [t["metrics"]["trace.total_wall_s"]["value"] for t in traced]
            report[w]["tracing"] = {"overhead_s": over, "traced_total_wall_s": total,
                                    "run_wall_s": [t["wall_s"] for t in traced]}
            print(f"{w} tracing overhead_s={over} traced total_wall_s={total}",
                  flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
