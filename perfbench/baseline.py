"""Repeat the benchmark over many seeds and summarise it.

    python3 perfbench/baseline.py --seeds 1-10 --traced 3 --repeat 11-20 \
        --out perfbench/baseline.json

Runs ``perfbench/run.py`` once per workload and seed untraced, and on the
first ``--traced`` seeds once more traced, each in its own process as the
benchmark's command is meant to be run. Writes, per workload, the median
and quartiles of every end-to-end metric with its spread (interquartile
range over median, the figure each metric's bound is checked against), the
same for every per-layer metric of the traced runs, the tracing overhead
(traced over untraced ``replay_s``), the wall time of each run and the
provenance of the first run. With ``--repeat``, a second untraced set on
other seeds follows once every workload's first set is done, and each
end-to-end metric's two medians and spreads are checked against its bound
in BENCHMARK.json, as a regression check of unchanged code would see them.
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


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, ".work", f"result-{workload}-{seed}-{trace}.json")) as f:
        detail = json.load(f)
    out["wall_s"] = wall
    out["provenance"] = detail["provenance"]
    out["replays"] = detail["replays"]
    return out


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def summarise(runs: list[dict]) -> dict:
    names = runs[0]["metrics"]
    return {k: {**summary([r["metrics"][k]["value"] for r in runs]),
                "unit": runs[0]["metrics"][k]["unit"]} for k in names}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default=None, help="comma list; default: BENCHMARK.json's")
    ap.add_argument("--traced", type=int, default=3, help="traced runs per workload")
    ap.add_argument("--repeat", type=seeds_arg, default=[],
                    help="seeds of a second untraced set, compared with the first")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    result = {"run_seconds": seconds, "seeds": args.seeds, "workloads": {}}

    def save() -> None:  # after every set, so an interrupted sitting keeps its results
        if args.out:
            with open(args.out, "w") as f:
                json.dump(result, f, indent=1)

    for name in workloads:
        runs = []
        for seed in args.seeds:
            runs.append(run_once(name, seed, seconds, 0))
            print(name, seed, "untraced", f"{runs[-1]['wall_s']:.1f}s",
                  json.dumps({k: round(v["value"], 3) for k, v in runs[-1]["metrics"].items()}),
                  flush=True)
        traced = []
        for seed in args.seeds[: args.traced]:
            traced.append(run_once(name, seed, seconds, 1))
            print(name, seed, "traced", f"{traced[-1]['wall_s']:.1f}s", flush=True)
        entry = {
            "correct": all(r["correct"] for r in runs + traced),
            "attempted": sum(r["attempted"] for r in runs + traced),
            "failed": sum(r["failed"] for r in runs + traced),
            "end_to_end": summarise(runs),
            "run_wall_s": summary([r["wall_s"] for r in runs]),
            "cpu_steal_frac": summary([r["provenance"]["cpu_steal_frac"] for r in runs]),
            "provenance": runs[0]["provenance"],
        }
        if traced:
            entry["per_layer"] = summarise(traced)
            base = entry["end_to_end"]["replay_s"]["median"]
            entry["trace_overhead_frac"] = (
                entry["per_layer"]["bench.traced_replay_s"]["median"] / base - 1)
        result["workloads"][name] = entry
        save()
        for k, v in entry["end_to_end"].items():
            print(f"  {name:12s} {k:14s} median {v['median']:10.3f} spread {v['spread']:.3f}",
                  flush=True)
    if args.repeat:
        result["repeat"] = {"seeds": args.repeat, "workloads": {}}
        result["agreement"] = {}
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        better = {m["name"]: m["better"] for m in spec["end_to_end"]}
        for name in workloads:
            runs = []
            for seed in args.repeat:
                runs.append(run_once(name, seed, seconds, 0))
                print(name, seed, "repeat", f"{runs[-1]['wall_s']:.1f}s", flush=True)
            rep = {"correct": all(r["correct"] for r in runs),
                   "attempted": sum(r["attempted"] for r in runs),
                   "failed": sum(r["failed"] for r in runs),
                   "end_to_end": summarise(runs),
                   "run_wall_s": summary([r["wall_s"] for r in runs]),
                   "cpu_steal_frac": summary([r["provenance"]["cpu_steal_frac"] for r in runs])}
            result["repeat"]["workloads"][name] = rep
            for k, second in rep["end_to_end"].items():
                first = result["workloads"][name]["end_to_end"][k]
                change = second["median"] / first["median"] - 1
                worse_by = change if better[k] == "lower" else -change
                spreads_ok = k == "setup_s" or max(first["spread"], second["spread"]) <= bounds[k]
                result["agreement"][f"{name}.{k}"] = {
                    "first_median": first["median"], "second_median": second["median"],
                    "second_worse_by": worse_by, "first_spread": first["spread"],
                    "second_spread": second["spread"], "bound": bounds[k],
                    "ok": worse_by <= bounds[k] and spreads_ok}
                print(f"  {name:12s} {k:14s} second median {second['median']:10.3f} "
                      f"worse by {worse_by:+.3f} spread {second['spread']:.3f}", flush=True)
            save()
    return 0


if __name__ == "__main__":
    sys.exit(main())
