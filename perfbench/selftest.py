"""Self-test of the benchmark itself, on tiny logs (about two minutes per
workload on four cores):

    python3 perfbench/selftest.py

Checks, for every workload of BENCHMARK.json:

- the command, run at tiny size, ends its standard output with the result
  object, and that object carries every end-to-end metric with its unit;
- the command leaves no process behind: no JVM or Python worker it started
  is still running when it has exited;
- a traced run carries every per-layer metric with its unit;
- untraced runs install no wrappers, traced runs do;
- a deliberately corrupted row of the final table is caught by the oracle
  check and counted as a failed operation.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402  (perfbench/run.py)


def check_metrics(metrics: dict, want: dict, where: str) -> None:
    if set(metrics) != set(want):
        raise AssertionError(f"{where}: metrics {sorted(metrics)} != {sorted(want)}")
    for name, unit in want.items():
        m = metrics[name]
        if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            raise AssertionError(f"{where}: {name} printed as {m}, want unit {unit}")


def leftover_processes() -> list[str]:
    """Processes other than this one that carry the benchmark's Spark
    scratch setting in their environment (its JVM and Python workers)."""
    marker = f"SPARK_LOCAL_DIRS={os.path.join(run.WORK, 'spark-local')}".encode()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if marker in f.read().split(b"\0"):
                    with open(f"/proc/{d}/cmdline", "rb") as c:
                        cmd = c.read().replace(b"\0", b" ")[:120].decode(errors="replace")
                    out.append(f"{d}: {cmd}")
        except OSError:
            continue
    return out


def corrupt_one_row(pdf):
    pdf = pdf.copy()
    pdf.loc[pdf.index[0], "content"] = "corrupted by the self-test"
    return pdf


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    names = [w["name"] for w in spec["workloads"]]

    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", name,
             "--seed", "7", "--seconds", "1", "--trace", "0", "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            raise AssertionError(f"{name}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        if set(out) != {"correct", "attempted", "failed", "metrics"} or not out["correct"]:
            raise AssertionError(f"{name}: printed {out}")
        check_metrics(out["metrics"], e2e, f"{name} command")
        print(f"ok  {name}: command prints every end-to-end metric with its unit", flush=True)
        left = leftover_processes()
        if left:
            raise AssertionError(f"{name}: processes left running after exit: {left}")
        print(f"ok  {name}: command leaves no process running", flush=True)

    from layers import Tracer  # perfbench/layers.py

    cpus = run.prepare_process()
    run.become_subreaper()
    spark = run.start_spark(cpus)
    try:
        for name in names:
            w = run.tiny(run.WORKLOADS[name])
            seen: list[list[str]] = []

            def probe(pdf):
                seen.append(Tracer.installed_wrappers())
                return pdf

            res = run.bench(w, 7, 0, False, spark=spark, final_hook=probe)
            if not seen or any(seen) or not res["correct"]:
                raise AssertionError(f"{name}: untraced run saw wrappers {seen} or failed")
            print(f"ok  {name}: untraced run installs no wrappers", flush=True)

            seen.clear()
            res = run.bench(w, 7, 0, True, spark=spark, final_hook=probe)
            if not seen or not all(seen) or not res["correct"]:
                raise AssertionError(f"{name}: traced run saw wrappers {seen} or failed")
            if Tracer.installed_wrappers():
                raise AssertionError(f"{name}: wrappers left installed after a traced run")
            check_metrics(res["metrics"], per_layer, f"{name} traced")
            print(f"ok  {name}: traced run reports every per-layer metric with its unit",
                  flush=True)

            res = run.bench(w, 7, 0, False, spark=spark, final_hook=corrupt_one_row)
            out = run.printed(res)
            if out["correct"] or out["failed"] < 1:
                raise AssertionError(f"{name}: corrupted row not caught: {out}")
            print(f"ok  {name}: a corrupted final row counts as a failure "
                  f"({out['failed']} of {out['attempted']})", flush=True)
    finally:
        run.stop_processes()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
