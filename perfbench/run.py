"""End-to-end benchmark of the CDC replay engine.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_struct --seed 1 --seconds 30 --trace 0

The benchmark drives only the public API (``get_spark``,
``CdcReplayEngine``, ``LakeTable``) on logs it generates from ``--seed``
with the package's own fixture generator, checks every final table against
the independent pandas oracle (``fixtures/oracle.py``) by per-row sha256,
and prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs the
wrappers of ``perfbench/layers.py`` around the public functions of each
layer and reports the per-layer metrics instead. The workloads, metrics and
the layer-to-metric map are described in ``perfbench/README.md``.

Everything the benchmark writes stays under ``perfbench/.cache`` (fixtures
keyed by seed and config hash) and ``perfbench/.work`` (tables,
checkpoints, Spark scratch); both are git-ignored.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
T0 = time.perf_counter()
DRIVER_HEAP = "3g"  # local mode: one JVM hosts driver and executors
# two write waves per worker: enough buckets to fill the cores, few enough
# that the per-batch file count does not swamp small batches
BUCKETS_PER_WORKER = 2


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    why: str
    wire: str  # the log's wire format, as CdcReplayEngine(wire_format=...)
    n_repos: int  # GeneratorConfig.n_repos: ~8.4 keys and ~70 events per repo
    hot_key_events: int  # UPDATEs on one mega-hot key (0 = no dominant key)
    schema_evolution: bool  # add a column, then widen it, mid-log
    n_batches: int
    compact_every: int  # CdcReplayEngine(compact_every=...)
    gc_every: int  # CdcReplayEngine(gc_every=...)
    warmup_batches: int  # leading batches applied untimed in each replay
    reads_after: int  # closed loop: full-table reads after each replay
    reader_rate: float  # open loop: reads per second beside the writer

    @property
    def loop(self) -> str:
        return "open" if self.reader_rate else "closed"


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="bulk_proto",
            why="cold-table catch-up of a backlog in a few large batches, proto wire: "
            "scan, Python mapInArrow decode, fold shuffle and delta write do the work",
            wire="proto",
            n_repos=300,
            hot_key_events=0,
            schema_evolution=False,
            n_batches=4,
            compact_every=6,
            gc_every=8,
            warmup_batches=1,
            reads_after=2,
            reader_rate=0.0,
        ),
        Workload(
            name="trickle_hot",
            why="small batches, a mega-hot key and schema evolution in the struct wire, "
            "read at a fixed rate while written: per-batch fixed cost, no Python decode",
            wire="struct",
            n_repos=20,
            hot_key_events=3500,
            schema_evolution=True,
            n_batches=4,
            # cadences scaled to the short replay, so that async compaction
            # and snapshot expiry both run inside the timed batches
            compact_every=3,
            gc_every=3,
            warmup_batches=1,
            reads_after=0,
            reader_rate=0.5,
        ),
    )
}


def tiny(w: Workload) -> Workload:
    """The self-test size of a workload: same shape, a few hundred events."""
    return dataclasses.replace(
        w,
        n_repos=6,
        hot_key_events=min(w.hot_key_events, 600),
        n_batches=min(w.n_batches, 4),
        warmup_batches=1,
        reads_after=min(w.reads_after, 1),
    )


# ----------------------------------------------------------------- process
def log(msg: str) -> None:
    print(f"perfbench: +{time.perf_counter() - T0:.1f}s {msg}", file=sys.stderr, flush=True)


def prepare_process() -> int:
    """Point every scratch location of Spark, the JVM and Python at the
    benchmark's work dir, size the session from nproc, and make the package
    importable in the Python workers. Returns the worker count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus


def become_subreaper() -> None:
    """Adopt orphaned descendants (the Python workers Spark's JVM forks keep
    running when the JVM goes first), so that ``stop_processes`` can wait
    for them too. Linux only; elsewhere a no-op."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def children_by_parent() -> dict[int, list[int]]:
    """Every live process's pid, listed under its parent's, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark session, end its JVM and every process still below this
    one, and wait until each has ended. The JVM exits when its stdin closes;
    whatever outlives ``timeout`` is terminated, then killed."""
    import signal

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 10
    sig = signal.SIGTERM
    while True:
        try:  # reap whatever has ended
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        pids = children_by_parent().get(os.getpid(), [])
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def start_spark(cpus: int):
    from debezium_connector_spanner_spark import get_spark

    return get_spark(
        app_name="cdc-perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


class RssSampler:
    """Peak resident set of the driver JVM and every process below it (the
    Python workers), sampled from /proc every 500 ms."""

    def __init__(self, pid: int | None):
        self.pid = pid  # None: sample nothing
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        if self.pid is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self.pid is not None:
            self._thread.join()

    def _tree_kb(self) -> int:
        children = children_by_parent()
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            todo.extend(children.get(p, ()))
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            self.peak_kb = max(self.peak_kb, self._tree_kb())


# ---------------------------------------------------------------- fixtures
def generator_config(w: Workload, seed: int):
    from debezium_connector_spanner_spark.fixtures.generator import GeneratorConfig

    # an evolving log adds the column inside the warm-up batch (before the
    # root partition ends at 0.10 of the timeline, so the first batch sees
    # it) and widens it in a timed one: the timed batches then hold one
    # schema retry, not a median's worth of them
    evolve = {"evolve_add_at": 0.05, "evolve_widen_at": 0.6} if w.schema_evolution else {}
    return GeneratorConfig(
        seed=seed,
        n_repos=w.n_repos,
        paths_per_repo=8,
        hot_repos=max(1, w.n_repos // 100),
        events_per_key_mean=8,
        heartbeats_per_token=16,
        hot_key_events=w.hot_key_events,
        schema_evolution=w.schema_evolution,
        **evolve,
    )


def row_digests(pdf, cols: list[str]) -> Counter:
    """Multiset of per-row sha256 over the given columns (NaN as null)."""
    out: Counter = Counter()
    for rec in pdf[cols].itertuples(index=False, name=None):
        vals = [None if isinstance(v, float) and math.isnan(v) else v for v in rec]
        out[hashlib.sha256(json.dumps(vals).encode()).hexdigest()] += 1
    return out


def prepare_fixture(w: Workload, seed: int) -> tuple[str, dict, object]:
    """Generate (or reuse) the seed's log in the workload's wire, plus the
    oracle's expected final-state row digests. Cached by seed and config
    hash; every file is written under a temporary name and renamed."""
    from debezium_connector_spanner_spark.fixtures.generator import (
        write_fixture,
        write_proto_log,
    )
    from debezium_connector_spanner_spark.fixtures.oracle import fold_final_state

    cfg = generator_config(w, seed)
    key = hashlib.sha256(
        json.dumps(dataclasses.asdict(cfg), sort_keys=True).encode()
    ).hexdigest()[:12]
    fx = os.path.join(CACHE, f"seed{seed}-{key}")
    manifest = write_fixture(fx, cfg)
    if w.wire == "proto":
        done = os.path.join(fx, "events_proto.done")
        if not os.path.exists(done):
            write_proto_log(fx, force=True)
            open(done, "w").close()
    oracle_path = os.path.join(fx, "oracle_rows.json")
    if not os.path.exists(oracle_path):
        want = fold_final_state(fx)
        cols = list(want.columns)
        payload = {"columns": cols, "rows": len(want), "digests": row_digests(want, cols)}
        with open(oracle_path + ".tmp", "w") as f:
            json.dump(payload, f)
        os.replace(oracle_path + ".tmp", oracle_path)
    manifest = dict(manifest)
    manifest["log_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for sub in ("events_proto" if w.wire == "proto" else "events",)
        for d, _, fs in os.walk(os.path.join(fx, sub))
        for f in fs
    )
    return fx, manifest, cfg


def check_final(pdf, fx: str) -> int:
    """Rows that differ between the final table and the oracle (0 = equal)."""
    with open(os.path.join(fx, "oracle_rows.json")) as f:
        want = json.load(f)
    if not set(want["columns"]) <= set(pdf.columns):
        return max(want["rows"], len(pdf))
    got = row_digests(pdf, want["columns"])
    exp = Counter(want["digests"])
    return sum(((got - exp) + (exp - got)).values())


# ----------------------------------------------------------------- replays
@dataclasses.dataclass
class Replay:
    init_s: float
    replay_s: float
    events: int
    batches: list[dict]  # the engine's metrics.jsonl lines
    reads: list[dict]
    mismatched_rows: int
    rows: int  # final table rows
    table_root: str
    t_start: float  # wall clock, for the trace
    t_end: float


class Reader:
    """Open-loop reader: one read due every 1/rate s, each timed from its due
    time, so a read held up behind slow ones counts its wait. ``THREADS``
    threads take the due reads in turn, so at most that many are in flight
    and the load beside the writer stays bounded when the host slows down.
    Every fifth read is a full-table aggregate, the rest are point lookups
    by (repo, path); each goes through a fresh ``LakeTable(...).read()``."""

    THREADS = 2

    def __init__(self, spark, table_root: str, keys: list, rate: float, seed: int):
        self.spark, self.root, self.keys, self.rate = spark, table_root, keys, rate
        self.rng = random.Random(seed)
        self.reads: list[dict] = []
        self._next = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._threads = [threading.Thread(target=self._loop, name=f"reader{i}", daemon=True)
                         for i in range(self.THREADS)]

    def _read(self, due: float, key) -> dict:
        from pyspark.sql import functions as F

        from debezium_connector_spanner_spark.sources.lake import LakeTable

        start = time.perf_counter()
        self.spark.sparkContext.setLocalProperty(
            "spark.job.description", "perfbench layer=bench.reader")
        df = LakeTable(self.spark, self.root).read()
        if key is None:
            df.groupBy("lang").agg(F.count(F.lit(1))).collect()
        else:
            df.where((F.col("repo") == key[0]) & (F.col("path") == key[1])).collect()
        end = time.perf_counter()
        return {"kind": "agg" if key is None else "point", "late_s": start - due,
                "latency_s": end - due, "ok": True}

    def _loop(self) -> None:
        while True:
            with self._lock:  # the next due read and its key, in order
                i = self._next
                self._next += 1
                key = None if i % 5 == 4 else self.keys[self.rng.randrange(len(self.keys))]
            due = self._t0 + i / self.rate
            if self._stop.wait(max(0.0, due - time.perf_counter())):
                return
            try:
                read = self._read(due, key)
            except Exception as e:  # a failed read is counted, not fatal
                read = {"kind": "error", "ok": False, "error": repr(e)}
            with self._lock:
                self.reads.append(read)

    def __enter__(self):
        self._t0 = time.perf_counter()
        for t in self._threads:
            t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        for t in self._threads:
            t.join()  # lets the reads in flight finish


RUNS = os.path.join(WORK, "runs", str(os.getpid()))  # tables and checkpoints


def fresh_dir(name: str) -> str:
    d = os.path.join(RUNS, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def new_engine(spark, w: Workload, fx: str, cfg, run_dir: str, n_buckets: int):
    from debezium_connector_spanner_spark.fixtures.generator import EPOCH_MICROS
    from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
    from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine

    base = spark.read.parquet(os.path.join(fx, "base_repos.parquet"))
    t = time.perf_counter()
    eng = CdcReplayEngine(
        spark,
        fx,
        os.path.join(run_dir, "table"),
        os.path.join(run_dir, "ckpt"),
        start_us=EPOCH_MICROS,
        end_us=EPOCH_MICROS + cfg.duration_s * 1_000_000,
        n_batches=w.n_batches,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=base,
        n_buckets=n_buckets,
        wire_format=w.wire,
        compact_every=w.compact_every,
        gc_every=w.gc_every,
    )
    return eng, time.perf_counter() - t


def read_table(spark, table_root: str):
    from debezium_connector_spanner_spark.sources.lake import CDC_TS_COL, LakeTable

    return LakeTable(spark, table_root).read().drop(CDC_TS_COL).toPandas()


def replay(spark, w, fx, cfg, n_buckets, tag, final_hook=None, after_warmup=None) -> Replay:
    """One cold-table replay: construct the engine, apply the log's first
    ``w.warmup_batches`` batches untimed (JIT, codegen and Python workers
    warm up on the workload's own plans), then time ``run()`` over the rest
    of the log through drain and ``close()``, read the table back and check
    it against the oracle. The first read-back feeds the oracle check and is
    not timed; ``w.reads_after`` timed full-table reads follow it."""
    run_dir = fresh_dir(tag)
    eng, init_s = new_engine(spark, w, fx, cfg, run_dir, n_buckets)
    table_root = os.path.join(run_dir, "table")
    t = time.perf_counter()
    eng.run(max_batches=w.warmup_batches)
    warmup_s = time.perf_counter() - t
    n_warm = len(eng.metrics())
    if after_warmup is not None:
        after_warmup()
    keys = cfg.keys()
    if w.hot_key_events:
        keys.append(("org-hot/mega-repo", "src/hot_file.py"))
    t_start = time.time()
    t = time.perf_counter()
    if w.reader_rate:
        with Reader(spark, table_root, keys, w.reader_rate, cfg.seed) as reader:
            totals = eng.run()
            replay_s = time.perf_counter() - t
        reads = reader.reads
    else:
        totals = eng.run()
        replay_s = time.perf_counter() - t
        reads = []
    t_end = time.time()
    final = read_table(spark, table_root)
    for _ in range(w.reads_after):
        t = time.perf_counter()
        read_table(spark, table_root)
        reads.append({"kind": "full", "late_s": 0.0, "latency_s": time.perf_counter() - t,
                      "ok": True})
    log(f"{tag}: init {init_s:.1f}s, warm-up batches {warmup_s:.1f}s, timed run() "
        f"{replay_s:.1f}s, {len(reads)} reads")
    if final_hook is not None:
        final = final_hook(final)
    return Replay(
        init_s=init_s,
        replay_s=replay_s,
        events=totals["events"],
        batches=eng.metrics()[n_warm:],
        reads=reads,
        mismatched_rows=check_final(final, fx),
        rows=len(final),
        table_root=table_root,
        t_start=t_start,
        t_end=t_end,
    )


# ----------------------------------------------------------------- metrics
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


END_TO_END_UNITS = {
    "setup_s": "s",
    "replay_s": "s",
    "events_per_s": "1/s",
    "batch_p50_s": "s",
}


def end_to_end(session_s: float, init_samples: list, replays: list) -> dict:
    replay_s = median([r.replay_s for r in replays])
    values = {
        "setup_s": session_s + median(init_samples),
        "replay_s": replay_s,
        "events_per_s": median([r.events for r in replays]) / replay_s,
        "batch_p50_s": median([b["wall_s"] for r in replays for b in r.batches]),
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat. Steal is
    time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def provenance(w: Workload, seed: int, cpus: int, manifest: dict, spark,
               steal_frac: float) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                                timeout=20, cwd=ROOT).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None  # a checkout without git metadata
    return {
        "workload": w.name,
        "loop": w.loop,
        "reader_rate_per_s": w.reader_rate,
        "seed": seed,
        "nproc": cpus,
        "ram_gb": round(mem_kb / 2**20, 1),
        "driver_heap": DRIVER_HEAP,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "commit": commit,
        "fixture": {k: manifest.get(k) for k in ("events", "keys", "mods", "final_rows",
                                                 "log_bytes")},
        "n_batches": w.n_batches,
        "wire": w.wire,
        "cpu_steal_frac": steal_frac,
    }


# -------------------------------------------------------------------- main
def bench(w: Workload, seed: int, seconds: float, trace: bool, spark=None,
          final_hook=None) -> dict:
    """Run one workload; returns the printed result object plus provenance
    and per-replay detail. ``final_hook`` (self-test only) sees, and may
    rewrite, each final table before the oracle check."""
    cpus = prepare_process()
    steal0, total0 = cpu_ticks()
    fx, manifest, cfg = prepare_fixture(w, seed)
    log(f"{w.name} seed {seed}: log ready, {manifest['events']} events")
    t = time.perf_counter()
    spark = spark or start_spark(cpus)
    session_s = time.perf_counter() - t
    log(f"session started in {session_s:.1f}s")
    n_buckets = BUCKETS_PER_WORKER * spark.sparkContext.defaultParallelism
    tracer = None
    if trace:
        from layers import Tracer  # perfbench/layers.py

        tracer = Tracer(spark)
        tracer.install()
    init_samples: list[float] = []

    def more_setup_samples():
        # engine construction on a cold table, after the JVM warmed up
        for i in range(2):
            eng, init_s = new_engine(spark, w, fx, cfg, fresh_dir(f"setup{i}"), n_buckets)
            eng.close()
            init_samples.append(init_s)

    replays: list[Replay] = []
    failed = attempted = 0
    t0 = time.perf_counter()
    try:
        # peak RSS is a per-layer figure: sample it only when tracing
        rss = RssSampler(spark.sparkContext._gateway.proc.pid if trace else None)
        with rss:
            while True:
                t = time.perf_counter()
                r = replay(spark, w, fx, cfg, n_buckets, f"replay{len(replays)}", final_hook,
                           after_warmup=None if replays else more_setup_samples)
                took = time.perf_counter() - t
                log(f"replay {len(replays)} took {took:.1f}s (timed run() {r.replay_s:.1f}s)")
                attempted += 1 + len(r.reads)
                failed += (r.mismatched_rows > 0) + sum(not x["ok"] for x in r.reads)
                replays.append(r)
                init_samples.append(r.init_s)
                if tracer is not None:
                    tracer.harvest(r, w, manifest)
                if time.perf_counter() - t0 + took > seconds:
                    break
    finally:
        if tracer is not None:
            tracer.uninstall()
        shutil.rmtree(RUNS, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": end_to_end(session_s, init_samples, replays),
        "provenance": provenance(w, seed, cpus, manifest, spark,
                                 (steal1 - steal0) / max(1, total1 - total0)),
        "replays": [
            {"replay_s": r.replay_s, "init_s": r.init_s, "events": r.events,
             "batches": len(r.batches), "reads": len(r.reads),
             "mismatched_rows": r.mismatched_rows,
             "batch_walls_s": [b["wall_s"] for b in r.batches],
             "batch_timings": [b["timings"] for b in r.batches],
             "read_latencies_s": [x.get("latency_s") for x in r.reads],
             "read_errors": [x["error"] for x in r.reads if not x["ok"]]}
            for r in replays
        ],
        "session_s": session_s,
        "measure_s": time.perf_counter() - t0,
    }
    if tracer is not None:
        result["metrics"] = tracer.layer_metrics(session_s, init_samples, replays,
                                                 rss.peak_kb / 1024)
        result["trace_file"] = tracer.write(os.path.join(WORK, f"trace-{w.name}-{seed}.jsonl"))
    return result


def printed(result: dict) -> dict:
    """The object the last line of standard output carries."""
    return {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's few-hundred-event logs")
    args = ap.parse_args(argv)

    prepare_process()
    try:
        import pyspark  # noqa: F401

        from debezium_connector_spanner_spark.streaming import engine  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2
    import signal

    def interrupted(signum, frame):
        raise SystemExit(128 + signum)  # unwinds through the finally below

    signal.signal(signal.SIGTERM, interrupted)
    become_subreaper()
    try:
        w = WORKLOADS[args.workload]
        result = bench(tiny(w) if args.size == "tiny" else w, args.seed, args.seconds,
                       bool(args.trace))
    finally:
        stop_processes()
        log("session stopped, JVM and workers ended")
    size = "" if args.size == "full" else f"-{args.size}"
    with open(os.path.join(WORK, f"result-{args.workload}-{args.seed}-{args.trace}{size}.json"),
              "w") as f:
        json.dump(result, f, indent=1, default=str)
    sys.stdout.flush()
    print(json.dumps(printed(result)))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
