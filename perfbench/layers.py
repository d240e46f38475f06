"""Per-layer tracing for perfbench, from outside the package.

``Tracer.install()`` wraps the public functions of each layer (see
``TARGETS``) so that every call records a span in memory: name, start, end,
parent span, thread and batch id (taken from the ``summary`` argument that
``commit_delta``, ``compact_apply`` and ``merge_into`` already receive).
Wrappers around calls that launch Spark jobs set ``spark.job.description``
in the calling thread and restore it afterwards, so those jobs can be told
apart in Spark's status store; they never touch the scheduler pool.
``uninstall()`` puts every original back.

After each traced replay ``harvest()`` reads, from the same process:

- the engine's own ``metrics.jsonl`` lines (batch walls, control and merge
  timings, schema retries, salted folds, scaler grants);
- Spark's ``AppStatusStore`` (jobs, stages, tasks of the replay's batches);
- the SQL status store's per-operator metrics of the ``MapInArrow`` nodes
  (the proto decode's Python boundary).

``layer_metrics()`` turns those into the ``per_layer`` metrics of
BENCHMARK.json; ``write()`` dumps the spans and the harvested records as
JSON lines when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import sys
import threading
import time

PKG = "debezium_connector_spanner_spark"

# (module, class or None, attribute, span name, tags Spark jobs: True, or
# "unset" to tag only jobs no enclosing layer tagged). The two pyspark
# entries cover driver-side query building and the control job's collect,
# which run outside any package function.
TARGETS = [
    (f"{PKG}.streaming.engine", "CdcReplayEngine", "__init__", "engine.init", True),
    (f"{PKG}.streaming.engine", "CdcReplayEngine", "run", "engine.run", True),
    (f"{PKG}.streaming.meter", "EngineMeter", "snapshot", "engine.batch_end", False),
    (f"{PKG}.streaming.task_scaler", "TaskScaler", "step", "engine.scaler_step", False),
    ("pyspark.sql.session", "SparkSession", "createDataFrame", "spark.create_dataframe", False),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "spark.collect", "unset"),
    (f"{PKG}.operators.decode", None, "decode_mods", "decode.decode_mods", False),
    (f"{PKG}.sources.proto_wire", None, "decode_proto_wire", "proto_wire.decode", False),
    (f"{PKG}.operators.merge", None, "fold_changes", "merge.fold_changes", False),
    (f"{PKG}.operators.merge", None, "fold_changes_salted", "merge.fold_changes_salted",
     False),
    (f"{PKG}.operators.merge", None, "merge_into", "merge.merge_into", True),
    (f"{PKG}.sources.lake", "LakeTable", "commit_delta", "lake.commit_delta", True),
    (f"{PKG}.sources.lake", "LakeTable", "compact_prepare", "lake.compact_prepare", True),
    (f"{PKG}.sources.lake", "LakeTable", "compact_apply", "lake.compact_apply", False),
    (f"{PKG}.sources.lake", "LakeTable", "expire_snapshots", "lake.expire_snapshots", False),
    (f"{PKG}.sources.lake", "LakeTable", "rollback", "lake.rollback", False),
    (f"{PKG}.sources.lake", "LakeTable", "read", "lake.read", False),
]

# every per-layer metric, in BENCHMARK.json order, with its unit
LAYER_UNITS = {
    "session.start_s": "s",
    "engine.init_s": "s",
    "engine.batches": "count",
    "engine.batch_busy_s": "s",
    "engine.outside_batch_s": "s",
    "engine.ctrl_s": "s",
    "engine.ctrl_queries_per_batch": "count/batch",
    "engine.merge_s": "s",
    "engine.schema_retries": "count",
    "engine.schema_retry_s": "s",
    "engine.salted_batches": "count",
    "engine.scaler_tasks_p50": "count",
    "lake.commit_delta_s": "s",
    "lake.commit_delta_calls": "count",
    "lake.compact_prepare_s": "s",
    "lake.compact_apply_s": "s",
    "lake.compactions": "count",
    "lake.expire_snapshots_s": "s",
    "lake.delta_depth_max": "count",
    "lake.read_plan_s": "s",
    "lake.read_p50_s": "s",
    "lake.files_written": "count",
    "lake.bytes_written": "B",
    "lake.bytes_per_row": "B/row",
    "proto_wire.rows_decoded": "count",
    "proto_wire.bytes_to_python": "B",
    "proto_wire.bytes_from_python": "B",
    "proto_wire.python_s": "s",
    "proto_wire.python_start_s": "s",
    "proto_wire.decodes_per_batch": "count/batch",
    "spark.scan_decode_s": "s",
    "spark.fold_write_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.fold_task_skew": "ratio",
    "spark.jobs_per_batch": "count/batch",
    "spark.tasks_per_batch": "count/batch",
    "spark.no_task_s": "s",
    "process.peak_rss_mb": "MB",
    "bench.reader_late_p90_s": "s",
    "bench.span_coverage_frac": "frac",
    "bench.unattributed_s": "s",
    "bench.traced_replay_s": "s",
}

_TAG = re.compile(r"perfbench layer=(\S+)")
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def sql_metric_value(text: str | None) -> float:
    """Total of a formatted SQL metric: '1,234', '2.5 s', '47.4 KiB', or
    'total (min, med, max ...)\\n933 ms (369 ms, ...)'."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.reports: list[dict] = []
        self.records: list[dict] = []  # harvested jobs/stages/operators
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = 0
        self._seen_exec = -1
        self._job_exec: dict[int, int] = {}

    # ------------------------------------------------------------ wrappers
    def _wrap(self, fn, name: str, tags_jobs: bool | str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            summary = kwargs.get("summary")
            if summary is None:
                summary = next((a for a in args if isinstance(a, dict) and "batch_id" in a),
                               None)
            batch = summary.get("batch_id") if isinstance(summary, dict) else None
            stack = tracer._local.__dict__.setdefault("stack", [])
            with tracer._lock:
                span_id = tracer._next_id
                tracer._next_id += 1
            span = {"id": span_id, "name": name, "parent": stack[-1] if stack else None,
                    "thread": threading.current_thread().name, "batch": batch}
            prev_desc = None
            tag = bool(tags_jobs)
            if tag:
                prev_desc = tracer.sc.getLocalProperty("spark.job.description")
                tag = tags_jobs is True or not prev_desc
            if tag:
                tracer.sc.setLocalProperty(
                    "spark.job.description",
                    f"perfbench layer={name}" + ("" if batch is None else f" batch={batch}"),
                )
            stack.append(span_id)
            span["start"] = time.time()
            try:
                out = fn(*args, **kwargs)
            finally:
                span["end"] = time.time()
                stack.pop()
                if tag:
                    tracer.sc.setLocalProperty("spark.job.description", prev_desc)
                with tracer._lock:
                    tracer.spans.append(span)
            tracer._after(name, args, out, span)
            return out

        wrapper.__perfbench_original__ = fn
        return wrapper

    def _after(self, name: str, args, out, span: dict) -> None:
        """Counts taken at the layer boundary, outside the span's time."""
        if name == "lake.commit_delta":
            table, sid = args[0], out
            root = table.root
            snap = table.snapshot(sid)
            paths = {e[0] for fs in snap["buckets"].values() for e in fs
                     if len(e) > 4 and e[4] == sid}
            span["files"] = len(paths)
            span["bytes"] = sum(os.path.getsize(os.path.join(root, p)) for p in paths)
            span["delta_depth"] = table.delta_depth()
        elif name == "lake.compact_prepare" and out:
            root = args[0].root
            paths = {p for ps in out["files"].values() for p in ps}
            span["files"] = len(paths)
            span["bytes"] = sum(os.path.getsize(os.path.join(root, p)) for p in paths)

    def install(self) -> None:
        import importlib

        for mod_name, cls_name, attr, name, tags_jobs in TARGETS:
            mod = importlib.import_module(mod_name)
            if cls_name is not None:
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[attr]
                self._patch(owner, attr, orig, self._wrap(orig, name, tags_jobs))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name, tags_jobs)
            # the function and every module of the package that imported it
            # by name
            for m_name, m in list(sys.modules.items()):
                if m_name.startswith(PKG) and getattr(m, attr, None) is orig:
                    self._patch(m, attr, orig, wrapped)

    def _patch(self, owner, attr: str, orig, wrapped) -> None:
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    @staticmethod
    def installed_wrappers() -> list[str]:
        """Names of every traced target that is currently wrapped."""
        import importlib

        out = []
        for mod_name, cls_name, attr, name, _ in TARGETS:
            mod = importlib.import_module(mod_name)
            obj = getattr(getattr(mod, cls_name), attr) if cls_name else getattr(mod, attr)
            if hasattr(obj, "__perfbench_original__"):
                out.append(name)
        return out

    # -------------------------------------------------------------- harvest
    def _jobs(self, lo_ms: float, hi_ms: float) -> list[dict]:
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.sc._jsc.sc().statusStore()
        jobs = []
        for j in conv.asJava(store.jobsList(None)):
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            start = sub.get().getTime()
            if not lo_ms <= start <= hi_ms:
                continue
            comp = j.completionTime()
            desc = j.description()
            stages = []
            for sid in conv.asJava(j.stageIds()):
                st = store.lastStageAttempt(sid)
                if str(st.status()) != "COMPLETE":
                    continue
                tasks = [
                    (t.launchTime().getTime() / 1e3,
                     t.launchTime().getTime() / 1e3 + t.duration().get() / 1e3)
                    for t in conv.asJava(store.taskList(sid, st.attemptId(), 1 << 20))
                    if t.duration().isDefined()
                ]
                stages.append({
                    "stage": sid,
                    "name": st.name(),
                    "tasks": tasks,
                    "run_s": st.executorRunTime() / 1e3,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "shuffle_read": st.shuffleReadBytes(),
                    "shuffle_write": st.shuffleWriteBytes(),
                    "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                })
            d = desc.get() if desc.isDefined() else ""
            tag = _TAG.search(d or "")
            jobs.append({
                "job": j.jobId(),
                "name": j.name(),
                # a collect no layer tagged is the engine's control job
                "layer": {"spark.collect": "engine.ctrl"}.get(tag.group(1), tag.group(1))
                if tag else "spark.untagged",
                "start": start / 1e3,
                "end": (comp.get().getTime() if comp.isDefined() else hi_ms) / 1e3,
                "stages": stages,
            })
        return jobs

    def _arrow_ops(self, job_ids: set) -> list[dict]:
        """MapInArrow operator metrics of every SQL execution that ran one
        of ``job_ids``."""
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for ex in conv.asJava(sql.executionsList()):
            eid = ex.executionId()
            if eid <= self._seen_exec:
                continue
            jobs = set(conv.asJava(ex.jobs()).keySet())
            if not jobs & job_ids:
                continue
            values = conv.asJava(sql.executionMetrics(eid))
            for node in conv.asJava(sql.planGraph(eid).allNodes()):
                if "InArrow" not in node.name():
                    continue
                op = {"execution": eid, "jobs": sorted(jobs), "node": node.name()}
                for m in conv.asJava(node.metrics()):
                    op[m.name()] = sql_metric_value(values.get(m.accumulatorId()))
                out.append(op)
        return out

    def harvest(self, replay, workload, manifest) -> None:
        """Per-layer figures of one traced replay (``run.Replay``)."""
        lo, hi = replay.t_start, replay.t_end
        batches = replay.batches
        ends = sorted(s["end"] for s in self.spans
                      if s["name"] == "engine.batch_end" and lo <= s["end"] <= hi)
        if len(ends) != len(batches):
            raise RuntimeError(f"trace saw {len(ends)} batch ends for {len(batches)} batches")
        windows = [(e - b["wall_s"], e) for e, b in zip(ends, batches)]
        jobs = self._jobs(lo * 1e3 - 1, hi * 1e3 + 1)
        ops = self._arrow_ops({j["job"] for j in jobs})
        self._seen_exec = max([self._seen_exec] + [o["execution"] for o in ops])

        def in_batches(t: float) -> bool:
            return any(a <= t <= b for a, b in windows)

        batch_jobs = [j for j in jobs if in_batches(j["start"]) and j["layer"] != "bench.reader"]
        batch_job_ids = {j["job"] for j in batch_jobs}
        # this replay's spans, the timed reads after its run() included
        spans = [s for s in self.spans if s["start"] >= lo]
        engine_spans = [s for s in spans if not s["thread"].startswith("reader")]

        def span_sum(name):
            return sum(s["end"] - s["start"] for s in engine_spans if s["name"] == name
                       and lo <= s["start"] <= hi)

        def span_count(name):
            return sum(1 for s in engine_spans if s["name"] == name and lo <= s["start"] <= hi)

        # stage roles inside the merge (fold) jobs: the map side writes the
        # fold shuffle, the reduce side reads it and writes the delta files
        merge_stages = [st for j in batch_jobs if j["layer"] in ("merge.merge_into",
                                                                 "lake.commit_delta")
                        for st in j["stages"]]
        map_side = [st for st in merge_stages if st["shuffle_write"] and not st["shuffle_read"]]
        reduce_side = [st for st in merge_stages if st["shuffle_read"]]
        skews = []
        for st in reduce_side:
            durs = sorted(b - a for a, b in st["tasks"])
            if len(durs) > 1 and statistics.median(durs) > 0:
                skews.append(durs[-1] / statistics.median(durs))
        all_stages = [st for j in batch_jobs for st in j["stages"]]
        tasks = [t for st in all_stages for t in st["tasks"]]
        busy = sum(b["wall_s"] for b in batches)
        no_task = sum((b - a) - union_s(tasks, a, b) for a, b in windows)
        covering = [(s["start"], s["end"]) for s in engine_spans
                    if s["name"] not in ("engine.run", "engine.batch_end")]
        covering += [(j["start"], j["end"]) for j in batch_jobs]
        covered = sum(union_s(covering, a, b) for a, b in windows)
        batch_ops = [o for o in ops if set(o["jobs"]) & batch_job_ids]
        ctrl_jobs = [j for j in batch_jobs if j["layer"] == "engine.ctrl"]
        n = max(1, len(batches))
        written = [s for s in engine_spans if s["name"] in ("lake.commit_delta",
                                                            "lake.compact_prepare")]
        live_bytes = self._live_bytes(replay.table_root)
        report = {
            "replay_s": replay.replay_s,
            "engine.batches": len(batches),
            "engine.batch_busy_s": busy,
            "engine.outside_batch_s": replay.replay_s - busy,
            "engine.ctrl_s": sum(b["timings"].get("ctrl_s", 0.0) for b in batches),
            "engine.ctrl_queries_per_batch": len(
                {self._execution_of(j["job"]) for j in ctrl_jobs}) / n,
            "engine.merge_s": sum(v for b in batches for k, v in b["timings"].items()
                                  if k.startswith("merge_")),
            "engine.schema_retries": sum(1 for b in batches if "schema_retry_s" in b["timings"]),
            "engine.schema_retry_s": sum(b["timings"].get("schema_retry_s", 0.0)
                                         for b in batches),
            "engine.salted_batches": sum(1 for b in batches if b["salted_tables"]),
            "engine.scaler_tasks_p50": _median([b["tasks"] for b in batches]),
            "lake.commit_delta_s": span_sum("lake.commit_delta"),
            "lake.commit_delta_calls": span_count("lake.commit_delta"),
            "lake.compact_prepare_s": span_sum("lake.compact_prepare"),
            "lake.compact_apply_s": span_sum("lake.compact_apply"),
            "lake.compactions": span_count("lake.compact_apply"),
            "lake.expire_snapshots_s": span_sum("lake.expire_snapshots"),
            "lake.delta_depth_max": max([s.get("delta_depth", 0) for s in engine_spans] or [0]),
            "lake.read_plan_s": _median([s["end"] - s["start"] for s in spans
                                         if s["name"] == "lake.read"]),
            "lake.files_written": sum(s.get("files", 0) for s in written),
            "lake.bytes_written": sum(s.get("bytes", 0) for s in written),
            "lake.bytes_per_row": live_bytes / max(1, replay.rows),
            "proto_wire.rows_decoded": sum(o.get("number of output rows", 0) for o in batch_ops),
            "proto_wire.bytes_to_python": sum(o.get("data sent to Python workers", 0)
                                              for o in batch_ops),
            "proto_wire.bytes_from_python": sum(o.get("data returned from Python workers", 0)
                                                for o in batch_ops),
            "proto_wire.python_s": sum(o.get("time to run Python workers", 0)
                                       for o in batch_ops),
            "proto_wire.python_start_s": sum(
                o.get("time to start Python workers", 0)
                + o.get("time to initialize Python workers", 0) for o in batch_ops),
            "proto_wire.decodes_per_batch": len(batch_ops) / n,
            "spark.scan_decode_s": sum(st["run_s"] for st in map_side),
            "spark.fold_write_s": sum(st["run_s"] for st in reduce_side),
            "spark.shuffle_write_bytes": sum(st["shuffle_write"] for st in all_stages),
            "spark.shuffle_read_bytes": sum(st["shuffle_read"] for st in all_stages),
            "spark.spill_bytes": sum(st["spill"] for st in all_stages),
            "spark.gc_s": sum(st["gc_s"] for st in all_stages),
            "spark.fold_task_skew": max(skews or [0.0]),
            "spark.jobs_per_batch": len(batch_jobs) / n,
            "spark.tasks_per_batch": len(tasks) / n,
            "spark.no_task_s": no_task,
            "bench.reader_late_p90_s": _quantile([x["late_s"] for x in replay.reads
                                                  if x["ok"] and x["kind"] != "full"], 0.9),
            "bench.span_coverage_frac": covered / busy if busy else 0.0,
            "bench.unattributed_s": busy - covered,
        }
        self.reports.append(report)
        self.records.append({"workload": workload.name, "windows": windows, "jobs": jobs,
                             "arrow_ops": ops, "fixture": manifest})

    def _execution_of(self, job_id: int):
        """The SQL execution a job belongs to (AQE splits one query into
        several jobs)."""
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        sql = self.spark._jsparkSession.sharedState().statusStore()
        if job_id not in self._job_exec:
            for ex in conv.asJava(sql.executionsList()):
                for j in conv.asJava(ex.jobs()).keySet():
                    self._job_exec[j] = ex.executionId()
        return self._job_exec.get(job_id, -job_id - 1)

    @staticmethod
    def _live_bytes(table_root: str) -> int:
        """Bytes of the files the table's current snapshot references."""
        meta = os.path.join(table_root, "_meta")
        with open(os.path.join(meta, "CURRENT")) as f:
            sid = int(f.read().strip())
        with open(os.path.join(meta, f"snap-{sid:08d}.json")) as f:
            snap = json.load(f)
        paths = {e[0] for fs in snap["buckets"].values() for e in fs}
        return sum(os.path.getsize(os.path.join(table_root, p)) for p in paths)

    # --------------------------------------------------------------- report
    def layer_metrics(self, session_s: float, init_samples: list, replays: list,
                      peak_rss_mb: float) -> dict:
        values = {k: _median([r[k] for r in self.reports]) for k in self.reports[0]}
        values["session.start_s"] = session_s
        values["engine.init_s"] = _median(init_samples)
        values["bench.traced_replay_s"] = _median([r.replay_s for r in replays])
        values["lake.read_p50_s"] = _median([x["latency_s"] for r in replays
                                             for x in r.reads if x["ok"]])
        values["process.peak_rss_mb"] = peak_rss_mb
        return {k: {"value": float(values[k]), "unit": u} for k, u in LAYER_UNITS.items()}

    def write(self, path: str) -> str:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({"type": "span", **s}) + "\n")
            for rec in self.records:
                f.write(json.dumps({"type": "harvest", **rec}, default=str) + "\n")
            for rep in self.reports:
                f.write(json.dumps({"type": "report", **rep}) + "\n")
        return path


def _quantile(xs, q: float) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, int(q * len(s) + 0.999999) - 1))])
