"""Per-layer attribution for the traced run (``--trace 1``).

Two sources, joined by one tag:

* **Spans.**  The public layer calls are wrapped from here (the
  program is not edited): each wrapper records a span (name, parent,
  start, end) and sets the Spark local property ``perfbench.layer`` to
  the span path (``tail/sink.apply``) while the call runs.  Every Spark
  job inherits the property of the thread that submits it — inside
  ``foreachBatch`` that is the stream's own thread — so the event log
  shows which layer submitted each job.  Spark's own job group and
  description are left alone: the stream uses them for cancellation.
* **Spark's event log** (``session.py`` enables it through
  ``SPARK_GRAFT_EVENTLOG_DIR``): jobs, stages, tasks, SQL plans and
  their metric accumulators.

Lazy layers (``compact_oplog_docs``, ``dispatch_ir_frame``, merge-mode
``read_state``) only build plans; their work runs inside the probe's
``localCheckpoint`` or the sink's write.  They are attributed by plan
node instead of by call wall time: ``MapInPandas`` is the compaction
fold, a parquet scan of the collection is the J3 source join, a scan of
the sink's ``log/`` is the state read.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time

import host

PROP = "perfbench.layer"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count()
        self._undo: list = []
        self.progress: list[dict] = []
        self.files = 0
        self.sizes: dict[str, float] = {}
        self.since = 0.0

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                stack = tracer._stack()
                parent = stack[-1] if stack else None
                path = f"{parent['path']}/{name}" if parent else name
                self.rec = {"id": next(tracer._ids), "name": name, "path": path,
                            "start": time.perf_counter(),
                            "parent": parent["id"] if parent else None}
                stack.append(self.rec)
                tracer.sc.setLocalProperty(PROP, path)
                return self.rec

            def __exit__(self, *exc):
                stack = tracer._stack()
                stack.pop()
                self.rec["end"] = time.perf_counter()
                tracer.spans.append(self.rec)
                tracer.sc.setLocalProperty(PROP, stack[-1]["path"] if stack else None)

        return _Span()

    def _wrap(self, owner, attr: str, name: str, kind: str = "function") -> None:
        orig = owner.__dict__[attr] if kind == "classmethod" else getattr(owner, attr)
        func = orig.__func__ if kind == "classmethod" else orig

        def wrapped(*a, **k):
            with self.span(name):
                return func(*a, **k)

        wrapped.__wrapped__ = func
        setattr(owner, attr, classmethod(wrapped) if kind == "classmethod" else wrapped)
        self._undo.append((owner, attr, orig))

    def install(self) -> "Tracer":
        """Wrap the layer calls.  Jobs submitted before this call (set-up,
        warm-up) are left out of the report."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from mongo_es_spark import runner
        from mongo_es_spark.config import Task
        from mongo_es_spark.operators import text
        from mongo_es_spark.streaming import sink, tail

        self._wrap(runner, "run_scan", "plans.scan")
        self._wrap(runner, "file_oplog_stream", "sources.cdc")
        self._wrap(tail, "compact_oplog_docs", "oplog_compaction")
        self._wrap(tail, "dispatch_ir_frame", "tail.dispatch")
        self._wrap(sink.ParquetIndexSink, "read_state", "sink.read_state")
        self._wrap(sink.ParquetIndexSink, "apply", "sink.apply")
        self._wrap(sink.SearchIndexedSink, "apply", "sink.search")
        self._wrap(text, "apply_cdc_to_bm25_index", "text.bm25_fold")
        self._wrap(Task, "save_checkpoint", "tail.save_checkpoint", kind="classmethod")

        tracer = self
        orig = DataStreamWriter.foreachBatch

        def foreach_batch(writer, func):
            def traced(df, batch_id):
                with tracer.span("tail"):
                    return func(df, batch_id)

            return orig(writer, traced)

        DataStreamWriter.foreachBatch = foreach_batch
        self._undo.append((DataStreamWriter, "foreachBatch", orig))
        self.since = time.time()
        return self

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- per-run facts the event log does not hold -------------------------

    def cycle(self, progress: list[dict], files: dict[int, list[str]], work: str, task) -> None:
        self.progress.extend(progress)
        self.files += sum(len(v) for v in files.values())
        log = os.path.join(work, "index", task.name(), "log")
        parts = glob.glob(os.path.join(log, "*.parquet"))
        store = os.path.join(work, "search", task.name())
        self.sizes = {
            "log_rows": float(_parquet_rows(parts)),
            "log_files": float(len(parts)),
            "postings_rows": float(_parquet_rows(
                glob.glob(os.path.join(store, "**", "*.parquet"), recursive=True),
                lambda p: "postings" in p,
            )),
            "store_bytes": float(_du(store)),
        }

    # -- report ---------------------------------------------------------

    def report(self, eventlog_dir: str, app_id: str) -> dict[str, tuple[float, str]]:
        log = EventLog(eventlog_dir, app_id, self.since)
        m: dict[str, tuple[float, str]] = {}

        def spans(name):
            return [s for s in self.spans if s["name"] == name]

        def span_s(name):
            return sum(s["end"] - s["start"] for s in spans(name))

        busy = [p for p in self.progress if p["numInputRows"] > 0]
        triggers = max(1, len(busy))
        tail_spans = spans("tail")
        dur = lambda key: [p["durationMs"].get(key, 0) for p in busy]

        m["sources.cdc.input_rows"] = (sum(p["numInputRows"] for p in busy), "count")
        m["sources.cdc.files"] = (self.files, "count")
        m["sources.cdc.latest_offset_ms_p50"] = (host.median(dur("latestOffset")), "ms")
        m["sources.cdc.get_batch_ms_p50"] = (host.median(dur("getBatch")), "ms")
        m["sources.cdc.jobs_per_trigger"] = (len(log.listing_jobs()) / triggers, "count")

        scan_jobs = log.jobs_under("plans.scan")
        m["plans.scan.rows"] = (log.scan_rows(scan_jobs, "bench.items.parquet"), "count")
        m["plans.scan.s"] = (span_s("plans.scan"), "s")
        m["plans.scan.tasks"] = (log.tasks(scan_jobs), "count")

        tail_jobs = log.jobs_under("tail")
        comp = log.python_nodes(log.jobs_exact("tail"))
        m["oplog_compaction.rows_in"] = (comp["rows_in"], "count")
        m["oplog_compaction.rows_out"] = (comp["rows_out"], "count")
        m["oplog_compaction.s"] = (comp["s"], "s")
        m["oplog_compaction.shuffle_write_bytes"] = (comp["shuffle_write_bytes"], "B")
        m["oplog_compaction.python_bytes"] = (comp["python_bytes"], "B")

        stream_jobs = log.stream_jobs()
        m["tail.jobs_per_trigger"] = (len(tail_jobs) / triggers, "count")
        m["tail.tasks_per_trigger"] = (log.tasks(tail_jobs) / triggers, "count")
        listing = {j["id"] for j in log.listing_jobs()}
        m["tail.unattributed_jobs"] = (
            len([j for j in stream_jobs if not j["layer"] and j["id"] not in listing]), "count")
        m["tail.probe_s"] = (log.job_wall(log.jobs_exact("tail")), "s")
        looked = {s["parent"] for s in spans("sink.read_state")}
        m["tail.lookup_skipped"] = (
            sum(1 for s in tail_spans if s["id"] not in looked) / max(1, len(tail_spans)), "ratio")
        apply_jobs = [j for j in tail_jobs if j["layer"].endswith("sink.apply")]
        written = log.stage_sum(apply_jobs, "internal.metrics.output.recordsWritten")
        m["tail.dispatch.ir_rows"] = (written, "count")
        m["tail.dispatch.dropped_rows"] = (comp["rows_out"] - written, "count")
        m["tail.dispatch.source_rows_read"] = (log.scan_rows(tail_jobs, "bench.items.parquet"), "count")
        m["tail.save_checkpoint_ms"] = (
            1000 * host.median([s["end"] - s["start"] for s in spans("tail.save_checkpoint")]), "ms")

        m["sink.read_state.log_rows_read"] = (log.scan_rows(tail_jobs, "/log"), "count")
        tail_s = sum(s["end"] - s["start"] for s in tail_spans)
        # the outermost sink call of each trigger: SearchIndexedSink.apply
        # when a search index is declared, else ParquetIndexSink.apply
        outer = [s for s in self.spans
                 if s["name"] in ("sink.search", "sink.apply") and s["path"].count("/") == 1
                 and s["path"].startswith("tail/")]
        apply_s = sum(s["end"] - s["start"] for s in outer)
        m["sink.read_state.share"] = (log.scan_stage_s(tail_jobs, "/log") / max(tail_s, 1e-9), "ratio")
        m["sink.apply.s"] = (apply_s, "s")
        m["sink.apply.rows"] = (written, "count")
        m["sink.apply.bytes"] = (log.stage_sum(apply_jobs, "internal.metrics.output.bytesWritten"), "B")
        m["sink.apply.files"] = (self.sizes.get("log_files", 0.0), "count")
        m["sink.log_rows_end"] = (self.sizes.get("log_rows", 0.0), "count")

        fold_jobs = log.jobs_under("text.bm25_fold", anywhere=True)
        fold_s = sum(s["end"] - s["start"] for s in spans("text.bm25_fold")
                     if s["path"].startswith("tail/"))
        m["text.bm25_fold.share"] = (fold_s / max(apply_s, 1e-9), "ratio")
        m["text.bm25_fold.jobs"] = (len(fold_jobs), "count")
        m["text.bm25_fold.postings_rows"] = (self.sizes.get("postings_rows", 0.0), "count")
        m["text.bm25_fold.store_bytes"] = (self.sizes.get("store_bytes", 0.0), "B")

        m["stream.query_planning_ms_p50"] = (host.median(dur("queryPlanning")), "ms")
        m["stream.add_batch_ms_p50"] = (host.median(dur("addBatch")), "ms")
        m["stream.wal_commit_ms_p50"] = (host.median(dur("walCommit")), "ms")
        m["stream.commit_offsets_ms_p50"] = (host.median(dur("commitOffsets")), "ms")
        m["stream.first_trigger_s"] = (
            busy[0]["durationMs"]["triggerExecution"] / 1000.0 if busy else 0.0, "s")
        return m


def _parquet_rows(paths, keep=lambda p: True) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths if keep(p))


def _du(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                pass
    return total


class EventLog:
    """The parts of a Spark event log the report needs."""

    def __init__(self, eventlog_dir: str, app_id: str, since: float = 0.0):
        """Reads the jobs submitted at or after epoch second ``since``."""
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.nodes: dict[int, list[dict]] = {}  # execution id -> plan nodes
        self.driver_accums: dict[int, float] = {}
        paths = [p for p in glob.glob(os.path.join(eventlog_dir, "*" + app_id + "*"))
                 if os.path.isfile(p)]
        paths += glob.glob(os.path.join(eventlog_dir, "eventlog_v2_" + app_id, "events*"))
        if not paths:
            raise RuntimeError(f"no event log for {app_id} in {eventlog_dir}")
        ends = {}
        for path in sorted(paths):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._event(json.loads(line), ends)
        self.jobs = [j for j in self.jobs if j["start"] >= since]
        for job in self.jobs:
            job["end"] = ends.get(job["id"], job["start"])

    def _event(self, ev: dict, ends: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs.append({
                "id": ev["Job ID"],
                "start": ev["Submission Time"] / 1000.0,
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                "layer": props.get(PROP) or "",
                "query": props.get("sql.streaming.queryId"),
                "desc": props.get("spark.job.description") or "",
                "execution": int(props.get("spark.sql.execution.id", -1)),
            })
        elif kind == "SparkListenerJobEnd":
            ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sub, com = info.get("Submission Time"), info.get("Completion Time")
            self.stages[info["Stage ID"]] = {
                "tasks": info.get("Number of Tasks", 0),
                "s": (com - sub) / 1000.0 if sub and com else 0.0,
                "accums": {a["ID"]: (a.get("Name"), _num(a.get("Value")))
                           for a in info.get("Accumulables", [])},
            }
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            nodes = self.nodes.setdefault(ev["executionId"], [])
            _flatten(ev["sparkPlanInfo"], nodes)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                self.driver_accums[acc_id] = self.driver_accums.get(acc_id, 0) + _num(value)

    # -- job selection ---------------------------------------------------

    def jobs_under(self, layer: str, anywhere: bool = False) -> list[dict]:
        if anywhere:
            return [j for j in self.jobs if layer in j["layer"].split("/")]
        return [j for j in self.jobs
                if j["layer"] == layer or j["layer"].startswith(layer + "/")]

    def jobs_exact(self, layer: str) -> list[dict]:
        return [j for j in self.jobs if j["layer"] == layer]

    def stream_jobs(self) -> list[dict]:
        return [j for j in self.jobs if j["query"]]

    def listing_jobs(self) -> list[dict]:
        """Jobs the file source runs itself, outside ``foreachBatch``:
        parallel listing of a batch's files (more than
        ``parallelPartitionDiscovery.threshold`` paths)."""
        return [j for j in self.stream_jobs()
                if not j["layer"] and j["desc"].startswith("Listing leaf files")]

    # -- aggregates --------------------------------------------------------

    def _stages(self, jobs) -> list[dict]:
        ids = {s for j in jobs for s in j["stages"]}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def tasks(self, jobs) -> float:
        return float(sum(s["tasks"] for s in self._stages(jobs)))

    def job_wall(self, jobs) -> float:
        return sum(j["end"] - j["start"] for j in jobs)

    def stage_sum(self, jobs, accum_name: str) -> float:
        return sum(v for s in self._stages(jobs) for n, v in s["accums"].values()
                   if n == accum_name)

    def _accum_value(self, acc_id: int) -> float:
        """SQL metrics report the running total per stage: take the
        largest, plus any update the driver posted itself."""
        vals = [s["accums"][acc_id][1] for s in self.stages.values() if acc_id in s["accums"]]
        return max(vals, default=0.0) + self.driver_accums.get(acc_id, 0.0)

    def _nodes(self, jobs) -> list[dict]:
        """Plan nodes of the jobs' SQL executions, every plan version
        (adaptive re-planning re-issues nodes, sometimes with new metric
        ids; callers sum over distinct ids so nothing counts twice)."""
        execs = {j["execution"] for j in jobs if j["execution"] >= 0}
        return [n for e in sorted(execs) for n in self.nodes.get(e, [])]

    def _total(self, ids) -> float:
        return sum(self._accum_value(i) for i in set(ids))

    def _scan_nodes(self, jobs, location: str) -> list[dict]:
        return [n for n in self._nodes(jobs)
                if n["name"].startswith("Scan parquet") and location in n["location"]]

    def scan_rows(self, jobs, location: str) -> float:
        return self._total(n["metrics"]["number of output rows"]
                           for n in self._scan_nodes(jobs, location)
                           if "number of output rows" in n["metrics"])

    def scan_stage_s(self, jobs, location: str) -> float:
        ids = {a for n in self._scan_nodes(jobs, location) for a in n["metrics"].values()}
        return sum(s["s"] for s in self._stages(jobs) if ids & s["accums"].keys())

    def python_nodes(self, jobs) -> dict[str, float]:
        """The compaction fold: every ``MapInPandas`` node under the
        given jobs, with the shuffle that feeds it."""
        nodes = [n for n in self._nodes(jobs) if n["name"] == "MapInPandas"]
        exchanges = [n["exchange"] for n in nodes if n["exchange"] is not None]

        def ids(dicts, *names):
            return [d[k] for d in dicts for k in names if k in d]

        metrics = [n["metrics"] for n in nodes]
        every = {a for m in metrics for a in m.values()}
        return {
            "rows_in": self._total(ids(exchanges, "shuffle records written")),
            "rows_out": self._total(ids(metrics, "number of output rows")),
            "s": sum(s["s"] for s in self._stages(jobs) if every & s["accums"].keys()),
            "shuffle_write_bytes": self._total(ids(exchanges, "shuffle bytes written")),
            "python_bytes": self._total(ids(metrics, "data sent to Python workers",
                                            "data returned from Python workers")),
        }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _flatten(info: dict, out: list[dict], exchange=None) -> None:
    """Plan tree -> flat node list.  Each node remembers the nearest
    shuffle exchange below it (for the compaction's input side)."""
    metrics = {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])}
    node = {
        "name": info.get("nodeName", ""),
        "location": (info.get("metadata") or {}).get("Location", ""),
        "metrics": metrics,
        "exchange": None,
    }
    out.append(node)
    for child in info.get("children", []):
        _flatten(child, out)
    if node["name"] == "MapInPandas":
        node["exchange"] = _find_exchange(info)


def _find_exchange(info: dict):
    for child in info.get("children", []):
        if child.get("nodeName", "").startswith("Exchange"):
            return {m["name"]: m["accumulatorId"] for m in child.get("metrics", [])}
        found = _find_exchange(child)
        if found is not None:
            return found
    return None
