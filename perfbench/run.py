"""Product-path pipeline benchmark for mongo_es_spark.

Drives the unmodified orchestrator ``mongo_es_spark.runner.run``
in-process over seeded ``file://`` inputs (a parquet collection plus a
JSON oplog feed) into ``ParquetIndexSink`` in ``merge`` mode, checks the
final sink state against the pure functions in ``core.py``, and prints
one JSON line.  See ``perfbench/NOTES.md`` for the workloads, metrics
and design decisions.

Run from the repository root::

    python3 perfbench/run.py --workload hot_patch --seed 1 --seconds 10 --trace 0
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import sys
import time

import gen
import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# set-ups per run: the JVM launch plus this many session restarts
RESTARTS = 2
# nominal length of one warm catch-up cycle (scan + drain) on a 4-core host
CYCLE_S = 10
# size of the untimed warm-up cycle's inputs, as a share of the timed ones
WARM_SCALE = 0.1
# extra scan samples per run: cycles over the collection with an empty feed
# (the scan speeds up over its first full-size runs, so one more runs untimed)
SCAN_ONLY = 2

WORKLOADS = {
    "search_sync": dict(n_docs=2_000, n_files=5, per_file=600),
    "hot_patch": dict(n_docs=200_000, n_files=5, per_file=5_000, hot_keys=1_000),
}


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark writes inside ``work`` and size the JVM
    so one run fits the host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host.nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = ev
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)


def task_spec(search: bool) -> dict:
    """The replication task: scan first, then tail."""
    load = {"index": "items", "type": "doc"}
    if search:
        load["searchIndex"] = {"textField": "title"}
    return {
        "from": {"phase": "scan"},
        "extract": {"db": gen.DB, "collection": gen.COLLECTION},
        "transform": {"mapping": dict(gen.MAPPING)},
        "load": load,
        "hints": dict(gen.HINTS),
    }


def make_config(root: str, spec: dict, controls: dict):
    from mongo_es_spark.config import Config

    return Config(json.dumps({
        "mongodb": {"url": f"file://{root}"},
        "elasticsearch": {"options": {}},
        "controls": {"parquetSinkMode": "merge", **controls},
        "tasks": [spec],
    }))


class Phases:
    """Timing-only wrappers around the runner's scan and tail entry
    points, so the scan and tail walls are separable without tracing."""

    def __init__(self):
        self.scan_end = None
        self.tail_start = None

    def __enter__(self):
        from mongo_es_spark import runner

        self._orig = (runner.run_scan, runner.run_tail)
        scan, tail = self._orig

        def run_scan(*a, **k):
            try:
                return scan(*a, **k)
            finally:
                self.scan_end = time.perf_counter()

        def run_tail(*a, **k):
            self.tail_start = time.perf_counter()
            return tail(*a, **k)

        runner.run_scan, runner.run_tail = run_scan, run_tail
        return self

    def __exit__(self, *exc):
        from mongo_es_spark import runner

        runner.run_scan, runner.run_tail = self._orig


def reset_task_hooks() -> None:
    """No run may resume from another run's checkpoint hooks."""
    from mongo_es_spark.config import Task

    Task.on_save_callback = None
    Task.on_load_callback = None


def check(spark, inp, task, files: dict[int, list[str]], work: str, res,
          cache: dict) -> dict[str, dict]:
    """Correctness, outside the timed region: the final sink state
    against the oracle replay of the same batches.  Returns the
    expected state.  ``cache`` keeps replays by batch boundaries, which
    repeat from cycle to cycle."""
    import oracle

    bounds = tuple(tuple(names) for names in files.values())
    if bounds not in cache:
        lines = dict(inp.files)
        cache[bounds] = oracle.replay(
            task, inp.docs, True,
            [list(itertools.chain.from_iterable(lines[n] for n in names)) for names in bounds],
        )
    expected = cache[bounds]
    fields = task.sink_fields()
    res.attempted += len(expected)
    res.failed += oracle.count_mismatches(expected, read_state(spark, work, task, fields), fields)
    return expected


def read_state(spark, work: str, task, fields: list[str]) -> dict[str, tuple]:
    """The sink's final state as ``{_id: (value per target path)}``."""
    from pyspark.sql import functions as F

    from mongo_es_spark.streaming.sink import ParquetIndexSink

    sink = ParquetIndexSink(os.path.join(work, "index", task.name()), mode="merge")
    state = sink.read_state(spark)
    if state is None:
        return {}
    cols = [F.col(".".join(["data", *(f"`{p}`" for p in f.split("."))])).alias(f) for f in fields]
    table = state.select("_id", *cols).toArrow()
    values = [table.column(f).to_pylist() for f in fields]
    return dict(zip(table.column("_id").to_pylist(), zip(*values)))


def bm25_mismatches(spark, store: str, expected: dict[str, dict], queries):
    """Wrong top-k hits: the store's BM25 top 10 against ``bm25_search``
    over the oracle's final documents, per query.  A hit is wrong when
    its (doc, score) pair is not in the other list."""
    import pandas as pd

    from mongo_es_spark.operators.text import bm25_over_store, bm25_search

    titled = [(k, v["title"]) for k, v in expected.items() if v.get("title")]
    docs = spark.createDataFrame(pd.DataFrame(titled, columns=["id", "title"]))
    wrong = attempted = 0
    for terms in queries:
        want = [(r[0], r[1]) for r in bm25_search(docs, "id", "title", terms, top_k=10).collect()]
        got = [(r[0], r[1]) for r in bm25_over_store(spark, store, terms, top_k=10).collect()]
        attempted += len(want)
        wrong += max(len(set(want) - set(got)), len(set(got) - set(want)))
    return wrong, attempted


class Result:
    def __init__(self):
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def cycle(spark, inp, work: str, search: bool) -> dict:
    """One scan + drain of the whole feed with ``availableNow``, in a
    fresh work directory.  Returns its timings and what the check and
    the tracer need."""
    import oracle
    from mongo_es_spark.runner import run

    reset_task_hooks()
    config = make_config(inp.root, task_spec(search), {"maxFilesPerTrigger": 1})
    task = config.tasks[0]
    with Phases() as ph, host.RssSampler() as rss:
        t0 = time.perf_counter()
        queries = run(config, spark=spark, work_dir=work, available_now=True)
        t1 = time.perf_counter()
    progress = [dict(p) for p in queries[0].recentProgress]
    files = oracle.batch_files(os.path.join(work, "ckpt", task.name()))
    return {
        "task": task,
        "progress": progress,
        "files": files,
        "scan_rate": len(inp.docs) / (ph.scan_end - t0),
        "tail_rate": inp.events / (t1 - ph.tail_start) if inp.events else None,
        "triggers": [p["durationMs"]["triggerExecution"] / 1000.0
                     for p in progress if p["numInputRows"] > 0],
        "peak": rss.peak,
    }


def catchup(spark, args, inp, scan_inp, work: str, search: bool, res: Result,
            tracer) -> None:
    """``SCAN_ONLY`` cycles over the collection with an empty feed
    (``scan_inp``), for more scan samples, then the timed full cycles:
    ``--seconds`` sets how many (one per nominal ``CYCLE_S``, at least
    one), never measured speed.  Every full cycle is checked against
    the oracle; its final state includes the scan.  Metrics are medians
    over cycles; triggers are pooled.  The tracer sees the full cycles
    only."""
    scans, expected = [], {}
    for i in range(SCAN_ONLY):
        cwork = os.path.join(work, f"scan{i}")
        c = cycle(spark, scan_inp, cwork, search)
        scans.append(c["scan_rate"])
    if tracer is not None:
        tracer.install()
    cycles = max(1, round(args.seconds / CYCLE_S))
    runs = []
    for i in range(cycles):
        cwork = os.path.join(work, f"cycle{i}")
        c = cycle(spark, inp, cwork, search)
        runs.append(c)
        if tracer is not None:
            tracer.cycle(c["progress"], c["files"], cwork, c["task"])
        final = check(spark, inp, c["task"], c["files"], cwork, res, expected)
        if search:
            wrong, n = bm25_mismatches(
                spark, os.path.join(cwork, "search", c["task"].name()), final,
                search_queries(args.seed),
            )
            res.attempted += n
            res.failed += wrong
    scans += [c["scan_rate"] for c in runs]
    res.notes["cycles"] = cycles
    res.notes["scan_docs_per_s"] = [round(r) for r in scans]
    res.put("scan_docs_per_s", host.median(scans), "1/s")
    res.put("tail_events_per_s", host.median([c["tail_rate"] for c in runs]), "1/s")
    res.put("trigger_s_p50", host.median([t for c in runs for t in c["triggers"]]), "s")
    res.put("peak_rss_mb", host.median([c["peak"] for c in runs]), "MB")


def search_queries(seed: int) -> list[list[str]]:
    """One two-term query over mid-frequency words of the documents'
    vocabulary (two terms, so the per-term score sum is checked too)."""
    mid = gen.Words(seed).vocab[20:400]
    return [random.Random(seed).sample(mid, 2)]


def make_inputs(args, root: str, scale: float = 1.0):
    """Generate the workload's inputs, every size multiplied by
    ``scale``, and write them."""
    p = {k: max(2, round(v * scale)) for k, v in WORKLOADS[args.workload].items()}
    make = gen.search_sync if args.workload == "search_sync" else gen.hot_patch
    inp = make(root, args.seed, **p)
    gen.write_inputs(inp, 2 * int(os.environ["SPARK_GRAFT_CPUS"]))
    return inp


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mongo_es_spark", "runner.py")):
        _die(f"no mongo_es_spark package under {ROOT}; run from a full checkout")
    if args.seconds <= 0:
        _die("--seconds must be positive")
    sys.path.insert(0, ROOT)
    guard = {
        "nproc": host.nproc(),
        "mem_available_mb": round(host.mem_available_mb()),
        "other_spark_jvms": host.spark_jvm_count(),
    }
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res, layers, setups = measure(args, work, guard)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    guard["setups_s"] = [round(s, 3) for s in setups]
    guard.update(res.notes, mismatch_ratio=res.failed / max(1, res.attempted))
    contended = (guard["other_spark_jvms"] > 0 or guard["mem_available_mb"] < 4096
                 or guard["steal"] > 0.05 or guard["foreign_cpu"] > 0.1)
    late = guard["gen_late_s_max"] > 0.1
    guard["flag"] = "contended" if contended else "late" if late else "ok"
    if args.trace:
        # the traced run's end-to-end figures, for the tracing overhead
        guard["traced"] = {k: v for k, (v, _) in res.metrics.items()}
    print("perfbench host: " + json.dumps(guard), file=sys.stderr)
    metrics = layers if args.trace else res.metrics
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    print(json.dumps(out))
    return 0


def measure(args, work: str, guard: dict):
    """Generate inputs, set Spark up, run the workload and (traced)
    attribute it to layers.  Returns ``(result, layers, setups)``."""
    prepare_env(work, bool(args.trace))
    t_gen = time.perf_counter()
    inp = make_inputs(args, os.path.join(work, "input"))
    warm = make_inputs(args, os.path.join(work, "warm-input"), WARM_SCALE)
    scan_inp = gen.scan_only(inp, os.path.join(work, "scan-input"))
    guard["gen_s"] = round(time.perf_counter() - t_gen, 3)
    res = Result()
    res.notes["gen_late_s_max"] = inp.write_s
    res.notes["gen_events"] = inp.events
    search = args.workload == "search_sync"
    spark = tracer = None
    try:
        spark, setups, cold_get = host.start_session(RESTARTS)
        app_id = spark.sparkContext.applicationId
        # untimed: a small full cycle and one full-size scan, so the JVM
        # has compiled the pipeline's code paths and the Python workers
        # have loaded their modules before anything is timed
        t_warm = time.perf_counter()
        cycle(spark, warm, os.path.join(work, "warm"), search)
        cycle(spark, scan_inp, os.path.join(work, "warm-scan"), search)
        res.notes["warm_s"] = round(time.perf_counter() - t_warm, 3)
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
        t_run, cpu0 = time.perf_counter(), host.cpu_times()
        own0 = host.tree_cpu(os.getpid())
        catchup(spark, args, inp, scan_inp, os.path.join(work, "run"), search, res, tracer)
        res.notes["run_s"] = time.perf_counter() - t_run
        cpu1 = host.cpu_times()
        res.notes["steal"] = host.steal_share(cpu0, cpu1)
        res.notes["foreign_cpu"] = host.foreign_share(
            cpu0, cpu1, host.tree_cpu(os.getpid()) - own0)
        res.put("setup_s", host.median(setups), "s")
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            host.stop_session(spark)
    layers = {}
    if tracer is not None:
        layers = tracer.report(os.environ["SPARK_GRAFT_EVENTLOG_DIR"], app_id)
        layers["session.start_s"] = (cold_get, "s")
        layers["session.cold_setup_s"] = (setups[0], "s")
        layers["gen.late_s_max"] = (res.notes["gen_late_s_max"], "s")
        layers["gen.events"] = (res.notes["gen_events"], "count")
        layers["check.mismatch_ratio"] = (res.failed / max(1, res.attempted), "ratio")
    return res, layers, setups


if __name__ == "__main__":
    raise SystemExit(main())
