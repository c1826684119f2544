"""The tail phase: per-micro-batch dispatch plan + streaming query.

Re-expresses the reference's event loop (C5 dispatch at
src/processor.ts:171-223, driven from _processOplogSafe at :373-396) as
a declarative per-batch DataFrame plan:

    compact (exact per-key fold, operators/oplog_compaction.py)
      -> relevance filter (F4, ignoreUpdate)
      -> LEFT JOIN sink state by id   (J1/J2 — replaces the mget/terms
                                       promise batcher wholesale)
      -> LEFT JOIN source by id       (J3 — the Mongo $in fallback;
                                       both joins are skipped for a
                                       patch-free batch)
      -> dispatch select (i / full-replace-u / patch-u / d branches as
         CASE expressions over the joined row)
      -> IR frame -> sink.apply (L1) -> checkpoint hook (C3)

The reference batches point lookups by hand (≤1024 ids, 1 s debounce,
src/elasticsearch.ts:30-148).  Spark's set-oriented execution subsumes
that: the per-batch equi-join IS the batched lookup, done properly —
partitioned, spillable, AQE-sized.  Micro-batch serialization (A3) is
Structured Streaming's native execution model.

Scale notes: both joins key on ``id``; the sink-state join is a
shuffle join whose build side is bounded by the batch's key count
(Catalyst/AQE broadcast it when small).  Compaction's (ns,id) exchange
is the only other shuffle.  Nothing in the plan is driver-side.
"""

from __future__ import annotations

import time
from typing import Mapping, Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import CheckPoint, Controls, Task
from ..operators.oplog_compaction import compact_oplog_docs
from ..plans.cdc_schema import oplog_value_schema, sink_data_schema
from ..functions.columns import nest_target_paths
from ..ratelimit import throttle


def _nested(prefix: str, path: str) -> Column:
    return F.col(prefix + "." + ".".join(f"`{p}`" for p in path.split(".")))


def _set_field(src: str) -> Column:
    # $set payload fields are literal dotted keys: ONE quoted segment
    return F.col(f"o.`$set`.`{src}`")


def dispatch_ir_frame(
    compacted: DataFrame,
    task: Task,
    sink_state: Optional[DataFrame],
    source_df: Optional[DataFrame] = None,
    hints: Optional[Mapping[str, object]] = None,
) -> DataFrame:
    """Compacted survivors -> IR rows (action, id, parent, data,
    timestamp).  Pure column expressions over two left joins."""
    o_schema = oplog_value_schema(task, hints)
    df = compacted.withColumn("o", F.from_json("doc", o_schema))

    mapping = task.transform.mapping
    op = F.col("op")
    is_insert_like = (op == "i") | ((op == "u") & F.col("has_plain"))
    is_patch = (op == "u") & ~F.col("has_plain")

    # F4 ignoreUpdate: update touching no mapped field -> dropped
    # (reference: src/processor.ts:123-132; checked post-compaction,
    # matching the reference's dispatch-time check)
    touched = F.lit(False)
    for src in mapping:
        touched = (
            touched
            | _nested("o", src).isNotNull()
            | _set_field(src).isNotNull()
            | F.array_contains("unset_keys", src)
        )
    df = df.filter((op != "u") | touched)

    # J1/J2 — sink-state lookup join (only patch-updates and
    # parent-routed deletes consult it; others pass through)
    if sink_state is not None:
        lookup = sink_state.select(
            F.col("_id").alias("__sink_id"),
            F.col("_parent").alias("__sink_parent"),
            F.col("data").alias("__sink_data"),
        )
        df = df.join(lookup, df.id == lookup.__sink_id, "left")
    else:
        df = (
            df.withColumn("__sink_id", F.lit(None).cast("string"))
            .withColumn("__sink_parent", F.lit(None).cast("string"))
            .withColumn("__sink_data", F.lit(None))
        )
    in_sink = F.col("__sink_id").isNotNull()

    # J3 — source-collection fallback for patch-updates missing in sink
    if source_df is not None:
        src_cols = [F.col("_id").cast("string").alias("__src_id")]
        for i, src in enumerate(task.source_paths()):
            src_cols.append(_nested_source(source_df, src).alias(f"__src_{i}"))
        src_lookup = source_df.select(*src_cols)
        df = df.join(src_lookup, df.id == src_lookup.__src_id, "left")
    else:
        df = df.withColumn("__src_id", F.lit(None).cast("string"))
        for i in range(len(task.source_paths())):
            df = df.withColumn(f"__src_{i}", F.lit(None))
    in_source = F.col("__src_id").isNotNull()
    src_index = {p: i for i, p in enumerate(task.source_paths())}

    # --- dispatch: per-target-field CASE over the joined row ---
    def sink_field(dst: str) -> Column:
        if sink_state is None:
            return F.lit(None)
        return _nested("__sink_data", dst)

    target_exprs: dict[str, Column] = {}
    statics = task.transform.static
    for dst in statics:
        target_exprs[dst] = F.lit(statics[dst])
    for src, dst in mapping.items():
        doc_val = _nested("o", src)
        set_val = _set_field(src)
        unset_flag = F.array_contains("unset_keys", src)
        # precedence mirrors applyUpdateESDoc (processor.ts:107-121):
        # unset applies first, then a present $set overwrites — so when
        # both touch a field, $set wins.  Divergence (documented): the
        # typed from_json path can't distinguish an explicit $set null
        # from an absent key, so a $set of literal null falls through
        # to unset/sink state where the reference would write null —
        # detecting it would need a JSON-map sidecar per batch.
        patched = (
            F.when(set_val.isNotNull(), set_val)
            .when(unset_flag, F.lit(None))
            .otherwise(sink_field(dst))
        )
        src_val = F.col(f"__src_{src_index[src]}")
        val = (
            F.when(is_insert_like, doc_val)
            .when(is_patch & in_sink, patched)
            .when(is_patch & in_source, src_val)
        )
        prev = target_exprs.get(dst)
        target_exprs[dst] = F.coalesce(val, prev) if prev is not None else val

    # parent extraction (reference: src/processor.ts:61,86;
    # delete-with-parent forces the sink lookup, J2, :209-211)
    if task.transform.parent:
        parent_src = task.transform.parent
        parent = (
            F.when(is_insert_like, _nested("o", parent_src))
            .when(is_patch & in_sink, F.col("__sink_parent"))
            .when(is_patch & in_source, F.col(f"__src_{src_index[parent_src]}"))
            .when(op == "d", F.col("__sink_parent"))
            .cast("string")
        )
    else:
        parent = F.lit(None).cast("string")

    data = F.struct(*nest_target_paths(target_exprs))

    # drop rule: patch-updates found nowhere (reference returns null,
    # :202); upserts with empty mapped data (:79-81); deletes with
    # parent routing but no sink doc (:209-213)
    any_target = F.lit(False)
    for expr in target_exprs.values():
        any_target = any_target | expr.isNotNull()
    keep = (
        F.when(op == "d", F.lit(not task.transform.parent) | in_sink)
        .when(is_patch, (in_sink | in_source) & any_target)
        .otherwise(any_target)
    )

    return (
        df.filter(keep)
        .select(
            F.when(op == "d", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("action"),
            F.col("id"),
            parent.alias("parent"),
            F.when(op != "d", data).alias("data"),
            F.shiftright(F.col("ts"), 32).alias("timestamp"),
        )
    )


def _nested_source(df: DataFrame, path: str) -> Column:
    if path in df.columns:
        return df[path]
    return F.col(".".join(f"`{p}`" for p in path.split(".")))


def run_tail(
    spark: SparkSession,
    task: Task,
    controls: Controls,
    oplog_stream: DataFrame,
    sink,
    source_df: Optional[DataFrame] = None,
    hints: Optional[Mapping[str, object]] = None,
    checkpoint_dir: str = "/tmp/mongo-es-spark-ckpt",
    available_now: bool = False,
    suppress_redelivery_ttl: Optional[int] = None,
):
    """Start the tail streaming query (C6 steady state).

    Micro-batch cadence maps the reference's bufferWithTimeOrCount
    (A2): trigger interval = elasticsearchBulkInterval; per-trigger
    row caps come from the source options (C1).  Spark runs batches
    serially per query (A3 for free) and checkpoints offsets under
    ``checkpoint_dir`` (C2/C3 for free); the reference's pluggable
    checkpoint hook is preserved by saving a CheckPoint after each
    batch, with its deliberate 10 s overlap
    (reference: src/processor.ts:384-390).

    ``suppress_redelivery_ttl``: optional stateful cross-batch dedup
    (streaming/dedup_state.py) dropping events replayed by the
    at-least-once resume window before they cost lookup joins and
    sink writes.  Off by default — idempotent sinks already absorb
    replays; turn it on when replay volume is worth the state store.
    """
    if suppress_redelivery_ttl is not None:
        from .dedup_state import suppress_redelivered

        oplog_stream = suppress_redelivered(
            oplog_stream, ttl_seconds=suppress_redelivery_ttl
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # C1: pace the oplog read (reference src/processor.ts:31-49);
        # no-op unless mongodbReadCapacity is a finite number
        batch_df = throttle(batch_df, controls.mongodb_read_capacity)
        compacted = compact_oplog_docs(batch_df, task)
        state = None
        has_patch = True
        if hasattr(sink, "read_state") and not task.transform.parent:
            # Only patch-updates (and parent-routed deletes, excluded
            # above) ever CONSULT sink state or the source (J3) in
            # dispatch_ir_frame: every __sink_*/__src_* branch sits
            # under is_patch and the delete keep-rule is
            # `true | in_sink`.  So a patch-free batch neither scans
            # the sink's merge log (or issues _mget calls) nor re-reads
            # the source.  The flag is observed on the compaction
            # checkpoint that the lookup and dispatch share anyway
            # (no job of its own); a fresh Observation at the top of
            # the checkpointed plan reports exactly that one run.
            probe = Observation()
            compacted = compacted.observe(
                probe,
                F.max(
                    ((F.col("op") == "u") & ~F.col("has_plain")).cast("int")
                ).alias("has_patch"),
            ).localCheckpoint(eager=True)
            has_patch = bool(probe.get["has_patch"])
        if has_patch and hasattr(sink, "read_state"):
            # J1/J2: the batch's distinct keys drive the lookup —
            # ParquetIndexSink ignores them (whole-state join),
            # EsBulkSink turns them into executor-side _mget/terms
            # calls against the live index
            batch_ids = compacted.select("id").distinct()
            state = sink.read_state(spark, ids=batch_ids)
            if state is not None and "data_json" in state.columns:
                # schema-agnostic sinks serve raw _source JSON; parse
                # it with the task's typed target schema so the
                # dispatch CASEs see the same struct shape
                # ParquetIndexSink stores natively
                state = state.select(
                    "_id",
                    "_parent",
                    F.from_json(
                        "data_json", sink_data_schema(task, hints)
                    ).alias("data"),
                )
        irs = dispatch_ir_frame(
            compacted, task, state, source_df if has_patch else None, hints
        )
        sink.apply(spark, irs, batch_id)
        Task.save_checkpoint(
            task.name(),
            CheckPoint(
                phase="tail", time=int(time.time() * 1000) - 10_000
            ),
        )

    writer = (
        oplog_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        interval_s = max(1, controls.elasticsearch_bulk_interval // 1000)
        writer = writer.trigger(processingTime=f"{interval_s} seconds")
    return writer.start()


def run_scan(
    spark: SparkSession,
    task: Task,
    source_df: DataFrame,
    sink,
    id_column: str = "_id",
    controls: Optional[Controls] = None,
    resume_chunks: int = 1,
) -> None:
    """The scan phase (EP1): bounded backfill batch job — read, map,
    bulk-upsert, then flip the checkpoint to tail
    (reference: src/index.ts:27-31, src/processor.ts:299-330).

    ``controls.mongodb_read_capacity`` (C1) paces the backfill read:
    the throttle sits directly over the source, so Spark's pull
    model keeps the collection scan itself at the provisioned docs/s
    (ratelimit.py; reference src/processor.ts:31-49).

    ``resume_chunks`` > 1 makes a long backfill RESUMABLE across
    process restarts, the reference's per-bulk scan checkpoint
    (src/processor.ts:313-321) re-expressed for a distributed scan:
    sampled id boundaries split the id domain into ``resume_chunks``
    ranges processed as sequential fully-parallel jobs, and the scan
    checkpoint advances to each range's upper bound once it loads.
    Every range filter is an ``id >= lo AND id < hi`` predicate the
    scan pushes down (same pushdown as the F2 resume filter), and the
    idempotent sink absorbs the partial-chunk overlap a crash replays.
    Within one run, Spark's own task retry already handles failures —
    chunking only buys restart granularity, so the default stays 1
    (single job, no boundary sampling pass).
    """
    from ..plans.scan import scan_ir_frame

    if controls is not None:
        source_df = throttle(source_df, controls.mongodb_read_capacity)
    resume = None
    if task.from_.phase == "scan" and task.from_.id not in (
        "",
        "000000000000000000000000",
    ):
        resume = task.from_.id

    if resume_chunks > 1:
        # boundary sampling, RangePartitioner-style: a uniform
        # driver-bounded id sample (~100 per chunk) sorted and
        # quantiled.  orderBy(rand).limit executes as TakeOrdered — a
        # per-partition heap over the id column, no full shuffle.
        # Works for any orderable id type, string Mongo ObjectIds
        # included; boundary QUALITY only affects chunk balance,
        # never output correctness.
        sample = [
            r[0]
            for r in source_df.select(id_column)
            .orderBy(F.rand(13))
            .limit(resume_chunks * 100)
            .collect()
        ]
        sample.sort()
        bounds = sorted(
            {
                sample[(i * len(sample)) // resume_chunks]
                for i in range(1, resume_chunks)
            }
        ) if sample else []
        lo = resume
        for hi in [*bounds, None]:
            chunk = source_df
            if hi is not None:
                chunk = chunk.filter(F.col(id_column) < hi)
            irs = scan_ir_frame(
                chunk, task, id_column=id_column, resume_id=lo
            )
            sink.apply(spark, irs, batch_id=-1)
            if hi is not None:
                Task.save_checkpoint(
                    task.name(), CheckPoint(phase="scan", id=str(hi))
                )
            lo = hi
        task.end_scan()
        return

    irs = scan_ir_frame(source_df, task, id_column=id_column, resume_id=resume)
    sink.apply(spark, irs, batch_id=-1)
    task.end_scan()
