"""The store-level document-frequency rollup (``tokenstats``) behind
``significant_terms_over_store``: folds append mergeable deltas, the
reader trusts the rollup only when its summed doc count matches the
live docstats count AND the store is not CDC-mutated, and
``compact_bm25_store`` rebuilds it.  Every path is pinned to produce
results IDENTICAL to the exact postings-wide background aggregate —
the rollup is a plan optimization, never a semantics change.

Also pins the params-resident generation counter: CDC folds allocate
monotonically without scanning docstats, compaction preserves the
counter, and post-compaction folds keep allocating above surviving
generations.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil

import pytest

from pyspark.sql import functions as F

DOCS = [
    (1, "spark streams tables", "en"),
    (2, "spark spark batch", "en"),
    (3, "tables and rows", "fr"),
    (4, "stream of values", "en"),
    (5, "spark rows batch", "fr"),
    (6, "values values tables", "en"),
]
SCHEMA = "doc_id long, text string, lang string"
CDC_SCHEMA = "doc_id long, op string, text string, lang string"


def _fold(spark, store, rows):
    from mongo_es_spark.operators.text import incremental_bm25_index

    incremental_bm25_index(
        spark,
        spark.createDataFrame(rows, SCHEMA),
        store,
        field_cols=["lang"],
    ).count()


def _sig(spark, store):
    from mongo_es_spark.operators.text import (
        significant_terms_over_store,
    )

    return significant_terms_over_store(
        spark, store, ["spark"], size=10
    )


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _postings_scans(plan: str) -> int:
    return len(re.findall(r"Location.*postings", plan))


def test_rollup_serves_and_matches_exact_background(spark, tmp_path):
    store = str(tmp_path / "bm25")
    _fold(spark, store, DOCS[:3])
    _fold(spark, store, DOCS[3:])

    trusted = _sig(spark, store)
    plan = _plan_of(trusted)
    # bg leg reads the rollup, not the postings: only the two
    # foreground postings scans (matched + fg) remain
    assert "tokenstats" in plan
    assert _postings_scans(plan) == 2
    got = sorted(map(tuple, trusted.collect()))

    # force the exact fallback by removing the rollup entirely
    shutil.rmtree(os.path.join(store, "tokenstats"))
    fallback = _sig(spark, store)
    fplan = _plan_of(fallback)
    assert "tokenstats" not in fplan
    assert _postings_scans(fplan) == 3
    assert got == sorted(map(tuple, fallback.collect()))
    assert len(got) > 0


def test_missed_delta_detected_and_falls_back(spark, tmp_path):
    store = str(tmp_path / "bm25")
    _fold(spark, store, DOCS[:3])
    want = sorted(map(tuple, _sig(spark, store).collect()))

    # simulate a crash between the docstats commit and the rollup
    # append: the second fold lands everywhere except tokenstats
    ts = os.path.join(store, "tokenstats")
    before = set(os.listdir(ts))
    _fold(spark, store, DOCS[3:])
    for f in set(os.listdir(ts)) - before:
        p = os.path.join(ts, f)
        (os.remove if os.path.isfile(p) else shutil.rmtree)(p)

    broken = _sig(spark, store)
    # doc-count verification fails -> exact postings-wide background
    assert _postings_scans(_plan_of(broken)) == 3
    shutil.rmtree(ts)
    exact = sorted(map(tuple, _sig(spark, store).collect()))
    assert sorted(map(tuple, broken.collect())) == exact
    assert exact != want  # the second fold did change the stats


def test_cdc_mutation_distrusts_rollup_until_compact(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        apply_cdc_to_bm25_index,
        compact_bm25_store,
    )

    store = str(tmp_path / "bm25")
    rebuilt = str(tmp_path / "rebuilt")
    _fold(spark, store, DOCS)
    apply_cdc_to_bm25_index(
        spark,
        spark.createDataFrame(
            [
                (2, "u", "updated spark tables", "en"),
                (3, "d", None, None),
                (7, "i", "fresh spark doc", "de"),
            ],
            CDC_SCHEMA,
        ),
        store,
        field_cols=["lang"],
    ).count()
    final = [
        (1, "spark streams tables", "en"),
        (2, "updated spark tables", "en"),
        (4, "stream of values", "en"),
        (5, "spark rows batch", "fr"),
        (6, "values values tables", "en"),
        (7, "fresh spark doc", "de"),
    ]
    _fold(spark, rebuilt, final)

    mutated = _sig(spark, store)
    # mutated flag set -> rollup ignored, exact fallback serves
    assert _postings_scans(_plan_of(mutated)) == 3
    want = sorted(map(tuple, _sig(spark, rebuilt).collect()))
    assert sorted(map(tuple, mutated.collect())) == want

    compact_bm25_store(spark, store, min_files=2)
    served = _sig(spark, store)
    # compaction rebuilt the rollup and reset the flag -> trusted
    plan = _plan_of(served)
    assert "tokenstats" in plan and _postings_scans(plan) == 2
    assert sorted(map(tuple, served.collect())) == want


def test_gen_counter_lives_in_params(spark, tmp_path):
    from mongo_es_spark.operators.text import (
        _bm_params_path,
        apply_cdc_to_bm25_index,
        compact_bm25_store,
    )

    store = str(tmp_path / "bm25")
    _fold(spark, store, DOCS)

    def params():
        return spark.read.parquet(_bm_params_path(store)).head()

    assert params()["gen"] == 0
    out1 = apply_cdc_to_bm25_index(
        spark,
        spark.createDataFrame(
            [(2, "u", "updated spark tables", "en")], CDC_SCHEMA
        ),
        store,
        field_cols=["lang"],
    )
    assert [r["gen"] for r in out1.collect()] == [1]
    assert params()["gen"] == 1 and params()["mutated"]

    compact_bm25_store(spark, store, min_files=2)
    # counter survives compaction (surviving rows keep their gens)
    assert params()["gen"] == 1 and not params()["mutated"]

    out2 = apply_cdc_to_bm25_index(
        spark,
        spark.createDataFrame([(2, "d", None, None)], CDC_SCHEMA),
        store,
        field_cols=["lang"],
    )
    # allocates ABOVE the surviving generation, no docstats scan needed
    assert [r["gen"] for r in out2.collect()] == [2]


def test_duplicate_ids_without_seq_still_raise(spark, tmp_path):
    from mongo_es_spark.operators.text import apply_cdc_to_bm25_index

    store = str(tmp_path / "bm25")
    _fold(spark, store, DOCS)
    with pytest.raises(ValueError, match="duplicate doc ids"):
        apply_cdc_to_bm25_index(
            spark,
            spark.createDataFrame(
                [
                    (2, "u", "one version", "en"),
                    (2, "u", "another version", "en"),
                ],
                CDC_SCHEMA,
            ),
            store,
            field_cols=["lang"],
        )


def test_orphan_rows_never_double_count_in_rollup(spark, tmp_path):
    """The crash-retry / desync-repair interleaving that could
    silently inflate the rollup (r10 ADVICE, medium):

    1. fold A (docs 4-5) crashes AFTER its postings append — orphan
       postings, no docstats rows, rollup untouched (counts still
       match, nothing detects anything);
    2. fold B (doc 6) crashes BETWEEN docstats and tokenstats —
       counts now diverge, the desync repair fires and rebuilds the
       rollup from postings with ``assume_live=True``;
    3. fold A retries — skips the postings write (already on disk),
       appends docstats + its tokenstats delta, which DELIBERATELY
       covers its docs' already-present postings.

    If step 2's rebuild counted the orphan postings, step 3's delta
    would cover them a second time while the doc-count trust
    predicate stays green (it is doc-based, not df-based).  Pinned:
    after the retry, the TRUSTED rollup equals the exact postings
    background (same tokenstats-serving plan, identical results to a
    rollup-free store)."""
    import glob

    from mongo_es_spark.operators.maintenance import maintain_bm25_if_needed

    store = str(tmp_path / "bm25")
    _fold(spark, store, DOCS[:3])

    # -- step 1: fold A's postings land, nothing else (orphans) -----
    orphan_docs = spark.createDataFrame(DOCS[3:5], SCHEMA)
    toks = orphan_docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("p", "token"),
    )
    toks.groupBy("doc", "token").agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list("p")).alias("pos"),
    ).select(
        "token", "doc", "tf", "pos", F.lit(0).cast("long").alias("gen")
    ).write.mode("append").parquet(os.path.join(store, "postings"))

    # -- step 2: fold B commits docstats but not its rollup delta ---
    ts = os.path.join(store, "tokenstats")
    before = set(os.listdir(ts))
    _fold(spark, store, DOCS[5:])
    for f in set(os.listdir(ts)) - before:
        p = os.path.join(ts, f)
        (os.remove if os.path.isfile(p) else shutil.rmtree)(p)
    fired = maintain_bm25_if_needed(spark, store)
    assert any("rollup_desync" in s for s in fired["reasons"])

    # -- step 3: fold A retries and converges -----------------------
    _fold(spark, store, DOCS[3:5])

    served = _sig(spark, store)
    # the rollup IS trusted (doc counts match) and serving from it...
    plan = _plan_of(served)
    assert "tokenstats" in plan and _postings_scans(plan) == 2
    got = sorted(map(tuple, served.collect()))
    # ...equals the exact background of a fresh single-fold store
    clean = str(tmp_path / "clean")
    _fold(spark, clean, DOCS)
    shutil.rmtree(os.path.join(clean, "tokenstats"))
    assert got == sorted(map(tuple, _sig(spark, clean).collect()))
    # and the rollup's per-token df is exactly the live postings df
    roll = (
        spark.read.parquet(ts)
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("df").alias("df"))
    )
    exact = (
        spark.read.parquet(os.path.join(store, "postings"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    diff = roll.join(exact, "token", "full").filter(
        ~roll["df"].eqNullSafe(exact["df"])
    )
    assert diff.count() == 0


EXTRA = [
    (7, "fresh spark doc", "de"),
    (8, "novel tables stream", "en"),
]


def test_desync_repair_crash_point_matrix(spark, tmp_path):
    """Crash-point coverage of the fold's rollup append (r10 VERDICT
    #8, r13 write-floor merge): the counted-doc rows now ride the SAME
    coalesced file as the df delta, so the old torn docs-vs-delta
    state is impossible by construction — a crash either leaves the
    whole fold's rollup contribution (docs + delta together) or none
    of it, and the repair names the gap from the doc rows.  A stale
    LEGACY standalone sidecar (pre-merge layout) must still fail the
    count-vs-marker validation and fall back to the full rebuild."""
    from mongo_es_spark.operators.maintenance import maintain_bm25_if_needed

    store = str(tmp_path / "bm25")
    ts = os.path.join(store, "tokenstats")
    td = os.path.join(store, "tokenstats_docs")
    _fold(spark, store, DOCS[:3])
    # the merged layout retires the standalone docs sidecar
    assert not os.path.isdir(td)

    # -- boundary: crash AFTER docstats, BEFORE the merged append ---
    b_ts = set(os.listdir(ts))
    _fold(spark, store, DOCS[3:])
    for f in set(os.listdir(ts)) - b_ts:
        os.remove(os.path.join(ts, f))
    fired = maintain_bm25_if_needed(spark, store)
    assert fired["action"] == "rebuild_rollup"
    assert fired["result"]["mode"] == "incremental"
    assert fired["result"]["added_docs"] == 3
    plan = _plan_of(_sig(spark, store))
    assert "tokenstats" in plan and _postings_scans(plan) == 2
    clean = str(tmp_path / "clean6")
    _fold(spark, clean, DOCS)
    assert sorted(map(tuple, _sig(spark, store).collect())) == sorted(
        map(tuple, _sig(spark, clean).collect())
    )
    assert maintain_bm25_if_needed(spark, store)["action"] == "none"

    # -- legacy: a desynced rollup PLUS a stale standalone docs
    # sidecar (pre-merge layout) — the sidecar unions into the
    # counted-docs set, fails the count-vs-marker validation, and the
    # repair falls back to the full rebuild, which retires it
    b_ts = set(os.listdir(ts))
    _fold(spark, store, EXTRA)
    for f in set(os.listdir(ts)) - b_ts:
        os.remove(os.path.join(ts, f))
    spark.createDataFrame([(999,)], "doc long").write.parquet(td)
    fired2 = maintain_bm25_if_needed(spark, store)
    assert fired2["action"] == "rebuild_rollup"
    assert fired2["result"]["mode"] == "rebuild"
    assert not os.path.isdir(td)  # rebuild retired the legacy sidecar
    clean8 = str(tmp_path / "clean8")
    _fold(spark, clean8, DOCS + EXTRA)
    assert sorted(map(tuple, _sig(spark, store).collect())) == sorted(
        map(tuple, _sig(spark, clean8).collect())
    )
    assert maintain_bm25_if_needed(spark, store)["action"] == "none"
    # the rebuild refreshed the doc rows in place: counted == live == 8
    merged = spark.read.parquet(ts)
    assert merged.filter("doc is not null").count() == 8


def test_legacy_rollup_repairs_incrementally(spark, tmp_path):
    """A rollup begun before the counted-doc rows existed holds
    ``(token, df)``-only files beside a standalone ``tokenstats_docs``
    sidecar; later folds append ``(token, df, doc)`` deltas.  Read with
    the legacy footer's schema, the rollup hides every appended doc
    row, the counted-docs check fails, and a one-fold gap costs a
    postings-wide rebuild.  The repair must see both layouts and take
    the incremental path."""
    from mongo_es_spark.operators.text import repair_bm25_tokenstats
    from mongo_es_spark.storeio import read_parquet_if_exists

    store = str(tmp_path / "bm25")
    ts = os.path.join(store, "tokenstats")
    td = os.path.join(store, "tokenstats_docs")
    _fold(spark, store, DOCS[:3])
    # rewrite the rollup in the legacy layout: df rows + doc-count
    # marker only, the counted doc ids in the standalone sidecar
    rollup = spark.read.parquet(ts)
    legacy = rollup.filter("doc is null").select("token", "df").collect()
    shutil.rmtree(ts)
    spark.createDataFrame(legacy, "token string, df long").coalesce(
        1
    ).write.parquet(ts)
    spark.createDataFrame([(1,), (2,), (3,)], "doc long").write.parquet(td)
    # a reader opened on the legacy layout pins its schema
    assert read_parquet_if_exists(spark, ts).columns == ["token", "df"]

    _fold(spark, store, DOCS[3:5])  # new-format delta: docs 4, 5
    b_ts = set(os.listdir(ts))
    _fold(spark, store, DOCS[5:])  # doc 6: crash before its delta
    for f in set(os.listdir(ts)) - b_ts:
        os.remove(os.path.join(ts, f))

    out = repair_bm25_tokenstats(spark, store)
    assert out == {"mode": "incremental", "added_docs": 1}
    clean = str(tmp_path / "clean")
    _fold(spark, clean, DOCS)
    assert sorted(map(tuple, _sig(spark, store).collect())) == sorted(
        map(tuple, _sig(spark, clean).collect())
    )


def test_dead_counter_exact_across_delete_reinsert_cycles(spark, tmp_path):
    """The params ``dead`` counter comes from the fold's observed probe
    metrics: each delete adds its superseded live row plus its own
    tombstone, each reinsert adds nothing (the tombstone it supersedes
    was counted when written).  Pinned against the window-computed
    truth over two full delete → reinsert → delete cycles."""
    from mongo_es_spark.operators.text import (
        apply_cdc_to_bm25_index,
        describe_bm25_store,
    )

    store = str(tmp_path / "bm25")
    _fold(spark, store, DOCS)

    def apply(rows):
        apply_cdc_to_bm25_index(
            spark,
            spark.createDataFrame(rows, CDC_SCHEMA),
            store,
            field_cols=["lang"],
        ).count()
        cheap = describe_bm25_store(spark, store, full=False)
        exact = describe_bm25_store(spark, store, full=True)
        assert cheap["dead_rows"] == exact["dead_rows"], (cheap, exact)
        assert cheap["live_docs"] == exact["live_docs"]
        return cheap["dead_rows"]

    assert apply([(4, "d", None, None)]) == 2
    assert apply([(4, "u", "stream of values", "en")]) == 2
    assert apply([(4, "d", None, None)]) == 4
    assert apply([(4, "d", None, None)]) == 4  # replayed delete
    assert apply([(4, "u", "stream reborn", "fr")]) == 4
    assert apply([(4, "d", None, None), (5, "d", None, None)]) == 8
