"""Expected sink state, from the golden pure functions in ``core.py``.

The feed is replayed batch by batch, with the batch boundaries the
streaming query actually used (read back from its checkpoint's
``sources/0/<batch>`` logs): per batch the F3 source filter, then
``core.merge_oplogs``, then ``core.dispatch_oplog`` with the running
state as the sink lookup and the collection as the source lookup.
"""

from __future__ import annotations

import copy
import glob
import json
import os

from mongo_es_spark.config import Task
from mongo_es_spark.core import dispatch_oplog, merge_oplogs, transformer

from gen import NS


def batch_files(checkpoint_dir: str) -> dict[int, list[str]]:
    """Batch id -> base names of the feed files it read, from the file
    source's log (``<n>`` and ``<n>.compact`` files both hold entries
    tagged with their batch id)."""
    out: dict[int, dict[str, None]] = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out.setdefault(int(entry["batchId"]), {})[
                    os.path.basename(entry["path"])
                ] = None
    return {b: list(names) for b, names in sorted(out.items())}


def _oplog(row: dict) -> dict:
    o = json.loads(row["doc"]) if row.get("doc") else {}
    lg = {"ts": row["ts"], "ns": row["ns"], "op": row["op"]}
    if row["op"] == "u":
        lg["o"], lg["o2"] = o, {"_id": row["id"]}
    else:
        lg["o"] = {"_id": row["id"], **o}
    return lg


def passes_source_filter(row: dict) -> bool:
    """F3: own namespace, not a chunk-migration copy."""
    return row["ns"] == NS and not row.get("fromMigrate")


def replay(task: Task, docs: dict[str, dict], scanned: bool,
           batches: list[list[str]]) -> dict[str, dict]:
    """Final ``{id: data}`` after the scan (when ``scanned``) and every
    batch of raw feed lines, in order."""
    source = {k: {"_id": k, **d} for k, d in docs.items()}
    state: dict[str, dict] = {}
    if scanned:
        for k, doc in source.items():
            ir = transformer(task, "upsert", doc)
            if ir is not None:
                state[k] = ir["data"]
    for lines in batches:
        rows = [json.loads(line) for line in lines]
        oplogs = [_oplog(r) for r in rows if passes_source_filter(r)]
        for lg in merge_oplogs(task, oplogs):
            k = str((lg.get("o2") or lg["o"])["_id"])
            # the sink lookup serves stored documents with their _id,
            # as an Elasticsearch mget does
            sink = {k: {"_id": k, **copy.deepcopy(state[k])}} if k in state else {}
            ir = dispatch_oplog(task, lg, lookup_sink=sink, lookup_source=source)
            if ir is None:
                continue
            if ir["action"] == "delete":
                state.pop(ir["id"], None)
            else:
                state[ir["id"]] = ir["data"]
    return state


def leaves(data: dict, fields: list[str]) -> tuple:
    """The mapped target paths of one document, absent as None — the
    shape the sink stores (a typed struct whose absent fields are
    null).  ``transformer`` nests every target path, so a plain walk
    over dicts reads them."""
    out = []
    for f in fields:
        cur = data
        for part in f.split("."):
            cur = cur.get(part) if isinstance(cur, dict) else None
        out.append(cur)
    return tuple(out)


def count_mismatches(expected: dict[str, dict], got: dict[str, tuple],
                     fields: list[str]) -> int:
    """Expected docs missing or different, plus docs that should not
    be there.  ``got`` holds each stored doc's ``fields`` values."""
    bad = sum(1 for k, v in expected.items() if got.get(k) != leaves(v, fields))
    return bad + sum(1 for k in got if k not in expected)
