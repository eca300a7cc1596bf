"""``dashboard`` and ``history``: read-only closed loops with one client over
the same generated store.

Set-up generates the store, bulk-loads it once through ``TSDB.insert_rows``
and runs one query of each class to warm the query path up.  The loop then
sends queries until the run's seconds are used up.  Results are kept and
checked against DuckDB after the loop.
"""

from __future__ import annotations

import time
from collections import Counter

import pyarrow.parquet as pq

import gen
from client import Client
from oracle import CLASSES, Oracle, describe, normalise, same
from spans import Tracer, median

# fixed tail percentiles: a 22 s dashboard run completes about 29 queries,
# so about ten lie beyond p65; history completes about 24, ten beyond p60
TAIL_PCT = {"dashboard": 65.0, "history": 60.0}


def load_store(ctx, store: gen.Store):
    """Bulk-load the store; return the TSDB and the load time."""
    from mandodb_spark import TSDB

    src = ctx.work / "input" / "store.parquet"
    src.parent.mkdir(parents=True)
    pq.write_table(store.table(), src)
    db = TSDB(ctx.spark, str(ctx.work / "store"))
    ctx.instrument_store(db.store)
    t = time.perf_counter()
    db.insert_rows(ctx.spark.read.parquet(str(src)))
    return db, time.perf_counter() - t


def run(ctx, kind: str) -> dict:
    t = time.perf_counter()
    store = gen.Store(ctx.seed)
    panels = gen.dashboard_panels(ctx.seed, store)
    if kind == "dashboard":
        queries = (panels[i] for i in gen.zipf_order(len(panels)))
    else:
        queries = iter(gen.history_queries(ctx.seed, store))
    gen_s = time.perf_counter() - t
    db, load_s = load_store(ctx, store)
    ctx.instrument_reads(db)

    t = time.perf_counter()
    warm = Client(ctx.spark, db, Tracer(False), ctx.seconds, "warm")
    for cls in CLASSES:
        warm.run(next(q for q in panels if q["cls"] == cls))
    warm_s = time.perf_counter() - t
    if warm.failed:
        raise RuntimeError("warm-up query failed: " + "; ".join(warm.errors))

    client = Client(ctx.spark, db, ctx.tracer, ctx.seconds)
    start = time.perf_counter()
    deadline = start + ctx.seconds
    sent = []
    while time.perf_counter() < deadline:
        sent.append(next(queries))
        client.run(sent[-1], keep=True)
    wall = time.perf_counter() - start

    # correctness, outside the timed loop
    oracle = Oracle(store.series, store.ts, store.values)
    expected: dict[int, object] = {}
    bad = []
    for q, rows in client.results:
        key = id(q)
        if key not in expected:
            expected[key] = oracle.expected(q)
        if not same(normalise(q, rows), expected[key]):
            bad.append(describe(q))
    checked = len(client.results)

    e2e = client.end_to_end(wall, TAIL_PCT[kind])
    metrics = {
        "setup_s": ctx.session_s + gen_s + load_s + warm_s,
        "query_p50_s": e2e["query_p50_s"],
        "query_tail_s": e2e["query_tail_s"],
        "queries_per_s": e2e["queries_per_s"],
        # bulk path: the whole store is due when its load starts and
        # visible when insert_rows returns
        "ingest_points_per_s": store.points / load_s,
        "freshness_p50_s": load_s,
        "freshness_tail_s": load_s,
        "storage_bytes_per_point": ctx.store_bytes(db.store.root) / store.points,
    }
    info = {
        "inputs": dict(store.properties(), query_mix=Counter(q["cls"] for q in sent),
                       panels=len(panels) if kind == "dashboard" else None,
                       panel_skew=f"zipf s={gen.ZIPF_S}" if kind == "dashboard" else None,
                       distinct_queries=len({id(q) for q in sent}),
                       offered_ingest_points_per_s=None),
        **client.latency_info(TAIL_PCT[kind]),
        "setup": {"session_s": ctx.session_s, "generate_s": gen_s, "load_s": load_s,
                  "warmup_s": warm_s},
        "checked_results": checked,
        "wrong_results": bad[:5],
        "errors": client.errors[:5],
    }
    layer = {}
    if ctx.tracer.on:
        layer = client.per_layer()
        appends = ctx.tracer.durations("segment_store.append")
        layer.update({
            "segment_store.append_s": median(appends),
            "segment_store.append_points_per_s":
                store.points / sum(appends) if appends else 0.0,
            "segment_store.files_per_segment": ctx.files_per_segment(db.store.root),
        })
    return {"metrics": metrics, "layer": layer, "info": info,
            "attempted": client.attempted, "failed": client.failed,
            "correct": not bad and checked > 0}
