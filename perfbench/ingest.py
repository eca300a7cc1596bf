"""``ingest``: writes beside reads, starting from an empty store.

Phase 1 drains a pre-generated Parquet backlog through ``bounded_source`` +
``StreamingIngestor`` with ``availableNow``, one file per batch; the median
drain rate of the batches after the first, which warms the ingest path up,
is the capacity.  Phase 2 is an open loop: a generator thread drops one
file per ``FILE_INTERVAL_S`` whatever the system's speed, while the main
thread runs dashboard-style queries over the newest 15 minutes and, on a
fixed cadence, selective compaction and retention.  A wrapper around
``process_batch`` maps every micro-batch to its files through the
checkpoint's offset and source logs (no Spark job), so each file's
freshness is the time from when it was due until the ``process_batch``
call that commits it returns.
"""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from client import Client
from spans import Tracer, median, percentile

SETUP_REPS = 3
MAX_FILES_PER_TRIGGER = 1       # phase 1: the backlog drains in 5 batches
TRIGGER_S = 1                   # phase 2 processing-time trigger
MAINT_INTERVAL_S = 5.0          # compaction + retention cadence
COMPACT_MIN_FILES = 4
READ_WINDOW_S = 900
DRAIN_TIMEOUT_S = 60.0
# fixed tail percentiles: a 22 s run drops 44 files, so eleven lie beyond
# p75 of freshness; it completes about 23 reader queries, so about ten lie
# beyond p55 of query latency
READ_TAIL_PCT = 55.0
FRESH_TAIL_PCT = 75.0


class BatchLog:
    """process_batch wrapper: which files each batch committed, and when."""

    def __init__(self, ingestor, plan: gen.IngestPlan, tracer: Tracer) -> None:
        self.plan, self.tracer = plan, tracer
        self.inner = ingestor.process_batch
        self.ckpt: Path | None = None
        self.file_index: dict[str, int] = {}
        self.committed: dict[int, float] = {}
        self.batches: list[dict] = []
        self.data_now = 0
        self.lock = threading.Lock()
        ingestor.process_batch = self

    def start(self, ckpt: Path, names: dict[str, int]) -> None:
        self.ckpt, self.file_index = ckpt, names

    def _files(self, batch_id: int) -> list[int]:
        end = json.loads((self.ckpt / "offsets" / str(batch_id)).read_text().splitlines()[-1])
        end = end["logOffset"]
        out = set()
        for p in (self.ckpt / "sources" / "0").iterdir():
            if p.name.startswith(".") or int(p.name.split(".")[0]) > end:
                continue
            for line in p.read_text().splitlines()[1:]:
                entry = json.loads(line)
                if entry["batchId"] <= end:
                    idx = self.file_index.get(os.path.basename(entry["path"]))
                    if idx is not None and idx not in self.committed:
                        out.add(idx)
        return sorted(out)

    def __call__(self, batch_df, batch_id: int) -> None:
        files = self._files(batch_id)
        t = time.perf_counter()
        with self.tracer.span("ingest.batch"):
            self.inner(batch_df, batch_id)
        done = time.perf_counter()
        with self.lock:
            for f in files:
                self.committed[f] = done
            if files:
                self.data_now = max(self.data_now, max(self.plan.file_max_ts[f] for f in files))
            self.batches.append({"id": batch_id, "files": files, "s": done - t, "end": done,
                                 "points": sum(self.plan.files[f].num_rows for f in files)})


def _write(tbl: pa.Table, staging: Path, dest: Path) -> None:
    """Write outside the watched directory, then rename in, so the stream
    never sees a half-written file."""
    tmp = staging / dest.name
    pq.write_table(tbl, tmp)
    os.rename(tmp, dest)


def _reader_queries(plan: gen.IngestPlan, seed: int, rng_key: int = 5):
    rng = np.random.default_rng([seed, rng_key])
    s = plan.series

    def spec(i: int, now: int) -> dict:
        a, b = now - READ_WINDOW_S, now
        return [
            lambda: gen.range_query(rng, s, "gauge", ["instance"], a, b),
            lambda: gen.promql_query(rng, s, "sum", ["job"], "rate", "counter", 300, a, b, 30),
            lambda: gen.series_query(rng, s, "counter", ["region"], a, b),
            lambda: gen.range_query(rng, s, "counter", ["instance_re"], a, b),
            lambda: gen.label_values_query(rng, s, "instance", "gauge", a, b),
        ][i % 5]()
    return spec


def run(ctx) -> dict:
    from mandodb_spark import TSDB
    from mandodb_spark.model import ROW_SCHEMA
    from mandodb_spark.streaming.ingest import StreamingIngestor, bounded_source

    # ----------------------------------------------------------- set-up
    gens = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        plan = gen.IngestPlan(ctx.seed, ctx.seconds)
        backlog = ctx.work / f"backlog{rep}"
        backlog.mkdir(parents=True)
        for i, tbl in enumerate(plan.backlog()):
            pq.write_table(tbl, backlog / f"part-{i:05d}.parquet")
        gens.append(time.perf_counter() - t)
    db = TSDB(ctx.spark, str(ctx.work / "store"), retention=gen.INGEST_RETENTION)
    ctx.instrument_store(db.store)
    ctx.instrument_reads(db)
    ctx.instrument_ingest()
    dim = ctx.work / "label_dim"
    ingestor = StreamingIngestor(db.store, label_dim_dest=str(dim))
    log = BatchLog(ingestor, plan, ctx.tracer)

    # ---------------------------------------------- phase 1: drain capacity
    # One file per batch.  The first batch warms the ingest path up and
    # counts as set-up.  Capacity is the median over the later batches of
    # points / time since the previous batch committed, so one slow batch
    # (the JIT still warming, a busy host) does not set it.
    ck1 = ctx.work / "ckpt1"
    log.start(ck1, {f"part-{i:05d}.parquet": i for i in range(gen.BACKLOG_FILES)})
    t = time.perf_counter()
    q1 = ingestor.start(bounded_source(ctx.spark, "parquet", str(backlog), schema=ROW_SCHEMA,
                                       max_files_per_trigger=MAX_FILES_PER_TRIGGER), str(ck1))
    q1.awaitTermination()
    phase1_s = time.perf_counter() - t
    progress = list(q1.recentProgress)
    failed_batches = 0 if q1.exception() is None else 1
    drain = sorted((b for b in log.batches if b["files"] and b["files"][0] < gen.BACKLOG_FILES),
                   key=lambda b: b["id"])
    if failed_batches or len(drain) != gen.BACKLOG_FILES:
        raise RuntimeError(f"backlog drain failed: {q1.exception()}, {len(drain)} batches")
    capacity = median(b["points"] / (b["end"] - a["end"]) for a, b in zip(drain, drain[1:]))

    # warm the reader up: one query of each class on the drained store
    t_warm = time.perf_counter()
    warm = Client(ctx.spark, db, Tracer(False), ctx.seconds, "w")
    warm_spec = _reader_queries(plan, ctx.seed, rng_key=6)
    for i in range(5):
        warm.run(warm_spec(i, log.data_now))
    if warm.failed:
        raise RuntimeError("warm-up query failed: " + "; ".join(warm.errors))
    warm_s = time.perf_counter() - t_warm
    first_batch_s = drain[0]["end"] - t
    setup_s = ctx.session_s + median(gens) + first_batch_s + warm_s

    # ----------------------------------------------- phase 2: open loop
    src, staging, ck2 = ctx.work / "stream", ctx.work / "staging", ctx.work / "ckpt2"
    src.mkdir()
    staging.mkdir()
    n2 = plan.stream_files
    names = {f"part-{i:05d}.parquet": gen.BACKLOG_FILES + i for i in range(n2)}
    log.start(ck2, names)
    q2 = ingestor.start(bounded_source(ctx.spark, "parquet", str(src), schema=ROW_SCHEMA),
                        str(ck2), trigger_seconds=TRIGGER_S)
    start = time.perf_counter()
    deadline = start + ctx.seconds
    due = [start + d for d in plan.due_s]
    dropped = [0.0] * n2
    backlog_max = [0]

    def generator():
        for i, tbl in enumerate(plan.stream()):
            time.sleep(max(0.0, due[i] - time.perf_counter()))
            _write(tbl, staging, src / f"part-{i:05d}.parquet")
            dropped[i] = time.perf_counter()
            with log.lock:
                pending = (i + 1) - sum(1 for f in log.committed if f >= gen.BACKLOG_FILES)
            backlog_max[0] = max(backlog_max[0], pending)

    # The reader and maintenance take turns on the main thread:
    # SegmentStore.compact deletes the files it replaced, so a query planned
    # before a compaction fails if it is still reading them.
    reader = Client(ctx.spark, db, ctx.tracer, ctx.seconds, "r")
    spec = _reader_queries(plan, ctx.seed)
    feeder = threading.Thread(target=generator)
    feeder.start()
    maint_attempted = maint_failed = compact_bytes = 0
    maint_errors = []
    next_maint = start + MAINT_INTERVAL_S
    while time.perf_counter() < deadline:
        if time.perf_counter() >= next_maint:
            next_maint += MAINT_INTERVAL_S
            maint_attempted += 1
            try:
                before = ctx.segment_bytes(db.store.root)
                with ctx.tracer.span("segment_store.compact"):
                    picked = db.compact(min_files_per_segment=COMPACT_MIN_FILES)
                compact_bytes += sum(before.get(s, 0) for s in picked)
                with ctx.tracer.span("segment_store.remove_expired"):
                    db.remove_expires(now_ts=log.data_now)
            except Exception as e:  # counted as a failed operation
                maint_failed += 1
                maint_errors.append(f"{type(e).__name__}: {str(e)[:300]}")
        elif log.data_now:
            reader.run(spec(reader.attempted, log.data_now))
        else:
            time.sleep(0.05)
    wall = time.perf_counter() - start
    feeder.join()
    drain_until = time.perf_counter() + DRAIN_TIMEOUT_S
    while time.perf_counter() < drain_until and q2.exception() is None:
        with log.lock:
            if all(names[n] in log.committed for n in names):
                break
        time.sleep(0.05)
    q2.stop()
    progress += list(q2.recentProgress)
    failed_batches += 0 if q2.exception() is None else 1
    end = time.perf_counter()
    fresh = [log.committed.get(gen.BACKLOG_FILES + i, end) - due[i] for i in range(n2)]
    missing = sum(1 for i in range(n2) if gen.BACKLOG_FILES + i not in log.committed)
    # The layout phase 2 left depends on when maintenance last ran; compact
    # every segment to one file so storage measures the encoding, and the
    # check below covers compaction too.
    files_per_segment = ctx.files_per_segment(db.store.root)
    db.compact()
    db.remove_expires(now_ts=log.data_now)

    # ------------------------------------------------------- correctness
    cutoff = log.data_now - gen.INGEST_RETENTION
    bad = _check(plan, db.store.root, dim, cutoff)
    stored = int(_kept(plan, cutoff).sum())

    e2e = reader.end_to_end(wall, READ_TAIL_PCT)
    metrics = {
        "setup_s": setup_s,
        "query_p50_s": e2e["query_p50_s"],
        "query_tail_s": e2e["query_tail_s"],
        "queries_per_s": e2e["queries_per_s"],
        "ingest_points_per_s": capacity,
        "freshness_p50_s": median(fresh),
        "freshness_tail_s": percentile(fresh, FRESH_TAIL_PCT),
        "storage_bytes_per_point": ctx.store_bytes(db.store.root) / stored if stored else 0.0,
    }
    info = {
        "inputs": dict(plan.properties(), query_mix="reader: 5 classes round robin, newest 15 min"),
        **reader.latency_info(READ_TAIL_PCT),
        "freshness_tail_percentile": FRESH_TAIL_PCT,
        "freshness_samples": n2,
        "stream_files_missing": missing,
        "generator_late_max_s": max(d - u for d, u in zip(dropped, due)),
        "backlog_files_max": backlog_max[0],
        "phase1_s": phase1_s,
        "phase1_batch_s": [round(b["s"], 3) for b in drain],
        "setup": {"session_s": ctx.session_s, "generate_s": gens,
                  "first_batch_s": first_batch_s, "reader_warmup_s": warm_s},
        "maintenance": {"runs": maint_attempted, "failed": maint_failed},
        "wrong_results": bad[:5],
        "errors": (reader.errors + maint_errors)[:5],
    }
    layer = {}
    if ctx.tracer.on:
        layer = reader.per_layer()
        appends = ctx.tracer.durations("segment_store.append")
        bs = [b["s"] for b in log.batches if b["files"]]
        pts = sum(b["points"] for b in log.batches)
        input_rows = sum(p["numInputRows"] for p in progress)
        layer.update({
            "segment_store.append_s": median(appends),
            "segment_store.append_points_per_s": pts / sum(appends) if appends else 0.0,
            "segment_store.files_per_segment": files_per_segment,
            "segment_store.compact_s": sum(ctx.tracer.durations("segment_store.compact")),
            "segment_store.compact_bytes_rewritten": compact_bytes,
            "ingest.batch_s": median(bs),
            "ingest.batch_tail_s": percentile(bs, 90),
            "ingest.batches": len(bs),
            "ingest.points_per_batch": pts / len(bs) if bs else 0.0,
            "ingest.points_committed": pts,
            "ingest.input_rows_per_point": input_rows / pts if pts else 0.0,
            "ingest.backlog_files_max": info["backlog_files_max"],
            "ingest.generator_late_s": info["generator_late_max_s"],
            "tsdb_ops.refresh_label_dim_s":
                median(ctx.tracer.durations("tsdb_ops.refresh_label_dim")),
        })
        for k in ("addBatch", "latestOffset", "walCommit", "commitOffsets", "queryPlanning"):
            layer[f"ingest.trigger.{k}_ms"] = median(
                p["durationMs"][k] for p in progress if k in p["durationMs"] and p["numInputRows"])
    attempted = reader.attempted + gen.BACKLOG_FILES + n2 + maint_attempted
    failed = reader.failed + missing + maint_failed + failed_batches
    return {"metrics": metrics, "layer": layer, "info": info,
            "attempted": attempted, "failed": failed, "correct": not bad}


def _kept(plan: gen.IngestPlan, cutoff: int) -> np.ndarray:
    """Which generated points survive retention at ``cutoff``: a segment
    is dropped once its last second is older than the cutoff."""
    seg = plan.ts[plan.tick] // gen.SEGMENT
    return (seg + 1) * gen.SEGMENT - 1 >= cutoff


def _check(plan: gen.IngestPlan, root: str, dim: Path, cutoff: int) -> list[str]:
    """Every generated point not expired by retention is stored exactly
    once, and the label dim holds exactly the distinct (name, value)
    pairs that were ingested."""
    con = duckdb.connect()
    keys = [",".join(f"{k}={v}" for k, v in gen.label_key(m, lb)) for m, lb in plan.series]
    kept = _kept(plan, cutoff)
    con.register("series_t", pa.table({"sid": np.arange(len(keys)), "lab": keys}))
    con.register("want_t", pa.table({"sid": plan.sidx[kept], "ts": plan.ts[plan.tick[kept]],
                                     "value": plan.values[kept]}))
    con.execute("CREATE TABLE want AS SELECT lab, ts, value FROM want_t JOIN series_t USING (sid)")
    con.execute(
        "CREATE TABLE got AS SELECT array_to_string(list_sort(list_transform(map_entries(labels),"
        " e -> e.key || '=' || e.value)), ',') AS lab, ts, value "
        f"FROM read_parquet('{root}/seg=*/*.parquet', hive_partitioning = true)")
    bad = []
    diff = "SELECT count(*) FROM (SELECT * FROM {} EXCEPT ALL SELECT * FROM {})"
    extra = con.execute(diff.format("got", "want")).fetchone()[0]
    lost = con.execute(diff.format("want", "got")).fetchone()[0]
    if extra or lost:
        bad.append(f"store: {lost} generated points missing, {extra} unexpected or duplicated")
    pairs = {(k, v) for m, lb in plan.series for k, v in gen.label_key(m, lb)}
    got = con.execute(f"SELECT name, value FROM read_parquet('{dim}/*.parquet')").fetchall()
    if set(got) != pairs or len(got) != len(set(got)):
        bad.append(f"label dim: {len(set(got) ^ pairs)} pairs differ, "
                   f"{len(got) - len(set(got))} duplicated")
    return bad
