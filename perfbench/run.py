"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard|history|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout that holds ``mandodb_spark``.  Prints every
metric by name with its unit, then, as the last line of standard output,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Exits 1 if a correctness check fails and 2 if the program
is not there.  Scratch data lives in ``.perfbench_work/`` and is removed at
the end; a traced run writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

from oracle import CLASSES  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s", "query_p50_s": "s", "query_tail_s": "s", "queries_per_s": "1/s",
    "ingest_points_per_s": "points/s", "freshness_p50_s": "s", "freshness_tail_s": "s",
    "storage_bytes_per_point": "B/point", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "segment_store.append_s": "s", "segment_store.append_points_per_s": "points/s",
    "segment_store.relation_s": "s", "segment_store.files_read_per_query": "files",
    "segment_store.bytes_read_per_query": "B", "segment_store.rows_read_per_result_row": "ratio",
    "segment_store.result_rows": "rows", "segment_store.files_per_segment": "files",
    "segment_store.compact_s": "s", "segment_store.compact_bytes_rewritten": "B",
    "ingest.batch_s": "s", "ingest.batch_tail_s": "s", "ingest.batches": "count",
    "ingest.points_per_batch": "points", "ingest.points_committed": "points",
    "ingest.input_rows_per_point": "ratio",
    "ingest.trigger.addBatch_ms": "ms", "ingest.trigger.latestOffset_ms": "ms",
    "ingest.trigger.walCommit_ms": "ms", "ingest.trigger.commitOffsets_ms": "ms",
    "ingest.trigger.queryPlanning_ms": "ms",
    "ingest.backlog_files_max": "files", "ingest.generator_late_s": "s",
    "tsdb_ops.refresh_label_dim_s": "s",
    **{f"engine.{c}.{s}_s": "s" for c in CLASSES for s in ("plan", "optimize", "exec")},
    "engine.queries_traced": "count", "engine.jobs_per_query": "count",
    "engine.stages_per_query": "count", "engine.tasks_per_query": "count",
    "promql_parser.parse_s": "s",
    "trace.query_p50_s": "s", "trace.overhead_s": "s",
}
WORKLOADS = ("dashboard", "history", "ingest")
# Spark task slots.  Fewer than the machine's vCPUs on purpose: the JVM's JIT
# and GC threads, the Python client and (on ``ingest``) the stream need the
# rest, and a stage waits for its slowest task, so every extra slot is one
# more chance to wait on a vCPU the host has taken away.  On the small
# inputs here two slots are also faster than four.
CORES = 2


class Context:
    """What a workload needs: the session, its scratch directory, the
    tracer, and the measurements every workload shares."""

    def __init__(self, args, spark, session_s: float, work: Path, tracer) -> None:
        self.seed, self.seconds = args.seed, args.seconds
        self.spark, self.session_s, self.work, self.tracer = spark, session_s, work, tracer

    # spans around the calls into each layer (traced runs only)
    def instrument_store(self, store) -> None:
        if self.tracer.on:
            self.tracer.wrap(store, "append", "segment_store.append")

    def instrument_reads(self, db) -> None:
        if self.tracer.on:
            from mandodb_spark.functions import promql_parser

            self.tracer.wrap(db.store, "relation", "segment_store.relation")
            self.tracer.wrap(promql_parser, "parse", "promql_parser.parse")

    def instrument_ingest(self) -> None:
        if self.tracer.on:
            from mandodb_spark.operators import tsdb_ops

            self.tracer.wrap(tsdb_ops, "refresh_label_dim", "tsdb_ops.refresh_label_dim")

    # storage
    @staticmethod
    def store_bytes(root: str) -> int:
        return sum(p.stat().st_size for p in Path(root).glob("seg=*/*.parquet"))

    @staticmethod
    def segment_bytes(root: str) -> dict[int, int]:
        out: dict[int, int] = {}
        for p in Path(root).glob("seg=*/*.parquet"):
            seg = int(p.parent.name.split("=", 1)[1])
            out[seg] = out.get(seg, 0) + p.stat().st_size
        return out

    @staticmethod
    def files_per_segment(root: str) -> float:
        segs = list(Path(root).glob("seg=*"))
        return sum(len(list(s.glob("*.parquet"))) for s in segs) / len(segs) if segs else 0.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this process plus the driver JVM it launched."""
    kb = _vm_hwm_kb(os.getpid())
    for pid in _descendants(os.getpid()):
        try:
            if Path(f"/proc/{pid}/comm").read_text().strip() == "java":
                kb += _vm_hwm_kb(pid)
        except OSError:
            pass
    return kb / 1024.0


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal)."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    except (OSError, ValueError):
        return [0] * 8


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_ticks`` readings.  Reported with every run: on a shared host,
    the dashboard runs with 8% or more of steal are the ones whose query
    latencies double."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def _env(work: Path) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")  # Spark's own default
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "mandodb_spark" / "__init__.py").is_file():
        print(f"mandodb_spark not found next to {HERE.name}/; run from a checkout of the repo",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _env(work)

    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    ticks = _cpu_ticks()
    spark = None
    try:
        from mandodb_spark import get_spark

        with tracer.span("session.start"):
            cores = min(CORES, len(os.sched_getaffinity(0)))
            spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - _T_START
        ctx = Context(args, spark, session_s, work, tracer)
        if args.workload == "ingest":
            import ingest

            res = ingest.run(ctx)
        else:
            import reads

            res = reads.run(ctx, args.workload)
        res["metrics"]["peak_rss_mb"] = peak_rss_mb()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    info = dict(res["info"], workload=args.workload, seed=args.seed, seconds=args.seconds,
                host_steal_share=round(_steal_share(ticks, _cpu_ticks()), 4))
    print("inputs: " + json.dumps(info.pop("inputs")))
    print("run: " + json.dumps(info, default=str))
    if tracer.on:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        tracer.dump(out / f"spans-{args.workload}-{args.seed}.json")
        layer = {"session.start_s": tracer.durations("session.start")[0], **res["layer"]}
        names, report = PER_LAYER, layer
        for name, secs in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"self time  {name:<45} {secs:10.4f} s")
    else:
        names, report = END_TO_END, res["metrics"]
    failed_frac = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    metrics = {}
    for name, unit in names.items():
        value = float(report.get(name, 0.0))
        metrics[name] = {"value": value, "unit": unit}
        print(f"{name:<45} {value:16.6f} {unit}")
    print(f"{'failed_ops_frac':<45} {failed_frac:16.6f} ratio")
    print(f"correct: {res['correct']}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
