"""Closed-loop query client shared by every workload.

Each query is timed from the engine call through ``collect()`` of the
full result.  A failed query is never retried; it counts as missing every
latency limit, so its latency is recorded as the whole run length.

In a traced run every other query of each class is traced: it runs under
its own Spark job group, its plan / optimize / exec steps get spans, and
the job, stage and task counts plus the scan metrics of its executed plan
are read after ``collect``.  The untraced queries of the same class in between give the
tracing overhead under the same conditions.
"""

from __future__ import annotations

import time

from oracle import CLASSES, engine_call
from spans import job_counts, median, percentile, scan_metrics


class Client:
    def __init__(self, spark, db, tracer, fail_latency_s: float, name: str = "q") -> None:
        self.sc = spark.sparkContext
        self.db = db
        self.tracer = tracer
        self.fail_latency_s = fail_latency_s
        self.name = name
        self.latencies: list[float] = []
        self.per_class: dict[str, int] = {}
        self.traced_lat: dict[str, list[float]] = {}
        self.untraced_lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.results: list[tuple[dict, list]] = []
        self.counts: list[dict] = []

    def run(self, q: dict, keep: bool = False) -> None:
        seen = self.per_class.get(q["cls"], 0)
        self.per_class[q["cls"]] = seen + 1
        traced = self.tracer.on and seen % 2 == 0
        self.attempted += 1
        t = time.perf_counter()
        try:
            rows = self._traced(q) if traced else engine_call(self.db, q).collect()
        except Exception as e:  # counted, never retried
            self.failed += 1
            self.errors.append(f"{q['cls']}: {type(e).__name__}: {str(e)[:300]}")
            self.latencies.append(self.fail_latency_s)
            return
        lat = time.perf_counter() - t
        self.latencies.append(lat)
        (self.traced_lat if traced else self.untraced_lat).setdefault(q["cls"], []).append(lat)
        if keep:
            self.results.append((q, rows))

    def _traced(self, q: dict) -> list:
        cls, tr = q["cls"], self.tracer
        group = f"{self.name}{self.attempted}"
        self.sc.setJobGroup(group, cls)
        try:
            with tr.span("query", cls=cls):
                with tr.span(f"engine.{cls}.plan"):
                    df = engine_call(self.db, q)
                with tr.span(f"engine.{cls}.optimize"):
                    plan = df._jdf.queryExecution().executedPlan()
                with tr.span(f"engine.{cls}.exec"):
                    rows = df.collect()
            scans = scan_metrics(plan)
            self.counts.append(dict(job_counts(self.sc, group), cls=cls, result_rows=len(rows),
                                    **scans))
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return rows

    # ------------------------------------------------------------ reporting
    def end_to_end(self, wall_s: float, tail_pct: float) -> dict:
        return {"query_p50_s": median(self.latencies),
                "query_tail_s": percentile(self.latencies, tail_pct),
                "queries_per_s": len(self.latencies) / wall_s}

    def latency_info(self, tail_pct: float) -> dict:
        n = len(self.latencies)
        return {"queries": n, "query_tail_percentile": tail_pct,
                "samples_beyond_tail": round(n * (100 - tail_pct) / 100, 1),
                "latencies_s": [round(x, 3) for x in self.latencies]}

    def per_layer(self) -> dict:
        tr, out = self.tracer, {}
        for c in CLASSES:
            for step in ("plan", "optimize", "exec"):
                out[f"engine.{c}.{step}_s"] = median(tr.durations(f"engine.{c}.{step}"))
        n = len(self.counts)
        res_rows = sum(c["result_rows"] for c in self.counts)
        out.update({
            "engine.queries_traced": n,
            "engine.jobs_per_query": sum(c["jobs"] for c in self.counts) / n if n else 0.0,
            "engine.stages_per_query": sum(c["stages"] for c in self.counts) / n if n else 0.0,
            "engine.tasks_per_query": sum(c["tasks"] for c in self.counts) / n if n else 0.0,
            "segment_store.files_read_per_query": median(c["files"] for c in self.counts),
            "segment_store.bytes_read_per_query": median(c["bytes"] for c in self.counts),
            "segment_store.result_rows": res_rows,
            "segment_store.rows_read_per_result_row":
                sum(c["rows"] for c in self.counts) / res_rows if res_rows else 0.0,
            "segment_store.relation_s": median(tr.durations("segment_store.relation")),
            "promql_parser.parse_s": median(tr.durations("promql_parser.parse")),
            "trace.query_p50_s": median(x for v in self.traced_lat.values() for x in v),
            "trace.overhead_s": self.overhead_s(),
        })
        return out

    def overhead_s(self) -> float:
        """Traced minus untraced median latency, per query class, weighted
        by how often each class ran."""
        num = den = 0.0
        for cls, traced in self.traced_lat.items():
            untraced = self.untraced_lat.get(cls)
            if untraced:
                n = len(traced) + len(untraced)
                num += n * (median(traced) - median(untraced))
                den += n
        return num / den if den else 0.0
