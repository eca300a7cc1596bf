"""Seeded input generator for the benchmark.

Everything the program under test receives is made here from the seed:
the samples of the query store, the ingest files and their due times, the
dashboard panels and the history queries.  The structure of a workload
(series count, span, query-class mix, file sizes, offered rate) is fixed
by the constants below; the seed changes only label values, sample values,
which metrics a query touches and where its window falls, so two seeds
cost the same amount of work.
"""

from __future__ import annotations

import math
from functools import partial

import numpy as np
import pyarrow as pa

SEGMENT = 7200            # the store's segment duration (2 h)
T0 = 1_700_006_400        # first sample; aligned to a segment boundary
INTERVAL = 60             # scrape interval, seconds
REGIONS = ["eu-west", "us-east", "ap-south", "sa-east"]
JOBS = ["api", "node", "db", "cache"]
COUNTERS = [
    "http_requests_total", "node_cpu_seconds_total", "node_network_receive_bytes_total",
    "node_disk_io_time_seconds_total", "process_cpu_seconds_total", "grpc_server_handled_total",
    "node_context_switches_total", "api_errors_total",
]
GAUGES = [
    "node_memory_free_bytes", "node_load1", "process_resident_memory_bytes",
    "node_filesystem_avail_bytes", "go_goroutines", "queue_depth", "temperature_celsius",
    "node_cpu_utilisation",
]
METRICS = [m for pair in zip(COUNTERS, GAUGES) for m in pair]  # 16, alternating kinds

# query store shared by ``dashboard`` and ``history``
STORE_COMBOS = 12         # label combinations per metric -> 192 series
STORE_HOURS = 12          # 6 segments, 138,240 points

# ``ingest``
INGEST_COMBOS = 32        # 512 series, plus churn
CHURN_SERIES = 16         # new series that appear half-way through phase 2
BACKLOG_FILES = 5
BACKLOG_TICKS_PER_FILE = 24    # 120 scrapes = 2 h of backlog
STREAM_TICKS_PER_FILE = 3      # 1,536 points per phase-2 file
FILE_INTERVAL_S = 0.5          # open-loop schedule: one file per 0.5 s
LATE_SHARE = 0.05              # points that arrive out of order
LATE_MAX_TICKS = SEGMENT // INTERVAL  # up to one segment late
INGEST_RETENTION = 2 * 3600


def is_counter(metric: str) -> bool:
    return metric in COUNTERS


def make_series(rng: np.random.Generator, combos: int) -> list[tuple[str, dict]]:
    """``len(METRICS) * combos`` series with 4-5 labels each.  The seed
    picks which hosts and regions appear, not how many."""
    hosts = combos // 2
    regions = [REGIONS[i] for i in rng.permutation(len(REGIONS))[:2]]
    host_ids = rng.choice(100, size=hosts, replace=False)
    out = []
    for i, metric in enumerate(METRICS):
        for c in range(combos):
            labels = {
                "job": JOBS[i % len(JOBS)],
                "instance": f"host-{host_ids[c % hosts]:02d}",
                "region": regions[c // hosts],
                "env": "staging" if c % 5 == 0 else "prod",
            }
            if is_counter(metric):
                labels["code"] = "500" if c % 7 == 3 else "200"
            out.append((metric, labels))
    return out


def make_values(rng: np.random.Generator, series: list[tuple[str, dict]], ticks: int) -> np.ndarray:
    """Realistic sample values, shape (series, ticks): gauges are random
    walks rounded to 0.1; counters rise monotonically and reset to zero now
    and then (about once per 16 h)."""
    n = len(series)
    counter = np.array([is_counter(m) for m, _ in series])
    walk = np.cumsum(rng.normal(0.0, 1.0, size=(n, ticks)), axis=1)
    gauges = np.abs(walk + rng.uniform(20, 500, size=(n, 1)))
    inc = np.round(rng.gamma(2.0, 5.0, size=(n, ticks)), 1)
    reset = rng.random((n, ticks)) < 1.0 / 1000
    cs = np.cumsum(inc, axis=1)
    offset = np.maximum.accumulate(np.where(reset, cs - inc, 0.0), axis=1)
    counters = cs - offset
    return np.round(np.where(counter[:, None], counters, gauges), 1)


_MAP = pa.map_(pa.string(), pa.string())


def to_table(series: list[tuple[str, dict]], sidx: np.ndarray, ts: np.ndarray,
             values: np.ndarray) -> pa.Table:
    """Rows in the ingest schema (metric, labels, ts, value)."""
    idx = pa.array(sidx)
    metrics = pa.array([m for m, _ in series]).take(idx)
    labels = pa.array([list(lb.items()) for _, lb in series], type=_MAP).take(idx)
    return pa.table({"metric": metrics, "labels": labels,
                     "ts": pa.array(ts, pa.int64()), "value": pa.array(values, pa.float64())})


def label_key(metric: str | None, labels: dict) -> tuple:
    """Canonical form of a label set, as the oracle and the result
    normaliser both spell it."""
    d = dict(labels)
    if metric is not None:
        d["__name__"] = metric
    return tuple(sorted(d.items()))


# --------------------------------------------------------------- query store
class Store:
    """The generated query store: series, a (series, tick) value grid and
    the matching ingest-schema table."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng([seed, 1])
        self.series = make_series(rng, STORE_COMBOS)
        ticks = STORE_HOURS * 3600 // INTERVAL
        self.ts = T0 + INTERVAL * np.arange(ticks, dtype=np.int64)
        self.values = make_values(rng, self.series, ticks)
        self.start, self.end = int(self.ts[0]), int(self.ts[-1])
        n = len(self.series)
        self.sidx = np.repeat(np.arange(n), ticks)
        self.points = n * ticks

    def table(self) -> pa.Table:
        return to_table(self.series, self.sidx, np.tile(self.ts, len(self.series)),
                        self.values.ravel())

    def properties(self) -> dict:
        return {
            "series": len(self.series),
            "labels_per_series": sorted({len(lb) + 1 for _, lb in self.series}),
            "interval_s": INTERVAL,
            "span_s": self.end - self.start + INTERVAL,
            "points": self.points,
            "segments": STORE_HOURS * 3600 // SEGMENT,
            "late_share": 0.0,
            "series_churn": 0,
        }


def matchers_for(rng, series, metric, kinds):
    """Matchers on labels every series of ``metric`` carries; values come
    from series that exist, so no query is empty by accident."""
    lbs = [lb for m, lb in series if m == metric]
    pick = lbs[rng.integers(len(lbs))]
    out = []
    for kind in kinds:
        if kind == "instance":
            out.append(("instance", "=", pick["instance"]))
        elif kind == "region":
            out.append(("region", "=", pick["region"]))
        elif kind == "env":
            out.append(("env", "=", "prod"))
        elif kind == "instance_re":
            stem = pick["instance"][:-1]  # host-4 of host-42 -> host-4.
            out.append(("instance", "=~", stem + "."))
        elif kind == "region_re":
            out.append(("region", "=~", pick["region"].split("-")[0] + "-.*"))
    return out


TOPK = 3


def pick_metric(rng, kind: str) -> str:
    names = COUNTERS if kind == "counter" else GAUGES
    return names[rng.integers(len(names))]


def promql_query(rng, series, agg, by, fn, kind, window, start, end, step,
                 sel_kinds=()) -> dict:
    metric = pick_metric(rng, kind)
    return {"cls": "promql_range", "agg": agg, "by": list(by), "k": TOPK, "fn": fn,
            "metric": metric, "matchers": matchers_for(rng, series, metric, sel_kinds),
            "window": window, "start": start, "end": end, "step": step}


def range_query(rng, series, kind, kinds, start, end) -> dict:
    metric = pick_metric(rng, kind)
    ms = matchers_for(rng, series, metric, kinds)
    cls = "query_range_regex" if any(op == "=~" for _, op, _ in ms) else "query_range"
    return {"cls": cls, "metric": metric, "matchers": ms, "start": start, "end": end}


def series_query(rng, series, kind, kinds, start, end) -> dict:
    metric = pick_metric(rng, kind)
    return {"cls": "query_series", "matchers": [("__name__", "=", metric)]
            + matchers_for(rng, series, metric, kinds), "start": start, "end": end}


def label_values_query(rng, series, label, kind, start, end) -> dict:
    metric = pick_metric(rng, kind)
    return {"cls": "query_label_values", "label": label,
            "matchers": [("__name__", "=", metric)], "start": start, "end": end}


ZIPF_S = 1.1


def dashboard_panels(seed: int, store: Store) -> list[dict]:
    """Twenty panels in popularity order.  Class, shape, window and step of
    each panel are fixed; the seed picks metrics and label values."""
    rng, s, end = np.random.default_rng([seed, 2]), store.series, store.end
    P, R = partial(promql_query, rng, s), partial(range_query, rng, s)
    S, L = partial(series_query, rng, s), partial(label_values_query, rng, s)
    makers = [
        lambda: P("sum", ["job"], "rate", "counter", 300, end - 3600, end, 30),
        lambda: P("avg", ["region"], "inst", "gauge", 0, end - 1800, end, 15),
        lambda: R("gauge", ["instance"], end - 900, end),
        lambda: P("topk", [], "rate", "counter", 300, end - 900, end, 15),
        lambda: P(None, [], "max_over_time", "gauge", 300, end - 3600, end, 60, ["instance"]),
        lambda: S("counter", ["region"], end - 3600, end),
        lambda: P("sum", ["instance"], "rate", "counter", 120, end - 1800, end, 30, ["region"]),
        lambda: R("counter", ["instance_re"], end - 1800, end),
        lambda: P("max", ["region"], "avg_over_time", "gauge", 300, end - 3600, end, 30),
        lambda: L("instance", "gauge", end - 3600, end),
        lambda: P("sum", ["region"], "rate", "counter", 300, end - 900, end, 15, ["env"]),
        lambda: R("counter", ["instance", "region"], end - 3600, end),
        lambda: P("avg", ["job"], "inst", "gauge", 0, end - 3600, end, 60),
        lambda: S("gauge", ["env"], end - 900, end),
        lambda: P("sum", ["job"], "rate", "counter", 120, end - 1800, end, 30),
        lambda: R("gauge", ["region_re"], end - 900, end),
        lambda: P("avg", ["instance"], "max_over_time", "gauge", 600, end - 3600, end, 60),
        lambda: L("region", "counter", end - 900, end),
        lambda: P("sum", ["code"], "rate", "counter", 300, end - 3600, end, 60),
        lambda: R("gauge", ["instance", "env"], end - 1800, end),
    ]
    return [make() for make in makers]


def zipf_order(n_items: int, s: float = ZIPF_S):
    """Endless deterministic Zipf-skewed request order (smooth weighted
    round robin): item r is picked with frequency proportional to
    1/(r+1)^s and the picks are spread evenly, so every run of the same
    length sends the same mix."""
    w = [1.0 / (r + 1) ** s for r in range(n_items)]
    total = sum(w)
    cur = [0.0] * n_items
    while True:
        for i in range(n_items):
            cur[i] += w[i]
        best = max(range(n_items), key=cur.__getitem__)
        cur[best] -= total
        yield best


# history: every query distinct and spanning the whole store
HISTORY_QUERIES = 400


def history_queries(seed: int, store: Store) -> list[dict]:
    rng, s = np.random.default_rng([seed, 3]), store.series
    P, R = partial(promql_query, rng, s), partial(range_query, rng, s)
    S, L = partial(series_query, rng, s), partial(label_values_query, rng, s)
    makers = [
        lambda a, b: P("sum", ["job", "region"], "rate", "counter", 1800, a, b, 1800),
        lambda a, b: R("gauge", ["instance", "region"], a, b),
        lambda a, b: P("avg", ["region"], "avg_over_time", "gauge", 3600, a, b, 3600),
        lambda a, b: S("counter", [], a, b),
        lambda a, b: P("topk", [], "max_over_time", "gauge", 3600, a, b, 1800),
        lambda a, b: R("counter", ["instance_re", "region"], a, b),
        lambda a, b: P("avg", ["instance"], "rate", "counter", 3600, a, b, 3600),
        lambda a, b: L("instance", "counter", a, b),
        lambda a, b: P("sum", ["env"], "sum_over_time", "gauge", 1800, a, b, 1800),
        lambda a, b: R("gauge", ["instance", "env"], a, b),
    ]
    out = []
    for i in range(HISTORY_QUERIES):
        # the whole store, nudged by whole minutes so no two queries repeat
        a = store.start + 60 * int(rng.integers(0, 30))
        b = store.end - 60 * int(rng.integers(0, 30))
        out.append(makers[i % len(makers)](a, b))
    return out


# -------------------------------------------------------------------- ingest
class IngestPlan:
    """All files of the ``ingest`` workload: a backlog drained in phase 1
    and an open-loop stream of files for phase 2, each with its due time
    (seconds after phase 2 starts)."""

    def __init__(self, seed: int, seconds: int) -> None:
        rng = np.random.default_rng([seed, 4])
        base = make_series(rng, INGEST_COMBOS)
        churn = []
        for j in range(CHURN_SERIES):
            metric, labels = base[int(rng.integers(len(base)))]
            churn.append((metric, dict(labels, instance=f"host-new-{j:02d}")))
        self.series = base + churn
        self.stream_files = max(1, math.ceil(seconds / FILE_INTERVAL_S))
        backlog_ticks = BACKLOG_FILES * BACKLOG_TICKS_PER_FILE
        ticks = backlog_ticks + self.stream_files * STREAM_TICKS_PER_FILE
        self.ts = T0 + INTERVAL * np.arange(ticks, dtype=np.int64)
        values = make_values(rng, self.series, ticks)
        # natural file of every tick
        tick_file = np.concatenate([
            np.arange(backlog_ticks) // BACKLOG_TICKS_PER_FILE,
            BACKLOG_FILES + np.arange(ticks - backlog_ticks) // STREAM_TICKS_PER_FILE,
        ])
        n = len(self.series)
        sidx = np.repeat(np.arange(n), ticks)
        tick = np.tile(np.arange(ticks), n)
        # churned series exist only from the middle of phase 2 on
        churn_from = backlog_ticks + (ticks - backlog_ticks) // 2
        keep = (sidx < len(base)) | (tick >= churn_from)
        sidx, tick = sidx[keep], tick[keep]
        vals = values[sidx, tick]
        # out-of-order arrivals: a share of points is held back by up to one
        # segment and lands in a later file
        late = rng.random(len(tick)) < LATE_SHARE
        delay = rng.integers(1, LATE_MAX_TICKS + 1, size=len(tick))
        arrive_tick = np.minimum(np.where(late, tick + delay, tick), ticks - 1)
        self.n_files = BACKLOG_FILES + self.stream_files
        file_of = tick_file[arrive_tick]
        order = np.argsort(file_of, kind="stable")
        bounds = np.searchsorted(file_of[order], np.arange(self.n_files + 1))
        self.files: list[pa.Table] = []
        self.file_max_ts: list[int] = []
        for f in range(self.n_files):
            sel = order[bounds[f]:bounds[f + 1]]
            self.files.append(to_table(self.series, sidx[sel], self.ts[tick[sel]], vals[sel]))
            self.file_max_ts.append(int(self.ts[tick[sel]].max()))
        self.sidx, self.tick, self.values = sidx, tick, vals
        self.points = len(sidx)
        self.late_points = int(late.sum())
        self.due_s = [i * FILE_INTERVAL_S for i in range(self.stream_files)]

    def backlog(self) -> list[pa.Table]:
        return self.files[:BACKLOG_FILES]

    def stream(self) -> list[pa.Table]:
        return self.files[BACKLOG_FILES:]

    def backlog_points(self) -> int:
        return sum(t.num_rows for t in self.backlog())

    def stream_points(self) -> int:
        return sum(t.num_rows for t in self.stream())

    def properties(self) -> dict:
        return {
            "series": len(self.series),
            "labels_per_series": sorted({len(lb) + 1 for _, lb in self.series}),
            "interval_s": INTERVAL,
            "span_s": int(self.ts[-1] - self.ts[0]) + INTERVAL,
            "points": self.points,
            "late_share": round(self.late_points / self.points, 4),
            "late_max_s": LATE_MAX_TICKS * INTERVAL,
            "series_churn": CHURN_SERIES,
            "backlog_files": BACKLOG_FILES,
            "backlog_points": self.backlog_points(),
            "stream_files": self.stream_files,
            "offered_points_per_s":
                round(self.stream_points() / (self.stream_files * FILE_INTERVAL_S), 1),
            "file_interval_s": FILE_INTERVAL_S,
            "retention_s": INGEST_RETENTION,
        }
