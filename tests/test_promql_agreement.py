"""Instant/range agreement: an instant query at ``t`` is the one-point
range query ``[t, t]`` (Prometheus ``NewInstantQuery`` runs exactly that),
so ``TSDB.promql(q, t)`` must equal ``TSDB.promql_range(q, t, t, step)``
with the grid ``ts`` column dropped.  Histogram-valued results keep their
``ts``, which is the evaluation time in both APIs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mandodb_spark.functions import native_hist as nh
from mandodb_spark.model import ROW_SCHEMA

AT = 1170  # not a multiple of the step: nothing may depend on alignment
STEP = 60


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory):
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path_factory.mktemp("agree") / "store"))
    rows = []
    for job, slope in (("api", 10.0), ("db", 5.0)):
        for inst in ("i1", "i2"):
            for k in range(21):  # ts 0..1200 every 60 s
                v = k * slope if inst == "i1" or k < 15 else (k - 15) * slope
                rows.append(("reqs", {"job": job, "instance": inst},
                             k * 60, v))
    for k in range(21):
        rows.append(("mem", {"job": "api", "instance": "i1"}, k * 60,
                     100.0 + (k % 4)))
    for le, c in (("0.1", 30.0), ("0.5", 80.0), ("+Inf", 100.0)):
        rows.append(("lat_bucket", {"job": "api", "le": le}, 1140, c))
    rows.append(("lone", {"job": "api"}, 1150, 7.0))
    db.insert_rows(rows)
    obs = [("hlat", {"app": "x"}, t, float(v))
           for t, vs in ((900, [1.0, 2.0]), (1000, [4.0, 8.0]),
                         (1100, [16.0]))
           for v in vs]
    snaps = nh.observe_histograms(spark.createDataFrame(obs, ROW_SCHEMA))
    db.insert_histograms(nh.accumulate_histograms(snaps).select(
        F.lit("hlat").alias("metric"), "labels", "ts", "hist"))
    return db


QUERIES = [
    # plain selectors, matchers, offset / @
    "reqs",
    'reqs{job="api",instance=~"i."}',
    'reqs{instance!="i1"}',
    "mem offset 2m",
    "mem @ 600",
    "mem @ 600 offset 1m",
    # range functions
    "rate(reqs[5m])",
    "rate(reqs[5m] offset 3m)",
    "rate(reqs[5m] @ 600)",
    "increase(reqs[10m])",
    "irate(reqs[5m])",
    "resets(reqs[10m])",
    "resets(lone[10m])",
    "changes(mem[10m])",
    "deriv(mem[10m])",
    "predict_linear(mem[10m], 600)",
    "holt_winters(mem[10m], 0.5, 0.5)",
    # *_over_time
    "avg_over_time(mem[10m])",
    "max_over_time(mem[10m] @ 900)",
    "quantile_over_time(0.5, mem[10m])",
    "count_over_time(reqs[3m])",
    "last_over_time(mem[10m])",
    "mad_over_time(mem[10m])",
    # subqueries
    "max_over_time(rate(reqs[5m])[10m:1m])",
    "max_over_time(sum(reqs)[10m:2m])",
    "avg_over_time(mem[10m:1m] offset 1m)",
    "max_over_time(mem[5m:1m] @ 900)",
    "rate(reqs[10m:1m])",
    # aggregations
    "sum by (job) (rate(reqs[5m]))",
    "sum without (instance) (reqs)",
    "topk(2, reqs)",
    "topk by (job) (1, reqs)",
    "bottomk(1, reqs)",
    'count_values("v", reqs)',
    "quantile(0.5, reqs)",
    "count(reqs)",
    "sum(nosuch)",
    # binary operators
    "reqs + 5",
    "reqs > 60",
    "reqs > bool 60",
    'reqs{job="api"} / on(job, instance) mem',
    "reqs / on(job, instance) group_left mem",
    "reqs > on(job, instance) group_left mem",
    'sum by (job) (reqs) / on(job) group_left sum(reqs)',
    "reqs > on(job, instance) reqs offset 1m",
    "reqs > ignoring(instance) group_left sum by (job) (reqs) / 4",
    'reqs{job="api"} and on(instance) mem',
    'reqs{job="db"} unless on(instance) mem',
    'mem or reqs{job="db"}',
    "2 ^ -1",
    "1 / 0",
    # time(), scalars, vector()
    "time()",
    "time() - timestamp(mem)",
    "minute()",
    "hour(timestamp(mem))",
    "scalar(sum(mem)) * 2",
    "scalar(reqs)",
    "sqrt(16) + 1",
    "vector(42)",
    "clamp(reqs, 20, 100)",
    "round(mem / 3, 0.5)",
    # absent
    "absent(nosuch)",
    'absent(nosuch{job="x"})',
    "absent(mem)",
    'absent_over_time(nosuch{zone="eu"}[5m])',
    "absent_over_time(mem[5m])",
    # classic and native histograms
    "histogram_quantile(0.5, lat_bucket)",
    "histogram_quantile(0.5, hlat)",
    "histogram_quantile(0.9, rate(hlat[5m]))",
    "histogram_quantile(0.5, sum by (app) (hlat))",
    "histogram_count(hlat)",
    "hlat",
    "hlat * 2",
    "rate(hlat[5m])",
    "sum(hlat)",
]


def _rows(df):
    """(labels, value) — or (labels, (ts, histogram)) — sorted by labels;
    NaN becomes a string so equal results compare equal."""
    out = []
    for r in df.collect():
        if "hist" in df.columns:
            h = r["hist"].asDict()
            h["pos"] = sorted((h["pos"] or {}).items())
            h["neg"] = sorted((h["neg"] or {}).items())
            val = (r["ts"], sorted(h.items()))
        else:
            val = "NaN" if math.isnan(r["value"]) else r["value"]
        out.append((sorted(r["labels"].items()), val))
    return sorted(out, key=str)


@pytest.mark.parametrize("q", QUERIES)
def test_instant_equals_one_point_range(db, q):
    inst_df = db.promql(q, AT)
    rng_df = db.promql_range(q, AT, AT, STEP)
    if "hist" in rng_df.columns:
        assert inst_df.columns == ["labels", "ts", "hist"]
    else:
        assert inst_df.columns == ["labels", "value"]
        rng_df = rng_df.drop("ts")
    inst, rng = _rows(inst_df), _rows(rng_df)
    assert [k for k, _ in inst] == [k for k, _ in rng]
    for (_, a), (_, b) in zip(inst, rng):
        assert a == (pytest.approx(b) if isinstance(b, float) else b)
