"""Query specs: how each one is sent to the engine, how its result is
normalised, and an independent DuckDB computation of the expected answer
over the generated samples (flat label columns, not the engine's map)."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa

from gen import label_key

LABELS = ["job", "instance", "region", "env", "code"]
CLASSES = ("query_range", "query_range_regex", "query_series", "query_label_values",
           "promql_range")
LOOKBACK = 300


# ---------------------------------------------------------------- engine side
def _dur(seconds: int) -> str:
    return f"{seconds // 3600}h" if seconds % 3600 == 0 else f"{seconds // 60}m"


def promql_text(q: dict) -> str:
    body = ",".join(f'{n}{op}"{v}"' for n, op, v in q["matchers"])
    sel = q["metric"] + ("{" + body + "}" if body else "")
    if q["fn"] == "inst":
        inner = sel
    else:
        inner = f"{q['fn']}({sel}[{_dur(q['window'])}])"
    if q["agg"] is None:
        return inner
    if q["agg"] == "topk":
        return f"topk({q['k']}, {inner})"
    return f"{q['agg']} by ({', '.join(q['by'])}) ({inner})"


def engine_call(db, q: dict):
    """The DataFrame-returning call into the engine for one spec."""
    from mandodb_spark import LabelMatcher

    def lms(ms):
        return [LabelMatcher(n, v, op == "=~") for n, op, v in ms]

    cls = q["cls"]
    if cls in ("query_range", "query_range_regex"):
        return db.query_range(q["metric"], lms(q["matchers"]), q["start"], q["end"])
    if cls == "query_series":
        return db.query_series(lms(q["matchers"]), q["start"], q["end"])
    if cls == "query_label_values":
        return db.query_label_values(q["label"], q["start"], q["end"], lms(q["matchers"]))
    return db.promql_range(promql_text(q), q["start"], q["end"], q["step"])


def normalise(q: dict, rows) -> object:
    """Collected engine rows -> the comparable form the oracle also builds."""
    cls = q["cls"]
    if cls in ("query_range", "query_range_regex"):
        return {label_key(None, r["labels"]): [(p["ts"], p["value"]) for p in r["points"]]
                for r in rows}
    if cls == "query_series":
        return sorted(label_key(None, r["labels"]) for r in rows)
    if cls == "query_label_values":
        return [r["value"] for r in rows]
    if q["agg"] == "topk":
        out: dict[int, list] = {}
        for r in rows:
            out.setdefault(r["ts"], []).append(r["value"])
        return {t: sorted(v) for t, v in out.items()}
    # bare ``<fn>_over_time`` results: the engine keeps ``__name__`` where
    # Prometheus drops it; the check compares series and values only
    drop = q["agg"] is None and q["fn"] != "inst"
    return {(label_key(None, {k: v for k, v in r["labels"].items()
                              if not (drop and k == "__name__")}), r["ts"]): r["value"]
            for r in rows}


# ---------------------------------------------------------------- oracle side
class Oracle:
    def __init__(self, series: list[tuple[str, dict]], ts: np.ndarray, values: np.ndarray) -> None:
        self.series = series
        cols = {"sid": pa.array(np.arange(len(series))),
                "metric": pa.array([m for m, _ in series])}
        for lb in LABELS:
            cols[lb] = pa.array([labels.get(lb) for _, labels in series], pa.string())
        n, ticks = values.shape
        self.con = duckdb.connect()
        self.con.register("series_t", pa.table(cols))
        self.con.register("pts_t", pa.table({
            "sid": np.repeat(np.arange(n), ticks), "ts": np.tile(ts, n), "value": values.ravel()}))
        self.con.execute("CREATE TABLE series AS SELECT * FROM series_t")
        self.con.execute("CREATE TABLE pts AS SELECT * FROM pts_t ORDER BY ts")

    @staticmethod
    def _where(ms) -> str:
        out = []
        for n, op, v in ms:
            col = "metric" if n == "__name__" else n
            out.append(f"{col} = '{v}'" if op == "=" else f"regexp_full_match({col}, '{v}')")
        return " AND ".join(out) or "TRUE"

    def _rows(self, sql: str):
        return self.con.execute(sql).fetchall()

    def expected(self, q: dict) -> object:
        cls = q["cls"]
        if cls in ("query_range", "query_range_regex"):
            where = self._where([("__name__", "=", q["metric"])] + q["matchers"])
            out: dict = {}
            for sid, ts, v in self._rows(
                    f"SELECT sid, ts, value FROM pts JOIN series USING (sid) WHERE {where} "
                    f"AND ts BETWEEN {q['start']} AND {q['end']} ORDER BY sid, ts"):
                m, lb = self.series[sid]
                out.setdefault(label_key(m, lb), []).append((ts, v))
            return out
        if cls == "query_series":
            rows = self._rows(
                f"SELECT DISTINCT sid FROM pts JOIN series USING (sid) WHERE "
                f"{self._where(q['matchers'])} AND ts BETWEEN {q['start']} AND {q['end']}")
            return sorted(label_key(*self.series[sid]) for (sid,) in rows)
        if cls == "query_label_values":
            col = "metric" if q["label"] == "__name__" else q["label"]
            return [v for (v,) in self._rows(
                f"SELECT DISTINCT {col} FROM pts JOIN series USING (sid) WHERE "
                f"{self._where(q['matchers'])} AND ts BETWEEN {q['start']} AND {q['end']} "
                f"AND {col} IS NOT NULL ORDER BY 1")]
        return self._promql(q)

    def _promql(self, q: dict) -> object:
        start, end, step, fn = q["start"], q["end"], q["step"], q["fn"]
        reach = LOOKBACK if fn == "inst" else q["window"] - 1
        where = self._where([("__name__", "=", q["metric"])] + q["matchers"])
        cov = (
            f"SELECT sid, t, ts, value FROM "
            f"(SELECT sid, ts, value FROM pts JOIN series USING (sid) WHERE {where} "
            f" AND ts BETWEEN {start - reach} AND {end}) s "
            f"JOIN (SELECT unnest(range({start}, {end + 1}, {step})) AS t) g "
            f"ON s.ts BETWEEN g.t - {reach} AND g.t")
        if fn == "inst":
            vec = f"SELECT sid, t, arg_max(value, ts) AS v FROM ({cov}) GROUP BY sid, t"
        elif fn == "rate":
            vec = (
                f"SELECT sid, t, sum(inc) / (max(ts) - min(ts)) AS v FROM ("
                f" SELECT sid, t, ts, CASE WHEN prev IS NULL THEN 0 WHEN value >= prev"
                f"  THEN value - prev ELSE value END AS inc FROM ("
                f"  SELECT *, lag(value) OVER (PARTITION BY sid, t ORDER BY ts) AS prev"
                f"  FROM ({cov}))) GROUP BY sid, t HAVING count(*) >= 2 AND max(ts) > min(ts)")
        else:
            agg = fn.split("_")[0]
            vec = f"SELECT sid, t, {agg}(value) AS v FROM ({cov}) GROUP BY sid, t"
        keep_name = fn == "inst"
        if q["agg"] is None:
            out = {}
            for sid, t, v in self._rows(vec):
                m, lb = self.series[sid]
                out[(label_key(m if keep_name else None, lb), t)] = v
            return out
        if q["agg"] == "topk":
            tops: dict[int, list] = {}
            for t, v in self._rows(
                    f"SELECT t, v FROM (SELECT t, v, row_number() OVER (PARTITION BY t "
                    f"ORDER BY v DESC) AS r FROM ({vec})) WHERE r <= {q['k']}"):
                tops.setdefault(t, []).append(v)
            return {t: sorted(v) for t, v in tops.items()}
        by = ", ".join(q["by"])
        out = {}
        for row in self._rows(
                f"SELECT {by}, t, {q['agg']}(v) FROM ({vec}) JOIN series USING (sid) "
                f"GROUP BY {by}, t"):
            *vals, t, v = row
            out[(tuple(sorted(zip(q["by"], vals))), t)] = v
        return out


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same(got, want) -> bool:
    """Deep equality with a float tolerance for re-ordered sums."""
    if isinstance(want, dict):
        return (isinstance(got, dict) and got.keys() == want.keys()
                and all(same(got[k], want[k]) for k in want))
    if isinstance(want, (list, tuple)):
        return (isinstance(got, (list, tuple)) and len(got) == len(want)
                and all(same(g, w) for g, w in zip(got, want)))
    return _close(got, want)


def describe(q: dict) -> str:
    if q["cls"] == "promql_range":
        return f"promql_range({promql_text(q)!r}, {q['start']}, {q['end']}, {q['step']})"
    args = {k: v for k, v in q.items() if k != "cls"}
    return f"{q['cls']}({args})"
