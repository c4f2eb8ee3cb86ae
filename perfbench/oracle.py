"""DuckDB oracle for the dashboard panels.

Each panel is restated in SQL over the generator's own samples parquet
``(tenant, name, instance, ts, value)`` with Prometheus semantics: 5 min
lookback for instant selectors, left-open ``(t - 5m, t]`` range windows,
``extrapolatedRate`` for ``rate`` (the same statement as the catalog's
``_extrapolated_sql`` oracle), and name dropping after functions. A
response is compared as ``{label set: {t_ms: value}}``.
"""

from __future__ import annotations

import math

RANGE_MS = 300_000

_RATE = f"""
win AS (SELECT *, lag(value) OVER (PARTITION BY name, instance, t ORDER BY ts) AS prev FROM rs),
agg AS (
  SELECT name, instance, t, count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts,
         arg_min(value, ts) AS first_val, arg_max(value, ts) AS last_val,
         coalesce(sum(CASE WHEN value < prev THEN prev END), 0.0) AS reset_corr
  FROM win GROUP BY ALL HAVING count(*) >= 2),
c1 AS (
  SELECT *, last_val - first_val + reset_corr AS rv,
         (last_ts - first_ts) / 1000.0 AS sampled,
         (last_ts - first_ts) / 1000.0 / (n - 1) AS avg_sp,
         (first_ts - (t - {RANGE_MS})) / 1000.0 AS ds0,
         (t - last_ts) / 1000.0 AS de0
  FROM agg),
c2 AS (
  SELECT *, CASE WHEN ds0 >= avg_sp * 1.1 THEN avg_sp / 2.0 ELSE ds0 END AS ds1,
            CASE WHEN de0 >= avg_sp * 1.1 THEN avg_sp / 2.0 ELSE de0 END AS de1
  FROM c1),
c3 AS (
  SELECT *, CASE WHEN rv > 0 AND first_val >= 0 AND sampled * (first_val / rv) < ds1
                 THEN sampled * (first_val / rv) ELSE ds1 END AS ds2
  FROM c2),
rate AS (
  SELECT name, instance, t, rv * ((sampled + ds2 + de1) / sampled) / {RANGE_MS / 1000.0!r} AS v
  FROM c3)
"""


class Oracle:
    def __init__(self, samples_path: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE s AS SELECT * FROM '{samples_path}'")

    def _rows(self, req: dict, select: str, name: str | None) -> list[tuple]:
        if "time" in req:
            start = end = req["time"]
            step = 1
        else:
            start, end, step = req["start"], req["end"], req["step"]
        where = f"tenant = '{req['tenant']}'"
        if name is not None:
            where += f" AND name = '{name}'"
        sql = f"""
WITH pts AS (SELECT name, instance, ts, value FROM s WHERE {where}),
grid AS (SELECT unnest(generate_series({start}, {end}, {step})) AS t),
rs AS (SELECT p.name, p.instance, g.t, p.ts, p.value FROM pts p, grid g
       WHERE p.ts > g.t - {RANGE_MS} AND p.ts <= g.t),
inst AS (SELECT name, instance, t, arg_max(value, ts) AS v FROM rs GROUP BY ALL),
{_RATE}
{select}"""
        return self.con.execute(sql).fetchall()

    def expected(self, req: dict):
        """The panel's answer, normalised like :func:`normalise`."""
        panel, metric, tenant = req["panel"], req["metric"], req["tenant"]

        def labels(name, inst, keep_name=True):
            out = {"instance": inst, "job": "node", "metric": name, "__account_id": tenant}
            if keep_name:
                out["__name__"] = name
            return frozenset(out.items())

        def matrix(rows, key):
            out: dict = {}
            for r in rows:
                out.setdefault(key(r), {})[r[2]] = r[3]
            return out

        if panel in ("rate_sum", "long"):
            rows = self._rows(req, "SELECT name, instance, t, sum(v) FROM rate GROUP BY ALL", metric)
            return matrix(rows, lambda r: frozenset({("instance", r[1])}))
        if panel == "alert_rate":
            rows = self._rows(req, "SELECT name, instance, t, v FROM rate WHERE v > 0.5", metric)
            return matrix(rows, lambda r: labels(r[0], r[1], False))
        if panel == "quantile":
            sel = "SELECT name, instance, t, quantile_cont(value, 0.9) FROM rs GROUP BY ALL"
            return matrix(self._rows(req, sel, metric), lambda r: labels(r[0], r[1], False))
        if panel == "avg":
            sel = "SELECT name, instance, t, avg(value) FROM rs GROUP BY ALL"
            return matrix(self._rows(req, sel, metric), lambda r: labels(r[0], r[1], False))
        if panel in ("raw", "topk"):
            rows = self._rows(req, "SELECT * FROM inst", metric)
            return matrix(rows, lambda r: labels(r[0], r[1]))
        if panel == "instance":
            rows = self._rows(
                req, f"SELECT * FROM inst WHERE instance = '{req['instance']}'", None)
            return matrix(rows, lambda r: labels(r[0], r[1]))
        if panel == "alert_gauge":
            rows = self._rows(req, "SELECT * FROM inst WHERE v > 90", metric)
            return matrix(rows, lambda r: labels(r[0], r[1]))
        if panel == "series":
            rows = self.con.execute(
                "SELECT DISTINCT instance FROM s WHERE tenant = ? AND name = ? "
                "AND ts >= ? AND ts <= ?",
                [tenant, metric, req["start"], req["end"]],
            ).fetchall()
            return {labels(metric, r[0]) for r in rows}
        if panel == "label_values":
            rows = self.con.execute(
                "SELECT DISTINCT instance FROM s WHERE tenant = ? ORDER BY 1", [tenant]
            ).fetchall()
            return [r[0] for r in rows]
        raise ValueError(panel)


def normalise(req: dict, body: dict):
    if req["panel"] == "series":
        return {frozenset(d.items()) for d in body["data"]}
    if req["panel"] == "label_values":
        return body["data"]
    out: dict = {}
    for entry in body["data"]["result"]:
        values = entry.get("values") or [entry["value"]]
        series = out.setdefault(frozenset(entry["metric"].items()), {})
        for t, v in values:
            series[round(float(t) * 1000)] = float(v)
    return out


def _close(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def _same(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        got[k].keys() == want[k].keys()
        and all(_close(got[k][t], want[k][t]) for t in want[k])
        for k in want
    )


def check(req: dict, body: dict, want) -> str | None:
    """None when the response matches the oracle, else a one-line reason."""
    if body.get("status") != "success":
        return f"status {body.get('status')}: {body.get('error', '')[:120]}"
    got = normalise(req, body)
    if req["panel"] == "topk":
        # the answer is the 5 largest instant values per step, each with
        # its own series' value; ties make the chosen series ambiguous
        by_t: dict[int, list[float]] = {}
        for series in want.values():
            for t, v in series.items():
                by_t.setdefault(t, []).append(v)
        top = {t: sorted(vs, reverse=True)[:5] for t, vs in by_t.items()}
        got_t: dict[int, list[float]] = {}
        for k, series in got.items():
            for t, v in series.items():
                if k not in want or t not in want[k] or not _close(v, want[k][t]):
                    return f"topk returned a wrong sample at {t}"
                got_t.setdefault(t, []).append(v)
        for t, want_top in top.items():
            have = sorted(got_t.get(t, []), reverse=True)
            if len(have) != len(want_top) or not all(map(_close, have, want_top)):
                return f"topk at {t} differs"
        if got_t.keys() - top.keys():
            return "topk returned extra steps"
        return None
    if isinstance(want, dict):
        if not _same(got, want):
            n_got = sum(len(v) for v in got.values())
            n_want = sum(len(v) for v in want.values())
            return f"{n_got} samples in {len(got)} series, want {n_want} in {len(want)}"
        return None
    if got != want:
        return f"{len(got)} entries, want {len(want)}"
    return None
