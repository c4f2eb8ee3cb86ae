"""Seeded inputs for the serving benchmark.

Everything the daemon receives is derived here from ``--seed``: the
remote-write history, the ingest backlog bodies and the dashboard
request pool. The shape follows the reference's remote-storage-bench
(10 tenants x 10 agents x 20 metrics scraped every 10 s); half the
metrics are gauges (``g0``..``g9``) and half counters with resets
(``c0``..``c9``).
"""

from __future__ import annotations

import random
import struct

TENANTS = 10
AGENTS = 10
GAUGES = 10
COUNTERS = 10
INTERVAL_MS = 10_000
#: history end (an hour boundary); every timestamp is fixed by the seed
END_MS = 1_760_000_400_000
#: 20 min of history: the 15 min panels plus the 5 min range window
#: before their first step
HISTORY_MS = 20 * 60_000
LOOKBACK_MS = 300_000
#: Prometheus's max_samples_per_send
SAMPLES_PER_BODY = 2_000
#: ingest bodies hold one tenant's backlog: every series x this many scrapes
BACKLOG_SCRAPES = SAMPLES_PER_BODY // (AGENTS * (GAUGES + COUNTERS))

METRICS = [f"g{i}" for i in range(GAUGES)] + [f"c{i}" for i in range(COUNTERS)]


def tenant_name(t: int) -> str:
    return f"tenant_{t}"


def series_labels(metric: str, agent: int) -> dict[str, str]:
    # ``metric`` keeps label sets distinct once a function drops
    # ``__name__``, so one count_over_time can read every series back
    return {"__name__": metric, "instance": f"agent_{agent}", "job": "node",
            "metric": metric}


# ------------------------------------------------------------ wire bodies


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _field(no: int, payload: bytes) -> bytes:
    return _uvarint(no << 3 | 2) + _uvarint(len(payload)) + payload


def _labels_bytes(labels: dict[str, str]) -> bytes:
    return b"".join(
        _field(1, _field(1, k.encode()) + _field(2, v.encode()))
        for k, v in sorted(labels.items())
    )


def encode_body(series: list[tuple[bytes, list[tuple[int, float]]]]) -> bytes:
    """snappy(prompb.WriteRequest) from pre-encoded label bytes and
    ``(ts, value)`` samples. Written here rather than through
    ``squirreldb_spark.codec`` so the generator is cheap enough to run
    beside the load and independent of the decoder it feeds."""
    pack = struct.pack
    parts = []
    for label_bytes, samples in series:
        body = [label_bytes]
        for ts, v in samples:
            s = b"\x09" + pack("<d", v) + b"\x10" + _uvarint(ts)
            body.append(b"\x12" + _uvarint(len(s)) + s)
        parts.append(_field(1, b"".join(body)))
    raw = b"".join(parts)
    # snappy block stream of literal runs (any snappy reader accepts it)
    out = [_uvarint(len(raw))]
    for pos in range(0, len(raw), 65536):
        chunk = raw[pos:pos + 65536]
        n = len(chunk) - 1
        if n < 60:
            out.append(bytes([n << 2]))
        else:
            out.append(bytes([61 << 2]) + n.to_bytes(2, "little"))
        out.append(chunk)
    return b"".join(out)


# ---------------------------------------------------------------- history


class Series:
    """One generated series: a seeded gauge walk or a counter with resets."""

    def __init__(self, rng: random.Random, tenant: int, metric: str, agent: int):
        self.tenant = tenant
        self.labels = series_labels(metric, agent)
        self.label_bytes = _labels_bytes(self.labels)
        self.offset_ms = rng.randrange(0, INTERVAL_MS, 7)
        self.counter = metric.startswith("c")
        self.value = 0.0 if self.counter else round(rng.uniform(0, 100), 3)
        self.rng = random.Random(rng.random())

    def next_value(self) -> float:
        r = self.rng
        if self.counter:
            # ~1 reset per 2 h at 10 s scrapes
            if r.random() < 1 / 720:
                self.value = 0.0
            self.value = round(self.value + r.uniform(0, 10), 3)
        else:
            self.value = round(min(100.0, max(0.0, self.value + r.uniform(-5, 5))), 3)
        return self.value

    def samples(self, first_ms: int, n: int) -> list[tuple[int, float]]:
        """The next ``n`` scrapes from the scrape slot at ``first_ms``."""
        return [
            (first_ms + k * INTERVAL_MS + self.offset_ms, self.next_value())
            for k in range(n)
        ]


def make_series(seed: int) -> list[Series]:
    rng = random.Random(seed)
    return [
        Series(rng, t, m, a)
        for t in range(TENANTS) for a in range(AGENTS) for m in METRICS
    ]


HISTORY_START_MS = END_MS - HISTORY_MS
HISTORY_SCRAPES = HISTORY_MS // INTERVAL_MS


def history(seed: int):
    """The history as remote-write bodies, one per (tenant, agent), plus
    the raw samples for the oracle: ``(bodies, rows)`` where bodies is
    ``[(tenant_name, body)]`` and rows is
    ``[(tenant, metric, instance, ts, value)]``."""
    bodies, rows = [], []
    series = make_series(seed)
    for i in range(0, len(series), len(METRICS)):
        agent = series[i:i + len(METRICS)]
        payload = []
        for s in agent:
            smp = s.samples(HISTORY_START_MS, HISTORY_SCRAPES)
            payload.append((s.label_bytes, smp))
            name, inst = s.labels["__name__"], s.labels["instance"]
            rows.extend(
                (tenant_name(s.tenant), name, inst, ts, v) for ts, v in smp
            )
        bodies.append((tenant_name(agent[0].tenant), encode_body(payload)))
    return bodies, rows


class Backlog:
    """Ingest bodies: body ``i`` is tenant ``i % TENANTS``'s next
    ``BACKLOG_SCRAPES`` scrapes of all its series (2,000 samples),
    continuing from the end of the (empty) history."""

    def __init__(self, seed: int):
        self.series = make_series(seed)
        self.per_tenant = AGENTS * len(METRICS)
        self.batches = [0] * TENANTS
        self.i = 0

    def next(self) -> tuple[str, bytes, int]:
        t = self.i % TENANTS
        self.i += 1
        first = END_MS + self.batches[t] * BACKLOG_SCRAPES * INTERVAL_MS
        self.batches[t] += 1
        mine = self.series[t * self.per_tenant:(t + 1) * self.per_tenant]
        body = encode_body(
            [(s.label_bytes, s.samples(first, BACKLOG_SCRAPES)) for s in mine]
        )
        return tenant_name(t), body, self.per_tenant * BACKLOG_SCRAPES


# -------------------------------------------------------- dashboard mix

PANEL_RANGE_MS = 15 * 60_000
PANEL_STEP_MS = 30_000
PANEL_START_MS = END_MS - PANEL_RANGE_MS
#: Grafana's default step for the whole-history panel: range / ~1000
#: points, floored at the scrape interval
LONG_START_MS = HISTORY_START_MS + LOOKBACK_MS
LONG_STEP_MS = max(INTERVAL_MS, (END_MS - LONG_START_MS) // 1000 // 1000 * 1000)

#: the panel templates, in mix order: range panels, instant alert
#: rules, then the metadata lookups
PANELS = ("rate_sum", "topk", "quantile", "avg", "raw", "instance", "long",
          "alert_gauge", "alert_rate", "series", "label_values")


def _panel(name: str, rng: random.Random) -> dict:
    g = f"g{rng.randrange(GAUGES)}"
    c = f"c{rng.randrange(COUNTERS)}"
    req = {
        "panel": name,
        "tenant": tenant_name(rng.randrange(TENANTS)),
        "start": PANEL_START_MS, "end": END_MS, "step": PANEL_STEP_MS,
    }
    req["metric"] = c if name in ("rate_sum", "long", "alert_rate") else g
    if name == "rate_sum":
        req["query"] = f"sum by (instance) (rate({c}[5m]))"
    elif name == "topk":
        req["query"] = f"topk(5, {g})"
    elif name == "quantile":
        req["query"] = f"quantile_over_time(0.9, {g}[5m])"
    elif name == "avg":
        req["query"] = f"avg_over_time({g}[5m])"
    elif name == "raw":
        req["query"] = g
    elif name == "instance":
        req["instance"] = f"agent_{rng.randrange(AGENTS)}"
        req["query"] = f'{{instance="{req["instance"]}"}}'
    elif name == "long":
        req["query"] = f"sum by (instance) (rate({c}[5m]))"
        req["start"], req["step"] = LONG_START_MS, LONG_STEP_MS
    elif name == "alert_gauge":
        req["query"] = f"{g} > 90"
        req["time"] = END_MS - rng.randrange(0, PANEL_RANGE_MS, 1000)
    elif name == "alert_rate":
        req["query"] = f"rate({c}[5m]) > 0.5"
        req["time"] = END_MS - rng.randrange(0, PANEL_RANGE_MS, 1000)
    return req


def dashboard_pool(seed: int, variants: int = 2) -> list[dict]:
    """``variants`` seeded instances of every panel template, in mix order."""
    rng = random.Random(seed * 7919 + 1)
    return [_panel(name, rng) for _ in range(variants) for name in PANELS]
