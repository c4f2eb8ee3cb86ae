"""Span recorder for the traced run.

The daemon launcher installs these wrappers around the library's entry
points from outside; no library module is edited. Spans stay in memory
and are written out once, when the daemon stops. Server-side spans nest
per handler thread, because ``ThreadingHTTPServer`` runs each HTTP/1.0
request on its own thread.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

class Recorder:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def root(self) -> dict | None:
        st = self._stack()
        return st[0] if st else None

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``after(span, args,
        result)`` may add attributes once the call returns."""
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            st = rec._stack()
            span = {
                "id": next(rec._ids), "name": name,
                "parent": st[-1]["id"] if st else None,
                "start": time.perf_counter(),
            }
            st.append(span)
            try:
                out = orig(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                st.pop()
                with rec._lock:
                    rec.spans.append(span)
            if after is not None:
                after(span, args, out)
            return out

        setattr(owner, attr, spanned)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def install(spark) -> Recorder:
    """Wrap every layer's entry point; return the recorder."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from squirreldb_spark import api, codec, http_api
    from squirreldb_spark.promql import parser, planner

    rec = Recorder()

    def route_done(span, args, _out):
        # the load generator's request id matches server spans to the
        # client's timing
        span["req"] = args[1].headers.get("X-Bench-Request")
        job_group = span.pop("job_group", None)
        if job_group is not None:
            tracker = spark.sparkContext.statusTracker()
            jobs = tracker.getJobIdsForGroup(job_group)
            stages = [s for info in map(tracker.getJobInfo, jobs) if info
                      for s in info.stageIds]
            span["spark"] = {
                "jobs": len(jobs), "stages": len(stages),
                "tasks": sum(info.numTasks for info in map(tracker.getStageInfo, stages)
                             if info),
            }

    rec.wrap(http_api.PromHTTPServer, "_route", "http_api", after=route_done)

    orig_set_group = SparkContext.setJobGroup

    def set_job_group(sc, group_id, *a, **kw):
        root = rec.root()
        if root is not None:
            root["job_group"] = group_id
        return orig_set_group(sc, group_id, *a, **kw)

    SparkContext.setJobGroup = set_job_group

    rec.wrap(SparkSession, "createDataFrame", "http_api.store_build")
    rec.wrap(http_api.PromHTTPServer, "ingest", "http_api.ingest")
    rec.wrap(codec, "decode_remote_write_body", "codec.decode",
             after=lambda s, a, out: s.update(
                 decoded=sum(len(ts.samples) for ts in out)))
    # the planner imports parse by name, so wrap both bindings once
    rec.wrap(parser, "parse", "promql.parser")
    planner.parse = parser.parse
    rec.wrap(planner.PromQLEngine, "query_range", "promql.planner")
    # PromAPI.query delegates to query_range, so one wrapper covers both
    rec.wrap(api.PromAPI, "query_range", "api.query")

    def rows(span, _a, out):
        span["rows"] = sum(len(r.get("values", [None]))
                           for r in out["data"]["result"])

    rec.wrap(api.PromAPI, "format_matrix", "api.format", after=rows)
    rec.wrap(api.PromAPI, "format_vector", "api.format", after=rows)
    return rec


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> self seconds (duration minus its children's)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


def requests(spans: list[dict]) -> dict[str, dict]:
    """Group spans under their root ``http_api`` span by request id:
    ``req -> {"root": span, "self": {layer: s}, "calls": {layer: n}}``."""
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def root_of(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    out: dict[str, dict] = {}
    for s in spans:
        root = root_of(s)
        if root["name"] != "http_api" or root.get("req") is None:
            continue
        r = out.setdefault(root["req"], {"root": root, "self": {}, "calls": {}, "attrs": {}})
        r["self"][s["name"]] = r["self"].get(s["name"], 0.0) + selfs[s["id"]]
        r["calls"][s["name"]] = r["calls"].get(s["name"], 0) + 1
        for k in ("rows", "decoded"):
            if k in s:
                r["attrs"][k] = r["attrs"].get(k, 0) + s[k]
    return out
