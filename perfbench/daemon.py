"""The benchmark's daemon process: a ``PromHTTPServer`` on ``local[nproc]``.

Run by ``run.py``; not meant to be started by hand::

    python3 perfbench/daemon.py --work DIR [--history] [--trace]

Set-up phases: the Spark session, then (with ``--history``) the history
build — ``DIR/history_bodies.parquet`` (remote-write bodies written by
the load generator) goes through ``streaming.ingest.decode_write_stream``
and ``validate_map`` into date-partitioned parquet, which the server
serves as ``base_points``. The daemon then prints one ``READY {json}``
line on stdout and serves until its stdin closes. With ``--trace`` the
layer wrappers of ``trace.py`` are installed before the server starts and
the spans are written to ``DIR/spans.json`` on the way out.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T0 = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_history(spark, work: str) -> tuple[object, dict]:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from squirreldb_spark.streaming.ingest import decode_write_stream, validate_map

    path = os.path.join(work, "history_bodies.parquet")
    tenants = sorted(set(pq.read_table(path, columns=["tenant"])["tenant"].to_pylist()))
    payloads = spark.read.parquet(path)
    valid = None
    for t in tenants:
        one = validate_map(
            decode_write_stream(payloads.filter(F.col("tenant") == t).select("body")),
            tenant=t,
        )
        valid = one if valid is None else valid.unionByName(one)
    out = os.path.join(work, "history")
    (
        # one task: a single Python worker to start, one file per date
        valid.coalesce(1)
        .withColumn("date", F.to_date(F.timestamp_millis(F.col("ts"))))
        .write.partitionBy("date").mode("overwrite").parquet(out)
    )
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(out) for f in files if f.endswith(".parquet")
    )
    return spark.read.parquet(out), {"parquet_bytes": size}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--history", action="store_true")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from squirreldb_spark.http_api import PromHTTPServer
    from squirreldb_spark.session import get_session

    spark = get_session("perfbench", cpus=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    info = {"session_s": time.perf_counter() - T0}

    base = None
    if args.history:
        t = time.perf_counter()
        base, extra = build_history(spark, args.work)
        info.update(extra, history_s=time.perf_counter() - t)

    rec = None
    if args.trace:
        import spans as tracing

        rec = tracing.install(spark)
    server = PromHTTPServer(spark, base_points=base).start()
    info["port"] = server.port
    print("READY " + json.dumps(info), flush=True)

    sys.stdin.read()  # the load generator closes stdin to stop us
    server.stop()
    if rec is not None:
        rec.dump(os.path.join(args.work, "spans.json"))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
