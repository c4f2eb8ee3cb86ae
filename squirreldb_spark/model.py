"""Data model: load the test tables and derive the TSDB fact/dimension views.

Reference data model (SURVEY §1.1, /root/reference/types/metric.go:27-43):
a *metric* is a label set interned to a numeric ID; a *point* is
``(timestamp ms, float64 value)``; the single logical relation is
``(labels, ts) -> value``.

Spark mapping: the ``events`` test table plays the role of the remote-write
stream. Each distinct ``(user_id, event_type)`` pair is one series — i.e. the
label set ``{__name__: event_type, user: user_id}`` — and ``(ts, value)`` are
the samples. Operators are written generically against a *points* DataFrame
with caller-declared series-key columns, so any tall table works.

Timestamps: the parquet files store INT64 TIMESTAMP(NANOS); with
``spark.sql.legacy.parquet.nanosAsLong`` they arrive as nanosecond longs and
are converted to **epoch milliseconds** (the reference's native unit,
types/metric.go:35). DuckDB oracle equivalent: ``epoch_ms(ts)``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from squirreldb_spark.session import configure_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: columns that are nanosecond longs after the legacy parquet read
_NANO_TS_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}

#: series-identifying columns of the canonical points view
SERIES_KEYS = ["user_id", "event_type"]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table; nanosecond timestamp columns become epoch-ms longs.

    Keeping time as a plain BIGINT (rather than TIMESTAMP) keeps every time
    comparison a cheap long comparison inside codegen and matches the
    reference's ms-since-epoch convention.
    """
    configure_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANO_TS_COLS.get(name, []):
        if c in df.columns:
            # integer division: bit-exact with DuckDB's epoch_ms() truncation.
            # TIMESTAMP(NANOS) columns arrive as nanosecond longs (legacy
            # conf); micro-precision ones as TIMESTAMP_NTZ (session is UTC).
            dtype = dict(df.dtypes)[c]
            if dtype == "bigint":
                df = df.withColumn(c, F.expr(f"`{c}` div 1000000"))
            else:
                df = df.withColumn(
                    c, F.expr(f"unix_micros(cast(`{c}` as timestamp)) div 1000")
                )
    return df


def points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TSDB fact view: (user_id, event_type, ts ms, value).

    Mirrors the decoded ``data`` table of the reference
    (cassandra/tsdb/read.go:513-652) — but as a columnar scan with
    predicate pushdown instead of per-series XOR chunk decode.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type", "ts", "value")


def series_json(labels: Column) -> Column:
    """Canonical identity of a ``labels MAP<STRING,STRING>`` series: its
    entries sorted by key, as compact JSON — equal label sets give equal
    strings whatever the map's insertion order. Every dynamic-label
    fingerprint (planner, API budgets, debug dumps, downsample) is this
    expression."""
    return F.to_json(F.map_from_entries(F.array_sort(F.map_entries(labels))))


def canonical_series_json(labels: dict) -> str:
    """The driver-side replay of :func:`series_json`: sorted keys, compact
    separators, every value STRINGIFIED (a long label column would
    otherwise print unquoted and give the same series a different 60-bit
    id in /debug/index_dump_by_expiration than in the other dumps), null
    (absent) labels dropped like a labels map never holds them."""
    return json.dumps(
        {k: str(v) for k, v in labels.items() if v is not None},
        sort_keys=True, separators=(",", ":"),
    )


#: 60-bit content hash of the canonical label encoding — the series_id.
#: (60 bits so DuckDB's 63-bit signed BIGINT parse replays it exactly.)
_SERIES_ID_EXPR = (
    "cast(conv(substring(md5(cast(concat_ws(',', event_type, user_id)"
    " as binary)), 1, 15), 16, 10) as bigint)"
)


def write_bucketed_points(
    points_df: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 32,
    keys: tuple[str, ...] = ("user_id", "event_type"),
) -> None:
    """Production layout #2: series-bucketed, ts-sorted parquet table.

    ``bucketBy(series keys) + sortBy(ts)`` co-locates every series in one
    bucket file sorted by time — the Spark analogue of the reference's
    per-series clustered partitions (cassandra/tsdb base_ts layout).
    Per-series aggregations and the window lag pass then run WITHOUT a
    shuffle (bucketing already provides the hash distribution; asserted
    in tests/test_plan_shape.py), and series-key equi-joins between two
    tables bucketed the same way are shuffle-free on both sides. At
    100 TB this removes the one wide exchange from the rate/selector
    plans.
    """
    (
        points_df.write.bucketBy(n_buckets, *keys)
        .sortBy(*keys, "ts")
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def series_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series dimension: one row per distinct label set, with a stable
    ``series_id`` (interning, reference cassandra/index/index.go:1366-1538
    LookupIDs).

    The reference allocates IDs from a roaring-bitmap free list under a
    global lock; here the ID is a 60-bit content hash of the canonical
    label encoding — a pure function of the label set, so a series keeps
    its ID across ingests with zero coordination and the ID is computed
    map-side inside the same aggregation pass (no global window, no
    single-partition sort; plan shape asserted in
    tests/test_plan_shape.py). No MERGE allocation step is needed for
    IDs at all; an incremental dimension refresh only needs a per-series
    max/min MERGE of first/last_seen. At >10^9 series widen to the full
    128-bit digest (two BIGINT halves) to keep the birthday bound
    negligible.
    """
    pts = points(spark, sf_dir)
    return (
        pts.groupBy("user_id", "event_type")
        .agg(
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .withColumn("series_id", F.expr(_SERIES_ID_EXPR))
        .select("series_id", "user_id", "event_type", "first_seen", "last_seen", "n_points")
    )
