"""Storage maintenance operators: dedup, retention, label APIs, index checks.

* A7  — sort + dedup points: keep the most recent write per (series, ts)
  (types/metric.go:71-109, batch/batch.go:701-735). NaN ordering rule:
  a NaN value sorts *after* a real value at the same ts, so the real value
  survives dedup (types/metric.go:104-108).
* A37 — TTL/retention: the per-day expiration bitsets + daily sweep of the
  reference (cassandra/index/index.go:2594-2742) collapse into a partition-
  pruned delete / filter on the time column.
* A22 — LabelValues / LabelNames: distinct over the series dimension.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: A2: how far past now a sample may lie (config/default.go:100, +48 h)
MAX_FUTURE_MS = 48 * 3600 * 1000


def dedup_points(
    points: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    tiebreak: str | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Keep one row per (series, ts).

    The reference keeps the *most recently written* duplicate; with a
    ``tiebreak`` column (e.g. an ingest sequence number) we keep the row
    with the highest tiebreak, preferring non-NaN values (NaN sorts last).
    A single row_number window — one shuffle on the series keys.
    ``value_col`` names the measure column (the signature is otherwise
    fully parameterized, so the measure must be too).
    """
    keys = list(keys)
    # NaN sorts ABOVE all doubles in Spark, so a bare desc() would let a
    # NaN duplicate beat a real value — the non-NaN-survives rule
    # (reference types/metric.go) needs the explicit NaN demotion in both
    # branches.
    nan_last = F.when(F.isnan(value_col), 1).otherwise(0).asc()
    order = [nan_last, F.desc(value_col)] if tiebreak is None else [
        nan_last,
        F.desc(tiebreak),
    ]
    w = Window.partitionBy(*keys, ts_col).orderBy(*order)
    return (
        points.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_retention(points: DataFrame, now_ms: int, ttl_seconds: int,
                    ts_col: str = "ts", ttl_col: str | None = None) -> DataFrame:
    """A37: drop samples older than the TTL. On a date-partitioned table this
    is pure partition pruning — no data is read for expired partitions.

    With ``ttl_col``, rows carry their own TTL (the reference's
    per-write X-SquirrelDB-TTL header, api/remotestorage/write.go
    timeToLiveSeconds); ``ttl_seconds`` is the default where the column
    is null. Per-row TTLs obviously can't partition-prune beyond the
    shortest TTL in use — the default-TTL bound still prunes, the
    per-row filter runs on the survivors.
    """
    if ttl_col is None:
        cutoff = now_ms - ttl_seconds * 1000
        return points.filter(F.col(ts_col) >= F.lit(cutoff))
    eff_ttl = F.coalesce(F.col(ttl_col), F.lit(ttl_seconds))
    return points.filter(
        F.col(ts_col) >= F.lit(now_ms) - eff_ttl * F.lit(1000)
    )


def clamp_future(points: DataFrame, now_ms: int,
                 max_future_seconds: int = MAX_FUTURE_MS // 1000,
                 ts_col: str = "ts") -> DataFrame:
    """Reject samples too far in the future (config/default.go:100, +48 h)."""
    return points.filter(F.col(ts_col) <= F.lit(now_ms + max_future_seconds * 1000))


def label_values(series_dim: DataFrame, column: str) -> DataFrame:
    """A22: sorted distinct values of one label."""
    return series_dim.select(column).distinct().orderBy(column)


def verify_index(
    points: DataFrame, series_dim: DataFrame, series_keys: list[str] | None = None
) -> DataFrame:
    """A40: the index verifier (reference cassandra/index/verify.go +
    /debug/index_verify) as one DataFrame program.

    Cross-checks the fact table against the series dimension the way the
    reference hash-checks postings vs labels tables. Returns one row per
    check: ``(check, n)`` — orphan facts (points whose label set is not
    interned), empty series (dim entries with no facts), and the totals.
    All four checks share one scan of each side (anti-joins + counts
    unioned into a single plan).
    """
    keys = series_keys or ["user_id", "event_type"]
    fact_series = points.select(*keys).distinct()
    dim_series = series_dim.select(*keys).distinct()
    orphan = fact_series.join(dim_series, on=keys, how="left_anti")
    empty = dim_series.join(fact_series, on=keys, how="left_anti")

    def _count(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit(name).alias("check"), "n"
        )

    return (
        _count(orphan, "orphan_fact_series")
        .unionByName(_count(empty, "empty_dim_series"))
        .unionByName(_count(dim_series, "n_series"))
        .unionByName(_count(points, "n_points"))
    )


def compact_partitions(
    spark,
    path: str,
    partition_col: str | None = "date",
    target_bytes: int = 128 * 1024 * 1024,
    sort_cols: tuple[str, ...] = ("user_id", "event_type", "ts"),
) -> dict:
    """Small-file compaction for the streaming raw store (A9's layout).

    Streaming micro-batches append one parquet file per trigger per date
    partition; after a day the store is thousands of KB-sized files
    whose open/footer overhead dominates scans. The reference gets
    compaction for free from Cassandra (SURVEY §1.5 n/a list); the
    Parquet layout needs this maintenance pass.

    ONE job compacts every partition: the table is range-repartitioned
    on (partition, series, ts) into ``ceil(total_bytes/target_bytes)``
    output tasks, each producing a contiguous sorted slice — so each
    task writes into (almost always) a single partition directory, file
    counts land proportional to partition volume, and rows inside every
    file are in the read path's (series, ts) merge order. The rewrite
    goes to a temp dir and swaps in atomically per partition directory
    (local FS os.replace; on object stores swap via the table format's
    commit protocol instead).

    Returns ``{"files_before", "files_after", "bytes", "n_tasks"}``.
    """
    import math
    import os
    import shutil

    def _scan(root: str) -> tuple[int, int]:
        files = bytes_ = 0
        for dirpath, _dirs, names in os.walk(root):
            if "_compact_tmp" in dirpath:
                continue
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    bytes_ += os.path.getsize(os.path.join(dirpath, n))
        return files, bytes_

    files_before, total_bytes = _scan(path)
    n_tasks = max(1, math.ceil(total_bytes / target_bytes))
    df = spark.read.parquet(path)
    range_cols = ([partition_col] if partition_col else []) + [
        c for c in sort_cols if c in df.columns
    ]
    out = (
        df.repartitionByRange(n_tasks, *[F.col(c) for c in range_cols])
        .sortWithinPartitions(*range_cols)
    )
    tmp = os.path.join(path, "_compact_tmp")
    writer = out.write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(tmp)

    # atomic-per-directory swap on the local FS
    if partition_col:
        for entry in os.listdir(tmp):
            if not entry.startswith(f"{partition_col}="):
                continue
            src, dst = os.path.join(tmp, entry), os.path.join(path, entry)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.replace(src, dst)
        shutil.rmtree(tmp)
    else:
        for entry in os.listdir(path):
            full = os.path.join(path, entry)
            if entry != "_compact_tmp" and (
                entry.endswith(".parquet") or entry.startswith("_SUCCESS")
            ):
                os.remove(full) if os.path.isfile(full) else shutil.rmtree(full)
        for entry in os.listdir(tmp):
            os.replace(os.path.join(tmp, entry), os.path.join(path, entry))
        shutil.rmtree(tmp)

    files_after, _ = _scan(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
        "n_tasks": n_tasks,
    }
