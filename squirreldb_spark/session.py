"""SparkSession factory with scale-oriented defaults.

The engine targets a large multi-executor cluster over ~100 TB of parquet;
tests run on ``local[N]``. All settings below are *dynamic* SQL confs so they
can also be applied to a session we did not create (the verification driver
passes us its own session) — see :func:`configure_session`.

The HTTP daemon also reads small stores in a :func:`serving_session`: a
sibling of the caller's session (same SparkContext, own SQLConf) with
AQE off and one shuffle partition, so a serving-sized read is planned
once and runs about two jobs instead of one per AQE query stage. The
caller's session keeps its own confs; :func:`in_session` moves an
existing DataFrame's plan into the sibling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Dynamic confs applied to every session (ours or driver-provided).
#: These are deliberately all runtime-settable SQLConf entries.  A change
#: here reaches every query, so it needs the full test tier
#: (``pytest -m "slow or not slow"``), not only the default one.
_DYNAMIC_CONFS: dict[str, str] = {
    # testdata parquet uses INT64 TIMESTAMP(NANOS) which vanilla Spark
    # rejects; read them as raw nanosecond longs and convert explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
    # At 100 TB, static shuffle partition counts are always wrong for some
    # stage; AQE re-plans from observed sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas interchange on the few operators that need it.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Several kernels rely on ANSI's loud-failure contract (the
    # intrinsic_dim width-threaded fold unroll raises on out-of-bounds
    # array index; dedup overflow bounds).  Spark 4 defaults ANSI on, but
    # a driver-provided ANSI-off session would silently NULL every
    # distance instead of raising — pin it (ADVICE r14).
    "spark.sql.ansi.enabled": "true",
    # timestamp arithmetic should use proleptic Gregorian consistently.
    "spark.sql.session.timeZone": "UTC",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic confs to an existing session.

    Idempotent and safe on a session created by someone else (the driver).
    """
    for key, value in _DYNAMIC_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # a conf may be static on some builds; never fail configuration
            pass
    return spark


#: What a serving session sets on top of :data:`_DYNAMIC_CONFS`. A store
#: that fits in one scan split is read by one task, so one shuffle
#: partition loses no parallelism, and without AQE the read is not cut
#: into one Spark job per query stage.
_SERVING_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}


def serving_session(spark: SparkSession) -> SparkSession:
    """A new session on ``spark``'s SparkContext (so job groups and
    cancellation are shared) with the engine's confs plus
    :data:`_SERVING_CONFS`; ``spark``'s own confs are left untouched."""
    serving = configure_session(spark.newSession())
    for key, value in _SERVING_CONFS.items():
        serving.conf.set(key, value)
    return serving


def in_session(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s logical plan as a DataFrame of ``session``: it is planned
    and executed under ``session``'s confs."""
    jds = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan())
    return DataFrame(jds, session)


def get_session(app_name: str = "squirreldb-spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — correct for local testing; on a
    real cluster AQE coalescing makes the static number mostly irrelevant.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus > 0 else "local[*]"
    shuffle = str(cpus) if cpus > 0 else "32"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.ui.enabled", "false")
        # Console progress bars are useless in captured logs (the r14
        # driver-bench tail was 2000 chars of \r-progress instead of the
        # phase trace); bench.py turns them off via this env knob.
        # Static conf — must be set before the context exists.
        .config(
            "spark.ui.showConsoleProgress",
            os.environ.get("SPARK_GRAFT_CONSOLE_PROGRESS", "true"),
        )
        # Conservative library default: 8g is plenty for tests and ad-hoc
        # sessions, and a 48g -Xmx would risk host OOM/swap on small
        # machines. Long heavy local[N] sessions (the bench harness, which
        # GC-thrashed at 8g once shuffle/broadcast state accumulated — the
        # round-2 drift) opt in via SPARK_GRAFT_DRIVER_MEM; bench.py sets
        # 48g itself. On a real cluster this maps to executor memory.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    return configure_session(spark)
