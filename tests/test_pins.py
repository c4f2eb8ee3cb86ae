"""Query-scoped builder persists.

A pin belongs to the ``pin_scope`` open where it was made: the scope
unpersists it on exit, and with no scope open ``pinned`` persists
nothing.  The checks read Spark's CacheManager, which holds only
persisted plans (other tests' checkpointed RDDs do not count).
"""

from __future__ import annotations

from squirreldb_spark.pipeline._pins import pin_scope, pinned


def _cache(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def test_scope_releases_its_pins_on_exit(spark):
    spark.catalog.clearCache()
    with pin_scope():
        df = spark.range(10).selectExpr("id * 2 as v").transform(pinned)
        assert df.count() == 10
        assert df.storageLevel.useMemory
        assert not _cache(spark).isEmpty()
    assert not df.storageLevel.useMemory
    assert _cache(spark).isEmpty()


def test_pinned_is_transform_compatible(spark):
    """With no scope open there is no owner, so nothing is persisted."""
    spark.catalog.clearCache()
    df = spark.range(7).transform(pinned)
    assert df.count() == 7
    assert not df.storageLevel.useMemory
    assert _cache(spark).isEmpty()


def test_nested_scope_releases_only_its_own_pins(spark):
    spark.catalog.clearCache()
    with pin_scope():
        outer = spark.range(10).selectExpr("id * 3 as v").transform(pinned)
        outer.count()
        with pin_scope():
            inner = spark.range(20).selectExpr("id * 5 as v").transform(
                pinned)
            inner.count()
            assert inner.storageLevel.useMemory
        assert not inner.storageLevel.useMemory
        assert outer.storageLevel.useMemory
        assert not _cache(spark).isEmpty()
    assert not outer.storageLevel.useMemory
    assert _cache(spark).isEmpty()


def test_nested_scope_pinning_the_same_plan_keeps_the_outer_pin(spark):
    """The cache is keyed by plan: an inner scope that pins a fresh frame
    with the outer pin's plan must not release the outer pin on exit."""
    spark.catalog.clearCache()

    def build():
        return spark.range(12).selectExpr("id * 7 as v")

    with pin_scope():
        outer = build().transform(pinned)
        outer.count()
        with pin_scope():
            inner = build().transform(pinned)
            assert inner.count() == 12
        assert outer.storageLevel.useMemory
        assert not _cache(spark).isEmpty()
    assert not outer.storageLevel.useMemory
    assert _cache(spark).isEmpty()


def test_scope_releases_pins_when_the_query_raises(spark):
    spark.catalog.clearCache()
    try:
        with pin_scope():
            spark.range(4).selectExpr("id + 1 as v").transform(pinned).count()
            raise RuntimeError("query failed")
    except RuntimeError:
        pass
    assert _cache(spark).isEmpty()


def test_builder_pins_are_released(spark, sf_dir):
    """A pinned catalog builder materializes its pin inside a scope and
    leaves the CacheManager empty after it."""
    from squirreldb_spark.queries import CATALOG

    spark.catalog.clearCache()
    with pin_scope() as pins:
        CATALOG["emb_hubness"].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        assert pins and all(df.storageLevel.useMemory for df in pins)
        assert not _cache(spark).isEmpty()
    assert _cache(spark).isEmpty()


def test_concurrent_scopes_match_serial_results(spark, sf_dir):
    """Four threads each run a pinned builder in their own scope, then an
    API query; every result hashes as it does run serially with no scope
    open, and no pin outlives its scope."""
    from concurrent.futures import ThreadPoolExecutor

    from squirreldb_spark.parity import driver_hash
    from squirreldb_spark.queries import CATALOG

    def run(name):
        return driver_hash(CATALOG[name].fn(spark, sf_dir).toPandas())

    names = ["emb_hubness", "ev_hll_setops", "api_instant_query"]
    serial = {n: run(n) for n in names}

    def worker(builder):
        with pin_scope():
            got = run(builder)
        return builder, got, run("api_instant_query")

    spark.catalog.clearCache()
    builders = ["emb_hubness", "ev_hll_setops"] * 2
    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(worker, builders))
    for builder, got, api_hash in results:
        assert got == serial[builder], builder
        assert api_hash == serial["api_instant_query"]
    assert _cache(spark).isEmpty()
