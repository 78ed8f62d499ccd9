"""Scoped cache lifetime for long-lived sessions.

Operators in this package persist intermediates that feed multiple
consumers (shingle tables, fingerprint tables, localCheckpoints). In a
one-shot job the session teardown releases them; in a long-lived
session (a streaming ``foreachBatch`` loop, a 123-query bench run)
they accumulate unless released. ``spark.catalog.clearCache()`` is the
wrong tool twice over: it evicts caches owned by *unrelated* concurrent
work in the same session, and it does not release RDD-level
``localCheckpoint`` storage at all.

``scoped_caches`` snapshots the session's CacheManager entries and the
JVM's persistent-RDD map around a block and releases exactly the
entries the block created — other owners' caches are untouched.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession


def _persistent_rdd_ids(spark: SparkSession) -> set:
    """IDs of all currently-persisted RDDs (DataFrame caches AND
    localCheckpoints both surface here — `sc.getPersistentRDDs` is the
    one registry that sees every storage-holding entity)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {jid for jid in jmap.keySet().toArray()}


def _cached_entries(spark: SparkSession):
    """The session CacheManager's ``CachedData`` entries as a
    ``java.util.List`` — the registry a ``DataFrame.persist`` adds its
    plan to, which an RDD unpersist alone leaves in place."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    return getattr(spark._jvm, "scala.jdk.javaapi.CollectionConverters").asJava(
        cache_manager.cachedData()
    )


def _cached_entry_set(spark: SparkSession):
    """The CacheManager entries registered now, as an identity set: a
    ``CachedData`` is a case class, and its structural equals would
    compare whole plans."""
    jvm = spark._jvm
    entries = getattr(jvm, "java.util.Collections").newSetFromMap(
        getattr(jvm, "java.util.IdentityHashMap")()
    )
    entries.addAll(_cached_entries(spark))
    return entries


def release_storage(spark: SparkSession, rdd_ids: set, entries) -> None:
    """Release the persisted RDDs in ``rdd_ids`` and the CacheManager
    entries in the identity set ``entries`` (from ``_cached_entry_set``)
    that are still registered. An entry is dropped with ``cascade=False``:
    a cache built on top of it belongs to its own owner."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    # iterate a copied array: py4j's iterator over a JavaList ends on a
    # Java NoSuchElementException, which PySpark converts with a dozen
    # class-lookup round trips
    for entry in _cached_entries(spark).toArray():
        if entries.contains(entry):
            cache_manager.uncacheQuery(spark._jsparkSession, entry.plan(), False, False)
    # localCheckpoints have no CacheManager entry
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jid in jmap.keySet().toArray():
        if jid in rdd_ids:
            rdd = jmap.get(jid)
            if rdd is not None:
                rdd.unpersist(False)


@contextmanager
def scoped_caches(spark: SparkSession):
    """Release every DataFrame cache and persisted RDD *created inside*
    the block, leaving pre-existing caches alone.

    >>> with scoped_caches(spark):
    ...     verdicts = incremental_neardup_verdicts_indexed(index, batch)
    ...     verdicts.count()      # probe's internal persists live here
    ... # ...and are released here; the caller's own caches survive
    """
    cached_before = _cached_entry_set(spark)
    rdds_before = _persistent_rdd_ids(spark)
    try:
        yield
    finally:
        created = _cached_entry_set(spark)
        created.removeAll(cached_before)
        release_storage(spark, _persistent_rdd_ids(spark) - rdds_before, created)
