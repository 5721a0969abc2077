"""Bucketed triples store — co-located joins without shuffle (100 TB posture).

The engine's graph IR is a triples DataFrame (see schema.py). Every
SPARQL-idiom query (SURVEY §2.8) decomposes into self-joins of that table on
``subj`` or ``obj`` — e.g. the property-path walk P70_documents / ^P143_joined
/ P144_joined_with (reference unit_construct.sparql:8) is a 3-way self-join.
At 100 TB each such join shuffles the full triples table twice per hop unless
the storage layout co-locates the join keys.

This module is the storage answer: write the graph ONCE as two bucketed
projections — ``<name>_spo`` bucketed+sorted by ``subj`` and ``<name>_ops``
bucketed+sorted by ``obj`` (the DataFrame analogue of a triple store's
SPO/OPS indexes, cf. Jena TDB / RDF-3X index layouts). Spark's bucketed scan
reports ``HashPartitioning(bucket_col, n_buckets)``, which is the same
Murmur3 partitioning a shuffle would produce, so:

* subj-subj joins of two scans of ``_spo``  -> zero Exchange on either side,
* obj-obj  joins of two scans of ``_ops``   -> zero Exchange on either side,
* mixed joins (derived frame ⋈ base table) -> the base-table side never
  shuffles; only the (much smaller) derived side does.

Predicate filters (``pred == …``) prune within buckets and are pushed to the
parquet scan, so a hop reads only its predicate's row groups while keeping
the bucket layout. ``sortBy`` additionally enables sorted-scan merge when a
bucket compacts to one file.

Bucket count: sized so one bucket of the dominant table fits an executor
core's working set (~128–256 MB). At 100 TB of triples that is O(100k)
buckets; here the default 8 keeps toy runs at one file per task. Bucketing
is write-once cost amortized over every subsequent join — exactly the
trade a KG-construction pipeline wants, since the generated graph is read
by every downstream linker/enrichment pass.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 8

# session confs the bucketed scans need ON at plan time (see _sorted_scan)
_SCAN_CONFS = (
    "spark.sql.legacy.bucketedTableScan.outputOrdering",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled",
)


@contextmanager
def scan_conf_scope(spark: SparkSession):
    """Scope the two bucketed-scan confs ``spo``/``ops`` flip: restores the
    prior session values on exit, so a store-backed query doesn't leave
    session-global planner settings flipped for every later query in the
    same (benchmarked) session. Wrap the region where store scans are
    PLANNED/EXECUTED — the confs are read at plan time, so a lazily
    returned DataFrame must be materialized inside the scope."""
    prior = {k: spark.conf.get(k, None) for k in _SCAN_CONFS}
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _table(name: str, suffix: str) -> str:
    return f"{name}_{suffix}"


def write_triples_store(
    triples: DataFrame, path: str, name: str, n_buckets: int = DEFAULT_BUCKETS
) -> None:
    """Materialize ``triples`` as external bucketed tables ``<name>_spo``
    (bucketed+sorted by subj) and ``<name>_ops`` (by obj) under ``path``.

    Both projections carry all triple columns — they are index-ordered
    copies, not column subsets, so either serves any pattern and the
    planner-visible bucketing decides which one a join should scan.
    """
    spark = triples.sparkSession
    for suffix, key in (("spo", "subj"), ("ops", "obj")):
        tbl = _table(name, suffix)
        if spark.catalog.tableExists(tbl):
            spark.sql(f"DROP TABLE {tbl}")
        (
            # repartition on the bucket key with the bucket count (same
            # Murmur3 hash the bucketing uses) so each write task holds
            # exactly one bucket's rows -> ONE file per bucket. That is the
            # compacted layout under which Spark's bucketed scan reports a
            # sort order, so sort-merge self-joins skip the Sort as well as
            # the Exchange. The shuffle is the write-once bucketing cost.
            triples.repartition(n_buckets, key)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", os.path.join(path, suffix))
            .saveAsTable(tbl)
        )


def _sorted_scan(spark: SparkSession) -> None:
    # Spark >= 3.0 hides the bucketed scan's sortBy order unless this flag is
    # on (multi-file buckets would need a merged sorted read). Our writer
    # guarantees ONE file per bucket (repartition-by-bucket-key compaction),
    # so reporting the order is free and lets sort-merge self-joins drop the
    # Sort node as well as the Exchange. Correctness is unaffected either
    # way — with multi-file buckets Spark falls back to a merged sorted read.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    # Keep the scan bucketed even when no join consumes the partitioning:
    # autoBucketedScan would silently fall back to a plain file scan, which
    # also drops BUCKET PRUNING — with it pinned, a point lookup on the
    # bucket column (obj = <uri> on _ops, subj = <uri> on _spo) reads
    # SelectedBucketsCount: 1 out of n (plan-asserted in the tests). The
    # store's access patterns are exactly joins + point lookups, so the
    # fallback has nothing to offer here.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")


def spo(spark: SparkSession, name: str) -> DataFrame:
    """Scan of the subj-bucketed projection (join this on ``subj``)."""
    _sorted_scan(spark)
    return spark.table(_table(name, "spo"))


def ops(spark: SparkSession, name: str) -> DataFrame:
    """Scan of the obj-bucketed projection (join this on ``obj``)."""
    _sorted_scan(spark)
    return spark.table(_table(name, "ops"))


def drop_triples_store(spark: SparkSession, name: str) -> None:
    for suffix in ("spo", "ops"):
        tbl = _table(name, suffix)
        if spark.catalog.tableExists(tbl):
            spark.sql(f"DROP TABLE {tbl}")
