"""Table storage layer: partitioned parquet with Iceberg posture.

The north rule targets Iceberg tables; this container has no Iceberg runtime
jar, so the layer writes partitioned parquet with the same operational
contract — idempotent per-partition overwrite (dynamic partition overwrite =
the MERGE/overwrite-by-partition pattern), a JSON manifest per table
(snapshot metadata: row count, fingerprint, lineage), and per-partition
metrics. ``Pipeline._stage`` always writes through ``write_table`` (parquet).
``write_table_iceberg`` is a separate catalog write path that nothing on the
pipeline path calls; ``use_iceberg()`` only reports whether a catalog is
configured, and the Iceberg test uses it to skip when none is.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F


def use_iceberg(spark: SparkSession) -> bool:
    return bool(spark.conf.get("spark.sql.catalog.spark_catalog.type", None))


def write_table_iceberg(
    df: DataFrame,
    table: str,
    partition_by: list[str] | None = None,
) -> None:
    """Iceberg write path (DataFrameWriterV2): create-or-replace a partitioned
    catalog table. Same operational contract as the parquet fallback —
    idempotent overwrite, partition granularity — via Iceberg's atomic
    snapshot commit instead of dynamic partition overwrite. Exercised by
    tests/test_storage_iceberg.py when a catalog is configured (the container
    ships no Iceberg runtime jar, so the test self-skips otherwise)."""
    w = df.writeTo(table)
    if partition_by:
        from pyspark.sql.functions import col

        w = w.partitionedBy(*[col(c) for c in partition_by])
    w.createOrReplace()


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Idempotent write: dynamic partition overwrite keeps re-runs of a
    single partition from clobbering siblings (checkpoint-resume granularity
    = one partition, per the north rule). The mode is a writer option, so it
    holds for this write only: the session conf (and with it the overwrite
    semantics of a caller's own partitioned writes, possibly concurrent
    ones) is never touched."""
    w = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_manifest(path: str, manifest: dict) -> None:
    p = Path(path)
    p.mkdir(parents=True, exist_ok=True)
    (p / "_manifest.json").write_text(json.dumps(manifest, indent=2, sort_keys=True))


def read_manifest(path: str) -> dict | None:
    f = Path(path) / "_manifest.json"
    if not f.exists():
        return None
    try:
        return json.loads(f.read_text())
    except (json.JSONDecodeError, OSError):
        return None


def partition_metrics(df: DataFrame, keys: list[str]) -> DataFrame:
    """Per-partition row counts (the lineage/metrics sidecar of the north
    rule: per-partition triple counts)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))


def snapshot_manifest(stage: str, fingerprint: str, n_rows: int, inputs: list[str]) -> dict:
    return {
        "stage": stage,
        "fingerprint": fingerprint,
        "n_rows": n_rows,
        "inputs": inputs,
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
