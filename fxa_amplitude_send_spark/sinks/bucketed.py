"""Bucketed-table writer: the co-located join primitive.

Bucketing pre-shuffles a table ONCE at write time (hash(user_id) % n
buckets, one file group per bucket) so that every subsequent join or
aggregation on the bucket key runs with NO exchange on that side — the
write-amortized answer to "this join shuffles 100 TB every night".
`ensure_bucketed` registers the table through the session catalog with an
explicit LOCATION so it works in any caller-provided SparkSession
(driver contract: no builder confs, no warehouse assumption).

The files live under the process's staging root (``staging.staged``) and
the catalog entry lives as long as the Spark application, so the write is
paid once per (table, key, n_buckets, sig) per application; a new process
or application rewrites it.

Scale notes: bucket count should be sized so one bucket ≈ one task's
memory budget at the target scale (here 8 for test data; thousands at
100 TB). Both join sides must agree on (key, bucket count) — Spark then
plans a SortMergeJoin whose children are bucket-aligned scans, no
Exchange (asserted in tests/test_plans.py).
"""

from __future__ import annotations

import hashlib
from typing import Hashable

from pyspark.sql import DataFrame, SparkSession

from ..staging import staged


def _catalog_name(table: str, key: str, n_buckets: int, sig: Hashable) -> str:
    tag = hashlib.sha256(repr((table, key, n_buckets, sig)).encode()).hexdigest()[:12]
    return f"{table}_{tag}"


def ensure_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
    sig: Hashable = "",
) -> DataFrame:
    """Write ``df`` as a bucketed+sorted parquet table (once per (table,
    key, n_buckets, sig) per Spark application) and return the
    catalog-backed DataFrame whose scans carry the bucketing spec. ``sig``
    must change whenever ``df``'s content can (e.g.
    ``staging.source_identity`` of its source tables)."""
    from .parquet_layout import write_bucketed_table

    name = _catalog_name(table, key, n_buckets, sig)
    staged(
        "bucketed",
        (spark.sparkContext.applicationId, name),
        lambda location: write_bucketed_table(
            df, name, key, n_buckets=n_buckets, sort_col=key, location=location
        ),
    )
    return spark.table(name)


def append_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
    sig: Hashable = "",
) -> DataFrame:
    """Append ``df`` to an existing bucketed table written by
    :func:`ensure_bucketed` (same (table, key, n_buckets, sig) → same
    catalog name), preserving the bucketing spec: the new rows are
    hash-bucketed and sorted exactly like the base write, so co-located
    joins stay exchange-free — each bucket just gains one more file group
    per append. This is the incremental-maintenance half of the
    write-amortized contract: appending N rows costs O(N) assignment +
    write, never a rewrite of the existing table. Returns the catalog
    DataFrame over base + appended rows."""
    name = _catalog_name(table, key, n_buckets, sig)
    if not spark.catalog.tableExists(name):
        # first write: identical to ensure_bucketed
        return ensure_bucketed(spark, df, table, key, n_buckets=n_buckets, sig=sig)
    (
        df.write.mode("append")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(name)
    )
    return spark.table(name)
