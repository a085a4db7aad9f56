"""Storage-layout writers: partitioned and bucketed parquet.

At 100 TB the table layout IS the query plan: directory partitioning turns
predicates into pruned file listings (zero IO for excluded partitions), and
bucketing pre-shuffles both sides of a recurring join key so the join runs
shuffle-free forever after. These helpers wrap the two patterns with the
knobs that matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_records_per_file: int | None = None,
) -> None:
    """Hive-style directory partitioning. Choose partition columns with
    bounded cardinality (date, lang, tenant) — one directory per value; high
    cardinality here is the classic small-files failure mode."""
    writer = df.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.partitionBy(*partition_cols).parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int,
    sort_within_by: str | None = None,
) -> int:
    """Small-file compaction (the OPTIMIZE maintenance job): rewrite a
    parquet directory into ``target_files`` files, optionally sorting
    within partitions to restore min/max skipping locality. Streaming
    sinks and over-parallel writers accrete thousands of tiny files whose
    per-file open/footer cost dominates scans at 100 TB — periodic
    compaction is the standard fix. Rewrites via a temp dir then swaps
    (path → ._compact_old, ._compact_tmp → path), so the data is never
    truncated: every directory involved always holds a complete copy. The
    swap is two renames, so a crash BETWEEN them can leave the table path
    momentarily absent with the data intact in ._compact_old — entry-time
    recovery below renames it back automatically on the next run (and any
    stale ._compact_tmp from a crashed rewrite is deleted), so no state a
    crash can produce needs manual repair or fails the next run. Returns
    the file count after compaction."""
    import glob
    import os
    import shutil

    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    # recover from a previously crashed run before touching anything:
    #  - crash mid-rewrite → stale tmp (partial data): delete
    #  - crash between the two swap renames → path missing, old complete:
    #    restore it
    #  - crash before old was removed → path complete, old stale: delete
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)

    df = spark.read.parquet(path)
    out = df.coalesce(target_files)
    if sort_within_by:
        out = out.sortWithinPartitions(sort_within_by)
    out.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(glob.glob(os.path.join(path, "*.parquet")))


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    location: str | None = None,
) -> None:
    """Bucketed (pre-shuffled) table in the session catalog: joins and
    aggregations on ``bucket_col`` between tables bucketed the same way run
    WITHOUT an exchange — the one-time write cost buys every future query's
    shuffle. n_buckets should divide evenly into the cluster's parallelism.
    Pass ``location`` to pin the files outside the warehouse dir (required
    under a caller-provided session with no warehouse assumption — see
    sinks/bucketed.ensure_bucketed, which adds once-per-application reuse
    on top)."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    if location:
        writer = writer.option("path", location)
    writer.saveAsTable(table_name)


def read_partition_pruned(
    spark: SparkSession, path: str, partition_col: str, value
) -> DataFrame:
    """Scan exactly one partition — the filter binds at file-listing time
    (PartitionFilters in explain), not at row time."""
    from pyspark.sql import functions as F

    return spark.read.parquet(path).filter(F.col(partition_col) == value)


def zorder_key(a, b, bits: int = 16):
    """Z-order (Morton) key: bit-interleave two non-negative ints so rows
    close in BOTH dimensions get close keys. Sorting files by this key gives
    every file a bounded min/max box in each dimension — parquet row-group
    statistics then prune multi-dimensional range predicates, which a
    single-column sort can only do for its leading column (the technique
    behind Delta/Iceberg OPTIMIZE ZORDER).

    Pure bitwise expressions (2·bits shift/mask/add terms), whole-stage
    codegen'd; inputs are truncated to ``bits`` low bits, so map real
    domains onto [0, 2^bits) first (e.g. bucketized doubles)."""
    from pyspark.sql import functions as F

    key = F.lit(0).cast("long")
    aa = a.cast("long")
    bb = b.cast("long")
    for i in range(bits):
        abit = F.shiftright(aa, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(bb, i).bitwiseAND(F.lit(1))
        key = key + F.shiftleft(abit, 2 * i + 1) + F.shiftleft(bbit, 2 * i)
    return key


def _rank_bucket(df: DataFrame, col: str, bits: int):
    """Column expression mapping ``col`` onto [0, 2^bits) by approximate
    quantile rank. Morton interleaving only gives locality when both
    dimensions FILL their bit domain uniformly — raw long-tailed or
    narrow-range values collapse the curve (measured: z-order on raw
    values produced WORSE boxes than a linear sort). The boundaries come
    from one sketch-based approxQuantile pass (driver memory O(2^bits),
    corpus-size independent — the same sampling trick behind Delta's
    range-id clustering)."""
    from pyspark.sql import functions as F

    n = 1 << bits
    probs = [i / n for i in range(1, n)]
    bounds = df.stat.approxQuantile(col, probs, 0.001)
    bounds_arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.size(
        F.filter(bounds_arr, lambda b: b <= F.col(col).cast("double"))
    ).cast("long")


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 6,
    n_files: int = 8,
) -> None:
    """Cluster a table for 2-dimensional data skipping: rank-normalize both
    columns to [0, 2^bits) (see _rank_bucket), interleave to a Morton key,
    range-partition by the key (contiguous key ranges per file → tight
    per-file boxes) and sort within partitions so row groups inherit the
    locality. One quantile sketch + one range shuffle at write time buys
    min/max pruning on BOTH columns for every query after."""
    from pyspark.sql import functions as F

    keyed = df.withColumn(
        "_zkey",
        zorder_key(_rank_bucket(df, col_a, bits), _rank_bucket(df, col_b, bits), bits),
    )
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
