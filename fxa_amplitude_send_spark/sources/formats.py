"""Multi-format source adapters: CSV, JSON-lines, and ORC readers with the
same schema contract as the parquet tables.

The engine's canonical storage is parquet, but a real deployment ingests
from whatever lands — CSV exports, JSONL event dumps, ORC from legacy Hive
jobs. These adapters expose each format through one `read_as` entry point
with an *explicit* schema (never inferSchema on the hot path: inference is
an extra full scan at 100 TB and silently widens types), and a staged
round-trip helper that the registered `q_source_*` queries use to prove
losslessness end-to-end through the driver's oracle gate.

Scale notes: CSV/JSON are row-oriented text — no column pruning, no
predicate pushdown, no min/max skipping; the adapters exist for ingestion,
after which `stage_roundtrip`'s parquet-ward direction (any fmt → parquet)
is the recommended first job. ORC keeps columnar pushdown (Spark's OrcScan
supports filter pushdown like parquet). Writes coalesce to the session's
default parallelism so file counts stay bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..staging import source_identity, staged
from .tables import load_table

_FORMATS = ("csv", "json", "orc")


def read_as(
    spark: SparkSession, path: str, fmt: str, schema=None
) -> DataFrame:
    """Read `path` in `fmt` with an explicit schema (required for csv/json:
    schema inference costs a second full scan and guesses types; ORC is
    self-describing so schema may be None)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {_FORMATS}")
    reader = spark.read
    if fmt == "csv":
        if schema is None:
            raise ValueError("csv requires an explicit schema")
        return (
            reader.schema(schema)
            .option("header", "true")
            .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
            .csv(path)
        )
    if fmt == "json":
        if schema is None:
            raise ValueError("json requires an explicit schema")
        return (
            reader.schema(schema)
            .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
            .json(path)
        )
    return reader.orc(path)


def stage_roundtrip(
    spark: SparkSession, sf_dir: str, table: str, fmt: str
) -> DataFrame:
    """Write `table` once per process in `fmt`, then read it back via
    `read_as` with the original schema. Keyed on the source parquet's
    identity, so regenerated testdata re-stages (same discipline as
    plans/flagship.py's payload staging)."""
    src = load_table(spark, sf_dir, table)

    def build(path: str) -> None:
        writer = src.write
        if fmt == "csv":
            # Spark writes doubles via shortest-round-trip repr (Java
            # Double.toString), so numeric round-trips are lossless; header
            # carries names, quoting covers embedded delimiters.
            writer.option("header", "true").option(
                "timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
            ).csv(path)
        elif fmt == "json":
            writer.option(
                "timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
            ).json(path)
        else:
            writer.orc(path)

    staging = staged(f"src_{fmt}", source_identity(sf_dir, table), build)
    return read_as(spark, staging, fmt, schema=src.schema)
