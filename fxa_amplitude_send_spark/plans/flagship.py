"""Flagship query: the full reference event pipeline end-to-end.

Synthesizes Pub/Sub-style JSON payloads from the ``events`` table (so the
input exercises every envelope/repair path deterministically), then runs the
composed pipeline: envelope parse → validity filter → session repair → HMAC
pseudonymize → insert_id → identify fan-out (utils.js:37-90,
synchronous-pull.js:56-72).

This is ``entry(spark)`` for the driver smoke check, and is registered
rows-only (HMAC is not expressible in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.event_pipeline import event_pipeline
from ..sources import load_table
from ..staging import source_identity, staged
from .registry import query

FLAGSHIP_HMAC_KEY = "spark-graft-flagship-key"


def synthesize_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table → deterministic JSON payloads covering the envelope
    variants: stringified event_properties (utils.js:44-46), user_properties
    with identify verbs (utils.js:77), string session_ids needing repair
    (utils.js:59-68), and some invalid events (utils.js:54-56)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    user_props = F.when(
        k >= 50,
        F.concat(
            F.lit('{"$set": {"plan": "premium"}, "flow_id": "f-'),
            F.col("event_id").cast("string"),
            F.lit('"}'),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"flow_id": "f-'), F.col("event_id").cast("string"), F.lit('"}')
        )
    )
    # every 97th event: garbage string session_id → repaired to -1;
    # every 13th: numeric-string session id → parseInt repair path.
    session_id = (
        F.when(F.col("event_id") % 97 == 0, F.lit("not-a-session"))
        .when(
            F.col("event_id") % 13 == 0,
            F.concat((F.col("event_id") * 1000).cast("string"), F.lit("abc")),
        )
        .otherwise((F.col("event_id") * 1000).cast("string"))
    )
    # every 101st event: missing ids → dropped by the validity filter.
    device_id = F.when(
        F.col("event_id") % 101 != 0,
        F.concat(F.lit("d-"), (F.col("event_id") % 50).cast("string")),
    )
    user_id = F.when(
        F.col("event_id") % 101 != 0, F.col("user_id").cast("string")
    )
    fields = F.struct(
        device_id.alias("device_id"),
        user_id.alias("user_id"),
        F.col("event_type").alias("event_type"),
        # ts scans as TIMESTAMP_NTZ (naive micros); cast → LTZ under the
        # pinned-UTC session TZ is value-preserving, and unix_micros (which
        # requires LTZ) then yields the naive-as-UTC epoch deterministically
        # on any host TZ.
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000.0)).alias("time"),
        session_id.alias("session_id"),
        F.col("props").alias("event_properties"),
        user_props.alias("user_properties"),
    )
    return ev.select(
        F.col("event_id"),
        F.to_json(F.struct(fields.alias("Fields"))).alias("payload"),
    )


def staged_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the synthesized payloads to a staging parquet (once per
    source file per process), then scan them back.

    Two reasons, both scale-relevant:
    * In the real architecture raw payloads ARE storage-resident (the
      reference pulls them from a durable queue, synchronous-pull.js:45-52);
      scanning a staged table is the honest input shape.
    * Keeping synthesis inline lets Catalyst substitute the whole to_json()
      expression tree into every downstream predicate — the validity filter
      alone re-synthesized each payload ~6x, pushed below the repartition
      onto the single-partition source scan (measured >10x slowdown).
      A storage boundary is the one barrier the optimizer always respects.
    """
    # Keyed on the source parquet's identity, so a regenerated testdata
    # directory re-synthesizes: a stale staged table under the same path is
    # silent wrong-input, worse than a re-synthesis.
    target = spark.sparkContext.defaultParallelism
    staging = staged(
        "payloads",
        source_identity(sf_dir, "events"),
        lambda path: synthesize_payloads(spark, sf_dir)
        .repartition(target)
        .write.parquet(path),
    )
    return spark.read.parquet(staging)


@query("ref_event_pipeline")  # rows-only: HMAC not expressible in DuckDB
def ref_event_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline fan-out; output ordered structure matches the reference's
    [identify, httpapi] emission (emit_rank). CPU-bound (JSON parse + HMAC)
    and embarrassingly parallel — no shuffle anywhere in the pipeline itself,
    so throughput scales with scan parallelism."""
    return event_pipeline(staged_payloads(spark, sf_dir), FLAGSHIP_HMAC_KEY)


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    return ref_event_pipeline(spark, sf_dir)
