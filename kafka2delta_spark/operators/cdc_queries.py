"""CDC semantics exposed on the analytics query surface.

These queries run the SAME package functions the streaming pipeline uses
(wire parse, latest-per-key dedup, LSN-guarded merge) over the driver's
`events` table treated as a changelog — giving the CDC core an independent
SQL oracle on top of its unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka2delta_spark.cdc.dedup import latest_per_key
from kafka2delta_spark.cdc.merge import merge_cdc_batch
from kafka2delta_spark.cdc.wire import avro_payload_col, schema_id_col
from kafka2delta_spark.queryset import register
from kafka2delta_spark.functions.measure import v1000 as v1000_m
from kafka2delta_spark.sources.tables import load_table
from pyspark.sql.window import Window

SPLIT_TS = "2024-01-15 00:00:00"


@register(
    "q70_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, ROUND(value, 4) AS value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q70_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC dedup operator (P8 in SURVEY §2.1) on the query surface:
    latest state per key via max_by hash-agg with (ts, event_id) ordering."""
    ev = load_table(spark, sf_dir, "events")
    latest = latest_per_key(ev, ["user_id"], ["ts", "event_id"])
    return latest.select(
        "user_id", "event_id", "event_type", F.round("value", 4).alias("value")
    )


@register(
    "q71_cdc_merge_changelog",
    oracle=f"""
    WITH state AS (
        -- CDC primary keys are non-null (Debezium PK contract): an
        -- anonymous event cannot address a state row
        SELECT user_id, event_id, event_type, value FROM events
        WHERE user_id IS NOT NULL AND ts <= TIMESTAMP '{SPLIT_TS}'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1),
    chg AS (
        SELECT user_id, event_id, event_type, value,
               CASE WHEN event_type = 'error' THEN 'true' ELSE 'false' END AS __deleted
        FROM events
        WHERE user_id IS NOT NULL AND ts > TIMESTAMP '{SPLIT_TS}'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1)
    SELECT COALESCE(s.user_id, c.user_id) AS user_id,
           CASE WHEN c.user_id IS NULL OR (s.user_id IS NOT NULL AND c.event_id <= s.event_id)
                THEN s.event_id ELSE c.event_id END AS event_id,
           CASE WHEN c.user_id IS NULL OR (s.user_id IS NOT NULL AND c.event_id <= s.event_id)
                THEN s.event_type ELSE c.event_type END AS event_type,
           ROUND(CASE WHEN c.user_id IS NULL OR (s.user_id IS NOT NULL AND c.event_id <= s.event_id)
                THEN s.value ELSE c.value END, 4) AS value
    FROM state s FULL OUTER JOIN chg c ON s.user_id = c.user_id
    WHERE NOT (COALESCE(c.__deleted = 'true', FALSE)
               AND (s.user_id IS NULL OR c.event_id > s.event_id))
    """,
)
def q71_cdc_merge_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CDC apply path (dedup → merge with the LSN guard on both
    upserts and deletes, ref stream/stream.py:92-148 plus the guarded-delete
    extension) against a SQL oracle: events
    before the split are the existing state; events after are the change
    set, with 'error' events acting as deletes and event_id as the LSN."""
    # CDC primary keys are non-null (Debezium PK contract, see oracle)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    ).select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    split = F.lit(SPLIT_TS).cast("timestamp")
    state = latest_per_key(
        ev.filter(F.col("ts") <= split), ["user_id"], "event_id"
    ).select("user_id", "event_id", "event_type", "value")
    changes = latest_per_key(
        ev.filter(F.col("ts") > split), ["user_id"], "event_id"
    ).select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", "true").otherwise("false").alias(
            "__deleted"
        ),
    )
    merged = merge_cdc_batch(state, changes, ["user_id"], lsn_col="event_id")
    return merged.select(
        "user_id", "event_id", "event_type", F.round("value", 4).alias("value")
    )


@register(
    "q72_wire_format_parse",
    oracle="""
    SELECT o_orderkey,
           o_orderkey % 100000           AS schema_id,
           16                            AS payload_len
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def q72_wire_format_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent wire-format parsing (U1/U2 in SURVEY §2.1) against an
    oracle: envelopes are built in-flight from order keys (magic byte +
    big-endian schema id + md5-derived 16-byte payload), then parsed back
    with the native-expression parsers."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    envelope = F.unhex(
        F.concat(
            F.lit("00"),
            F.lpad(F.hex(F.col("o_orderkey") % 100000), 8, "0"),
            F.md5(F.col("o_orderkey").cast("string")),
        )
    )
    with_env = orders.select("o_orderkey", envelope.alias("value"))
    return with_env.select(
        "o_orderkey",
        schema_id_col("value").cast("bigint").alias("schema_id"),
        F.length(avro_payload_col("value")).cast("int").alias("payload_len"),
    )


@register(
    "qx16_scd2_history",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
               CAST(LEAD(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS BIGINT) AS valid_to_us,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS BIGINT) AS version
        FROM events)
    SELECT user_id, event_type, valid_from_us, valid_to_us, version,
           (valid_to_us IS NULL) AS is_current
    FROM ordered
    """,
)
def qx16_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history from a changelog — the warehouse consumption
    pattern the reference's latest-state-only sink (SURVEY §2.1 P12)
    cannot serve: every change becomes a validity interval
    [valid_from, valid_to) with version numbers and an is_current flag,
    so point-in-time joins ('what was this user's state when the order
    shipped?') become range lookups. One window pass — lead() for the
    interval close, row_number() for the version — over the key
    partition; at scale this is a single shuffle on the key, the same
    cost class as the CDC dedup itself. Total ordering (ts, event_id)
    makes versions deterministic under same-timestamp changes."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    out = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("valid_from_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("valid_to_us"),
        F.row_number().over(w).cast("bigint").alias("version"),
    )
    return out.select(
        "*", F.col("valid_to_us").isNull().alias("is_current")
    )


@register(
    "qx55_schema_evolution_merge",
    oracle=f"""
    WITH state AS (
        -- CDC primary keys are non-null (Debezium PK contract, see q71)
        SELECT user_id, event_id, event_type FROM events
        WHERE user_id IS NOT NULL AND ts <= TIMESTAMP '{SPLIT_TS}'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY event_id DESC) = 1),
    chg AS (
        SELECT user_id, event_id, event_type,
               (CASE WHEN isfinite(value) THEN CAST(FLOOR(value * 1000) AS BIGINT) END) AS v1000,
               CASE WHEN event_type = 'error' THEN 'true' ELSE 'false' END
                   AS __deleted
        FROM events
        WHERE user_id IS NOT NULL AND ts > TIMESTAMP '{SPLIT_TS}'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY event_id DESC) = 1),
    win AS (
        SELECT COALESCE(s.user_id, c.user_id) AS user_id,
               c.user_id IS NOT NULL
                 AND (s.user_id IS NULL OR c.event_id > s.event_id) AS c_wins,
               s.event_id AS s_eid, s.event_type AS s_et,
               c.event_id AS c_eid, c.event_type AS c_et, c.v1000,
               COALESCE(c.__deleted = 'true', FALSE) AS is_del,
               s.user_id IS NOT NULL AS has_s
        FROM state s FULL OUTER JOIN chg c ON s.user_id = c.user_id)
    SELECT user_id,
           CASE WHEN c_wins THEN c_eid ELSE s_eid END AS event_id,
           CASE WHEN c_wins THEN c_et  ELSE s_et  END AS event_type,
           CASE WHEN c_wins THEN v1000 END            AS v1000
    FROM win
    WHERE NOT (is_del AND c_wins) AND (has_s OR NOT is_del)
    """,
)
def qx55_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving CDC merge (Delta ``mergeSchema`` / Debezium
    ALTER-TABLE-ADD-COLUMN parity): the pre-split state has columns
    (user_id, event_id, event_type); the post-split change set arrives
    with a NEW ``v1000`` column. ``merge_cdc_batch`` — the merge both
    state stores' ``merge`` runs — unions the schemas because the column
    sets differ (state rows null-fill the new column), then applies the
    standard LSN-guarded upsert/delete merge — so keys whose newest row
    predates the column addition read NULL, keys updated after it carry
    the value, and stale/deleted keys behave exactly as in q71. This is
    the schema-drift scenario the reference handles by restarting with a
    new schema pair (SURVEY §2.1 P4); here it is one in-plan merge.

    Plan: identical shuffle profile to q71 (latest-per-key hash-aggs,
    one full-outer merge join on the key); the evolution step is pure
    projection — no extra scan, no shuffle."""
    # CDC primary keys are non-null (Debezium PK contract, see q71)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    ).select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    split = F.lit(SPLIT_TS).cast("timestamp")
    state = latest_per_key(
        ev.filter(F.col("ts") <= split), ["user_id"], "event_id"
    ).select("user_id", "event_id", "event_type")
    changes = latest_per_key(
        ev.filter(F.col("ts") > split), ["user_id"], "event_id"
    ).select(
        "user_id",
        "event_id",
        "event_type",
        v1000_m("value").alias("v1000"),
        F.when(F.col("event_type") == "error", "true")
        .otherwise("false")
        .alias("__deleted"),
    )
    return merge_cdc_batch(state, changes, ["user_id"], lsn_col="event_id")
