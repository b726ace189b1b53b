"""Query registry — the driver contract surface.

Every operator from SURVEY.md §2 (plus the LLM-data-pipeline extensions)
gets a named query here: a PySpark callable ``(spark, sf_dir) -> DataFrame``
and, where SQL-expressible, a DuckDB oracle string.  ``__spark_entry__.py``
re-exports this registry.

Determinism rules (the driver hash-compares values):
- every computed/aggregate column is aliased identically in Spark and SQL;
- every *computed* double is rounded (stored doubles pass through exact);
- top-k / latest-per-key always carry an explicit integer tie-break.

Time arithmetic uses integer microseconds on both sides
(``unix_micros``/``timestamp_micros`` <-> ``epoch_us``/``make_timestamp``)
— no float time, no boundary jitter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from confluent_kafka_streams_examples_spark.functions.scalar import epoch_us, safe_long, substr_after_first
from confluent_kafka_streams_examples_spark.operators.stream import Stream
from confluent_kafka_streams_examples_spark.operators.table import Table, latest_per_key
from confluent_kafka_streams_examples_spark.operators import windows as W
from confluent_kafka_streams_examples_spark.session import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# =====================================================================
# Reference parity — stateless pipeline (SURVEY §2.2, M0/M1)
# =====================================================================

@query(
    "basic_pipeline",
    oracle="""
    WITH src AS (
      SELECT user_id,
             concat('orderNumber-', CAST(event_id AS VARCHAR)) AS v
      FROM events
    )
    SELECT user_id,
           CAST(substr(v, strpos(v, '-') + 1) AS BIGINT) AS order_number
    FROM src
    WHERE contains(v, 'orderNumber-')
      AND CAST(substr(v, strpos(v, '-') + 1) AS BIGINT) > 1000
    """,
)
def basic_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BasicStreams parity (reference BasicStreams.scala:51-60): the
    P1 -> P3 -> P1 chain — filter contains 'orderNumber-', take the
    substring after the FIRST '-', cast to long, keep > 1000.

    One narrow projection, no shuffle; the contains-filter and column
    pruning push into the parquet scan.
    """
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id")
    src = ev.withColumn(
        "v", F.concat(F.lit("orderNumber-"), F.col("event_id").cast("string"))
    )
    return (
        Stream(src, key_col="user_id")
        .filter(F.col("v").contains("orderNumber-"))
        .map_values(order_number=safe_long(substr_after_first(F.col("v"), "-")))
        .filter(F.col("order_number") > 1000)
        .select("user_id", "order_number")
        .to_df()
    )


@query(
    "json_props_extract",
    oracle="""
    SELECT event_id, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON serde boundary (reference serdes/circe.scala:11-26): parse the
    props JSON payload, typed extraction, drop-malformed semantics
    (get_json_object -> null -> filtered, policy E4)."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "props")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .filter(F.col("k") > 50)
        .select("event_id", "user_id", "k")
    )


@query(
    "kafka_wire_roundtrip",
    oracle="""
    WITH decoded AS (
      SELECT CAST(user_id AS VARCHAR) AS key, event_id, event_type
      FROM events
      WHERE event_id % 97 != 0          -- malformed frames serde-dropped
        AND event_id IS NOT NULL AND event_type IS NOT NULL
        AND user_id IS NOT NULL
    )
    SELECT key,
           to_json(struct_pack(
             event_id := event_id,
             event_type := upper(event_type)))::VARCHAR AS value_out
    FROM decoded
    WHERE event_type = 'click'
    """,
)
def kafka_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S4 wire-parity without a broker (the connector jar has been
    absent from this container every round): drive the EXACT engine-side
    Kafka serde boundary over parquet-simulated wire columns.

    The pipeline is byte-faithful to what ``kafka_stream`` ->
    transform -> ``kafka_sink`` executes (sources/kafka.py): BinaryType
    key/value in (Kafka's native frame shape), every ~97th frame
    replaced with malformed bytes, ``deserialize_json`` drop-malformed
    through ``from_json`` (reference serdes/circe.scala:15-23 —
    decode failure -> record dropped), a filter + mapValues transform
    (BasicStreams.scala:51-60), then ``to_json`` re-serialized and cast
    through BinaryType exactly as the sink writes it
    (BasicStreams.scala:34).  Output is the sink's (key, value) frame
    decoded to UTF-8 so the oracle hash-compares the wire bytes'
    content; the oracle computes the expected frames directly from the
    table (it states WHAT survives the serde, not HOW).

    Scale shape: S=0 — serialize, parse, filter, re-serialize all fuse
    into one whole-stage-codegen'd projection over the scan; JSON
    parsing is JVM-side Jackson, no Python anywhere.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from confluent_kafka_streams_examples_spark.functions.json_serde import (
        deserialize_json,
    )

    payload_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    ev = (
        load_table(spark, "events", sf_dir)
        .select("user_id", "event_id", "event_type")
        .filter(
            F.col("event_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
    )
    # the simulated wire: binary key/value frames, ~1/97 malformed
    wire = ev.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.when(F.col("event_id") % 97 == 0, F.lit("not-json{"))
        .otherwise(F.to_json(F.struct("event_id", "event_type")))
        .cast("binary")
        .alias("value"),
    )
    typed = deserialize_json(wire, "value", payload_schema, keep_cols=("key",))
    transformed = typed.filter(F.col("event_type") == "click").select(
        "key",
        "event_id",
        F.upper("event_type").alias("event_type"),
    )
    sink_frame = transformed.select(
        F.col("key"),
        F.to_json(F.struct("event_id", "event_type"))
        .cast("binary")
        .alias("value"),
    )
    return sink_frame.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value_out"),
    )


# =====================================================================
# KTable semantics (SURVEY §2.1 S2, §2.2 P2/P4/P7, M3)
# =====================================================================

@query(
    "ktable_latest",
    oracle="""
    SELECT user_id, event_id, event_type, value, ts
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def ktable_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable materialization (reference KTableExample.scala:52-56):
    latest record per key over a changelog.  Batch = one shuffle window
    dedup; the streaming twin is streaming.ktable.latest_per_key_stream."""
    ev = load_table(spark, "events", sf_dir)
    return Table.from_stream(ev, "user_id", "ts", tiebreak_cols=["event_id"]).to_df().select(
        "user_id", "event_id", "event_type", "value", "ts"
    )


@query(
    "ktable_filter_extract",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, event_id
      FROM events
      QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    ), v AS (
      SELECT user_id, concat(event_type, '-', CAST(event_id AS VARCHAR)) AS val
      FROM latest
    )
    SELECT user_id,
           CAST(substr(val, strpos(val, '-') + 1) AS BIGINT) AS extracted
    FROM v
    WHERE contains(val, '-')
      AND CAST(substr(val, strpos(val, '-') + 1) AS BIGINT) > 100
    """,
)
def ktable_filter_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTableExample pipeline parity (reference KTableExample.scala:52-66):
    table source -> filter (P2) -> mapValues substring-after-first-dash +
    cast (P4) -> filter -> toStream (P7)."""
    ev = load_table(spark, "events", sf_dir)
    table = Table.from_stream(ev, "user_id", "ts", tiebreak_cols=["event_id"])
    table = table.map_values(
        val=F.concat(F.col("event_type"), F.lit("-"), F.col("event_id").cast("string"))
    )
    return (
        table.filter(F.col("val").contains("-"))
        .map_values(extracted=safe_long(substr_after_first(F.col("val"), "-")))
        .filter(F.col("extracted") > 100)
        .to_stream()
        .select("user_id", "extracted")
        .to_df()
    )


# =====================================================================
# Joins (SURVEY §2.3, M3/M4)
# =====================================================================

@query(
    "stream_table_join",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, n_name, r_name
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    """,
)
def stream_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — stream-table enrichment join (reference domain at
    JoinsExample.scala:41-45,274-286).  The fact stream (orders) is
    enriched against dimension tables; every dimension is broadcast so
    the 100 TB fact side never shuffles."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, "region", sf_dir)
    return (
        Stream(orders, key_col="o_orderkey")
        .join_table(customer, F.col("o_custkey") == F.col("c_custkey"), broadcast_table=True)
        .join_table(nation, F.col("c_nationkey") == F.col("n_nationkey"), broadcast_table=True)
        .join_table(region, F.col("n_regionkey") == F.col("r_regionkey"), broadcast_table=True)
        .select("o_orderkey", "o_totalprice", "c_name", "n_name", "r_name")
        .to_df()
    )


@query(
    "stream_stream_window_join",
    oracle="""
    SELECT v.user_id AS user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 300 * 1000000
    """,
)
def stream_stream_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — stream-stream windowed equi-join (reference
    JoinsExample.scala:47-56: JoinWindows.ofTimeDifferenceWithNoGrace(5s)).
    Views join purchases by user within ±300s.  Equi-key + time-range
    predicate -> shuffle hash join on user_id, never a cross join; the
    streaming twin (watermarked interval join) is streaming.join."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "event_type", "ts")
    views = Stream(
        ev.filter(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("view_id"), "ts"
        ),
        key_col="user_id",
        ts_col="ts",
    )
    purchases = Stream(
        ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"), F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        ),
        key_col="p_user_id",
        ts_col="p_ts",
    )
    l, r = views.df, purchases.df
    cond = (l.user_id == r.p_user_id) & (
        F.abs(epoch_us(l.ts) - epoch_us(r.p_ts)) <= F.lit(300 * 1_000_000)
    )
    return l.join(r, cond, "inner").select("user_id", "view_id", "purchase_id")


@query(
    "stream_stream_left_join",
    oracle="""
    SELECT v.user_id AS user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 300 * 1000000
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 left-outer variant — the Kafka Streams DSL's stream-stream
    ``leftJoin`` (same JoinWindows contract as JoinsExample.scala:47-56,
    which uses the inner ``join``; leftJoin is the adjacent DSL method a
    reference user reaches for next): every view emits, null-padded
    when no purchase by the same user lands within ±300s.  Same
    equi-key + time-range plan as the inner join — shuffle hash/SMJ on
    user_id, never a cross join.  The streaming twin is
    streaming.join.windowed_stream_join(how="leftOuter"), where the
    null pad is emitted only once the right-side watermark passes the
    view's window (test_windowed_join_left_outer_null_pads_expired) —
    exactly Kafka Streams' spurious-left-result-avoidance semantics
    (KIP-633 grace): state stays (rate x window)-bounded per side.
    """
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "event_type", "ts")
    views = Stream(
        ev.filter(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("view_id"), "ts"
        ),
        key_col="user_id",
        ts_col="ts",
    )
    purchases = Stream(
        ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"), F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        ),
        key_col="p_user_id",
        ts_col="p_ts",
    )
    l, r = views.df, purchases.df
    cond = (l.user_id == r.p_user_id) & (
        F.abs(epoch_us(l.ts) - epoch_us(r.p_ts)) <= F.lit(300 * 1_000_000)
    )
    return l.join(r, cond, "left").select("user_id", "view_id", "purchase_id")


@query(
    "stream_stream_outer_join",
    oracle="""
    SELECT coalesce(v.user_id, p.user_id) AS user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 300 * 1000000
    """,
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 full-outer variant — the DSL's stream-stream ``outerJoin``,
    completing the join/leftJoin/outerJoin triple (same JoinWindows
    contract as JoinsExample.scala:47-56): unmatched rows on EITHER
    side emit null-padded.  Still a keyed join (SMJ/shuffled-hash —
    broadcast can't serve FullOuter) with the ±300s range as residual;
    the streaming twin is windowed_stream_join(how="fullOuter"), where
    each side's null pad waits for the OTHER side's watermark, so
    state stays (rate x window)-bounded per side exactly as in the
    inner case.
    """
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_id", "event_type", "ts")
    views = Stream(
        ev.filter(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("view_id"), "ts"
        ),
        key_col="user_id",
        ts_col="ts",
    )
    purchases = Stream(
        ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"), F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        ),
        key_col="p_user_id",
        ts_col="p_ts",
    )
    l, r = views.df, purchases.df
    cond = (l.user_id == r.p_user_id) & (
        F.abs(epoch_us(l.ts) - epoch_us(r.p_ts)) <= F.lit(300 * 1_000_000)
    )
    return l.join(r, cond, "full").select(
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "view_id",
        "purchase_id",
    )


# =====================================================================
# Aggregations (SURVEY §2.4, M2)
# =====================================================================

@query(
    "agg_running_total",
    oracle="""
    SELECT user_id, round(sum(value), 2) AS total, count(*) AS n_orders
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def agg_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 — groupByKey + running-sum fold (reference
    AggregationsExample.scala:35-38: aggregate(0.0)((k, order, total) =>
    order.price + total)).  Batch answer = the final per-key total;
    partial (map-side) aggregation combines before the single shuffle."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type", "value")
    return (
        Stream(ev, key_col="user_id")
        .filter(F.col("event_type") == "purchase")
        .group_by_key()
        .aggregate(
            F.round(F.sum("value"), 2).alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .to_df()
    )


@query(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-11-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary aggregate (TPC-H Q1 shape) — the engine's full
    numeric-aggregation surface (sum/avg/count + arithmetic) in one
    two-key groupBy.  The shipdate filter pushes to the parquet scan."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-11-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "regional_revenue",
    oracle="""
    SELECT r_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS order_cnt
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: enrichment joins + aggregation (J2 + A2).  All three
    dimension joins broadcast; the only shuffle is the final 5-group agg
    — partial aggregation reduces each partition to <= 5 rows first."""
    orders = load_table(spark, "orders", sf_dir).select("o_custkey", "o_totalprice")
    customer = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_regionkey")
    region = load_table(spark, "region", sf_dir)
    return (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


# =====================================================================
# Windowed aggregation (SURVEY §2.5, M4)
# =====================================================================

@query(
    "windowed_tumbling",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
           make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 + 3600000000) AS window_end,
           event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def windowed_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W — tumbling 1h window per event_type (generalization of the
    reference's only window, the ±5s join window; SURVEY §2.5)."""
    ev = load_table(spark, "events", sf_dir).select("ts", "event_type", "value")
    return W.tumbling_agg(
        ev, "ts", "1 hour", ["event_type"],
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total"),
    )


@query(
    "windowed_hopping",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             (epoch_us(ts) // 1800000000) * 1800000000 AS bkt
      FROM events
    )
    SELECT make_timestamp(bkt - k * 1800000000) AS window_start,
           make_timestamp(bkt - k * 1800000000 + 3600000000) AS window_end,
           event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS total
    FROM e, unnest([0, 1]) u(k)
    GROUP BY 1, 2, 3
    """,
)
def windowed_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W — hopping 1h/30m window: each event lands in exactly two
    windows (duration/slide = 2); epoch-aligned starts match Spark's
    window() alignment by integer-microsecond arithmetic."""
    ev = load_table(spark, "events", sf_dir).select("ts", "event_type", "value")
    return W.hopping_agg(
        ev, "ts", "1 hour", "30 minutes", ["event_type"],
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total"),
    )


@query(
    "windowed_session",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           min(ts) AS window_start,
           max(ts) + INTERVAL 30 MINUTES AS window_end,
           count(*) AS cnt,
           round(sum(value), 2) AS total
    FROM s GROUP BY user_id, sid
    """,
)
def windowed_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W — session windows, 30 min inactivity gap, per user.  Batch uses
    Spark's session_window; the oracle is the gaps-and-islands rewrite.
    Session end = last event + gap, and the gap boundary is INCLUSIVE:
    an event at exactly last_ts + gap still merges (pinned empirically
    by test_session_window_random_stream_matches_python_reference,
    which caught the oracle's original >= split)."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    return W.session_agg(
        ev, "ts", "30 minutes", ["user_id"],
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total"),
    )


# =====================================================================
# Ranking / top-k (SURVEY §2.9 — free from Spark, declared engine surface)
# =====================================================================

@query(
    "topk_per_key",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 3
    """,
)
def topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — window ranking with deterministic
    integer tie-break.  One shuffle on the key; no global sort."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .drop("_rn")
    )


@query(
    "events_json_analytics",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           round(avg(value), 4) AS avg_value,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def events_json_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop analytics over the event stream (serde boundary E4 +
    aggregation): typed extraction stays JVM-side via get_json_object."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "value", "props")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


# extension modules register themselves into this registry on import
from confluent_kafka_streams_examples_spark import queries_llm  # noqa: E402,F401
from confluent_kafka_streams_examples_spark import queries_extra  # noqa: E402,F401
from confluent_kafka_streams_examples_spark import queries_tpch  # noqa: E402,F401
from confluent_kafka_streams_examples_spark import queries_tpch2  # noqa: E402,F401
from confluent_kafka_streams_examples_spark import queries_corpus  # noqa: E402,F401

# ---------------------------------------------------------------------
# Registry ordering.  The correctness harness verifies a PREFIX of this
# registry, so queries that have not yet earned a green verdict (or
# whose implementation/oracle changed this round) are listed first;
# a band of long-green sentinels follows; everything else keeps its
# registration order after that.  Names listed here that are not (yet)
# registered are ignored, so new queries can be pre-slotted.
# ---------------------------------------------------------------------

_VERIFY_FIRST = [
    # GENERATED by scripts/gen_verify_order.py (round 13) — do not
    # hand-edit; regenerate after any query/helper change and paste
    # via scripts/paste_verify_order.py.
    # Head: changed since the last verified snapshot or never green.
    "pipeline_training_export", "neardup_verify_levenshtein",
    "dedup_lsh_recall_eval", "dedup_cluster_representatives",
    "dedup_clusters", "dedup_minhash_lsh", "pipeline_clean_corpus",
    "sketch_hll_incremental", "dedup_duplicate_spans",
    "dedup_span_removal", "dedup_containment", "dedup_ngram_jaccard",
    "dedup_overlap_scores", "dedup_minhash_verify",
    "similarity_ivf_pruned", "similarity_ivf_dynamic", "similarity_pq_adc",
    "pq_recall_eval", "source_overlap_matrix", "similarity_ivf_append",
    "ivf_drift_stat", "dedup_incremental", "bpe_pair_counts",
    "decontaminate_train", "dedup_incremental_persisted",
    "ngram_novelty_scores", "doc_winnow_fingerprints",
    "semdedup_prune_scaled", "semdedup_prune", "events_profile",
    "bpe_merge_rounds", "events_profile_extended", "lm_unigram_score",
    "similarity_ann_lsh", "dedup_embedding_cosine", "ann_recall_eval",
    "similarity_ivf_probe", "embedding_kmeans_fixed",
    "sketch_hll_distinct", "sketch_hll_eval", "sketch_heavy_hitters",
    # Tail: oldest green first.
    "hybrid_search", "corpus_chunk_documents", "dedup_simhash64",
    "topk_per_key", "event_gaps", "stream_stream_outer_join",
    "ktable_latest", "text_stats", "large_volume_orders",
    # Past the 50-entry window from here: these stay green on
    # unchanged bodies and lead the next round's rotation.
    "similarity_topk", "pack_sequences", "similarity_topk_batch",
    "events_json_analytics", "user_retention_cohorts",
    "stream_stream_window_join", "ktable_filter_extract",
    "corpus_shard_export", "dedup_simhash", "dedup_cdc_chunks",
    "rollup_pricing", "market_share", "lang_profile",
    "cube_order_priority", "basic_pipeline", "product_type_profit",
    "lang_id_heuristic", "setops_users", "windowed_session",
    "stream_table_join", "forecast_revenue_change", "important_part_value",
    "corpus_mixture_sample", "dedup_bloom_prefilter",
    "similarity_pairs_label", "token_frequencies",
    "distinct_parts_per_supplier", "late_shipment_priority_counts",
    "customer_order_distribution", "promo_revenue", "top_supplier",
    "part_supplier_counts", "small_quantity_revenue",
    "disjunctive_predicate_revenue", "excess_suppliers",
    "sole_late_supplier", "dormant_customer_balance",
    "doc_fingerprint_dups", "bucketed_revenue_by_priority",
    "distinct_daily_users", "windowed_tumbling", "embedding_dim_stats",
    "quality_repetition_signals", "zorder_layout_stats",
    "kafka_wire_roundtrip", "value_percentiles", "shipping_priority",
    "scd2_user_history", "boilerplate_chunks", "embedding_centroids",
    "top_terms_per_source", "regional_revenue", "duplicate_rate_by_source",
    "rolling_user_stats", "merge_upsert_balances", "dedup_exact",
    "bm25_search", "local_supplier_volume", "multimodal_features",
    "asof_join", "sql_interface", "corpus_mixture_drift",
    "pivot_event_counts", "vocab_coverage", "user_sessions",
    "primary_supplier_per_part", "corpus_split_assignment",
    "sample_n_per_group", "agg_running_total", "windowed_hopping",
    "late_ship_priority", "corpus_stratified_sample", "anti_join_users",
    "skewed_event_rollup", "dedup_exact_normalized", "json_props_extract",
    "funnel_conversion", "nation_pair_volume", "semi_join_parts",
    "events_concurrent_degree_salted", "embedding_quantize",
    "agg_pricing_summary", "user_running_value", "returned_item_customers",
    "pii_scrub", "stream_stream_left_join", "events_concurrent_degree",
    "quality_histogram_threshold",
]


def _reorder_registry() -> None:
    front = [n for n in _VERIFY_FIRST if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(front)]
    snapshot = dict(QUERIES)
    QUERIES.clear()
    for n in front + rest:
        QUERIES[n] = snapshot[n]


_reorder_registry()
