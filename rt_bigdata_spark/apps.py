"""Application layer: one builder per reference streaming app.

The reference ships nine runnable Flink jobs (SURVEY.md §0 table).
Each builder here is its Spark counterpart: a pure composition
``DataFrame(s) → DataFrame(s)`` over the operator modules, with the
same topology and semantics. Builders take already-sourced DataFrames
(batch OR streaming — every operator used is streaming-compatible, so
the same builder wires a Kafka `readStream` in production and a
`createDataFrame` fixture in tests) and return unsunk DataFrames; the
caller attaches sinks (`sources.kafka.kafka_sink`,
`streaming.sinks.jdbc_batch_sink`, …), which is where the reference
apps end too.

Layer map (reference file → builder):

- OdsBaseLogApp.scala:29-202   → ods_base_log_app
- OdsBaseDbApp.scala:27-123    → ods_base_db_app
- UniqueVisitApp.scala:28-126  → unique_visit_app
- UserJumpDetailApp.scala:34-148 → user_jump_detail_app
- OrderWideAp.scala:34-244     → order_wide_app
- PaymentWideApp.scala:22-97   → payment_wide_app
- VisitorStatsApp.scala:43-213 → visitor_stats_app
- ProductStatsApp.scala:34-293 → product_stats_app
- ProvinceStatsSqlApp.scala:16-88 → province_stats_app
- KeywordStatsApp.scala:16-93  → keyword_stats_app
- KeywordStats4ProductApp.scala:15-83 → keyword_stats_4product_app

One deliberate reshaping: the reference forwards raw nested JSON
strings between layers and re-parses at every hop. Here DWD emits
FLAT typed columns once (`_flatten_page`) and every downstream layer
consumes them — the parse cost is paid once and Catalyst prunes the
columns each consumer actually reads.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rt_bigdata_spark.operators.aggregations import distinct_count, tumbling_window_agg
from rt_bigdata_spark.operators.joins import enrich_dims, interval_join
from rt_bigdata_spark.operators.projections import explode_displays, parse_json, valid_cdc_filter
from rt_bigdata_spark.operators.routing import apply_column_allowlist, route_by_config, split_stream, union_all
from rt_bigdata_spark.schemas import CDC_ENVELOPE_SCHEMA, PAGE_LOG_SCHEMA


def _flatten_page(parsed: DataFrame) -> DataFrame:
    """DWD normalization: nested page-log struct → flat typed columns
    (the shape every DWM/DWS consumer reads)."""
    return parsed.select(
        F.col("j.common.mid").alias("mid"),
        F.col("j.common.vc").alias("vc"),
        F.col("j.common.ch").alias("ch"),
        F.col("j.common.ar").alias("ar"),
        F.col("j.common.is_new").alias("is_new"),
        F.col("j.page.page_id").alias("page_id"),
        F.col("j.page.last_page_id").alias("last_page_id"),
        F.col("j.page.item").alias("item"),
        F.col("j.page.during_time").alias("during_time"),
        F.col("j.ts").alias("ts"),
    )


def ods_base_log_app(raw: DataFrame, raw_col: str = "value") -> dict[str, DataFrame]:
    """OdsBaseLogApp: parse behavior-log JSON, split into start/display/
    page branches (side-output topology R1), explode the display array.
    Returns ``{"start": …, "display": …, "page": …}``; the page branch
    is flat (see module docstring). The is_new correction (T1) is a
    separate keyed-state pass: apply ``streaming.stateful.
    correct_is_new`` (stream) or the ``is_new_correction`` analytic
    (batch backfill) to the page branch — kept out of this builder so
    the split stays stateless and cheap.
    """
    parsed = parse_json(raw, raw_col, PAGE_LOG_SCHEMA)
    branches = split_stream(
        parsed,
        {
            "start": F.col("j.start.entry").isNotNull(),
            "rest": F.col("j.start.entry").isNull(),
        },
    )
    start = branches["start"].select(
        F.col("j.common.mid").alias("mid"),
        F.col("j.start.entry").alias("entry"),
        F.col("j.start.loading_time").alias("loading_time"),
        F.col("j.ts").alias("ts"),
    )
    display = explode_displays(branches["rest"])
    page = _flatten_page(branches["rest"])
    return {"start": start, "display": display, "page": page}


def ods_base_db_app(
    raw: DataFrame, config: DataFrame, raw_col: str = "value"
) -> dict[str, DataFrame]:
    """OdsBaseDbApp: parse the CDC envelope, drop null/trivial payloads
    (P2), route by the broadcast config table (R2), prune each payload
    to the config's column allowlist (P7). Returns
    ``{"kafka": facts, "hbase": dims}`` — the reference's main output
    vs HBase side output. Sink-side: facts go to per-row dynamic topics
    (`sink_table` column, built-in Kafka `topic` column), dims to keyed
    upserts (`streaming.sinks.foreach_batch_upsert`).
    """
    parsed = parse_json(raw, raw_col, CDC_ENVELOPE_SCHEMA).select("j.*")
    valid = valid_cdc_filter(parsed).select(
        F.col("table").alias("source_table"),
        F.col("type").alias("operate_type"),
        "data",
    )
    routed = apply_column_allowlist(route_by_config(valid, config), "data")
    return {
        "kafka": routed.filter(F.col("sink_type") == "kafka"),
        "hbase": routed.filter(F.col("sink_type") == "hbase"),
    }


def unique_visit_app(page: DataFrame, streaming: bool = True, ttl: bool = False) -> DataFrame:
    """UniqueVisitApp: daily first-visit-per-mid filter (T2) over the
    flat page branch. Streaming = native ``dropDuplicates`` on
    (mid, dt) over session entries, no Python worker (``ttl=True``
    adds the reference's 1-day state bound, see
    ``streaming.stateful.unique_visits``); batch = the equivalent
    window analytic (first event per (mid, day) among session
    entries). Both emit every (mid, day) with an entry, whatever the
    arrival order of the days."""
    if streaming:
        from rt_bigdata_spark.streaming.stateful import unique_visits

        return unique_visits(page, ttl=ttl)
    from pyspark.sql import Window

    entries = page.filter(F.col("last_page_id").isNull() | (F.col("last_page_id") == ""))
    dt = F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd")
    return (
        entries.withColumn("dt", dt)
        .withColumn("rn", F.row_number().over(Window.partitionBy("mid", "dt").orderBy("ts")))
        .filter(F.col("rn") == 1)
        .select("mid", "dt", "ts")
    )


def user_jump_detail_app(page: DataFrame) -> DataFrame:
    """UserJumpDetailApp: bounce detection (T3 CEP-timeout). Streaming
    input must carry a watermarked event-time column (any name)."""
    from rt_bigdata_spark.streaming.stateful import detect_bounces

    return detect_bounces(page)


def order_wide_app(
    order_info: DataFrame,
    order_detail: DataFrame,
    dims: Sequence[tuple[DataFrame, object]] = (),
) -> DataFrame:
    """OrderWideAp: order ⋈ detail interval join ±5 s on the order key
    (J1), then chained broadcast dim enrichments (J3 — the reference's
    six async Phoenix lookups + Redis cache collapse into
    BroadcastHashJoins). Inputs need epoch-second ``create_ts_sec``
    event-time columns (watermarked when streaming); callers alias
    colliding columns first.
    """
    joined = interval_join(
        order_info,
        order_detail,
        left_key="id",
        right_key="order_id",
        left_ts="o_ts",
        right_ts="d_ts",
        lower_seconds=-5,
        upper_seconds=5,
    )
    return enrich_dims(joined, dims) if dims else joined


def payment_wide_app(payment_info: DataFrame, order_wide: DataFrame) -> DataFrame:
    """PaymentWideApp: payment ⋈ order-wide with the asymmetric
    (−1800 s, 0 s) bound — a payment matches the order placed up to 30
    minutes before it (J2, PaymentWideApp.scala:83)."""
    return interval_join(
        payment_info,
        order_wide,
        left_key="order_id",
        right_key="id",
        left_ts="p_ts",
        right_ts="o_ts",
        lower_seconds=-1800,
        upper_seconds=0,
    )


def visitor_stats_app(
    page: DataFrame, uv: DataFrame, jumps: DataFrame, window: str = "10 seconds"
) -> DataFrame:
    """VisitorStatsApp: three metric streams mapped onto one
    VisitorStats shape, unioned (R3), then a keyed tumbling window
    reduce (A1) on the 4-part dimension key. The reference maps each
    source stream to a VisitorStats bean with one metric set
    (VisitorStatsApp.scala:60-150); here each ``select`` does that
    mapping and ``union_all`` + one windowed agg replaces the keyed
    reduce. (The reference's 4th stream — new-visitor counts — is the
    pv stream filtered on is_new, folded in via the conditional sum.)
    """
    zero = F.lit(0).cast("long")
    pv = page.select(
        "vc", "ch", "ar", "is_new",
        F.timestamp_millis(F.col("ts")).alias("event_time"),
        F.lit(1).cast("long").alias("pv_ct"),
        zero.alias("uv_ct"),
        F.when(F.col("last_page_id").isNull() | (F.col("last_page_id") == ""), 1)
        .otherwise(0).cast("long").alias("sv_ct"),
        zero.alias("uj_ct"),
        F.coalesce(F.col("during_time"), F.lit(0)).cast("long").alias("dur_sum"),
    )
    uv_s = uv.select(
        "vc", "ch", "ar", "is_new",
        F.timestamp_millis(F.col("ts")).alias("event_time"),
        zero.alias("pv_ct"),
        F.lit(1).cast("long").alias("uv_ct"),
        zero.alias("sv_ct"),
        zero.alias("uj_ct"),
        zero.alias("dur_sum"),
    )
    uj = jumps.select(
        "vc", "ch", "ar", "is_new",
        F.timestamp_millis(F.col("ts")).alias("event_time"),
        zero.alias("pv_ct"),
        zero.alias("uv_ct"),
        zero.alias("sv_ct"),
        F.lit(1).cast("long").alias("uj_ct"),
        zero.alias("dur_sum"),
    )
    return tumbling_window_agg(
        union_all([pv, uv_s, uj]),
        ts_col="event_time",
        duration=window,
        keys=["vc", "ch", "ar", "is_new"],
        aggs=[
            F.sum("pv_ct").alias("pv_ct"),
            F.sum("uv_ct").alias("uv_ct"),
            F.sum("sv_ct").alias("sv_ct"),
            F.sum("uj_ct").alias("uj_ct"),
            F.sum("dur_sum").alias("dur_sum"),
        ],
    )


def product_stats_app(
    streams: Sequence[DataFrame], window: str = "10 seconds", approx: bool = False
) -> DataFrame:
    """ProductStatsApp: N pre-mapped metric streams (the reference has
    7: click/display/favor/cart/order/payment/refund/comment,
    ProductStatsApp.scala:90-170) unioned onto one ProductStats shape,
    then a per-sku tumbling window with HashSet-style distinct order
    counts (A2 → collect_set size, or HLL when ``approx``). Each input
    must carry ``sku_id``, ``event_time``, metric columns, and nullable
    ``order_id``/``paid_order_id``/``refund_order_id`` id columns.
    """
    return tumbling_window_agg(
        union_all(list(streams)),
        ts_col="event_time",
        duration=window,
        keys=["sku_id"],
        aggs=[
            F.sum("click_ct").alias("click_ct"),
            F.sum("cart_ct").alias("cart_ct"),
            F.sum("order_amount").alias("order_amount"),
            distinct_count("order_id", approx=approx).alias("order_ct"),
            distinct_count("paid_order_id", approx=approx).alias("paid_order_ct"),
            distinct_count("refund_order_id", approx=approx).alias("refund_order_ct"),
        ],
    )


def province_stats_app(order_wide: DataFrame, window: str = "10 seconds") -> DataFrame:
    """ProvinceStatsSqlApp: windowed per-province order count/amount
    with exact COUNT(DISTINCT order_id) (A3). ``order_wide`` needs
    ``event_time``, ``province_id``, ``province_name``, ``order_id``,
    ``split_total_amount``."""
    return tumbling_window_agg(
        order_wide,
        ts_col="event_time",
        duration=window,
        keys=["province_id", "province_name"],
        aggs=[
            F.countDistinct("order_id").alias("order_count"),
            F.sum("split_total_amount").alias("order_amount"),
        ],
    )


def keyword_stats_app(page: DataFrame, window: str = "10 seconds") -> DataFrame:
    """KeywordStatsApp: search-page filter (P3) → tokenizer UDTF +
    lateral explode (U1+J5) → windowed keyword counts (A4)."""
    from rt_bigdata_spark.functions.text_fns import tokenize

    searches = page.filter(
        (F.col("page_id") == "good_list") & F.col("item").isNotNull()
    ).select(F.col("item"), F.timestamp_millis(F.col("ts")).alias("event_time"))
    words = searches.select(
        F.explode(tokenize(F.col("item"))).alias("keyword"), "event_time"
    )
    return tumbling_window_agg(
        words,
        ts_col="event_time",
        duration=window,
        keys=["keyword"],
        aggs=[F.count(F.lit(1)).alias("ct")],
    )


def keyword_stats_4product_app(product_stats: DataFrame) -> DataFrame:
    """KeywordStats4ProductApp (KeywordStats4ProductApp.scala:15-83):
    the one reference job built from TWO chained lateral joins — each
    product-stats row is exploded by the tokenizer UDTF over
    ``spu_name`` (U1, ik_analyze) AND by the C2R unpivot UDTF over its
    (click_ct, cart_ct, order_ct) counts (U2, keywordProductC2R), the
    cross of the two laterals yielding one row per (keyword, non-zero
    source). No aggregation happens in the reference job — the
    ClickHouse table aggregates on read — so none happens here.

    ``product_stats`` needs ``spu_name``, ``click_ct``, ``cart_ct``,
    ``order_ct``; any other columns (stt/edt window bounds) are carried
    through unchanged, mirroring the reference's select list.

    Spark-first shape: both "UDTFs" are pure column expressions —
    ``explode(tokenize(...))`` and a ``stack`` — so the whole double
    lateral stays inside one whole-stage-codegen projection; no Python
    runs per row and the explode multiplies rows AFTER any upstream
    aggregation shrank them.
    """
    from rt_bigdata_spark.functions.text_fns import tokenize, unpivot_counts

    carry = [c for c in product_stats.columns
             if c not in ("spu_name", "click_ct", "cart_ct", "order_ct")]
    words = product_stats.select(
        F.explode(tokenize(F.col("spu_name"))).alias("keyword"),
        "click_ct", "cart_ct", "order_ct", *carry,
    )
    return (
        words.select(
            "keyword",
            unpivot_counts([("click_ct", "CLICK"), ("cart_ct", "CART"), ("order_ct", "ORDER")]),
            *carry,
        )
        .filter(F.col("ct") > 0)
        .select("keyword", F.col("ct").cast("long").alias("ct"), "source", *carry)
    )
