"""Stateful streaming operators (SURVEY.md §2.7, T1-T3).

The reference implements these with Flink keyed ValueState / CEP.
This module is the engine's one stateful streaming engine. Spark-native,
T2 is Structured Streaming's own deduplication operator
(``dropDuplicates`` with a state store, no Python boundary); T1, T3 and
the funnel need per-key logic and are ``applyInPandasWithState`` over
``groupBy(key)`` — Arrow-batched per-group logic with an explicit state
object and event-time timeouts. Each operator also works on batch
DataFrames (``applyInPandas`` for T3: no state carries across calls,
the whole group is one batch) so semantics are testable without a
streaming harness.

- T1 new-visitor correction (rt-flink …/app/dwd/OdsBaseLogApp.scala:86-135):
  per-mid first-visit date; a claimed ``is_new=1`` on a later date is
  rewritten to 0.
- T2 daily UV dedup (…/app/dwm/UniqueVisitApp.scala:74-116): keep
  only the first entry event per (mid, day) via native
  ``dropDuplicates``; the reference's 1-day state TTL becomes a 1-day
  event-time window in the dedup keys, evicted behind the watermark.
- T3 bounce detection (…/app/dwm/UserJumpDetailApp.scala:93-140): CEP
  ``begin(entry).next(any).within(10 s)`` where the TIMED-OUT partial
  match is the output: an entry page with no follow-up within 10 s is
  a bounce.

Scale notes: state is per-mid (per (mid, day) for T2) and O(bytes);
the shuffle is the unavoidable keyBy. With RocksDB state store
(``spark.sql.streaming.stateStore.providerClass``) state spills to
disk exactly like the reference's RocksDB backend.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

BOUNCE_TIMEOUT_MS = 10_000  # .within(Time.seconds(10)), UserJumpDetailApp.scala:116

# Input contract for all three operators (flattened page log, FIXTURES.md §1).
PAGE_EVENT_SCHEMA = StructType(
    [
        StructField("mid", StringType()),
        StructField("page_id", StringType()),
        StructField("last_page_id", StringType()),
        StructField("is_new", StringType()),
        StructField("ts", LongType()),  # epoch ms
    ]
)

IS_NEW_OUT_SCHEMA = StructType(
    [
        StructField("mid", StringType()),
        StructField("page_id", StringType()),
        StructField("last_page_id", StringType()),
        StructField("is_new", StringType()),
        StructField("ts", LongType()),
    ]
)

BOUNCE_OUT_SCHEMA = StructType(
    [
        StructField("mid", StringType()),
        StructField("page_id", StringType()),
        StructField("ts", LongType()),
    ]
)

_DAY_MS = 86_400_000


def _day(ts_ms: int) -> str:
    return pd.Timestamp(ts_ms, unit="ms").strftime("%Y-%m-%d")


def _prune_for_state(events: DataFrame, cols: "tuple[str, ...]") -> DataFrame:
    """Project to exactly the columns the stateful kernel reads — plus
    any watermarked event-time column (the one ``withWatermark`` tagged
    with ``spark.watermarkDelayMs`` metadata, whatever its name), since
    dropping it would detach the query's watermark/timeout machinery —
    BEFORE the keyed shuffle and the Arrow boundary:
    ``applyInPandasWithState`` and ``applyInPandas`` ship EVERY column
    of the grouped frame to the Python worker, and Spark cannot see
    which fields the function touches, so a wide production log schema
    would otherwise cross the state-store shuffle and the
    JVM→Arrow→Python boundary in full on every micro-batch. Semantics
    unchanged: the kernels read only these fields, and the output
    schema is fixed by the declared output schema either way."""
    keep = list(cols)
    keep += [name for name in _watermark_columns(events) if name not in keep]
    return events.select(*keep)


def _watermark_columns(events: DataFrame) -> list[str]:
    """Names of the columns ``withWatermark`` tagged with
    ``spark.watermarkDelayMs`` metadata."""
    return [f.name for f in events.schema.fields if "spark.watermarkDelayMs" in f.metadata]


# --- T1 ---------------------------------------------------------------------


def _is_new_fn(
    key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """T1 on applyInPandasWithState. State: first visit date string.
    Rewrites is_new=1 → 0 when the mid has an earlier first-visit date
    (OdsBaseLogApp.scala:90-135)."""
    (first_date,) = state.get if state.exists else (None,)
    rows: list[dict[str, Any]] = []
    for pdf in pdfs:
        for r in pdf.sort_values("ts").itertuples(index=False):
            d = _day(r.ts)
            is_new = r.is_new
            if is_new == "1":
                if first_date is None:
                    first_date = d
                elif first_date != d:
                    is_new = "0"
            elif first_date is None:
                # Visitor already returning: remember a date strictly
                # before today so later ``is_new=1`` claims are corrected
                # (reference stores yesterday, OdsBaseLogApp.scala:128-131).
                first_date = _day(r.ts - _DAY_MS)
            rows.append(
                {"mid": r.mid, "page_id": r.page_id, "last_page_id": r.last_page_id, "is_new": is_new, "ts": r.ts}
            )
    state.update((first_date,))
    yield pd.DataFrame(rows, columns=[f.name for f in IS_NEW_OUT_SCHEMA.fields])


def correct_is_new(events: DataFrame) -> DataFrame:
    events = _prune_for_state(events, ("mid", "page_id", "last_page_id", "is_new", "ts"))
    return events.groupBy("mid").applyInPandasWithState(
        _is_new_fn,
        outputStructType=IS_NEW_OUT_SCHEMA,
        stateStructType="first_date STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- T2 ---------------------------------------------------------------------


def unique_visits(events: DataFrame, ttl: bool = False) -> DataFrame:
    """T2 daily-UV dedup (UniqueVisitApp.scala:74-116) as Structured
    Streaming's native deduplication: entry events only (empty
    ``last_page_id``), then ``dropDuplicates`` on ``(mid, dt)`` with
    ``dt`` the UTC day of ``ts``. The state store holds one key per
    ``(mid, dt)``; no Python worker runs. Within a micro-batch the
    emitted row is the first the operator reads, the reference's
    arrival-order rule.

    An entry for an earlier day that arrives after a later day's entry
    is emitted too, as in the batch builder
    (``apps.unique_visit_app(streaming=False)``); the former keyed-state
    kernel kept only the latest date per mid and dropped it. A
    checkpoint written by that ``applyInPandasWithState`` operator
    cannot be resumed by this plan.

    ``ttl=True`` bounds state to the open days, the role of the
    reference's 1-day StateTtlConfig: the 1-day ``window`` of the
    input's watermarked event-time column (any name, e.g.
    ``withWatermark("eventTime", …)``) joins the dedup keys, so a day's
    keys leave the state once the watermark passes that day's end, and
    entries behind the watermark are dropped as late. Raises
    ``ValueError`` when the input carries no watermarked column."""
    entries = events.filter(F.col("last_page_id").isNull() | (F.col("last_page_id") == ""))
    dt = F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd")  # session TZ is UTC, like _day
    cols = [F.col("mid"), F.col("ts"), dt.alias("dt")]
    keys = ["mid", "dt"]
    if ttl:
        wm = _watermark_columns(events)
        if not wm:
            raise ValueError("unique_visits(ttl=True) needs an input with a watermarked event-time column")
        cols.append(F.window(wm[0], "1 day").alias("day_window"))
        keys.append("day_window")
    return entries.select(*cols).dropDuplicates(keys).select("mid", "dt", "ts")


# --- T3 ---------------------------------------------------------------------


def _bounce_scan(
    pdfs: Iterable[pd.DataFrame],
    pending_page: str | None,
    pending_ts: int | None,
) -> tuple[list[dict[str, Any]], str | None, int | None]:
    """T3 kernel (rows_to_emit, pending_page, pending_ts): hold each
    entry event (empty last_page_id); the NEXT event for the mid
    resolves the held entry — gap > 10 s emits it as a bounce, within
    10 s discards it (UserJumpDetailApp.scala:93-140). The streaming
    path (``_bounce_fn``) and the batch path (``detect_bounces_batch``)
    both run it, so the two agree on the CEP semantics."""
    rows: list[dict[str, Any]] = []
    for pdf in pdfs:
        for r in pdf.sort_values("ts").itertuples(index=False):
            if pending_ts is not None:
                if r.ts - pending_ts > BOUNCE_TIMEOUT_MS:
                    rows.append({"mid": r.mid, "page_id": pending_page, "ts": pending_ts})
                pending_page, pending_ts = None, None
            if r.last_page_id is None or r.last_page_id == "":
                pending_page, pending_ts = r.page_id, r.ts
    return rows, pending_page, pending_ts


def _bounce_fn(key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """T3 on applyInPandasWithState. State: pending entry (page_id, ts).

    On streams, the pending entry is flushed by an event-time timeout
    when the watermark passes ts+10 s; on batch (applyInPandas path)
    the group end flushes it.
    """
    pending_page, pending_ts = (state.get if state.exists else (None, None))

    if state.hasTimedOut:
        rows: list[dict[str, Any]] = []
        if pending_ts is not None:
            rows.append({"mid": key[0], "page_id": pending_page, "ts": pending_ts})
        state.remove()
        yield pd.DataFrame(rows, columns=[f.name for f in BOUNCE_OUT_SCHEMA.fields])
        return

    rows, pending_page, pending_ts = _bounce_scan(pdfs, pending_page, pending_ts)
    if pending_ts is not None:
        state.update((pending_page, pending_ts))
        state.setTimeoutTimestamp(pending_ts + BOUNCE_TIMEOUT_MS)
    elif state.exists:
        # No pending match → drop the state row. Never write placeholder
        # state for idle mids: with no timeout attached it would live
        # forever — unbounded state growth at production mid counts.
        state.remove()
    yield pd.DataFrame(rows, columns=[f.name for f in BOUNCE_OUT_SCHEMA.fields])


def detect_bounces(events: DataFrame) -> DataFrame:
    """Streaming bounce detection. ``events`` must carry a timestamp
    column with a watermark, of any name, for the timeout to fire (e.g.
    ``withWatermark("eventTime", "2 seconds")``)."""
    events = _prune_for_state(events, ("mid", "page_id", "last_page_id", "ts"))
    return events.groupBy("mid").applyInPandasWithState(
        _bounce_fn,
        outputStructType=BOUNCE_OUT_SCHEMA,
        stateStructType="pending_page STRING, pending_ts LONG",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- Batch analogs ----------------------------------------------------------


def detect_bounces_batch(events: DataFrame) -> DataFrame:
    """Batch path: same shared kernel via applyInPandas (whole history
    per mid in one group; trailing entry events are flushed as bounces
    — batch "end of stream" plays the stream's timeout)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows, pending_page, pending_ts = _bounce_scan([pdf], None, None)
        if pending_ts is not None:
            rows.append({"mid": pdf["mid"].iloc[0], "page_id": pending_page, "ts": pending_ts})
        return pd.DataFrame(rows, columns=[f.name for f in BOUNCE_OUT_SCHEMA.fields])

    events = _prune_for_state(events, ("mid", "page_id", "last_page_id", "ts"))
    return events.groupBy("mid").applyInPandas(fn, schema=BOUNCE_OUT_SCHEMA)


# --- Streaming funnel (T3 generalization) -----------------------------------

FUNNEL_EVENT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("ts", LongType()),  # epoch ms
    ]
)

FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("funnel_stage", LongType()),
        StructField("reached_ts", LongType()),
    ]
)


def _funnel_fn_factory(steps: tuple[str, ...]):
    """Per-user funnel advance: state = (stage, reach_ts); an event
    advances the funnel iff it is the NEXT step's type at-or-after the
    time the current stage was reached (the same inclusive `>=`
    the batch operator and its SQL oracle use). Emits one row per
    advance — consumers take the max stage per user.

    Equivalence contract with ``behavior.funnel_stages``: identical
    final stages when events arrive in event-time order across
    micro-batches (the same in-order caveat T1 documents). WITHIN a
    micro-batch the contract is unconditional: the group's Arrow
    chunks are pooled and sorted ONCE (a per-chunk sort would process
    large groups out of order — the iterator splits a group at
    ``arrow.maxRecordsPerBatch`` rows), and the sort key is
    ``(ts, step-rank)`` so same-timestamp progression (view@t,
    click@t) advances exactly like the batch operator's inclusive
    ``>=`` — a bare unstable ts sort would count or miss the tied
    click depending on arbitrary tie order. NULL users are dropped,
    mirroring the batch operator.
    """
    rank = {s: i for i, s in enumerate(steps)}

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        stage, reach_ts = (state.get if state.exists else (0, None))
        rows: list[dict[str, Any]] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pooled = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            pooled = pooled.assign(
                _rk=pooled["event_type"].map(rank).fillna(len(steps)).astype("int64")
            )
            for r in pooled.sort_values(["ts", "_rk"], kind="stable").itertuples(index=False):
                if stage >= len(steps):
                    break
                if r.event_type == steps[stage] and (reach_ts is None or r.ts >= reach_ts):
                    stage += 1
                    reach_ts = r.ts
                    rows.append(
                        {"user_id": key[0], "funnel_stage": stage, "reached_ts": r.ts}
                    )
        state.update((stage, reach_ts))
        yield pd.DataFrame(rows, columns=[f.name for f in FUNNEL_OUT_SCHEMA.fields])

    return fn


def track_funnel(events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")) -> DataFrame:
    """Streaming funnel progression: append-mode rows
    ``(user_id, funnel_stage, reached_ts)`` emitted as each user
    advances a stage — the ordered-sequence CEP pattern
    (begin(step1).followedBy(step2)…) the reference expresses in
    Flink CEP, over the same keyBy shuffle. State per user is two
    numbers; at production user counts pair with the RocksDB state
    store exactly like T1-T3."""
    events = _prune_for_state(events, ("user_id", "event_type", "ts"))
    return (
        events.filter(events["user_id"].isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_fn_factory(tuple(steps)),
            outputStructType=FUNNEL_OUT_SCHEMA,
            stateStructType="stage LONG, reach_ts LONG",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
