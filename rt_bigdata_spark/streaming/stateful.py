"""Stateful streaming operators (SURVEY.md §2.7, T1-T3).

The reference implements these with Flink keyed ValueState / CEP;
Spark-native they are ``applyInPandasWithState`` over ``groupBy(mid)``
— Arrow-batched per-group logic with an explicit state object and
event-time timeouts. Each operator also works on batch DataFrames via
``applyInPandas`` (no state carries across calls, the whole group is
one batch) so semantics are testable without a streaming harness.

- T1 new-visitor correction (rt-flink …/app/dwd/OdsBaseLogApp.scala:86-135):
  per-mid first-visit date; a claimed ``is_new=1`` on a later date is
  rewritten to 0.
- T2 daily UV dedup (…/app/dwm/UniqueVisitApp.scala:74-116): per-mid
  keep only the first event per day; entry-page pre-filter; state TTL
  1 day ≈ keeping only the latest date in state.
- T3 bounce detection (…/app/dwm/UserJumpDetailApp.scala:93-140): CEP
  ``begin(entry).next(any).within(10 s)`` where the TIMED-OUT partial
  match is the output: an entry page with no follow-up within 10 s is
  a bounce.

Scale notes: state is per-mid and O(bytes); the shuffle is the
unavoidable keyBy. With RocksDB state store
(``spark.sql.streaming.stateStore.providerClass``) state spills to
disk exactly like the reference's RocksDB backend.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
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

UV_OUT_SCHEMA = StructType(
    [
        StructField("mid", StringType()),
        StructField("dt", StringType()),
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
    BEFORE the keyed shuffle and the Arrow boundary (r16, guide
    §4.1/§2.3): applyInPandasWithState / transformWithStateInPandas ship
    EVERY column of the grouped frame to the Python worker, and Spark
    cannot see which fields the function touches, so a wide production
    log schema would otherwise cross the state-store shuffle and the
    JVM→Arrow→Python boundary in full on every micro-batch. Semantics
    unchanged: the kernels read only these fields, and the output
    schema is fixed by outputStructType either way."""
    keep = list(cols)
    keep += [
        f.name for f in events.schema.fields
        if "spark.watermarkDelayMs" in f.metadata and f.name not in keep
    ]
    return events.select(*keep)


# --- T1 ---------------------------------------------------------------------


def _is_new_scan(
    pdfs: Iterable[pd.DataFrame], first_date: str | None
) -> tuple[list[dict[str, Any]], str | None]:
    """Shared T1 kernel (rows_to_emit, new_first_date): rewrite
    is_new=1 → 0 when the mid has an earlier first-visit date
    (OdsBaseLogApp.scala:90-135). ONE pure function consumed by BOTH
    engines (``_is_new_fn`` here, ``stateful_v2.IsNewProcessor``) so
    the reference semantics cannot drift between them (r7 verdict
    item 8)."""
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
    return rows, first_date


def _is_new_fn(
    key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """T1 on applyInPandasWithState. State: first visit date string."""
    (first_date,) = state.get if state.exists else (None,)
    rows, first_date = _is_new_scan(pdfs, first_date)
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


def _uv_scan(pdfs: Iterable[pd.DataFrame], last_date: str | None):
    """Shared T2 loop: (rows_to_emit, new_last_date, max_ts_seen)."""
    rows: list[dict[str, Any]] = []
    max_ts: int | None = None
    for pdf in pdfs:
        for r in pdf.sort_values("ts").itertuples(index=False):
            max_ts = r.ts if max_ts is None else max(max_ts, r.ts)
            if r.last_page_id is not None and r.last_page_id != "":
                continue  # not a session entry → can't be first visit of day
            d = _day(r.ts)
            if last_date is None or d > last_date:
                rows.append({"mid": r.mid, "dt": d, "ts": r.ts})
                last_date = d
    return rows, last_date, max_ts


def _uv_fn(key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """First visit per (mid, day); entry-filter on last_page_id; state
    holds the last seen date (UniqueVisitApp.scala:87-101)."""
    (last_date,) = state.get if state.exists else (None,)
    rows, last_date, _ = _uv_scan(pdfs, last_date)
    state.update((last_date,))
    yield pd.DataFrame(rows, columns=[f.name for f in UV_OUT_SCHEMA.fields])


def _uv_fn_ttl(key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """T2 with the reference's 1-day state TTL (StateTtlConfig
    Time.days(1), UniqueVisitApp.scala:87-92): state for a mid idle past
    a day is dropped by an event-time timeout, bounding total state to
    mids active in the last day — the property that matters at
    production mid cardinality. (Like the reference's TTL, expiry is
    unobservable in outputs — a same-date revisit >24 h later cannot
    exist — it is purely a state-size bound.)"""
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame([], columns=[f.name for f in UV_OUT_SCHEMA.fields])
        return
    (last_date,) = state.get if state.exists else (None,)
    rows, last_date, max_ts = _uv_scan(pdfs, last_date)
    state.update((last_date,))
    if max_ts is not None:
        # never set a timeout at/below the watermark (Spark rejects it)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(max_ts + _DAY_MS, wm + 1))
    yield pd.DataFrame(rows, columns=[f.name for f in UV_OUT_SCHEMA.fields])


def unique_visits(events: DataFrame, ttl: bool = False) -> DataFrame:
    """T2 daily-UV dedup. ``ttl=True`` reproduces the reference's 1-day
    state TTL via event-time timeouts — the input must then carry a
    watermarked event-time column of any name (e.g.
    ``withWatermark("eventTime", …)``) in addition to the epoch-ms
    ``ts``."""
    events = _prune_for_state(events, ("mid", "ts", "last_page_id"))
    if ttl:
        return events.groupBy("mid").applyInPandasWithState(
            _uv_fn_ttl,
            outputStructType=UV_OUT_SCHEMA,
            stateStructType="last_date STRING",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    return events.groupBy("mid").applyInPandasWithState(
        _uv_fn,
        outputStructType=UV_OUT_SCHEMA,
        stateStructType="last_date STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- T3 ---------------------------------------------------------------------


def _bounce_scan(
    pdfs: Iterable[pd.DataFrame],
    pending_page: str | None,
    pending_ts: int | None,
    on_resolved=None,
) -> tuple[list[dict[str, Any]], str | None, int | None]:
    """Shared T3 kernel (rows_to_emit, pending_page, pending_ts): hold
    each entry event (empty last_page_id); the NEXT event for the mid
    resolves the held entry — gap > 10 s emits it as a bounce, within
    10 s discards it (UserJumpDetailApp.scala:93-140). ``on_resolved``
    fires (with the resolved entry's ts) whenever a held entry is
    resolved by a successor — the v2 engine uses it to delete that
    entry's registered timer. ONE pure function consumed by all three
    callers (``_bounce_fn``, ``detect_bounces_batch``,
    ``stateful_v2.BounceProcessor``) so the CEP semantics cannot drift
    between engines (r7 verdict item 8)."""
    rows: list[dict[str, Any]] = []
    for pdf in pdfs:
        for r in pdf.sort_values("ts").itertuples(index=False):
            if pending_ts is not None:
                if r.ts - pending_ts > BOUNCE_TIMEOUT_MS:
                    rows.append({"mid": r.mid, "page_id": pending_page, "ts": pending_ts})
                if on_resolved is not None:
                    on_resolved(pending_ts)
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
    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        stage, reach_ts = (state.get if state.exists else (0, None))
        rows, stage, reach_ts = _funnel_scan(key[0], pdfs, steps, stage, reach_ts)
        state.update((stage, reach_ts))
        yield pd.DataFrame(rows, columns=[f.name for f in FUNNEL_OUT_SCHEMA.fields])

    return fn


def _funnel_scan(
    user_id,
    pdfs: "Iterable[pd.DataFrame]",
    steps: tuple[str, ...],
    stage: int,
    reach_ts,
) -> tuple[list[dict], int, "int | None"]:
    """The ONE funnel-advance kernel shared by the v1
    (applyInPandasWithState) and v2 (transformWithState) engines — the
    stateful shared-kernel rule: pool the group's Arrow chunks, sort
    once on (ts, step-rank), advance on next-step matches at-or-after
    the current reach time. Returns (emitted rows, stage, reach_ts)."""
    rank = {s: i for i, s in enumerate(steps)}
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
                    {"user_id": user_id, "funnel_stage": stage, "reached_ts": r.ts}
                )
    return rows, stage, reach_ts


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
