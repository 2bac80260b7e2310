"""T1/T2/T3 stateful operators on Spark 4's transformWithState API.

``stateful.py`` carries the v1 implementations: T1/T3 on
``applyInPandasWithState`` (the Spark 3.4-portable path) and T2 as
native ``dropDuplicates``. These re-express the same reference
semantics on the v2 arbitrary-state engine (StatefulProcessor), which
maps the reference's Flink primitives more directly:

- **native per-state TTL** (``getValueState(..., ttlDurationMs=)``) is
  the literal analog of Flink's ``StateTtlConfig`` 1-day expiry on the
  UV filter (rt-flink …/app/dwm/UniqueVisitApp.scala:87-92 —
  create-and-write, processing-time), where
  ``stateful.unique_visits(ttl=True)`` evicts event-time day windows
  behind the watermark instead;
- **named registered timers** (``registerTimer`` /
  ``handleExpiredTimer``) replace the single implicit
  ``GroupStateTimeout``, matching Flink CEP's per-pattern timeout timer
  (…/app/dwm/UserJumpDetailApp.scala:116) one-to-one;
- typed state variables (value/list/map) instead of one row-struct.

Requires the RocksDB state store provider
(``session.use_rocksdb_state``) — the v2 engine only runs there, which
mirrors the reference's RocksDB backend (…/app/dwd/OdsBaseLogApp.scala:
43-44) — plus the ``protobuf`` runtime for the TWS Python worker
(bridged from the gcloud SDK bundle by tests/_pbshim, so the
integration path runs for real here). Handler parameter names MUST be
the exact pyspark API names (``timerValues``, ``expiredTimerInfo``) —
Spark invokes them as keywords. Scale shape is unchanged from v1: one
keyBy shuffle, O(bytes) state per key, Arrow-batched Python execution.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from rt_bigdata_spark.streaming.stateful import (
    _prune_for_state,
    BOUNCE_OUT_SCHEMA,
    BOUNCE_TIMEOUT_MS,
    FUNNEL_OUT_SCHEMA,
    IS_NEW_OUT_SCHEMA,
    UV_OUT_SCHEMA,
    _DAY_MS,
    _bounce_scan,
    _day,
    _funnel_scan,
    _is_new_scan,
)

_UV_COLS = [f.name for f in UV_OUT_SCHEMA.fields]
_BOUNCE_COLS = [f.name for f in BOUNCE_OUT_SCHEMA.fields]
_IS_NEW_COLS = [f.name for f in IS_NEW_OUT_SCHEMA.fields]
_FUNNEL_COLS = [f.name for f in FUNNEL_OUT_SCHEMA.fields]


class IsNewProcessor(StatefulProcessor):
    """T1 new-visitor correction on the v2 engine: rewrite is_new=1 → 0
    when the mid has an earlier first-visit date
    (OdsBaseLogApp.scala:90-135); a returning visitor with empty state
    back-dates first_date to yesterday so later is_new=1 claims are
    corrected (reference stores yesterday, :128-131). Same semantics as
    ``stateful._is_new_fn`` — both engines share the reference's
    contract and the same fixture tests."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._first_date = handle.getValueState("first_date", "value STRING")

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        held = self._first_date.get()
        out, first_date = _is_new_scan(rows, held[0] if held is not None else None)
        if first_date is not None:
            self._first_date.update((first_date,))
        yield pd.DataFrame(out, columns=_IS_NEW_COLS)

    def close(self) -> None:
        pass


def _uv_scan(pdfs: Iterable[pd.DataFrame], last_date: str | None):
    """T2 loop of ``UniqueVisitProcessor``: (rows_to_emit, new_last_date)."""
    rows: list[dict[str, Any]] = []
    for pdf in pdfs:
        for r in pdf.sort_values("ts").itertuples(index=False):
            if r.last_page_id is not None and r.last_page_id != "":
                continue  # not a session entry → can't be first visit of day
            d = _day(r.ts)
            if last_date is None or d > last_date:
                rows.append({"mid": r.mid, "dt": d, "ts": r.ts})
                last_date = d
    return rows, last_date


class UniqueVisitProcessor(StatefulProcessor):
    """T2 daily-UV dedup; state = last emitted visit date per mid,
    optionally expiring via native TTL after one idle day."""

    def __init__(self, ttl_ms: int | None = None) -> None:
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._last_date = handle.getValueState(
            "last_date", "value STRING", ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        held = self._last_date.get()
        out, last_date = _uv_scan(rows, held[0] if held is not None else None)
        if last_date is not None:
            self._last_date.update((last_date,))
        yield pd.DataFrame(out, columns=_UV_COLS)

    def close(self) -> None:
        pass


class BounceProcessor(StatefulProcessor):
    """T3 CEP-timeout bounce detection; state = the pending entry
    event, flushed either by the next event for the mid (match →
    discard, gap > 10 s → bounce) or by a registered event-time timer
    (no successor at all → bounce), exactly Flink CEP's timed-out
    partial-match channel."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._pending = handle.getValueState("pending", "page_id STRING, ts LONG")

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        held = self._pending.get()
        pending_page, pending_ts = held if held is not None else (None, None)
        out, pending_page, pending_ts = _bounce_scan(
            rows,
            pending_page,
            pending_ts,
            # a resolved entry's registered timer must not outlive it
            on_resolved=lambda ts: self._handle.deleteTimer(ts + BOUNCE_TIMEOUT_MS),
        )
        if pending_ts is not None:
            self._pending.update((pending_page, pending_ts))
            self._handle.registerTimer(pending_ts + BOUNCE_TIMEOUT_MS)
        else:
            self._pending.clear()
        yield pd.DataFrame(out, columns=_BOUNCE_COLS)

    def handleExpiredTimer(
        self, key: tuple, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        held = self._pending.get()
        out: list[dict] = []
        # Guard: only flush if the firing timer belongs to the held entry
        # (a newer entry re-registers a later timer; the stale one must
        # not evict it).
        if held is not None and held[1] + BOUNCE_TIMEOUT_MS <= expiredTimerInfo.getExpiryTimeInMs():
            out.append({"mid": key[0], "page_id": held[0], "ts": held[1]})
            self._pending.clear()
        yield pd.DataFrame(out, columns=_BOUNCE_COLS)

    def close(self) -> None:
        pass


class FunnelProcessor(StatefulProcessor):
    """Streaming funnel progression (the T3 CEP generalization,
    ``stateful.track_funnel``) on the v2 engine: state = (stage,
    reach_ts) per user; events advance the funnel via the SAME pooled
    (ts, step-rank)-sorted scan kernel as v1 (``_funnel_scan`` — the
    shared-kernel rule, so the two engines cannot drift). The ordered-
    sequence pattern maps to Flink CEP begin/followedBy; an optional
    ``abandon_timeout_ms`` registers an event-time timer when a user
    first advances and, if the funnel is still incomplete when it
    fires, emits a terminal row (user_id, funnel_stage = -stage,
    reached_ts = expiry) — Flink CEP's ``within()`` timed-out-match
    channel, the piece v1's single implicit timeout cannot express
    alongside per-key progression state."""

    def __init__(self, steps: tuple[str, ...], abandon_timeout_ms: int | None = None) -> None:
        self._steps = tuple(steps)
        self._timeout = abandon_timeout_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("funnel", "stage LONG, reach_ts LONG")

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        held = self._state.get()
        stage, reach_ts = held if held is not None else (0, None)
        prior_stage = stage
        out, stage, reach_ts = _funnel_scan(key[0], rows, self._steps, stage, reach_ts)
        self._state.update((stage, reach_ts))
        if (
            self._timeout is not None
            and prior_stage == 0
            and 0 < stage < len(self._steps)
        ):
            # first advance: the abandonment clock starts at stage 1
            # (within() anchors at the pattern's FIRST match, so the
            # timer keys off the stage-1 row of this batch — NOT
            # reach_ts, which is the LAST stage reached when a user
            # advances multiple stages in one batch)
            self._handle.registerTimer(out[0]["reached_ts"] + self._timeout)
        yield pd.DataFrame(out, columns=_FUNNEL_COLS)

    def handleExpiredTimer(
        self, key: tuple, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        held = self._state.get()
        out: list[dict] = []
        if held is not None and 0 < held[0] < len(self._steps):
            out.append(
                {
                    "user_id": key[0],
                    "funnel_stage": -held[0],
                    "reached_ts": expiredTimerInfo.getExpiryTimeInMs(),
                }
            )
            # Flink CEP within(): a timed-out partial match is
            # DISCARDED — the abandonment row is terminal for this
            # attempt. Clear the state (mirrors BounceProcessor's
            # _pending.clear()) so post-timeout events cannot keep
            # advancing the dead attempt; they may start a FRESH
            # pattern attempt from stage 0, which is exactly the NFA
            # restart CEP performs after a timeout.
            self._state.clear()
        yield pd.DataFrame(out, columns=_FUNNEL_COLS)

    def close(self) -> None:
        pass


_DEDUP_DOC_COLS = ["doc_id", "text"]
DEDUP_DOC_OUT_SCHEMA = "doc_id LONG, text STRING"


class DocSeenProcessor(StatefulProcessor):
    """Exact streaming id-dedup for the curation ingest path on the v2
    engine: keyed by doc_id, one boolean of state — the FIRST
    occurrence passes through, every redelivery (at-least-once source,
    replayed extract, duplicated upstream shard) is dropped before the
    expensive near-dup/index sinks run. This is the id-level front gate
    of the curation chain (content-level near-dups intentionally pass:
    they carry DIFFERENT ids and are the near-dup store's job); the
    reference's analog is the Flink keyed ValueState dedup the UV
    filter builds on (UniqueVisitApp.scala:87-116), generalized from
    (mid, day) to a curation key. ``ttl_ms`` bounds state exactly like
    the UV filter's StateTtlConfig — at 100 TB the seen-set for an
    unbounded id space must expire or tier to the RocksDB store.

    Exactness contract (r14 advice): with ``ttl_ms`` set the gate is
    exact WITHIN the TTL horizon only — a redelivery arriving after the
    seen flag ages out is re-admitted by design (the same bounded-state
    trade the reference's StateTtlConfig UV filter makes); leave
    ``ttl_ms`` unset for an unbounded exact gate. When duplicate ids
    inside one batch carry DIFFERING text, the representative is the
    lexicographically SMALLEST text of the batch — a deterministic
    choice where "whichever row Spark hands over first" would make
    replays emit different rows; across batches the first-admitted
    batch's representative wins (inherent to streaming order)."""

    def __init__(self, ttl_ms: int | None = None) -> None:
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._seen = handle.getValueState("seen", "value BYTE", ttlDurationMs=self._ttl_ms)

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        out: list[dict] = []
        if self._seen.get() is None:
            # deterministic representative: min text over the batch's
            # rows for this key (see class docstring) — row delivery
            # order within a batch is not stable across replays
            texts = [t for pdf in rows for t in pdf["text"].tolist()]
            if texts:
                non_null = [t for t in texts if isinstance(t, str)]
                rep = min(non_null) if non_null else None
                out.append({"doc_id": key[0], "text": rep})
                self._seen.update((1,))
        yield pd.DataFrame(out, columns=_DEDUP_DOC_COLS)

    def close(self) -> None:
        pass


def dedup_docs_v2(docs: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Streaming exact-id dedup of (doc_id, text) rows on
    transformWithState: first occurrence per doc_id passes, replays
    drop. Plugs in FRONT of the curation sink chain
    (near_dup_maintenance_sink → keepers → ivf_index_maintenance_sink)
    so redeliveries never reach the stores."""
    docs = _prune_for_state(docs, ("doc_id", "text"))
    return docs.filter(docs["doc_id"].isNotNull()).groupBy("doc_id").transformWithStateInPandas(
        DocSeenProcessor(ttl_ms),
        outputStructType=DEDUP_DOC_OUT_SCHEMA,
        outputMode="append",
        timeMode="ProcessingTime" if ttl_ms is not None else "None",
    )


def track_funnel_v2(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    abandon_timeout_ms: int | None = None,
) -> DataFrame:
    """T3-generalization funnel on transformWithState. Timer-less by
    default (parity with ``stateful.track_funnel``); with
    ``abandon_timeout_ms`` set, ``events`` must carry a watermarked
    event-time column (any name) and incomplete funnels emit a negative-stage
    abandonment row when the timer fires."""
    events = _prune_for_state(events, ("user_id", "event_type", "ts"))
    return events.filter(events["user_id"].isNotNull()).groupBy("user_id").transformWithStateInPandas(
        FunnelProcessor(tuple(steps), abandon_timeout_ms),
        outputStructType=FUNNEL_OUT_SCHEMA,
        outputMode="append",
        timeMode="EventTime" if abandon_timeout_ms is not None else "None",
    )


def correct_is_new_v2(events: DataFrame) -> DataFrame:
    """T1 on transformWithState (timer-less: pure keyed value state)."""
    events = _prune_for_state(events, ("mid", "page_id", "last_page_id", "is_new", "ts"))
    return events.groupBy("mid").transformWithStateInPandas(
        IsNewProcessor(),
        outputStructType=IS_NEW_OUT_SCHEMA,
        outputMode="append",
        timeMode="None",
    )


def unique_visits_v2(events: DataFrame, ttl: bool = False) -> DataFrame:
    """T2 on transformWithState. ``ttl=True`` bounds state to mids
    active within the last day via native state TTL (processing-time,
    like the reference's StateTtlConfig)."""
    events = _prune_for_state(events, ("mid", "ts", "last_page_id"))
    return events.groupBy("mid").transformWithStateInPandas(
        UniqueVisitProcessor(_DAY_MS if ttl else None),
        outputStructType=UV_OUT_SCHEMA,
        outputMode="append",
        timeMode="ProcessingTime" if ttl else "None",
    )


def detect_bounces_v2(events: DataFrame) -> DataFrame:
    """T3 on transformWithState. ``events`` must carry a watermarked
    timestamp column (any name) for the timers to fire."""
    events = _prune_for_state(events, ("mid", "page_id", "last_page_id", "ts"))
    return events.groupBy("mid").transformWithStateInPandas(
        BounceProcessor(),
        outputStructType=BOUNCE_OUT_SCHEMA,
        outputMode="append",
        timeMode="EventTime",
    )
