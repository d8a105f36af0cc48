"""Custom stateful streaming operators via applyInPandasWithState —
the streaming analog of the reference's long-lived per-vertex worker
state (/root/reference/daemons/core/module_vertex.py:76-96: each
worker holds vertex state across supersteps; here the state store
holds per-key state across micro-batches, with fault tolerance and
watermark-driven eviction the reference never had).

Scale notes: state lives in the executor state store (RocksDB-backed
in production configs), partitioned by the grouping key — the same
shuffle co-location as any groupBy. Always set a timeout so abandoned
keys age out; unbounded key cardinality with no timeout is the classic
state-store OOM at 100 TB/day.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..worker import on_worker

USER_STATS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("events_total", LongType()),
        StructField("batches_seen", IntegerType()),
        StructField("value_sum", LongType()),
    ]
)

_USER_STATS_STATE = StructType(
    [
        StructField("events_total", LongType()),
        StructField("batches_seen", IntegerType()),
        StructField("value_sum_micros", LongType()),
    ]
)


def _batch_rows(
    pdfs: Iterator, ts_col: str, id_col: str, type_col: str
) -> list[tuple]:
    """Extract this micro-batch's (ts_us, event_id, event_type) rows,
    sorted by (ts, event_id) — numpy column walk, not iterrows, so the
    per-batch Python cost is O(columns) array conversions plus one
    sort. datetime64 view is unit-normalized to ns first (Arrow may
    hand pandas either ns or us resolution); ns // 1000 floor-divides
    exactly like the Timestamp.value path it replaced."""
    rows: list[tuple] = []
    for pdf in pdfs:
        ts_us = (
            pdf[ts_col].to_numpy(dtype="datetime64[ns]").view("int64")
            // 1000
        )
        rows.extend(
            zip(ts_us.tolist(), pdf[id_col].tolist(), pdf[type_col].tolist())
        )
    rows.sort(key=lambda t: (t[0], t[1]))
    return rows


def _make_stats_update(timeout_ms: int | None):
    """Build the per-group update closure for running_user_stats —
    module-level so the timeout-eviction branch is unit-testable with
    a fake GroupState (a real ProcessingTimeTimeout firing is not
    deterministically reachable in a test)."""

    def update(
        key: tuple, pdfs: Iterator, state: GroupState
    ) -> Iterator:
        import pandas as pd

        if state.hasTimedOut:
            # Abandoned user: evict without re-arming the timeout or
            # re-emitting a stale row (re-arming here would keep every
            # key alive forever, defeating the store-size bound).
            state.remove()
            return
        total, batches, vsum = (
            state.get if state.exists else (0, 0, 0)
        )
        n, v = 0, 0
        for pdf in pdfs:
            n += len(pdf)
            v += int(round(pdf["value"].sum() * 1_000_000))
        total += n
        batches += 1
        vsum += v
        state.update((total, batches, vsum))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "events_total": [total],
                "batches_seen": [batches],
                "value_sum": [vsum],
            }
        )

    return update


def running_user_stats(
    events: DataFrame, timeout_ms: int | None = None
) -> DataFrame:
    """Per-user running totals maintained across micro-batches.

    Emits one updated row per user per micro-batch in which the user
    appears. value is accumulated in integer micros so state updates
    are exact and order-independent. With ``timeout_ms`` set, a user
    idle past the timeout is evicted from the store (no row emitted)."""
    update = _make_stats_update(timeout_ms)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        on_worker(update),
        outputStructType=USER_STATS_OUTPUT,
        stateStructType=_USER_STATS_STATE,
        outputMode="update",
        timeoutConf=timeout,
    )


def streaming_funnel_stages(
    events: DataFrame,
    steps: Sequence[str],
    window_us: int,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    timeout_ms: int | None = None,
) -> DataFrame:
    """Continuous conversion funnel — the streaming twin of
    operators/sessions.funnel_stage_times: per-user greedy first-match
    stage slots maintained in the state store across micro-batches,
    one updated row per user per batch they appear in. Because stage i
    requires stage i-1, reached slots always form a PREFIX, so
    ``stage_ts`` is emitted DENSE: epoch-us of stages 1..stage_reached
    (no NULL padding — nullable array elements also break row decoding
    in some sinks). The greedy walk is ORDER-SENSITIVE, so exactness
    against the batch fold holds when each user's events arrive in
    (ts, event_id) order across batches (the per-batch slice is sorted
    before applying; cross-batch reordering is the documented
    replay/out-of-orderness caveat — asserted stream ≡ batch in tests
    over time-chunked batches).

    Scale: state is K int64 slots per ACTIVE user, co-located by the
    same user-key shuffle as any groupBy; set ``timeout_ms`` so
    abandoned users age out of the store (on timeout the user's state
    is REMOVED after one final row is emitted, so an abandoned funnel
    surfaces exactly once and then stops occupying the store)."""
    user_field = events.schema[user_col]
    out_schema = StructType(
        [
            StructField(user_col, user_field.dataType),
            StructField("stage_reached", IntegerType()),
            StructField("stage_ts", ArrayType(LongType())),
        ]
    )
    state_schema = StructType([StructField("slots", ArrayType(LongType()))])
    update = _make_funnel_update(
        steps, window_us, ts_col, user_col, type_col, id_col, timeout_ms
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy(user_col).applyInPandasWithState(
        on_worker(update),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout,
    )


def _make_funnel_update(
    steps: Sequence[str],
    window_us: int,
    ts_col: str,
    user_col: str,
    type_col: str,
    id_col: str,
    timeout_ms: int | None,
):
    """Build the per-group update closure for streaming_funnel_stages —
    module-level so the timeout-eviction branch is unit-testable with
    a fake GroupState."""
    k = len(steps)
    step_idx = {s: i for i, s in enumerate(steps)}

    def update(key: tuple, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        if state.hasTimedOut:
            # Abandoned funnel: emit the final reached-prefix once,
            # then evict WITHOUT re-arming — re-arming here would
            # re-emit an unchanged row every interval and keep the
            # key in the store forever.
            final = [int(v) for v in state.get[0]] if state.exists else []
            state.remove()
            yield pd.DataFrame(
                {
                    user_col: [key[0]],
                    "stage_reached": [len(final)],
                    "stage_ts": [final],
                }
            )
            return
        # state holds the DENSE reached-prefix; pad to k for the walk
        dense = [int(v) for v in state.get[0]] if state.exists else []
        slots = dense + [None] * (k - len(dense))
        rows = _batch_rows(pdfs, ts_col, id_col, type_col)
        for ts_us, _eid, etype in rows:
            i = step_idx.get(etype)
            if i is None or slots[i] is not None:
                continue
            prev_ok = i == 0 or (
                slots[i - 1] is not None
                and ts_us - slots[0] <= window_us
            )
            if prev_ok:
                slots[i] = ts_us
        dense = [s for s in slots if s is not None]
        state.update((dense,))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "stage_reached": [len(dense)],
                "stage_ts": [dense],
            }
        )

    return update


def streaming_match_pattern(
    events: DataFrame,
    first: str,
    middle: str,
    last: str,
    within_us: int | None = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of operators/sessions.match_pattern (CEP
    ``first middle+ last`` with STRICT contiguity): a three-field
    automaton per active user — (status, anchor_us, n_middle) —
    advances event by event and emits each completed match EXACTLY
    once, with the same row shape as the batch operator. Equality
    with the batch run holds when each user's events arrive in
    (ts, event_id) order across micro-batches (per-batch slices are
    sorted before applying — the funnel twin's documented
    out-of-orderness contract, asserted stream ≡ batch in tests).

    Scale: state is O(1) per active user — THREE scalars, regardless
    of timeline length (the batch op's run-length encoding never
    materializes here); co-located by the same user-key shuffle as
    any groupBy. ``timeout_ms`` evicts abandoned automatons WITHOUT
    emission — an incomplete pattern is not a match, unlike the
    funnel's reached-prefix which is a result in itself."""
    if len({first, middle, last}) != 3:
        raise ValueError("pattern types must be pairwise distinct")
    user_field = events.schema[user_col]
    out_schema = StructType(
        [
            StructField(user_col, user_field.dataType),
            StructField("first_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n_middle", LongType()),
            StructField("duration_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("status", IntegerType()),
            StructField("anchor_us", LongType()),
            StructField("n_middle", LongType()),
        ]
    )

    def update(key: tuple, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        st, anchor, n = state.get if state.exists else (0, 0, 0)
        rows = _batch_rows(pdfs, ts_col, id_col, type_col)
        matches = []
        for ts_us, _eid, etype in rows:
            if st == 2 and etype == last:
                if within_us is None or ts_us - anchor <= within_us:
                    matches.append((anchor, ts_us, n, ts_us - anchor))
                st, anchor, n = 0, 0, 0
                continue
            if etype == first:
                st, anchor, n = 1, ts_us, 0
            elif st >= 1 and etype == middle:
                st, n = 2, n + 1
            else:
                st, anchor, n = 0, 0, 0
        if st == 0:
            # Automaton at rest: holding a (0,0,0) row would pin every
            # user ever seen in the state store forever under the
            # default timeout_ms=None (the unbounded growth the module
            # docstring warns about). Drop the row — it is re-created
            # lazily, and byte-identically, on the user's next event.
            if state.exists:
                state.remove()
        else:
            state.update((st, anchor, n))
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)
        if matches:
            yield pd.DataFrame(
                {
                    user_col: [key[0]] * len(matches),
                    "first_us": [m[0] for m in matches],
                    "last_us": [m[1] for m in matches],
                    "n_middle": [m[2] for m in matches],
                    "duration_us": [m[3] for m in matches],
                }
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy(user_col).applyInPandasWithState(
        on_worker(update),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )
