"""Custom stateful streaming operator via applyInPandasWithState.

The windowed transforms in transforms.py are Spark built-ins; this is
the OTHER half of the streaming surface — arbitrary per-key state the
engine cannot express as a window, the Structured Streaming equivalent
of the reference's "bring your own Python reduce over a key partition"
extension point (reference w6/docs/design.md:93-101, workerimpl.cc:
112-130), made incremental.

State posture at scale: one fixed-width state row per active key held
in the state store, updated per micro-batch with Arrow-batched
transfer; no state growth with events-per-key.  With event-time
timeouts (GroupStateTimeout.EventTimeTimeout + a watermark) idle keys
would be evicted — kept NoTimeout here because the fixture's key space
is small and the oracle covers all keys.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"
STATE_SCHEMA = "cnt bigint, cents bigint"


def running_totals(stream_df: DataFrame) -> DataFrame:
    """Per-user running (event count, total value in integer cents),
    emitted as an update row per key per micro-batch that touches it.

    Value accumulates in integer cents so the running total is exact
    and batch≡stream comparable regardless of arrival order — summing
    doubles incrementally would drift by fold order.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator, state: GroupState) -> Iterator:
        # Defined locally; cloudpickle ships it by value (executors
        # never import this module — see functions/tokenize.py).
        import numpy as np
        import pandas as pd

        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            # numpy in place of fillna().mul().round().sum(): three
            # fewer temp Series per call on a once-per-key-per-batch
            # hot path (guide §4.2); np.round is the same banker's
            # rounding pandas applies, so the cents are bit-identical.
            v = pdf["value"].to_numpy(dtype="float64")
            cents += int(np.round(np.nan_to_num(v) * 100.0).sum())
        state.update((cnt, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "total_cents": [cents]}
        )

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, start_ms bigint, end_ms bigint, n_events bigint"
)


def timeout_sessions(stream_df: DataFrame, gap_ms: int = 43_200_000) -> DataFrame:
    """Event-time-timer sessionization on ``applyInPandasWithState`` +
    ``EventTimeTimeout``: TIMER-DRIVEN emission, where a row is
    produced because TIME passed, not because an input row arrived.

    Per-user sessions with an idle gap: an arriving event either
    extends the open session (Δt ≤ gap) or PROVES the old one closed
    (Δt > gap — emitted immediately, no timer needed).  The timer
    covers the other closure mode, a session nothing follows: each
    update re-arms ``setTimeoutTimestamp(last_ms + gap_ms)``, one
    event-time timeout per key, which is exactly one timer per key;
    when the watermark passes it Spark re-invokes the function with
    ``state.hasTimedOut`` and no rows, and the session emits + clears.
    Sessions still open at the final watermark are deliberately NOT
    emitted (they are not closed yet) — the registered key's oracle
    applies the same cutoff.

    State posture at 100 TB: one fixed-width state row per ACTIVE user
    — idle keys clear themselves on expiry, so state tracks concurrent
    sessions, not history.  Emission timestamps are integer epoch-ms
    (computed in-plan by unix_millis, mirrored by DuckDB's epoch_ms),
    so the output is engine- and batching-exact."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        cols = ["user_id", "start_ms", "end_ms", "n_events"]
        if state.hasTimedOut:
            start, last, cnt = state.get
            state.remove()
            yield pd.DataFrame([(int(key[0]), start, last, cnt)], columns=cols)
            return
        start, last, cnt = state.get if state.exists else (None, None, 0)
        closed = []
        # numpy sort + .tolist() beats pd.concat().sort_values() +
        # per-element int() when the function runs once per key per
        # batch (guide §4.2).
        parts = [pdf["ms"].to_numpy() for pdf in pdfs if len(pdf)]
        if parts:
            arr = np.concatenate(parts) if len(parts) > 1 else parts[0]
            for t in np.sort(arr).tolist():
                if start is None:
                    start, last, cnt = t, t, 1
                elif t - last > gap_ms:
                    closed.append((int(key[0]), start, last, cnt))
                    start, last, cnt = t, t, 1
                else:
                    # min/max guards: out-of-order arrivals within the
                    # watermark delay land INSIDE the session span
                    # (delay ≪ gap is the operating envelope), so the
                    # span must absorb them on both ends — matching the
                    # globally-ordered oracle.
                    start, last, cnt = min(start, t), max(last, t), cnt + 1
        if start is not None:
            state.update((start, last, cnt))
            state.setTimeoutTimestamp(last + gap_ms)
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    with_ms = stream_df.withColumn("ms", F.unix_millis(F.col("ts")))
    return with_ms.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType="start_ms long, last_ms long, cnt long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


TTL_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, evicted boolean"


def ttl_evicting_totals(stream_df: DataFrame, ttl_ms: int = 2_000) -> DataFrame:
    """Per-key running totals whose state EXPIRES after ``ttl_ms`` of
    processing-time inactivity — the ``applyInPandasWithState`` +
    ``ProcessingTimeTimeout`` expression of state TTL, the third and
    last state-lifecycle mode next to ``running_totals`` (NoTimeout)
    and ``timeout_sessions`` (EventTimeTimeout).  Spark 4's
    ``transformWithStateInPandas`` exposes the same semantics
    declaratively (``getValueState(..., ttlDurationMs=...)`` — any
    update resets expiry to now + TTL), but its state-server protocol
    needs google.protobuf, absent in this container, so this lane is
    the one that runs here; the contract is identical by construction
    (each update re-arms ``setTimeoutDuration(ttl_ms)``).

    Semantics: every batch that touches a key emits its running count
    with ``evicted=false`` and re-arms the TTL; a later batch finds
    every key idle past the TTL, emits its FINAL count with
    ``evicted=true`` and removes the state (keys receiving data in
    that same batch are updates, never evictions — Spark only times
    out keys absent from the batch's input).

    State posture at 100 TB: state size tracks keys seen within the
    last TTL window, not key-space history — exactly the bound an
    unbounded-cardinality corpus (URLs, session tokens) needs to run
    a continuous pipeline without state-store growth.

    Operational caveat (measured, not documented upstream): run this
    under a CONTINUOUS trigger.  Timers need live batches to fire, so
    an ``availableNow`` run with pending processing-time timeouts does
    not self-terminate — Spark keeps scheduling empty batches to
    service them.  Processing-time expiry is wall-clock-dependent by
    definition, so this operator is pinned by
    tests/test_streaming.py::test_processing_time_ttl_evicts (one
    continuous-trigger query: accumulate-within-TTL, evict-once-after,
    fresh-state-on-refeed) rather than by a hash-checked registry
    key."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        cols = ["user_id", "n_events", "evicted"]
        if state.hasTimedOut:
            (cnt,) = state.get
            state.remove()
            yield pd.DataFrame([(int(key[0]), cnt, True)], columns=cols)
            return
        (cnt,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame([(int(key[0]), cnt, False)], columns=cols)

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=TTL_OUTPUT_SCHEMA,
        stateStructType="cnt long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
