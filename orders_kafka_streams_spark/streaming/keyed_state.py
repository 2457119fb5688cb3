"""Keyed-state stream operators: one GroupState fold, six step functions
(SURVEY §2.4 / §2.8 stateful tier).

Structured Streaming's arbitrary stateful processing is one
engine-owned state API plus a user update function. :func:`keyed_fold`
is that split: it owns the state protocol, and each operator below is a
``step`` closure over one key's rows.

The reference has one stateful kernel, the pair matcher
(OrderProcessor.java:99-154); the other five operators reuse its shape
for a numeric recurrence, two cursors and two counters. Each keeps
O(keys) state however long the stream runs, and each folds a
micro-batch in its sort order and carries the rest in state, so its
output is the same however the stream is split into batches, as long
as batches respect per-key order (file sources replay history in
order; the batch-split tests in tests/ assert it per operator).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def keyed_fold(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    output_schema: str,
    state_schema: str,
    step: Callable[[tuple, Any, Any], tuple[pd.DataFrame, Any]],
) -> DataFrame:
    """Group ``df`` by ``keys`` and fold each key's micro-batch rows,
    sorted by ``order``, through ``step`` with the key's carried state.

    ``step`` gets the key tuple, the sorted rows (index reset) and the
    stored state row, or None if the key has none; it returns the
    output frame and the new state. A None new state removes the key's
    state (emit-on-complete deletion, OrderProcessor.java:146-149).

    No timeout is armed (GroupStateTimeout.NoTimeout), so the engine
    calls the kernel only for keys with new rows and never passes an
    empty frame; with timers armed it would run a micro-batch per
    trigger just to evaluate them, and a drain would never settle.

    The kernel and every step closure reference only pandas and
    builtins, so cloudpickle ships them by value and Python workers
    unpickle them without importing this package.
    """

    def kernel(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(order).reset_index(drop=True)
        out, new = step(key, rows, state.get if state.exists else None)
        if new is not None:
            state.update(new)
        elif state.exists:
            state.remove()
        yield out

    return df.groupBy(*keys).applyInPandasWithState(
        kernel,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _event_ms(events: DataFrame, *cols: str) -> DataFrame:
    return events.selectExpr(*cols, "unix_millis(CAST(ts AS TIMESTAMP)) AS ts_ms")


def pair_match_stateful(
    events: DataFrame,
    placed_type: str = "click",
    fulfilled_type: str = "purchase",
) -> DataFrame:
    """events (streaming) → order.info records via explicit keyed state,
    the reference's per-key Processor-API semantics
    (OrderProcessor.java:99-154):

    - buffer whichever side arrives first in keyed state
      (put, OrderProcessor.java:152);
    - duplicate placed events overwrite — last-writer-wins
      (OrderProcessor.java:114);
    - on completion emit one ``order.info`` and DELETE state
      (OrderProcessor.java:146-149).

    The reference's punctuator expiry (OrderProcessor.java:161-206) is
    not reproduced (no timeout): unmatched placed state stays until its
    key completes. The join-based dead-letter route
    (streaming/pipeline.stream_dead_letter) is the watermark-driven
    expiry, and the stream-stream join in streaming/pipeline.py is the
    idiomatic matcher (engine-managed state, no Python in the loop);
    use this one when emit-on-completion timing fidelity matters.
    """

    def step(key, rows, state):
        (user_id,) = key
        placed_ms = state[0] if state is not None else None
        out = []
        for r in rows.itertuples(index=False):
            if r.event_type == placed_type:
                placed_ms = int(r.ts_ms)  # last-writer-wins
            elif r.event_type == fulfilled_type and placed_ms is not None:
                out.append((user_id, "order.info", int(r.ts_ms), int(r.ts_ms) - placed_ms))
                placed_ms = None  # emit-on-complete deletes state
        cols = ["user_id", "event_kind", "fulfilled_ms", "processing_ms"]
        return pd.DataFrame(out, columns=cols), None if placed_ms is None else (placed_ms,)

    return keyed_fold(
        _event_ms(events, "user_id", "event_type", "event_id"),
        ["user_id"],
        ["ts_ms", "event_type", "event_id"],
        "user_id long, event_kind string, fulfilled_ms long, processing_ms long",
        "placed_ms long",
        step,
    )


def stream_ewma(events: DataFrame, alpha: float) -> DataFrame:
    """events (streaming, with ``ts``/``user_id``/``value``) → one row
    per event carrying the running per-user EWMA
    ewma_t = α·x_t + (1−α)·ewma_{t−1} (batch twin: q_ewma in
    operators/timeseries.py). State is one double and a count per user.
    """

    def step(key, rows, state):
        (user_id,) = key
        ewma, n = state if state is not None else (None, 0)
        vals = rows["value"].astype(float)
        # pandas ewm(adjust=False) runs the SAME recursion
        # y_t = (1-α)·y_{t-1} + α·x_t in C — bit-identical to the
        # per-row Python fold (multiplications share operands, IEEE
        # addition is commutative; exactness is unit-asserted in
        # tests/test_streaming.py). Prior state seeds via a prepended
        # synthetic row. Raw (unrounded) ewma: rounding happens
        # engine-side in the consuming query.
        if ewma is None:
            e = vals.ewm(alpha=alpha, adjust=False).mean()
        else:
            seeded = pd.concat([pd.Series([float(ewma)]), vals], ignore_index=True)
            e = seeded.ewm(alpha=alpha, adjust=False).mean().iloc[1:].reset_index(drop=True)
        k = len(rows)
        out = pd.DataFrame(
            {
                "user_id": user_id,
                "event_id": rows["event_id"].astype("int64"),
                "ts_ms": rows["ts_ms"].astype("int64"),
                "value": vals,
                "ewma": e.to_numpy(),
                "n": n + pd.RangeIndex(1, k + 1).to_numpy(),
            }
        )
        return out, (float(e.iloc[-1]), n + k)

    return keyed_fold(
        _event_ms(events, "user_id", "event_id", "value"),
        ["user_id"],
        ["ts_ms", "event_id"],
        "user_id long, event_id long, ts_ms long, value double, ewma double, n long",
        "ewma double, n long",
        step,
    )


def stream_debounce(events: DataFrame, gap_ms: int) -> DataFrame:
    """events (streaming, with ``ts``/``user_id``/``event_type``) → one
    row per event with its debounce verdict (batch twin: q_debounce in
    operators/timeseries.py).

    State per (user, type) is the last RAW event's timestamp; it seeds
    the gap of each batch's first row, so the flags equal the batch
    lag-window form (throttle semantics, like the batch twin).
    """

    def step(key, rows, state):
        ts = rows["ts_ms"].astype("int64").tolist()
        prevs = [state[0] if state is not None else None] + ts[:-1]
        out = pd.DataFrame(
            {
                "event_id": rows["event_id"].astype("int64"),
                "event_type": rows["event_type"],
                "dropped": [
                    1 if (p is not None and t - p < gap_ms) else 0
                    for p, t in zip(prevs, ts)
                ],
            }
        )
        return out, (ts[-1],)

    return keyed_fold(
        _event_ms(events, "user_id", "event_id", "event_type"),
        ["user_id", "event_type"],
        ["ts_ms", "event_id"],
        "event_id long, event_type string, dropped long",
        "ts_ms long",
        step,
    )


def stream_transitions(events: DataFrame) -> DataFrame:
    """events (streaming, with ``ts``/``user_id``/``event_type``) → one
    row per adjacent same-user event pair (batch twin:
    q_transition_matrix in operators/timeseries.py).

    State per user is the last seen event (ts_ms, event_id,
    event_type); it seeds each batch's first pair, so the union of all
    batches' pairs equals the batch window-lag pair relation. This
    generalizes the reference's one CREATED→CONFIRMED pair per key to
    the full event-type alphabet.
    """

    def step(key, rows, state):
        (user_id,) = key
        types = rows["event_type"].tolist()
        eids = rows["event_id"].astype("int64").tolist()
        out = pd.DataFrame(
            {
                "user_id": user_id,
                "event_id": eids,
                "prev_type": [state[2] if state is not None else None] + types[:-1],
                "next_type": types,
            }
        )
        out = out[out["prev_type"].notna()]
        return out, (int(rows["ts_ms"].iloc[-1]), eids[-1], types[-1])

    return keyed_fold(
        _event_ms(events, "user_id", "event_id", "event_type"),
        ["user_id"],
        ["ts_ms", "event_id"],
        "user_id long, event_id long, prev_type string, next_type string",
        "ts_ms long, event_id long, event_type string",
        step,
    )


def stream_source_quota(scored: DataFrame, quota: int) -> DataFrame:
    """scored (streaming: ``doc_id``/``source``/``margin``, already
    quality-filtered) → the admitted rows, each stamped with its
    1-based per-source admission rank (batch twin: q_source_quota in
    operators/curation.py).

    The ingest-time form of the batch quota is ARRIVAL-ORDER admission:
    a doc is admitted iff its source has admitted fewer than ``quota``
    so far. State per source is that one counter.
    """

    def step(key, rows, state):
        (source,) = key
        (admitted,) = state if state is not None else (0,)
        take = rows.iloc[: max(quota - admitted, 0)]
        out = pd.DataFrame(
            {
                "doc_id": take["doc_id"].astype("int64"),
                "source": source,
                "margin": take["margin"].astype(float),
                "src_rank": admitted + pd.RangeIndex(1, len(take) + 1).to_numpy(),
            }
        )
        return out, (admitted + len(take),)

    return keyed_fold(
        scored,
        ["source"],
        ["doc_id"],
        "doc_id long, source string, margin double, src_rank long",
        "admitted long",
        step,
    )


def stream_interleave_ranks(docs: DataFrame) -> DataFrame:
    """docs (streaming: ``doc_id``/``source``) → every row stamped with
    its 1-based per-source arrival rank: the :func:`stream_source_quota`
    ledger without the cap (batch twin: q_interleave_mixture in
    operators/sampling.py). The global interleave position is a
    full-order property, so q_stream_interleave assigns it over the
    drained relation, outside the stream.
    """

    def step(key, rows, state):
        (source,) = key
        (seen,) = state if state is not None else (0,)
        out = pd.DataFrame(
            {
                "doc_id": rows["doc_id"].astype("int64"),
                "source": source,
                "within_rank": seen + pd.RangeIndex(1, len(rows) + 1).to_numpy(),
            }
        )
        return out, (seen + len(rows),)

    return keyed_fold(
        docs,
        ["source"],
        ["doc_id"],
        "doc_id long, source string, within_rank long",
        "seen long",
        step,
    )
