"""Fidelity pair-matcher: applyInPandasWithState (SURVEY §2.4 / §2.8).

Replicates the reference's per-key Processor-API semantics
(OrderProcessor.java:99-154):

- buffer whichever side arrives first in keyed state
  (put, OrderProcessor.java:152);
- duplicate placed events overwrite — last-writer-wins
  (OrderProcessor.java:114);
- on completion emit one ``order.info`` and DELETE state
  (OrderProcessor.java:146-149).

It arms no timeout (GroupStateTimeout.NoTimeout): with timers armed
the engine must run a micro-batch per trigger just to evaluate them,
so a drain-style test/oracle run would never settle. The reference's
punctuator expiry (OrderProcessor.java:161-206) is therefore not
reproduced here; unmatched placed state stays until its key completes.
The join-based dead-letter route (streaming/pipeline.stream_dead_letter)
is the watermark-driven expiry.

Use this only when emit-on-completion timing fidelity matters; the
idiomatic form is the stream-stream join in streaming/pipeline.py
(engine-managed state, no Python in the loop).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, event_kind string, fulfilled_ms long, processing_ms long"
)
STATE_SCHEMA = "placed_ms long"


def pair_match_stateful(
    events: DataFrame,
    placed_type: str = "click",
    fulfilled_type: str = "purchase",
) -> DataFrame:
    """events (streaming) → order.info records via explicit keyed state.

    The kernel is self-contained (builtins + pandas only) so workers
    unpickle it without importing this package.
    """

    def matcher(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        out: list[tuple[int, str, int, int]] = []
        placed_ms = state.get[0] if state.exists else None
        rows = pd.concat(list(pdfs), ignore_index=True) if pdfs else pd.DataFrame()
        if len(rows):
            rows = rows.sort_values(["ts_ms", "event_type", "event_id"])
            for r in rows.itertuples(index=False):
                if r.event_type == placed_type:
                    placed_ms = int(r.ts_ms)  # last-writer-wins
                elif r.event_type == fulfilled_type and placed_ms is not None:
                    out.append((user_id, "order.info", int(r.ts_ms), int(r.ts_ms) - placed_ms))
                    placed_ms = None  # emit-on-complete deletes state
        if placed_ms is None:
            if state.exists:
                state.remove()
        else:
            state.update((placed_ms,))
        yield pd.DataFrame(
            out, columns=["user_id", "event_kind", "fulfilled_ms", "processing_ms"]
        )

    prepared = events.selectExpr(
        "user_id", "event_type", "event_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS ts_ms"
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        matcher,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
