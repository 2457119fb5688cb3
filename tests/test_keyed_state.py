"""One keyed-state module: the GroupState protocol (applyInPandasWithState,
GroupState) lives only in streaming/keyed_state.py. Every keyed-state
stream operator is a ``step`` closure passed to its ``keyed_fold``."""

from __future__ import annotations

import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "orders_kafka_streams_spark",
)


def test_group_state_protocol_lives_in_one_module():
    named = sorted(
        os.path.relpath(path, PKG)
        for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        if any(word in open(path).read() for word in ("applyInPandasWithState", "GroupState"))
    )
    assert named == [os.path.join("streaming", "keyed_state.py")]
