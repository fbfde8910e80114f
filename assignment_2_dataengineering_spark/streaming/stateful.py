"""Arbitrary stateful streaming with applyInPandasWithState, for state
logic an aggregate cannot express.

- `running_topk`: running bounded top-k per key — the streaming twin
  of the batch bounded-retention top-k (operators/relational.py
  topk_retention, reference dashboard.py:330-340's "keep the latest
  5000" buffer). State per key is EXACTLY k values + one counter, so
  state size is bounded by k × |keys| regardless of stream length —
  the property that makes it safe on an unbounded 100 TB/day stream.
- `decayed_counter`: per-key exponential-decay score with exact
  batch-stream parity.

Both are e2e-tested against their batch oracles in
tests/test_stateful.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("topk", T.ArrayType(T.DoubleType())),
    ]
)


def running_topk(
    events: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    k: int = 5,
) -> DataFrame:
    """Per-key running top-k via applyInPandasWithState.

    State: (sorted-desc top-k list, total seen) per key. Each
    micro-batch merges its values into the retained list and re-emits
    the key's current top-k — update semantics, the latest emission
    per key (highest n_seen) is the answer so far. The merge is
    associative and commutative over batches, so micro-batch
    boundaries cannot change the result (pinned against the batch
    oracle in tests/test_stateful.py)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = T.StructType(
        [
            T.StructField("vals", T.ArrayType(T.DoubleType())),
            T.StructField("n_seen", T.LongType()),
        ]
    )

    def merge(key_tuple, pdfs, state: GroupState):
        vals, n_seen = (
            (list(state.get[0]), int(state.get[1])) if state.exists else ([], 0)
        )
        for pdf in pdfs:
            # NaN/null are DROPPED, not ranked: plain sorted() leaves
            # NaN unordered (corrupting the retained list and making
            # the merge batch-boundary-dependent), and the
            # pandas→Arrow boundary conflates NaN with null anyway, so
            # a NaN could not round-trip through state or the output
            col = pdf[value_col].astype(float).dropna()
            xs = col.tolist()
            n_seen += len(xs)
            vals = sorted(vals + xs, reverse=True)[:k]
        state.update((vals, n_seen))
        yield pd.DataFrame({"key": [key_tuple[0]], "n_seen": [n_seen], "topk": [vals]})

    return (
        events.select(F.col(key).alias("key"), F.col(value_col))
        .groupBy("key")
        .applyInPandasWithState(
            merge, _OUT_SCHEMA, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


_DECAY_OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("anchor_day", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("decayed_cents", T.DoubleType()),
    ]
)


def decayed_counter(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running exponential-decay score (half-life one day),
    anchored at the key's latest event day — the streaming twin of the
    batch q_decay_agg pattern, with EXACT batch-stream parity by
    construction.

    The decomposition that makes it incremental: with day-granular ages
    on the EPOCH-DAY grid, S = Σ cents_i · 2^(d_i − D) re-anchors by a
    pure power-of-two multiply when a later day D' arrives
    (S' = S · 2^(D−D') + new terms). Every term is a dyadic rational,
    so addition is exact and the result is independent of both
    micro-batch boundaries and within-batch order — asserted against
    the one-shot batch aggregate in tests/test_stateful.py. State per
    key: (anchor_day, n_seen, running sum) — three numbers, bounded
    forever."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = T.StructType(
        [
            T.StructField("anchor_day", T.LongType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("dsum", T.DoubleType()),
        ]
    )

    def merge(key_tuple, pdfs, state: GroupState):
        import math

        if state.exists:
            anchor, n_seen, dsum = (
                int(state.get[0]),
                int(state.get[1]),
                float(state.get[2]),
            )
        else:
            anchor, n_seen, dsum = None, 0, 0.0
        for pdf in pdfs:
            days = (pdf[ts_col].astype("int64") // 86_400_000_000_000).tolist()
            cents = [math.floor(v * 100) for v in pdf[value_col].astype(float)]
            for d, c in zip(days, cents):
                if anchor is None:
                    anchor = d
                if d > anchor:
                    dsum = dsum * (2.0 ** (anchor - d))
                    anchor = d
                dsum += c * (2.0 ** (d - anchor))
                n_seen += 1
        state.update((anchor, n_seen, dsum))
        yield pd.DataFrame(
            {
                "key": [key_tuple[0]],
                "anchor_day": [anchor],
                "n_seen": [n_seen],
                "decayed_cents": [dsum / 100.0],
            }
        )

    return (
        events.select(F.col(key).alias("key"), ts_col, value_col)
        .groupBy("key")
        .applyInPandasWithState(
            merge, _DECAY_OUT_SCHEMA, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
