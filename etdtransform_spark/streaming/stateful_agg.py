"""Running per-key streaming aggregate on ``applyInPandasWithState``.

Each micro-batch folds its rows into one fixed-width state tuple per key
and emits the key's updated running totals (update-mode semantics), so
the sink always holds the latest running aggregate. State scales with
keys, never with the stream. ``applyInPandasWithState`` needs no runtime
beyond pandas/pyarrow; Spark 4's ``transformWithStateInPandas`` would
also need ``protobuf``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_OUT_SCHEMA = (
    "key long, n bigint, sum_value double, min_value double, max_value double"
)


def _fold(carry, vals):
    """Fold a batch's values into the (n, s, mn, mx) running tuple."""
    n, s, mn, mx = carry
    if len(vals) == 0:
        return carry
    n += int(len(vals))
    s += float(vals.sum())
    bmn, bmx = float(vals.min()), float(vals.max())
    mn = bmn if mn is None else min(mn, bmn)
    mx = bmx if mx is None else max(mx, bmx)
    return n, s, mn, mx


def streaming_running_agg(
    stream_df: DataFrame,
    key_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Update-mode running aggregate per key over an unbounded stream.

    Output schema: (key, n, sum_value, min_value, max_value) — one row per
    key per micro-batch that touched it, carrying totals over ALL batches
    so far. State is partitioned by the key across the state store; a
    key's state is one fixed-width tuple.
    """
    grouped = stream_df.select(
        stream_df[key_col].alias("key"), stream_df[value_col].alias("_v")
    ).groupBy("key")

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        carry = (0, 0.0, None, None)
        if state.exists:
            n0, s0, mn0, mx0 = state.get
            carry = (n0, s0, mn0, mx0)
        for pdf in pdf_iter:
            carry = _fold(carry, pdf["_v"].dropna())
        n, s, mn, mx = carry
        state.update((n, s, mn, mx))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n": [n],
                # the running sum is 0.0 internally, but a key that has
                # never seen a non-null value reports NULL (SQL sum
                # semantics — the batch-oracle sum of all-NULLs is NULL)
                "sum_value": [s if n > 0 else None],
                "min_value": [mn],
                "max_value": [mx],
            }
        )

    return grouped.applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType="n bigint, s double, mn double, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
