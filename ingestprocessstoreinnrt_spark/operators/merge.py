"""Generic exact merge of keyed aggregate tables — the merge half of the
reference's hand-rolled accumulator pair (NyTaxiYellowEntity.`+`,
ConnectedCarProfile.combineAverages) as declarative re-aggregation.

Columns are declared by kind:
  count cols  — BIGINT, merge = SUM
  qsum cols   — doubles produced by functions.scalars.dsum (value =
                S/10000.0 with S integral); merge requantizes back to S
                (exact for |S| < 2^52), sums integers, divides once —
                bit-identical to a single-pass aggregate however the
                input was split.  This is what makes the streaming
                foreachBatch upsert provably equal to the batch rollup.
  max cols    — merge = MAX (works for numerics and timestamps)
  derive      — optional post-projection recomputing derived columns
                (averages, scores, clamped periods) from merged parts.

The column expressions depend only on the kind split, so they are
built once per application (planmemo.session_columns) and reused by
every micro-batch's merge.

Used by: operators.entity (customer entity), operators.taxi (vendor
entity), operators.car (profile sufficient-statistics), streaming
pipelines (M4).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import quantize
from ..planmemo import session_columns


def _merge_columns(
    count_cols: Sequence[str],
    qsum_cols: Sequence[str],
    max_cols: Sequence[str],
) -> tuple[dict[str, Column], list[Column]]:
    """The requantize map and the merge aggregates for one column kind
    split."""
    # same primitive that produced the value in dsum(): recovers the
    # integer numerator exactly (|S| < 2^52)
    requantize = {c: quantize(F.col(c)) for c in qsum_cols}
    aggs = (
        [F.sum(c).cast("long").alias(c) for c in count_cols]
        + [
            (F.sum(c).cast("double") / F.lit(10000.0)).alias(c)
            for c in qsum_cols
        ]
        + [F.max(c).alias(c) for c in max_cols]
    )
    return requantize, aggs


def merge_keyed(
    parts: Sequence[DataFrame],
    key_cols: Sequence[str],
    count_cols: Sequence[str] = (),
    qsum_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    derive: Callable[[DataFrame], DataFrame] | None = None,
    drop_before_merge: Sequence[str] = (),
) -> DataFrame:
    assert parts, "need at least one part"
    final_columns = list(parts[0].columns)
    merge_columns = [c for c in final_columns if c not in drop_before_merge]
    # project only parts that need it: a select costs ~3 py4j round
    # trips per column, a no-op one included
    aligned = [
        p if p.columns == merge_columns else p.select(*merge_columns)
        for p in parts
    ]
    unioned = aligned[0]
    for p in aligned[1:]:
        unioned = unioned.unionByName(p)

    requantize, aggs = session_columns(
        parts[0].sparkSession,
        ("merge_keyed", tuple(count_cols), tuple(qsum_cols), tuple(max_cols)),
        lambda: _merge_columns(count_cols, qsum_cols, max_cols),
    )
    if requantize:
        unioned = unioned.withColumns(requantize)
    merged = unioned.groupBy(*key_cols).agg(*aggs)
    if derive is not None:
        merged = derive(merged)  # must re-add any drop_before_merge columns
    return merged.select(*final_columns)
