"""Explicit skew handling for joins (SURVEY.md §2 G6, §4).

BASELINE.json:6/14 — "skew salting for hot entities", "skew handled
explicitly". Three tools, used by situation:

- aggregations: two-phase salted aggregation (canonicalize._salted_min)
  — AQE never helps aggregations.
- shuffle joins: AQE skew-join splitting (enabled in session.py) covers
  the common case at runtime.
- **pathological hot keys** (a celebrity entity that is a large
  fraction of one side): ``hot_key_join`` below — detect hot keys with
  a cheap aggregate, broadcast-join the hot slice (the matching rows of
  the other side are few *keys*, so they broadcast even when the hot
  rows don't), shuffle-join the cold remainder, union. This keeps a
  single reducer from receiving a whole celebrity's partition, which
  AQE can only split *after* materializing it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key_cols: list[str], threshold: int) -> DataFrame:
    """Key tuples with more than ``threshold`` rows — by definition few.
    The one hot-bucket aggregate: ``hot_key_join``'s hot slice and the
    LSH bucket caps (link.band_join, similarity.bucket_pairs). An
    aggregate, not a window count, so it gets map-side combine and never
    sorts every bucket."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") > threshold)
        .select(*key_cols)
    )


def hot_key_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    threshold: int = 100_000,
) -> DataFrame:
    """Equi-join robust to pathological key skew on ``big``.

    hot slice:  big[key in hot]  ⋈broadcast  small[key in hot]
    cold slice: big[key not hot] ⋈shuffle    small

    Semantically identical to ``big.join(small, key, how)`` for inner
    and left joins (tested); the hot-key list itself is always tiny and
    broadcast both ways.
    """
    if how not in ("inner", "left"):
        raise ValueError("hot_key_join supports inner/left joins")
    hk = hot_keys(big, [key], threshold)
    big_hot = big.join(F.broadcast(hk), key, "left_semi")
    big_cold = big.join(F.broadcast(hk), key, "left_anti")
    small_hot = small.join(F.broadcast(hk), key, "left_semi")
    hot_joined = big_hot.join(F.broadcast(small_hot), key, how)
    cold_joined = big_cold.join(small, key, how)
    return hot_joined.unionByName(cold_joined)
