"""Uniqueness constraint: duplicate-key detection.

One hash aggregation: ``groupBy(key).count()``. COUNT is map-side
combinable, so Spark's partial aggregation already bounds any reducer's
input at one partial row per (key, map task) — a key holding 10^8
duplicates reaches its reducer as at most #map-tasks partial counts, never
10^8 rows. Salting a count aggregate therefore buys nothing and costs a
second full shuffle of every distinct key.

Measured (round 6, local[32], tools — /tmp experiment recorded in
OPTIMIZATION_r06.md): on 2M docs the salted two-phase plan ran 1.15s vs
0.52s single-phase; on an adversarial 20M-row corpus with ONE key holding
10M duplicates it ran 1.91s vs 0.87s — the salt loses even on the exact
skew it was designed for, because partial aggregation already collapsed
the hot key map-side. There is one plan; ``salt`` selects nothing.

Salting remains the right tool for aggregates WITHOUT compact partial
state (collect_list/collect_set per key) — see
``valideer_spark.operators.dedup`` for bounded variants of those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(
    df: DataFrame,
    key: str,
    salt: int = 0,
    min_count: int = 2,
) -> DataFrame:
    """Keys appearing ``>= min_count`` times → (key, dup_count).

    ``salt`` is accepted and ignored, only because ``bench.py`` (whose
    timed calls are kept fixed across versions) passes ``salt=16``.
    """
    totals = df.groupBy(key).agg(F.count(F.lit(1)).alias("dup_count"))
    return totals.filter(F.col("dup_count") >= min_count)
