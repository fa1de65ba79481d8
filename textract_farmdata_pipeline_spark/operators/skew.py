"""Skewed-join salting: spread a hot key across reducers explicitly.

AQE's skew-join split (on in ``session.py``) handles most skew by
subdividing oversized partitions, but it only kicks in post-shuffle and
only for sort-merge joins.  Salting is the explicit form: the skewed
(large) side scatters each row into one of ``salt`` sub-keys, the other
side replicates into all of them, and the hot key's rows land on
``salt`` reducers instead of one.  Replication factor = ``salt`` on the
small side — size it as ceil(hot-key rows / healthy-partition rows).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join with the left (skewed, large) side salted and the right
    side replicated ×``salt``.

    Only ``inner``/``left``/``left_semi`` joins preserve semantics —
    an outer-right row would otherwise appear once per salt replica.
    Salt assignment hashes the whole left row (deterministic, and
    spreads even rows that are identical on the join key).
    """
    if how not in ("inner", "left", "left_semi"):
        raise ValueError("salting breaks right/outer semantics")
    on = list(on)
    spread = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    l = left.withColumn("_salt", spread)
    r = right.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))).withColumn(
        "_salt", F.col("_salt").cast(l.schema["_salt"].dataType)
    )
    out = l.join(r, [*on, "_salt"], how)
    return out.drop("_salt")


def key_skew_profile(df: DataFrame, key: str, top: int = 5) -> DataFrame:
    """Shuffle-key skew diagnostic — the report you run BEFORE choosing
    a salt factor or trusting AQE's skew split: per-key group sizes
    reduced to one row of distribution stats plus the ``top`` heaviest
    keys.

    Two aggregations, both map-side combinable: (key → count), then a
    single global reduce over the count column (the second aggregate's
    input is one row per DISTINCT key, not per row, so the profile
    costs one shuffle of key-count pairs at any fact-table size).
    Integer percentiles over integer group sizes are binary-exact, so
    the whole report is engine-portable.  ``skew_ratio`` =
    max/mean group size: ≈1 means uniform keys, ≫1 means the hot key
    dominates a reducer and wants salting.
    """
    counts = df.groupBy(key).agg(F.count("*").alias("n"))
    # heaviest keys via TakeOrdered (never a full-key collect_list —
    # the aggregation state must stay bounded at any key cardinality);
    # the tiny top slice re-sorts inside one array for a deterministic
    # join order regardless of partitioning.
    topk = counts.orderBy(F.desc("n"), F.asc(key)).limit(top)
    top_arr = topk.agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("n").alias("n"),
                            # keep the NATIVE key type in the comparator: the
                            # top-k selection above ties on the native ordering
                            # (F.asc(key)), and a string-cast comparator would
                            # diverge for numeric keys with tied counts and
                            # different digit lengths (e.g. 9 vs 41 both at 85).
                            F.col(key).alias("k"),
                        )
                    ),
                    lambda a, b: F.when(a["n"] > b["n"], -1)
                    .when(a["n"] < b["n"], 1)
                    .when(a["k"] < b["k"], -1)
                    .when(a["k"] > b["k"], 1)
                    .otherwise(0),
                ),
                lambda s: s["k"].cast("string"),
            ),
            ",",
        ).alias("top_keys")
    )
    return counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_group"),
        F.percentile(F.col("n"), F.lit(0.5)).alias("p50_group"),
        F.percentile(F.col("n"), F.lit(0.99)).alias("p99_group"),
        F.round(
            F.max("n") / (F.sum("n") / F.count("*")), 4
        ).alias("skew_ratio"),
    ).crossJoin(F.broadcast(top_arr))
