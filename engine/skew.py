"""Salted two-phase aggregation for skewed keys (T1, SURVEY.md §4.2).

The reference hash-partitions by key (``keyBy``, ``TransactionFraudExample
.java:69``) and relies on uniform keys (uniform cc_num 1..1000,
``TransactionEventSimulator.java:63-67``). Our clip table deliberately has
Zipf-skewed speaker keys, so a single hot key would serialize one shuffle
partition at scale. AQE's skew handling covers *joins* but not aggregations,
so this module is genuinely custom:

phase 1 (salted partial):  group by (key, salt = pmod(hash(cols..), n_salts))
                           → partial count/sum/min/max/sum-of-squares
phase 2 (final):           group by key → merge partials

Algebraic merge identities match ``TransactionCountAggregate.merge``
(``TransactionCountAggregate.java:35-39``): counts and sums add, min/max fold,
variance recomposed from (n, Σx, Σx²). Catalyst already does map-side partial
aggregation *within* a partition; salting additionally spreads one hot key
across ``n_salts`` reducers, bounding any single reducer's share at
~1/n_salts of the hot key. Cost: one extra (tiny) shuffle of
O(keys × n_salts) partial rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str | Column],
    value_col: str,
    n_salts: int = 16,
    count_alias: str = "cnt",
    avg_alias: str = "avg_val",
    min_alias: str = "min_val",
    max_alias: str = "max_val",
    stddev_alias: str | None = "stdev_val",
    exact: bool = False,
) -> DataFrame:
    """count/avg/min/max (+ sample stddev) per key via salt → merge.

    ``exact=True`` accumulates Σx and Σx² in ``decimal(38,12)`` instead of
    double.  Decimal addition is associative, so the salted two-phase merge
    produces *bit-identical* results to a sequential single-pass aggregation —
    the reassociation error of float partials (which can flip a rounded digit
    vs an external oracle) disappears.  Cost: decimal sum is marginally slower
    than double sum but still whole-stage-codegen JVM-side; at 100 TB the
    shuffle volume is unchanged (same O(keys × n_salts) partial rows).
    """
    key_cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    key_names = [k if isinstance(k, str) else str(k) for k in keys]

    # Deterministic under task retry (a retried task re-reads the same split,
    # so spark_partition_id is stable) — and, unlike hashing the value alone,
    # still spreads a hot key whose VALUES are low-cardinality (e.g. millions
    # of value=0.0 rows would otherwise all land in one salt bucket). Within
    # a partition, identical salts are harmless: map-side partial aggregation
    # collapses them before the shuffle; cross-partition spreading is what
    # salting must provide.
    salt = F.pmod(
        F.xxhash64(F.col(value_col), F.spark_partition_id(), F.lit(17)),
        F.lit(n_salts),
    ).alias("_salt")
    v = F.col("_v")
    sq = v * v
    if exact:
        v = v.cast("decimal(38,12)")
        sq = sq.cast("decimal(38,12)")
    partial = (
        df.select(*key_cols, F.col(value_col).alias("_v"), salt)
        .groupBy(*key_names, "_salt")
        .agg(
            F.count("_v").alias("_n"),
            F.sum(v).alias("_s"),
            F.sum(sq).alias("_s2"),
            F.min("_v").alias("_min"),
            F.max("_v").alias("_max"),
        )
    )
    merged = partial.groupBy(*key_names).agg(
        F.sum("_n").alias("_N"),
        F.sum("_s").alias("_S"),
        F.sum("_s2").alias("_S2"),
        F.min("_min").alias(min_alias),
        F.max("_max").alias(max_alias),
    )
    if exact:
        merged = merged.withColumn("_S", F.col("_S").cast("double")).withColumn(
            "_S2", F.col("_S2").cast("double")
        )
    out = merged.select(
        *key_names,
        F.col("_N").alias(count_alias),
        (F.col("_S") / F.col("_N")).alias(avg_alias),
        F.col(min_alias),
        F.col(max_alias),
        *(
            [
                F.when(
                    F.col("_N") > 1,
                    F.sqrt(
                        F.greatest(
                            (
                                F.col("_S2")
                                - F.col("_S") * F.col("_S") / F.col("_N")
                            )
                            / (F.col("_N") - 1),
                            F.lit(0.0),
                        )
                    ),
                ).alias(stddev_alias)
            ]
            if stddev_alias
            else []
        ),
    )
    return out


def salted_window_agg_stream(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    width: str = "10 minutes",
    n_salts: int = 16,
    salt_from: str | None = None,
    label: str | None = None,
) -> DataFrame:
    """Streaming salted two-phase tumbling window aggregate.

    Phase 1 groups by ``(window, key, salt)`` — a hot speaker key spreads over
    ``n_salts`` state partitions; phase 2 re-windows the partials with the
    chained-streaming-aggregation pattern (``window(window_time(window))``,
    Spark ≥ 3.4 multiple stateful operators) and merges them per key.
    Output schema matches :func:`engine.windows.tumbling_agg` (real stddev).

    The salt must be deterministic under micro-batch replay (exactly-once), so
    it derives from ``xxhash64`` of ``salt_from`` (default: the value column),
    never from random ids.  Input must already carry ``withWatermark``.
    """
    from engine.windows import width_label

    label = label or width_label(width)
    salt_src = salt_from or value_col
    # partition id keeps low-cardinality hot-key values spreading across
    # salts (see salted_agg); deterministic under micro-batch replay because
    # a replayed batch re-reads the same files into the same splits
    salt = F.pmod(
        F.xxhash64(F.col(salt_src), F.spark_partition_id()), F.lit(n_salts)
    ).alias("_salt")
    partial = (
        df.select(F.window(ts_col, width).alias("window"), F.col(key_col),
                  F.col(value_col).alias("_v"), salt)
        .groupBy("window", key_col, "_salt")
        .agg(
            # row count (count(*), matches tumbling_agg's F.count(lit(1)))
            # kept separate from the non-null value count used as the
            # avg/stdev denominator — they diverge when _v has nulls.
            F.count(F.lit(1)).alias("_rows"),
            F.count("_v").alias("_n"),
            F.sum("_v").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).alias("_s2"),
            F.min("_v").alias("_min"),
            F.max("_v").alias("_max"),
        )
    )
    merged = (
        partial.groupBy(F.window(F.window_time("window"), width).alias("window"), key_col)
        .agg(
            F.sum("_rows").alias("_ROWS"),
            F.sum("_n").alias("_N"),
            F.sum("_s").alias("_S"),
            F.sum("_s2").alias("_S2"),
            F.min("_min").alias(f"min_amt_per_{label}"),
            F.max("_max").alias(f"max_amt_per_{label}"),
        )
    )
    return merged.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.col(key_col),
        F.col("_ROWS").alias(f"num_trans_per_{label}"),
        (F.col("_S") / F.col("_N")).alias(f"avg_amt_per_{label}"),
        F.when(
            F.col("_N") > 1,
            F.sqrt(
                F.greatest(
                    (F.col("_S2") - F.col("_S") * F.col("_S") / F.col("_N"))
                    / (F.col("_N") - 1),
                    F.lit(0.0),
                )
            ),
        ).alias(f"stdev_amt_per_{label}"),
        F.col(f"min_amt_per_{label}"),
        F.col(f"max_amt_per_{label}"),
    )


def partition_histogram(df: DataFrame) -> DataFrame:
    """Per-partition row counts — the lineage/metrics signal used to decide
    when salting is needed and recorded by the sink ledger."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy("_pid")
    )
