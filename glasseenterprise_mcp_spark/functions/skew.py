"""Explicit skew-handling kernels (north rule: "skew from hot entities and
mega-conversations is handled with salted repartitioning and AQE skew-join
splitting"; SURVEY.md §4.1).

AQE's skew-join splitting covers sort-merge joins at runtime; these
utilities cover the cases AQE cannot see:

* ``salted_join`` — hot-key equi join: the SKEWED (big) side gets a
  deterministic salt derived from its non-key columns, the small side is
  replicated across all salt values; the join key becomes (key, salt) so a
  hot key's rows spread over ``salt_buckets`` tasks instead of one straggler.
  Semantics identical to the plain join (inner/left).

* ``salted_repartition`` — spread a hot partition key (mega-conversation)
  over N subpartitions for downstream per-partition work while keeping
  rows addressable by (key, salt).

Salts are DETERMINISTIC (hash of row content, not rand()) — retries and
replays produce identical placement, preserving the pipeline's
idempotent-replay contract.

WHEN NOT TO REACH FOR THIS (measured, bench `skew_ab` section):
* count/sum-shaped skew (a hot groupBy key) — map-side partial
  aggregation already absorbs it; salting is pure overhead there
  (w1_count: salted 1.13s vs plain 0.75s at 16 cores). Salt only
  JOIN-shaped skew, where a hot key's probe rows must meet a single
  build partition.
* sort-merge joins where AQE's skew split can fire — with thresholds
  sized to the deployment's partition budget, AQE's runtime split beat
  the manual kernel on the same hot-key corpus (plain+AQE 1.84s vs
  salted 3.04s vs plain-no-AQE 7.10s). The kernel's scope is the joins
  AQE cannot see: broadcast-ineligible skew under disabled/ineffective
  AQE, or skew introduced mid-plan where stats are gone.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


JOIN_SALT_BUCKETS = 8
SALT_BUCKETS = 16


def _salt_col(df: DataFrame, keys: list[str], buckets: int) -> F.Column:
    other = [c for c in df.columns if c not in keys]
    basis = other if other else keys
    return F.pmod(F.hash(*[F.col(c) for c in basis]), F.lit(buckets))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    how: str = "inner",
) -> DataFrame:
    """Equi join resilient to hot keys on the ``big`` side.

    big gets salt = hash(non-key cols) % buckets; small is exploded to all
    bucket values. Join on keys + _salt. Output == plain join (columns of
    both inputs, keys once)."""
    big_s = big.withColumn("_salt", _salt_col(big, keys, JOIN_SALT_BUCKETS))
    small_s = small.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALT_BUCKETS - 1))),
    )
    joined = big_s.join(small_s, [*keys, "_salt"], how)
    return joined.drop("_salt")


def salted_repartition(
    df: DataFrame, key: str, salt_buckets: int = SALT_BUCKETS
) -> DataFrame:
    """Repartition by (key, salt) so one hot key's rows land in up to
    ``salt_buckets`` partitions. Adds a ``_salt`` column the caller may use
    for two-phase (partial-then-final) aggregation.

    The partition count is explicit (the session's shuffle
    parallelism): an AQE-coalesced repartition would merge the spread right
    back together, defeating the point."""
    num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.withColumn("_salt", _salt_col(df, [key], salt_buckets))
    return df.repartition(num_partitions, F.col(key), F.col("_salt"))


def two_phase_count(df: DataFrame, key: str) -> DataFrame:
    """Salted two-phase count for hot grouping keys: partial count on
    (key, salt), final sum on key. (Spark's hash aggregate already does
    map-side partials; this form is for layered pipelines where the partial
    result is materialized/checkpointed between phases.)"""
    partial = (
        df.withColumn("_salt", _salt_col(df, [key], SALT_BUCKETS))
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_pc"))
    )
    return partial.groupBy(key).agg(F.sum("_pc").cast("long").alias("n"))
