"""Bloom-filter semi-join pruning — the shuffle-reduction kernel behind
runtime row-level filtering (Spark's own
``spark.sql.optimizer.runtime.bloomFilter`` does this inside AQE; this is
the explicit, inspectable form for when the build side is a computed key
set the optimizer can't see through).

Shape at 100TB: the probe side of a selective semi join is the corpus;
shipping it to the shuffle just to discard 99% on the other side is the
single biggest avoidable exchange in a pipeline. The bloom filter makes
the discard happen AT THE SCAN: build a fixed-size bit array from the
(small) key side — one narrow projection + one ``WORDS``-bounded partial
agg over the keys — embed it as a literal array in the probe plan (it is
broadcast by construction: part of the serialized plan, evaluated
map-side inside whole-stage codegen), filter, then run the exact semi
join on the survivors. No false negatives ⇒ the result is EXACTLY the
plain semi join (the oracle twin); false positives only cost wasted
shuffle rows, and :func:`bloom_semi_join` returns the pruned frame so
the saving is MEASURED, never trusted.

The ``collect()`` is the bounded ≤WORDS-row broadcast-input pattern
(2 KiB at the default size), the one legitimate collect shape this
engine allows.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

BLOOM_WORDS = 256  # 16384 bits = 2 KiB
BLOOM_K = 3


def build_bloom(keys: DataFrame, key_col: str) -> list[int]:
    """Dense ``BLOOM_WORDS``-long int64 bit array over the keys: per key, BLOOM_K
    xxhash64-seeded bit positions; per word, bit_or of the shifted bits.
    One narrow projection + one ``BLOOM_WORDS``-bounded partial agg; the collect
    is the bounded broadcast-input pattern (≤ ``BLOOM_WORDS`` rows)."""
    m = BLOOM_WORDS * 64
    pos = F.explode(
        F.array(
            *[
                F.abs(F.xxhash64(F.col(key_col), F.lit(i))) % F.lit(m)
                for i in range(BLOOM_K)
            ]
        )
    ).alias("p")
    rows = (
        keys.select(pos)
        .select(
            (F.col("p") / 64).cast("long").alias("w"),
            (F.col("p") % 64).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), b)")).alias("bits"))
        .collect()
    )
    dense = [0] * BLOOM_WORDS
    for r in rows:
        dense[int(r["w"])] = int(r["bits"])
    return dense


def bloom_semi_join(
    big: DataFrame,
    small_keys: DataFrame,
    big_key: str,
) -> tuple[DataFrame, DataFrame]:
    """(result, pruned): ``result`` is EXACTLY ``big LEFT SEMI JOIN
    small_keys`` (bloom prefilter + exact verify — a bloom filter has no
    false negatives, so the verify join sees a superset of the true
    matches and removes exactly the false positives); ``pruned`` is the
    post-bloom pre-verify probe side, exposed so callers and tests can
    measure the shuffle rows the filter saved.

    The bit array rides the plan once as a ``_bf`` literal-array column
    (dropped after the filter); shift amounts are columns, so the bit
    tests use SQL ``shiftright`` via expr (the DataFrame helper only
    accepts int-literal amounts)."""
    # xxhash64 output depends on the input's Catalyst type: hash the build
    # keys AS the probe column's type, or a bigint-vs-int (or string-vs-
    # long) pair would silently drop every row — false negatives violating
    # the exact-semi-join contract (r6 ADVICE). The same cast is applied in
    # the verify join below so both stages see one key domain.
    big_type = big.schema[big_key].dataType
    bloom = build_bloom(
        small_keys.select(F.col(big_key).cast(big_type).alias(big_key)),
        big_key,
    )
    m = BLOOM_WORDS * 64
    checks = [
        F.expr(
            f"(shiftright(element_at(_bf, "
            f"CAST((abs(xxhash64({big_key}, {i})) % {m}) div 64 AS INT) + 1), "
            f"CAST((abs(xxhash64({big_key}, {i})) % {m}) % 64 AS INT)) & 1) = 1"
        )
        for i in range(BLOOM_K)
    ]
    pruned = (
        big.withColumn(
            "_bf", F.array(*[F.lit(w).cast("long") for w in bloom])
        )
        .filter(reduce(lambda a, b: a & b, checks))
        .drop("_bf")
    )
    result = pruned.join(
        small_keys.select(F.col(big_key).cast(big_type).alias(big_key))
        .distinct(),
        big_key,
        "left_semi",
    )
    return result, pruned
