"""Z-order (Morton) data layout — the storage-clustering operator behind
Delta/Iceberg ``OPTIMIZE ZORDER BY``: interleave the bits of two quantized
dimensions so that sorting by the interleaved key co-locates rows that are
close in BOTH dimensions, which turns parquet min/max footer stats into a
2-D pruning index (a single-column sort prunes only its own dimension).

Everything is integer-exact and closed-form so the DuckDB twin
hash-matches:
  * dims quantize by min-max linear scaling to 16 bits
    (``(v - min) * 65535 div max(1, max - min)`` — the 1-row global
    extremes ride a broadcast cross join, never a driver scalar);
  * the Morton key is the 32-term bit interleave
    ``Σ_k ((za>>k & 1) << 2k) + ((zb>>k & 1) << (2k+1))`` — a pure column
    expression, whole-stage-codegen'd, no UDF.

At 100TB this runs as the write-path clustering pass: one global range
sort by ``zkey`` (Spark's repartitionByRange + sortWithinPartitions),
amortized over every later 2-D scan. ``tests/test_operators.py::
test_zorder_layout_prunes_2d`` measures the payoff directly on parquet
footers: the same rectangle predicate skips strictly more files under the
z-order layout than under a single-dimension sort of the same data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

ZBITS = 16


def _interleave_expr(a: str, b: str) -> str:
    """SQL expression interleaving the low ``ZBITS`` bits of ``a`` (even
    positions) and ``b`` (odd positions) — valid in Spark SQL and DuckDB."""
    terms = []
    for k in range(ZBITS):
        terms.append(f"((({a} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({b} >> {k}) & 1) << {2 * k + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_key(events: DataFrame) -> DataFrame:
    """zo1: (event_id, za, zb, zkey) — the Morton key over
    (user_id, event time). za/zb are the 16-bit min-max quantized
    dimensions (exposed so the oracle checks the quantization itself);
    zkey is their bit interleave."""
    ev = events.select(
        "event_id",
        F.col("user_id").cast("long").alias("u"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    ext = ev.agg(
        F.min("u").alias("u_min"),
        F.max("u").alias("u_max"),
        F.min("t").alias("t_min"),
        F.max("t").alias("t_max"),
    )
    # The quantization product routes through DECIMAL(38,0): in int64,
    # (v - min) * 65535 silently wraps once the span exceeds ~1.4e14
    # (snowflake-style ids; ~4.46 years of unix_micros), producing garbage
    # keys with no error under non-ANSI Spark (r6 ADVICE). Decimal keeps
    # the product exact for any int64 span; the quotient is ≤ 65535 so the
    # final BIGINT cast is always safe. Values are bit-identical to the
    # int64 path on non-overflowing spans (the oracle-gated range).
    q = ev.crossJoin(F.broadcast(ext)).select(
        "event_id",
        F.expr(
            "CAST(CAST((u - u_min) AS DECIMAL(38,0)) * 65535"
            " div greatest(1, u_max - u_min) AS BIGINT)"
        ).alias("za"),
        F.expr(
            "CAST(CAST((t - t_min) AS DECIMAL(38,0)) * 65535"
            " div greatest(1, t_max - t_min) AS BIGINT)"
        ).alias("zb"),
    )
    return q.select(
        "event_id", "za", "zb",
        F.expr(_interleave_expr("za", "zb")).cast("long").alias("zkey"),
    )


def zorder_key_sql() -> str:
    return f"""
WITH zo_ev AS (
  SELECT event_id, CAST(user_id AS BIGINT) AS u,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t
  FROM events
),
zo_ext AS (
  SELECT MIN(u) AS u_min, MAX(u) AS u_max,
         MIN(t) AS t_min, MAX(t) AS t_max
  FROM zo_ev
),
zo_q AS (
  SELECT event_id,
         CAST((u - u_min) * 65535 // greatest(1, u_max - u_min) AS BIGINT) AS za,
         CAST((t - t_min) * 65535 // greatest(1, t_max - t_min) AS BIGINT) AS zb
  FROM zo_ev, zo_ext
)
SELECT event_id, za, zb,
       CAST({_interleave_expr("za", "zb")} AS BIGINT) AS zkey
FROM zo_q"""


def write_zordered(df: DataFrame, path: str, n_files: int) -> None:
    """The write-path clustering pass: global range sort by zkey into
    ``n_files`` roughly equal files (range exchange + within-partition
    sort — the only global sort in the engine, and it is the POINT of the
    operator: pay it once at write, prune every 2-D scan after)."""
    (
        df.repartitionByRange(n_files, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark, src: str, dst: str, target_mb: int = 128
) -> tuple[int, int]:
    """The small-file compaction pass (the other half of the write path;
    zorder clusters, this bin-packs): rewrite ``src`` into files of
    ~``target_mb`` each, sized from the SOURCE's actual on-disk bytes —
    at 100TB a streaming sink's per-trigger commits leave thousands of
    KB-scale files per partition, and both the driver's file-listing cost
    and the scheduler's task count scale with file count, not bytes.
    Returns (files_before, files_after). Row-identity is the contract
    (pinned by the unit test); ordering is NOT preserved (coalesce merges
    whole input splits — no shuffle, no sort)."""
    import os

    files = [
        os.path.join(src, f)
        for f in os.listdir(src)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    if not files:
        # a partitioned dataset (or non-local path) lists no flat *.parquet
        # files here; proceeding would size total_bytes=0 and coalesce
        # arbitrarily large data into ONE file (r6 ADVICE) — fail loudly.
        raise ValueError(
            f"compact_parquet requires a flat local parquet directory; no "
            f"*.parquet files found directly under {src!r}"
        )
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, round(total_bytes / (target_mb * 1024 * 1024)))
    spark.read.parquet(src).coalesce(n_out).write.mode("overwrite").parquet(dst)
    return len(files), n_out


def file_prune_stats(
    spark, path: str, za_rng: tuple[int, int], zb_rng: tuple[int, int]
) -> tuple[int, int]:
    """(files_total, files_needed): how many parquet files of ``path`` a
    rectangle predicate ``za ∈ za_rng AND zb ∈ zb_rng`` must touch, judged
    by per-file min/max of the dimensions — exactly the footer-stats
    pruning decision a scan planner makes."""
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("za").alias("za_min"), F.max("za").alias("za_max"),
            F.min("zb").alias("zb_min"), F.max("zb").alias("zb_max"),
        )
    )
    needed = per_file.filter(
        (F.col("za_max") >= za_rng[0]) & (F.col("za_min") <= za_rng[1])
        & (F.col("zb_max") >= zb_rng[0]) & (F.col("zb_min") <= zb_rng[1])
    )
    return per_file.count(), needed.count()
