"""Explicit skew handling — the reusable form of what the engine does
inline (O9 per-host top-B selection, planned as a map-side
WindowGroupLimit before the host exchange; AQE skew-join at runtime).
The north rule names "partitioning / shuffle / skew handled
explicitly"; these operators make the two halves of that first-class:
MEASURE the skew, then BREAK it.

* :func:`key_skew_stats` — the diagnosis: per-key counts, the head
  keys, and the max/mean skew ratio, from two hash aggregates and a
  TakeOrderedAndProject. Deliberately NO exact median/percentile
  column: an exact quantile of the per-key counts needs a global sort
  (the un-partitioned-window anti-pattern this repo's plan audits
  forbid); callers wanting quantiles use percentile_approx on the
  intermediate, which is not hash-oracle-able and so stays out of the
  checked surface.
* :func:`salted_join` — the classic hot-key repair for a shuffle join
  neither side of which can broadcast: every probe-side row gets a
  deterministic salt in [0, n_salt), the build side is replicated once
  per salt value (explode of a literal range — build-side rows ×
  n_salt, the standard cost of the trick), and the join key becomes
  (key, salt), spreading each hot key over n_salt shuffle partitions.
  Result set ≡ the plain join (tests assert row-for-row parity); only
  placement changes. Use AQE's skew join when ONE stage's statistics
  can see the skew; use this when the skew is known ahead (the crawl's
  mega-hosts) or the engine's AQE is off.

100 TB notes: stats = map-side-combined aggregates, never a collect;
salted_join replicates only the SMALL side and touches the big side
with one extra codegen column, so its cost is n_salt × build-side —
pick n_salt ≈ (hot-key rows / target partition rows), a few dozen at
most.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def key_skew_stats(df: DataFrame, key_col: str, top_k: int = 5) -> DataFrame:
    """Top-``top_k`` keys by count with corpus-level skew context:
    (krank, key, cnt, share, n_rows, n_keys, max_cnt, skew_ratio) —
    skew_ratio = max_cnt / mean rows-per-key. One hash aggregate on
    the key, a TakeOrderedAndProject for the head, and a 1-row global
    aggregate crossJoined back (broadcast by size)."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    glob = counts.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    top = (
        counts.orderBy(F.desc("cnt"), F.asc("key"))
        .limit(top_k)
        .withColumn(
            "krank",
            # ≤ top_k rows survive the limit — this window ranks the
            # already-reduced head, not a corpus scan
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("key"))),
        )
    )
    return top.crossJoin(glob).select(
        "krank",
        "key",
        "cnt",
        F.round(F.col("cnt") / F.col("n_rows"), 6).alias("share"),
        "n_rows",
        "n_keys",
        "max_cnt",
        F.round(F.col("max_cnt") * F.col("n_keys") / F.col("n_rows"), 6).alias(
            "skew_ratio"
        ),
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
    salt_expr: Column | None = None,
) -> DataFrame:
    """Equi-join with the hot keys of ``probe`` spread over ``n_salt``
    shuffle partitions: probe rows get ``salt = pmod(xxhash64(key,
    event-identity), n_salt)`` (or ``salt_expr``), ``build`` is
    replicated once per salt, and the join runs on (key, salt).
    Row-for-row equivalent to ``probe.join(build, key, how)`` for
    ``inner`` and ``left`` joins (build-side columns must not collide
    with probe's beyond the key). The default salt hashes the probe
    row's full column set, so the layout is deterministic at any
    parallelism."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    if salt_expr is None:
        salt_expr = F.pmod(
            F.xxhash64(*[F.col(c) for c in probe.columns]), F.lit(n_salt)
        )
    p = probe.withColumn("_salt", salt_expr.cast("int"))
    b = build.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return p.join(b, [key, "_salt"], how).drop("_salt")
