"""Skew mitigation + co-location primitives for the 100 TB design point.

Two layers of defense against hot keys:

1. **AQE skew-join** (on in `session.py`) splits oversized shuffle
   partitions at runtime — the default, zero-code path.
2. **Explicit salting** (here) for the cases AQE can't fix: a skewed
   key joining a dim that's too big to broadcast, or stateful per-key
   work where one key's rows must not land in one task.

And co-location: `write_bucketed` persists both join sides bucketed by
the join key so repeated joins plan with ZERO Exchange on either side —
the batch analogue of the reference's Kafka key-partitioning
(generator.py:82, topic keyed by PULocationID).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salts: int = 16,
    how: str = "inner",
    salt_source: Column | None = None,
) -> DataFrame:
    """Skew-safe equi-join: salt the big side, replicate the small side.

    Each big-side row gets a deterministic salt in [0, salts); the small
    side is exploded ×salts so every (key, salt) bucket finds its match.
    A key with 10⁹ rows then spreads over `salts` tasks instead of one.

    ``how`` is restricted to ``inner``/``left`` (+ aliases), for which
    the output is IDENTICAL to ``big.join(small, key, how)`` — the salt
    is an internal routing column, dropped on exit. Outer joins on the
    small side are NOT expressible this way: an unmatched small-side
    row exists once per salt replica, so right/full would emit it
    ``salts`` times. Salt the other side (swap the arguments) instead.

    ``salt_source`` defaults to a hash of the big side's whole row
    (deterministic; reruns route identically). Cost model: small side
    shuffle volume ×salts — use for small-but-over-broadcast-threshold
    dims against skewed facts.
    """
    allowed = {"inner", "left", "leftouter", "left_outer"}
    if how not in allowed:
        raise ValueError(
            f"salted_join supports how in {sorted(allowed)}, got {how!r}: "
            "the small side is replicated per salt, so small-side outer "
            "semantics would duplicate unmatched rows"
        )
    if salt_source is None:
        salt_source = F.xxhash64(*[F.col(c) for c in big.columns])
    b = big.withColumn("_salt", F.pmod(salt_source, F.lit(salts)))
    s = small.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1))))
    out = b.join(s, [key, "_salt"], how)
    return out.drop("_salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
    sort_by: str | None = None,
) -> None:
    """Persist hash-bucketed (+ optionally sorted) by the join key.

    Two tables bucketed by the same key with the same bucket count join
    with no Exchange on either side — at 100 TB that removes the single
    largest shuffle in a fact-to-fact join. Sorting within buckets also
    removes the Sort under SortMergeJoin (the MergeTree ORDER BY
    analogue, reference 01-create-tables.sql:34-36).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)
