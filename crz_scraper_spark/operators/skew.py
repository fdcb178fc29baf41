"""Skew mitigation: salted equi-join for hot keys.

The reference never joins large×large (SURVEY.md §2.3 note), but the 100 TB
posture needs an answer for skewed fact-fact joins. First line of defense is
AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
session.py) — it splits oversized sort-merge partitions at runtime with no
code change. Salting is the explicit fallback for cases AQE can't fix:
a single key so hot it overwhelms one task even after splitting, or
aggregation-under-join shapes where the skew is created mid-plan.

Mechanics: the skewed side gets a per-row salt in [0, _SALTS); the other
side is replicated once per salt value; the join key becomes (key, salt). One
hot key's rows then spread over `_SALTS` reducers. Cost: the small side
shuffles `_SALTS` times its size — size it ≈ (hot-key rows / target rows per
task), not "big to be safe".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALTS = 8


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    skewed_key: str,
    other_key: str,
) -> DataFrame:
    """Inner equi-join `skewed ⋈ other` with the skewed side salted
    `_SALTS` ways.

    Deterministic: the salt is a content hash of the whole skewed row
    (xxhash64), not `rand()` — identical input always lands identically, so
    task retries and re-runs reproduce (the engine's determinism discipline,
    ARCHITECTURE.md). Identical duplicate rows share a salt, which only
    narrows the spread for exact duplicates — harmless.

    Output columns = skewed's + other's (like a plain `join(..., on=expr)`);
    the helper columns never escape.
    """
    s = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(F.struct(*skewed.columns)), F.lit(_SALTS))
    )
    o = other.withColumn(
        "__salt",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.lit(_SALTS - 1).cast("bigint"))
        ),
    )
    joined = s.join(
        o, (s[skewed_key] == o[other_key]) & (s["__salt"] == o["__salt"])
    )
    return joined.drop("__salt")
