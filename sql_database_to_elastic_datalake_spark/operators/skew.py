"""Skew-mitigation operators: salting for hot keys, bucketed co-location.

AQE's skew-join splitting handles most join skew automatically
(``spark.sql.adaptive.skewJoin.enabled``, on in our session defaults),
but two cases still need explicit treatment at 100 TB:

  * **Aggregation skew** — a groupBy where one key holds a large share
    of all rows puts that key's entire reduction in one task. AQE does
    not split aggregation groups. :func:`salted_agg` runs the classic
    two-phase plan: partial-aggregate on (key, salt) — fanning the hot
    key across ``n_salts`` tasks — then final-aggregate on key. Works
    for any algebraic aggregate (expressible as partial + merge).
  * **Broadcast-side replication join** — joining a fact against a hot
    dimension key. :func:`salted_join` salts the fact side randomly and
    explodes the (small) dimension side across all salt values, so the
    hot key's probe work spreads over ``n_salts`` tasks. Use only when
    AQE skew handling is unavailable (e.g. the join feeds a window) —
    it multiplies the small side by ``n_salts``.

Salting uses a deterministic hash of a unique column when given
(reproducible plans), or ``rand()`` otherwise.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def add_salt(
    df: DataFrame,
    n_salts: int,
    deterministic_from: str | None = None,
    salt_col: str = "_salt",
) -> DataFrame:
    """Attach a salt in [0, n_salts): hashed from a unique column when
    provided (deterministic), else uniform random."""
    if deterministic_from is not None:
        salt = F.pmod(F.xxhash64(F.col(deterministic_from)), F.lit(n_salts))
    else:
        salt = (F.rand() * n_salts).cast("int")
    return df.withColumn(salt_col, salt)


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: dict[str, Column],
    final_aggs: dict[str, Column],
    n_salts: int = 16,
    deterministic_from: str | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``partial_aggs``: name -> aggregate over the raw rows (runs per
    (key, salt)). ``final_aggs``: name -> aggregate over the partial
    columns (runs per key, at most ``n_salts`` rows each).

    Example — skew-safe count + sum:
        salted_agg(df, ["k"],
                   {"n": F.count("*"), "s": F.sum("v")},
                   {"n": F.sum("n"), "s": F.sum("s")})
    """
    salted = add_salt(df, n_salts, deterministic_from)
    partial = salted.groupBy(*keys, "_salt").agg(
        *[c.alias(name) for name, c in partial_aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[c.alias(name) for name, c in final_aggs.items()]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 8,
    how: str = "left",
    deterministic_from: str | None = None,
) -> DataFrame:
    """Skew-safe fact⋈dim equi-join: salt the fact, replicate the dim.

    The dim side is exploded ``n_salts``× — keep it small. Output drops
    the salt columns; semantics identical to the unsalted join.
    """
    f = add_salt(fact, n_salts, deterministic_from)
    d = dim.withColumn(
        "_dsalt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    cond = (F.col(fact_key) == F.col(dim_key)) & (F.col("_salt") == F.col("_dsalt"))
    return f.join(d, cond, how).drop("_salt", "_dsalt")

