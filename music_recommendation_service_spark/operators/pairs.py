"""Pair co-occurrence operators.

The reference computes item-item similarity twice with the same shape:
playlist co-occurrence (``process_song_similarity.py:30-39``, SURVEY.md J2/A2)
and co-like collaborative filtering (``process_collaborative_filtering.py:25-43``,
J3/A2): distinct (group, item) pairs, self-join on the group key with the
canonical ``item_1 < item_2`` residual, then count per pair. The serving layer
then symmetrizes the pair table into both directions
(``RecommendationService.cs:225-236``, U2/J6).

Spark-first realization: equi-join on the group key (sort-merge / shuffled
hash chosen by Catalyst; AQE splits skewed keys), with ``<`` as the residual
non-equi condition; symmetrization is a union of the two column orders — no
driver-side maps.

Scale notes
-----------
- Pair explosion is O(sum n_k^2) per group key. ``cap_group_size`` bounds the
  contribution of pathological hot keys (a playlist with 10^6 tracks produces
  5*10^11 pairs): rank items within a group and keep the first ``cap`` —
  deterministic, and at 100 TB the only thing standing between you and a
  runaway shuffle stage.
- ``distinct()`` before the self-join both fixes semantics (a user liking a
  track twice is one co-occurrence) and shrinks the join input.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PairConfig:
    """Hot-key policy for the pair self-join (SURVEY.md §4.2 names self-join
    explosion as THE scale hazard of J2/J3).

    - ``cap_group_size``: keep at most N items per group before pairing —
      BOUNDS the output (a 10^6-track playlist contributes C(N,2) pairs, not
      5*10^11) but CHANGES it (pairs beyond the cap are dropped), so it is
      off by default wherever an oracle pins exact output.
    - ``salt_buckets``: exact rewrite — split each group's items into B
      hash buckets and join on (group, bucket), replicating the probe side
      B×. The hot group's self-join work lands on B partitions instead of
      one, output identical. Costs a B× replication of one side, so only
      worth it when a key is truly pathological; AQE's skew-join split is
      the first line of defense and needs no replication.
    """

    cap_group_size: int | None = None
    salt_buckets: int | None = None


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    score_col: str = "score",
    cap_group_size: int | None = None,
    config: PairConfig | None = None,
    pre_distinct: bool = False,
) -> DataFrame:
    """Distinct (group, item) -> canonical pair counts.

    Returns columns ``{item_col}_1, {item_col}_2, {score_col}`` with
    ``_1 < _2`` (canonical ordering removes self-pairs and mirror
    duplicates, per ``process_song_similarity.py:33-34``).

    ``config`` threads the hot-key policy (cap / exact salting); the
    explicit ``cap_group_size`` argument wins over ``config`` for
    backward compatibility.

    ``pre_distinct`` declares that ``df`` is ALREADY distinct on
    (group, item) — e.g. a scratch-materialized silver relation built with
    ``.distinct()``. The internal distinct is then skipped: since the plan
    references the base on BOTH self-join sides, a redundant distinct is a
    redundant exchange+aggregate executed twice (guide §2.4 — "a distinct
    on data that is already unique"). Semantics are identical by the
    caller's declaration; only set it for relations whose construction
    guarantees uniqueness. HAZARD: nothing validates the declaration at
    run time — a relation distinct on MORE columns than the projected two
    would silently inflate pair counts. Each call site's input is checked
    by ``tests/test_properties.py::test_pre_distinct_call_sites_are_distinct``;
    add a new call site there.
    """
    cfg = config or PairConfig()
    cap = cap_group_size if cap_group_size is not None else cfg.cap_group_size
    base = df.select(group_col, item_col)
    if not pre_distinct:
        base = base.distinct()
    if cap is not None:
        rn = F.row_number().over(
            Window.partitionBy(group_col).orderBy(F.col(item_col))
        )
        base = base.withColumn("_rn", rn).filter(F.col("_rn") <= cap).drop("_rn")

    if cfg.salt_buckets is not None and cfg.salt_buckets > 1:
        b = cfg.salt_buckets
        # Exact salted self-join: the build side carries a content-derived
        # bucket hash(item) % B; the probe side is replicated across ALL B
        # bucket values, so every in-group item pair still matches exactly
        # once — on the (group, bucket) key, which splits a hot group's
        # join work B ways. (Key-derived salt on BOTH sides would be the
        # classic wrong way: pairs across different buckets would vanish.)
        left = base.withColumn(
            "_pb", F.pmod(F.hash(F.col(item_col)), F.lit(b))
        ).alias("l")
        right = base.withColumn(
            "_pb", F.explode(F.array(*[F.lit(i) for i in range(b)]))
        ).alias("r")
        join_cond = (
            (F.col(f"l.{group_col}") == F.col(f"r.{group_col}"))
            & (F.col("l._pb") == F.col("r._pb"))
            & (F.col(f"l.{item_col}") < F.col(f"r.{item_col}"))
        )
    else:
        left = base.alias("l")
        right = base.alias("r")
        join_cond = (
            F.col(f"l.{group_col}") == F.col(f"r.{group_col}")
        ) & (F.col(f"l.{item_col}") < F.col(f"r.{item_col}"))
    pairs = left.join(right, join_cond).select(
        F.col(f"l.{item_col}").alias(f"{item_col}_1"),
        F.col(f"r.{item_col}").alias(f"{item_col}_2"),
    )
    return pairs.groupBy(f"{item_col}_1", f"{item_col}_2").agg(
        F.count(F.lit(1)).alias(score_col)
    )


def symmetrize_pairs(
    pairs: DataFrame, a: str, b: str, score_col: str = "score"
) -> DataFrame:
    """Canonical pair table -> both-direction adjacency (U2).

    Relational form of the serving layer's dict symmetrization
    (``RecommendationService.cs:230-234``): each (t1, t2, s) row contributes
    (t1->t2) and (t2->t1).
    """
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"), F.col(score_col))
    rev = pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"), F.col(score_col))
    return fwd.unionByName(rev)
