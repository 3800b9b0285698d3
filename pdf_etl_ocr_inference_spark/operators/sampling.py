"""Deterministic stratified sampling for training-mixture control.

Pretraining pipelines sample per-domain/per-language at different
rates (mixture weights) and need the sample to be REPRODUCIBLE and
AUDITABLE — so instead of ``df.sampleBy`` (seeded RNG, partition-
order-sensitive row iteration in some engines, not expressible for an
external auditor), membership here is a pure function of the row id:

    h(id) = (id * 2654435761 + 12345) mod 2^32   (Knuth multiplicative)
    keep  = h(id) < rate(stratum) * 2^32

Properties this buys (all tested):
- deterministic: same row → same verdict across runs, partitions,
  engines (the oracle replays it in plain SQL);
- NESTED: raising a stratum's rate only ADDS rows (the kept set at
  rate r is a subset of the kept set at r' > r) — so a mixture
  re-weight between runs reuses every already-processed row;
- distributed: a narrow map over the scan, no shuffle, no RNG state.

``stratified_fixed_n`` draws an EXACT-size per-stratum sample by
ranking on the same hash (one window shuffle on the stratum key) —
the eval-holdout shape where "about 10%" isn't acceptable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_MULT = 2654435761
_OFFSET = 12345
_MOD = 4294967296  # 2^32


def sample_hash(id_col: Column) -> Column:
    """The 32-bit multiplicative hash, exact in BIGINT arithmetic
    (ids up to ~2^31 stay far from BIGINT overflow)."""
    return F.pmod(
        id_col.cast("long") * F.lit(_MULT) + F.lit(_OFFSET), F.lit(_MOD)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Bernoulli-by-hash per stratum: keep rows whose hash falls under
    the stratum's rate threshold.  ``rates`` maps stratum value →
    [0, 1] rate; unlisted strata use ``default_rate``."""
    thresh = F.lit(int(default_rate * _MOD))
    for key, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == key, F.lit(int(rate * _MOD))
        ).otherwise(thresh)
    return df.filter(sample_hash(F.col(id_col)) < thresh)


def weighted_sample_topn(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, inclusion
    probability proportional to weight (PPS): Efraimidis–Spirakis
    A-ES [Inf. Process. Lett. 2006] — draw u_i uniform per row, rank
    by u_i^(1/w_i), keep the top n.  Here u_i is the same Knuth
    multiplicative hash of the id the stratified sampler uses (mapped
    to (0, 1]), so the draw is a pure function of the row id:
    reproducible, auditable, engine-replayable.

    The rank key is ln(u)/w (monotone in u^(1/w)), QUANTIZED to six
    decimals with an id tie-break: ln() is a libm call whose last ulp
    may differ across engines, and the repo's oracle contract needs
    cross-engine-identical selection (same precedent as the RAG
    pipeline's quantized BM25 ranking).  Ties are totally ordered by
    id, so the cut at n is deterministic in both engines.

    Scale: rows with w <= 0 are excluded (A-ES domain); the top-n is
    ``orderBy().limit(n)`` → TakeOrderedAndProject (per-partition
    heap + driver merge of n·parts rows), never a global sort
    shuffle.  Nested: the top-n sample is a prefix of the top-n'
    sample for n' > n, so growing a sample reuses every row."""
    u = (sample_hash(F.col(id_col)) + F.lit(1)) / F.lit(float(_MOD))
    key = F.round(
        F.log(u) / F.col(weight_col).cast("double"), 6
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .orderBy(F.desc(key), F.col(id_col))
        .limit(n)
    )


def stratified_fixed_n(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_per_stratum: int,
) -> DataFrame:
    """Exactly ``n_per_stratum`` rows per stratum (fewer only if the
    stratum is smaller), chosen by hash order with id tie-break —
    deterministic and engine-replayable, unlike a seeded RNG."""
    w = Window.partitionBy(strata_col).orderBy(
        sample_hash(F.col(id_col)), F.col(id_col)
    )
    return (
        df.withColumn("_srn", F.row_number().over(w))
        .filter(F.col("_srn") <= n_per_stratum)
        .drop("_srn")
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    budget: int,
    alpha: float,
) -> DataFrame:
    """Temperature-scaled group rebalance (mT5 §3.1 / UniMax-style):
    per-group sampling mass ∝ count^alpha (alpha = 1/T), quotas
    derived from the input's OWN group counts in one combinable
    groupBy, filled by ranking rows on md5(id) — the deterministic
    reproducible-shuffle fill.  A quota above a group's count
    self-saturates at the count (UniMax's one-epoch cap).

    THE single definition of the mix rule: ``train_temperature_mix``
    applies it to the raw corpus and ``pipeline_curated_mix`` to the
    dedup survivors — both must keep matching their shared oracle SQL.

    Returns ``df``'s (id, group) pairs for the selected rows.  The
    float ``rk <= budget*w/tot`` compare is cross-engine stable as
    long as thresholds sit away from integers — verify per corpus
    (both catalog entries do, ≥0.08 at all three SFs).
    """
    # The quotas come from one small driver collect (a row per
    # group) and ride in the plan as literals, so the returned frame
    # references the input once and nothing is left persisted.  The
    # normalizer sums every group, NULL included; a NULL group gets
    # no quota and selects nothing, as in the oracle's JOIN USING.
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n")).collect()
    w = {r[group_col]: float(r["n"]) ** alpha for r in counts}
    tot = sum(w.values())
    quota = F.lit(None)
    for g, wg in sorted((g, wg) for g, wg in w.items() if g is not None):
        quota = F.when(
            F.col(group_col) == F.lit(g), F.lit(budget * wg / tot)
        ).otherwise(quota)
    rk = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string"))
    )
    return (
        df.select(id_col, group_col)
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= quota)
        .select(id_col, group_col)
    )
