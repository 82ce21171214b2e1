"""Candidate-pair generation from LSH bands, with hot-band skew control.

Strategy (SURVEY.md §4.3): one shuffle computes per-(band_id, band_hash)
group size + min doc id (window over the band key); then

* groups with size <= max_band_group emit ALL within-group pairs via a
  self-equi-join (SortMergeJoin/ShuffledHashJoin on the band key, AQE
  skew-split eligible),
* oversized groups (boilerplate bands — whp near-identical docs) emit
  STAR pairs (anchor = min doc id) — O(n) instead of O(n²) while
  preserving connectivity for clustering.

Pairs are deduped across bands with dropDuplicates — the verify stage
then sees each candidate once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the band hash is seeded with the band id in every band impl, so
# grouping by the hash alone is equivalent to (band_id, band_hash) up to
# hash collisions.  A collision MERGES two groups; merged extra
# candidates are verified downstream, so the only recall hazard is the
# corner where a merge pushes a small genuine group past max_band_group
# and flips it to star linking through a foreign anchor.  At 64 bits
# that needs a random group to collide with one of the handful of hot
# groups (~n_groups·n_hot/2^64 — negligible at any real corpus size),
# so dropping band_id there cuts the widest shuffle of the pipeline by
# ~25% for free; at the default 32-bit width collisions are material
# (~n²/2^33 pairs) and _band_key() keeps band_id in the group key.
BAND_KEY = ["band_hash"]


def _band_key(bands: DataFrame) -> list:
    if dict(bands.dtypes).get("band_hash") == "int":  # 32-bit mode
        return ["band_id", "band_hash"]
    return list(BAND_KEY)


def candidate_pairs(bands: DataFrame, max_band_group: int = 64,
                    id_col: str = "doc_id", mode: str = "grouped") -> DataFrame:
    """bands(band_id, band_hash, doc_id) → pairs(id1, id2), id1 < id2.

    mode="grouped" (default): ONE shuffle — groupBy(band key) straight
    to collect_list (all pairs under the cap, star pairs above it).
    Collected lists are bounded: ids are 8 bytes and oversized groups
    degrade to star linking, so even a 10^6-doc boilerplate band costs
    one 8MB group row, not 10^12 join rows.

    mode="count_join": count per band_hash first (primitive partial-agg
    state), broadcast the rare duplicated hashes back as a semi-join,
    collect_list only the survivors.  Cuts per-key object buffers from
    the big exchange, but consumes the band table TWICE — only pays off
    when band generation is cheap relative to the exchange (measured
    slower than "grouped" here, kept for cluster-scale corpora where
    the collect_list state itself is the memory risk).

    mode="join": window + self-equi-join — 3 shuffles, but never
    materializes a group; kept for comparison and for engines where
    collect_list memory is a concern.
    """
    if mode == "join":
        return _candidate_pairs_join(bands, max_band_group, id_col)

    key = _band_key(bands)
    slim = bands.select(*key, id_col)
    if mode == "count_join":
        dup_hashes = (
            slim.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("grp_n"))
            .filter(F.col("grp_n") >= 2)
            .select(*key)
        )
        # no forced broadcast: this mode is auto-selected exactly at
        # corpus scales where duplicated hashes are NOT rare (30-50%
        # web dup rates -> O(10^7+) rows); AQE broadcasts when the set
        # is actually small and shuffles when it isn't
        slim = slim.join(dup_hashes, key)

    grouped = (
        slim.groupBy(*key)
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    n = F.size("ids")
    # all pairs (i<j) for small groups; star (min, other) for hot groups
    small = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.filter(
                F.transform(F.col("ids"), lambda y: F.when(x < y, F.struct(
                    x.alias("id1"), y.alias("id2")))),
                lambda s: s.isNotNull(),
            ),
        )
    )
    anchor = F.array_min("ids")
    star = F.filter(
        F.transform(
            F.col("ids"),
            lambda y: F.when(y != anchor, F.struct(anchor.alias("id1"),
                                                   y.alias("id2"))),
        ),
        lambda s: s.isNotNull(),
    )
    pairs = grouped.select(
        F.explode(F.when(n <= max_band_group, small).otherwise(star)).alias("p")
    ).select("p.id1", "p.id2")
    return pairs.dropDuplicates(["id1", "id2"])


def _candidate_pairs_join(bands: DataFrame, max_band_group: int,
                          id_col: str) -> DataFrame:
    key = _band_key(bands)
    w = Window.partitionBy(*key)
    sized = bands.withColumn("grp_n", F.count(F.lit(1)).over(w)).withColumn(
        "grp_min", F.min(id_col).over(w)
    )
    # drop singleton groups immediately — they can't produce pairs
    sized = sized.filter(F.col("grp_n") >= 2)

    small = sized.filter(F.col("grp_n") <= max_band_group).select(
        *key, F.col(id_col)
    )
    left = small.select(*key, F.col(id_col).alias("id1"))
    right = small.select(*key, F.col(id_col).alias("id2"))
    small_pairs = left.join(right, key).where(F.col("id1") < F.col("id2"))

    star_pairs = (
        sized.filter(F.col("grp_n") > max_band_group)
        .where(F.col(id_col) != F.col("grp_min"))
        .select(F.col("grp_min").alias("id1"), F.col(id_col).alias("id2"))
    )

    return (
        small_pairs.select("id1", "id2")
        .unionByName(star_pairs)
        .dropDuplicates(["id1", "id2"])
    )
