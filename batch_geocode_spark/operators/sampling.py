"""Deterministic, content-addressed sampling for training-data
pipelines.

``df.sample`` is seed-deterministic only for a FIXED partition layout —
repartition the input (or rescale the cluster) and the selected rows
change, which breaks resume-safety and ablation reproducibility. Hash
sampling keys the decision on the ROW ITSELF: keep iff
pmod(hash(salt || key), DENOM) < fraction·DENOM — the same rows are
selected on any cluster, any layout, any engine (cross-engine checkable
via the md5-derived hash, functions.hashing).

The salt decorrelates independent samples: two samples with different
salts over the same table overlap ~fraction·fraction, while the same
salt gives NESTED samples (a 1% sample is a subset of a 10% sample with
the same salt) — exactly the property you want for scaling-law subsets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_geocode_spark.functions import hashing

DENOM = 1_000_000


def _bucket(key_col: str, salt: str, token_hash: str) -> Column:
    keyed = F.concat(F.lit(salt), F.col(key_col).cast("string"))
    return F.pmod(hashing.token_hash(keyed, token_hash), F.lit(DENOM))


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by key hash."""
    return df.filter(_bucket(key_col, salt, token_hash) < int(fraction * DENOM))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. keep 100% of rare
    languages, 5% of English) — one filter expression, no shuffle, no
    per-stratum jobs."""
    thresh = F.lit(int(default_fraction * DENOM))
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(int(frac * DENOM))
        ).otherwise(thresh)
    return df.filter(_bucket(key_col, salt, token_hash) < thresh)
