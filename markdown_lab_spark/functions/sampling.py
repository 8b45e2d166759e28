"""Deterministic, engine-portable sampling for training-data pipelines.

Why not ``df.sample``: Spark's built-in sampler draws from a per-partition
RNG stream, so its output CHANGES whenever partitioning changes (a
repartition, AQE coalesce, a task retry replaying a different split) —
at pipeline scale that breaks reproducibility and exactly-once semantics.
These operators derive the keep decision from a hash of the row's own id:
scan-local (no shuffle, no RNG state), identical across engines (exact
DuckDB oracle twin), identical across runs, partitionings, and retries,
and composable (disjoint salt -> independent samples; same salt -> nested
samples: fraction 0.1 is a subset of fraction 0.2).

The uniform variate is the first 8 hex chars of ``md5(salt || ':' || id)``
read as a 32-bit integer over 2^32 — the same construction the dedup
family uses for min-hashing (md5 so every operator has a portable SQL
twin; see dedup.py module docstring).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_uniform(id_col, salt: str = "") -> Column:
    """Deterministic uniform [0, 1) variate from a row id: the first 8
    hex chars of md5(salt:id) as uint32 / 2^32. Pure JVM expression —
    stays inside whole-stage codegen, pushes no shuffle."""
    hexs = F.substring(F.md5(F.concat_ws(":", F.lit(salt), id_col.cast("string"))), 1, 8)
    return F.conv(hexs, 16, 10).cast("long") / F.lit(4294967296.0)


def deterministic_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep each row iff its hash-uniform variate < ``fraction``.
    Reproducible Bernoulli(fraction) sampling keyed by row identity."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.filter(hash_uniform(F.col(id_col), salt) < fraction)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: Dict[str, float],
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum keep fractions — the source-mix weighting step of a
    training-data pipeline (e.g. downsample crawl boilerplate domains,
    upweight curated sources by keeping them whole). ``fractions`` maps
    stratum value -> fraction; strata absent from the map keep
    ``default_fraction``. The fractions ride as a literal map column
    (small by construction), so the plan is still one narrow filter."""
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for stratum {k!r} must be in [0, 1]")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction must be in [0, 1]")
    pairs = []
    for k, v in fractions.items():
        pairs.extend([F.lit(k), F.lit(float(v))])
    frac = (
        F.element_at(F.create_map(*pairs), F.col(strata_col).cast("string"))
        if pairs
        else F.lit(None).cast("double")
    )
    frac = F.coalesce(frac, F.lit(float(default_fraction)))
    return df.filter(hash_uniform(F.col(id_col), salt) < frac)


def temperature_mix_fractions(
    df: DataFrame,
    strata_col: str,
    alpha: float = 0.7,
    target_rows: int | None = None,
    weight_col: str | None = None,
) -> Dict[str, float]:
    """Per-source keep fractions from temperature-based mixture
    weighting — the published multi-corpus sampling rule (GPT-3 table
    2.2 hand weights formalized by LLaMA/PaLM as ``p_i ∝ n_i**alpha``):
    raising size to ``alpha < 1`` flattens the mix so giant crawl
    sources stop drowning small curated ones.

    Computes per-stratum mass ``n_i`` (row count, or sum of
    ``weight_col`` — pass token counts to mix by tokens), target share
    ``p_i = n_i**alpha / Σ n**alpha``, and the keep fraction that
    realizes it: ``f_i = min(1, p_i * N_target / n_i)`` with
    ``N_target`` defaulting to the full corpus size (so flattening only
    DOWN-samples the big sources; no source is oversampled past 1.0 —
    deterministic sampling cannot replicate rows). Feed the result to
    :func:`stratified_sample`. ONE partial-agg groupBy; the returned
    dict is model-sized (one entry per source)."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    mass = F.count("*") if weight_col is None else F.sum(F.col(weight_col))
    rows = df.groupBy(strata_col).agg(mass.cast("double").alias("n")).collect()
    ns = {r[strata_col]: float(r["n"]) for r in rows}
    if not ns:
        return {}
    total = sum(ns.values())
    n_target = float(target_rows) if target_rows is not None else total
    z = sum(n ** alpha for n in ns.values() if n > 0)
    return {
        k: min(1.0, (n ** alpha / z) * n_target / n) if n > 0 else 0.0
        for k, n in ns.items()
    }
