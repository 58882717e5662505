"""Masks as data: a single ``masks`` DataFrame instead of the reference's
``MaskCollection`` dict of probe MultiIndexes (reference mask.py:8-70).

Schema: ``masks(mask_name string, sample string NULLABLE, probe_id string)``
— a NULL sample means the mask applies to every sample (mask.py:19-32).

Application semantics (reference samples.py:577-602): *null-out* —
signal values of masked probes become NULL but rows remain — implemented
as two equi left-joins (global + per-sample) and a ``when``. Both joins are
broadcast-friendly (mask tables are dimension-sized) and degrade gracefully
to shuffle joins at scale via AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pylluminator_spark.operators.selectors import INTENSITY_COLS

MASK_SCHEMA = "mask_name string, sample string, probe_id string"


def empty_masks(spark) -> DataFrame:
    return spark.createDataFrame([], MASK_SCHEMA)


def add_mask(
    masks: DataFrame,
    probes: DataFrame,
    mask_name: str,
    sample: str | None = None,
) -> DataFrame:
    """Union a new mask (set of probe_ids) into the masks table
    (reference mask.py:72-118 ``MaskCollection.add_mask``)."""
    new = probes.select("probe_id").distinct().select(
        F.lit(mask_name).alias("mask_name"),
        F.lit(sample).cast("string").alias("sample"),
        F.col("probe_id"),
    )
    return masks.unionByName(new)


def _mask_hits(signal: DataFrame, masks: DataFrame) -> DataFrame:
    """Annotate signal rows with a boolean ``_masked`` column via two equi
    joins (global-mask semi-key + per-sample key). Avoids an OR-join that
    would defeat hash-join planning."""
    global_probes = (
        masks.filter(F.col("sample").isNull())
        .select("probe_id")
        .distinct()
        .withColumn("_g", F.lit(True))
    )
    sample_probes = (
        masks.filter(F.col("sample").isNotNull())
        .select("sample", "probe_id")
        .distinct()
        .withColumn("_s", F.lit(True))
    )
    return (
        signal.join(F.broadcast(global_probes), "probe_id", "left")
        .join(F.broadcast(sample_probes), ["sample", "probe_id"], "left")
        .withColumn(
            "_masked", F.coalesce(F.col("_g"), F.col("_s"), F.lit(False))
        )
        .drop("_g", "_s")
    )


def apply_mask_nullout(signal: DataFrame, masks: DataFrame) -> DataFrame:
    """P11 — null-out intensities of masked probes, keeping rows
    (reference samples.py:595-600: ``sigdf.loc[probes] = None``)."""
    hit = _mask_hits(signal, masks)
    out = hit
    for c in INTENSITY_COLS:
        if c in signal.columns:
            out = out.withColumn(
                c, F.when(F.col("_masked"), F.lit(None)).otherwise(F.col(c))
            )
    if "intensity" in signal.columns:  # long form
        out = out.withColumn(
            "intensity",
            F.when(F.col("_masked"), F.lit(None)).otherwise(F.col("intensity")),
        )
    if "beta" in signal.columns:  # precalculated betas table
        out = out.withColumn(
            "beta",
            F.when(F.col("_masked"), F.lit(None)).otherwise(F.col("beta")),
        )
    return out.drop("_masked")


# ---------------------------------------------------------------------------
# Mask builders (P12, reference samples.py:739-831; names annotations.py:312-340)
# ---------------------------------------------------------------------------

def mask_quality(signal_or_manifest: DataFrame, pattern: str = "M_") -> DataFrame:
    """Probes whose ``mask_info`` matches a quality pattern
    (samples.py:763-768 ``mask_quality_probes``)."""
    return (
        signal_or_manifest.filter(F.col("mask_info").rlike(pattern))
        .select("probe_id")
        .distinct()
    )


def mask_non_unique(signal_or_manifest: DataFrame) -> DataFrame:
    """samples.py:770-790 — nonunique/multi-mapping probes."""
    return (
        signal_or_manifest.filter(
            F.col("mask_info").rlike("(?i)(nonuniq|M_nonuniq|multi|M_mapping)")
        )
        .select("probe_id")
        .distinct()
    )


def mask_xy(manifest: DataFrame) -> DataFrame:
    """samples.py:792-806 — probes on sex chromosomes."""
    return (
        manifest.filter(F.upper(F.col("chromosome")).isin("X", "Y"))
        .select("probe_id")
        .distinct()
    )


def mask_controls(signal_or_manifest: DataFrame) -> DataFrame:
    """samples.py:808-815."""
    return (
        signal_or_manifest.filter(F.col("probe_type") == "ctl")
        .select("probe_id")
        .distinct()
    )


def mask_snp(signal_or_manifest: DataFrame) -> DataFrame:
    """samples.py:817-823."""
    return (
        signal_or_manifest.filter(F.col("probe_type") == "snp")
        .select("probe_id")
        .distinct()
    )


def mask_non_cg(signal_or_manifest: DataFrame) -> DataFrame:
    """samples.py:825-831 — everything but cg probes."""
    return (
        signal_or_manifest.filter(F.col("probe_type") != "cg")
        .select("probe_id")
        .distinct()
    )
