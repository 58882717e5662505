"""Copy-number variation (SURVEY §2 M4): intensity normalization regression,
genome tiling/binning with interval arithmetic, and circular binary
segmentation.

Reference: /root/reference/pylluminator/cnv.py. Spark-first decomposition:

- **CNV regression (K13)**: target total-intensity y regressed on the
  normalization samples' intensities. The feature count equals the number of
  normalization samples (small), so the normal equations (X'X, X'y) are
  computed as ONE distributed aggregation of sums-of-products; the k x k
  solve happens on the driver and the coefficients broadcast back into a
  codegen'd prediction expression. No MLlib iteration, one pass.
- **Tiling (K14)**: `sequence()` + `explode` per chromosome; gaps removed
  with operators.range_join.subtract_overlaps; iterative bin-merge runs per
  chromosome in a grouped-map UDF (a few thousand bins per chromosome —
  driver-free, bounded).
- **Bin medians (A15/J9)**: bucketed range join + exact percentile.
- **CBS (K15)**: seeded circular binary segmentation in numpy per
  chromosome (grouped-map UDF). The reference wraps the `linear_segment`
  C library (cnv.py:191-209); this is a from-scratch implementation of the
  public CBS algorithm (Olshen et al. 2004) with a vectorized permutation
  test.

Interval convention: closed [start, end] everywhere in this engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pylluminator_spark.operators.range_join import (
    count_overlaps,
    range_join,
    subtract_overlaps,
)
from pylluminator_spark.preprocessing import total_ib_intensity

TILE_WIDTH = 50_000


def copy_number_variation(
    signal_target: DataFrame,
    signal_norm: DataFrame,
    genomic_ranges: DataFrame,
    target_samples: list[str] | None = None,
    norm_samples: list[str] | None = None,
) -> DataFrame:
    """K13 — per-probe log2 CNV vs a regression on normalization samples
    (reference cnv.py:19-135).

    y = mean total-ib intensity of the target samples per probe;
    X = per-probe total-ib intensities of each normalization sample.
    Returns genomic_ranges + ``cnv`` column.
    """
    tgt = total_ib_intensity(signal_target)
    if target_samples:
        tgt = tgt.filter(F.col("sample").isin(target_samples))
    nrm = total_ib_intensity(signal_norm)
    if norm_samples is None:
        norm_samples = sorted(
            r["sample"] for r in nrm.select("sample").distinct().collect()
        )
    nrm = nrm.filter(F.col("sample").isin(norm_samples))

    y_df = tgt.filter(F.col("total_ib").isNotNull()).groupBy("probe_id").agg(
        F.avg("total_ib").alias("y"),
        F.count(F.lit(1)).alias("_n_t"),
    )
    # require every target sample present (reference dropna on target)
    n_target = (
        len(target_samples)
        if target_samples
        else tgt.select("sample").distinct().count()
    )
    y_df = y_df.filter(F.col("_n_t") == n_target).drop("_n_t")

    x_df = nrm.groupBy("probe_id").agg(
        *[
            F.max(F.when(F.col("sample") == s, F.col("total_ib"))).alias(f"_x{i}")
            for i, s in enumerate(norm_samples)
        ]
    )
    k = len(norm_samples)
    x_cols = [f"_x{i}" for i in range(k)]
    joined = (
        y_df.join(x_df, "probe_id")
        .join(
            F.broadcast(genomic_ranges.select("probe_id").distinct()),
            "probe_id",
            "left_semi",
        )
        .na.drop(subset=x_cols + ["y"])
    )
    joined = joined.persist()

    # Normal equations in ONE aggregation: sums of products for the augmented
    # design [1, x0..xk-1].
    aug = ["__one"] + x_cols
    work = joined.withColumn("__one", F.lit(1.0))
    aggs = []
    for i, ci in enumerate(aug):
        for cj in aug[i:]:
            aggs.append(F.sum(F.col(ci) * F.col(cj)).alias(f"_g_{ci}_{cj}"))
        aggs.append(F.sum(F.col(ci) * F.col("y")).alias(f"_b_{ci}"))
    row = work.agg(*aggs).collect()[0]

    dim = k + 1
    gram = np.zeros((dim, dim))
    rhs = np.zeros(dim)
    for i, ci in enumerate(aug):
        for j_off, cj in enumerate(aug[i:]):
            j = i + j_off
            gram[i, j] = gram[j, i] = row[f"_g_{ci}_{cj}"]
        rhs[i] = row[f"_b_{ci}"]
    coef = np.linalg.lstsq(gram, rhs, rcond=None)[0]

    pred = F.lit(float(coef[0]))
    for i in range(k):
        pred = pred + F.lit(float(coef[i + 1])) * F.col(x_cols[i])
    out = joined.withColumn(
        "cnv", F.log2(F.col("y") / F.greatest(pred, F.lit(1.0)))
    ).select("probe_id", "cnv")
    return genomic_ranges.join(out, "probe_id", "inner")


def tile_genome(
    spark, seq_length: DataFrame, tile_width: int = TILE_WIDTH
) -> DataFrame:
    """K14 — fixed-width tiles per chromosome via sequence+explode
    (reference cnv.py:167-168 `pr.tile_genome`). Closed intervals."""
    return (
        seq_length.select(
            "chromosome",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.floor((F.col("seq_length") - 1) / tile_width).cast("long"),
                )
            ).alias("_tile"),
            F.col("seq_length"),
        )
        .select(
            "chromosome",
            (F.col("_tile") * tile_width).cast("long").alias("start"),
            F.least(
                (F.col("_tile") + 1) * tile_width, F.col("seq_length")
            ).cast("long").alias("end"),
        )
        .withColumn("end", F.col("end") - 1)
    )


def _merge_bins_numpy(
    starts: np.ndarray,
    ends: np.ndarray,
    counts: np.ndarray,
    minimum_overlap: int,
) -> list[tuple[int, int, int]]:
    """Greedy adjacent-bin merge until every bin has >= minimum_overlap
    probes (reference _merge_bins_to_minimum_overlap cnv.py:247-330).
    Bins merge only with touching neighbors (slack=1). Returns surviving
    (start, end, count) tuples."""
    order = np.argsort(starts)
    starts, ends, counts = list(starts[order]), list(ends[order]), list(counts[order])

    def touching(i: int, j: int) -> bool:
        return starts[j] - ends[i] <= 2  # slack=1 on closed intervals

    changed = True
    while changed:
        changed = False
        i = 0
        while i < len(starts):
            if counts[i] >= minimum_overlap:
                i += 1
                continue
            # prefer left neighbor (reference merges left first)
            if i > 0 and touching(i - 1, i):
                starts[i - 1] = min(starts[i - 1], starts[i])
                ends[i - 1] = max(ends[i - 1], ends[i])
                counts[i - 1] += counts[i]
                del starts[i], ends[i], counts[i]
                changed = True
                continue
            if i + 1 < len(starts) and touching(i, i + 1):
                starts[i] = min(starts[i], starts[i + 1])
                ends[i] = max(ends[i], ends[i + 1])
                counts[i] += counts[i + 1]
                del starts[i + 1], ends[i + 1], counts[i + 1]
                changed = True
                continue
            i += 1
    return [
        (int(s), int(e), int(c))
        for s, e, c in zip(starts, ends, counts)
        if c >= minimum_overlap
    ]


def make_bins(
    tiles: DataFrame,
    probe_coords: DataFrame,
    minimum_overlap: int = 20,
) -> DataFrame:
    """Count probes per tile (bucketed range join) then merge adjacent
    low-count tiles per chromosome until each bin holds >= minimum_overlap
    probes. The merge loop runs per chromosome in a grouped-map UDF."""
    with_zero = count_overlaps(
        tiles,
        probe_coords.select("chromosome", "start", "end"),
        ["chromosome", "start", "end"],
        bucket=TILE_WIDTH,
        out_col="n_probes",
    )

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        chrom = pdf["chromosome"].iloc[0]
        merged = _merge_bins_numpy(
            pdf["start"].to_numpy(),
            pdf["end"].to_numpy(),
            pdf["n_probes"].to_numpy(),
            minimum_overlap,
        )
        return pd.DataFrame(
            [(chrom, s, e, c) for s, e, c in merged],
            columns=["chromosome", "start", "end", "n_probes"],
        )

    return with_zero.groupBy("chromosome").applyInPandas(
        _merge, "chromosome string, start long, end long, n_probes long"
    )


def bin_medians(bins: DataFrame, cnv_probes: DataFrame) -> DataFrame:
    """A15/J9 — median CNV per bin via range join + exact percentile
    (reference cnv.py:184-187)."""
    joined = range_join(
        bins.select(
            "chromosome",
            F.col("start").alias("start_bin"),
            F.col("end").alias("end_bin"),
        ),
        cnv_probes.select("chromosome", "start", "end", "cnv"),
        left_start="start_bin",
        left_end="end_bin",
    )
    return (
        joined.groupBy("chromosome", "start_bin", "end_bin")
        .agg(F.expr("percentile(cnv, 0.5)").alias("cnv"))
        .withColumn(
            "map_loc",
            ((F.col("start_bin") + F.col("end_bin")) / 2).cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# K15 — circular binary segmentation (public algorithm, from scratch)
# ---------------------------------------------------------------------------

def _cbs_t_stats(x: np.ndarray):
    """Max |t| over all (i, j) arc splits, computed via cumulative sums for
    the standard CBS statistic on a linear scan of split points."""
    n = len(x)
    if n < 4:
        return None
    csum = np.cumsum(x)
    total = csum[-1]
    idx = np.arange(1, n)
    mean1 = csum[:-1] / idx
    mean2 = (total - csum[:-1]) / (n - idx)
    pooled = x.std(ddof=0)
    if pooled == 0:
        return None
    t = np.abs(mean1 - mean2) / (pooled * np.sqrt(1 / idx + 1 / (n - idx)))
    k = int(np.argmax(t))
    return k + 1, float(t[k])


def cbs_split_tstats(
    bins_signal: DataFrame,
    *,
    chrom_col: str = "chromosome",
    order_col: str = "start_bin",
    value_col: str = "cnv",
) -> DataFrame:
    """K15's split statistic as a DISTRIBUTED operator: per chromosome, the
    CBS max-|t| over all binary split points k of the ``order_col``-sorted
    values — the quantity ``_cbs_t_stats`` computes in numpy inside the
    grouped-map recursion (reference cnv.py:191-209 wraps the
    `linear_segment` C library whole; Olshen et al. 2004 is the public
    spec). The permutation test stays in the seeded grouped-map path; this
    is the scale path for the statistic itself when one chromosome's bin
    vector outgrows a single task.

    t(k) = |mean(x[:k]) - mean(x[k:])| / (std_pop(x) * sqrt(1/k + 1/(n-k)))

    computed from an ORDERED-window cumulative sum (prefix sums are
    order-defined, so exact for integer-valued inputs) plus per-chromosome
    total/ssq aggregates. Chromosomes with n < 4 bins or zero variance are
    excluded, mirroring ``_cbs_t_stats`` returning None; ties on t break to
    the smallest k, matching ``np.argmax``. NULL values are dropped up
    front so ``k``, ``n``, and every sum see the same row set — the numpy
    twin never sees NULLs, and a NULL bin would otherwise silently shift
    the split index (ADVICE r5).

    Returns (chromosome, n_bins, split_k, t_max, mean_left, mean_right).
    """
    from pyspark.sql import Window

    d0 = bins_signal.select(
        F.col(chrom_col).alias("chromosome"),
        F.col(order_col).alias("_ord"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    w_ord = (
        Window.partitionBy("chromosome")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("chromosome")
    d = d0.select(
        "chromosome",
        F.row_number()
        .over(Window.partitionBy("chromosome").orderBy("_ord"))
        .alias("k"),
        F.sum("_v").over(w_ord).alias("csum"),
        F.count("_v").over(w_all).alias("n"),
        F.sum("_v").over(w_all).alias("total"),
        F.sum(F.col("_v") * F.col("_v")).over(w_all).alias("ssq"),
    )
    n, k = F.col("n"), F.col("k")
    mean1 = F.col("csum") / k
    mean2 = (F.col("total") - F.col("csum")) / (n - k)
    pooled = F.sqrt(
        F.col("ssq") / n - (F.col("total") / n) * (F.col("total") / n)
    )
    t = F.abs(mean1 - mean2) / (
        pooled * F.sqrt(1.0 / k + 1.0 / (n - k))
    )
    scored = (
        d.filter((n >= 4) & (k < n))
        .withColumn("_pooled", pooled)
        .filter(F.col("_pooled") > 0)
        .select(
            "chromosome",
            n.alias("n_bins"),
            k.alias("split_k"),
            t.alias("t"),
            mean1.alias("mean_left"),
            mean2.alias("mean_right"),
        )
    )
    best = Window.partitionBy("chromosome").orderBy(
        F.col("t").desc(), F.col("split_k").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(best))
        .filter(F.col("_rk") == 1)
        .select(
            "chromosome",
            "n_bins",
            "split_k",
            F.col("t").alias("t_max"),
            "mean_left",
            "mean_right",
        )
    )


def _cbs_segment_chrom(
    values: np.ndarray,
    shuffles: int = 1000,
    p: float = 1e-4,
    seed: int = 42,
) -> list[tuple[int, int]]:
    """Recursive binary segmentation with a vectorized permutation test
    (seeded for reproducibility — reference tests tolerate CBS randomness
    with rel=1e-4, test_cnv.py:63)."""
    rng = np.random.RandomState(seed)
    segments: list[tuple[int, int]] = []

    def recurse(lo: int, hi: int) -> None:
        x = values[lo:hi]
        res = _cbs_t_stats(x)
        if res is None:
            segments.append((lo, hi))
            return
        k, t_obs = res
        # permutation test: max-t distribution under shuffling. A
        # permutation keeps len(x) and the pooled std, so _cbs_t_stats of
        # a shuffle is never None once it is not None for x.
        n_perm = min(shuffles, 2000)
        perm = np.array(
            [_cbs_t_stats(rng.permutation(x))[1] for _ in range(n_perm)]
        )
        p_val = (perm >= t_obs).mean()
        if p_val <= p and 0 < k < len(x):
            recurse(lo, lo + k)
            recurse(lo + k, hi)
        else:
            segments.append((lo, hi))

    recurse(0, len(values))
    return sorted(segments)


def copy_number_segmentation(
    bins_signal: DataFrame,
    shuffles: int = 1000,
    p: float = 1e-4,
    seed: int = 42,
) -> DataFrame:
    """K15 — CBS over per-bin medians, one chromosome per group
    (reference cnv.py:138-211). Input: (chromosome, start_bin, end_bin,
    cnv, map_loc). Output: (chromosome, seg_id, start, end, nb_bins,
    mean_cnv)."""

    def _segment(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("start_bin").reset_index(drop=True)
        chrom = pdf["chromosome"].iloc[0]
        vals = pdf["cnv"].to_numpy(dtype="float64")
        segs = _cbs_segment_chrom(vals, shuffles=shuffles, p=p, seed=seed)
        rows = []
        for i, (lo, hi) in enumerate(segs):
            rows.append(
                (
                    chrom,
                    i,
                    int(pdf["map_loc"].iloc[lo]),
                    int(pdf["map_loc"].iloc[hi - 1]),
                    hi - lo,
                    float(np.nanmean(vals[lo:hi])),
                )
            )
        return pd.DataFrame(
            rows,
            columns=["chromosome", "seg_id", "start", "end", "nb_bins", "mean_cnv"],
        )

    return bins_signal.groupBy("chromosome").applyInPandas(
        _segment,
        "chromosome string, seg_id int, start long, end long, nb_bins int, mean_cnv double",
    )


def cnv_pipeline(
    signal_target: DataFrame,
    signal_norm: DataFrame,
    genomic_ranges: DataFrame,
    seq_length: DataFrame,
    gap_info: DataFrame | None = None,
    target_samples: list[str] | None = None,
    minimum_overlap: int = 20,
    shuffles: int = 1000,
    tile_width: int = TILE_WIDTH,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """End-to-end CNV: regression -> tiles minus gaps -> bins -> medians ->
    CBS segments. Returns (cnv_probes, signal_bins, segments)."""
    spark = signal_target.sparkSession
    cnv_probes = copy_number_variation(
        signal_target, signal_norm, genomic_ranges, target_samples
    )
    nonzero = cnv_probes.filter(
        (F.col("end") > F.col("start")) & F.col("cnv").isNotNull()
    )
    tiles = tile_genome(spark, seq_length, tile_width)
    if gap_info is not None:
        tiles = subtract_overlaps(tiles, gap_info)
    bins = make_bins(tiles, nonzero, minimum_overlap)
    signal_bins = bin_medians(bins, nonzero)
    segments = copy_number_segmentation(signal_bins, shuffles=shuffles)
    return cnv_probes, signal_bins, segments
