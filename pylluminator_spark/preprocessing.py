"""Preprocessing transforms (SURVEY §2 M2): channel inference, dye-bias
corrections, NOOB background correction, scrub, and pOOBAH detection
p-values — the reference's canonical pipeline (SURVEY §3.2).

Spark-first decomposition of each kernel:

- per-(sample, channel) *scalars* (means, medians, Huber fits) form one
  parameter row per sample, ``(sample, <G params>, <R params>)``, from one
  scan and one aggregation (or one grouped-map pandas fit) over
  channel-tagged cells; one broadcast left join brings the row back to
  every cell, where the G params rewrite mg/ug and the R params mr/ur as
  column expressions;
- the norm-exp convolution (reference stats.py:95-142) is pure column math
  (normal pdf/sf via erfc) running in whole-stage codegen over every cell,
  one projection per shared subexpression so each is generated once;
- the ECDF behind pOOBAH (reference samples.py:1529-1607) is one scan and
  one window: every signal row explodes into its foreground query values
  and its background values, and one window per (sample, channel) ordered
  by value gives the running count of background rows plus the partition's
  background count and sum; the low-signal fallback prior (uniform 0..999)
  has a closed-form ECDF — fully distributed, no driver-side vectors;
- only the non-linear dye-bias fit (reference samples.py:1340-1427), whose
  state is a per-sample interpolation table over ~128k sorted intensities,
  uses a grouped-map pandas UDF per sample (bounded group size).

All citations are into /root/reference/pylluminator/.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pylluminator_spark.functions.stats import (
    SQRT2,
    erfc_from_tail,
    erfc_t_expr,
    erfc_tail_expr,
    norm_logpdf_z_expr,
)

NON_UNIQUE_MASK_PATTERN = "(?i)(nonuniq|M_nonuniq|multi|M_mapping)"


# ---------------------------------------------------------------------------
# Cell helpers over the semi-wide schema
# ---------------------------------------------------------------------------

def _ib_cells():
    """In-band (value, count) exprs per row: type I G -> (mg, ug), type I R
    -> (mr, ur), type II -> (mg, ur) (reference samples.py:1017-1042)."""
    t, ch = F.col("type"), F.col("channel")
    m = F.when(t == "II", F.col("mg")).when(ch == "G", F.col("mg")).otherwise(F.col("mr"))
    u = F.when(t == "II", F.col("ur")).when(ch == "G", F.col("ug")).otherwise(F.col("ur"))
    return m, u


def negative_controls(signal: DataFrame) -> DataFrame:
    """Negative control probes (reference samples.py:921-933)."""
    return signal.filter(
        (F.col("probe_type") == "ctl") & F.col("probe_id").rlike("(?i)negative")
    )


def mean_ib_intensity(signal: DataFrame) -> DataFrame:
    """A5 — per-sample mean over all in-band cells, NaN-skipping
    (reference samples.py:1017-1042). Returns (sample, mean_ib)."""
    m, u = _ib_cells()
    non_ctl = signal.filter(F.col("probe_type") != "ctl")
    long_vals = non_ctl.select(
        "sample", F.explode(F.array(m, u)).alias("v")
    ).filter(F.col("v").isNotNull())
    return long_vals.groupBy("sample").agg(F.avg("v").alias("mean_ib"))


def total_ib_intensity(signal: DataFrame) -> DataFrame:
    """A6 — per (probe, sample) sum of in-band cells; 0 -> NULL
    (reference samples.py:1044-1072)."""
    m, u = _ib_cells()
    tot = (
        F.when(m.isNull() & u.isNull(), F.lit(None))
        .otherwise(F.coalesce(m, F.lit(0.0)) + F.coalesce(u, F.lit(0.0)))
    )
    return signal.select(
        "sample",
        "probe_id",
        "type",
        "channel",
        F.nullif(tot, F.lit(0.0)).alias("total_ib"),
    )


# ---------------------------------------------------------------------------
# A9 — type I channel inference (reference samples.py:940-1011)
# ---------------------------------------------------------------------------

def infer_type1_channel(
    signal: DataFrame,
    switch_failed: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Rewrite the ``channel`` of type I probes to the channel carrying the
    max signal across samples; tie -> 'R' (reference samples.py:940-1011,
    docstring: "If max values are equals, the channel is set to R").

    Returns (new_signal, summary, failed_probes):
    - summary: (channel, inferred_channel, n) counts
    - failed_probes: probe_ids whose max < 95th pct of the inferred
      background or with any NA cell (``MethylSession.infer_type1_channel``
      masks them as 'failed_probes_inferTypeI' when ``mask_failed``).

    The reference mutates an index level then remaps every mask
    (samples.py:997-1008); in long form this is one groupBy + broadcast join
    — masks key on probe_id and need no remap.
    """
    t1 = signal.filter(F.col("type") == "I")
    per_probe = t1.groupBy("probe_id").agg(
        F.max(F.greatest("mg", "ug")).alias("_gmax"),
        F.max(F.greatest("mr", "ur")).alias("_rmax"),
        F.first("channel").alias("_manifest_channel"),
        F.max(
            F.when(
                F.col("mg").isNull()
                | F.col("mr").isNull()
                | F.col("ug").isNull()
                | F.col("ur").isNull(),
                1,
            ).otherwise(0)
        ).alias("_has_na"),
    )
    per_probe = per_probe.withColumn(
        "inferred_channel",
        F.when(F.col("_gmax").isNull() & F.col("_rmax").isNull(), F.col("_manifest_channel"))
        .when(F.col("_rmax").isNull(), F.lit("G"))
        .when(F.col("_gmax").isNull(), F.lit("R"))
        .when(F.col("_rmax") >= F.col("_gmax"), F.lit("R"))
        .otherwise(F.lit("G")),
    )

    # Background: cells on the channel NOT inferred (reference 980-984):
    # G-cells of R-inferred probes + R-cells of G-inferred probes.
    with_inf = t1.join(
        F.broadcast(per_probe.select("probe_id", "inferred_channel")), "probe_id"
    )
    bg_vals = with_inf.select(
        F.explode(
            F.when(
                F.col("inferred_channel") == "R", F.array("mg", "ug")
            ).otherwise(F.array("mr", "ur"))
        ).alias("v")
    ).filter(F.col("v").isNotNull())
    bg_max_row = bg_vals.agg(F.expr("percentile(v, 0.95)").alias("p95")).collect()[0]
    bg_max = bg_max_row["p95"] if bg_max_row["p95"] is not None else float("inf")

    per_probe = per_probe.withColumn(
        "_failed",
        (F.greatest(F.coalesce("_gmax", F.lit(float("-inf"))),
                    F.coalesce("_rmax", F.lit(float("-inf")))) < F.lit(bg_max))
        | (F.col("_has_na") == 1),
    )
    if not switch_failed:
        per_probe = per_probe.withColumn(
            "inferred_channel",
            F.when(F.col("_failed"), F.col("_manifest_channel")).otherwise(
                F.col("inferred_channel")
            ),
        )

    summary = (
        per_probe.groupBy(
            F.col("_manifest_channel").alias("channel"), F.col("inferred_channel")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    failed_probes = per_probe.filter(F.col("_failed")).select("probe_id")

    new_signal = (
        signal.join(
            F.broadcast(per_probe.select("probe_id", "inferred_channel")),
            "probe_id",
            "left",
        )
        .withColumn(
            "channel",
            F.when(
                (F.col("type") == "I") & F.col("inferred_channel").isNotNull(),
                F.col("inferred_channel"),
            ).otherwise(F.col("channel")),
        )
        .drop("inferred_channel")
    )
    return new_signal, summary, failed_probes


# ---------------------------------------------------------------------------
# One parameter row per sample, applied with one broadcast join
# ---------------------------------------------------------------------------

def _long_cells(signal: DataFrame, parts) -> DataFrame:
    """(sample, <tags>, v), one row per non-NULL cell, from one explode:
    each part is (rows, tags, cols) — the rows it takes, the literal tag
    columns of its cells and the cell columns it reads."""
    cells = F.array(
        *[
            F.struct(*[F.lit(x).alias(k) for k, x in tags.items()],
                     F.when(rows, F.col(c)).alias("v"))
            for rows, tags, cols in parts
            for c in cols
        ]
    )
    return (
        signal.select("sample", F.explode(cells).alias("c"))
        .select("sample", "c.*")
        .filter(F.col("v").isNotNull())
    )


def _channel_stat(signal: DataFrame, agg, g, r) -> DataFrame:
    """(sample, _g, _r): ``agg`` over each sample's non-NULL G cells and
    over its R cells, from one explode and one aggregation. ``g`` and ``r``
    are (rows, cells): the rows feeding the channel and their cell columns."""
    parts = [(rows, {"ch": ch}, cols) for ch, (rows, cols) in (("G", g), ("R", r))]
    long = _long_cells(signal, parts)
    return long.groupBy("sample").agg(
        *[agg(F.when(F.col("ch") == ch, F.col("v"))).alias(f"_{ch.lower()}")
          for ch in ("G", "R")]
    )


def _apply_channels(signal: DataFrame, params: DataFrame, g_cols, r_cols, fn) -> DataFrame:
    """Broadcast-left-join the one-row-per-sample ``params``, rewrite the
    cells with ``fn(df, cells)`` (``cells`` maps mg/ug to ``g_cols`` and
    mr/ur to ``r_cols``) and drop the parameter columns."""
    out = signal.join(F.broadcast(params), "sample", "left")
    out = fn(out, {"mg": g_cols, "ug": g_cols, "mr": r_cols, "ur": r_cols})
    return out.drop(*g_cols, *r_cols)


# ---------------------------------------------------------------------------
# K6 — linear / control-based dye bias (reference samples.py:1257-1338)
# ---------------------------------------------------------------------------

def _dye_bias_scale(
    signal: DataFrame, reference: DataFrame | None, denominators: DataFrame
) -> DataFrame:
    """Scale G cells by mean_ib / _g and R cells by mean_ib / _r of the
    ``_channel_stat`` table ``denominators``; a sample missing mean_ib or
    either denominator keeps factor 1.0 on both channels."""
    if reference is None:
        reference = mean_ib_intensity(signal)
    factors = (
        reference.join(denominators, "sample")
        .filter(F.col("_g").isNotNull() & F.col("_r").isNotNull())
        .select(
            "sample",
            (F.col("mean_ib") / F.col("_g")).alias("f_g"),
            (F.col("mean_ib") / F.col("_r")).alias("f_r"),
        )
    )

    def scale(df, cells):
        factor = {c: F.coalesce(F.col(f), F.lit(1.0)) for c, (f,) in cells.items()}
        return df.withColumns({c: F.col(c) * f for c, f in factor.items()})

    return _apply_channels(signal, factors, ("f_g",), ("f_r",), scale)


def dye_bias_correction(
    signal: DataFrame, reference: DataFrame | None = None
) -> DataFrame:
    """Control-probe dye-bias scaling (reference samples.py:1257-1297):
    factor_channel = reference_mean / mean(norm-control probes of channel).

    Norm controls: green = probe_id ~ 'norm_c|norm_g', mean of mg; red =
    'norm_a|norm_t', mean of ur (reference samples.py:910-911).
    """
    ctl = F.col("probe_type") == "ctl"
    norm = _channel_stat(
        signal,
        F.avg,
        g=(ctl & F.col("probe_id").rlike("(?i)(norm_c|norm_g)"), ("mg",)),
        r=(ctl & F.col("probe_id").rlike("(?i)(norm_a|norm_t)"), ("ur",)),
    )
    return _dye_bias_scale(signal, reference, norm)


def dye_bias_correction_l(
    signal: DataFrame, reference: DataFrame | None = None
) -> DataFrame:
    """Linear dye bias: scale each channel so its type-I in-band median hits
    the reference level (reference samples.py:1300-1338)."""
    t1 = F.col("type") == "I"
    medians = _channel_stat(
        signal,
        F.median,
        g=(t1 & (F.col("channel") == "G"), ("mg", "ug")),
        r=(t1 & (F.col("channel") == "R"), ("mr", "ur")),
    )
    return _dye_bias_scale(signal, reference, medians)


# ---------------------------------------------------------------------------
# K5 — non-linear dye bias (reference samples.py:1340-1427)
# ---------------------------------------------------------------------------

def _quantile_normalize_to_target(source: np.ndarray, target: np.ndarray) -> np.ndarray:
    """Rank-map ``source`` onto the interpolated distribution of ``target``
    (reference stats.py:145-167, W5/K4)."""
    target_sorted = np.sort(target)
    source_ranks = source.argsort().argsort()
    interp_target = np.interp(
        np.linspace(0, 1, len(source)),
        np.linspace(0, 1, len(target_sorted)),
        target_sorted,
    )
    return interp_target[source_ranks]


def dye_bias_correction_nl(signal: DataFrame) -> DataFrame:
    """Non-linear dye bias: per sample, map each channel's intensities to the
    midpoint between the channel and its quantile-normalized counterpart,
    with linear extensions outside the observed range
    (reference samples.py:1340-1427).

    Grouped-map pandas UDF per sample: the fit state (sorted intensity +
    midpoint vectors, ~128k floats/channel) is inherently per-sample. Group
    size is bounded by the probe universe — safe at any sample count.
    """
    schema = signal.schema

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        t1 = pdf[pdf["type"] == "I"]
        sorted_int = {}
        for ch, cols in (("G", ["mg", "ug"]), ("R", ["mr", "ur"])):
            vals = t1.loc[t1["channel"] == ch, cols].to_numpy().ravel()
            vals = vals[~np.isnan(vals)]
            sorted_int[ch] = np.sort(vals)
        if (
            len(sorted_int["G"]) == 0
            or len(sorted_int["R"]) == 0
            or sorted_int["G"].max() <= 0
            or sorted_int["R"].max() <= 0
        ):
            return pdf

        # distortion check (reference samples.py:1372-1385)
        tot = {}
        for ch, cols in (("G", ["mg", "ug"]), ("R", ["mr", "ur"])):
            sub = t1[t1["channel"] == ch]
            tot[ch] = (sub[cols[0]].fillna(0) + sub[cols[1]].fillna(0)).to_numpy()
        med_r, med_g = np.median(tot["R"]), np.median(tot["G"])
        top_r = np.median(np.sort(tot["R"])[-20:])
        top_g = np.median(np.sort(tot["G"])[-20:])
        if top_g == 0 or med_g == 0 or (top_r / top_g) / (med_r / med_g) > 10:
            return pdf  # caller masks green probes (reference adds a mask)

        for ch, other, cols in (("R", "G", ["mr", "ur"]), ("G", "R", ["mg", "ug"])):
            chan_int = sorted_int[ch]
            normalized = np.sort(
                _quantile_normalize_to_target(chan_int, sorted_int[other])
            )
            midpoint = (chan_int + normalized) / 2
            lo, hi = chan_int.min(), chan_int.max()
            mid_lo, mid_hi = midpoint.min(), midpoint.max()

            def _map(x: np.ndarray) -> np.ndarray:
                out = x.astype("float64").copy()
                ok = ~np.isnan(out)
                within = ok & (out >= lo) & (out <= hi)
                above = ok & (out > hi)
                below = ok & (out < lo)
                out[within] = np.interp(out[within], chan_int, midpoint)
                out[above] = out[above] - hi + mid_hi
                out[below] = (
                    np.nan if lo == 0 else out[below] * (mid_lo / lo)
                )
                return out

            for c in cols:
                pdf[c] = _map(pdf[c].to_numpy()).astype("float32")
        return pdf

    return signal.groupBy("sample").applyInPandas(_fit, schema)


# ---------------------------------------------------------------------------
# K1-K3 — NOOB background correction (reference samples.py:1429-1502,
# stats.py:29-142)
# ---------------------------------------------------------------------------

def _huber(values: np.ndarray, k: float = 1.5, tol: float = 1e-6):
    """Huber M-estimator of (mu, sigma) (reference stats.py:29-61):
    median/MAD init, iterated clipped mean to tolerance."""
    values = values[~np.isnan(values)]
    if len(values) == 0:
        return None, None
    mu = np.median(values)
    sigma = np.median(np.abs(values - mu)) / 0.6745  # statsmodels mad norm
    if sigma == 0:
        return None, None
    while True:
        clipped = np.clip(values, mu - k * sigma, mu + k * sigma)
        mu_new = clipped.mean()
        if abs(mu - mu_new) < tol * sigma:
            break
        mu = mu_new
    return mu, sigma


def _noob_channel_fit(bg: np.ndarray, fg: np.ndarray):
    """(mu, sigma, alpha) of one channel from its background and foreground
    vectors (reference stats.py:64-92), or Nones when the fit fails."""
    if len(bg[bg > 0]) < 100:
        return None, None, None
    bg = bg.copy()
    fg = fg.copy()
    bg[bg == 0] = 1
    fg[fg == 0] = 1
    q1, q3 = np.percentile(bg, [25, 75])
    bg = bg[bg < np.median(bg) + 10 * (q3 - q1)]
    mu, sigma = _huber(bg)
    if mu is None:
        return None, None, None
    fg_mu, _sig = _huber(fg)
    if fg_mu is None:
        return None, None, None
    return float(mu), float(sigma), float(max(fg_mu - mu, 10))


def noob_fit_params(
    signal: DataFrame,
    masks: DataFrame | None = None,
    use_negative_controls: bool = True,
) -> DataFrame:
    """NOOB parameters (reference samples.py:1429-1502 + stats.py:64-92),
    one row per sample: (sample, mu_g, sigma_g, alpha_g, mu_r, sigma_r,
    alpha_r), NULL for a channel whose fit fails.

    Background = OOB cells of type I probes (+ negative controls), non-unique
    probes masked; zeros -> 1; capped at median + 10*IQR. Foreground = in-band
    + type II cells. The Huber fit needs the full vector -> one grouped-map
    UDF per sample fitting both channels.
    """
    work = signal
    if masks is not None:
        from pylluminator_spark.operators.masks import apply_mask_nullout

        work = apply_mask_nullout(signal, masks)
    work = work.withColumn(
        "_nonuniq", F.coalesce(F.col("mask_info"), F.lit("")).rlike(NON_UNIQUE_MASK_PATTERN)
    )

    is_t1 = F.col("type") == "I"
    is_t2 = F.col("type") == "II"
    is_neg = (F.col("probe_type") == "ctl") & F.col("probe_id").rlike("(?i)negative")
    clean = ~F.col("_nonuniq")
    on_g, on_r = F.col("channel") == "G", F.col("channel") == "R"

    # (rows, channel, kind, cells). Background: OOB cells (G-cells of R
    # probes / R-cells of G probes) + negative controls; foreground:
    # in-band type I + type II cells. A negative control that is also a
    # type I probe counts twice, once per part.
    parts = [
        (is_t1 & clean & on_r, "G", "bg", ("mg", "ug")),
        (is_t1 & clean & on_g, "R", "bg", ("mr", "ur")),
    ]
    if use_negative_controls:
        parts += [(is_neg, "G", "bg", ("mg", "ug")), (is_neg, "R", "bg", ("mr", "ur"))]
    parts += [
        (is_t1 & clean & on_g, "G", "fg", ("mg", "ug")),
        (is_t1 & clean & on_r, "R", "fg", ("mr", "ur")),
        (is_t2 & clean, "G", "fg", ("mg",)),
        (is_t2 & clean, "R", "fg", ("ur",)),
    ]
    # one scan, each cell tagged with its part's index so the fit can read
    # each vector part by part
    long = _long_cells(
        work,
        [(rows, {"part": i, "ch": ch, "kind": kind}, cols)
         for i, (rows, ch, kind, cols) in enumerate(parts)],
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {"sample": pdf["sample"].iloc[0]}
        # part by part, scan order within a part: the Huber means sum each
        # vector in this order, and float sums depend on it
        pdf = pdf.sort_values("part", kind="stable")
        for ch in ("G", "R"):
            bg = pdf.loc[(pdf["ch"] == ch) & (pdf["kind"] == "bg"), "v"].to_numpy()
            fg = pdf.loc[(pdf["ch"] == ch) & (pdf["kind"] == "fg"), "v"].to_numpy()
            fit = _noob_channel_fit(bg, fg)
            for name, value in zip(("mu", "sigma", "alpha"), fit):
                row[f"{name}_{ch.lower()}"] = value
        return pd.DataFrame([row])

    return long.groupBy("sample").applyInPandas(
        _fit,
        "sample string, mu_g double, sigma_g double, alpha_g double, "
        "mu_r double, sigma_r double, alpha_r double",
    )


def _norm_exp_convolution(
    df: DataFrame, cells: dict[str, tuple[str, str, str]], offset: float
) -> DataFrame:
    """K3 — closed-form norm-exp convolution of each cell column
    (reference stats.py:95-142): ``shifted + sigma^2 * exp(logpdf - logsf)``
    evaluated at 0 for N(shifted, sigma), clipped >= 1e-6, plus offset.

    ``cells`` maps a cell column to its (mu, sigma, alpha) columns. Each
    shared subexpression (shifted, z, v = z/sqrt2, |v|, t, erfc(|v|)) is
    a projection of its own: CollapseProject keeps a column that the next
    projection reads more than once, so it is generated and evaluated once
    per cell. Inlined, the erfc argument alone appears about 25 times per
    cell."""

    def step(name, fn):
        return {f"_{name}_{c}": fn(c, *p) for c, p in cells.items()}

    def col(name, c):
        return F.col(f"_{name}_{c}")

    steps = [
        ("shift", lambda c, mu, sg, al: (
            F.col(c) - F.col(mu) - F.col(sg) * F.col(sg) / F.col(al))),
        ("z", lambda c, mu, sg, al: (F.lit(0.0) - col("shift", c)) / F.col(sg)),
        ("v", lambda c, *_: col("z", c) / F.lit(SQRT2)),
        ("abs", lambda c, *_: F.abs(col("v", c))),
        ("t", lambda c, *_: erfc_t_expr(col("abs", c))),
        ("tail", lambda c, *_: erfc_tail_expr(col("abs", c), col("t", c))),
    ]
    for name, fn in steps:
        df = df.withColumns(step(name, fn))

    def corrected(c, mu, sg, al):
        x, sigma = F.col(c), F.col(sg)
        log_ratio = norm_logpdf_z_expr(col("z", c), sigma) - F.log(
            F.lit(0.5) * erfc_from_tail(col("v", c), col("tail", c))
        )
        adjusted = col("shift", c) + sigma * sigma * F.exp(log_ratio)
        out = F.greatest(adjusted, F.lit(1e-6)) + F.lit(offset)
        # parameter missing (failed fit) -> leave the value unchanged
        return F.when(
            F.col(mu).isNull() | sigma.isNull() | F.col(al).isNull() | x.isNull(), x
        ).otherwise(out.cast("float"))

    out = df.withColumns({c: corrected(c, *p) for c, p in cells.items()})
    return out.drop(*[f"_{name}_{c}" for name, _fn in steps for c in cells])


def noob_background_correction(
    signal: DataFrame,
    masks: DataFrame | None = None,
    use_negative_controls: bool = True,
    offset: float = 15,
) -> DataFrame:
    """NOOB: fit per-(sample, channel) background params, then apply the
    norm-exp convolution to every cell of that channel — entirely JVM-side
    after the one parameter join (reference samples.py:1429-1502)."""
    params = noob_fit_params(signal, masks, use_negative_controls)
    return _apply_channels(
        signal,
        params,
        ("mu_g", "sigma_g", "alpha_g"),
        ("mu_r", "sigma_r", "alpha_r"),
        lambda df, cells: _norm_exp_convolution(df, cells, offset),
    )


# ---------------------------------------------------------------------------
# K7 — scrub background (reference samples.py:1504-1527)
# ---------------------------------------------------------------------------

def scrub_background_correction(
    signal: DataFrame, masks: DataFrame | None = None
) -> DataFrame:
    """Subtract the per-(sample, channel) OOB median from every cell, clipped
    at 1 (reference samples.py:1504-1527). Meant to run after NOOB."""
    work = signal
    if masks is not None:
        from pylluminator_spark.operators.masks import apply_mask_nullout

        work = apply_mask_nullout(signal, masks)
    t1 = F.col("type") == "I"
    medians = _channel_stat(
        work,
        F.median,
        g=(t1 & (F.col("channel") == "R"), ("mg", "ug")),
        r=(t1 & (F.col("channel") == "G"), ("mr", "ur")),
    )

    def subtract(df, cells):
        clipped = {c: F.greatest(F.col(c) - F.col(m), F.lit(1.0)).cast("float")
                   for c, (m,) in cells.items()}
        return df.withColumns({c: F.when(F.col(m).isNull(), F.col(c)).otherwise(clipped[c])
                               for c, (m,) in cells.items()})

    return _apply_channels(signal, medians, ("_g",), ("_r",), subtract)


# ---------------------------------------------------------------------------
# K8/A10 — pOOBAH (reference samples.py:1529-1607)
# ---------------------------------------------------------------------------

def poobah(
    signal: DataFrame,
    masks: DataFrame | None = None,
    use_negative_controls: bool = True,
    threshold: float = 0.05,
) -> tuple[DataFrame, DataFrame]:
    """Detection p-values from the ECDF of out-of-band background:
    ``p = min_channel(1 - ECDF_bg_channel(max(M, U)))``.

    Background: OOB cells of type I probes (+ negative controls when
    ``use_negative_controls``), non-unique and masked probes excluded.
    Every probe, masked or not, gets a p-value from its own cells.

    One scan: each signal row explodes into its foreground query values
    (flag 0) and background values (flag 1), and one window per (sample,
    channel) ordered by value gives the running count of background rows
    — count(bg <= x), ties ordered background first (the ECDF is
    inclusive) — plus the partition's background count and sum. A (sample,
    channel) without background gets no p-value from that channel.

    Low-signal fallback: when sum(bg) <= 100 the reference substitutes a
    uniform 0..999 prior (samples.py:1583-1589), whose ECDF is closed-form:
    ``count = 0 if x < 0 else min(floor(x) + 1, 1000)`` of ``n = 1000``.

    Returns (pvalues, poobah_mask): pvalues is (sample, probe_id, p_value);
    the mask holds rows with p_value >= threshold, named ``poobah_<t>``.
    """
    if masks is None:
        work = signal.withColumn("_masked", F.lit(False))
    else:
        from pylluminator_spark.operators.masks import _mask_hits

        work = _mask_hits(signal, masks)
    nonuniq = F.coalesce(F.col("mask_info"), F.lit("")).rlike(NON_UNIQUE_MASK_PATTERN)
    is_t1 = F.col("type") == "I"
    is_neg = F.lit(False)
    if use_negative_controls:
        is_neg = (F.col("probe_type") == "ctl") & F.col("probe_id").rlike("(?i)negative")
    bg_ok = ~nonuniq & ~F.col("_masked")
    bg_g = bg_ok & (is_neg | (is_t1 & (F.col("channel") == "R")))
    bg_r = bg_ok & (is_neg | (is_t1 & (F.col("channel") == "G")))

    def value(ch, v, is_bg):
        return F.struct(
            F.lit(ch).alias("ch"),
            v.cast("double").alias("value"),
            F.lit(is_bg).alias("_is_bg"),
        )

    values = F.array(
        value("G", F.greatest("mg", "ug"), 0),
        value("R", F.greatest("mr", "ur"), 0),
        *[value("G", F.when(bg_g, F.col(c)), 1) for c in ("mg", "ug")],
        *[value("R", F.when(bg_r, F.col(c)), 1) for c in ("mr", "ur")],
    )
    long = (
        work.select("sample", "probe_id", F.explode(values).alias("q"))
        .select("sample", "probe_id", "q.*")
        .filter((F.col("_is_bg") == 0) | F.col("value").isNotNull())
    )
    w = Window.partitionBy("sample", "ch").orderBy(
        F.col("value").asc_nulls_last(), F.col("_is_bg").desc()
    )
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counted = long.select(
        "sample",
        "probe_id",
        "value",
        "_is_bg",
        F.sum("_is_bg").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_cum_bg"),
        F.sum("_is_bg").over(whole).alias("_n_bg"),
        F.sum(F.when(F.col("_is_bg") == 1, F.col("value"))).over(whole).alias("_sum_bg"),
    )
    x = F.col("value")
    low = F.col("_sum_bg") <= 100
    # min(floor(x) + 1, 1000) without flooring huge values; NaN compares
    # >= 999 in Spark, as it sorts after every prior value in the window
    prior_cum = F.when(x < 0, F.lit(0)).when(x >= 999, F.lit(1000)).otherwise(F.floor(x) + 1)
    cum = F.when(low, prior_cum).otherwise(F.col("_cum_bg"))
    n = F.when(low, F.lit(1000)).otherwise(F.col("_n_bg"))
    pvals_per_channel = counted.filter(
        (F.col("_is_bg") == 0) & (F.col("_n_bg") > 0)
    ).withColumn(
        "p_channel",
        F.when(x.isNull(), F.lit(None)).otherwise(F.lit(1.0) - cum / F.nullif(n, F.lit(0))),
    )
    pvalues = pvals_per_channel.groupBy("sample", "probe_id").agg(
        F.min("p_channel").alias("p_value")
    )
    poobah_mask = pvalues.filter(F.col("p_value") >= threshold).select(
        F.lit(f"poobah_{threshold}").alias("mask_name"), "sample", "probe_id"
    )
    return pvalues, poobah_mask
