"""Differential methylation (SURVEY §2 M3): per-probe linear models (DMPs),
BH adjustment, change-point segmentation, and DMR aggregates.

Reference: /root/reference/pylluminator/dm.py. Spark-first decomposition:

- **DMP fit (K9)**: probes that share a missingness pattern share the
  design rows they keep (reference OLS ``missing='drop'``, dm.py:65-67), so
  each Arrow batch groups its probes by NaN pattern (``_patterns``) and
  fits every pattern as one vectorized numpy block; a probe with complete
  data is just the all-present pattern. The batches are a grouped-map
  pandas UDF over probe buckets. The reference fans out with joblib above
  10k probes (dm.py:449-456) — here it is ordinary shuffle parallelism.
  t/F p-values use a scipy-free regularized incomplete beta.
- **BH (K11/A14)** — window math (functions.stats.bh_adjust), per factor
  and per DMR contrast, with R ``p.adjust("BH")`` semantics: ``n`` counts
  the non-null p-values and a NULL p (a probe or segment without a fit)
  stays NULL.
- **Segmentation (W1)**: per-sample windows ordered by genome position give
  lead-differences (crossing chromosome boundaries, matching the reference's
  un-partitioned ``diff(-1)`` dm.py:569-575); global segment ids come from
  per-chromosome cumulative change counts + chromosome offsets (every
  chromosome ends in a change point, so segments never span chromosomes).
  The probe axis itself — the next placed probe in genome order and the
  NA segments' ids — is one plain window over one row per probe, like BH:
  at EPIC scale (about 850k placed probes) that is one window partition,
  the bound ``bh_adjust`` already accepts.
- **DMR aggregates (A13)**: groupBy(segment), and for the p-values one long
  ``(segment, contrast)`` table: one Stouffer combine as pure column math
  (functions.stats.stouffer_combine), one BH pass by contrast, one pivot.

- **MixedLM (K9, group_column random effects, reference dm.py:61-67)**: a
  pure-numpy one-random-intercept REML fit (``mixedlm_fit_patterns``). The
  per-group Sherman-Morrison identity collapses V*^-1 to group sums, so
  every missingness pattern of an Arrow batch contributes its design
  statistics and all probes share one vectorized variance-ratio profile
  (grid + golden-section refinement); no statsmodels dependency. Wald z
  p-values, matching statsmodels MixedLM conventions (f_pvalue is NaN for
  mixed fits, as the reference returns None there).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pylluminator_spark.functions.genomic import chromosome_order_expr
from pylluminator_spark.functions.stats import bh_adjust, stouffer_combine


# ---------------------------------------------------------------------------
# Design matrix (patsy-compatible naming, reference dm.py:433-443)
# ---------------------------------------------------------------------------

def _rhs_terms(formula: str) -> list[str]:
    """Right-hand-side terms of ``~ a + b + ...`` (an intercept ``1`` is
    implicit and dropped)."""
    rhs = formula.split("~", 1)[-1]
    return [t.strip() for t in rhs.split("+") if t.strip() and t.strip() != "1"]


def _levels(col: pd.Series, term: str, reference_value: dict | None) -> list:
    """Sorted levels of a categorical factor, the reference level first
    (reference dm.py:421-432)."""
    levels = sorted(col.dropna().unique().tolist())
    if reference_value and term in reference_value:
        ref = reference_value[term]
        levels = [ref] + [lv for lv in levels if lv != ref]
    return levels


def build_design_matrix(
    sheet: pd.DataFrame,
    formula: str,
    reference_value: dict | None = None,
) -> pd.DataFrame:
    """Minimal R-style formula -> design matrix with treatment coding.

    Supports ``~ a + b + ...`` (the reference's usage). Categorical columns
    expand to indicator columns named ``col[T.level]`` (patsy naming); the
    reference level is the first sorted level, overridable via
    ``reference_value`` (reference dm.py:421-432).
    """
    out = pd.DataFrame(index=sheet.index)
    out["Intercept"] = 1.0
    for term in _rhs_terms(formula):
        if term not in sheet.columns:
            raise KeyError(f"factor {term!r} not found in sample sheet")
        col = sheet[term]
        if pd.api.types.is_numeric_dtype(col):
            out[term] = col.astype("float64")
        else:
            for level in _levels(col, term, reference_value)[1:]:
                out[f"{term}[T.{level}]"] = (col == level).astype("float64")
    # drop all-zero columns (absent categories, reference dm.py:437-438)
    out = out[[c for c in out.columns if not (out[c].to_numpy() == 0).all()]]
    return out


# ---------------------------------------------------------------------------
# Regularized incomplete beta (for t / F survival functions, scipy-free)
# ---------------------------------------------------------------------------

def _betacf(a: float, b: float, x: float, max_iter: int = 200, eps: float = 3e-12) -> float:
    """Continued fraction for the incomplete beta (Lentz's algorithm)."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, max_iter + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h


def _betainc_scalar(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    from math import exp, lgamma, log

    ln_front = (
        lgamma(a + b) - lgamma(a) - lgamma(b) + a * log(x) + b * log(1.0 - x)
    )
    front = exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


_betainc = np.vectorize(_betainc_scalar, otypes=[np.float64])


def t_sf_two_sided(t: np.ndarray, df: float) -> np.ndarray:
    """Two-sided p-value of a t statistic: I_{df/(df+t^2)}(df/2, 1/2)."""
    t = np.asarray(t, dtype="float64")
    x = df / (df + t * t)
    out = _betainc(df / 2.0, 0.5, x)
    return np.where(np.isnan(t), np.nan, out)


def f_sf(f_stat: np.ndarray, d1: float, d2: float) -> np.ndarray:
    """Survival function of an F(d1, d2) statistic: I_{d2/(d2+d1 F)}(d2/2, d1/2)."""
    f_arr = np.asarray(f_stat, dtype="float64")
    x = d2 / (d2 + d1 * f_arr)
    out = _betainc(d2 / 2.0, d1 / 2.0, x)
    return np.where(np.isnan(f_arr) | (f_arr < 0), np.nan, out)


# ---------------------------------------------------------------------------
# MixedLM: one-random-intercept REML (reference dm.py:61-67, where
# statsmodels MixedLM(y, X, groups).fit() is used when group_column is set)
# ---------------------------------------------------------------------------

_erfc = np.vectorize(__import__("math").erfc, otypes=[np.float64])


def norm_sf_two_sided(z: np.ndarray) -> np.ndarray:
    """Two-sided normal (Wald z) p-value: erfc(|z|/sqrt(2))."""
    z = np.asarray(z, dtype="float64")
    out = _erfc(np.abs(np.nan_to_num(z)) / np.sqrt(2.0))
    return np.where(np.isnan(z), np.nan, out)


def _patterns(y_mat: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
    """Rows of ``y_mat`` grouped by NaN pattern, in order of first
    appearance: ``(present, rows)`` pairs with ``present`` the (n,) mask
    of non-NaN columns and ``rows`` the ascending row indices."""
    nan_rows, first, inv = np.unique(
        np.isnan(y_mat), axis=0, return_index=True, return_inverse=True
    )
    inv = inv.reshape(-1)
    return [(~nan_rows[g], np.flatnonzero(inv == g)) for g in np.argsort(first)]


def mixedlm_fit_patterns(
    y_mat: np.ndarray,
    x: np.ndarray,
    group_codes: np.ndarray,
    n_grid: int = 21,
    n_refine: int = 28,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized one-random-intercept linear mixed model, REML, over
    rows with arbitrary per-row missingness.

    ``y_mat``: (p, n) responses, NaN where missing; ``x``: (n, k) design
    matrix; ``group_codes``: (n,) integer group labels. Returns ``(coef,
    se, tval, pval)``, each (p, k); rows where the fit is undefined (all
    values missing, fewer present values than design columns, or a
    singular fit) are NaN (the reference returns NaN on LinAlgError,
    dm.py:68-69).

    Model: y = X b + Z u + e with u ~ N(0, s_u^2 I_G), e ~ N(0, s_e^2 I_n).
    Writing lam = s_u^2 / s_e^2 and V* = I + lam Z Z', the per-group
    Sherman-Morrison identity gives V*^-1 = I - sum_g c_g J_g with
    c_g = lam / (1 + lam n_g), so every REML quantity reduces to group sums:
    each lambda evaluation is O(p * G * k^2) with no n x n matrices. The
    profiled REML criterion minimized over lam is

        (n-k) log s2_hat(lam) + sum_g log(1 + lam n_g) + logdet(X'V*^-1 X)

    (equivalent to statsmodels MixedLM(..).fit(reml=True)); inference uses
    Wald z like statsmodels MixedLM (normal, not t).

    The criterion depends on the data only through per-probe group sums,
    so each missingness pattern (``_patterns``) contributes its
    pattern-level design statistics and every probe then rides a single
    batched grid + golden-section pass, instead of one 80-odd-evaluation
    search per pattern (up to 127 patterns at 7 samples, where numpy
    dispatch on the tiny batches dominated the fit). Group indicator
    columns absent from a pattern carry exact zeros through every
    reduction.
    """
    y_mat = np.asarray(y_mat, dtype="float64")
    x = np.asarray(x, dtype="float64")
    p_rows, n = y_mat.shape
    k = x.shape[1]
    nan = np.full((p_rows, k), np.nan)
    codes, inv = np.unique(group_codes, return_inverse=True)
    g_count = len(codes)
    ind = np.zeros((n, g_count))
    ind[np.arange(n), inv] = 1.0
    idx_parts: list[np.ndarray] = []
    parts: list[tuple] = []
    for mask, rows in _patterns(y_mat):
        nb = int(mask.sum())
        if nb <= k:
            continue  # stays NaN
        x_b = x[mask]
        ind_b = ind[mask]
        y_b = y_mat[np.ix_(rows, mask)]
        pb = len(rows)
        parts.append(
            (
                np.broadcast_to(x_b.T @ x_b, (pb, k, k)),
                np.broadcast_to(ind_b.T @ x_b, (pb, g_count, k)),
                np.broadcast_to(ind_b.sum(axis=0), (pb, g_count)),
                y_b @ x_b,
                y_b @ ind_b,
                (y_b * y_b).sum(axis=1),
                np.full(pb, float(nb - k)),
            )
        )
        idx_parts.append(rows)
    if not parts:
        return nan, nan.copy(), nan.copy(), nan.copy()
    stacked = [np.concatenate([pt[i] for pt in parts]) for i in range(7)]
    beta, se, tval, pval = _mixedlm_profile(*stacked, n_grid, n_refine)
    idx = np.concatenate(idx_parts)
    outs = (nan, nan.copy(), nan.copy(), nan.copy())
    for dst, src in zip(outs, (beta, se, tval, pval)):
        dst[idx] = src
    return outs


def _mixedlm_profile(
    xtx: np.ndarray,
    s_mat: np.ndarray,
    n_g: np.ndarray,
    a_mat: np.ndarray,
    t_mat: np.ndarray,
    yy: np.ndarray,
    dof: np.ndarray,
    n_grid: int,
    n_refine: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Grid + golden-section profiled-REML search over PER-PROBE
    sufficient statistics: ``xtx`` (p,k,k), ``s_mat`` (p,G,k), ``n_g``
    (p,G), ``a_mat`` (p,k), ``t_mat`` (p,G), ``yy`` (p,), ``dof`` (p,),
    stacked per missingness pattern by ``mixedlm_fit_patterns``."""
    p, k = a_mat.shape

    def crit_and_fit(lam: np.ndarray, want_fit: bool = False):
        # lam: (p,) per-probe variance ratio; returns criterion (p,) and,
        # when want_fit, (beta, xtwx_inv, s2) for the final extraction.
        c = lam[:, None] / (1.0 + lam[:, None] * n_g)  # (p, G)
        xtwx = xtx - np.einsum("pg,pgi,pgj->pij", c, s_mat, s_mat)
        xtwy = a_mat - np.einsum("pg,pg,pgk->pk", c, t_mat, s_mat)
        ywy = yy - (c * t_mat * t_mat).sum(axis=1)
        sign, logdet = np.linalg.slogdet(xtwx)
        ok = sign > 0
        beta = np.full((p, k), np.nan)
        if ok.any():
            try:
                beta[ok] = np.linalg.solve(xtwx[ok], xtwy[ok][..., None])[..., 0]
            except np.linalg.LinAlgError:
                ok = ok & np.array(
                    [np.linalg.cond(m) < 1e12 for m in xtwx], dtype=bool
                )
                beta[ok] = np.einsum(
                    "pij,pj->pi", np.linalg.pinv(xtwx[ok]), xtwy[ok]
                )
        rss = ywy - (beta * xtwy).sum(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            s2 = rss / dof
            crit = (
                dof * np.log(s2)
                + np.log1p(lam[:, None] * n_g).sum(axis=1)
                + logdet
            )
        crit = np.where(ok & (s2 > 0) & np.isfinite(crit), crit, np.inf)
        if not want_fit:
            return crit
        xtwx_inv = np.full((p, k, k), np.nan)
        if ok.any():
            try:
                xtwx_inv[ok] = np.linalg.inv(xtwx[ok])
            except np.linalg.LinAlgError:
                xtwx_inv[ok] = np.linalg.pinv(xtwx[ok])
        return crit, beta, xtwx_inv, s2

    # 1. coarse profile on a shared grid (0 = OLS boundary included)
    grid = np.concatenate([[0.0], np.logspace(-5.0, 5.0, n_grid)])
    crits = np.stack([crit_and_fit(np.full(p, lam)) for lam in grid])  # (g+1, p)
    best = np.argmin(crits, axis=0)  # (p,)
    lo = grid[np.maximum(best - 1, 0)]
    hi = grid[np.minimum(best + 1, len(grid) - 1)]
    # 2. per-probe golden-section refinement inside the bracket
    gr = (np.sqrt(5.0) - 1.0) / 2.0
    m1 = hi - gr * (hi - lo)
    m2 = lo + gr * (hi - lo)
    f1 = crit_and_fit(m1)
    f2 = crit_and_fit(m2)
    for _ in range(n_refine):
        take_left = f1 < f2
        hi = np.where(take_left, m2, hi)
        lo = np.where(take_left, lo, m1)
        m1 = hi - gr * (hi - lo)
        m2 = lo + gr * (hi - lo)
        f1 = crit_and_fit(m1)
        f2 = crit_and_fit(m2)
    lam_hat = (lo + hi) / 2.0
    _, beta, xtwx_inv, s2 = crit_and_fit(lam_hat, want_fit=True)
    diag = np.einsum("pii->pi", xtwx_inv)
    with np.errstate(invalid="ignore"):
        se = np.sqrt(s2[:, None] * diag)
        tval = beta / se
    pval = norm_sf_two_sided(tval)
    return beta, se, tval, pval


# ---------------------------------------------------------------------------
# DMP computation
# ---------------------------------------------------------------------------

def compute_dmp(
    betas: DataFrame,
    sheet: pd.DataFrame,
    formula: str,
    sample_col: str = "sample",
    reference_value: dict | None = None,
    group_column: str | None = None,
    drop_na: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Per-probe OLS over the long betas table (reference dm.py:330-487).

    ``betas``: long DataFrame (sample, probe_id, beta). ``sheet``: pandas
    sample sheet indexed or keyed by ``sample_col``. Returns (dmps, contrasts)
    where dmps has one row per probe: f_pvalue, effect_size, and per factor
    p/t/estimate/std_err + BH-adjusted p, plus per-level avg_beta (+delta)
    for categorical factors.
    """
    sheet = sheet.copy()
    if sample_col in sheet.columns:
        sheet = sheet.set_index(sample_col)
    # drop samples with NA factors (reference dm.py:385-391)
    rhs_terms = _rhs_terms(formula)
    for term in rhs_terms:
        sheet = sheet[~sheet[term].isna()]
    if group_column is not None:
        sheet = sheet[~sheet[group_column].isna()]

    sample_order = sorted(sheet.index.tolist())
    design = build_design_matrix(sheet.loc[sample_order], formula, reference_value)
    if len(design.columns) < 2:
        raise ValueError("design matrix is empty — check the formula")
    factor_names = list(design.columns)
    contrasts = factor_names[1:]
    x_mat = design.to_numpy(dtype="float64")
    # random-intercept group codes aligned to the design's sample order
    group_codes = (
        pd.factorize(sheet.loc[sample_order, group_column])[0]
        if group_column is not None
        else None
    )

    # categorical avg-beta groupings (reference dm.py:460-472)
    cat_groups: list[tuple[str, str, list[str]]] = []  # (colname, level, samples)
    for term in rhs_terms:
        if not pd.api.types.is_numeric_dtype(sheet[term]):
            for level in _levels(sheet[term], term, reference_value):
                members = [
                    s for s in sample_order if sheet.loc[s, term] == level
                ]
                cat_groups.append((term, str(level), members))

    result_cols = ["probe_id", "f_pvalue", "effect_size"]
    for fname in factor_names:
        result_cols += [
            f"{fname}_p_value",
            f"{fname}_t_value",
            f"{fname}_estimate",
            f"{fname}_std_err",
        ]
    avg_beta_cols: list[str] = []
    for term, level, _members in cat_groups:
        avg_beta_cols.append(f"{term}[T.{level}]_avg_beta")
    for term, level, _members in cat_groups[1:]:
        # delta vs the reference (first) level of the same term
        avg_beta_cols.append(f"{term}[T.{level}]_avg_beta_delta")
    schema = ", ".join(
        ["probe_id string"]
        + [f"`{c}` double" for c in result_cols[1:] + avg_beta_cols]
    )

    sample_idx = {s: i for i, s in enumerate(sample_order)}

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        wide = pdf.pivot_table(
            index="probe_id", columns="sample", values="beta", aggfunc="first",
            dropna=False,
        )
        # align to design order; missing samples -> NaN columns
        y_df = wide.reindex(columns=sample_order)
        y_mat = y_df.to_numpy(dtype="float64")  # p x n
        probe_ids = y_df.index.to_numpy()
        p_rows = y_mat.shape[0]
        out = {c: np.full(p_rows, np.nan) for c in result_cols[1:] + avg_beta_cols}

        def _write(idx, coef, se, t_vals, p_vals) -> None:
            # effect size: max - min over non-intercept estimates + 0
            est_no_int = np.concatenate(
                [coef[:, 1:], np.zeros((coef.shape[0], 1))], axis=1
            )
            with np.errstate(invalid="ignore"):
                out["effect_size"][idx] = est_no_int.max(
                    axis=1
                ) - est_no_int.min(axis=1)
            for j, fname in enumerate(factor_names):
                out[f"{fname}_estimate"][idx] = coef[:, j]
                out[f"{fname}_std_err"][idx] = se[:, j]
                out[f"{fname}_t_value"][idx] = t_vals[:, j]
                out[f"{fname}_p_value"][idx] = p_vals[:, j]

        if group_codes is not None:
            _write(slice(None), *mixedlm_fit_patterns(y_mat, x_mat, group_codes))
        else:
            # OLS per missingness pattern (reference OLS missing='drop',
            # dm.py:65-67)
            for mask, idx in _patterns(y_mat):
                x_b = x_mat[mask]
                nb, kb = x_b.shape
                if nb <= kb:
                    continue
                xtx_b = np.linalg.pinv(x_b.T @ x_b)
                y_b = y_mat[np.ix_(idx, mask)]
                coef = y_b @ (xtx_b @ x_b.T).T  # p x k
                rss = ((y_b - coef @ x_b.T) ** 2).sum(axis=1)
                dof = nb - kb
                se = np.sqrt(np.outer(rss / dof, np.diag(xtx_b)))
                with np.errstate(divide="ignore", invalid="ignore"):
                    t_vals = coef / se
                _write(idx, coef, se, t_vals, t_sf_two_sided(t_vals, dof))
                # F statistic for overall regression (against intercept-only)
                tss = ((y_b - y_b.mean(axis=1, keepdims=True)) ** 2).sum(axis=1)
                d1 = kb - 1
                with np.errstate(divide="ignore", invalid="ignore"):
                    f_stat = ((tss - rss) / d1) / (rss / dof)
                out["f_pvalue"][idx] = f_sf(f_stat, d1, dof)

        for term, level, members in cat_groups:
            cols = [sample_idx[s] for s in members]
            with np.errstate(invalid="ignore"):
                out[f"{term}[T.{level}]_avg_beta"] = np.nanmean(
                    y_mat[:, cols], axis=1
                )
        for term, level, _members in cat_groups[1:]:
            ref_term, ref_level, _ = cat_groups[0]
            if ref_term == term:
                out[f"{term}[T.{level}]_avg_beta_delta"] = (
                    out[f"{ref_term}[T.{ref_level}]_avg_beta"]
                    - out[f"{term}[T.{level}]_avg_beta"]
                )
        res = pd.DataFrame({"probe_id": probe_ids})
        for c in result_cols[1:] + avg_beta_cols:
            res[c] = out[c]
        return res

    work = betas.select("sample", "probe_id", "beta")
    if drop_na:
        non_na = work.filter(F.col("beta").isNotNull())
        full = non_na.groupBy("probe_id").agg(F.count("*").alias("_n")).filter(
            F.col("_n") == len(sample_order)
        )
        work = work.join(full.select("probe_id"), "probe_id", "left_semi")
    else:
        any_val = work.filter(F.col("beta").isNotNull()).select("probe_id").distinct()
        work = work.join(any_val, "probe_id", "left_semi")

    # Bucket probes so each Arrow group carries MANY whole probes: one
    # grouped-map call per bucket, vectorized numpy over the whole block.
    # Bucket count scales with parallelism; each bucket holds
    # ~n_probes/buckets * n_samples rows (bounded, spill-free).
    n_buckets = max(work.sparkSession.sparkContext.defaultParallelism, 8)
    dmps = (
        work.withColumn(
            "_bucket", F.pmod(F.xxhash64("probe_id"), F.lit(n_buckets))
        )
        .groupBy("_bucket")
        .applyInPandas(lambda _key, pdf: _fit(pdf), schema)
    )

    # BH adjust per factor (reference dm.py:474-477)
    for fname in factor_names:
        dmps = bh_adjust(
            dmps, f"{fname}_p_value", out_col=f"{fname}_p_value_adjusted"
        )
    return dmps, contrasts


# ---------------------------------------------------------------------------
# DMR segmentation (W1) + aggregates (A13)
# ---------------------------------------------------------------------------

def compute_dmr(
    betas: DataFrame,
    dmps: DataFrame,
    genomic_ranges: DataFrame,
    contrasts: list[str],
    dist_cutoff: float | None = None,
    seg_per_locus: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Change-point DMR detection (reference dm.py:489-643).

    Returns (segments, dmr): ``segments`` maps probe_id -> segment_id;
    ``dmr`` has per-segment start/end/chromosome, Stouffer-combined +
    BH-adjusted p-values per contrast, and means of estimate columns.
    """
    coords = genomic_ranges.select(
        "probe_id", "chromosome", "start", "end"
    ).withColumn("_chrom_order", chromosome_order_expr(F.col("chromosome")))
    # one placement table over the probes with coordinates and beta rows: a
    # probe with a value and a non-empty range on a chromosome is placed and
    # segmented; every other one gets an NA segment (reference dm.py:605-610)
    has_value = betas.groupBy("probe_id").agg((F.count("beta") > 0).alias("_has_value"))
    in_range = F.col("chromosome").isNotNull() & (F.col("end") > F.col("start"))
    probes = coords.join(has_value, "probe_id").withColumn(
        "_placed", F.coalesce(F.col("_has_value") & in_range, F.lit(False))
    )
    placed = probes.filter(F.col("_placed"))

    # per-sample lead differences in global genome order (crossing chromosome
    # boundaries, like the reference's unpartitioned diff(-1) dm.py:569-575)
    b = betas.join(
        F.broadcast(placed.select("probe_id", "chromosome", "_chrom_order", "start", "end")),
        "probe_id",
    )
    w_sample = Window.partitionBy("sample").orderBy(
        "_chrom_order", "start", "end", "probe_id"
    )
    diffs = b.withColumn("_next_beta", F.lead("beta").over(w_sample)).withColumn(
        "_d2", F.pow(F.col("beta") - F.col("_next_beta"), 2)
    )
    per_probe = diffs.groupBy(
        "probe_id", "chromosome", "_chrom_order", "start", "end"
    ).agg(F.sum("_d2").alias("dist")).persist()

    w_genome = Window.orderBy("_chrom_order", "start", "end", "probe_id")
    flagged = per_probe.withColumn(
        "_next_chrom", F.lead("chromosome").over(w_genome)
    ).withColumn(
        "_next_probe", F.lead("probe_id").over(w_genome)
    ).withColumn(
        "_last_in_chrom",
        F.col("_next_chrom").isNull() | (F.col("_next_chrom") != F.col("chromosome")),
    ).withColumn(
        "dist",
        F.when(F.col("_next_probe").isNull(), F.lit(None)).otherwise(
            F.coalesce(F.col("dist"), F.lit(0.0))
        ),
    ).drop("_next_probe")
    flagged = flagged.persist()

    if dist_cutoff is None or dist_cutoff <= 0:
        if not 0 < seg_per_locus < 1:
            seg_per_locus = 0.5
        row = flagged.filter(F.col("dist").isNotNull()).agg(
            F.expr(f"percentile(dist, {1 - seg_per_locus})").alias("q")
        ).collect()[0]
        dist_cutoff = float(row["q"])

    marked = flagged.withColumn(
        "_change",
        (F.col("_last_in_chrom") | (F.col("dist") > F.lit(dist_cutoff))).cast("int"),
    )
    # segment id = 1 + count of change points strictly before this row.
    # Segments never span chromosomes (last probe of each chromosome is a
    # change point), so: per-chromosome running count + chromosome offset.
    w_in_chrom = (
        Window.partitionBy("chromosome")
        .orderBy("_chrom_order", "start", "end", "probe_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_local = marked.withColumn(
        "_local_changes", F.coalesce(F.sum("_change").over(w_in_chrom), F.lit(0))
    )
    # chromosome prefix offsets: one row per chromosome — accumulate on the
    # driver (O(#chromosomes) scalars) instead of a single-partition window.
    chrom_rows = (
        marked.groupBy("chromosome", "_chrom_order")
        .agg(F.sum("_change").alias("_n_changes"))
        .collect()
    )
    chrom_rows.sort(key=lambda r: (r["_chrom_order"], r["chromosome"]))
    off_rows, acc = [], 0
    for r in chrom_rows:
        off_rows.append((r["chromosome"], acc))
        acc += int(r["_n_changes"] or 0)
    spark = marked.sparkSession
    offsets = F.broadcast(
        spark.createDataFrame(off_rows, ["chromosome", "_offset"])
        if off_rows
        else spark.createDataFrame([], "chromosome string, _offset long")
    )
    segmented = with_local.join(offsets, "chromosome").withColumn(
        "segment_id", (F.lit(1) + F.col("_offset") + F.col("_local_changes")).cast("long")
    )

    # every chromosome's last probe is a change point, so the max segment id
    # is exactly the total change count (1 + offset_last + (n_last - 1)).
    last_segment_id = acc

    # NA segments: the unplaced probes get fresh ids after the last one
    na_probes = probes.filter(~F.col("_placed")).persist()
    na_rank = F.row_number().over(Window.orderBy("probe_id"))
    na_segments = na_probes.withColumn(
        "segment_id", (na_rank + F.lit(last_segment_id)).cast("long")
    )
    segments = segmented.select(
        "probe_id", "chromosome", "start", "end", "segment_id"
    ).unionByName(
        na_segments.select("probe_id", "chromosome", "start", "end", "segment_id")
    )

    # DMR aggregates
    seg_probes = segments.join(dmps, "probe_id", "left")
    agg_exprs = [
        F.min("start").alias("start"),
        F.max("end").alias("end"),
        F.first("chromosome").alias("chromosome"),
    ]
    est_cols = [
        c for c in dmps.columns if c.endswith("estimate") or "avg_beta" in c
    ]
    for c in est_cols:
        agg_exprs.append(F.avg(F.col(f"`{c}`")).alias(c))
    dmr = seg_probes.groupBy("segment_id").agg(*agg_exprs)

    if contrasts:
        # every contrast's p-values in one long table: one Stouffer combine
        # per (segment, contrast) and one BH pass per contrast, pivoted back
        # at the edge to {contrast}_p_value, {contrast}_p_value_adjusted
        long_p = seg_probes.select("segment_id", F.inline(F.array(*[
            F.struct(F.lit(c).alias("_contrast"), F.col(f"`{c}_p_value`").alias("_p"))
            for c in contrasts
        ])))
        combined = stouffer_combine(long_p, ["segment_id", "_contrast"], "_p")
        combined = bh_adjust(combined, "p_combined", by=["_contrast"])
        p_values = combined.groupBy("segment_id").pivot("_contrast", contrasts).agg(
            F.first("p_combined").alias("p_value"),
            F.first("p_adj").alias("p_value_adjusted"),
        )
        dmr = dmr.join(p_values, "segment_id", "left")

    flagged.unpersist()
    return segments, dmr


class DM:
    """User-facing façade mirroring the reference ``DM`` class
    (reference dm.py:93-143): construct with a long betas table + sample
    sheet + model formula (fits the per-probe models immediately), then
    ``compute_dmr()`` for segments/DMRs and ``get_top_dmp/get_top_dmr`` for
    annotated top hits. All members are DataFrames — nothing is collected.
    """

    def __init__(
        self,
        betas: DataFrame,
        sheet: pd.DataFrame,
        formula: str,
        genomic_ranges: DataFrame | None = None,
        sample_col: str = "sample",
        reference_value: dict | None = None,
        group_column: str | None = None,
        drop_na: bool = False,
    ) -> None:
        self.betas = betas
        self.sheet = sheet
        self.genomic_ranges = genomic_ranges
        self.dmp, self.contrasts = compute_dmp(
            betas,
            sheet,
            formula,
            sample_col=sample_col,
            reference_value=reference_value,
            group_column=group_column,
            drop_na=drop_na,
        )
        self.segments: DataFrame | None = None
        self.dmr: DataFrame | None = None

    def _default_contrast(self, contrast: str | None) -> str:
        if contrast is not None:
            return contrast
        if len(self.contrasts) != 1:
            raise ValueError(
                f"specify one of the contrasts {self.contrasts}"
                " (reference dm.py:145-153)"
            )
        return self.contrasts[0]

    def compute_dmr(
        self,
        dist_cutoff: float | None = None,
        seg_per_locus: float = 0.5,
    ) -> DataFrame:
        if self.genomic_ranges is None:
            raise ValueError("genomic_ranges required to compute DMRs")
        self.segments, self.dmr = compute_dmr(
            self.betas,
            self.dmp,
            self.genomic_ranges,
            self.contrasts,
            dist_cutoff=dist_cutoff,
            seg_per_locus=seg_per_locus,
        )
        return self.dmr

    def get_top_dmp(
        self, annotation: DataFrame, contrast: str | None = None, **kwargs
    ) -> DataFrame:
        return get_top_dm(
            self.dmp,
            self._default_contrast(contrast),
            annotation,
            kind="dmp",
            **kwargs,
        )

    def get_top_dmr(
        self, annotation: DataFrame, contrast: str | None = None, **kwargs
    ) -> DataFrame:
        if self.dmr is None or self.segments is None:
            raise ValueError("call compute_dmr() first (reference dm.py:180)")
        return get_top_dm(
            self.dmr,
            self._default_contrast(contrast),
            annotation,
            kind="dmr",
            segments=self.segments,
            **kwargs,
        )

    def select_dmps(self, **kwargs) -> DataFrame:
        return select_dmps(self.dmp, **kwargs)


def get_top_dm(
    dm: DataFrame,
    contrast: str,
    annotation: DataFrame,
    *,
    kind: str = "dmp",
    segments: DataFrame | None = None,
    annotation_col: str = "genes",
    chromosome_col: str = "chromosome",
    sort_by: str = "pvalue",
    ascending: bool = True,
    pval_threshold: float | None = 0.05,
    effect_size_threshold: float | None = None,
    n_dms: int = 20,
    columns_to_keep: list[str] | None = None,
) -> DataFrame:
    """Top-N DMPs/DMRs with merged gene annotation (reference
    dm.py:156-270 ``_get_top`` / ``get_top_dmp`` / ``get_top_dmr``).

    Semantics mirrored: filter by ``{contrast}_p_value_adjusted`` and
    |effect size| thresholds, drop NA sort keys, take the top ``n_dms``
    (by |effect| when sorting on the effect column, else by ``sort_by``
    asc/desc), attach the annotation column per probe (via ``segments``
    for DMRs), and merge distinct annotation values per row into a
    deterministic sorted ``;``-join.

    Scale shape: the top-N is ``orderBy().limit()`` (TakeOrderedAndProject —
    a per-partition top-N plus a driver merge, never a global sort), after
    which every join touches at most ``n_dms`` keys; the probe-level
    annotation join is a broadcast of the 2-column gene dimension.
    """
    from pylluminator_spark.functions.genomic import merge_alt_chromosomes_expr

    if kind not in ("dmp", "dmr"):
        raise ValueError("kind must be 'dmp' or 'dmr'")
    is_dmr = kind == "dmr"
    key_col = "segment_id" if is_dmr else "probe_id"
    es_col = f"{contrast}_avg_beta_delta" if is_dmr else "effect_size"
    pval_col = f"{contrast}_p_value_adjusted"
    if sort_by in ("pvalue", "p_value", "pval"):
        sort_column = pval_col
    elif sort_by == "effect_size":
        sort_column = es_col
    elif sort_by in dm.columns:
        sort_column = sort_by
    else:
        raise ValueError(f"unknown sort_by {sort_by!r}")
    for c in (key_col, pval_col, es_col, sort_column):
        if c not in dm.columns:
            raise ValueError(f"column {c!r} not found in {dm.columns}")

    keep = [key_col] + (columns_to_keep or [])
    if is_dmr:
        keep.append(chromosome_col)
    keep += [pval_col, es_col, sort_column]
    keep = list(dict.fromkeys(keep))
    top = dm.select(*[F.col(f"`{c}`") for c in keep])
    if is_dmr:
        top = top.withColumn(
            chromosome_col, merge_alt_chromosomes_expr(F.col(chromosome_col))
        )
    if pval_threshold is not None:
        top = top.filter(F.col(f"`{pval_col}`") < pval_threshold)
    if effect_size_threshold is not None:
        top = top.filter(F.abs(F.col(f"`{es_col}`")) > effect_size_threshold)
    # (na.drop(subset=...) would parse the patsy-style 'f[T.level]' names as
    # multipart identifiers — filter on the backquoted column instead)
    top = top.filter(F.col(f"`{sort_column}`").isNotNull())

    if sort_column == es_col:
        order = [F.abs(F.col(f"`{sort_column}`")).desc()]
    else:
        order = [
            F.col(f"`{sort_column}`").asc()
            if ascending
            else F.col(f"`{sort_column}`").desc()
        ]
    top = top.orderBy(*order, F.col(key_col).asc()).limit(n_dms)

    if is_dmr:
        if segments is None:
            raise ValueError("segments required for kind='dmr'")
        top = top.join(
            segments.select("probe_id", "segment_id"), "segment_id", "left"
        )

    ann_dt = dict(annotation.dtypes).get(annotation_col)
    ann_val = (
        F.col(f"`{annotation_col}`")
        if ann_dt and ann_dt.startswith("array")
        else F.split(F.col(f"`{annotation_col}`"), ";")
    )
    # the top frame holds at most n_dms keys (times probes-per-segment
    # for DMRs) — broadcast ITS keys into the annotation probe and
    # pre-merge per probe, rather than deduping and broadcasting the
    # annotation side, which is only dimension-sized in the reference
    # but fact-sized for callers annotating from a raw feature table
    # (the old shape shuffled + broadcast the whole annotation for a
    # 25-row top list). The outer flatten/distinct/sort merge below is
    # unchanged, so the emitted annotation strings are identical.
    ann_rows = (
        annotation.select("probe_id", ann_val.alias("_ann_arr"))
        .na.drop()
        .join(
            F.broadcast(top.select("probe_id").distinct()),
            "probe_id",
            "left_semi",
        )
        .dropDuplicates()
    )
    gene_info = F.broadcast(
        ann_rows.groupBy("probe_id").agg(
            F.flatten(F.collect_list("_ann_arr")).alias("_ann_arr")
        )
    )
    top = top.join(gene_info, "probe_id", "left")
    if is_dmr:
        top = top.drop("probe_id")
    group_cols = [c for c in top.columns if c != "_ann_arr"]
    merged = top.groupBy(*[F.col(f"`{c}`") for c in group_cols]).agg(
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list("_ann_arr")
                    )
                )
            ),
            ";",
        ).alias(annotation_col)
    )
    return merged.orderBy(*order, F.col(key_col).asc())


def select_dmps(
    dmps: DataFrame,
    effect_size_th: float | None = None,
    p_value_th: float | None = None,
    p_value_col: str = "f_pvalue",
) -> DataFrame:
    """P15 — threshold filter over DMP stats (reference dm.py:645-719)."""
    out = dmps
    if effect_size_th is not None:
        out = out.filter(F.abs(F.col("effect_size")) >= effect_size_th)
    if p_value_th is not None:
        out = out.filter(F.col(f"`{p_value_col}`") < p_value_th)
    return out
