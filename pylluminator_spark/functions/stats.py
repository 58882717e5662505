"""Statistical kernels as column expressions and window/group compositions.

Reference citations (/root/reference):
- BH / FDR adjustment: dm.py:475-477 (statsmodels ``multipletests('fdr_bh')``)
- Stouffer p-value combine: dm.py:27-37 (scipy ``combine_pvalues``)
- Normal pdf/sf used by NOOB norm-exp convolution: stats.py:95-142

Everything here is pure ``pyspark.sql.functions`` math — no Python UDFs — so
it runs inside whole-stage codegen. The normal distribution functions use
closed-form approximations:

- ``erfc``: Numerical-Recipes-style exp-polynomial, |rel err| < 1.2e-7.
- inverse normal CDF (``ndtri``): Acklam's rational approximation,
  |rel err| < 1.15e-9 — no scipy dependency.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SQRT2 = 1.4142135623730951
_LOG_SQRT_2PI = 0.9189385332046727  # log(sqrt(2*pi))


def erfc_expr(x: Column) -> Column:
    """Complementary error function (Numerical Recipes 6.2 ``erfcc``).

    Fractional error < 1.2e-7 everywhere; exact symmetry handled.
    """
    z = F.abs(x)
    return erfc_from_tail(x, erfc_tail_expr(z, erfc_t_expr(z)))


def erfc_t_expr(z: Column) -> Column:
    """``t = 1 / (1 + z / 2)`` of ``erfc_expr`` at ``z = |x|``."""
    return F.lit(1.0) / (F.lit(1.0) + F.lit(0.5) * z)


def erfc_tail_expr(z: Column, t: Column) -> Column:
    """``erfc(z)`` for ``z = |x| >= 0``, from ``t = erfc_t_expr(z)``.

    The Horner polynomial reads ``t`` nine times; a caller that projects
    ``z`` and ``t`` as columns of their own generates them once per row
    instead of inlining them at every use.
    """
    # Horner-form polynomial in t
    poly = (
        F.lit(-1.26551223)
        + t
        * (
            F.lit(1.00002368)
            + t
            * (
                F.lit(0.37409196)
                + t
                * (
                    F.lit(0.09678418)
                    + t
                    * (
                        F.lit(-0.18628806)
                        + t
                        * (
                            F.lit(0.27886807)
                            + t
                            * (
                                F.lit(-1.13520398)
                                + t
                                * (
                                    F.lit(1.48851587)
                                    + t * (F.lit(-0.82215223) + t * F.lit(0.17087277))
                                )
                            )
                        )
                    )
                )
            )
        )
    )
    return t * F.exp(-z * z + poly)


def erfc_from_tail(x: Column, tail: Column) -> Column:
    """``erfc(x)`` from ``tail = erfc(|x|)``, by ``erfc(-x) = 2 - erfc(x)``."""
    return F.when(x >= 0, tail).otherwise(F.lit(2.0) - tail)


def norm_pdf_expr(x: Column, mu: Column | float = 0.0, sigma: Column | float = 1.0) -> Column:
    z = (x - mu) / sigma
    return F.exp(F.lit(-0.5) * z * z - F.lit(_LOG_SQRT_2PI)) / sigma


def norm_logpdf_expr(x: Column, mu: Column | float = 0.0, sigma: Column | float = 1.0) -> Column:
    return norm_logpdf_z_expr((x - mu) / sigma, sigma)


def norm_logpdf_z_expr(z: Column, sigma: Column | float = 1.0) -> Column:
    """``norm_logpdf_expr`` from the standard score ``z = (x - mu) / sigma``."""
    return F.lit(-0.5) * z * z - F.lit(_LOG_SQRT_2PI) - F.log(F.lit(1.0) * sigma)


def norm_sf_expr(x: Column, mu: Column | float = 0.0, sigma: Column | float = 1.0) -> Column:
    """Survival function P(X > x) = 0.5*erfc(z/sqrt(2))."""
    z = (x - mu) / sigma
    return F.lit(0.5) * erfc_expr(z / F.lit(SQRT2))


def norm_cdf_expr(x: Column, mu: Column | float = 0.0, sigma: Column | float = 1.0) -> Column:
    z = (x - mu) / sigma
    return F.lit(0.5) * erfc_expr(-z / F.lit(SQRT2))


def norm_logsf_expr(x: Column, mu: Column | float = 0.0, sigma: Column | float = 1.0) -> Column:
    return F.log(norm_sf_expr(x, mu, sigma))


def ndtri_expr(p: Column) -> Column:
    """Inverse standard-normal CDF (Acklam's algorithm), |rel err| < 1.15e-9.

    Pure arithmetic — replicable verbatim in ANSI SQL for oracle parity.
    """
    # Coefficients (Acklam 2003)
    a = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
    b = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00]
    p_low = 0.02425
    p_high = 1 - p_low

    def _poly(coeffs: list[float], x: Column) -> Column:
        acc: Column = F.lit(coeffs[0])
        for cf in coeffs[1:]:
            acc = acc * x + F.lit(cf)
        return acc

    # Lower tail
    q_low = F.sqrt(F.lit(-2.0) * F.log(p))
    x_low = _poly(c, q_low) / (_poly(d, q_low) * q_low + F.lit(1.0))
    # Upper tail
    q_high = F.sqrt(F.lit(-2.0) * F.log(F.lit(1.0) - p))
    x_high = -_poly(c, q_high) / (_poly(d, q_high) * q_high + F.lit(1.0))
    # Central
    q_c = p - F.lit(0.5)
    r = q_c * q_c
    x_c = _poly(a, r) * q_c / (_poly(b, r) * r + F.lit(1.0))

    return (
        F.when(p <= 0, F.lit(float("-inf")))
        .when(p >= 1, F.lit(float("inf")))
        .when(p < p_low, x_low)
        .when(p > p_high, x_high)
        .otherwise(x_c)
    )


def norm_isf_expr(p: Column) -> Column:
    """Inverse survival function: isf(p) = -ndtri(p)."""
    return -ndtri_expr(p)


def bh_adjust(
    df: DataFrame,
    p_col: str,
    out_col: str = "p_adj",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment (reference dm.py:475-477).

    ``p_adj_i = min_{j >= i}(p_(j) * n / j)`` clipped to 1, computed with two
    window passes: ascending rank, then a reverse running minimum.

    Scale note: with ``partition_cols=None`` this is a global sort — fine for
    the reference's ~1M probes, and BH fundamentally requires a global order.
    For very large inputs partition by a coarse analysis key (e.g. contrast)
    so each window fits one task; a range-partitioned two-pass variant can
    replace this when a single p-value vector exceeds one executor.
    """
    parts = partition_cols or []
    w_rank = Window.partitionBy(*parts).orderBy(F.col(p_col).asc())
    w_rev = (
        Window.partitionBy(*parts)
        .orderBy(F.col(p_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_n = Window.partitionBy(*parts) if parts else Window.partitionBy()
    return (
        df.withColumn("_bh_n", F.count(F.when(F.col(p_col).isNotNull(), 1)).over(w_n))
        .withColumn("_bh_rank", F.row_number().over(w_rank))
        .withColumn("_bh_raw", F.col(p_col) * F.col("_bh_n") / F.col("_bh_rank"))
        .withColumn(out_col, F.least(F.lit(1.0), F.min("_bh_raw").over(w_rev)))
        .drop("_bh_n", "_bh_rank", "_bh_raw")
    )


def stouffer_combine(
    df: DataFrame,
    group_cols: list[str],
    p_col: str,
    out_col: str = "p_combined",
) -> DataFrame:
    """Stouffer p-value combination per group (reference dm.py:27-37).

    ``z_i = isf(p_i)``; ``Z = sum(z_i)/sqrt(k)``; ``p = sf(Z)``. A group of
    one keeps its p-value unchanged (dm.py:33-34). Pure column math — the
    reference comments this step "might take a few minutes" (dm.py:622)
    single-threaded; here it is one shuffle-partial aggregation.
    """
    z = norm_isf_expr(F.col(p_col))
    agg = df.groupBy(*group_cols).agg(
        F.sum(z).alias("_z_sum"),
        F.count(F.when(F.col(p_col).isNotNull(), 1)).alias("_k"),
        F.first(F.col(p_col), ignorenulls=True).alias("_p_first"),
    )
    combined = norm_sf_expr(F.col("_z_sum") / F.sqrt(F.col("_k")))
    return agg.withColumn(
        out_col,
        F.when(F.col("_k") <= 1, F.col("_p_first")).otherwise(combined),
    ).drop("_z_sum", "_p_first")
