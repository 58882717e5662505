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

from collections.abc import Sequence

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


def norm_logpdf_expr(x: Column, mu: Column | float = 0.0, sigma: Column | float = 1.0) -> Column:
    return norm_logpdf_z_expr((x - mu) / sigma, sigma)


def norm_logpdf_z_expr(z: Column, sigma: Column | float = 1.0) -> Column:
    """``norm_logpdf_expr`` from the standard score ``z = (x - mu) / sigma``."""
    return F.lit(-0.5) * z * z - F.lit(_LOG_SQRT_2PI) - F.log(F.lit(1.0) * sigma)


def norm_sf_expr(x: Column, mu: Column | float = 0.0, sigma: Column | float = 1.0) -> Column:
    """Survival function P(X > x) = 0.5*erfc(z/sqrt(2))."""
    z = (x - mu) / sigma
    return F.lit(0.5) * erfc_expr(z / F.lit(SQRT2))


def norm_logsf_expr(x: Column, mu: Column | float = 0.0, sigma: Column | float = 1.0) -> Column:
    return F.log(norm_sf_expr(x, mu, sigma))


# Acklam (2003) coefficients of the inverse normal CDF
_ACKLAM_A = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
             1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
_ACKLAM_B = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
             6.680131188771972e01, -1.328068155288572e01]
_ACKLAM_C = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
             -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00]
_ACKLAM_D = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
             3.754408661907416e00]
_P_LOW = 0.02425


def _ndtri_parts(p: Column) -> dict[str, Column]:
    """The intermediates of ``ndtri(p)`` that its polynomials share, by the
    names ``_ndtri_from`` takes: ``q_low = sqrt(-2 log p)``,
    ``q_high = sqrt(-2 log(1 - p))`` and ``q_c = p - 0.5`` (``r = q_c^2``
    is built from ``q_c``)."""
    return {
        "q_low": F.sqrt(F.lit(-2.0) * F.log(p)),
        "q_high": F.sqrt(F.lit(-2.0) * F.log(F.lit(1.0) - p)),
        "q_c": p - F.lit(0.5),
    }


def _ndtri_from(
    p: Column, q_low: Column, q_high: Column, q_c: Column, r: Column
) -> Column:
    """``ndtri(p)`` from the intermediates of ``_ndtri_parts`` and
    ``r = q_c * q_c``: each polynomial reads its argument five or six
    times, so a caller that projects them as columns of their own
    generates each once per row instead of inlining it at every use."""

    def _poly(coeffs: list[float], x: Column) -> Column:
        acc: Column = F.lit(coeffs[0])
        for cf in coeffs[1:]:
            acc = acc * x + F.lit(cf)
        return acc

    x_low = _poly(_ACKLAM_C, q_low) / (_poly(_ACKLAM_D, q_low) * q_low + F.lit(1.0))
    x_high = -_poly(_ACKLAM_C, q_high) / (
        _poly(_ACKLAM_D, q_high) * q_high + F.lit(1.0)
    )
    x_c = _poly(_ACKLAM_A, r) * q_c / (_poly(_ACKLAM_B, r) * r + F.lit(1.0))
    return (
        F.when(p <= 0, F.lit(float("-inf")))
        .when(p >= 1, F.lit(float("inf")))
        .when(p < _P_LOW, x_low)
        .when(p > 1 - _P_LOW, x_high)
        .otherwise(x_c)
    )


def ndtri_expr(p: Column) -> Column:
    """Inverse standard-normal CDF (Acklam's algorithm), |rel err| < 1.15e-9.

    Pure arithmetic — replicable verbatim in ANSI SQL for oracle parity.
    """
    parts = _ndtri_parts(p)
    return _ndtri_from(p, **parts, r=parts["q_c"] * parts["q_c"])


def norm_isf_expr(p: Column) -> Column:
    """Inverse survival function: isf(p) = -ndtri(p)."""
    return -ndtri_expr(p)


def bh_adjust(
    df: DataFrame, p_col: str, out_col: str = "p_adj", by: Sequence[str] = ()
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment (reference dm.py:475-477), with the
    semantics of R ``p.adjust(p, "BH")``, within each group of the ``by``
    columns (the whole frame when ``by`` is empty).

    ``p_adj_(i) = min(1, min_{j >= i} p_(j) * n / j)`` over the ascending
    rank ``i`` of the non-null p-values, where ``n`` counts only the
    non-null p-values. A NULL p ranks after every value, is left out of
    ``n`` and gets a NULL result. The reverse running minimum runs over
    the unique rank, so tied p-values get the same adjusted value
    whichever rank each one draws. ``p_col`` is a column name, not an
    expression, so a patsy-style name such as ``f[T.level]_p_value``
    needs no quoting.

    Scale note: each group is one window partition, fine for the
    reference's ~1M probes; ``operators.ordered.bh_adjust_global`` is the
    range-partitioned path for larger vectors.
    """
    p = F.col(f"`{p_col}`")
    group = Window.partitionBy(*by)
    w_rank = group.orderBy(p.asc_nulls_last())
    w_rev = group.orderBy(F.col("_bh_rank").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        df.withColumn("_bh_n", F.count(p).over(group))
        .withColumn("_bh_rank", F.row_number().over(w_rank))
        .withColumn("_bh_raw", p * F.col("_bh_n") / F.col("_bh_rank"))
        .withColumn(
            out_col,
            F.when(p.isNotNull(), F.least(F.lit(1.0), F.min("_bh_raw").over(w_rev))),
        )
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

    Each shared subexpression is a projection of its own, below the
    aggregate the intermediates of ``isf(p)`` and ``z`` itself, above it
    ``v = Z / sqrt(2)``, ``|v|``, ``t`` and the erfc tail (the pattern of
    ``preprocessing._norm_exp_convolution``). Inlined, the sum's argument
    alone generates one method over HotSpot's 8,000-byte limit for JIT
    compilation.
    """
    p = F.col(p_col)
    staged = df.withColumns({f"_{k}": v for k, v in _ndtri_parts(p).items()})
    staged = staged.withColumn("_r", F.col("_q_c") * F.col("_q_c"))
    z = -_ndtri_from(p, *(F.col(c) for c in ("_q_low", "_q_high", "_q_c", "_r")))
    agg = staged.withColumn("_z", z).groupBy(*group_cols).agg(
        F.sum("_z").alias("_z_sum"),
        F.count(F.when(p.isNotNull(), 1)).alias("_k"),
        F.first(p, ignorenulls=True).alias("_p_first"),
    )
    # sf(Z) = 0.5 * erfc(v), v = Z / sqrt(2), Z = z_sum / sqrt(k)
    v = F.col("_v")
    agg = agg.withColumn("_v", F.col("_z_sum") / F.sqrt(F.col("_k")) / F.lit(SQRT2))
    agg = agg.withColumn("_abs", F.abs(v)).withColumn("_t", erfc_t_expr(F.col("_abs")))
    agg = agg.withColumn("_tail", erfc_tail_expr(F.col("_abs"), F.col("_t")))
    combined = F.lit(0.5) * erfc_from_tail(v, F.col("_tail"))
    return agg.withColumn(
        out_col,
        F.when(F.col("_k") <= 1, F.col("_p_first")).otherwise(combined),
    ).drop("_z_sum", "_k", "_p_first", "_v", "_abs", "_t", "_tail")
