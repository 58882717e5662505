"""Dimensionality reduction & metadata association (reference ml.py:14-86,
visualizations.py:2198, SURVEY K16/A20).

The reference selects top-variance probes, transposes to a samples x probes
matrix, and runs sklearn models (PCA et al.). Spark-first re-design:

- Variance ranking is a distributed groupBy over the long betas table
  (probes can be billions of rows at 100 TB; never collected).
- PCA exploits the shape asymmetry: n_samples is small (dozens-thousands)
  while n_probes is huge. The samples x samples Gram matrix
  G = Xc Xc^T (Xc = row-centered data) is computed DISTRIBUTIVELY as a
  per-probe pairwise-product aggregation — O(n_samples^2) output, driver
  eigendecomposition is trivial. Identical math to sklearn PCA scores
  (X in samples-by-probes orientation), no giant matrix ever materializes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def probe_variance(betas: DataFrame, value_col: str = "beta") -> DataFrame:
    """Per-probe across-sample variance (population, ddof=0 like np.var) and
    support count, null-skipping."""
    return betas.groupBy("probe_id").agg(
        F.var_pop(value_col).alias("variance"),
        F.count(value_col).alias("n_samples"),
    )


def top_variance_probes(
    betas: DataFrame, k: int = 1000, value_col: str = "beta"
) -> DataFrame:
    """Top-k probes by variance (reference ml.py:62-66). Deterministic
    tie-break on probe_id. TakeOrdered (no full sort) at any scale."""
    return (
        probe_variance(betas, value_col)
        .orderBy(F.desc("variance"), "probe_id")
        .limit(k)
    )


def _top_probes(
    betas: DataFrame, n_probes: int | None, value_col: str
) -> DataFrame:
    """The non-null cells of the ``n_probes`` top-variance probes (all
    probes when ``n_probes`` is None): the input of every Gram model."""
    data = betas.na.drop(subset=[value_col])
    if n_probes is None:
        return data
    top = top_variance_probes(data, n_probes, value_col).select("probe_id")
    return data.join(F.broadcast(top), "probe_id")


def _gram_matrix(
    betas: DataFrame, value_col: str, center: bool = True
) -> tuple[np.ndarray, list[str]]:
    """Samples x samples Gram matrix, computed as a distributed sum of
    per-probe outer products (probe-centered by default, matching feature
    centering in the samples x probes view).

    For each probe, center values across samples, emit all (s1, s2) value
    products, and sum per pair: G[i,j] = sum_p xc[p,i]*xc[p,j]. The shuffle
    key is (sample_i, sample_j) — n^2 groups, each a scalar.
    """
    if center:
        centered = betas.withColumn(
            "_c",
            F.col(value_col)
            - F.avg(value_col).over(Window.partitionBy("probe_id")),
        ).select("probe_id", "sample", "_c")
    else:
        centered = betas.select(
            "probe_id", "sample", F.col(value_col).alias("_c")
        )
    a = centered.select(
        "probe_id", F.col("sample").alias("s1"), F.col("_c").alias("x1")
    )
    b = centered.select(
        "probe_id", F.col("sample").alias("s2"), F.col("_c").alias("x2")
    )
    pairs = (
        a.join(b, "probe_id")
        .groupBy("s1", "s2")
        .agg(F.sum(F.col("x1") * F.col("x2")).alias("g"))
        .collect()
    )
    samples = sorted({r["s1"] for r in pairs})
    idx = {s: i for i, s in enumerate(samples)}
    G = np.zeros((len(samples), len(samples)))
    for r in pairs:
        G[idx[r["s1"]], idx[r["s2"]]] = r["g"]
    return G, samples


def pca(
    betas: DataFrame,
    n_components: int = 2,
    *,
    n_probes: int | None = 1000,
    value_col: str = "beta",
) -> tuple[DataFrame, np.ndarray]:
    """PCA of samples in probe-space (reference ml.py:37-76).

    Returns (scores DataFrame(sample, pc1..pcK), explained_variance_ratio).

    The data matrix is conceptually samples x probes; features (probes) are
    mean-centered, matching sklearn's PCA. With the Gram trick, scores are
    U * sqrt(eigvals) from the eigendecomposition of G = Xc Xc^T.
    """
    # probe-centering == feature centering in the samples x probes view
    g, samples = _gram_matrix(_top_probes(betas, n_probes, value_col), value_col)
    scores, ratio = _eig_result(betas.sparkSession, samples, g, n_components)
    pcs = [f"pc{j}" for j in range(1, len(scores.columns))]
    return scores.toDF("sample", *pcs), ratio


# ---------------------------------------------------------------------------
# Dimensionality-reduction family (reference ml.py:14-86: 14 sklearn models
# dispatched by short name over the samples x top-variance-probes matrix).
#
# Spark-first split: variance ranking + matrix/Gram assembly are distributed
# (the probes axis can be billions of rows at 100 TB and is never collected
# unbounded); the eigen/iterative step runs on the driver over either the
# n_samples x n_samples Gram (PCA/IPCA/TSVD/KPCA/MDS — n_samples is dozens
# to thousands) or the bounded n_samples x nb_probes block (FICA/FA/NMF/...,
# bounded by nb_probes, the reference's own working set).
# ---------------------------------------------------------------------------


def _complete_probes(
    data: DataFrame, n_probes: int | None, value_col: str
) -> DataFrame:
    """``(probe_id, _n, _var)`` of the probes with a value in every sample
    of ``data``, limited to the ``n_probes`` top-variance ones (variance
    desc, probe_id) unless ``n_probes`` is None."""
    n_samples = data.select("sample").distinct().count()
    complete = data.groupBy("probe_id").agg(
        F.count(value_col).alias("_n"), F.var_pop(value_col).alias("_var")
    ).filter(F.col("_n") == n_samples)
    if n_probes is None:
        return complete
    return complete.orderBy(F.desc("_var"), "probe_id").limit(n_probes)


def _collect_matrix(
    betas: DataFrame,
    n_probes: int | None,
    value_col: str = "beta",
    max_collect_probes: int = 100_000,
) -> tuple[np.ndarray, list[str], list[str]]:
    """Collect the samples x probes matrix for driver-side iterative models.

    Probes with any null across samples are dropped (reference drop_na=True
    at ml.py:54). Column order is (variance desc, probe_id) — deterministic.
    Guarded by ``max_collect_probes``: this path is for the bounded
    top-variance working set, never a full 100 TB table.
    """
    data = betas.na.drop(subset=[value_col])
    top = _complete_probes(data, n_probes, value_col)
    if n_probes is None and top.count() > max_collect_probes:
        raise ValueError(
            "n_probes=None would collect an unbounded matrix; pass an "
            f"explicit n_probes <= {max_collect_probes} for driver-side "
            "models"
        )
    sel = data.join(F.broadcast(top.select("probe_id", "_var")), "probe_id")
    pdf = (
        sel.groupBy("probe_id", "_var")
        .pivot("sample")
        .agg(F.first(value_col))
        .toPandas()
        .sort_values(["_var", "probe_id"], ascending=[False, True])
    )
    probe_ids = pdf["probe_id"].tolist()
    samples = sorted(c for c in pdf.columns if c not in ("probe_id", "_var"))
    x = pdf[samples].to_numpy(dtype="float64").T  # n_samples x n_probes
    return x, samples, probe_ids


def _scores_df(spark, samples: list[str], scores: np.ndarray) -> DataFrame:
    k = scores.shape[1]
    rows = [
        (s, *[float(scores[i, j]) for j in range(k)])
        for i, s in enumerate(samples)
    ]
    return spark.createDataFrame(rows, ["sample"] + [f"c{j + 1}" for j in range(k)])


def _fix_signs(scores: np.ndarray) -> np.ndarray:
    """Deterministic sign convention: largest-|.| coordinate positive."""
    scores = scores.copy()
    for j in range(scores.shape[1]):
        pivot = np.argmax(np.abs(scores[:, j]))
        if scores[pivot, j] < 0:
            scores[:, j] = -scores[:, j]
    return scores


def _eig_scores(g: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    eigvals, eigvecs = np.linalg.eigh(g)
    order = np.argsort(eigvals)[::-1]
    eigvals = np.clip(eigvals[order], 0.0, None)
    eigvecs = eigvecs[:, order]
    k = min(k, g.shape[0])
    return _fix_signs(eigvecs[:, :k] * np.sqrt(eigvals[:k])), eigvals


def _eig_result(
    spark, samples: list[str], mat: np.ndarray, n_components: int
) -> tuple[DataFrame, np.ndarray]:
    """Scores DataFrame(sample, c1..cK) and explained-variance ratio of the
    top ``n_components`` eigenpairs of the samples x samples ``mat``."""
    scores, eigvals = _eig_scores(mat, n_components)
    k = scores.shape[1]
    total = eigvals.sum()
    ratio = eigvals[:k] / total if total > 0 else np.zeros(k)
    return _scores_df(spark, samples, scores), ratio


def classical_mds(
    betas: DataFrame,
    n_components: int = 2,
    *,
    n_probes: int | None = 1000,
    value_col: str = "beta",
) -> tuple[DataFrame, np.ndarray]:
    """Classical (Torgerson) MDS on euclidean sample-sample distances.

    The reference uses sklearn.manifold.MDS (stochastic SMACOF); classical
    MDS is its deterministic closed-form counterpart and is exact for
    euclidean input. Distances come from the distributed Gram matrix
    (d2_ij = g_ii + g_jj - 2 g_ij) — probes never collected; the
    double-centering B = -J D2 J / 2 and eigendecomposition are O(n^2)
    driver work.
    """
    g, samples = _gram_matrix(_top_probes(betas, n_probes, value_col), value_col)
    diag = np.diag(g)
    d2 = diag[:, None] + diag[None, :] - 2.0 * g
    n = len(samples)
    j_mat = np.eye(n) - np.ones((n, n)) / n
    b = -0.5 * j_mat @ d2 @ j_mat
    return _eig_result(betas.sparkSession, samples, b, n_components)


def kernel_pca(
    betas: DataFrame,
    n_components: int = 2,
    *,
    kernel: str = "linear",
    gamma: float | None = None,
    n_probes: int | None = 1000,
    value_col: str = "beta",
) -> tuple[DataFrame, np.ndarray]:
    """Kernel PCA over samples. Both kernels reduce to the distributed Gram:
    linear K = X X', rbf K_ij = exp(-gamma * d2_ij) with d2 from the Gram —
    the n x n kernel is then feature-centered and eigendecomposed driver-side
    (sklearn KernelPCA semantics, deterministic)."""
    data = _top_probes(betas, n_probes, value_col)
    g, samples = _gram_matrix(data, value_col, center=False)
    n = len(samples)
    if kernel == "linear":
        k_mat = g
    elif kernel == "rbf":
        diag = np.diag(g)
        d2 = np.clip(diag[:, None] + diag[None, :] - 2.0 * g, 0.0, None)
        if gamma is None:
            n_feat = data.select("probe_id").distinct().count()
            gamma = 1.0 / max(n_feat, 1)
        k_mat = np.exp(-gamma * d2)
    else:
        raise ValueError(f"unsupported kernel {kernel!r} (linear|rbf)")
    one = np.ones((n, n)) / n
    kc = k_mat - one @ k_mat - k_mat @ one + one @ k_mat @ one
    return _eig_result(betas.sparkSession, samples, kc, n_components)


def _whiten(x: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    xc = x - x.mean(axis=0, keepdims=True)
    u, s, _vt = np.linalg.svd(xc, full_matrices=False)
    k = min(k, (s > 1e-12 * s[0]).sum() if s.size else 0)
    white = u[:, :k] * np.sqrt(x.shape[0])  # unit-variance components
    return white, s[:k]


def fast_ica_scores(
    x: np.ndarray,
    n_components: int,
    max_iter: int = 500,
    tol: float = 1e-7,
) -> np.ndarray:
    """FastICA (logcosh contrast, symmetric decorrelation, deterministic
    identity init) on a small samples x features matrix — numpy port of the
    published fixed-point algorithm (Hyvarinen 1999), matching sklearn
    FastICA(fun='logcosh', whiten='unit-variance') semantics."""
    n = x.shape[0]
    white, _ = _whiten(x, n_components)
    k = white.shape[1]
    z = white.T  # k x n, unit variance rows
    w = np.eye(k)

    def sym_decorr(m):
        vals, vecs = np.linalg.eigh(m @ m.T)
        vals = np.clip(vals, 1e-12, None)
        return (vecs / np.sqrt(vals)) @ vecs.T @ m

    w = sym_decorr(w)
    for _ in range(max_iter):
        wz = w @ z  # k x n
        g = np.tanh(wz)
        g_prime = 1.0 - g * g
        w_new = (g @ z.T) / n - np.diag(g_prime.mean(axis=1)) @ w
        w_new = sym_decorr(w_new)
        lim = np.abs(np.abs(np.diag(w_new @ w.T)) - 1.0).max()
        w = w_new
        if lim < tol:
            break
    return _fix_signs((w @ z).T)  # n x k


def factor_analysis_scores(
    x: np.ndarray,
    n_components: int,
    max_iter: int = 1000,
    tol: float = 1e-6,
) -> np.ndarray:
    """Maximum-likelihood factor analysis via SVD-based EM on the centered
    samples x features matrix (the published sklearn/Barber algorithm:
    per-feature noise psi, loadings from the psi-scaled SVD), returning
    posterior factor scores."""
    xc = x - x.mean(axis=0, keepdims=True)
    n, p = xc.shape
    k = min(n_components, min(n, p))
    var = xc.var(axis=0) + 1e-12
    psi = np.ones(p)
    llconst = p * np.log(2.0 * np.pi) + k
    old_ll = -np.inf
    w = None
    for _ in range(max_iter):
        sqrt_psi = np.sqrt(psi) + 1e-12
        u, s, vt = np.linalg.svd(xc / (sqrt_psi * np.sqrt(n)), full_matrices=False)
        s2 = s[:k] ** 2
        w = np.sqrt(np.maximum(s2 - 1.0, 0.0))[:, None] * vt[:k] * sqrt_psi
        unexp = (s[k:] ** 2).sum() if s.size > k else 0.0
        ll = -0.5 * n * (
            llconst + np.log(s2[s2 > 1].prod() if (s2 > 1).any() else 1.0)
            + (s2[s2 <= 1].sum() if (s2 <= 1).any() else 0.0)
            - (s2 > 1).sum()
            + unexp + np.log(psi).sum()
        )
        psi = np.maximum(var - (w * w).sum(axis=0), 1e-12)
        if abs(ll - old_ll) < tol * max(abs(old_ll), 1.0):
            break
        old_ll = ll
    # posterior scores: E[z|x] = W (W'W + Psi)^-1-ish via Woodbury (sklearn
    # transform): z = Xc Psi^-1 W' (I + W Psi^-1 W')^-1
    wp = w / psi  # k x p
    cov_z = np.linalg.inv(np.eye(k) + wp @ w.T)
    return _fix_signs(xc @ wp.T @ cov_z)


def nmf_scores(
    x: np.ndarray,
    n_components: int,
    max_iter: int = 400,
    tol: float = 1e-6,
    seed: int = 0,
) -> np.ndarray:
    """NMF (Frobenius, multiplicative updates, NNDSVD-a init) on the
    non-negative samples x features matrix; returns W (n x k). Deterministic:
    init is SVD-based, updates are the published Lee-Seung rule."""
    x = np.clip(np.asarray(x, dtype="float64"), 0.0, None)
    n, p = x.shape
    k = min(n_components, min(n, p))
    # NNSVD-a init
    u, s, vt = np.linalg.svd(x, full_matrices=False)
    w = np.zeros((n, k))
    h = np.zeros((k, p))
    w[:, 0] = np.sqrt(s[0]) * np.abs(u[:, 0])
    h[0] = np.sqrt(s[0]) * np.abs(vt[0])
    for j in range(1, k):
        uj, vj = u[:, j], vt[j]
        up, un = np.clip(uj, 0, None), np.clip(-uj, 0, None)
        vp, vn = np.clip(vj, 0, None), np.clip(-vj, 0, None)
        n_up, n_vp = np.linalg.norm(up), np.linalg.norm(vp)
        n_un, n_vn = np.linalg.norm(un), np.linalg.norm(vn)
        if n_up * n_vp >= n_un * n_vn:
            w[:, j] = np.sqrt(s[j] * n_up * n_vp) * up / (n_up + 1e-12)
            h[j] = np.sqrt(s[j] * n_up * n_vp) * vp / (n_vp + 1e-12)
        else:
            w[:, j] = np.sqrt(s[j] * n_un * n_vn) * un / (n_un + 1e-12)
            h[j] = np.sqrt(s[j] * n_un * n_vn) * vn / (n_vn + 1e-12)
    mean = x[x > 0].mean() if (x > 0).any() else 1e-6
    w[w == 0] = mean / 100.0
    h[h == 0] = mean / 100.0
    prev_err = np.inf
    for _ in range(max_iter):
        h *= (w.T @ x) / np.maximum(w.T @ w @ h, 1e-12)
        w *= (x @ h.T) / np.maximum(w @ h @ h.T, 1e-12)
        err = float(np.linalg.norm(x - w @ h))
        if prev_err - err < tol * max(prev_err, 1.0):
            break
        prev_err = err
    return w


def dictionary_learning_scores(
    x: np.ndarray,
    n_components: int,
    alpha: float = 1.0,
    max_iter: int = 100,
    ista_iter: int = 50,
) -> np.ndarray:
    """Dictionary learning (sparse coding): alternating ISTA lasso code step
    and least-squares dictionary step with unit-norm atoms, SVD init —
    deterministic counterpart of sklearn DictionaryLearning; returns the
    sparse code (n x k)."""
    xc = x - x.mean(axis=0, keepdims=True)
    n, p = xc.shape
    k = min(n_components, min(n, p))
    _u, s, vt = np.linalg.svd(xc, full_matrices=False)
    d = vt[:k]  # k x p dictionary atoms
    code = np.zeros((n, k))
    for _ in range(max_iter):
        # ISTA for 0.5||x - c d||^2 + alpha ||c||_1
        lip = max(float(np.linalg.eigvalsh(d @ d.T).max()), 1e-12)
        step = 1.0 / lip
        for _ in range(ista_iter):
            grad = (code @ d - xc) @ d.T
            code = code - step * grad
            code = np.sign(code) * np.clip(np.abs(code) - step * alpha, 0, None)
        # dictionary update: least squares on active atoms, renormalized
        active = (code != 0).any(axis=0)
        if active.any():
            c_a = code[:, active]
            gram = c_a.T @ c_a + 1e-9 * np.eye(c_a.shape[1])
            d[active] = np.linalg.solve(gram, c_a.T @ xc)
            norms = np.linalg.norm(d, axis=1, keepdims=True)
            d /= np.maximum(norms, 1e-12)
    return code


def sparse_pca_scores(
    x: np.ndarray,
    n_components: int,
    alpha: float = 1.0,
    max_iter: int = 100,
) -> np.ndarray:
    """SparsePCA: sparse components / dense code — dictionary learning with
    the roles transposed (sklearn implements it exactly this way). Returns
    the code (n x k) from the ridge projection onto the learned sparse
    components."""
    xc = x - x.mean(axis=0, keepdims=True)
    n, p = xc.shape
    k = min(n_components, min(n, p))
    _u, s, vt = np.linalg.svd(xc, full_matrices=False)
    comps = vt[:k]  # k x p, to be sparsified
    code = xc @ comps.T
    for _ in range(max_iter):
        # sparse component step: ISTA on components with code fixed
        lip = max(float(np.linalg.eigvalsh(code.T @ code).max()), 1e-12)
        step = 1.0 / lip
        for _ in range(20):
            grad = code.T @ (code @ comps - xc)
            comps = comps - step * grad
            comps = np.sign(comps) * np.clip(
                np.abs(comps) - step * alpha, 0, None
            )
        # code step: least squares
        gram = comps @ comps.T + 1e-9 * np.eye(k)
        code = xc @ comps.T @ np.linalg.inv(gram)
    return code


def _digamma(x: np.ndarray) -> np.ndarray:
    """Vectorized digamma via the standard recurrence + asymptotic series
    (no scipy in this environment)."""
    x = np.asarray(x, dtype="float64")
    out = np.zeros_like(x)
    xx = x.copy()
    # recurrence to push x above 6
    for _ in range(8):
        small = xx < 6.0
        if not small.any():
            break
        out[small] -= 1.0 / xx[small]
        xx[small] += 1.0
    inv = 1.0 / xx
    inv2 = inv * inv
    out += (
        np.log(xx)
        - 0.5 * inv
        - inv2 * (1.0 / 12.0 - inv2 * (1.0 / 120.0 - inv2 / 252.0))
    )
    return out


def lda_scores(
    x: np.ndarray,
    n_components: int,
    max_iter: int = 100,
    e_iter: int = 50,
    doc_topic_prior: float | None = None,
    topic_word_prior: float | None = None,
) -> np.ndarray:
    """Latent Dirichlet allocation via batch variational EM (the published
    Blei/Hoffman algorithm, sklearn's batch method) over the non-negative
    matrix with rows as documents; returns the normalized doc-topic
    distribution like sklearn LDA.fit_transform. Deterministic NMF init."""
    x = np.clip(np.asarray(x, dtype="float64"), 0.0, None)
    n, p = x.shape
    k = min(n_components, min(n, p))
    alpha = doc_topic_prior if doc_topic_prior is not None else 1.0 / k
    eta = topic_word_prior if topic_word_prior is not None else 1.0 / k
    # deterministic init: topic-word params from the NMF factorization
    w0 = nmf_scores(x, k, max_iter=50)
    h0 = np.maximum(np.linalg.pinv(np.maximum(w0, 1e-9)) @ x, 0.0)
    lam = h0 + eta + 1e-3  # k x p
    gamma = np.full((n, k), alpha + x.sum(axis=1, keepdims=True) / k)
    for _ in range(max_iter):
        e_log_beta = _digamma(lam) - _digamma(lam.sum(axis=1, keepdims=True))
        exp_beta = np.exp(e_log_beta)  # k x p
        for _ in range(e_iter):
            e_log_theta = _digamma(gamma) - _digamma(
                gamma.sum(axis=1, keepdims=True)
            )
            exp_theta = np.exp(e_log_theta)  # n x k
            phinorm = exp_theta @ exp_beta + 1e-100  # n x p
            gamma_new = alpha + exp_theta * ((x / phinorm) @ exp_beta.T)
            if np.abs(gamma_new - gamma).mean() < 1e-6:
                gamma = gamma_new
                break
            gamma = gamma_new
        e_log_theta = _digamma(gamma) - _digamma(
            gamma.sum(axis=1, keepdims=True)
        )
        exp_theta = np.exp(e_log_theta)
        phinorm = exp_theta @ exp_beta + 1e-100
        lam = eta + exp_beta * (exp_theta.T @ (x / phinorm))
    return gamma / gamma.sum(axis=1, keepdims=True)


#: reference ml.py:42-45 model-name surface
DR_MODELS = (
    "PCA", "MDS", "DL", "FA", "FICA", "IPCA", "KPCA", "LDA",
    "MBDL", "MBNMF", "MBSPCA", "NMF", "SPCA", "TSVD",
)


def dimensionality_reduction(
    betas: DataFrame,
    model: str = "PCA",
    nb_probes: int | None = 1000,
    n_components: int = 2,
    value_col: str = "beta",
    **kwargs,
) -> tuple[dict, DataFrame, list[str], int]:
    """Model-name-dispatched DR over the top-variance probes (reference
    ml.py:14-86 surface; same short names, same centering rules — everything
    except LDA/NMF/MBNMF is feature-centered, reference ml.py:77-80).

    Returns ``(info, scores_df, samples, nb_probes_used)`` where ``info``
    carries model name and any model diagnostics (e.g. explained variance
    ratio), ``scores_df`` is DataFrame(sample, c1..cK).

    The mini-batch variants (IPCA/MBDL/MBNMF/MBSPCA) are sklearn's
    memory-bounded equivalents of their batch models; with the distributed
    variance selection + bounded driver matrix there is no memory pressure
    to trade off, so they dispatch to the exact batch solution.
    TSVD does not center, but the reference centers its input first
    (reference ml.py:76-80), so on that input TSVD is PCA and runs on ``pca``.
    """
    model = model.upper()
    if model not in DR_MODELS:
        raise ValueError(f"unknown model {model!r}; known: {DR_MODELS}")
    spark = betas.sparkSession
    info: dict = {"model": model}
    if model in ("PCA", "IPCA", "TSVD"):
        scores_df, ratio = pca(
            betas, n_components, n_probes=nb_probes, value_col=value_col
        )
        scores_df = scores_df.toDF(
            "sample", *[f"c{j}" for j in range(1, len(scores_df.columns))]
        )
        info["explained_variance_ratio"] = ratio
    elif model == "MDS":
        scores_df, ratio = classical_mds(
            betas, n_components, n_probes=nb_probes, value_col=value_col
        )
        info["explained_variance_ratio"] = ratio
    elif model == "KPCA":
        scores_df, ratio = kernel_pca(
            betas,
            n_components,
            n_probes=nb_probes,
            value_col=value_col,
            kernel=kwargs.pop("kernel", "linear"),
            gamma=kwargs.pop("gamma", None),
        )
        info["explained_variance_ratio"] = ratio
    else:
        x, samples, probe_ids = _collect_matrix(betas, nb_probes, value_col)
        info["n_probes_used"] = len(probe_ids)
        if model == "FICA":
            scores = fast_ica_scores(x, n_components, **kwargs)
        elif model == "FA":
            scores = factor_analysis_scores(x, n_components, **kwargs)
        elif model in ("NMF", "MBNMF"):
            scores = nmf_scores(x, n_components, **kwargs)
        elif model in ("DL", "MBDL"):
            scores = dictionary_learning_scores(x, n_components, **kwargs)
        elif model in ("SPCA", "MBSPCA"):
            scores = sparse_pca_scores(x, n_components, **kwargs)
        elif model == "LDA":
            scores = lda_scores(x, n_components, **kwargs)
        else:  # pragma: no cover
            raise AssertionError(model)
        scores_df = _scores_df(spark, samples, np.asarray(scores))
        samples_out = samples
        n_used = len(probe_ids)
        return info, scores_df, samples_out, n_used
    samples_out = [r["sample"] for r in scores_df.select("sample").collect()]
    n_used = nb_probes if nb_probes is not None else -1
    return info, scores_df, sorted(samples_out), n_used


# ---------------------------------------------------------------------------
# Viz data-side aggregates (K17/K18): the engine work behind the reference's
# dendrogram (visualizations.py:670: linkage over sample beta distances) and
# PC<->metadata association heatmap (visualizations.py:396-533).
# ---------------------------------------------------------------------------


def sample_distance_matrix(
    betas: DataFrame,
    value_col: str = "beta",
    n_probes: int | None = None,
) -> DataFrame:
    """Pairwise euclidean distances between samples over complete probes —
    the linkage input for the reference's dendrogram (visualizations.py:670,
    `linkage(betas.T)` after get_betas(drop_na=True)).

    Distances come from the distributed UNcentered Gram matrix
    (d2_ij = g_ii + g_jj - 2 g_ij): the probe axis is reduced in one
    distributed aggregation; only the n x n result is materialized. Returns
    long form (s1, s2, dist) — feed scipy linkage on the driver via
    ``pivot`` if a condensed matrix is needed.
    """
    data = betas.na.drop(subset=[value_col])
    complete = _complete_probes(data, n_probes, value_col)
    data = data.join(F.broadcast(complete.select("probe_id")), "probe_id")
    g, samples = _gram_matrix(data, value_col, center=False)
    diag = np.diag(g)
    d2 = np.clip(diag[:, None] + diag[None, :] - 2.0 * g, 0.0, None)
    dist = np.sqrt(d2)
    rows = [
        (samples[i], samples[j], float(dist[i, j]))
        for i in range(len(samples))
        for j in range(len(samples))
    ]
    # explicit schema: rows may be empty (no probe complete across samples)
    return betas.sparkSession.createDataFrame(
        rows, "s1 string, s2 string, dist double"
    )


def pc_metadata_association(
    betas: DataFrame,
    sheet,
    params: list[str] | None = None,
    kind: str = "association",
    model: str = "PCA",
    nb_probes: int | None = 1000,
    n_components: int = 10,
    sample_col: str = "sample",
    value_col: str = "beta",
    min_variance_ratio: float = 0.01,
    **kwargs,
):
    """Association between DR components and sample-sheet parameters
    (reference visualizations.py:396-533 `_pc_heatmap` data): per
    (component, param), OLS of the component scores on the param's design
    matrix; ``kind='association'`` yields the F p-value, ``'correlation'``
    the signed sqrt(R^2). Params with a single distinct value or one
    distinct value per sample are skipped (reference:478-480); components
    below ``min_variance_ratio`` explained variance stop the scan
    (reference:492-493).

    ``sheet`` is pandas (driver-sized metadata). Returns a Spark DataFrame
    (component, explained_variance_pct, param, value) — the heatmap's long
    form.
    """
    import pandas as pd

    from pylluminator_spark.dm import build_design_matrix, f_sf

    if kind not in ("association", "correlation"):
        raise ValueError(f"kind must be association|correlation, got {kind!r}")
    info, scores_df, samples, _nb = dimensionality_reduction(
        betas,
        model=model,
        nb_probes=nb_probes,
        n_components=n_components,
        value_col=value_col,
        **kwargs,
    )
    scores_pdf = (
        scores_df.toPandas().sort_values("sample").set_index("sample")
    )
    ratio = info.get("explained_variance_ratio")
    sheet = sheet.copy()
    if sample_col in sheet.columns:
        sheet = sheet.set_index(sample_col)
    sheet = sheet.loc[[s for s in scores_pdf.index if s in sheet.index]]
    sheet = sheet.dropna(axis=1, how="all")
    if params is None:
        params = list(sheet.columns)
    rows = []
    k = scores_pdf.shape[1]
    for param in params:
        if param not in sheet.columns:
            continue
        vals = set(sheet[param].dropna())
        if len(vals) <= 1 or len(vals) == len(sheet):
            continue  # no effect / saturated (reference:478-480)
        sub = sheet[~sheet[param].isna()]
        design = build_design_matrix(sub, f"~ {param}")
        design = design.loc[:, (design != 0).any(axis=0)]
        if design.shape[1] < 2:
            continue
        x = design.to_numpy(dtype="float64")
        n, kx = x.shape
        if n <= kx:
            continue
        for i in range(k):
            r_i = float(ratio[i]) if ratio is not None and i < len(ratio) else None
            if r_i is not None and r_i < min_variance_ratio:
                break
            y = scores_pdf.loc[sub.index].iloc[:, i].to_numpy(dtype="float64")
            coef, *_ = np.linalg.lstsq(x, y, rcond=None)
            resid = y - x @ coef
            rss = float((resid**2).sum())
            tss = float(((y - y.mean()) ** 2).sum())
            d1, dof = kx - 1, n - kx
            if kind == "association":
                f_stat = ((tss - rss) / d1) / (rss / dof) if rss > 0 else np.inf
                value = float(f_sf(np.array([f_stat]), d1, dof)[0])
            else:
                r2 = 1.0 - rss / tss if tss > 0 else np.nan
                sign = -1.0 if coef[1] < 0 else 1.0
                value = float(sign * np.sqrt(max(r2, 0.0)))
            pct = r_i * 100 if r_i is not None else float("nan")
            rows.append((i + 1, pct, param, value))
    return betas.sparkSession.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["component", "explained_variance_pct", "param", "value"],
        )
    )


def metadata_correlation(
    sheet: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """Pearson correlation matrix between sample-sheet columns (reference
    visualizations.py:2198): non-numeric columns are factorized (dense-rank
    encoded), then pairwise corr via exact sum aggregations — one pass.
    Every moment of a pair is taken over the rows where both columns are
    non-null (pandas ``DataFrame.corr`` pairwise-complete semantics).

    Returns long form: (col_a, col_b, corr).
    """
    cols = columns or [c for c, _ in sheet.dtypes if c != "sample"]
    enc = sheet
    for c, t in sheet.dtypes:
        if c in cols and t in ("string", "boolean"):
            enc = enc.withColumn(
                c, F.dense_rank().over(Window.orderBy(F.col(c))).cast("double")
            )
        elif c in cols:
            enc = enc.withColumn(c, F.col(c).cast("double"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i:]]
    aggs = []
    for n, (a, b) in enumerate(pairs):
        x, y = F.col(a), F.col(b)
        both = x.isNotNull() & y.isNotNull()
        for m, e in (("a", x), ("b", y), ("ab", x * y), ("aa", x * x), ("bb", y * y)):
            aggs.append(F.avg(F.when(both, e)).alias(f"_{m}{n}"))
    s = enc.agg(*aggs).collect()[0]
    rows = []
    for n, (a, b) in enumerate(pairs):
        ma, mb = s[f"_a{n}"], s[f"_b{n}"]
        corr = float("nan")  # no complete row, or a constant column
        if ma is not None:
            va, vb = s[f"_aa{n}"] - ma**2, s[f"_bb{n}"] - mb**2
            if va > 0 and vb > 0:
                corr = (s[f"_ab{n}"] - ma * mb) / np.sqrt(va * vb)
        rows.append((a, b, float(corr)))
        if a != b:
            rows.append((b, a, float(corr)))
    return sheet.sparkSession.createDataFrame(rows, ["col_a", "col_b", "corr"])


def beta_density_grid(
    betas: DataFrame,
    grid_points: int = 101,
    n_bins: int = 512,
    bandwidth: float | None = None,
    value_col: str = "beta",
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Per-sample Gaussian KDE evaluated on a fixed grid — the engine work
    behind the reference's beta-density plot (visualizations.py:222,
    ``FFTKDE(kernel='gaussian', bw='silverman')`` per sample).

    Scale design (binned KDE — the same linear-binning idea FFTKDE itself
    uses): the fact table is reduced ONCE by a hash aggregation into
    ``n_bins`` fine histogram bins per sample; the Gaussian smoothing then
    runs on dimension-sized data (samples x bins x grid) as pure column
    expressions — no per-row kernel evaluation, no Python, no second pass
    over the betas. ``bandwidth=None`` applies Silverman's rule per sample:
    h = 0.9 * min(sd, IQR/1.34) * n^(-1/5).

    Returns (sample, x, density), ``grid_points`` rows per sample over
    [lo, hi]. Bin-center approximation error is O((range/n_bins)^2) —
    negligible against plot resolution at the default 512 bins.
    """
    if grid_points < 2 or n_bins < 2:
        raise ValueError("grid_points and n_bins must be >= 2")
    data = betas.na.drop(subset=[value_col]).filter(
        (F.col(value_col) >= lo) & (F.col(value_col) <= hi)
    )
    width = hi - lo
    # 1) per-sample bandwidth inputs (one aggregation; exact percentiles)
    stats = data.groupBy("sample").agg(
        F.count(value_col).alias("_n"),
        F.stddev_samp(value_col).alias("_sd"),
        F.expr(
            f"percentile({value_col}, 0.75) - percentile({value_col}, 0.25)"
        ).alias("_iqr"),
    )
    if bandwidth is None:
        # Silverman with the usual zero-IQR fallback to sd (discrete-heavy
        # samples can have IQR 0 with nonzero spread). A sample with NO
        # spread at all (constant values, or a single row where sd is
        # NULL) has no defined KDE — its density rows come back NULL.
        spread = F.when(
            F.col("_iqr") > 0, F.least(F.col("_sd"), F.col("_iqr") / 1.34)
        ).otherwise(F.col("_sd"))
        h = F.lit(0.9) * spread * F.pow(
            F.col("_n").cast("double"), F.lit(-0.2)
        )
    else:
        if bandwidth <= 0:
            raise ValueError("bandwidth must be positive")
        h = F.lit(float(bandwidth))
    # zero-spread samples: make h NULL (not 0) so the kernel division
    # yields NULL densities instead of an ANSI divide-by-zero error
    stats = stats.select(
        "sample", "_n", F.nullif(h, F.lit(0.0)).alias("_h")
    )
    # 2) fine histogram per sample (THE fact-table reduction)
    bin_idx = F.least(
        F.lit(n_bins - 1),
        F.floor((F.col(value_col) - lo) / width * n_bins).cast("int"),
    )
    binned = (
        data.groupBy("sample", bin_idx.alias("_bin"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_center", lo + (F.col("_bin") + 0.5) * (width / n_bins)
        )
    )
    # 3) dimension-sized convolution: bins x grid, pure codegen
    grid = F.explode(F.sequence(F.lit(0), F.lit(grid_points - 1))).alias("_gi")
    x = lo + F.col("_gi").cast("double") * (width / (grid_points - 1))
    z = (F.col("_x") - F.col("_center")) / F.col("_h")
    sqrt_2pi = float(np.sqrt(2.0 * np.pi))
    return (
        binned.join(F.broadcast(stats), "sample")
        .select("sample", "_cnt", "_center", "_n", "_h", grid)
        .withColumn("_x", x)
        .groupBy("sample", "_x", "_h")
        .agg(
            (
                F.sum(F.col("_cnt") * F.exp(-0.5 * z * z))
                / (F.first("_n") * F.col("_h") * sqrt_2pi)
            ).alias("density")
        )
        .select("sample", F.col("_x").alias("x"), "density")
    )
