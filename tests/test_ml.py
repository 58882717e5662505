"""ML layer: distributed Gram-trick PCA vs a numpy reference, variance
top-k, metadata correlation."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pylluminator_spark import ml


@pytest.fixture(scope="module")
def betas(spark):
    """Deterministic synthetic long betas: 300 probes x 8 samples."""
    df = (
        spark.range(0, 300 * 8, 1, 4)
        .withColumn("probe_id", F.concat(F.lit("cg"), (F.col("id") % 300)))
        .withColumn("sample", F.concat(F.lit("s"), F.floor(F.col("id") / 300)))
        .withColumn(
            "beta",
            ((F.col("id") * 2654435761) % 1000) / 1000.0
            + F.when(F.col("id") % 300 < 30, F.floor(F.col("id") / 300) * 0.1).otherwise(0.0),
        )
        .select("probe_id", "sample", "beta")
        .cache()
    )
    df.count()
    return df


def _to_matrix(betas_df):
    pdf = betas_df.toPandas().pivot(index="sample", columns="probe_id", values="beta")
    return pdf.sort_index()


def test_probe_variance_matches_numpy(betas):
    got = {r.probe_id: r.variance for r in ml.probe_variance(betas).collect()}
    mat = _to_matrix(betas)
    want = mat.var(axis=0, ddof=0)
    for pid, v in want.items():
        assert got[pid] == pytest.approx(v, rel=1e-12)


def test_top_variance_probes(betas):
    top = ml.top_variance_probes(betas, k=25).collect()
    assert len(top) == 25
    mat = _to_matrix(betas)
    want = set(
        mat.var(axis=0, ddof=0)
        .sort_values(ascending=False, kind="stable")
        .head(40)
        .index
    )
    # all returned probes are within the numpy top-40 (ties allow reordering)
    assert {r.probe_id for r in top} <= want
    vs = [r.variance for r in top]
    assert vs == sorted(vs, reverse=True)


def test_pca_matches_numpy_reference(betas):
    scores_df, ratio = ml.pca(betas, n_components=3, n_probes=None)
    got = scores_df.toPandas().set_index("sample").sort_index()

    mat = _to_matrix(betas)
    X = mat.to_numpy()
    Xc = X - X.mean(axis=0, keepdims=True)
    G = Xc @ Xc.T
    eigvals, eigvecs = np.linalg.eigh(G)
    order = np.argsort(eigvals)[::-1]
    eigvals, eigvecs = np.clip(eigvals[order], 0, None), eigvecs[:, order]
    ref = eigvecs[:, :3] * np.sqrt(eigvals[:3])
    for j in range(3):
        pivot = np.argmax(np.abs(ref[:, j]))
        if ref[pivot, j] < 0:
            ref[:, j] = -ref[:, j]

    assert np.allclose(got.to_numpy(), ref, atol=1e-8)
    assert np.allclose(ratio, eigvals[:3] / eigvals.sum(), atol=1e-12)
    # explained variance ordered and in (0, 1]
    assert all(0 < r <= 1 for r in ratio)
    assert list(ratio) == sorted(ratio, reverse=True)


def test_pca_with_probe_selection_runs(betas):
    scores_df, ratio = ml.pca(betas, n_components=2, n_probes=50)
    assert scores_df.count() == 8
    assert len(ratio) == 2


def test_metadata_correlation(spark):
    pdf = pd.DataFrame(
        {
            "sample": [f"s{i}" for i in range(10)],
            "age": [20, 25, 30, 35, 40, 45, 50, 55, 60, 65],
            "dose": [1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0, 5.5],
            "group": ["a", "a", "a", "a", "a", "b", "b", "b", "b", "b"],
        }
    )
    sheet = spark.createDataFrame(pdf)
    corr = ml.metadata_correlation(sheet).collect()
    cm = {(r.col_a, r.col_b): r.corr for r in corr}
    assert cm[("age", "age")] == pytest.approx(1.0)
    assert cm[("age", "dose")] == pytest.approx(1.0)  # perfectly linear
    assert cm[("age", "group")] == pytest.approx(
        np.corrcoef(pdf["age"], pd.factorize(pdf["group"])[0])[0, 1], abs=1e-9
    )
    assert cm[("dose", "age")] == cm[("age", "dose")]


def test_metadata_correlation_pairwise_complete(spark):
    """A NULL in one column drops that row from its pairs only, like pandas
    ``DataFrame.corr``: every moment of a pair is taken over the rows where
    both columns have a value."""
    pdf = pd.DataFrame(
        {
            "sample": [f"s{i}" for i in range(8)],
            "a": [1.0, 2.0, None, 4.0, 5.0, 6.0, 7.0, 30.0],
            "b": [1.1, 2.3, 2.9, 4.2, 4.8, 6.1, 7.2, 8.0],
            "c": [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0],
        }
    )
    rows = [tuple(None if pd.isna(v) else v for v in r) for r in pdf.itertuples(index=False)]
    sheet = spark.createDataFrame(rows, "sample string, a double, b double, c double")
    cm = {(r.col_a, r.col_b): r.corr for r in ml.metadata_correlation(sheet).collect()}
    want = pdf.drop(columns="sample").corr()
    for a in "abc":
        for b in "abc":
            assert cm[(a, b)] == pytest.approx(want.loc[a, b], abs=1e-12), (a, b)


# ---------------------------------------------------------------------------
# DR family (reference ml.py:14-86 model surface)
# ---------------------------------------------------------------------------

def _pca_ref_scores(mat: pd.DataFrame, k: int) -> np.ndarray:
    x = mat.to_numpy(dtype=float)
    xc = x - x.mean(axis=0, keepdims=True)
    u, s, _ = np.linalg.svd(xc, full_matrices=False)
    scores = u[:, :k] * s[:k]
    for j in range(k):
        p = np.argmax(np.abs(scores[:, j]))
        if scores[p, j] < 0:
            scores[:, j] = -scores[:, j]
    return scores


def test_classical_mds_equals_pca_scores(betas):
    """Classical MDS on euclidean distances == PCA scores (textbook
    equivalence) — validates the distance/double-centering path."""
    sdf, ratio = ml.classical_mds(betas, 3, n_probes=None)
    got = (
        sdf.toPandas().sort_values("sample").set_index("sample").to_numpy()
    )
    want = _pca_ref_scores(_to_matrix(betas), 3)
    np.testing.assert_allclose(got, want, atol=1e-6)


def test_truncated_svd_matches_numpy(betas):
    """Reference centers betas per probe before EVERY model except
    LDA/NMF/MBNMF — TSVD included (reference ml.py:76-80) — so the numpy
    twin is SVD of the column-centered matrix, and TSVD is PCA bit for bit."""
    _info, sdf, _s, _n = ml.dimensionality_reduction(
        betas, model="TSVD", nb_probes=None, n_components=3
    )
    got = sdf.toPandas().sort_values("sample").set_index("sample").to_numpy()
    _info, pdf, _s, _n = ml.dimensionality_reduction(
        betas, model="PCA", nb_probes=None, n_components=3
    )
    pca = pdf.toPandas().sort_values("sample").set_index("sample").to_numpy()
    assert got.tobytes() == pca.tobytes()
    x = _to_matrix(betas).to_numpy(dtype=float)
    x = x - x.mean(axis=0, keepdims=True)
    u, s, _ = np.linalg.svd(x, full_matrices=False)
    want = u[:, :3] * s[:3]
    for j in range(3):
        p = np.argmax(np.abs(want[:, j]))
        if want[p, j] < 0:
            want[:, j] = -want[:, j]
    np.testing.assert_allclose(got, want, atol=1e-6)


def test_kernel_pca_linear_equals_pca(betas):
    sdf, _ = ml.kernel_pca(betas, 3, kernel="linear", n_probes=None)
    got = sdf.toPandas().sort_values("sample").set_index("sample").to_numpy()
    want = _pca_ref_scores(_to_matrix(betas), 3)
    np.testing.assert_allclose(got, want, atol=1e-6)


def test_kernel_pca_rbf_runs(betas):
    sdf, ratio = ml.kernel_pca(betas, 2, kernel="rbf", n_probes=100)
    pdf = sdf.toPandas()
    assert len(pdf) == 8 and np.isfinite(pdf[["c1", "c2"]].to_numpy()).all()
    assert (ratio >= 0).all()


def test_fast_ica_recovers_sources():
    """Two independent non-gaussian sources, linear mixing: FastICA must
    recover them up to permutation/sign/scale (|corr| > 0.95)."""
    rng = np.random.RandomState(0)
    n = 400
    s1 = np.sign(rng.uniform(-1, 1, n)) * rng.uniform(0.5, 1.0, n)
    s2 = rng.laplace(size=n)
    s_true = np.column_stack([s1, s2])
    a = np.array([[1.0, 0.6], [0.4, 1.2]])
    x = s_true @ a.T  # n x 2 observed
    got = ml.fast_ica_scores(x, 2)
    corr = np.corrcoef(got.T, s_true.T)[:2, 2:]
    best = np.abs(corr).max(axis=1)
    assert (best > 0.95).all()
    # deterministic
    np.testing.assert_array_equal(got, ml.fast_ica_scores(x, 2))


def test_factor_analysis_recovers_structure():
    rng = np.random.RandomState(1)
    n, p, k = 200, 20, 2
    z = rng.normal(size=(n, k))
    load = rng.normal(size=(k, p)) * 2
    x = z @ load + rng.normal(scale=0.3, size=(n, p))
    scores = ml.factor_analysis_scores(x, k)
    assert scores.shape == (n, k)
    corr = np.abs(np.corrcoef(scores.T, z.T)[:k, k:])
    # each true factor matched by some recovered factor
    assert (corr.max(axis=0) > 0.9).all()


def test_nmf_scores_properties():
    rng = np.random.RandomState(2)
    w_true = np.abs(rng.normal(size=(30, 3)))
    h_true = np.abs(rng.normal(size=(3, 40)))
    x = w_true @ h_true
    w = ml.nmf_scores(x, 3)
    assert w.shape == (30, 3)
    assert (w >= 0).all()
    np.testing.assert_array_equal(w, ml.nmf_scores(x, 3))  # deterministic
    # reconstruction via a least-squares H beats the rank-0 baseline by far
    h = np.linalg.lstsq(w, x, rcond=None)[0]
    err = np.linalg.norm(x - w @ np.clip(h, 0, None))
    assert err < 0.15 * np.linalg.norm(x)


def test_dictionary_learning_sparse_code():
    rng = np.random.RandomState(3)
    x = rng.normal(size=(40, 25))
    code = ml.dictionary_learning_scores(x, 5, alpha=1.0)
    assert code.shape == (40, 5)
    assert (code == 0).mean() > 0.1  # l1 produces genuine zeros
    np.testing.assert_array_equal(
        code, ml.dictionary_learning_scores(x, 5, alpha=1.0)
    )


def test_sparse_pca_scores_shape_and_determinism():
    rng = np.random.RandomState(4)
    x = rng.normal(size=(30, 50))
    code = ml.sparse_pca_scores(x, 4, alpha=0.5)
    assert code.shape == (30, 4)
    np.testing.assert_array_equal(code, ml.sparse_pca_scores(x, 4, alpha=0.5))


def test_lda_scores_topic_separation():
    """Two disjoint 'vocabulary' blocks: docs from different blocks must get
    different dominant topics; rows are distributions."""
    rng = np.random.RandomState(5)
    x = np.zeros((40, 30))
    x[:20, :15] = rng.poisson(5, (20, 15))
    x[20:, 15:] = rng.poisson(5, (20, 15))
    theta = ml.lda_scores(x, 2, max_iter=30)
    np.testing.assert_allclose(theta.sum(axis=1), 1.0, atol=1e-8)
    dom_a = np.bincount(theta[:20].argmax(axis=1), minlength=2).argmax()
    dom_b = np.bincount(theta[20:].argmax(axis=1), minlength=2).argmax()
    assert dom_a != dom_b


def test_dimensionality_reduction_dispatch(betas):
    """Every reference model name runs end-to-end on the Spark fixture and
    returns (info, scores_df, samples, nb_probes)."""
    for model in ml.DR_MODELS:
        info, sdf, samples, nb = ml.dimensionality_reduction(
            betas, model=model, nb_probes=60, n_components=2
        )
        pdf = sdf.toPandas()
        assert info["model"] == model
        assert set(pdf.columns) == {"sample", "c1", "c2"}, model
        assert len(pdf) == 8, model
        assert np.isfinite(pdf[["c1", "c2"]].to_numpy()).all(), model
        assert samples == sorted(samples)
    with pytest.raises(ValueError):
        ml.dimensionality_reduction(betas, model="NOPE")


def test_collect_matrix_guard(betas):
    with pytest.raises(ValueError):
        ml._collect_matrix(betas, None, max_collect_probes=10)


def test_sample_distance_matrix(betas):
    sdf = ml.sample_distance_matrix(betas)
    pdf = sdf.toPandas().pivot(index="s1", columns="s2", values="dist")
    mat = _to_matrix(betas)
    x = mat.to_numpy(dtype=float)
    want = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(axis=2))
    got = pdf.loc[mat.index, mat.index].to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-8)
    assert np.allclose(np.diag(got), 0.0)


def test_pc_metadata_association(spark):
    """Group label aligned with the dominant variance axis gets a tiny
    association p-value; an orthogonal balanced label does not."""
    rng = np.random.RandomState(9)
    samples = [f"s{i}" for i in range(8)]
    rows = []
    for p in range(60):
        base = rng.uniform(0.3, 0.5)
        for i, s in enumerate(samples):
            shift = 0.35 if (i >= 4 and p < 40) else 0.0
            rows.append((s, f"cg{p:04d}", float(base + shift + rng.normal(0, 0.02))))
    betas = spark.createDataFrame(
        rows, "sample string, probe_id string, beta double"
    )
    sheet = pd.DataFrame(
        {
            "sample": samples,
            "grp": ["lo"] * 4 + ["hi"] * 4,
            "noise": ["a", "b"] * 4,
        }
    )
    out = ml.pc_metadata_association(
        betas, sheet, n_components=2, nb_probes=None
    ).toPandas()
    assoc = out.set_index(["component", "param"])["value"]
    assert assoc.loc[(1, "grp")] < 0.01
    assert assoc.loc[(1, "noise")] > 0.05
    corr = ml.pc_metadata_association(
        betas, sheet, kind="correlation", n_components=1, nb_probes=None
    ).toPandas().set_index(["component", "param"])["value"]
    assert abs(corr.loc[(1, "grp")]) > 0.9
    assert abs(corr.loc[(1, "noise")]) <= 1.0
    with pytest.raises(ValueError):
        ml.pc_metadata_association(betas, sheet, kind="nope")


def test_beta_density_grid_matches_numpy(spark, betas):
    """Binned Gaussian KDE == numpy twin (same bins, same Silverman rule);
    density integrates to ~1."""
    got = (
        ml.beta_density_grid(betas, grid_points=51, n_bins=256)
        .toPandas()
        .sort_values(["sample", "x"])
        .reset_index(drop=True)
    )
    pdf = betas.toPandas().dropna(subset=["beta"])
    lo, hi, n_bins, gp = 0.0, 1.0, 256, 51
    for sample, sub in pdf.groupby("sample"):
        v = sub["beta"].to_numpy()
        v = v[(v >= lo) & (v <= hi)]
        n = len(v)
        sd = v.std(ddof=1)
        iqr = np.percentile(v, 75) - np.percentile(v, 25)
        h = 0.9 * min(sd, iqr / 1.34) * n ** (-0.2)
        idx = np.minimum(n_bins - 1, np.floor((v - lo) / (hi - lo) * n_bins).astype(int))
        cnt = np.bincount(idx, minlength=n_bins)
        centers = lo + (np.arange(n_bins) + 0.5) * ((hi - lo) / n_bins)
        xs = lo + np.arange(gp) * ((hi - lo) / (gp - 1))
        z = (xs[:, None] - centers[None, :]) / h
        want = (cnt[None, :] * np.exp(-0.5 * z * z)).sum(axis=1) / (
            n * h * np.sqrt(2 * np.pi)
        )
        sub_got = got[got["sample"] == sample]
        np.testing.assert_allclose(
            sub_got.sort_values("x")["density"].to_numpy(), want, rtol=1e-9
        )
        # densities integrate to ~1 (trapezoid; boundary mass leaks a bit)
        integral = np.trapz(want, xs)
        assert 0.8 < integral < 1.2


def test_beta_density_grid_zero_iqr_fallback_and_guards(spark):
    """Discrete-heavy sample (IQR 0, sd > 0) falls back to sd for the
    Silverman bandwidth; zero-spread samples yield NULL densities instead
    of crashing; bandwidth <= 0 is rejected."""
    rows = (
        [("sA", f"p{i}", 0.5) for i in range(40)]
        + [("sA", "q1", 0.1), ("sA", "q2", 0.9)]  # IQR 0, sd > 0
        + [("sB", f"p{i}", 0.3) for i in range(10)]  # constant: no spread
    )
    betas = spark.createDataFrame(rows, "sample string, probe_id string, beta double")
    out = ml.beta_density_grid(betas, grid_points=11, n_bins=32).toPandas()
    a = out[out["sample"] == "sA"]["density"]
    assert a.notna().all() and np.isfinite(a).all() and (a >= 0).all()
    b = out[out["sample"] == "sB"]["density"]
    assert b.isna().all()  # documented degenerate behavior
    with pytest.raises(ValueError, match="bandwidth"):
        ml.beta_density_grid(betas, bandwidth=0.0)
