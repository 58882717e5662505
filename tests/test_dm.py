"""DM layer tests: closed-form OLS vs independent numpy math, special-function
accuracy vs published constants, BH vs hand-rolled numpy, DMR segmentation
boundary behavior."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pylluminator_spark import dm
from pylluminator_spark.functions.stats import bh_adjust

from conftest import codegen_size

SAMPLES = [f"s{i}" for i in range(6)]
SHEET = pd.DataFrame(
    {
        "sample": SAMPLES,
        "sample_type": ["LNCAP"] * 3 + ["PREC"] * 3,
        "sample_number": [1, 2, 3, 1, 2, 3],
    }
)


def test_t_sf_known_values():
    # classic table values
    assert dm.t_sf_two_sided(np.array([2.0]), 4)[0] == pytest.approx(0.116116, abs=1e-5)
    assert dm.t_sf_two_sided(np.array([1.0]), 10)[0] == pytest.approx(0.340893, abs=1e-5)
    assert dm.t_sf_two_sided(np.array([0.0]), 7)[0] == pytest.approx(1.0, abs=1e-12)


def test_f_sf_known_values():
    # F(1,10) upper 5% critical value is 4.9646
    assert dm.f_sf(np.array([4.9646]), 1, 10)[0] == pytest.approx(0.05, abs=1e-4)
    assert dm.f_sf(np.array([0.0]), 2, 8)[0] == pytest.approx(1.0, abs=1e-12)


def test_design_matrix_treatment_coding():
    d = dm.build_design_matrix(SHEET.set_index("sample"), "~ sample_type + sample_number")
    assert list(d.columns) == ["Intercept", "sample_type[T.PREC]", "sample_number"]
    assert d["sample_type[T.PREC]"].tolist() == [0, 0, 0, 1, 1, 1]
    d2 = dm.build_design_matrix(
        SHEET.set_index("sample"), "~ sample_type", reference_value={"sample_type": "PREC"}
    )
    assert "sample_type[T.LNCAP]" in d2.columns


@pytest.fixture(scope="module")
def betas_df(spark):
    rng = np.random.RandomState(5)
    rows = []
    for p in range(80):
        base = rng.uniform(0.2, 0.8)
        delta = 0.3 if p < 20 else 0.0  # first 20 probes differ by group
        for i, s in enumerate(SAMPLES):
            group_shift = delta if i >= 3 else 0.0
            beta = np.clip(base + group_shift + rng.normal(0, 0.02), 0, 1)
            # inject NA for one probe/sample
            if p == 5 and s == "s2":
                beta = None
            rows.append((s, f"cg{p:05d}", float(beta) if beta is not None else None))
    return spark.createDataFrame(rows, "sample string, probe_id string, beta double")


def test_compute_dmp_matches_numpy_ols(betas_df):
    dmps, contrasts = dm.compute_dmp(betas_df, SHEET, "~ sample_type")
    assert contrasts == ["sample_type[T.PREC]"]
    got = dmps.toPandas().set_index("probe_id")
    pdf = betas_df.toPandas().pivot(index="probe_id", columns="sample", values="beta")
    x = np.column_stack([np.ones(6), np.array([0, 0, 0, 1, 1, 1], dtype=float)])
    for pid in ["cg00000", "cg00030", "cg00050"]:
        y = pdf.loc[pid, SAMPLES].to_numpy(dtype=float)
        coef, res_, _, _ = np.linalg.lstsq(x, y, rcond=None)
        resid = y - x @ coef
        rss = (resid**2).sum()
        sigma2 = rss / (6 - 2)
        xtx_inv = np.linalg.inv(x.T @ x)
        se = np.sqrt(sigma2 * np.diag(xtx_inv))
        t = coef / se
        assert got.loc[pid, "sample_type[T.PREC]_estimate"] == pytest.approx(
            coef[1], rel=1e-9
        )
        assert got.loc[pid, "sample_type[T.PREC]_std_err"] == pytest.approx(
            se[1], rel=1e-9
        )
        assert got.loc[pid, "sample_type[T.PREC]_t_value"] == pytest.approx(
            t[1], rel=1e-9
        )
        expected_p = dm.t_sf_two_sided(np.array([t[1]]), 4)[0]
        assert got.loc[pid, "sample_type[T.PREC]_p_value"] == pytest.approx(
            expected_p, rel=1e-9
        )
        # avg beta per level + delta
        assert got.loc[pid, "sample_type[T.LNCAP]_avg_beta"] == pytest.approx(
            np.nanmean(y[:3]), rel=1e-9
        )
        assert got.loc[pid, "sample_type[T.PREC]_avg_beta_delta"] == pytest.approx(
            np.nanmean(y[:3]) - np.nanmean(y[3:]), rel=1e-9
        )
    # signal probes detected
    sig = got[got["sample_type[T.PREC]_p_value_adjusted"] < 0.01]
    assert set(sig.index) >= {f"cg{p:05d}" for p in range(20)} - {"cg00005"}


def test_compute_dmp_na_handling(betas_df):
    """cg00005 has an NA for s2: the fit must drop that sample (df=3)."""
    dmps, _ = dm.compute_dmp(betas_df, SHEET, "~ sample_type")
    got = dmps.toPandas().set_index("probe_id")
    pdf = betas_df.toPandas().pivot(index="probe_id", columns="sample", values="beta")
    y_full = pdf.loc["cg00005", SAMPLES].to_numpy(dtype=float)
    mask = ~np.isnan(y_full)
    x = np.column_stack([np.ones(6), np.array([0, 0, 0, 1, 1, 1], dtype=float)])[mask]
    y = y_full[mask]
    coef, _, _, _ = np.linalg.lstsq(x, y, rcond=None)
    assert got.loc["cg00005", "sample_type[T.PREC]_estimate"] == pytest.approx(
        coef[1], rel=1e-9
    )


def numpy_bh(p):
    """BH oracle with R ``p.adjust("BH")`` semantics: ``n`` counts the
    non-null p-values and a NULL (NaN) p maps to NULL."""
    p = np.asarray(p, dtype=float)
    out = np.full(len(p), np.nan)
    ok = ~np.isnan(p)
    q = p[ok]
    n = len(q)
    order = np.argsort(q, kind="stable")
    ranked = q[order] * n / (np.arange(n) + 1)
    cummin = np.minimum.accumulate(ranked[::-1])[::-1]
    adj = np.empty(n)
    adj[order] = np.minimum(cummin, 1)
    out[ok] = adj
    return out


def _bh_cases():
    rng = np.random.RandomState(3)
    uniform = rng.uniform(0, 1, 200)
    ties = rng.choice([0.001, 0.01, 0.02, 0.05, 0.2, 0.5, 0.9], 300)
    mixed = rng.choice([0.003, 0.04, 0.3, np.nan], 150)
    mixed[::7] = rng.uniform(0, 1, len(mixed[::7]))
    return {
        "uniform": uniform,
        "nulls": np.array([0.01, 0.02, 0.03, 0.04, np.nan, np.nan]),
        "ties": ties,
        "nulls_and_ties": mixed,
        # a patsy-style column name, as compute_dmp adjusts it
        "bracketed_name": mixed[::-1],
    }


@pytest.mark.parametrize("case", list(_bh_cases()))
def test_bh_adjust_matches_numpy(spark, case):
    pvals = _bh_cases()[case]
    p_col = "sample_type[T.case]_p_value" if case == "bracketed_name" else "p"
    df = spark.createDataFrame(
        [(int(i), int(i) % 3, None if np.isnan(p) else float(p)) for i, p in enumerate(pvals)],
        f"id long, grp long, `{p_col}` double",
    )
    got = bh_adjust(df, p_col).toPandas().set_index("id").sort_index()
    got_adj = got["p_adj"].to_numpy(dtype=float)
    expected = numpy_bh(pvals)
    np.testing.assert_array_equal(np.isnan(got_adj), np.isnan(pvals))
    np.testing.assert_allclose(got_adj, expected, rtol=1e-12)
    # by=[...] adjusts each group as a separate call on that group would
    by_grp = bh_adjust(df, p_col, by=["grp"]).toPandas().set_index("id").sort_index()
    for g in range(3):
        alone = bh_adjust(df.filter(F.col("grp") == g), p_col).toPandas()
        alone = alone.set_index("id").sort_index()["p_adj"]
        pd.testing.assert_series_equal(by_grp.loc[alone.index, "p_adj"], alone)


def test_bh_null_p_values_from_unfit_probes(spark, dmr_inputs):
    """A probe with a single non-null beta has no fit (NULL p); a probe
    with coordinates but only NULL betas becomes an NA segment (NULL
    combined p). The adjusted p-values of compute_dmp and compute_dmr
    must be BH over the non-null raw p-values, NULL where the raw p is.

    Placement edge cases ride along: a zero-width range, a NULL start and a
    NULL chromosome also make NA segments, numbered after the last placed
    segment in probe_id order; a probe with coordinates but no beta rows
    gets no segment."""
    betas, granges = dmr_inputs
    extra = [(s, "cgX0001", 0.5 if s == "s0" else None) for s in SAMPLES]
    extra += [(s, "cgX0002", None) for s in SAMPLES]
    extra += [
        (s, pid, 0.3 + 0.01 * i)
        for pid in ("cgX0003", "cgX0004", "cgX0006")
        for i, s in enumerate(SAMPLES)
    ]
    betas = betas.unionByName(
        betas.sparkSession.createDataFrame(
            extra, "sample string, probe_id string, beta double"
        )
    )
    granges = granges.unionByName(
        granges.sparkSession.createDataFrame(
            [
                ("cgX0001", "2", 50_000, 50_002),
                ("cgX0002", "2", 60_000, 60_002),
                ("cgX0003", "2", 70_000, 70_000),  # zero width
                ("cgX0004", "2", None, 80_002),
                ("cgX0005", "2", 90_000, 90_002),  # no beta rows
                ("cgX0006", None, 95_000, 95_002),
            ],
            "probe_id string, chromosome string, start long, end long",
        )
    )
    dmps, contrasts = dm.compute_dmp(betas, SHEET, "~ sample_type")
    segments, dmr_df = dm.compute_dmr(betas, dmps, granges, contrasts, dist_cutoff=0.1)
    dmp_pdf = dmps.toPandas().set_index("probe_id")
    assert np.isnan(dmp_pdf.loc["cgX0001", "sample_type[T.PREC]_p_value"])
    assert "cgX0002" not in dmp_pdf.index
    seg_pdf = segments.toPandas()
    assert seg_pdf["probe_id"].is_unique  # no probe both placed and NA
    seg_pdf = seg_pdf.set_index("probe_id")
    assert "cgX0005" not in seg_pdf.index
    na = ["cgX0002", "cgX0003", "cgX0004", "cgX0006"]
    last = seg_pdf.drop(index=na)["segment_id"].max()
    assert seg_pdf.loc[na, "segment_id"].tolist() == [last + 1, last + 2, last + 3, last + 4]
    dmr_pdf = dmr_df.toPandas()
    assert dmr_pdf["sample_type[T.PREC]_p_value"].isna().any()
    for table in (dmp_pdf, dmr_pdf):
        for fname in ("Intercept", "sample_type[T.PREC]"):
            if f"{fname}_p_value_adjusted" not in table.columns:
                continue
            raw = table[f"{fname}_p_value"].to_numpy(dtype=float)
            adj = table[f"{fname}_p_value_adjusted"].to_numpy(dtype=float)
            np.testing.assert_array_equal(np.isnan(adj), np.isnan(raw))
            np.testing.assert_allclose(adj, numpy_bh(raw), rtol=1e-12)


@pytest.fixture(scope="module")
def dmr_inputs(spark):
    """Two chromosomes; on chr1 two clearly-separated beta clusters."""
    rows, coords = [], []
    for p in range(40):
        chrom = "1" if p < 30 else "2"
        start = 1000 * (p if p < 30 else p - 30)
        coords.append((f"cg{p:05d}", chrom, start, start + 2))
        for i, s in enumerate(SAMPLES):
            # chr1: probes 0-14 near 0.2, probes 15-29 near 0.8 => one big jump
            if p < 15:
                val = 0.2 + 0.001 * p + 0.001 * i
            elif p < 30:
                val = 0.8 + 0.001 * p + 0.001 * i
            else:
                val = 0.5 + 0.001 * i
            rows.append((s, f"cg{p:05d}", float(val)))
    betas = spark.createDataFrame(rows, "sample string, probe_id string, beta double")
    granges = spark.createDataFrame(
        coords, "probe_id string, chromosome string, start long, end long"
    )
    return betas, granges


def test_compute_dmr_segments(spark, dmr_inputs, betas_df):
    betas, granges = dmr_inputs
    dmps, contrasts = dm.compute_dmp(betas, SHEET, "~ sample_type")
    segments, dmr_df = dm.compute_dmr(
        betas, dmps, granges, contrasts, dist_cutoff=0.1
    )
    seg_pdf = segments.toPandas().set_index("probe_id").sort_index()
    # probes 0-14 share a segment; 15-29 share another; chr2 separate
    seg_a = set(seg_pdf.loc[[f"cg{p:05d}" for p in range(15)], "segment_id"])
    seg_b = set(seg_pdf.loc[[f"cg{p:05d}" for p in range(15, 30)], "segment_id"])
    seg_c = set(seg_pdf.loc[[f"cg{p:05d}" for p in range(30, 40)], "segment_id"])
    assert len(seg_a) == 1 and len(seg_b) == 1 and len(seg_c) == 1
    assert seg_a != seg_b and seg_b != seg_c and seg_a != seg_c

    dmr_pdf = dmr_df.toPandas().set_index("segment_id")
    sa = seg_a.pop()
    assert dmr_pdf.loc[sa, "start"] == 0
    assert dmr_pdf.loc[sa, "end"] == 14 * 1000 + 2
    assert dmr_pdf.loc[sa, "chromosome"] == "1"
    # combined p-values in [0,1], adjusted >= raw is NOT guaranteed by BH,
    # but both must be valid probabilities
    pcol = "sample_type[T.PREC]_p_value"
    assert ((dmr_pdf[pcol].dropna() >= 0) & (dmr_pdf[pcol].dropna() <= 1)).all()
    assert (
        (dmr_pdf[f"{pcol}_adjusted"].dropna() >= 0)
        & (dmr_pdf[f"{pcol}_adjusted"].dropna() <= 1)
    ).all()


def test_compute_dmr_job_count(spark):
    """``compute_dmr`` plus one collect of each result runs at most 35 Spark
    jobs here: the probe axis is ordered by plain windows, so no count sizes
    a dispatch to the two-phase ordered ops (38 jobs with those counts).
    The inputs are this test's own: a ``persist`` left by another call over
    the same plan would serve part of the work and hide jobs."""
    rng = np.random.RandomState(5)
    rows, coords = [], []
    for p in range(45):
        pid = f"cj{p:05d}"
        chrom = None if p == 44 else str(1 + p // 15)  # one unplaced probe
        coords.append((pid, chrom, 500 * p, 500 * p + 2))
        for i, smp in enumerate(SAMPLES):
            level = 0.3 + 0.4 * ((p // 6) % 2) + 0.05 * (i >= 3)
            rows.append((smp, pid, float(level + rng.normal(0, 0.01))))
    betas = spark.createDataFrame(rows, "sample string, probe_id string, beta double")
    granges = spark.createDataFrame(
        coords, "probe_id string, chromosome string, start long, end long"
    )
    dmps, contrasts = dm.compute_dmp(betas, SHEET, "~ sample_type")
    sc = spark.sparkContext
    sc.setJobGroup("compute-dmr-jobs", "compute_dmr job guard")
    try:
        segments, dmr_df = dm.compute_dmr(betas, dmps, granges, contrasts)
        dmr_df.collect()
        segs = segments.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("compute-dmr-jobs"))
    assert n_jobs <= 35, n_jobs
    # the unplaced probe gets the id after the last placed segment
    ids = {r.probe_id: r.segment_id for r in segs}
    assert ids["cj00044"] == max(v for k, v in ids.items() if k != "cj00044") + 1


@pytest.fixture(scope="module")
def multi_contrast_dmr(spark):
    """Four contrasts: a 3-level factor, a 2-level factor and a covariate
    over 12 samples; blocks of 5 probes share a level, so the probes
    segment in fives. One probe has a single beta (NULL p), one only NULL
    betas (an NA segment)."""
    rng = np.random.RandomState(11)
    samples = [f"m{i:02d}" for i in range(12)]
    sheet = pd.DataFrame({
        "sample": samples,
        "grp": ["a", "b", "c"] * 4,
        "sex": ["F"] * 6 + ["M"] * 6,
        "age": rng.uniform(20, 70, 12).round(1),
    })
    rows, coords = [], []
    for p in range(60):
        chrom, pos = ("1", p) if p < 40 else ("2", p - 40)
        pid = f"cg{p:05d}"
        coords.append((pid, chrom, 1000 * pos, 1000 * pos + 2))
        base = 0.15 + 0.6 * ((p // 5) % 2) + 0.02 * (p // 10)
        effect = {"a": 0.0, "b": 0.03 * (p % 3), "c": 0.05 * (p % 2)}
        for i, smp in enumerate(samples):
            beta = float(base + effect[sheet["grp"][i]] + rng.normal(0, 0.01))
            if pid == "cg00052" or (pid == "cg00007" and i > 0):
                beta = None
            rows.append((smp, pid, beta))
    betas = spark.createDataFrame(rows, "sample string, probe_id string, beta double")
    granges = spark.createDataFrame(
        coords, "probe_id string, chromosome string, start long, end long"
    )
    dmps, contrasts = dm.compute_dmp(betas, sheet, "~ grp + sex + age")
    segments, dmr_df = dm.compute_dmr(betas, dmps, granges, contrasts, dist_cutoff=0.1)
    return betas, granges, dmps, contrasts, segments, dmr_df


def _numpy_stouffer(p):
    """Stouffer combine of the non-null ``p`` (reference dm.py:27-37)."""
    from math import erfc, sqrt
    from statistics import NormalDist

    p = p[~np.isnan(p)]
    if len(p) <= 1:
        return p[0] if len(p) else np.nan
    z = sum(-NormalDist().inv_cdf(v) for v in p) / sqrt(len(p))
    return 0.5 * erfc(z / sqrt(2))


def test_compute_dmr_contrasts_match_per_contrast_oracle(spark, multi_contrast_dmr):
    """Every contrast's DMR p-value is the Stouffer combine of its probes'
    p-values, and its adjusted p-value is BH over the segments, as if each
    contrast were computed alone; the columns come in contrast order."""
    betas, granges, dmps, contrasts, segments, dmr_df = multi_contrast_dmr
    assert contrasts == ["grp[T.b]", "grp[T.c]", "sex[T.M]", "age"]
    p_cols = [f"{c}_p_value{s}" for c in contrasts for s in ("", "_adjusted")]
    assert dmr_df.columns[-len(p_cols):] == p_cols
    merged = segments.toPandas().merge(dmps.toPandas(), on="probe_id", how="left")
    got = dmr_df.toPandas().set_index("segment_id").sort_index()
    assert got.index.is_unique and len(got) == 13  # 12 blocks + 1 NA segment
    for c in contrasts:
        expected = merged.groupby("segment_id")[f"{c}_p_value"].apply(
            lambda s: _numpy_stouffer(s.to_numpy(dtype=float))
        ).sort_index()
        raw = got[f"{c}_p_value"].to_numpy(dtype=float)
        adj = got[f"{c}_p_value_adjusted"].to_numpy(dtype=float)
        np.testing.assert_array_equal(np.isnan(raw), np.isnan(expected.to_numpy()))
        np.testing.assert_allclose(raw, expected.to_numpy(), rtol=1e-6)
        np.testing.assert_allclose(adj, numpy_bh(raw), rtol=1e-12)
        np.testing.assert_array_equal(np.isnan(adj), np.isnan(raw))
    # no contrast, no p-value columns
    _segs, bare = dm.compute_dmr(betas, dmps, granges, [], dist_cutoff=0.1)
    assert bare.columns == dmr_df.columns[: -len(p_cols)]


def test_compute_dmr_plan_size_does_not_grow_with_contrasts(spark, multi_contrast_dmr):
    """One long contrast table keeps the 4-contrast dmr plan's generated code
    near 1 MB with every method JIT-compilable. A Stouffer aggregate, join
    and BH pass per contrast made it about 9 MB."""
    dmr_df = multi_contrast_dmr[-1]
    chars, method = codegen_size(spark, dmr_df)
    assert chars < 2_000_000, chars
    assert method < 8_000, method


def test_stouffer_combine_returns_group_cols_and_result(spark):
    from pylluminator_spark.functions.stats import stouffer_combine

    df = spark.createDataFrame(
        [(1, "x", 0.03, 7), (2, "x", 0.2, 7), (2, "x", 0.4, 7)],
        "seg long, c string, p double, other long",
    )
    assert stouffer_combine(df, ["seg", "c"], "p", "q").columns == ["seg", "c", "q"]


def test_stouffer_single_probe_segment_keeps_p(spark):
    """A one-probe segment keeps its p-value (reference dm.py:33-34)."""
    from pylluminator_spark.functions.stats import stouffer_combine

    df = spark.createDataFrame(
        [(1, 0.03), (2, 0.2), (2, 0.4)], "seg long, p double"
    )
    got = {
        r["seg"]: r["p_combined"]
        for r in stouffer_combine(df, ["seg"], "p").collect()
    }
    assert got[1] == pytest.approx(0.03, abs=1e-12)
    # two-p combine: z = (isf(0.2)+isf(0.4))/sqrt(2); p = sf(z)
    z = (0.8416212335729143 + 0.2533471031357997) / np.sqrt(2)
    from math import erfc, sqrt

    expected = 0.5 * erfc(z / sqrt(2))
    assert got[2] == pytest.approx(expected, rel=1e-6)


def test_select_dmps(betas_df):
    dmps, _ = dm.compute_dmp(betas_df, SHEET, "~ sample_type")
    sel = dm.select_dmps(dmps, effect_size_th=0.2, p_value_th=0.05)
    assert 0 < sel.count() <= dmps.count()


def test_dm_facade_end_to_end(spark, betas_df):
    ranges = spark.createDataFrame(
        pd.DataFrame(
            {
                "probe_id": [f"cg{i:05d}" for i in range(80)],
                "chromosome": ["chr1"] * 40 + ["chr2"] * 40,
                "start": [100 * (i % 40) + 1 for i in range(80)],
                "end": [100 * (i % 40) + 50 for i in range(80)],
            }
        )
    )
    ann = spark.createDataFrame(
        pd.DataFrame(
            {
                "probe_id": [f"cg{i:05d}" for i in range(80)],
                "genes": [f"G{i % 9}" for i in range(80)],
            }
        )
    )
    model = dm.DM(betas_df, SHEET, "~ sample_type", genomic_ranges=ranges)
    assert model.contrasts == ["sample_type[T.PREC]"]
    assert model.dmp.count() == 80
    top = model.get_top_dmp(ann, n_dms=5, pval_threshold=1.1)
    assert top.count() == 5
    dmr = model.compute_dmr(seg_per_locus=0.5)
    assert model.segments is not None
    assert dmr.filter(F.col("`sample_type[T.PREC]_p_value_adjusted`").isNotNull()).count() > 0
    top_r = model.get_top_dmr(ann, n_dms=3, pval_threshold=1.1)
    rows = top_r.collect()
    assert len(rows) == 3 and "genes" in top_r.columns
    # default-contrast resolution + select_dmps passthrough
    assert model.select_dmps(p_value_th=1.1).count() == 80
    with pytest.raises(ValueError):
        dm.DM(betas_df, SHEET, "~ sample_type").compute_dmr()


def test_get_top_dmp_matches_pandas(spark, betas_df):
    dmps, contrasts = dm.compute_dmp(betas_df, SHEET, "~ sample_type")
    contrast = contrasts[0]
    # annotation with ';'-packed genes; probe cg00007 maps to two rows
    ann = spark.createDataFrame(
        pd.DataFrame(
            {
                "probe_id": [f"cg{i:05d}" for i in range(80)] + ["cg00007"],
                "genes": [f"G{i % 7};G{(i + 1) % 7}" for i in range(80)]
                + ["G1;G9"],
            }
        )
    )
    top = dm.get_top_dm(
        dmps, contrast, ann, n_dms=10, pval_threshold=0.05
    ).toPandas()
    assert len(top) == 10
    # pandas oracle for membership + gene merge
    pdf = dmps.toPandas()
    pcol = f"{contrast}_p_value_adjusted"
    expected = (
        pdf[pdf[pcol] < 0.05]
        .dropna(subset=[pcol])
        .sort_values([pcol, "probe_id"])
        .head(10)
    )
    assert sorted(top["probe_id"]) == sorted(expected["probe_id"])
    # ordered by adjusted p ascending
    assert top[pcol].tolist() == sorted(top[pcol].tolist())
    for _, r in top.iterrows():
        i = int(r["probe_id"][2:])
        genes = {f"G{i % 7}", f"G{(i + 1) % 7}"} | ({"G1", "G9"} if i == 7 else set())
        assert set(r["genes"].split(";")) == genes, r["probe_id"]


def test_get_top_dmr_merges_genes_per_segment(spark, betas_df):
    dmps, contrasts = dm.compute_dmp(betas_df, SHEET, "~ sample_type")
    contrast = contrasts[0]
    # 2 probes per segment, segment stats = dmp stats renamed
    segs = spark.createDataFrame(
        pd.DataFrame(
            {
                "probe_id": [f"cg{i:05d}" for i in range(80)],
                "segment_id": [i // 2 for i in range(80)],
            }
        )
    )
    dmrs = (
        dmps.withColumn("segment_id", (F.regexp_replace("probe_id", "cg", "").cast("int") / 2).cast("long"))
        .groupBy("segment_id")
        .agg(
            F.avg(f"`{contrast}_p_value_adjusted`").alias(
                f"{contrast}_p_value_adjusted"
            ),
            F.avg(f"`{contrast}_avg_beta_delta`").alias(
                f"{contrast}_avg_beta_delta"
            ),
        )
        .withColumn("chromosome", F.lit("chr1"))
    )
    top = dm.get_top_dm(
        dmrs,
        contrast,
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "probe_id": [f"cg{i:05d}" for i in range(80)],
                    "genes": [f"G{i}" for i in range(80)],
                }
            )
        ),
        kind="dmr",
        segments=segs,
        n_dms=5,
        pval_threshold=1.1,
        sort_by="effect_size",
    ).toPandas()
    assert len(top) == 5
    # each segment's genes = union over its 2 probes; sorted by |delta| desc
    for _, r in top.iterrows():
        sid = int(r["segment_id"])
        assert set(r["genes"].split(";")) == {f"G{2 * sid}", f"G{2 * sid + 1}"}
    deltas = top[f"{contrast}_avg_beta_delta"].abs().tolist()
    assert deltas == sorted(deltas, reverse=True)
    assert "probe_id" not in top.columns


# ---------------------------------------------------------------------------
# MixedLM (K9 random-intercept path, reference dm.py:61-67)
# ---------------------------------------------------------------------------

def test_mixedlm_balanced_one_way_closed_form():
    """Balanced one-way design: REML has a closed form (sigma_e^2 = MSE,
    sigma_u^2 = (MSB - MSE)/m); the profiled-lambda kernel must recover the
    grand mean and its exact standard error sqrt(MSB/n) on interior probes."""
    rng = np.random.RandomState(7)
    G, m = 6, 5
    n = G * m
    codes = np.repeat(np.arange(G), m)
    p = 120
    u = rng.normal(0, 0.8, (p, G))
    y = 2.0 + u[:, codes] + rng.normal(0, 0.5, (p, n))
    x = np.ones((n, 1))
    coef, se, t, pv = dm.mixedlm_fit_patterns(y, x, codes)

    gm = y.reshape(p, G, m)
    group_means = gm.mean(axis=2)
    grand = y.mean(axis=1)
    mse = ((gm - group_means[:, :, None]) ** 2).sum(axis=(1, 2)) / (n - G)
    msb = m * ((group_means - grand[:, None]) ** 2).sum(axis=1) / (G - 1)
    interior = (msb - mse) / m > 1e-4  # away from the sigma_u^2 = 0 boundary
    assert interior.sum() > p * 0.8
    np.testing.assert_allclose(coef[:, 0], grand, rtol=1e-9)
    np.testing.assert_allclose(
        se[interior, 0], np.sqrt(msb[interior] / n), rtol=1e-5
    )
    # Wald z p-values
    np.testing.assert_allclose(
        pv[:, 0], dm.norm_sf_two_sided(coef[:, 0] / se[:, 0]), rtol=1e-12
    )


def test_mixedlm_matches_dense_v_reference():
    """The group-sum (Sherman-Morrison) kernel must agree with a brute-force
    dense-V REML fit (explicit n x n inverse, fine lambda grid)."""
    rng = np.random.RandomState(11)
    G, m, k = 5, 4, 2
    n = G * m
    codes = np.repeat(np.arange(G), m)
    x = np.column_stack([np.ones(n), rng.normal(size=n)])
    p = 6
    y = (
        (x @ np.array([1.0, 0.5]))[None, :]
        + rng.normal(0, 0.7, (p, G))[:, codes]
        + rng.normal(0, 0.4, (p, n))
    )
    coef, se, _, _ = dm.mixedlm_fit_patterns(y, x, codes)

    z = np.zeros((n, G))
    z[np.arange(n), codes] = 1.0
    lams = np.concatenate([[0.0], np.logspace(-5, 5, 4001)])
    for i in range(p):
        best = (np.inf, None, None)
        for lam in lams:
            v = np.eye(n) + lam * (z @ z.T)
            vi = np.linalg.inv(v)
            xtvx = x.T @ vi @ x
            beta = np.linalg.solve(xtvx, x.T @ vi @ y[i])
            r = y[i] - x @ beta
            s2 = r @ vi @ r / (n - k)
            crit = (
                (n - k) * np.log(s2)
                + np.linalg.slogdet(v)[1]
                + np.linalg.slogdet(xtvx)[1]
            )
            if crit < best[0]:
                best = (
                    crit,
                    beta,
                    np.sqrt(s2 * np.diag(np.linalg.inv(xtvx))),
                )
        np.testing.assert_allclose(coef[i], best[1], atol=2e-4)
        np.testing.assert_allclose(se[i], best[2], atol=2e-3)


def test_compute_dmp_mixedlm_end_to_end(spark):
    """compute_dmp(group_column=...) runs the mixed path end-to-end:
    f_pvalue NaN (reference returns None), Wald p-values in [0,1], signal
    probes detected, NA probes routed through the per-pattern path."""
    rng = np.random.RandomState(3)
    donors = ["d0", "d0", "d1", "d1", "d2", "d2", "d3", "d3"]
    samples = [f"r{i}" for i in range(8)]
    sheet = pd.DataFrame(
        {
            "sample": samples,
            "sample_type": ["LNCAP", "PREC"] * 4,
            "donor": donors,
        }
    )
    rows = []
    for p in range(40):
        base = rng.uniform(0.3, 0.6)
        delta = 0.25 if p < 10 else 0.0
        donor_fx = {d: rng.normal(0, 0.05) for d in set(donors)}
        for s, st, d in zip(samples, sheet["sample_type"], donors):
            val = base + (delta if st == "PREC" else 0) + donor_fx[d]
            val += rng.normal(0, 0.01)
            if p == 3 and s == "r5":
                rows.append((s, f"cg{p:05d}", None))
            else:
                rows.append((s, f"cg{p:05d}", float(np.clip(val, 0, 1))))
    betas = spark.createDataFrame(
        rows, "sample string, probe_id string, beta double"
    )
    dmps, contrasts = dm.compute_dmp(
        betas, sheet, "~ sample_type", group_column="donor"
    )
    assert contrasts == ["sample_type[T.PREC]"]
    got = dmps.toPandas().set_index("probe_id")
    assert len(got) == 40
    # mixed fits have no F p-value (reference dm.py:80-83)
    assert got["f_pvalue"].isna().all()
    pcol = "sample_type[T.PREC]_p_value"
    assert got[pcol].between(0, 1).all()
    assert f"{pcol}_adjusted" in got.columns or "sample_type[T.PREC]_p_value_adjusted" in got.columns
    # estimates recover the injected group delta
    est = got["sample_type[T.PREC]_estimate"]
    assert est[[f"cg{p:05d}" for p in range(10)]].mean() == pytest.approx(
        0.25, abs=0.05
    )
    assert est[[f"cg{p:05d}" for p in range(10, 40)]].abs().mean() < 0.05
    # the NA probe still gets a finite estimate (pattern path)
    assert np.isfinite(got.loc["cg00003", "sample_type[T.PREC]_estimate"])
    # signal probes significant after BH
    adj = got["sample_type[T.PREC]_p_value_adjusted"]
    assert (adj[[f"cg{p:05d}" for p in range(10)]] < 0.05).all()
