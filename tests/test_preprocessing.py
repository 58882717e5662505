"""Preprocessing kernel tests: each transform checked against an independent
numpy implementation of the reference semantics (golden-value strategy of
SURVEY §5.2 at synthetic scale)."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pylluminator_spark import preprocessing as pp

N_T1G, N_T1R, N_T2, N_NEG, N_NORM = 60, 70, 150, 40, 10
SAMPLES = ["sA", "sB"]


@pytest.fixture(scope="module")
def signal_pdf() -> pd.DataFrame:
    rng = np.random.RandomState(11)
    rows = []
    for sample_i, sample in enumerate(SAMPLES):
        scale = 1.0 + 0.2 * sample_i

        def intensity(n, lo, hi):
            return (rng.uniform(lo, hi, n) * scale).astype("float32")

        for i in range(N_T1G):
            rows.append(
                dict(sample=sample, probe_id=f"cg1G{i:04d}", type="I", channel="G",
                     probe_type="cg", mask_info="",
                     mg=float(intensity(1, 800, 4000)[0]), mr=float(intensity(1, 50, 300)[0]),
                     ug=float(intensity(1, 700, 3500)[0]), ur=float(intensity(1, 40, 280)[0])))
        for i in range(N_T1R):
            rows.append(
                dict(sample=sample, probe_id=f"cg1R{i:04d}", type="I", channel="R",
                     probe_type="cg", mask_info="M_nonuniq" if i % 13 == 0 else "",
                     mg=float(intensity(1, 60, 320)[0]), mr=float(intensity(1, 900, 4200)[0]),
                     ug=float(intensity(1, 50, 310)[0]), ur=float(intensity(1, 850, 4100)[0])))
        for i in range(N_T2):
            rows.append(
                dict(sample=sample, probe_id=f"cg2{i:05d}", type="II", channel=None,
                     probe_type="cg", mask_info="",
                     mg=float(intensity(1, 500, 5000)[0]), mr=None,
                     ug=None, ur=float(intensity(1, 450, 4800)[0])))
        for i in range(N_NEG):
            rows.append(
                dict(sample=sample, probe_id=f"ctl_negative_{i:03d}", type="II",
                     channel=None, probe_type="ctl", mask_info="",
                     mg=float(intensity(1, 30, 200)[0]), mr=None,
                     ug=None, ur=float(intensity(1, 25, 190)[0])))
        for i in range(N_NORM):
            pid = f"ctl_norm_c_{i:02d}" if i % 2 == 0 else f"ctl_norm_t_{i:02d}"
            rows.append(
                dict(sample=sample, probe_id=pid, type="II", channel=None,
                     probe_type="ctl", mask_info="",
                     mg=float(intensity(1, 1000, 1500)[0]), mr=None,
                     ug=None, ur=float(intensity(1, 950, 1450)[0])))
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def signal(spark, signal_pdf):
    return spark.createDataFrame(signal_pdf).cache()


def _ib_values(pdf: pd.DataFrame) -> np.ndarray:
    non_ctl = pdf[pdf.probe_type != "ctl"]
    m = np.where(non_ctl.type == "II", non_ctl.mg,
                 np.where(non_ctl.channel == "G", non_ctl.mg, non_ctl.mr))
    u = np.where(non_ctl.type == "II", non_ctl.ur,
                 np.where(non_ctl.channel == "G", non_ctl.ug, non_ctl.ur))
    return np.concatenate([m, u])


def test_mean_ib_intensity(signal, signal_pdf):
    got = {r["sample"]: r["mean_ib"] for r in pp.mean_ib_intensity(signal).collect()}
    for sample in SAMPLES:
        vals = _ib_values(signal_pdf[signal_pdf["sample"] == sample])
        assert got[sample] == pytest.approx(np.nanmean(vals), rel=1e-6)


def test_total_ib_intensity(signal, signal_pdf):
    got = pp.total_ib_intensity(signal).toPandas().set_index(["sample", "probe_id"])
    sub = signal_pdf[signal_pdf["sample"] == "sA"].head(40)
    for _, row in sub.iterrows():
        if row.type == "II":
            exp = (row.mg or 0) + (row.ur or 0)
        elif row.channel == "G":
            exp = (row.mg or 0) + (row.ug or 0)
        else:
            exp = (row.mr or 0) + (row.ur or 0)
        exp = None if exp == 0 else exp
        val = got.loc[("sA", row.probe_id), "total_ib"]
        if exp is None:
            assert pd.isna(val)
        else:
            assert val == pytest.approx(exp, rel=1e-6)


def test_infer_type1_channel_switches(spark, signal):
    """A type-I G probe whose red signal dominates must switch to R
    (tie -> R, reference samples.py:940-1011)."""
    new_signal, summary, failed = pp.infer_type1_channel(signal, switch_failed=True)
    sw = (
        new_signal.filter((F.col("type") == "I"))
        .select("probe_id", "channel")
        .distinct()
        .toPandas()
        .set_index("probe_id")
    )
    # G probes have green >> red in the fixture -> stay G; R stay R
    assert (sw.loc[[f"cg1G{i:04d}" for i in range(5)], "channel"] == "G").all()
    assert (sw.loc[[f"cg1R{i:04d}" for i in range(5)], "channel"] == "R").all()
    total = sum(r["n"] for r in summary.collect())
    assert total == N_T1G + N_T1R


def test_infer_type1_channel_flipped_probe(spark, signal_pdf):
    pdf = signal_pdf.copy()
    # flip one G probe's intensities so red dominates in both samples
    flip = pdf.probe_id == "cg1G0000"
    pdf.loc[flip, ["mr", "ur"]] = 9000.0
    sig = pytest.importorskip("pyspark").sql.SparkSession.getActiveSession().createDataFrame(pdf)
    new_signal, _, _ = pp.infer_type1_channel(sig, switch_failed=True)
    got = (
        new_signal.filter(F.col("probe_id") == "cg1G0000")
        .select("channel")
        .distinct()
        .collect()
    )
    assert [r["channel"] for r in got] == ["R"]


def test_session_infer_channel_masks_failed_probes(spark, signal_pdf):
    """``mask_failed`` masks the probes the channel inference fails on as
    'failed_probes_inferTypeI' (reference samples.py:940-1011)."""
    from pylluminator_spark.plans.session import MethylSession

    pdf = signal_pdf.copy()
    # max signal below the background's 95th percentile -> failed
    pdf.loc[pdf.probe_id == "cg1G0003", ["mg", "mr", "ug", "ur"]] = 1.0
    sess = MethylSession(spark=spark, signal=spark.createDataFrame(pdf))
    masks = sess.infer_type1_channel(mask_failed=True).masks
    assert masks is not None
    assert {tuple(r) for r in masks.collect()} == {
        ("failed_probes_inferTypeI", None, "cg1G0003")
    }
    assert sess.infer_type1_channel().masks is None


def test_dye_bias_linear(signal, signal_pdf):
    corrected = pp.dye_bias_correction_l(signal).toPandas()
    for sample in SAMPLES:
        pdf = signal_pdf[signal_pdf["sample"] == sample]
        ref = np.nanmean(_ib_values(pdf))
        t1g = pdf[(pdf.type == "I") & (pdf.channel == "G")]
        med_g = np.nanmedian(np.concatenate([t1g.mg, t1g.ug]))
        f_g = ref / med_g
        got = corrected[(corrected["sample"] == sample)].set_index("probe_id")
        orig = pdf.set_index("probe_id")
        pid = "cg1G0003"
        assert got.loc[pid, "mg"] == pytest.approx(orig.loc[pid, "mg"] * f_g, rel=1e-5)


def test_dye_bias_control_based(signal, signal_pdf):
    corrected = pp.dye_bias_correction(signal).toPandas()
    pdf = signal_pdf[signal_pdf["sample"] == "sA"]
    ref = np.nanmean(_ib_values(pdf))
    norm_g = pdf[pdf.probe_id.str.contains("norm_c")]["mg"].mean()
    f_g = ref / norm_g
    got = corrected[corrected["sample"] == "sA"].set_index("probe_id")
    orig = pdf.set_index("probe_id")
    pid = "cg1G0007"
    assert got.loc[pid, "mg"] == pytest.approx(orig.loc[pid, "mg"] * f_g, rel=1e-5)


def test_dye_bias_missing_red_controls_keeps_both_channels(spark, signal_pdf):
    """A sample without red norm controls has no red factor, so neither
    channel is scaled; the other sample still is."""
    no_red = signal_pdf[signal_pdf["sample"] == "sA"].copy()
    no_red = no_red[~no_red.probe_id.str.contains("norm_t")]
    no_red["sample"] = "sN"
    pdf = pd.concat([signal_pdf[signal_pdf["sample"] == "sA"], no_red])
    cells = ["mg", "ug", "mr", "ur"]
    got = (
        pp.dye_bias_correction(spark.createDataFrame(pdf))
        .toPandas()
        .set_index(["sample", "probe_id"])[cells]
    )
    orig = pdf.set_index(["sample", "probe_id"])[cells].astype("float64")
    pd.testing.assert_frame_equal(got.loc["sN"].sort_index(), orig.loc["sN"].sort_index())
    assert not np.allclose(got.loc["sA"].sort_index(), orig.loc["sA"].sort_index())


def test_dye_bias_nl_midpoint_property(signal, signal_pdf):
    """Non-linear dye bias moves each channel toward the other: after
    correction the per-sample channel medians must be closer together
    (reference samples.py:1340-1427)."""
    corrected = pp.dye_bias_correction_nl(signal).toPandas()
    for sample in SAMPLES:
        pdf = signal_pdf[signal_pdf["sample"] == sample]
        cor = corrected[corrected["sample"] == sample]

        def chan_med(df, ch):
            t1 = df[(df.type == "I") & (df.channel == ch)]
            cols = ["mg", "ug"] if ch == "G" else ["mr", "ur"]
            return np.nanmedian(np.concatenate([t1[cols[0]], t1[cols[1]]]))

        gap_before = abs(chan_med(pdf, "G") - chan_med(pdf, "R"))
        gap_after = abs(chan_med(cor, "G") - chan_med(cor, "R"))
        assert gap_after < gap_before


def _numpy_huber(values, k=1.5, tol=1e-6):
    values = values[~np.isnan(values)]
    mu = np.median(values)
    sigma = np.median(np.abs(values - mu)) / 0.6745
    if sigma == 0:
        return None, None
    while True:
        clipped = np.clip(values, mu - k * sigma, mu + k * sigma)
        mu_new = clipped.mean()
        if abs(mu - mu_new) < tol * sigma:
            break
        mu = mu_new
    return mu, sigma


def test_noob_fit_params(signal, signal_pdf):
    params = pp.noob_fit_params(signal).toPandas().set_index("sample")
    pdf = signal_pdf[signal_pdf["sample"] == "sA"]
    # reproduce the G-channel background: OOB of R probes + neg controls
    t1r = pdf[(pdf.type == "I") & (pdf.channel == "R") & (pdf.mask_info == "")]
    neg = pdf[pdf.probe_id.str.contains("negative")]
    bg = np.concatenate([t1r.mg, t1r.ug, neg.mg.dropna()])
    bg = bg[~np.isnan(bg)]
    bg[bg == 0] = 1
    q1, q3 = np.percentile(bg, [25, 75])
    bg = bg[bg < np.median(bg) + 10 * (q3 - q1)]
    mu, sigma = _numpy_huber(bg)
    got = params.loc["sA"]
    assert got["mu_g"] == pytest.approx(mu, rel=1e-6)
    assert got["sigma_g"] == pytest.approx(sigma, rel=1e-6)
    assert got["alpha_g"] >= 10


def test_noob_correction_matches_numpy(signal, signal_pdf):
    params = pp.noob_fit_params(signal).toPandas().set_index("sample")
    corrected = pp.noob_background_correction(signal, offset=15).toPandas()
    mu, sigma, alpha = params.loc["sA"][["mu_g", "sigma_g", "alpha_g"]]

    def numpy_convolution(x):
        var = sigma * sigma
        shifted = x - mu - var / alpha
        # logpdf(0; shifted, sigma) - logsf(0; shifted, sigma)
        z = (0 - shifted) / sigma
        logpdf = -0.5 * z * z - np.log(sigma) - 0.9189385332046727
        from math import erfc
        sf = np.array([0.5 * erfc(zz / np.sqrt(2)) for zz in np.atleast_1d(z)])
        logsf = np.log(sf)
        adjusted = shifted + var * np.exp(logpdf - logsf)
        return np.clip(adjusted, 1e-6, None) + 15

    orig = signal_pdf[signal_pdf["sample"] == "sA"].set_index("probe_id")
    got = corrected[corrected["sample"] == "sA"].set_index("probe_id")
    for pid in ["cg1G0001", "cg1R0002", "cg200001"]:
        x = orig.loc[pid, "mg"]
        if pd.isna(x):
            continue
        expected = numpy_convolution(np.array([x]))[0]
        assert got.loc[pid, "mg"] == pytest.approx(expected, rel=1e-5), pid


def test_scrub_background(signal, signal_pdf):
    corrected = pp.scrub_background_correction(signal).toPandas()
    pdf = signal_pdf[signal_pdf["sample"] == "sA"]
    t1r = pdf[(pdf.type == "I") & (pdf.channel == "R")]
    med_g = np.nanmedian(np.concatenate([t1r.mg, t1r.ug]))
    orig = pdf.set_index("probe_id")
    got = corrected[corrected["sample"] == "sA"].set_index("probe_id")
    pid = "cg1G0004"
    assert got.loc[pid, "mg"] == pytest.approx(
        max(orig.loc[pid, "mg"] - med_g, 1.0), rel=1e-6
    )


def test_poobah_matches_numpy_ecdf(signal, signal_pdf):
    pvals, mask = pp.poobah(signal, use_negative_controls=True, threshold=0.05)
    got = pvals.toPandas().set_index(["sample", "probe_id"])

    pdf = signal_pdf[signal_pdf["sample"] == "sA"]
    clean = pdf[~pdf.mask_info.str.contains("nonuniq", na=False)]
    t1 = clean[clean.type == "I"]
    neg = clean[clean.probe_id.str.contains("negative")]
    bg_g = np.concatenate(
        [t1[t1.channel == "R"].mg, t1[t1.channel == "R"].ug, neg.mg.dropna()]
    )
    bg_r = np.concatenate(
        [t1[t1.channel == "G"].mr, t1[t1.channel == "G"].ur, neg.ur.dropna()]
    )
    bg_g, bg_r = np.sort(bg_g[~np.isnan(bg_g)]), np.sort(bg_r[~np.isnan(bg_r)])

    def ecdf_p(bg, x):
        if np.isnan(x):
            return np.nan
        return 1.0 - np.searchsorted(bg, x, side="right") / len(bg)

    for _, row in pdf[pdf.probe_type != "ctl"].head(40).iterrows():
        g_val = np.nanmax([row.mg if row.mg is not None else np.nan,
                           row.ug if row.ug is not None else np.nan])
        r_val = np.nanmax([row.mr if row.mr is not None else np.nan,
                           row.ur if row.ur is not None else np.nan])
        p_expected = np.nanmin([ecdf_p(bg_g, g_val), ecdf_p(bg_r, r_val)])
        assert got.loc[("sA", row.probe_id), "p_value"] == pytest.approx(
            p_expected, abs=1e-9
        ), row.probe_id
    # mask rows are exactly those >= threshold
    n_mask = mask.count()
    assert n_mask == (got["p_value"] >= 0.05).sum()


# ---------------------------------------------------------------------------
# pOOBAH branches against a numpy ECDF over the whole p-value table
# ---------------------------------------------------------------------------

def _numpy_poobah(pdf: pd.DataFrame, use_negative_controls=True, masked=()):
    """{(sample, probe_id): p_value} by the reference semantics: background
    = OOB cells of type I probes (+ negative controls), non-unique and
    masked probes left out; a background summing to <= 100 is replaced by
    the uniform 0..999 prior; a channel without background gives no
    p-value, and a probe with no channel left gets no row."""
    masked = set(masked)
    out = {}
    for sample, sp in pdf.groupby("sample"):
        keep = sp[
            ~sp.mask_info.map(lambda m: bool(re.search(pp.NON_UNIQUE_MASK_PATTERN, m or "")))
            & ~sp.probe_id.map(lambda p: (sample, p) in masked)
        ]
        t1 = keep[keep.type == "I"]
        is_neg = (keep.probe_type == "ctl") & keep.probe_id.str.contains("negative")
        neg = keep[is_neg if use_negative_controls else np.zeros(len(keep), bool)]
        bgs = {}
        for ch, other, cells in (("G", "R", ["mg", "ug"]), ("R", "G", ["mr", "ur"])):
            src = pd.concat([t1[t1.channel == other], neg])
            bg = src[cells].to_numpy(dtype=float).ravel()
            bg = np.sort(bg[~np.isnan(bg)])
            if len(bg) and bg.sum() <= 100:
                bg = np.arange(1000, dtype=float)
            bgs[ch] = bg
        for _, row in sp.iterrows():
            ps = []
            for ch, cells in (("G", ["mg", "ug"]), ("R", ["mr", "ur"])):
                if not len(bgs[ch]):
                    continue
                vals = np.array([row[c] for c in cells], dtype=float)
                if np.isnan(vals).all():
                    ps.append(np.nan)
                    continue
                x = np.nanmax(vals)
                ps.append(1.0 - np.searchsorted(bgs[ch], x, side="right") / len(bgs[ch]))
            if ps:
                out[(sample, row.probe_id)] = np.nanmin(ps) if not np.isnan(ps).all() else np.nan
    return out


def _assert_pvalues(pvals, expected):
    got = {(r["sample"], r["probe_id"]): r["p_value"] for r in pvals.collect()}
    assert set(got) == set(expected)
    for key, want in expected.items():
        if np.isnan(want):
            assert got[key] is None, key
        else:
            assert got[key] == pytest.approx(want, abs=1e-12), key


def _signal_rows(sample, probes):
    """(probe_id, type, channel, probe_type, mg, mr, ug, ur) -> rows."""
    return [
        dict(sample=sample, probe_id=p, type=t, channel=c, probe_type=pt,
             mask_info="", mg=mg, mr=mr, ug=ug, ur=ur)
        for p, t, c, pt, mg, mr, ug, ur in probes
    ]


def test_poobah_without_negative_controls(signal, signal_pdf):
    """``use_negative_controls=False`` leaves the negative controls out of
    the background (reference samples.py:1529-1607)."""
    pvals, _mask = pp.poobah(signal, use_negative_controls=False)
    _assert_pvalues(pvals, _numpy_poobah(signal_pdf, use_negative_controls=False))
    with_neg, _ = pp.poobah(signal)
    assert {tuple(r) for r in with_neg.collect()} != {tuple(r) for r in pvals.collect()}


def test_poobah_masked_probes_leave_background(spark, signal, signal_pdf):
    """Masked probes drop out of the background but still get p-values from
    their own cells; global and per-sample masks both count."""
    masked_pids = [f"cg1R{i:04d}" for i in range(1, 25)] + ["ctl_negative_003"]
    masks = spark.createDataFrame(
        [("m", None, p) for p in masked_pids] + [("m", "sB", "cg1G0002")],
        "mask_name string, sample string, probe_id string",
    )
    masked = {(s, p) for s in SAMPLES for p in masked_pids} | {("sB", "cg1G0002")}
    pvals, _mask = pp.poobah(signal, masks)
    _assert_pvalues(pvals, _numpy_poobah(signal_pdf, masked=masked))
    unmasked, _ = pp.poobah(signal)
    assert {tuple(r) for r in unmasked.collect()} != {tuple(r) for r in pvals.collect()}


def test_poobah_low_signal_prior_and_missing_background(spark):
    """Sample ``sL``: its green background sums to <= 100, so green p-values
    come from the uniform 0..999 prior (boundary values included); its red
    background is empirical. Sample ``sX`` has no red background, so its
    probes get green p-values only. Sample ``sY`` has no background at all,
    so its probes get no row."""
    low = [(f"cg1R{i:04d}", "I", "R", "cg", 0.5 + i, 800.0 + i, 1.5 + i, 900.0 + i)
           for i in range(8)]
    high = [(f"cg1G{i:04d}", "I", "G", "cg", 1200.0 + i, 40.0 + 17 * i, 1100.0, 55.0 + 11 * i)
            for i in range(10)]
    fg_vals = [0.0, 0.5, 1.0, 2.0, 998.9, 999.0, 999.5, 5000.0, 120.0]
    # green-only type II probes: their p-value is the green one
    t2 = [(f"cg2{i:05d}", "II", None, "cg", v, None, None, None)
          for i, v in enumerate(fg_vals)]
    t2.append(("cg2nulls", "II", None, "cg", None, None, None, None))
    rows = _signal_rows("sL", low + high + t2)
    rows += _signal_rows("sX", low + t2)
    rows += _signal_rows("sY", t2)
    pdf = pd.DataFrame(rows)
    signal = spark.createDataFrame(pdf)
    expected = _numpy_poobah(pdf)
    assert not any(s == "sY" for s, _p in expected)
    # the prior is in play: the green background of sL sums to <= 100
    assert expected[("sL", "cg200001")] == pytest.approx(1.0 - 1 / 1000)
    pvals, _mask = pp.poobah(signal)
    _assert_pvalues(pvals, expected)


def _executed_plan(spark, df):
    """``df``'s executed plan with AQE off, so the plan is final."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set(key, prev)


def test_noob_apply_codegen_stays_small(spark, signal):
    """The NOOB apply plan projects each shared subexpression of the
    norm-exp convolution once. With them inlined, this plan's generated
    Java is about 1 MB."""
    plan = _executed_plan(spark, pp.noob_background_correction(signal))
    code = spark._jvm.org.apache.spark.sql.execution.debug.package.codegenString(plan)
    assert len(code) < 300_000, len(code)


def test_noob_fits_once(spark, signal):
    """NOOB joins one parameter row per sample, so its plan runs the pandas
    fit once for both channels."""
    plan = _executed_plan(spark, pp.noob_background_correction(signal)).toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
