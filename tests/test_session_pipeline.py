"""MethylSession.run_pipeline over content-addressed stage manifests
(VERDICT r7 #6): the preprocessing chain as a Merkle pipeline — identical
results to the imperative ``preprocess`` chain, pure-cache on re-run, and
param changes recompute exactly the downstream stages (the reference's
``reset_betas`` invalidation, samples.py:1116-1120, made systematic)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pylluminator_spark.plans.manifest import PipelineManifest
from pylluminator_spark.plans.session import MethylSession

N_T1G, N_T1R, N_T2, N_NEG, N_NORM = 40, 45, 90, 30, 10
SAMPLES = ["sA", "sB"]


@pytest.fixture(scope="module")
def signal(spark):
    rng = np.random.RandomState(23)
    rows = []
    for sample_i, sample in enumerate(SAMPLES):
        scale = 1.0 + 0.15 * sample_i

        def val(lo, hi):
            return float((rng.uniform(lo, hi) * scale))

        for i in range(N_T1G):
            rows.append(dict(sample=sample, probe_id=f"cg1G{i:04d}", type="I",
                             channel="G", probe_type="cg", mask_info="",
                             mg=val(800, 4000), mr=val(50, 300),
                             ug=val(700, 3500), ur=val(40, 280)))
        for i in range(N_T1R):
            rows.append(dict(sample=sample, probe_id=f"cg1R{i:04d}", type="I",
                             channel="R", probe_type="cg", mask_info="",
                             mg=val(60, 320), mr=val(900, 4200),
                             ug=val(50, 310), ur=val(850, 4100)))
        for i in range(N_T2):
            rows.append(dict(sample=sample, probe_id=f"cg2{i:05d}", type="II",
                             channel=None, probe_type="cg", mask_info="",
                             mg=val(500, 5000), mr=None, ug=None,
                             ur=val(450, 4800)))
        for i in range(N_NEG):
            rows.append(dict(sample=sample, probe_id=f"ctl_negative_{i:03d}",
                             type="II", channel=None, probe_type="ctl",
                             mask_info="", mg=val(30, 200), mr=None, ug=None,
                             ur=val(25, 190)))
        for i in range(N_NORM):
            pid = f"ctl_norm_c_{i:02d}" if i % 2 == 0 else f"ctl_norm_t_{i:02d}"
            rows.append(dict(sample=sample, probe_id=pid, type="II",
                             channel=None, probe_type="ctl", mask_info="",
                             mg=val(1000, 1500), mr=None, ug=None,
                             ur=val(950, 1450)))
    return spark.createDataFrame(pd.DataFrame(rows)).cache()


def _betas_pdf(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["sample", "probe_id"])
        .reset_index(drop=True)
    )


def test_pipeline_matches_imperative_chain(spark, signal, tmp_path):
    sess = MethylSession(spark=spark, signal=signal)
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    piped, refs = sess.run_pipeline(m, source_fingerprint="fixture-v1")

    ref = sess.preprocess(
        infer_channel=True, dye_bias="linear", noob=True,
        poobah_threshold=0.05,
    )
    got = _betas_pdf(piped.betas(apply_mask=False))
    want = _betas_pdf(ref.betas(apply_mask=False))
    assert list(got["probe_id"]) == list(want["probe_id"])
    np.testing.assert_allclose(
        got["beta"].to_numpy(dtype=float),
        want["beta"].to_numpy(dtype=float),
        rtol=0, atol=0,
    )
    # pOOBAH masks agree too
    assert (
        piped.masks.count() == ref.masks.count() if ref.masks is not None
        else piped.masks is None
    )
    assert not refs["betas"].from_cache


def test_second_run_is_pure_cache(spark, signal, tmp_path):
    sess = MethylSession(spark=spark, signal=signal)
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    _, first = sess.run_pipeline(m, source_fingerprint="fixture-v1")
    _, second = sess.run_pipeline(m, source_fingerprint="fixture-v1")
    assert not first["betas"].from_cache
    assert all(r.from_cache for r in second.values()), {
        k: r.from_cache for k, r in second.items()
    }


def test_param_change_recomputes_only_downstream(spark, signal, tmp_path):
    sess = MethylSession(spark=spark, signal=signal)
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    sess.run_pipeline(m, source_fingerprint="fixture-v1")

    # NOOB offset change: everything upstream of noob stays cached
    _, refs = sess.run_pipeline(
        m, source_fingerprint="fixture-v1", noob_offset=30.0
    )
    flags = {k: r.from_cache for k, r in refs.items()}
    assert flags["signal"] and flags["infer_channel"] and flags["dye_bias"]
    assert not flags["noob"] and not flags["poobah_mask"]
    assert not flags["betas"]

    # the reference reset_betas analogue: flipping include_out_of_band
    # recomputes ONLY the betas stage
    _, refs2 = sess.run_pipeline(
        m, source_fingerprint="fixture-v1", include_out_of_band=True
    )
    flags2 = {k: r.from_cache for k, r in refs2.items()}
    assert not flags2["betas"]
    assert all(v for k, v in flags2.items() if k != "betas"), flags2


def test_lineage_ledger_records_chain(spark, signal, tmp_path):
    sess = MethylSession(spark=spark, signal=signal)
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    _, refs = sess.run_pipeline(m, source_fingerprint="fixture-v1")
    names = {r["name"] for r in m.lineage().collect()}
    assert {"signal", "infer_channel", "dye_bias", "noob",
            "poobah_mask", "betas"} <= names
    anc = m.ancestors(refs["betas"].key)
    assert refs["signal"].key in anc and refs["noob"].key in anc


def test_pipeline_masks_are_store_backed(spark, signal, tmp_path):
    """ADVICE r8: the returned session's masks must read from the store
    (the masks parquet union the poobah stage parquet), not drag the
    original in-memory lineage along — every input file of the masks
    plan lives under the manifest root."""
    sess = MethylSession(spark=spark, signal=signal)
    root = str(tmp_path / "pl")
    m = PipelineManifest(spark, root)
    piped, refs = sess.run_pipeline(m, source_fingerprint="fixture-v1")
    files = piped.masks.inputFiles()
    assert files, "store-backed masks should be file-backed"
    assert all(root in f for f in files), files
    # and the mask content matches the imperative chain
    ref = sess.preprocess(
        infer_channel=True, dye_bias="linear", noob=True,
        poobah_threshold=0.05,
    )
    assert piped.masks.count() == ref.masks.count()


def test_chain_uses_negative_controls_in_noob_and_poobah(spark, signal, tmp_path):
    """The chain always uses negative controls, in NOOB and in pOOBAH (the
    reference defaults): the ``noob`` and ``poobah_mask`` stages equal the
    kernels run with ``use_negative_controls=True``, and ``False`` gives a
    different NOOB, so the fixture tells the two apart."""
    from pylluminator_spark import preprocessing as pp

    sess = MethylSession(spark=spark, signal=signal)
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    _, refs = sess.run_pipeline(m, source_fingerprint="fixture-v1")
    dyed, masks = refs["dye_bias"].df, refs["masks"].df

    got = _betas_pdf(refs["noob"].df)
    want = _betas_pdf(
        pp.noob_background_correction(dyed, masks, use_negative_controls=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    without = _betas_pdf(
        pp.noob_background_correction(dyed, masks, use_negative_controls=False)
    )
    assert not got.equals(without)

    _pvals, pb = pp.poobah(
        refs["noob"].df, masks, use_negative_controls=True, threshold=0.05
    )
    got_pb = sorted(map(tuple, refs["poobah_mask"].df.collect()))
    assert got_pb and got_pb == sorted(map(tuple, pb.collect()))
