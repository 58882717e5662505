"""M0 vertical slice: IDAT binary scan -> signal assembly -> betas, checked
against independently-computed pandas expectations (mirroring the reference's
golden-value test strategy, SURVEY §5.2, at synthetic scale)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pylluminator_spark.operators import masks as mask_ops
from pylluminator_spark.operators import selectors as sel
from pylluminator_spark.plans.session import MethylSession, assemble_signal
from pylluminator_spark.sources.idat import (
    parse_idat_bytes,
    read_idat_files,
    write_idat,
)

N_PROBES_I = 40  # type I probes -> 2 addresses each
N_PROBES_II = 120  # type II probes -> 1 address each
N_ADDR = N_PROBES_I * 2 + N_PROBES_II
SAMPLES = ["s01", "s02", "s03"]


@pytest.fixture(scope="module")
def manifest_pdf() -> pd.DataFrame:
    rng = np.random.RandomState(7)
    rows = []
    addr = 1000
    for i in range(N_PROBES_I):
        rows.append(
            dict(
                probe_id=f"cg{i:06d}",
                type="I",
                channel="G" if i % 2 == 0 else "R",
                probe_type="cg" if i % 10 else "snp",
                address_a=addr,
                address_b=addr + 1,
                mask_info="M_nonuniq" if i % 7 == 0 else "",
                chromosome=str(1 + i % 3),
                start=1000 * i,
                end=1000 * i + 100,
            )
        )
        addr += 2
    for i in range(N_PROBES_II):
        rows.append(
            dict(
                probe_id=f"cg9{i:05d}",
                type="II",
                channel=None,
                probe_type="cg" if i % 15 else "ch",
                address_a=addr,
                address_b=None,
                mask_info="",
                chromosome=str(1 + i % 3) if i % 11 else "X",
                start=500 * i,
                end=500 * i + 100,
            )
        )
        addr += 1
    _ = rng
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def idat_dir(tmp_path_factory, manifest_pdf) -> str:
    """Write sample × channel IDAT files with deterministic intensities."""
    d = tmp_path_factory.mktemp("idats")
    ids = np.arange(1000, 1000 + N_ADDR, dtype="int32")
    for si, sample in enumerate(SAMPLES):
        for channel, suffix in (("G", "Grn"), ("R", "Red")):
            base = 100 * (si + 1) + (1000 if channel == "G" else 2000)
            means = (base + ids % 500).astype("uint16")
            stds = np.full(N_ADDR, 10, dtype="uint16")
            beads = np.where(ids % 37 == 0, 0, 8).astype("uint8")  # some low-bead
            write_idat(
                str(d / f"{sample}_{suffix}.idat"),
                ids,
                means,
                stds,
                beads,
                compress=(channel == "R"),  # exercise gzip path
            )
    return str(d)


def test_idat_roundtrip_bytes(idat_dir):
    with open(f"{idat_dir}/s01_Grn.idat", "rb") as fh:
        parsed = parse_idat_bytes(fh.read())
    assert parsed["n_snps"] == N_ADDR
    assert parsed["illumina_id"][0] == 1000
    assert parsed["barcode"] == "0000001"
    assert parsed["chip_type"] == "TestChip"


def test_read_idat_files_distributed(spark, idat_dir):
    df = read_idat_files(spark, f"{idat_dir}/*.idat*")
    assert df.count() == len(SAMPLES) * 2 * N_ADDR
    got = {r["channel"] for r in df.select("channel").distinct().collect()}
    assert got == {"G", "R"}
    # gzip (Red) files parsed identically
    red = df.filter((F.col("sample") == "s01") & (F.col("channel") == "R"))
    assert red.count() == N_ADDR


@pytest.fixture(scope="module")
def session(spark, idat_dir, manifest_pdf) -> MethylSession:
    idata = read_idat_files(spark, f"{idat_dir}/*.idat*")
    manifest = spark.createDataFrame(manifest_pdf)
    return MethylSession.from_idata(spark, idata, manifest, min_beads=2)


def test_signal_assembly_counts(session):
    signal = session.signal
    # one row per (sample, probe)
    assert signal.count() == len(SAMPLES) * (N_PROBES_I + N_PROBES_II)
    by_type = {
        r["type"]: r["n"]
        for r in signal.groupBy("type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {
        "I": len(SAMPLES) * N_PROBES_I,
        "II": len(SAMPLES) * N_PROBES_II,
    }
    # type II rows have only mg/ur populated
    t2 = signal.filter(F.col("type") == "II")
    assert t2.filter(F.col("mr").isNotNull() | F.col("ug").isNotNull()).count() == 0


def test_signal_values_match_pandas(session, manifest_pdf):
    """Spot-check the join: every intensity equals base + address % 500,
    nulled where n_beads < min_beads (address % 37 == 0)."""
    rows = (
        session.signal.filter(F.col("sample") == "s02")
        .select("probe_id", "type", "mg", "ur")
        .collect()
    )
    mf = manifest_pdf.set_index("probe_id")
    for r in rows[:50]:
        info = mf.loc[r["probe_id"]]
        addr_m = info.address_b if info.type == "I" else info.address_a
        addr_u = info.address_a
        exp_mg = 200 + 1000 + addr_m % 500 if addr_m % 37 else None
        exp_ur = 200 + 2000 + addr_u % 500 if addr_u % 37 else None
        assert (r["mg"] is None) == (exp_mg is None), r["probe_id"]
        if exp_mg is not None:
            assert r["mg"] == pytest.approx(exp_mg)
        if exp_ur is not None:
            assert r["ur"] == pytest.approx(exp_ur)


def test_betas_match_reference_formula(session):
    """beta = clip(M,1)/clip(M+U,2) with in-band-only channel selection
    (reference samples.py:1074-1108), computed independently in pandas."""
    betas = session.betas(apply_mask=False).toPandas()
    signal = session.signal.toPandas()

    m = np.where(
        signal["type"] == "II",
        signal["mg"],
        np.where(signal["channel"] == "G", signal["mg"], signal["mr"]),
    )
    u = np.where(
        signal["type"] == "II",
        signal["ur"],
        np.where(signal["channel"] == "G", signal["ug"], signal["ur"]),
    )
    expected = np.maximum(m, 1.0) / np.maximum(m + u, 2.0)
    key = ["sample", "probe_id"]
    merged = signal[key].assign(expected=expected).merge(
        betas[key + ["beta"]], on=key
    )
    both_nan = merged["expected"].isna() & merged["beta"].isna()
    close = np.isclose(merged["expected"], merged["beta"], rtol=1e-6, equal_nan=False)
    assert (both_nan | close).all()


def test_oob_betas(session):
    """include_out_of_band sums both channels for type I (sesame sumTypeI)."""
    betas_ib = session.betas(apply_mask=False).toPandas().set_index(["sample", "probe_id"])
    betas_oob = (
        session.betas(include_out_of_band=True, apply_mask=False)
        .toPandas()
        .set_index(["sample", "probe_id"])
    )
    t1 = betas_ib[betas_ib["type"] == "I"].dropna(subset=["beta"])
    # for type I probes the OOB variant must differ (extra channel added)
    joined = t1.join(betas_oob[["beta"]], rsuffix="_oob").dropna()
    assert (joined["beta"] != joined["beta_oob"]).any()
    # type II probes unchanged
    t2 = betas_ib[betas_ib["type"] == "II"].join(
        betas_oob[["beta"]], rsuffix="_oob"
    ).dropna()
    assert np.allclose(t2["beta"], t2["beta_oob"])


def test_min_beads_mask_and_apply(session):
    masks = session.masks
    n_masked = masks.count()
    assert n_masked > 0
    nulled = mask_ops.apply_mask_nullout(session.signal, masks)
    # masked (sample, probe) rows must have all-null intensities
    hit = nulled.join(
        masks.select("sample", "probe_id").distinct(), ["sample", "probe_id"]
    )
    assert hit.filter(F.col("mg").isNotNull() | F.col("ur").isNotNull()).count() == 0
    # row count unchanged (null-out, not drop)
    assert nulled.count() == session.signal.count()


def test_selectors(session):
    signal = session.signal
    assert sel.type1(signal).count() == len(SAMPLES) * N_PROBES_I
    assert sel.type2(signal).count() == len(SAMPLES) * N_PROBES_II
    long = sel.to_long(signal, drop_null=False)
    assert long.count() == signal.count() * 4
    # oob rows: type I only, opposite channel
    oob = sel.oob(long)
    assert oob.filter(F.col("type") == "II").count() == 0
    assert oob.filter(F.col("signal_channel") == F.col("channel")).count() == 0
    # in-band + out-of-band partition the type I cells
    ib_t1 = sel.ib(long).filter(F.col("type") == "I")
    assert ib_t1.count() + oob.count() == long.filter(F.col("type") == "I").count()
    ctl_free = sel.cg(signal)
    assert ctl_free.count() == signal.filter(F.col("probe_type") == "cg").count()


def test_read_sample_sheet_illumina_plain_and_missing_id(spark, tmp_path):
    """read_sample_sheet skips a padded ``[Header]...[Data]`` preamble and
    maps Illumina's ``SentrixBarcode_A`` / ``SentrixPosition_A`` headers
    to ``sentrix_id`` / ``sentrix_position``; a plain CSV reads as is; a
    sheet without ``sample_id`` raises."""
    from pylluminator_spark.sources.sample_sheet import read_sample_sheet

    illumina = tmp_path / "illumina.csv"
    illumina.write_text(
        "[Header],,,,\n"
        "Investigator Name,someone,,,\n"
        "Date,2020-01-01,,,\n"
        "[Data],,,,\n"
        "Sample_ID,Sample_Name,SentrixBarcode_A,SentrixPosition_A,Sample_Group\n"
        "s1,A,200000000001,R01C01,control\n"
        "s2,B,200000000001,R02C01,case\n"
    )
    df = read_sample_sheet(spark, str(illumina))
    assert df.columns == [
        "sample_id", "sample_name", "sentrix_id", "sentrix_position", "sample_group"
    ]
    assert sorted(map(tuple, df.collect())) == [
        ("s1", "A", 200000000001, "R01C01", "control"),
        ("s2", "B", 200000000001, "R02C01", "case"),
    ]

    plain = tmp_path / "plain.csv"
    plain.write_text("sample_id,sentrix_id,sentrix_position\ns1,2001,R01C01\n")
    df = read_sample_sheet(spark, str(plain))
    assert df.columns == ["sample_id", "sentrix_id", "sentrix_position"]
    assert [tuple(r) for r in df.collect()] == [("s1", 2001, "R01C01")]

    missing = tmp_path / "missing.csv"
    missing.write_text("name,group\na,b\n")
    with pytest.raises(ValueError, match="sample_id"):
        read_sample_sheet(spark, str(missing))


def test_session_preprocess_chain(session):
    """MethylSession.preprocess: one-call canonical chain with the persisted
    reuse point and pOOBAH masks folded into the masks table."""
    out = session.preprocess(dye_bias="linear", poobah_threshold=0.05)
    assert out.signal.storageLevel.useMemory  # reuse point is cached
    assert out.signal.count() == session.signal.count()
    mask_names = {
        r["mask_name"]
        for r in out.masks.select("mask_name").distinct().collect()
    }
    assert "poobah_0.05" in mask_names
    # betas off the preprocessed session stay in [0, 1]
    b = out.betas().agg(
        F.min("beta").alias("lo"), F.max("beta").alias("hi")
    ).collect()[0]
    assert 0.0 <= b["lo"] <= b["hi"] <= 1.0
    out.signal.unpersist()


# ---------------------------------------------------------------------------
# Reference-parity facade (reference samples.py public methods, one-to-one)
# ---------------------------------------------------------------------------

def test_facade_probe_getters(session):
    n_probes = N_PROBES_I + N_PROBES_II
    assert session.nb_samples() == len(SAMPLES)
    assert session.nb_probes() == n_probes
    assert session.sample_labels() == SAMPLES
    assert session.type1(apply_mask=False).count() == len(SAMPLES) * N_PROBES_I
    assert session.type2(apply_mask=False).count() == len(SAMPLES) * N_PROBES_II
    t1g = session.type1_green(apply_mask=False)
    t1r = session.type1_red(apply_mask=False)
    assert t1g.count() + t1r.count() == len(SAMPLES) * N_PROBES_I
    # long-form views partition cells disjointly for type I probes
    oob_n = session.oob(apply_mask=False).count()
    ib_n = session.ib(apply_mask=False).count()
    assert oob_n > 0 and ib_n > 0
    assert (
        session.ib_red(apply_mask=False).count()
        + session.ib_green(apply_mask=False).count()
        == ib_n
    )
    assert session.meth(apply_mask=False).count() > 0
    assert session.unmeth(apply_mask=False).count() > 0
    # probe-type families cover the manifest
    assert (
        session.cg_probes(apply_mask=False).count()
        + session.ch_probes(apply_mask=False).count()
        + session.snp_probes(apply_mask=False).count()
        == len(SAMPLES) * (N_PROBES_I + N_PROBES_II)
    )
    got = session.get_probes("cg000001", apply_mask=False)
    assert got.select("probe_id").distinct().count() == 1
    assert session.get_probes_with_probe_type("snp", apply_mask=False).count() > 0
    assert session.get_signal_df(apply_mask=False).count() == session.signal.count()


def test_facade_intensity_and_betas(session):
    mean_ib = session.get_mean_ib_intensity()
    tot_ib = session.get_total_ib_intensity()
    assert mean_ib.count() == len(SAMPLES)
    # per (sample, probe) totals, like the reference's probes x samples frame
    assert tot_ib.count() == len(SAMPLES) * (N_PROBES_I + N_PROBES_II)
    betas = session.get_betas(drop_na=True)
    assert betas.filter(F.col("beta").isNull()).count() == 0
    m = session.get_m_values(drop_na=True)
    assert "m_value" in m.columns and "beta" not in m.columns


def test_facade_transforms_return_new_sessions(session):
    out = session.infer_type1_channel()
    assert out is not session and out.signal is not session.signal
    assert out.signal.count() == session.signal.count()
    db = session.dye_bias_correction_l()
    assert db.signal.count() == session.signal.count()
    nb = session.noob_background_correction()
    assert nb.signal.count() == session.signal.count()
    sc = session.scrub_background_correction()
    assert sc.signal.count() == session.signal.count()
    pb = session.poobah(threshold=0.5)
    assert pb.masks is not None
    # drop / subset
    assert session.drop_samples("s01").select("sample").distinct().count() if False else True
    assert sorted(
        r["sample"]
        for r in session.drop_samples("s01").signal.select("sample").distinct().collect()
    ) == ["s02", "s03"]
    assert sorted(
        r["sample"]
        for r in session.subset(["s01", "s02"]).signal.select("sample").distinct().collect()
    ) == ["s01", "s02"]
    assert session.remove_probes_suffix().signal.count() == session.signal.count()


def test_facade_mask_builders(session):
    masked = (
        session.mask_quality_probes()
        .mask_non_unique_probes()
        .mask_xy_probes()
        .mask_snp_probes()
        .mask_non_cg_probes()
    )
    names = {
        r["mask_name"]
        for r in masked.masks.select("mask_name").distinct().collect()
    }
    assert {"quality", "non_unique", "xy", "snp", "non_cg"} <= names
    # masking nulls out more cells than the min-beads baseline alone
    base_nulls = session.masked_signal().filter(F.col("mg").isNull()).count()
    more_nulls = masked.masked_signal().filter(F.col("mg").isNull()).count()
    assert more_nulls >= base_nulls
    # reset drops everything
    assert masked.reset_masks().masks.count() == 0
    # by-name masking uses the mask_info pattern
    byname = session.mask_probes_by_names("M_nonuniq")
    assert byname.masks.filter(F.col("mask_name") == "M_nonuniq").count() > 0


def test_facade_merge_and_qc(session, spark):
    sheet = spark.createDataFrame(
        pd.DataFrame(
            {"sample": SAMPLES, "grp": ["a", "a", "b"], "batch": ["x", "y", "x"]}
        )
    )
    sess = MethylSession(
        spark=spark,
        signal=session.signal,
        sample_sheet=sheet,
        manifest=session.manifest,
        masks=session.masks,
    )
    merged = sess.merge_samples_by("grp")
    assert sorted(
        r["sample"] for r in merged.signal.select("sample").distinct().collect()
    ) == ["a", "b"]
    qc = session.get_nb_probes_per_chr_and_type()
    assert qc.count() == len(SAMPLES)


def test_facade_batch_correction(session, spark):
    """batch_correction delegates to combat_betas (the numeric path is
    covered in test_combat with >=2 samples per batch); merged pseudo-samples
    give each batch two members here."""
    sheet = spark.createDataFrame(
        pd.DataFrame({"sample": SAMPLES + ["s04"], "batch": ["x", "y", "x", "y"]})
    )
    extra = session.signal.filter(F.col("sample") == "s01").withColumn(
        "sample", F.lit("s04")
    )
    sess = MethylSession(
        spark=spark,
        signal=session.signal.unionByName(extra),
        sample_sheet=sheet,
        manifest=session.manifest,
    )
    corrected = sess.batch_correction("batch").toPandas()
    assert set(corrected.columns) == {"probe_id", "sample", "beta"}
    assert corrected["beta"].dropna().between(0, 1).all()
    with pytest.raises(ValueError, match="sample_sheet"):
        session.batch_correction("batch")


def test_get_normalization_controls_average(spark):
    """average=True must group by the selector's 'control_channel' label, not
    the manifest design 'channel' (NULL for type-II controls): green rows are
    mean(mg) over norm_c|norm_g probes, red rows mean(ur) over norm_a|norm_t
    (reference samples.py:909-911)."""
    rows = []
    for si, sample in enumerate(["sA", "sB"]):
        base = 100.0 * (si + 1)
        rows += [
            dict(sample=sample, probe_id="norm_c_01", type="I", channel="G",
                 probe_type="ctl", mask_info="", mg=base + 1, mr=5.0, ug=7.0,
                 ur=900.0),
            # type-II control: design channel is NULL — the regression case
            dict(sample=sample, probe_id="norm_g_02", type="II", channel=None,
                 probe_type="ctl", mask_info="", mg=base + 3, mr=5.0, ug=7.0,
                 ur=901.0),
            dict(sample=sample, probe_id="norm_a_03", type="I", channel="R",
                 probe_type="ctl", mask_info="", mg=1.0, mr=2.0, ug=3.0,
                 ur=base + 11),
            dict(sample=sample, probe_id="norm_t_04", type="II", channel=None,
                 probe_type="ctl", mask_info="", mg=1.0, mr=2.0, ug=3.0,
                 ur=base + 13),
            dict(sample=sample, probe_id="cg000001", type="II", channel=None,
                 probe_type="cg", mask_info="", mg=50.0, mr=60.0, ug=70.0,
                 ur=80.0),
        ]
    pdf = pd.DataFrame(rows)
    sess = MethylSession(spark=spark, signal=spark.createDataFrame(pdf))
    out = sess.get_normalization_controls(average=True).toPandas()

    # pandas expectation following the reference semantics
    ctl = pdf[pdf["probe_type"] == "ctl"]
    green = ctl[ctl["probe_id"].str.contains("norm_c|norm_g", case=False)]
    red = ctl[ctl["probe_id"].str.contains("norm_a|norm_t", case=False)]
    expected = {}
    for sample in ["sA", "sB"]:
        expected[(sample, "G")] = green.loc[green["sample"] == sample, "mg"].mean()
        expected[(sample, "R")] = red.loc[red["sample"] == sample, "ur"].mean()

    assert len(out) == 4  # 2 samples x 2 channels, no null-channel collapse
    assert set(out["control_channel"]) == {"G", "R"}
    for _, r in out.iterrows():
        assert r["mean_intensity"] == pytest.approx(
            expected[(r["sample"], r["control_channel"])]
        ), (r["sample"], r["control_channel"])


def test_facade_probe_ids_and_calculate_betas(session):
    """probe_ids (reference samples.py:114-120) and the calculate_betas /
    has_betas reuse point (reference samples.py:1074-1127)."""
    ids = session.probe_ids()
    assert ids == sorted(ids)
    assert len(ids) == N_PROBES_I + N_PROBES_II

    assert not session.has_betas()
    calc = session.calculate_betas()
    assert calc.has_betas() and not session.has_betas()

    # served betas (mask applied on top of the precalculated table) must
    # equal the compute-from-lineage path
    served = (
        calc.get_betas(apply_mask=True)
        .toPandas()
        .sort_values(["sample", "probe_id"])
        .reset_index(drop=True)
    )
    fresh = (
        session.get_betas(apply_mask=True)
        .toPandas()
        .sort_values(["sample", "probe_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        served[["sample", "probe_id", "beta"]],
        fresh[["sample", "probe_id", "beta"]],
    )


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def test_run_pipeline_from_idata_session(spark, session, tmp_path):
    """run_pipeline on a ``from_idata`` session: the min-beads masks root
    is a stage over the stored signal, so cold, warm and param runs cache
    as for any root, and the outputs equal the imperative chain's."""
    from pylluminator_spark.plans.manifest import PipelineManifest

    m = PipelineManifest(spark, str(tmp_path / "pl"))
    cold, cold_refs = session.run_pipeline(m, source_fingerprint="idat-v1")
    warm, warm_refs = session.run_pipeline(m, source_fingerprint="idat-v1")
    _param, param_refs = session.run_pipeline(
        m, source_fingerprint="idat-v1", include_out_of_band=True
    )
    assert not any(r.from_cache for r in cold_refs.values())
    assert all(r.from_cache for r in warm_refs.values())
    assert [n for n, r in param_refs.items() if not r.from_cache] == ["betas"]
    masks_entry = m.entry(cold_refs["masks"].key)
    assert masks_entry["inputs"] == [cold_refs["signal"].key]
    assert masks_entry["params"] == {"min_beads": 2}

    ref = session.preprocess(dye_bias="linear", poobah_threshold=0.05)
    for piped in (cold, warm):
        assert _rows(piped.masks) == _rows(ref.masks)
        for apply_mask in (False, True):
            got = piped.get_betas(apply_mask=apply_mask).select("sample", "probe_id", "beta")
            want = ref.betas(apply_mask=apply_mask).select("sample", "probe_id", "beta")
            assert _rows(got) == _rows(want)
    # the min-beads masks are part of the result: fixture probes with
    # low-bead addresses are masked in every sample
    names = {r["mask_name"] for r in cold.masks.select("mask_name").distinct().collect()}
    assert "min_beads_2" in names
    ref.signal.unpersist()


def test_run_pipeline_added_mask_keys_masks_by_content(spark, session, tmp_path):
    """Masks that are not the signal's own min-beads masks keep the
    content-fingerprint root."""
    from pylluminator_spark.plans.manifest import PipelineManifest

    m = PipelineManifest(spark, str(tmp_path / "pl"))
    masked = session.mask_probes_by_names("M_nonuniq")
    piped, refs = masked.run_pipeline(m, source_fingerprint="idat-v1")
    assert refs["masks"].key.startswith("frm-")
    assert m.entry(refs["masks"].key)["inputs"] == []
    assert _rows(refs["masks"].df) == _rows(masked.masks)
    names = {r["mask_name"] for r in piped.masks.select("mask_name").distinct().collect()}
    assert {"min_beads_2", "M_nonuniq"} <= names
    # the session's own min-beads masks root a different key
    _, own = session.run_pipeline(m, source_fingerprint="idat-v1")
    assert own["masks"].key != refs["masks"].key
    assert not own["masks"].key.startswith("frm-")


def test_run_pipeline_store_reads_use_recorded_schemas(spark, session, tmp_path):
    """Each stage's ledger entry records the schema a Parquet read gives
    back, and a warm run reads every stage with it: no schema-inference
    job, so the warm run submits no Spark job at all."""
    import json

    from pyspark.sql.types import StructType

    from pylluminator_spark.plans.manifest import PipelineManifest

    m = PipelineManifest(spark, str(tmp_path / "pl"))
    _cold, refs = session.run_pipeline(m, source_fingerprint="idat-v1")
    for name, ref in refs.items():
        recorded = StructType.fromJson(json.loads(m.entry(ref.key)["schema"]))
        assert recorded == spark.read.parquet(ref.path).schema, name
        assert ref.df.schema == recorded, name

    sc = spark.sparkContext
    sc.setJobGroup("warm-run-pipeline", "warm run_pipeline")
    try:
        _warm, warm_refs = session.run_pipeline(m, source_fingerprint="idat-v1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(r.from_cache for r in warm_refs.values())
    assert list(sc.statusTracker().getJobIdsForGroup("warm-run-pipeline")) == []


def test_read_idat_files_reads_exactly_the_glob(spark, idat_dir, tmp_path):
    """The reader takes the glob's own file set: ``dir/*.idat`` leaves out
    an ``.idat`` file in a subdirectory; a one-file glob and a glob over
    several directories read what they match."""
    import shutil

    d = tmp_path / "cohort"
    (d / "nested").mkdir(parents=True)
    shutil.copy(f"{idat_dir}/s01_Grn.idat", d / "s01_Grn.idat")
    shutil.copy(f"{idat_dir}/s02_Grn.idat", d / "s02_Grn.idat")
    shutil.copy(f"{idat_dir}/s03_Grn.idat", d / "nested" / "decoy_Grn.idat")

    def samples(glob):
        df = read_idat_files(spark, glob)
        return sorted(r["sample"] for r in df.select("sample").distinct().collect())

    assert samples(f"{d}/*.idat") == ["s01", "s02"]
    assert samples(f"{d}/s01_*.idat") == ["s01"]
    assert samples(f"{d}/*/*.idat") == ["decoy"]
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        read_idat_files(spark, f"{d}/*.nothing")
