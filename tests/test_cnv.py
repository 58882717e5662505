"""CNV layer tests: regression vs numpy lstsq, tiling/bin arithmetic, range
joins, and CBS change-point recovery on synthetic step signals."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pylluminator_spark import cnv
from pylluminator_spark.operators.range_join import (
    cluster_overlaps,
    count_overlaps,
    range_join,
    subtract_overlaps,
)


def test_tile_genome(spark):
    seq = spark.createDataFrame(
        [("1", 120_000), ("2", 50_000)], "chromosome string, seq_length long"
    )
    tiles = cnv.tile_genome(spark, seq).toPandas().sort_values(["chromosome", "start"])
    t1 = tiles[tiles.chromosome == "1"]
    assert t1[["start", "end"]].values.tolist() == [
        [0, 49_999],
        [50_000, 99_999],
        [100_000, 119_999],
    ]
    t2 = tiles[tiles.chromosome == "2"]
    assert t2[["start", "end"]].values.tolist() == [[0, 49_999]]


def test_range_join_and_count(spark):
    left = spark.createDataFrame(
        [("1", 0, 99), ("1", 100, 199), ("2", 0, 99)],
        "chromosome string, start long, end long",
    )
    right = spark.createDataFrame(
        [("1", 50, 60), ("1", 95, 105), ("1", 500, 600), ("2", 0, 0)],
        "chromosome string, start long, end long",
    )
    joined = range_join(left, right, bucket=100).toPandas()
    pairs = {
        (r.chromosome, r.start, r.r_start) for r in joined.itertuples()
    }
    assert pairs == {("1", 0, 50), ("1", 0, 95), ("1", 100, 95), ("2", 0, 0)}

    counts = (
        count_overlaps(left, right, ["chromosome", "start", "end"], bucket=100)
        .toPandas()
        .set_index(["chromosome", "start"])["n_overlaps"]
    )
    assert counts[("1", 0)] == 2
    assert counts[("1", 100)] == 1
    assert counts[("2", 0)] == 1


def test_subtract_overlaps(spark):
    tiles = spark.createDataFrame(
        [("1", 0, 999), ("1", 1000, 1999), ("2", 0, 999)],
        "chromosome string, start long, end long",
    )
    gaps = spark.createDataFrame(
        [("1", 200, 299), ("1", 900, 1099)],
        "chromosome string, start long, end long",
    )
    out = subtract_overlaps(tiles, gaps).toPandas()
    got = sorted(
        (r.chromosome, r.start, r.end) for r in out.itertuples()
    )
    assert got == [
        ("1", 0, 199),
        ("1", 300, 899),
        ("1", 1100, 1999),
        ("2", 0, 999),
    ]


def test_cluster_overlaps(spark):
    df = spark.createDataFrame(
        [("1", 0, 10), ("1", 11, 20), ("1", 100, 110), ("2", 0, 5)],
        "chromosome string, start long, end long",
    )
    out = cluster_overlaps(df).toPandas().sort_values(["chromosome", "start"])
    ids = out["cluster_id"].tolist()
    assert ids[0] == ids[1]  # touching (slack=1)
    assert ids[1] != ids[2]
    assert ids[3] not in ids[:3]


@pytest.fixture(scope="module")
def cnv_fixture(spark):
    """3 normal samples + 1 target with a duplicated region on chr2."""
    rng = np.random.RandomState(9)
    n_probes = 400
    rows, coords = [], []
    base = rng.uniform(1000, 3000, n_probes)
    for pid in range(n_probes):
        chrom = "1" if pid < 200 else "2"
        start = (pid % 200) * 1000
        coords.append((f"cg{pid:05d}", chrom, start, start + 2))
        for s_i in range(3):
            noise = rng.normal(1, 0.01)
            val = base[pid] * noise
            rows.append((f"norm{s_i}", f"cg{pid:05d}", "II", None, "cg", "",
                         float(val), None, None, float(val * 0.9)))
        # target: chr2 second half amplified 2x
        amp = 2.0 if (pid >= 300) else 1.0
        val = base[pid] * amp * rng.normal(1, 0.01)
        rows.append(("target", f"cg{pid:05d}", "II", None, "cg", "",
                     float(val), None, None, float(val * 0.9)))
    schema = ("sample string, probe_id string, type string, channel string, "
              "probe_type string, mask_info string, mg double, mr double, "
              "ug double, ur double")
    signal = spark.createDataFrame(rows, schema)
    granges = spark.createDataFrame(
        coords, "probe_id string, chromosome string, start long, end long"
    )
    seq = spark.createDataFrame(
        [("1", 200_000), ("2", 200_000)], "chromosome string, seq_length long"
    )
    return signal, granges, seq


def test_cnv_regression(spark, cnv_fixture):
    signal, granges, seq = cnv_fixture
    target = signal.filter(F.col("sample") == "target")
    norm = signal.filter(F.col("sample") != "target")
    got = cnv.copy_number_variation(target, norm, granges).toPandas()
    assert len(got) == 400
    normal_cnv = got[got.chromosome == "1"]["cnv"]
    amp_cnv = got[(got.chromosome == "2") & (got.start >= 100_000)]["cnv"]
    # the amplified region sits ~log2(2)=1 above the normal region (the
    # regression absorbs a global shift because 25% of probes are amplified,
    # matching the reference's behavior with a biased target)
    assert amp_cnv.median() - normal_cnv.median() == pytest.approx(1.0, abs=0.15)

    # cross-check the regression against numpy lstsq
    from pylluminator_spark.preprocessing import total_ib_intensity

    tgt = total_ib_intensity(target).toPandas().set_index("probe_id")["total_ib"]
    nrm = (
        total_ib_intensity(norm)
        .toPandas()
        .pivot_table(index="probe_id", columns="sample", values="total_ib")
    )
    x = np.column_stack([np.ones(len(nrm)), nrm[["norm0", "norm1", "norm2"]].values])
    y = tgt.loc[nrm.index].values
    coef = np.linalg.lstsq(x, y, rcond=None)[0]
    pred = np.maximum(x @ coef, 1)
    expected = np.log2(y / pred)
    merged = got.set_index("probe_id").loc[nrm.index, "cnv"].to_numpy()
    assert np.allclose(merged, expected, rtol=1e-6)


def test_make_bins_minimum_overlap(spark, cnv_fixture):
    signal, granges, seq = cnv_fixture
    tiles = cnv.tile_genome(spark, seq)
    probes = granges
    bins = cnv.make_bins(tiles, probes, minimum_overlap=20).toPandas()
    assert (bins["n_probes"] >= 20).all()
    # bins tile the probe-covered genome: every probe falls in some bin
    total_probes_in_bins = bins["n_probes"].sum()
    assert total_probes_in_bins == 400


def test_cbs_recovers_step(spark):
    rng = np.random.RandomState(21)
    vals = np.concatenate([rng.normal(0, 0.05, 50), rng.normal(1.0, 0.05, 50)])
    pdf = pd.DataFrame(
        {
            "chromosome": "1",
            "start_bin": np.arange(100) * 1000,
            "end_bin": np.arange(100) * 1000 + 999,
            "cnv": vals,
            "map_loc": np.arange(100) * 1000 + 500,
        }
    )
    bins_df = spark.createDataFrame(pdf)
    segs = cnv.copy_number_segmentation(bins_df, shuffles=200).toPandas()
    assert len(segs) == 2
    segs = segs.sort_values("start")
    assert segs.iloc[0]["nb_bins"] == 50
    assert segs.iloc[0]["mean_cnv"] == pytest.approx(0.0, abs=0.05)
    assert segs.iloc[1]["mean_cnv"] == pytest.approx(1.0, abs=0.05)


def test_cbs_one_statistic_per_permutation(monkeypatch):
    """Each node of the CBS recursion scores its own split once and each
    permutation draw once: shuffles + 1 calls of _cbs_t_stats per node."""
    rng = np.random.RandomState(21)
    vals = np.concatenate([rng.normal(0, 0.05, 50), rng.normal(1.0, 0.05, 50)])
    stats = cnv._cbs_t_stats
    calls = []

    def counted(x):
        calls.append(len(x))
        return stats(x)

    monkeypatch.setattr(cnv, "_cbs_t_stats", counted)
    segs = cnv._cbs_segment_chrom(vals, shuffles=100)
    # three nodes: the root splits at the step, its two halves do not
    assert segs == [(0, 50), (50, 100)]
    assert sorted(calls) == [50] * 101 + [50] * 101 + [100] * 101


def test_cnv_pipeline_end_to_end(spark, cnv_fixture):
    signal, granges, seq = cnv_fixture
    target = signal.filter(F.col("sample") == "target")
    norm = signal.filter(F.col("sample") != "target")
    probes, bins, segments = cnv.cnv_pipeline(
        target, norm, granges, seq, minimum_overlap=5, shuffles=200,
        tile_width=5000,
    )
    seg_pdf = segments.toPandas()
    assert len(seg_pdf) >= 2
    chr2 = seg_pdf[seg_pdf.chromosome == "2"].sort_values("start")
    chr1 = seg_pdf[seg_pdf.chromosome == "1"]
    # the amplified chr2 region must stand ~1 log2 above the chr1 baseline
    assert chr2["mean_cnv"].max() - chr1["mean_cnv"].mean() == pytest.approx(
        1.0, abs=0.2
    )


def test_cbs_split_tstats_matches_numpy(spark):
    """The distributed split statistic (cbs_split_tstats) must return the
    same (argmax k, max |t|) as the numpy _cbs_t_stats the permutation
    recursion calls."""
    rng = np.random.RandomState(7)
    rows = []
    expected = {}
    for ci, (n_bins, shift_at) in enumerate([(40, 25), (120, 30), (9, 4)]):
        x = rng.randn(n_bins)
        x[shift_at:] += 2.5
        x = np.round(x * 100)  # integer-valued, like the gate data
        chrom = f"c{ci}"
        expected[chrom] = cnv._cbs_t_stats(x)
        rows += [
            (chrom, i, float(v)) for i, v in enumerate(x)
        ]
    df = spark.createDataFrame(
        rows, "chromosome string, start_bin int, cnv double"
    )
    got = {
        r.chromosome: r
        for r in cnv.cbs_split_tstats(df).collect()
    }
    assert set(got) == set(expected)
    for chrom, (k_np, t_np) in expected.items():
        assert got[chrom].split_k == k_np
        np.testing.assert_allclose(got[chrom].t_max, t_np, rtol=1e-9)
        assert got[chrom].n_bins == {"c0": 40, "c1": 120, "c2": 9}[chrom]


def test_cbs_split_tstats_excludes_degenerate(spark):
    # n < 4 and zero-variance chromosomes mirror _cbs_t_stats -> None
    df = spark.createDataFrame(
        [("short", i, float(i)) for i in range(3)]
        + [("flat", i, 5.0) for i in range(10)]
        + [("ok", i, float(i % 3)) for i in range(10)],
        "chromosome string, start_bin int, cnv double",
    )
    got = cnv.cbs_split_tstats(df).collect()
    assert [r.chromosome for r in got] == ["ok"]


def test_cbs_split_tstats_ignores_null_bins(spark):
    """ADVICE r5: a NULL cnv bin must be EXCLUDED from the series (the
    numpy twin never sees NULLs) — not silently shift split_k/n relative
    to the non-null prefix sums."""
    rng = np.random.RandomState(11)
    x = rng.randn(50)
    x[30:] += 3.0
    x = np.round(x * 100)
    rows = [("c", i, float(v)) for i, v in enumerate(x)]
    # interleave NULL bins at assorted positions (incl. before the shift)
    with_nulls = rows + [("c", 200 + j, None) for j in range(5)]
    with_nulls.insert(3, ("c", -1, None))
    df = spark.createDataFrame(
        with_nulls, "chromosome string, start_bin int, cnv double"
    )
    k_np, t_np = cnv._cbs_t_stats(x)
    r = cnv.cbs_split_tstats(df).collect()[0]
    assert r.n_bins == 50
    assert r.split_k == k_np
    np.testing.assert_allclose(r.t_max, t_np, rtol=1e-9)
