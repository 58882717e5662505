"""Distributed ordered computations vs single-window / pandas references."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pylluminator_spark.operators.ordered import (
    bh_adjust_global,
    with_global_rank,
    with_running_min,
    with_running_sum,
)


@pytest.fixture(scope="module")
def values(spark):
    df = (
        spark.range(0, 5000, 1, 16)
        .withColumn("v", ((F.col("id") * 2654435761) % 100000) / 7.0)
        .withColumn("w", (F.col("id") % 97).cast("double"))
        .cache()
    )
    df.count()
    return df


def test_global_rank_matches_window(values):
    got = with_global_rank(values, ["v", "id"], "rk", num_partitions=8)
    ref = values.withColumn("rk", F.row_number().over(Window.orderBy("v", "id")))
    g = {r.id: r.rk for r in got.collect()}
    w = {r.id: r.rk for r in ref.collect()}
    assert g == w
    # the persist-free design: buckets come from literal boundaries, so
    # there is NO range exchange at all — the data moves once, through
    # the hash shuffle the per-bucket window needs, and the data-bearing
    # window is partitioned (never a global sort over the data)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
    assert "windowspecdefinition(_ord_pid" in plan, plan


def test_ordered_ops_leave_no_persisted_rdds(spark, values):
    """VERDICT r6 #3: the two-phase helpers persist NOTHING — offsets
    come from a shared-exchange stats branch, not a cached collect."""
    def _ids():
        # id SET, not size: another module's localCheckpoint blocks may
        # be GC-cleaned asynchronously mid-test, shrinking a raw count
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    before = _ids()
    with_global_rank(values, ["v", "id"], "rk", num_partitions=8).collect()
    with_running_sum(values, ["v", "id"], "w", "cs", num_partitions=8).collect()
    with_running_min(values, ["v", "id"], "w", "cm", num_partitions=8).collect()
    bh_adjust_global(
        values.withColumn("p", (F.col("id") % 1000) / 1000.0),
        "p", tie_cols=["id"], num_partitions=8,
    ).collect()
    from pylluminator_spark.operators.ordered import quantile_discretize

    quantile_discretize(values, "v", 7, ["id"], num_partitions=8).collect()
    assert _ids() - before == set()


def test_running_sum_matches_window(values):
    got = with_running_sum(values, ["v", "id"], "w", "cs", num_partitions=8)
    ref = values.withColumn(
        "cs",
        F.sum("w").over(
            Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    g = {r.id: r.cs for r in got.collect()}
    w = {r.id: r.cs for r in ref.collect()}
    assert all(g[k] == pytest.approx(w[k], rel=1e-12) for k in w)


def test_running_min_matches_window(values):
    vals = values.withColumn("neg", -F.col("w") - F.col("v") / 1e9)
    got = with_running_min(vals, ["v", "id"], "neg", "cm", num_partitions=8)
    ref = vals.withColumn(
        "cm",
        F.min("neg").over(
            Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    g = {r.id: r.cm for r in got.collect()}
    w = {r.id: r.cm for r in ref.collect()}
    assert all(g[k] == pytest.approx(w[k], rel=1e-12) for k in w)


def test_global_rank_correct_on_cached_input(spark):
    """Regression for the failure mode that killed the two previous
    designs: over a CACHED input, AQE compiles the stats branch and the
    data branch as separate TableCacheQueryStages, so a
    repartitionByRange-based split re-samples different boundaries per
    branch (exchange reuse silently stops firing) and ranks come out
    wrong. Literal-boundary buckets are a pure function of the row, so
    the cached path must be exact too."""
    df = (
        spark.range(0, 5000, 1, 16)
        .withColumn("v", ((F.col("id") * 40503) % 9973) / 3.0)
        .cache()
    )
    try:
        df.count()
        got = with_global_rank(df, ["v", "id"], "rk", num_partitions=8)
        ranks = sorted(r.rk for r in got.collect())
        assert ranks == list(range(1, 5001))  # exact permutation
        ref = df.withColumn(
            "rk", F.row_number().over(Window.orderBy("v", "id"))
        )
        assert {r.id: r.rk for r in got.collect()} == {
            r.id: r.rk for r in ref.collect()
        }
    finally:
        df.unpersist()


def test_bh_adjust_global_matches_reference(spark):
    rng = np.random.RandomState(3)
    p = rng.uniform(0, 1, 1000)
    pdf = pd.DataFrame({"probe": [f"p{i}" for i in range(1000)], "p": p})
    df = spark.createDataFrame(pdf).repartition(8)
    got = bh_adjust_global(df, "p", "p_adj", tie_cols=["probe"]).toPandas()

    # pandas reference BH
    order = np.argsort(p, kind="stable")
    ranked = p[order] * len(p) / (np.arange(len(p)) + 1)
    adj = np.minimum.accumulate(ranked[::-1])[::-1]
    adj = np.clip(adj, 0, 1)
    ref = pd.Series(adj, index=pdf["probe"].to_numpy()[order])

    got = got.set_index("probe")["p_adj"]
    for k in ref.index:
        assert got[k] == pytest.approx(ref[k], rel=1e-12)


def test_running_min_null_prefix_stays_null(spark):
    """Distributed path: rows before the first non-null value must get a
    NULL running min, never a numeric sentinel posing as data."""
    from pyspark.sql import functions as F

    rows = [(i, None if i < 40 else int(i)) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "x"]).withColumn(
        "x", F.col("x").cast("long")
    )
    got = {
        r.id: r.cm
        for r in with_running_min(
            df, ["id"], "x", "cm", num_partitions=8
        ).collect()
    }
    for i in range(200):
        assert got[i] == (None if i < 40 else 40), i


class TestQuantileDiscretize:
    def test_matches_ntile_window(self, spark, values):
        from pylluminator_spark.operators.ordered import quantile_discretize

        for n_bins in (1, 3, 7, 13):
            got = quantile_discretize(
                values, "v", n_bins, ["id"], num_partitions=8
            )
            w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
            ref = values.withColumn("_nt", F.ntile(n_bins).over(w))
            joined = got.join(ref.select("id", "_nt"), "id")
            assert (
                joined.filter(F.col("bucket") != F.col("_nt")).count() == 0
            ), n_bins

    def test_two_phase_path_forced(self, spark, values):
        # n_rows above the threshold forces the distributed rank path
        from pylluminator_spark.operators.ordered import quantile_discretize

        got = quantile_discretize(
            values, "v", 4, ["id"], num_partitions=8, n_rows=10**9
        )
        sizes = sorted(
            r["n"]
            for r in got.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        )
        assert sizes == [1250, 1250, 1250, 1250]

    def test_remainder_buckets_lead(self, spark):
        from pylluminator_spark.operators.ordered import quantile_discretize

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(10)], ["id", "v"]
        )
        got = quantile_discretize(df, "v", 3, ["id"]).collect()
        by_bucket = {}
        for r in got:
            by_bucket.setdefault(r["bucket"], []).append(r["id"])
        # 10 = 3*3 + 1: bucket 1 gets 4 rows, buckets 2-3 get 3
        assert sorted(len(v) for v in by_bucket.values()) == [3, 3, 4]
        assert len(by_bucket[1]) == 4
        assert sorted(by_bucket[1]) == [0, 1, 2, 3]

    def test_n_bins_validation(self, spark, values):
        from pylluminator_spark.operators.ordered import quantile_discretize

        with pytest.raises(ValueError):
            quantile_discretize(values, "v", 0, ["id"])

    def test_empty_input(self, spark):
        from pylluminator_spark.operators.ordered import quantile_discretize

        df = spark.createDataFrame([], "id bigint, v double")
        assert quantile_discretize(df, "v", 4, ["id"]).count() == 0


def test_bh_adjust_global_scale_path_matches_small(spark, monkeypatch):
    """The fused single-exchange scale path (r8 rewrite) must agree with
    the small-window path bit-for-bit — min is order-insensitive, so the
    suffix-frame + cross-bucket composition is exact, not approximate."""
    import pylluminator_spark.operators.ordered as ordered

    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {"probe": [f"p{i}" for i in range(2000)],
         "p": rng.uniform(0, 1, 2000).round(3)}  # force p-value ties
    )
    df = spark.createDataFrame(pdf).repartition(8)
    small = bh_adjust_global(df, "p", "p_adj", tie_cols=["probe"]).toPandas()
    monkeypatch.setattr(ordered, "SMALL_INPUT_ROWS", 0)
    fused = bh_adjust_global(
        df, "p", "p_adj", tie_cols=["probe"], num_partitions=8
    ).toPandas()
    s = small.set_index("probe")["p_adj"]
    f = fused.set_index("probe")["p_adj"]
    assert len(s) == len(f) == 2000
    for k in s.index:
        assert s[k] == f[k], (k, s[k], f[k])


def test_bh_adjust_global_tied_p_no_tie_cols(spark, monkeypatch):
    """Regression (r9 ADVICE high): with tied p-values and no tie_cols,
    the reverse running min must follow the exact reverse of the rank
    order. A stable DESC sort over the data columns keeps tied rows in
    the SAME relative order as the ASC sort, so a tied row's running min
    missed its partner's smaller p*n/rank term. The reverse window now
    orders by the unique rank itself."""
    import pylluminator_spark.operators.ordered as ordered

    def ref_bh(p):
        p = np.asarray(p, dtype=float)
        order = np.argsort(p, kind="stable")
        ranked = p[order] * len(p) / (np.arange(len(p)) + 1)
        adj = np.clip(np.minimum.accumulate(ranked[::-1])[::-1], 0, 1)
        out = np.empty_like(adj)
        out[order] = adj
        return out

    for ps in ([0.5, 0.5], [0.01, 0.04, 0.04, 0.9]):
        expected = sorted(ref_bh(ps))
        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(ps)], ["id", "p"]
        )
        got = sorted(
            r.p_adj for r in bh_adjust_global(df, "p").collect()
        )
        assert got == pytest.approx(expected, rel=1e-12), ps
        monkeypatch.setattr(ordered, "SMALL_INPUT_ROWS", 0)
        got_scale = sorted(
            r.p_adj
            for r in bh_adjust_global(
                df, "p", num_partitions=2
            ).collect()
        )
        monkeypatch.setattr(ordered, "SMALL_INPUT_ROWS", 10_000)
        assert got_scale == pytest.approx(expected, rel=1e-12), ps

    # larger randomized tied input: both paths vs numpy, rounded to
    # 2 decimals so ties are dense
    rng = np.random.RandomState(23)
    p = rng.uniform(0, 1, 500).round(2)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(p)], ["id", "p"]
    ).repartition(4)
    expected = sorted(ref_bh(p))
    got = sorted(r.p_adj for r in bh_adjust_global(df, "p").collect())
    assert got == pytest.approx(expected, rel=1e-12)
    monkeypatch.setattr(ordered, "SMALL_INPUT_ROWS", 0)
    got_scale = sorted(
        r.p_adj
        for r in bh_adjust_global(df, "p", num_partitions=4).collect()
    )
    assert got_scale == pytest.approx(expected, rel=1e-12)


def test_rank_with_custom_bucket_expr_matches_sampled(spark, monkeypatch):
    """bucket_expr contract: any order-consistent (possibly sparse)
    bucket id expression yields the identical global rank."""
    import pylluminator_spark.operators.ordered as ordered

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({"id": np.arange(3000), "v": rng.uniform(0, 100, 3000)})
    df = spark.createDataFrame(pdf).repartition(8)
    monkeypatch.setattr(ordered, "SMALL_INPUT_ROWS", 0)
    base = with_global_rank(df, ["v", "id"], "rk", num_partitions=8).toPandas()
    # sparse, uneven, order-consistent bucketing on v alone
    expr = (F.floor(F.col("v") / 10) * 3).cast("int")
    custom = with_global_rank(
        df, ["v", "id"], "rk", bucket_expr=expr
    ).toPandas()
    b = base.sort_values("id")["rk"].to_numpy()
    c = custom.sort_values("id")["rk"].to_numpy()
    assert (b == c).all()


def test_rank_with_boundaries_matches_sampled(spark, monkeypatch):
    """boundaries contract: caller-supplied cut tuples (skipping the
    sample pass) yield the identical global rank."""
    import pylluminator_spark.operators.ordered as ordered

    rng = np.random.RandomState(13)
    pdf = pd.DataFrame({"id": np.arange(2500), "v": rng.uniform(0, 1, 2500)})
    df = spark.createDataFrame(pdf).repartition(8)
    monkeypatch.setattr(ordered, "SMALL_INPUT_ROWS", 0)
    base = with_global_rank(df, ["v", "id"], "rk", num_partitions=8).toPandas()
    cuts = [(0.2, -1), (0.5, -1), (0.8, -1)]
    given = with_global_rank(
        df, ["v", "id"], "rk", boundaries=cuts
    ).toPandas()
    assert (
        base.sort_values("id")["rk"].to_numpy()
        == given.sort_values("id")["rk"].to_numpy()
    ).all()


def test_bucket_tree_sql_rejects_unsafe_identifiers(spark):
    """ADVICE r8: a key column whose name contains a quote or backtick
    must NOT be interpolated into the generated SQL (parse error or a
    mis-parsed expression) — _bucket_tree_sql returns None and the
    Column-object tree (which needs no escaping) takes over, producing
    the same bucket ids. (A lone-backtick name is unresolvable even by
    F.col — Spark-wide — so the fallback-reachable cases are quotes,
    spaces, dashes: names F.col resolves but raw SQL interpolation
    breaks on.)"""
    from pylluminator_spark.operators.ordered import (
        _PID,
        _bucket_tree_sql,
        _bucketized,
    )

    bad = "va'l ue"
    df = spark.createDataFrame([(i,) for i in range(10)], [bad])
    assert _bucket_tree_sql(df, [bad], [(3,), (7,)]) is None
    # plain name still renders
    ok = spark.createDataFrame([(i,) for i in range(10)], ["v"])
    assert _bucket_tree_sql(ok, ["v"], [(3,), (7,)]) is not None
    # end-to-end: the Column fallback buckets the quoted name correctly
    got = {
        r[bad]: r[_PID]
        for r in _bucketized(df, [bad], None, boundaries=[(3,), (7,)])
        .collect()
    }
    assert got == {i: (0 if i < 3 else 1 if i < 7 else 2) for i in range(10)}
