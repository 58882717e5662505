"""Opt-in scale smoke: pushes the size-dispatched ordered helpers past
SMALL_INPUT_ROWS (100k) so the range-partitioned two-phase path actually
engages, and checks global invariants that any rank/cumsum bug breaks.

Slow (~40 s) by design; enable with SPARK_GRAFT_SCALE=1. The per-operator
exact-value checks at small n live in test_ordered.py / test_properties.py.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pylluminator_spark.operators.ordered import (
    with_global_rank,
    with_running_sum,
)

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE"),
    reason="set SPARK_GRAFT_SCALE=1 to run the 8M-row scale smoke",
)

N = 8_000_000


@pytest.fixture(scope="module")
def big(spark):
    df = (
        spark.range(0, N, 1, 64)
        .withColumn("k", (F.col("id") * 2654435761) % 1000000007)
        .withColumn("v", (F.col("id") % 1000).cast("double"))
        .persist()
    )
    df.count()
    yield df
    df.unpersist()


def test_rank_is_permutation_and_distributed(big):
    r = with_global_rank(big, ["k", "id"], "rk")
    # the r7 literal-boundary rewrite made the OFFSETS branch a
    # single-task window over the <= n-bucket stats table — bounded at
    # any data scale BY DESIGN (ordered.py module docstring). The
    # invariant to hold is therefore not "no SinglePartition anywhere"
    # but "SinglePartition only ever feeds the _ord_pid stats
    # aggregate, never the data": every such exchange must sit directly
    # above the per-bucket HashAggregate, and the data-bearing window
    # must be partitioned.
    plan = r._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            below = "\n".join(lines[i + 1 : i + 3])
            assert "HashAggregate(keys=[_ord_pid" in below, plan
    assert "windowspecdefinition(_ord_pid" in plan, plan
    row = r.agg(
        F.count("rk"), F.countDistinct("rk"), F.min("rk"), F.max("rk")
    ).collect()[0]
    assert list(row) == [N, N, 1, N]


def test_running_sum_reaches_total(big):
    s = with_running_sum(big, ["k", "id"], "v", "cs")
    last = s.orderBy(F.desc("cs")).select("cs").limit(1).collect()[0][0]
    total = big.agg(F.sum("v")).collect()[0][0]
    assert last == pytest.approx(total, rel=1e-9)


def test_connected_components_scale(spark):
    """1M-edge random graph over 200k nodes: the CC loop must converge in
    few rounds with distributed state only (no driver-side graph). A
    supercritical random graph (avg degree 10) has one giant component —
    check the dominant component covers almost everything and labels are
    component-minimal on a sample."""
    from pylluminator_spark.operators.graph import connected_components

    n_nodes, n_edges = 200_000, 1_000_000
    edges = (
        spark.range(0, n_edges, 1, 64)
        .select(
            (F.xxhash64("id") % n_nodes).alias("src"),
            (F.xxhash64(F.col("id") + 7) % n_nodes).alias("dst"),
        )
        .select(F.abs("src").alias("src"), F.abs("dst").alias("dst"))
    )
    comp = connected_components(edges, max_iter=12).persist()
    n = comp.count()
    assert n > n_nodes * 0.9  # nearly every node appears in some edge
    top = (
        comp.groupBy("component").count().orderBy(F.desc("count")).first()
    )
    assert top["count"] > n * 0.99  # giant component
    # labels are fixed points: no node's neighbour has a smaller component
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    a = comp.select(F.col("node").alias("src"), F.col("component").alias("ca"))
    b = comp.select(F.col("node").alias("dst"), F.col("component").alias("cb"))
    violations = (
        sym.join(a, "src").join(b, "dst").filter(F.col("ca") != F.col("cb")).count()
    )
    assert violations == 0
    comp.unpersist()


def test_beta_density_grid_scale(spark):
    """8M-row betas through beta_density_grid: the fact table is reduced by
    ONE histogram aggregation (no per-row kernel math, no collect); output
    stays samples x grid_points regardless of input size, and each sample's
    density integrates to ~1."""
    from pylluminator_spark.ml import beta_density_grid

    n = 8_000_000
    betas = (
        spark.range(0, n, 1, 64)
        .select(
            F.concat(F.lit("p"), F.col("id") % 1_000_000).alias("probe_id"),
            F.concat(F.lit("s"), F.col("id") % 8).alias("sample"),
            (((F.col("id") * 2654435761) % 1000) / 1000.0).alias("beta"),
        )
    )
    out = beta_density_grid(betas, grid_points=41).toPandas()
    assert len(out) == 8 * 41
    for _, sub in out.groupby("sample"):
        sub = sub.sort_values("x")
        integral = float(
            ((sub["density"].to_numpy()[1:] + sub["density"].to_numpy()[:-1]) / 2
             * (sub["x"].to_numpy()[1:] - sub["x"].to_numpy()[:-1])).sum()
        )
        assert 0.9 < integral < 1.1


def test_corpus_ops_scale(spark):
    """2M synthetic docs through the corpus quality/dedup stages: the
    explode -> doc-keyed aggregate dataflows stay linear and distributed
    (no driver-side corpus data, no single-partition exchange)."""
    from pylluminator_spark.operators.corpus import (
        gopher_signals,
        repeated_spans,
        unigram_lm_scores,
    )

    n = 2_000_000
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    # deterministic pseudo-text: 12 words drawn by arithmetic hash, with a
    # planted shared sentence in every 1000th doc
    word_arr = F.array(*[F.lit(w) for w in words])
    docs = (
        spark.range(0, n, 1, 64)
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(11)),
                    lambda i: F.element_at(
                        word_arr,
                        ((F.col("id") * 31 + i * 7) % 10 + 1).cast("int"),
                    ),
                ),
            ),
        )
        .withColumn(
            "text",
            F.when(
                F.col("id") % 1000 == 0,
                F.concat(
                    F.lit("the shared planted duplicate sentence block "),
                    F.col("text"),
                ),
            ).otherwise(F.col("text")),
        )
        .withColumnRenamed("id", "doc_id")
        .persist()
    )
    docs.count()
    try:
        sig = gopher_signals(docs)
        plan = sig._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        row = sig.agg(
            F.count(F.lit(1)), F.min("n_words"), F.max("n_words")
        ).collect()[0]
        assert row[0] == n and row[1] >= 12

        lm = unigram_lm_scores(docs, vocab_size=50)
        assert lm.agg(F.count(F.lit(1))).collect()[0][0] == n

        # the planted block recurs in 2000 docs -> its spans must be flagged
        rep = repeated_spans(docs, window=30, stride=15, min_docs=100)
        flagged = rep.select("doc_id").distinct().count()
        assert flagged >= 2000
    finally:
        docs.unpersist()


def test_kmeans_semantic_dedup_scale(spark):
    """200k synthetic 16-dim embeddings through kmeans_fit + semantic
    near-dup: assignment is map-side (no shuffle before the argmin
    aggregate), only the k x dim matrix hits the driver, and planted
    duplicate pairs are recovered within clusters. (Interpreted HOF folds
    cost ~1us/element; n*k is the budget knob.)"""
    from pylluminator_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
        semantic_near_dups,
    )

    n, dim, k = 200_000, 16, 16
    base = spark.range(0, n, 1, 64).withColumn(
        "embedding",
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                F.sin(F.col("id") % 97 * i.cast("double"))
                + (F.col("id") % 11).cast("double") * 0.3
            ),
        ),
    ).withColumnRenamed("id", "vec_id")
    # plant exact duplicates: every 2000th vector duplicates its neighbor
    emb = base.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 2_000 == 1,
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: (
                    F.sin((F.col("vec_id") - 1) % 97 * i.cast("double"))
                    + ((F.col("vec_id") - 1) % 11).cast("double") * 0.3
                ),
            ),
        ).otherwise(F.col("embedding")),
    ).persist()
    emb.count()
    try:
        cents = kmeans_fit(emb, k, iters=1)  # fit uses the arrow E-step
        assert cents.count() == k
        assigned = kmeans_assign(emb, cents, method="arrow")
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        assert assigned.count() == n
        # planted duplicate pairs land in the same cluster and are found
        pairs = semantic_near_dups(
            emb.filter(F.col("vec_id") < 20_000),
            cents,
            threshold=0.999999,
            assign_method="arrow",
        )
        found = {
            (r.id_a, r.id_b)
            for r in pairs.filter(
                (F.col("id_b") - F.col("id_a")) == 1
            ).collect()
        }
        planted = {(i, i + 1) for i in range(2_000, 20_000, 2_000)}
        assert planted <= found
    finally:
        emb.unpersist()
