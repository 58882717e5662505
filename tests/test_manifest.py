"""Content-addressed stage manifests: cache hits, Merkle invalidation,
source fingerprints, lineage introspection, GC."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from pylluminator_spark.plans.manifest import (
    PipelineManifest,
    source_fingerprint,
)

SF = "/root/testdata/sf0.001"


def _counting(fn):
    calls = {"n": 0}

    def wrapped(spark, *dfs, **params):
        calls["n"] += 1
        return fn(spark, *dfs, **params)

    return wrapped, calls


def _stats_fn(spark, docs, min_chars=0):
    return (
        docs.filter(F.col("n_chars") >= min_chars)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _share_fn(spark, stats):
    total = stats.agg(F.sum("n").alias("t"))
    return stats.crossJoin(F.broadcast(total)).select(
        "lang", "n", (F.col("n") / F.col("t")).alias("share")
    )


def test_second_run_is_pure_cache(spark, tmp_path):
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    docs = m.source("docs", f"{SF}/documents.parquet")
    f1, c1 = _counting(_stats_fn)
    f2, c2 = _counting(_share_fn)

    s1 = m.stage("stats", f1, [docs], {"min_chars": 10})
    s2 = m.stage("share", f2, [s1], {})
    first = {r.lang: (r.n, r.share) for r in s2.df.collect()}
    assert (c1["n"], c2["n"]) == (1, 1)
    assert not s1.from_cache and not s2.from_cache

    # second run: both stages reused, zero recompute, same data
    r1 = m.stage("stats", f1, [docs], {"min_chars": 10})
    r2 = m.stage("share", f2, [r1], {})
    assert r1.from_cache and r2.from_cache
    assert (c1["n"], c2["n"]) == (1, 1)
    assert {r.lang: (r.n, r.share) for r in r2.df.collect()} == first

    # a FRESH manifest over the same root also reuses (ledger persisted)
    m2 = PipelineManifest(spark, str(tmp_path / "pl"))
    rr = m2.stage("stats", f1, [m2.source("docs", f"{SF}/documents.parquet")], {"min_chars": 10})
    assert rr.from_cache and c1["n"] == 1


def test_param_change_invalidates_only_downstream(spark, tmp_path):
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    docs = m.source("docs", f"{SF}/documents.parquet")
    f1, c1 = _counting(_stats_fn)
    f2, c2 = _counting(_share_fn)
    s1 = m.stage("stats", f1, [docs], {"min_chars": 10})
    m.stage("share", f2, [s1], {})
    # different upstream param -> new keys for BOTH stages
    s1b = m.stage("stats", f1, [docs], {"min_chars": 200})
    s2b = m.stage("share", f2, [s1b], {})
    assert s1b.key != s1.key and not s1b.from_cache and not s2b.from_cache
    assert (c1["n"], c2["n"]) == (2, 2)
    # the ORIGINAL chain is still cached (no invalidation of siblings)
    again = m.stage("stats", f1, [docs], {"min_chars": 10})
    assert again.from_cache and c1["n"] == 2


def test_code_change_invalidates_cache(spark, tmp_path):
    """Editing the stage FUNCTION must invalidate its cache — without
    bytecode fingerprinting a code change would silently reuse stale
    outputs. An explicit code_version pins the key instead."""
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    docs = m.source("docs", f"{SF}/documents.parquet")

    def v1(spark, d):
        return d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))

    def v2(spark, d):  # different body, same name/signature/params
        return d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).filter(
            F.col("n") > 0
        )

    s1 = m.stage("stats", v1, [docs], {})
    s2 = m.stage("stats", v2, [docs], {})
    assert s1.key != s2.key and not s2.from_cache
    # pinned code_version: both functions share the key -> v2 is served
    # from v1's cache
    p1 = m.stage("stats", v1, [docs], {}, code_version="1")
    p2 = m.stage("stats", v2, [docs], {}, code_version="1")
    assert p1.key == p2.key and p2.from_cache


def test_source_fingerprint_tracks_file_changes(tmp_path):
    p = tmp_path / "src"
    p.mkdir()
    (p / "a.parquet").write_bytes(b"xxxx")
    fp1 = source_fingerprint(str(p))
    assert fp1 == source_fingerprint(str(p))  # stable
    time.sleep(1.05)  # mtime granularity
    (p / "a.parquet").write_bytes(b"yyyy")
    assert source_fingerprint(str(p)) != fp1
    (p / "b.parquet").write_bytes(b"zz")
    fp3 = source_fingerprint(str(p))
    assert fp3 != fp1
    # side files are ignored
    (p / "_SUCCESS").write_bytes(b"")
    assert source_fingerprint(str(p)) == fp3


def test_lineage_and_ancestors(spark, tmp_path):
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    docs = m.source("docs", f"{SF}/documents.parquet")
    s1 = m.stage("stats", _stats_fn, [docs], {"min_chars": 10})
    s2 = m.stage("share", _share_fn, [s1], {})
    led = {r.key: r for r in m.lineage().collect()}
    assert set(led) == {s1.key, s2.key}
    assert led[s2.key].inputs == [s1.key]
    assert led[s2.key].input_names == ["stats"]
    assert m.ancestors(s2.key) == [s1.key, docs.key]


def test_gc_keeps_chain_drops_orphans(spark, tmp_path):
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    docs = m.source("docs", f"{SF}/documents.parquet")
    keep1 = m.stage("stats", _stats_fn, [docs], {"min_chars": 10})
    keep2 = m.stage("share", _share_fn, [keep1], {})
    orphan = m.stage("stats", _stats_fn, [docs], {"min_chars": 999})
    removed = m.gc({keep2.key})
    assert removed == [orphan.key]
    assert not os.path.isdir(orphan.path)
    # kept chain still reads from cache
    again = m.stage("share", _share_fn, [keep1], {})
    assert again.from_cache
    # the orphan recomputes cleanly after gc
    f, c = _counting(_stats_fn)
    re = m.stage("stats", f, [docs], {"min_chars": 999})
    assert not re.from_cache and c["n"] == 1


def test_moved_store_keeps_hits_and_chain_walks(spark, tmp_path):
    """Stage paths derive from the store root, not from the ledger: after
    the store directory moves, stage hits, ``by_key``, ``entries_named``
    and ``gc`` all work under the new root."""
    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    docs = spark.createDataFrame(
        [("aa", 10), ("bb", 3)], "lang string, n_chars int"
    )
    m = PipelineManifest(spark, root_a)
    src = m.frame_source("docs", docs, "v1")
    keep = m.stage("stats", _stats_fn, [src], {"min_chars": 0})
    orphan = m.stage("stats", _stats_fn, [src], {"min_chars": 5})
    os.rename(root_a, root_b)

    m2 = PipelineManifest(spark, root_b)
    ref = m2.by_key(keep.key)
    assert ref is not None and ref.name == "stats" and ref.from_cache
    assert ref.path == os.path.join(root_b, keep.key)
    assert {tuple(r) for r in ref.df.collect()} == {("aa", 1), ("bb", 1)}
    assert [e["key"] for e in m2.entries_named("stats")] == [
        keep.key, orphan.key
    ]
    src2 = m2.frame_source("docs", docs, "v1")
    assert m2.stage("stats", _stats_fn, [src2], {"min_chars": 0}).from_cache
    assert m2.gc({keep.key}) == [orphan.key]
    assert not os.path.isdir(os.path.join(root_b, orphan.key))
    assert os.path.isdir(os.path.join(root_b, keep.key))


def test_default_arg_change_invalidates(spark, tmp_path):
    """ADVICE r7: fn.__defaults__ / __kwdefaults__ are part of the
    fingerprint — changing a default must change the stage key."""
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    docs = m.source("docs", f"{SF}/documents.parquet")

    def v1(spark, docs, min_chars=0):
        return docs.filter(F.col("n_chars") >= min_chars).groupBy("lang").count()

    def v2(spark, docs, min_chars=25):
        return docs.filter(F.col("n_chars") >= min_chars).groupBy("lang").count()

    def v3(spark, docs, *, min_chars=25):
        return docs.filter(F.col("n_chars") >= min_chars).groupBy("lang").count()

    k1 = m.stage("s", v1, [docs], {}).key
    k2 = m.stage("s", v2, [docs], {}).key
    k3 = m.stage("s", v3, [docs], {}).key
    assert len({k1, k2, k3}) == 3


def test_frozenset_consts_hash_sorted(tmp_path):
    """ADVICE r7: repr() of a frozenset literal iterates in hash order;
    the fingerprint must sort it so keys are stable across hash seeds."""
    from pylluminator_spark.plans.manifest import _const_repr

    fs = frozenset({"zz", "aa", "mm"})
    assert _const_repr(fs) == b"{'aa','mm','zz'}"


def test_same_size_rewrite_changes_fingerprint(tmp_path):
    """ADVICE r7: mtime at ns resolution + inode — a same-size rewrite
    within the same second must still change the fingerprint."""
    p = tmp_path / "data.bin"
    p.write_bytes(b"a" * 64)
    f1 = source_fingerprint(str(p))
    p.write_bytes(b"b" * 64)  # same size, sub-second rewrite
    f2 = source_fingerprint(str(p))
    assert f1 != f2


def test_helper_changes_do_not_invalidate_but_code_version_does(spark, tmp_path):
    """The documented _fn_fingerprint SCOPE CONTRACT: only the stage
    function's OWN code objects are walked — a module-level helper it
    calls is invisible to the key, and the escape hatch is bumping
    code_version (or folding the helper's version into params)."""
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    docs = m.source("docs", f"{SF}/documents.parquet")

    helpers = {"threshold": 10}

    def stage(spark, docs):
        return docs.filter(
            F.col("n_chars") >= helpers["threshold"]
        ).groupBy("lang").count()

    k1 = m.stage("s", stage, [docs], {}).key
    helpers["threshold"] = 99  # behavior changed via closed-over state...
    k2 = m.stage("s", stage, [docs], {}).key
    assert k1 == k2  # ...which the fingerprint deliberately cannot see
    k3 = m.stage("s", stage, [docs], {}, code_version="v2").key
    assert k3 != k1  # the documented escape hatch invalidates


def test_content_fingerprint_tracks_values_not_order(spark):
    from pylluminator_spark.plans.manifest import content_fingerprint

    a = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "v"])
    b = spark.createDataFrame([(2, "y"), (1, "x")], ["k", "v"]).repartition(4)
    c = spark.createDataFrame([(1, "x"), (2, "z")], ["k", "v"])
    fa, fb, fc = (content_fingerprint(d) for d in (a, b, c))
    assert fa == fb  # order/partitioning independent
    assert fa != fc  # value-sensitive


def test_frame_source_default_inmemory_uses_content(spark, tmp_path):
    """ADVICE r8: an in-memory frame's analyzed plan contains no data
    (only schema + per-JVM expression ids), so the old plan-hash default
    could serve the wrong cached parquet to a different session. The
    default now derives from content_fingerprint: different data ->
    different keys, identical data -> a cache hit."""
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    a = spark.createDataFrame([(1, "x")], ["id", "v"])
    b = spark.createDataFrame([(2, "y")], ["id", "v"])
    ra = m.frame_source("a", a)
    rb = m.frame_source("b", b)
    assert ra.key != rb.key
    ra2 = m.frame_source(
        "a", spark.createDataFrame([(1, "x")], ["id", "v"])
    )
    assert ra2.key == ra.key and ra2.from_cache


def test_frame_source_default_tracks_inplace_rewrite(spark, tmp_path):
    """ADVICE r8: for file-backed frames the default fingerprint folds
    in the size/mtime_ns/inode listing of the input files, so an
    in-place rewrite under the SAME path changes the key instead of
    reusing the stale materialization."""
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "x")], ["id", "v"]).write.parquet(src)
    m = PipelineManifest(spark, str(tmp_path / "pl"))
    r1 = m.frame_source("s", spark.read.parquet(src))
    spark.createDataFrame([(2, "y")], ["id", "v"]).write.mode(
        "overwrite"
    ).parquet(src)
    r2 = m.frame_source("s", spark.read.parquet(src))
    assert r1.key != r2.key
    assert [tuple(r) for r in r2.df.collect()] == [(2, "y")]


# ---------------------------------------------------------------------------
# r12: concurrency hardening — atomic publish + line-atomic ledger appends
# ---------------------------------------------------------------------------


def test_torn_ledger_tail_line_is_skipped(spark, tmp_path):
    """A writer killed mid-append leaves a torn (non-JSON) tail line;
    reload must skip it instead of failing the whole store, and the
    affected stage simply recomputes / re-appends on next use."""
    import os

    from pylluminator_spark.plans.manifest import PipelineManifest

    root = str(tmp_path / "m")
    docs = spark.createDataFrame(
        [("aa", 10), ("bb", 3)], "lang string, n_chars int"
    )
    m = PipelineManifest(spark, root)
    src = m.frame_source("docs", docs, "v1")
    m.stage("stats", _stats_fn, [src], {"min_chars": 0})
    with open(os.path.join(root, "ledger.jsonl"), "a") as fh:
        fh.write('{"key": "half-writ')  # torn tail, no newline
    m2 = PipelineManifest(spark, root)
    ref = m2.stage("stats", _stats_fn, [src], {"min_chars": 0})
    assert ref.from_cache  # intact rows all loaded
    assert {tuple(r) for r in ref.df.collect()} == {("aa", 1), ("bb", 1)}


def test_partial_stage_dir_without_success_is_replaced(spark, tmp_path):
    """A stage dir left by a run killed mid-write (no _SUCCESS marker)
    must be swept and rewritten, not trusted or collided with."""
    import os

    from pylluminator_spark.plans.manifest import PipelineManifest

    root = str(tmp_path / "m")
    docs = spark.createDataFrame(
        [("aa", 10)], "lang string, n_chars int"
    )
    m = PipelineManifest(spark, root)
    src = m.frame_source("docs", docs, "v1")
    key = m.stage_key(
        "stats", [src], {"min_chars": 0},
        __import__(
            "pylluminator_spark.plans.manifest", fromlist=["x"]
        )._fn_fingerprint(_stats_fn),
    )
    partial = os.path.join(root, key)
    os.makedirs(partial)
    with open(os.path.join(partial, "part-junk.parquet"), "w") as fh:
        fh.write("not parquet")
    ref = m.stage("stats", _stats_fn, [src], {"min_chars": 0})
    assert not ref.from_cache
    assert os.path.exists(os.path.join(partial, "_SUCCESS"))
    assert {tuple(r) for r in ref.df.collect()} == {("aa", 1)}


def test_concurrent_same_key_publish_loser_reads_winner(spark, tmp_path):
    """Two runs materializing the same content key: the rename loser
    discards its temp copy and reads the winner's parquet (simulated
    by wiping the ledger so a fresh manifest recomputes a key whose
    parquet a 'winner' already published)."""
    import os

    from pylluminator_spark.plans.manifest import PipelineManifest

    root = str(tmp_path / "m")
    docs = spark.createDataFrame(
        [("aa", 10), ("bb", 3)], "lang string, n_chars int"
    )
    m1 = PipelineManifest(spark, root)
    src = m1.frame_source("docs", docs, "v1")
    winner = m1.stage("stats", _stats_fn, [src], {"min_chars": 0})
    os.remove(os.path.join(root, "ledger.jsonl"))
    m2 = PipelineManifest(spark, root)
    src2 = m2.frame_source("docs", docs, "v1")
    loser = m2.stage("stats", _stats_fn, [src2], {"min_chars": 0})
    assert loser.key == winner.key
    assert {tuple(r) for r in loser.df.collect()} == {
        ("aa", 1), ("bb", 1)
    }
    # no temp leftovers, and the ledger row is restored
    leftovers = [d for d in os.listdir(root) if ".tmp-" in d]
    assert leftovers == []
    m3 = PipelineManifest(spark, root)
    assert m3.entry(winner.key) is not None


def _double(spark, df):
    return df.select((F.col("id") * 2).alias("x"))


def test_ledger_schema_falls_back_to_inference(spark, tmp_path):
    """A ledger line written before schemas were recorded keeps its hit,
    and so does a stage parquet rewritten in place with other columns:
    both reads infer the schema from the files."""
    import json
    import shutil

    root = str(tmp_path / "pl")
    m = PipelineManifest(spark, root)
    src = m.frame_source("src", spark.range(5), fingerprint="fp-1")
    ref = m.stage("double", _double, [src], {})
    assert {"schema", "listing"} <= set(m.entry(ref.key))
    ledger = os.path.join(root, PipelineManifest._LEDGER)
    with open(ledger) as fh:
        lines = [json.loads(line) for line in fh]
    with open(ledger, "w") as fh:
        for e in lines:
            e.pop("schema")
            fh.write(json.dumps(e) + "\n")

    m2 = PipelineManifest(spark, root)
    src2 = m2.frame_source("src", spark.range(5), fingerprint="fp-1")
    again = m2.stage("double", _double, [src2], {})
    assert src2.from_cache and again.from_cache and again.key == ref.key
    assert sorted(r["x"] for r in again.df.collect()) == [0, 2, 4, 6, 8]

    ref = m.stage("double", _double, [src], {})
    assert ref.df.columns == ["x"]
    shutil.rmtree(ref.path)
    spark.range(2).withColumnRenamed("id", "y").write.parquet(ref.path)
    assert m.by_key(ref.key).df.columns == ["y"]
