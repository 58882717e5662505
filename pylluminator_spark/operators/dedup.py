"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference surface (driver north star). All hot paths are JVM-side
column expressions (xxhash64, higher-order array functions) — no Python in
the per-row path — so each scales as an ordinary shuffle pipeline:

- exact dedup: hash-groupBy on a normalized fingerprint
- MinHash + LSH: shingle → K minhashes → B bands → bucket join on
  (band, band_hash) → candidate pairs → exact Jaccard verify
- n-gram Jaccard: exact pairwise similarity for candidate verification
- embedding cosine near-dup: delegates to operators.similarity

Scale notes: the LSH band join shuffles on (band_id, band_hash) — uniformly
distributed by construction. Candidate verification joins back to the
shingle sets; at 100 TB keep ``num_hashes``/``bands`` modest (64/16) and let
AQE coalesce the (typically tiny) candidate partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pylluminator_spark.functions.text import (
    char_ngrams_expr,
    let_expr,
    tokens_expr,
    word_shingles_expr,
)
from pylluminator_spark.plans.checkpoint import stable_checkpoint


def _prefer_winners(
    with_fp: DataFrame, id_col: str, prefer_col: str
) -> DataFrame:
    """Quality-winner rule shared by ``dedup_exact`` and
    ``dedup_exact_against``: one row per ``_fp`` group — highest
    ``prefer_col`` in its NATIVE ordering (no lossy double cast: an
    int64 ns-timestamp preference keeps every bit), NULL preferences
    ordered last (they lose to any non-NULL value, including -inf; NaN
    sorts greatest per Spark's double ordering), ties broken toward the
    lowest id. A hash-partitioned row_number window: one shuffle on the
    8-byte fingerprint plus an in-partition sort — no corpus-wide
    ordering, per-group state is the sort's alone."""
    from pyspark.sql import Window

    w = Window.partitionBy("_fp").orderBy(
        F.col(prefer_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        with_fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def content_fp_expr(text_col: str, normalize: bool = True) -> Column:
    """The 8-byte content fingerprint ``dedup_exact`` keys on —
    ``xxhash64`` of the (optionally lowercased + whitespace-collapsed)
    text. Exposed so fingerprint CONSUMERS (incremental dedup probing a
    persisted fingerprint column, curation stages materializing one)
    compute bit-identical keys from one definition."""
    content = F.col(text_col)
    if normalize:
        content = F.array_join(tokens_expr(F.lower(content)), " ")
    return F.xxhash64(content)


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    prefer_col: str | None = None,
    keep_fp_col: str | None = None,
) -> DataFrame:
    """Exact dedup: keep one row per content fingerprint — the lowest id
    by default, or the row with the HIGHEST ``prefer_col`` (native-type
    ordering; ties broken toward the lowest id; NULL preferences lose to
    any non-NULL value) when given. ``prefer_col`` is the FineWeb-style
    winner rule: among byte-identical-after-normalization copies, keep
    the one with the best quality score / longest original / freshest
    crawl, instead of whichever id happens to sort first.

    Normalization lowercases and collapses whitespace so trivially-
    reformatted duplicates collapse. One hash-shuffle either way; the
    default path is a map-side-combinable ``min`` aggregate, the
    preferred path a fingerprint-partitioned ``row_number`` (see
    ``_prefer_winners``).

    ``keep_fp_col`` keeps the 8-byte fingerprint in the output under
    that name — persist it (it costs 8 B/doc in parquet) and later
    increments probe the fingerprint COLUMN instead of re-hashing the
    corpus text (``dedup_exact_against(existing_fp_col=...)``): a
    column-pruned scan that never reads the text bytes. An INPUT
    column of the same name (e.g. an already-curated frame fed back
    through) is replaced by the freshly-computed fingerprint — never
    duplicated into an ambiguous pair.
    """
    # recompute, never trust a stale same-named input column (the text
    # may have changed since it was stamped); drop it pre-rename so the
    # output carries exactly one fingerprint column
    if keep_fp_col is not None:
        df = df.drop(keep_fp_col)
    with_fp = df.withColumn("_fp", content_fp_expr(text_col, normalize))
    if prefer_col is None:
        # fp-partitioned row_number, NOT min-agg + semi join: the
        # rn == 1 filter plans as WindowGroupLimit with a map-side
        # partial top-1 per fingerprint BELOW the exchange (so a
        # million-copy duplicate family ships at most one row per map
        # task — as skew-robust as the combinable min), and the corpus
        # is scanned and shuffled ONCE where the join form scanned it
        # twice and shuffled the full rows by (fp, id) on top of the
        # winner exchange. Same winner (lowest id) bit-for-bit.
        from pyspark.sql import Window

        w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
        out = (
            with_fp.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        out = _prefer_winners(with_fp, id_col, prefer_col)
    if keep_fp_col is not None:
        return out.withColumnRenamed("_fp", keep_fp_col)
    return out.drop("_fp")


def dedup_exact_against(
    new_docs: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    prefer_col: str | None = None,
    existing_fp_col: str | None = None,
    keep_fp_col: str | None = None,
) -> DataFrame:
    """INCREMENTAL exact dedup: rows of ``new_docs`` that survive the
    ``dedup_exact`` rule within the batch (lowest id per normalized
    content) AND whose content does not already occur anywhere in
    ``existing`` — the daily-crawl-increment path: new batches dedup
    against a curated corpus without recomputing it.

    Scale: the batch's fingerprint set is dimension-sized next to the
    corpus and is BROADCAST; ``existing`` is scanned ONCE with its
    fingerprint computed map-side, and only fingerprints that match the
    batch (<= batch size) survive the scan into the tiny hit table. The
    corpus is never shuffled and its text never leaves the scan
    projection. Same 8-byte-collision trade as ``dedup_exact``.

    ``existing_fp_col`` names an ALREADY-COMPUTED fingerprint column on
    ``existing`` (persisted by ``dedup_exact(keep_fp_col=...)`` — the
    same ``content_fp_expr`` under the same ``normalize``): the corpus
    scan then reads ONLY that 8 B/doc column (parquet column pruning —
    the text bytes are never read), turning the per-increment corpus
    cost from a full text re-hash into a fingerprint-column probe.
    Without it ``existing``'s fingerprints are recomputed from
    ``text_col`` map-side — correct, but O(corpus text) per increment.

    ``prefer_col`` applies the ``dedup_exact`` quality-winner rule to
    the WITHIN-BATCH choice only — content the corpus already holds
    always drops regardless of preference (the corpus keeps its copy;
    an increment cannot swap it). ``keep_fp_col`` keeps the batch
    fingerprint in the output (so THIS increment's store can be probed
    by the next one), as in ``dedup_exact`` — a same-named input
    column is replaced, never duplicated.

    LAZY: this builds a plan and runs no job at call time. The
    within-batch winner subtree feeds both the broadcast fingerprint
    set and the final anti join, but it is ONE WindowGroupLimit
    shuffle whose stage AQE reuses within the execution — an eager
    checkpoint here measured strictly slower (an extra materialization
    job) than letting the exchange be shared, and a lazy API also
    keeps plan inspection free.
    """

    def _fp() -> Column:
        return content_fp_expr(text_col, normalize)

    if keep_fp_col is not None:  # replace, never duplicate (see above)
        new_docs = new_docs.drop(keep_fp_col)
    batch = new_docs.withColumn("_fp", _fp())
    if prefer_col is None:
        # same WindowGroupLimit shape as dedup_exact: one scan + one
        # shuffle of the batch, map-side partial top-1 per fingerprint
        from pyspark.sql import Window

        w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
        batch_kept = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        batch_kept = _prefer_winners(batch, id_col, prefer_col)
    # batch_kept feeds BOTH the broadcast fingerprint set and the final
    # anti join; its single window shuffle stage is AQE-reused across
    # the two consumers, so no lineage-cutting materialization is
    # needed (an eager checkpoint measured slower — see docstring)
    batch_fps = batch_kept.select("_fp").distinct()
    old_fp = (
        F.col(existing_fp_col)
        if existing_fp_col is not None
        else _fp()
    )
    old_hits = (
        existing.select(old_fp.alias("_fp"))
        .join(F.broadcast(batch_fps), "_fp", "left_semi")
        .distinct()
    )
    out = batch_kept.join(old_hits, "_fp", "left_anti")
    if keep_fp_col is not None:
        return out.withColumnRenamed("_fp", keep_fp_col)
    return out.drop("_fp")


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_size: int = 3,
    out_col: str = "minhash",
) -> DataFrame:
    """K-permutation MinHash over word shingles, entirely in codegen:
    ``sig[i] = min over shingles of xxhash64(shingle, i)``.

    Empty documents (< shingle_size tokens) get a NULL signature.
    """
    shingles = word_shingles_expr(tokens_expr(F.lower(F.col(text_col))), shingle_size)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    sig = F.transform(
        seeds,
        lambda i: F.array_min(
            F.transform(F.col("_shingles"), lambda s: F.xxhash64(s, i))
        ),
    )
    return (
        df.withColumn("_shingles", shingles)
        .withColumn(
            out_col,
            F.when(F.size("_shingles") > 0, sig).otherwise(F.lit(None)),
        )
        .drop("_shingles")
    )


def lsh_band_table(
    df_with_sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
) -> DataFrame:
    """The persistable LSH INDEX: one (id, _band, _band_hash) row per band
    of each signature. ``lsh_candidate_pairs`` derives pairs from this
    table; a production corpus stores it (partitioned by ``_band``) so
    nightly ingests only band the NEW documents and join against it
    (``lsh_incremental_candidates``) instead of re-banding the corpus."""
    sig = df_with_sig.filter(F.col(sig_col).isNotNull())
    k = F.size(F.col(sig_col))
    rows_per_band = (k / bands).cast("int")
    # generator + carried signature in ONE pass — no self-join; the
    # slice that hashes each band can't reference the explode alias in
    # the same select, hence the two-step projection
    banded = sig.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("_band"),
        F.col(sig_col),
        rows_per_band.alias("_rpb"),
    )
    return banded.select(
        id_col,
        "_band",
        F.xxhash64(
            F.col("_band"),
            F.slice(
                F.col(sig_col), F.col("_band") * F.col("_rpb") + 1,
                F.col("_rpb"),
            ).cast("string"),
        ).alias("_band_hash"),
    )


def _cap_buckets(
    banded: DataFrame, max_bucket: int, what: str
) -> DataFrame:
    """Drop every (_band, _band_hash) bucket larger than ``max_bucket``
    rows before pair enumeration, WARNING with the capped-bucket count
    (no silent truncation — the caller trades recall in pathological
    template-family buckets for a bounded candidate join; docs in a
    capped bucket can still pair through their other, smaller buckets).
    The bucket-size count is one window aggregate; the capped-bucket
    census is one small eager aggregation job — only run when a cap is
    requested."""
    import warnings

    from pyspark.sql import Window

    w = Window.partitionBy("_band", "_band_hash")
    sized = banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
    capped = (
        sized.filter(F.col("_bsz") > max_bucket)
        .agg(
            F.count_distinct("_band", "_band_hash").alias("n_buckets"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()[0]
    )
    if capped["n_buckets"]:
        warnings.warn(
            f"{what}: skipping {capped['n_buckets']} bucket(s) larger "
            f"than max_bucket={max_bucket} ({capped['n_rows']} band rows"
            ") — near-dup pairs entirely inside those buckets are NOT "
            "enumerated (bounded-recall cap); raise max_bucket or use "
            "the bands-only (threshold=None) path, which handles hot "
            "buckets linearly",
            stacklevel=3,
        )
    return sized.filter(F.col("_bsz") <= max_bucket).drop("_bsz")


def lsh_pairs_from_bands(
    banded: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate id pairs from an ALREADY-MATERIALIZED band table
    (``lsh_band_table`` output, possibly read back from its persisted
    parquet): bucket self-join on (_band, _band_hash), distinct
    (id_a, id_b) with id_a < id_b. Split out so stored LSH indexes are
    joined without re-banding (the curation pipeline persists the band
    table as a manifest stage and derives pairs from the parquet).

    ``max_bucket`` bounds the self-join against pathological buckets
    (a template family collapsing millions of docs onto one band hash
    makes the join O(B^2) in the bucket): buckets larger than the cap
    are skipped with a warning counting them (``_cap_buckets`` — never
    silent). Only pairs whose EVERY shared bucket exceeds the cap are
    lost."""
    if max_bucket is not None:
        banded = _cap_buckets(banded, max_bucket, "lsh_pairs_from_bands")
    a = banded.select(
        F.col("_band"), F.col("_band_hash"), F.col(id_col).alias("id_a")
    )
    b = banded.select(
        F.col("_band"), F.col("_band_hash"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["_band", "_band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    df_with_sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` equal bands, bucket by
    (band_id, hash(band)), emit candidate id pairs sharing any bucket.

    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    banded = lsh_band_table(df_with_sig, id_col, sig_col, bands)
    return lsh_pairs_from_bands(banded, id_col)


def lsh_incremental_candidates(
    new_bands: DataFrame,
    index_bands: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest candidates: pairs that involve AT LEAST ONE new
    document — new-vs-index plus new-vs-new — from two ``lsh_band_table``
    outputs. Index-vs-index pairs are never re-enumerated, which is the
    point: a nightly batch joins its bands against the stored corpus
    index (bucket equi-join on (_band, _band_hash), prunable to touched
    buckets when the index is partitioned by ``_band``) at cost
    proportional to the BATCH, not the corpus.

    Equivalence (tested): this equals ``lsh_candidate_pairs`` over the
    union minus the pairs entirely inside the index. Returns distinct
    (id_a, id_b), id_a < id_b. Ids must be disjoint between the two
    inputs."""
    n = new_bands.select(
        "_band", "_band_hash", F.col(id_col).alias("_nid")
    )
    other = new_bands.unionByName(index_bands).select(
        "_band", "_band_hash", F.col(id_col).alias("_oid")
    )
    return (
        n.join(other, ["_band", "_band_hash"])
        .filter(F.col("_nid") != F.col("_oid"))
        .select(
            F.least("_nid", "_oid").alias("id_a"),
            F.greatest("_nid", "_oid").alias("id_b"),
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
    threshold: float = 0.7,
    char_ngrams: bool = False,
) -> DataFrame:
    """Exact Jaccard similarity on candidate pairs; keeps pairs >= threshold.

    ``char_ngrams=True`` switches to character n-gram sets (n-gram Jaccard
    dedup); default is word-shingle sets (MinHash verification).
    """
    base = F.lower(F.col(text_col))
    grams = (
        char_ngrams_expr(base, shingle_size)
        if char_ngrams
        else word_shingles_expr(tokens_expr(base), shingle_size)
    )
    sets = docs.select(
        F.col(id_col), F.array_distinct(grams).alias("_grams")
    )
    out = (
        pairs.join(
            sets.select(
                F.col(id_col).alias("id_a"), F.col("_grams").alias("_ga")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"), F.col("_grams").alias("_gb")
            ),
            "id_b",
        )
        .withColumn(
            "_inter", F.size(F.array_intersect("_ga", "_gb"))
        )
        .withColumn("_union", F.size(F.array_union("_ga", "_gb")))
        .withColumn(
            "jaccard",
            F.when(F.col("_union") > 0, F.col("_inter") / F.col("_union")).otherwise(
                F.lit(0.0)
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def dedup_minhash_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dedup: returns ``docs`` minus near-duplicates.

    Duplicate groups keep their lowest id (connected via verified pairs; a
    single link pass — transitive closure is approximated by linking every
    member to the group's minimum id, which suffices when duplicates share
    buckets, the common case for near-identical documents).
    """
    with_sig = minhash_signature(docs, text_col, num_hashes, shingle_size)
    pairs = lsh_candidate_pairs(with_sig, id_col=id_col, bands=bands)
    dup_pairs = jaccard_verify(
        pairs, docs, id_col, text_col, shingle_size, threshold
    )
    # every id that appears as the larger member of a verified pair is a dup
    losers = dup_pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def dedup_minhash_lsh_against(
    new_docs: DataFrame,
    existing_bands: DataFrame,
    existing_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float | None = 0.7,
    new_bands: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """INCREMENTAL MinHash-LSH near-dedup: rows of ``new_docs`` that are
    NOT a near-duplicate of (a) any document behind ``existing_bands``
    (the persisted ``lsh_band_table`` of a curated corpus — the corpus
    keeps its copy, the batch's drops) or (b) a LOWER-id batch document
    (the ``dedup_minhash_lsh`` within-batch rule). Ids must be disjoint
    between batch and corpus.

    Scale: the batch is banded (``new_bands`` supplies pre-computed
    batch bands, e.g. a persisted stage, skipping the signature map);
    the stored index is only ever PROBED at the batch's bucket keys
    (broadcast semi join — the corpus bands are never shuffled or
    re-banded, and index-vs-index pairs are never enumerated).

    ``threshold=None`` is the bands-only mode: any bucket collision is
    treated as a duplicate (classic LSH without verification) and the
    corpus TEXT is never read. This mode enumerates NO candidate
    pairs: losers come from a per-bucket min aggregate (see the branch
    below), so a hot bucket — a template family with millions of
    members — costs O(bucket) rather than O(batch-side x corpus-side)
    rows. With a threshold, candidate pairs are
    verified by exact shingle Jaccard, which requires ``existing_docs``
    (id + text of the corpus) — the verify join touches only candidate
    ids (batch-bounded), but on a columnar store the corpus text column
    is still scanned to find them; keep verification for correctness-
    critical dedup and prefer bands-only when scanning the corpus text
    per increment is not acceptable.

    ``max_bucket`` (verified mode only) skips candidate buckets larger
    than the cap with a warning counting them — the bounded-recall
    guard against a pathological template-family bucket making the
    candidate join quadratic; the bands-only mode needs no cap (its
    per-bucket aggregate is linear under any skew)."""
    batch_bands = (
        new_bands
        if new_bands is not None
        else lsh_band_table(
            minhash_signature(new_docs, text_col, num_hashes, shingle_size),
            id_col=id_col,
            bands=bands,
        )
    )
    if threshold is None:
        # Bands-only loser rule — "a batch doc drops iff some bucket it
        # occupies holds a corpus doc or a smaller-id batch doc" — needs
        # no candidate-pair enumeration: per touched bucket, the WINNER
        # is min(struct(priority, id)) where corpus rows get priority 0
        # (a corpus partner always wins regardless of id) and batch rows
        # priority 1; a batch doc drops iff any of its buckets' winner
        # key sorts below its own. One broadcast semi join (corpus bands
        # pruned to the batch's buckets — never shuffled) + one
        # map-side-combinable aggregate, LINEAR in bucket size where the
        # bucket join is O(B*b) rows for a hot bucket of B corpus and b
        # batch docs.
        touched = batch_bands.select("_band", "_band_hash").distinct()
        corpus_hits = existing_bands.join(
            F.broadcast(touched), ["_band", "_band_hash"], "left_semi"
        )
        marked = batch_bands.select(
            "_band",
            "_band_hash",
            F.struct(
                F.lit(1).alias("_pri"), F.col(id_col).alias("_mid")
            ).alias("_key"),
        ).unionByName(
            corpus_hits.select(
                "_band",
                "_band_hash",
                F.struct(
                    F.lit(0).alias("_pri"), F.col(id_col).alias("_mid")
                ).alias("_key"),
            )
        )
        winners = marked.groupBy("_band", "_band_hash").agg(
            F.min("_key").alias("_wkey")
        )
        losers = (
            batch_bands.join(winners, ["_band", "_band_hash"])
            .filter(
                (F.col("_wkey._pri") == 0)
                | (F.col("_wkey._mid") < F.col(id_col))
            )
            .select(id_col)
            .distinct()
        )
        return new_docs.join(losers, id_col, "left_anti")
    # verified path: candidate pairs are unavoidable (each pair's
    # Jaccard must be computed), so the hot-bucket guard is the
    # max_bucket cap — union-side buckets above the cap are skipped
    # with a warning (never silently; see _cap_buckets). The n side
    # needs no cap: a bucket absent from o produces no pairs at all.
    n = batch_bands.select(
        "_band", "_band_hash", F.col(id_col).alias("_nid")
    )
    o = batch_bands.unionByName(existing_bands).select(
        "_band", "_band_hash", F.col(id_col).alias("_oid")
    )
    if max_bucket is not None:
        o = _cap_buckets(o, max_bucket, "dedup_minhash_lsh_against")
    cand = (
        n.join(o, ["_band", "_band_hash"])
        .filter(F.col("_nid") != F.col("_oid"))
        .select("_nid", "_oid")
        .distinct()
    )
    # batch membership of the OTHER side decides the loser rule: a
    # corpus partner always wins; a batch partner wins iff lower id.
    # The batch id set is dimension-sized -> broadcast.
    batch_ids = new_docs.select(F.col(id_col).alias("_oid")).distinct()
    if existing_docs is None:
        raise ValueError(
            "dedup_minhash_lsh_against: threshold verification needs "
            "existing_docs (corpus id + text); pass threshold=None for "
            "bands-only dedup without corpus text access"
        )
    pairs = cand.select(
        F.least("_nid", "_oid").alias("id_a"),
        F.greatest("_nid", "_oid").alias("id_b"),
    ).distinct()
    docs_union = new_docs.select(F.col(id_col), F.col(text_col)).unionByName(
        existing_docs.select(F.col(id_col), F.col(text_col))
    )
    verified = jaccard_verify(
        pairs, docs_union, id_col, text_col, shingle_size, threshold
    )
    b_ids_a = batch_ids.withColumnRenamed("_oid", "id_a")
    b_ids_b = batch_ids.withColumnRenamed("_oid", "id_b")
    # id_b in batch: loses to id_a (lower batch id or corpus doc).
    # id_a in batch, id_b in corpus: the batch side loses regardless.
    lose_b = verified.join(F.broadcast(b_ids_b), "id_b", "left_semi").select(
        F.col("id_b").alias(id_col)
    )
    lose_a = (
        verified.join(F.broadcast(b_ids_a), "id_a", "left_semi")
        .join(F.broadcast(b_ids_b), "id_b", "left_anti")
        .select(F.col("id_a").alias(id_col))
    )
    losers = lose_b.unionByName(lose_a).distinct()
    return new_docs.join(losers, id_col, "left_anti")


def jaccard_join_exact(
    docs: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT token-set Jaccard self-join via prefix filtering (PPJoin /
    AllPairs family — Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07,
    Xiao et al. WWW'08). Complements the approximate MinHash-LSH path
    with a no-false-negative, no-false-positive similarity join.

    Returns every unordered pair (id_a < id_b) whose distinct-token
    Jaccard similarity is >= ``threshold``, with exact ``inter_size`` /
    ``union_size`` counts and the similarity itself.

    Algorithm (all JVM-side column expressions, zero Python per row):

    1. distinct-token sets per document;
    2. global token rarity: df per token (one hash aggregate), tokens
       within each record ordered by (df ASC, token ASC) — the canonical
       rarest-first total order that makes short prefixes selective;
    3. prefix filtering: a record of size s only needs its first
       ``s - ceil(t*s) + 1`` rarest tokens indexed — any pair with
       J >= t shares >= ceil(t*s) tokens (|inter| >= t*|union| >=
       t*s), and by the prefix-filtering lemma two sets with overlap o
       must collide within their (size - o + 1)-prefixes under any
       shared total order. A 1e-9 slack inside ceil() guards against
       the float product t*s landing one ulp above an exact integer
       (which would shorten the prefix and lose the guarantee);
    4. equi-join on prefix tokens -> candidate id pairs (plus the size
       filter t*s_a <= s_b <= s_a/t), distinct;
    5. exact verify: join candidates back to the full sets, exact
       integer intersection/union, keep J >= t.

    Scale notes: the only shuffles are token-df aggregation, the prefix
    equi-join, and the verify joins on id. The prefix join's key
    distribution is anti-skewed BY CONSTRUCTION — prefixes keep each
    record's globally rarest tokens, so hot (high-df) tokens are
    exactly the ones dropped from the index. Candidate volume is the
    classic PPJoin bound, orders of magnitude below the O(n^2)
    verify-everything alternative; the verify stage is proportional to
    candidates, not corpus size.
    """
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(tokens_expr(F.lower(F.col(text_col)))).alias("_s"),
    ).filter(F.size("_s") > 0)
    tok = toks.select("_id", F.explode("_s").alias("_token"))
    token_df = tok.groupBy("_token").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        tok.join(token_df, "_token")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_df", "_token"))
            ).alias("_ordered")
        )
        .withColumn("_sz", F.size("_ordered"))
    )
    prefix_len = (
        F.col("_sz")
        - F.ceil(F.lit(threshold) * F.col("_sz") - F.lit(1e-9))
        + 1
    ).cast("int")
    pref = ranked.select(
        "_id",
        "_sz",
        F.transform("_ordered", lambda s: s["_token"]).alias("_set"),
        F.slice("_ordered", 1, prefix_len).alias("_prefix"),
    )
    # pref is read FOUR times (both sides of the prefix equi-join, both
    # sides of the verify join) and its upstream is the token-df
    # ranking — explode + two shuffles; the alias-divergent branches
    # defeat ReuseExchange. One materialization, three block reads.
    pref = stable_checkpoint(pref)
    inv = pref.select(
        "_id", "_sz", F.explode("_prefix").alias("_ptok")
    )
    a = inv.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"), "_ptok"
    )
    b = inv.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"), "_ptok"
    )
    cand = (
        a.join(b, "_ptok")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("_szb") >= F.lit(threshold) * F.col("_sza"))
            & (F.col("_sza") >= F.lit(threshold) * F.col("_szb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets = pref.select("_id", "_set", "_sz")
    verified = (
        cand.join(
            sets.select(
                F.col("_id").alias("id_a"),
                F.col("_set").alias("_sa"),
                F.col("_sz").alias("_sza"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("_id").alias("id_b"),
                F.col("_set").alias("_sb"),
                F.col("_sz").alias("_szb"),
            ),
            "id_b",
        )
        .withColumn("inter_size", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "union_size",
            F.col("_sza") + F.col("_szb") - F.col("inter_size"),
        )
        .withColumn(
            "jaccard", F.col("inter_size") / F.col("union_size")
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("inter_size").cast("long").alias("inter_size"),
            F.col("union_size").cast("long").alias("union_size"),
            "jaccard",
        )
    )
    return verified


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Weighted near-duplicate discovery: every unordered doc pair whose
    TF-IDF cosine similarity reaches ``threshold``, via an inverted-index
    self-join (the weighted complement of ``jaccard_join_exact`` /
    MinHash — Bayardo et al. WWW'07's all-pairs problem with cosine
    weights). idf = ln((N+1)/(df+1)) + 1 (smooth, sklearn convention);
    vectors are L2-normalized so the pair dot product IS the cosine.

    ``max_df`` drops tokens present in more than that many documents from
    the vocabulary (standard stop-word feature selection). This is also
    the SCALE control: posting-list self-join volume is sum(df^2) over
    kept tokens, so capping df caps the candidate count — the dropped
    tokens are exactly the least-informative ones (idf -> ~1 region).

    Every float is bit-deterministic cross-engine: idf/weights derive from
    exact integer counts, and BOTH varying-size sums (the per-doc norm and
    the per-pair dot product) are folded in sorted token order via
    ``F.aggregate(sort_array(collect_list(...)))`` — the fixed-order fold
    a DuckDB ``list_reduce(list(x ORDER BY token), ...)`` reproduces
    exactly (0.0 + x == x for the positive weights here).

    Returns (id_a, id_b, n_shared, cosine) with id_a < id_b.
    """
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens_expr(F.lower(F.col(text_col)))).alias("_token"),
    )
    tf = toks.groupBy("_id", "_token").agg(F.count(F.lit(1)).alias("_tf"))
    n1 = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    df_tab = tf.groupBy("_token").agg(F.count(F.lit(1)).alias("_df"))
    if max_df is not None:
        df_tab = df_tab.filter(F.col("_df") <= max_df)
    w = (
        tf.join(df_tab, "_token")
        .crossJoin(F.broadcast(n1))
        .withColumn(
            "_w",
            F.col("_tf").cast("double")
            * (
                F.log(
                    (F.col("_n_docs") + F.lit(1.0))
                    / (F.col("_df") + F.lit(1.0))
                )
                + F.lit(1.0)
            ),
        )
        .select("_id", "_token", "_w")
    )

    def _sorted_fold(pairs_col):
        return F.aggregate(
            F.sort_array(pairs_col), F.lit(0.0), lambda acc, x: acc + x["_p"]
        )

    norm = w.groupBy("_id").agg(
        _sorted_fold(
            F.collect_list(
                F.struct(F.col("_token"), (F.col("_w") * F.col("_w")).alias("_p"))
            )
        ).alias("_n2")
    )
    wn = w.join(norm, "_id").select(
        "_id", "_token", (F.col("_w") / F.sqrt(F.col("_n2"))).alias("_wn")
    )
    a = wn.select(
        F.col("_id").alias("id_a"), "_token", F.col("_wn").alias("_wa")
    )
    b = wn.select(
        F.col("_id").alias("id_b"), "_token", F.col("_wn").alias("_wb")
    )
    scored = (
        a.join(b, "_token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            _sorted_fold(
                F.collect_list(
                    F.struct(
                        F.col("_token"),
                        (F.col("_wa") * F.col("_wb")).alias("_p"),
                    )
                )
            ).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", "n_shared", "cosine"
    )


# ---------------------------------------------------------------------------
# Minimizer signatures (winnowing) — exact-substring candidate generation
# ---------------------------------------------------------------------------

_MINI_P = 1_000_003  # same prime as doc_fingerprint / sampling arith hashes
_MINI_MULT = 31


def _kmer_pows(k: int) -> list[int]:
    """31^(k-1-j) mod P for j in 0..k-1 — precomputed so the k-mer hash is
    a plain weighted sum (no fold-initialisation headaches in the DuckDB
    twin, which only has seedless ``list_reduce``)."""
    return [pow(_MINI_MULT, k - 1 - j, _MINI_P) for j in range(k)]


def kmer_hash_array_expr(text, k: int = 8):
    """Array of polynomial hashes of every ``k``-char substring of
    ``text`` (positions 1..len-k+1), entirely inside codegen:

        h(i) = ( sum_j ascii(text[i+j]) * 31^(k-1-j) ) mod 1_000_003

    Exact integer arithmetic (max partial sum k*255*P < 2^63), identical
    in ANSI SQL — the winnowing (Schleimer et al., SIGMOD 2003) k-gram
    hash stream. Texts shorter than ``k`` chars yield an empty array."""
    pows = _kmer_pows(k)
    n_kmers = F.length(text) - F.lit(k - 1)
    # HOF lambdas are interpreted (no whole-stage codegen) AND re-evaluate
    # captured expression subtrees per element — so (1) the char-code
    # array is let-bound (computed once per row), and (2) the
    # per-position hash is an UNROLLED k-term weighted sum over cheap
    # element_at int lookups (no per-position nested aggregate, no
    # substr object churn). The codes array itself is built from a char
    # SPLIT, not per-position substr: substr(i, 1) seeks its start by
    # walking UTF-8 bytes from the front, O(len^2) per document.
    codes = F.transform(
        F.split(text, ""),
        lambda ch: F.ascii(ch).cast("long"),
    )

    def _hashes(cv):
        def at(i, j):
            return F.element_at(cv, i + j) * F.lit(pows[j])

        return F.transform(
            F.sequence(F.lit(1), n_kmers),
            lambda i: sum(
                (at(i, j) for j in range(1, k)), at(i, 0)
            )
            % _MINI_P,
        )

    hashes = let_expr(codes, _hashes)
    # sequence(1, n) runs DESCENDING for n < 1 — guard short texts
    return F.when(n_kmers >= 1, hashes).otherwise(
        F.array().cast("array<long>")
    )


def minimizers_of_hashes_expr(hs, w: int = 8):
    """Distinct w-window minima of an ALREADY-MATERIALIZED hash-array
    column: slide a ``w``-window over ``hs`` and keep each window's
    minimum. ``hs`` MUST be a plain column reference (not the
    ``kmer_hash_array_expr`` tree itself): it is referenced inside the
    per-window lambda, and Spark re-evaluates lambda-captured expression
    trees per element — an inlined hash expression would turn the
    O(len·w) window scan into O(len²·k) per document. Stage it with a
    projection first (see ``minimizer_signatures``)."""
    n = F.size(hs)
    # unrolled least() over w element_at lookups — no per-window slice
    # allocation (array_min(slice(...)) builds a w-array per position)
    if w == 1:
        window_min = lambda i: F.element_at(hs, i)  # noqa: E731
    else:
        window_min = lambda i: F.least(  # noqa: E731
            *[F.element_at(hs, i + j) for j in range(w)]
        )
    mins = F.when(
        n >= w,
        F.transform(F.sequence(F.lit(1), n - F.lit(w - 1)), window_min),
    ).otherwise(
        F.when(n >= 1, F.array(F.array_min(hs))).otherwise(
            F.array().cast("array<long>")
        )
    )
    return F.array_distinct(mins)


def minimizer_signatures(
    docs: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    *,
    k: int = 8,
    w: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_col, minimizer) — one row per distinct minimizer per document,
    the winnowing fingerprint scheme (Schleimer et al., SIGMOD 2003;
    MOSS / sourmash / minimap2). Any two documents sharing an exact
    substring of length >= w + k - 1 share at least one minimizer, so
    the signature is a LOSSLESS blocking key for exact-substring
    candidate generation (unlike MinHash, which is probabilistic).
    Expected signature size ~ 2·len/(w+1) — documents compress ~4x at
    the defaults.

    Two chained projections, both map-side: (1) materialize the k-mer
    hash array (O(len·k) per doc), (2) window minima over the COLUMN
    reference (O(len·w)) — keeping the hash tree out of the window
    lambda, which would otherwise re-evaluate it per window position
    (O(len²·k)). The explode emits the ~4x-compressed minimizer stream,
    never the raw k-mer stream; the only shuffle is whatever consumes
    the signatures."""
    if num_partitions is not None:
        # the signature map is interpreted HOF work (~ms/doc); when the
        # input arrives in a handful of partitions (single small parquet
        # file locally), spread the RAW docs before the heavy projection
        # (repartitioning after it would still run the map single-
        # threaded upstream of the exchange). At real scale the scan
        # already has thousands of partitions — leave None, shuffle-free.
        docs = docs.repartition(num_partitions, doc_col)
    staged = docs.select(
        doc_col,
        kmer_hash_array_expr(F.col(text_col), k).alias("_hs"),
    )
    return staged.select(
        doc_col,
        F.explode(
            minimizers_of_hashes_expr(F.col("_hs"), w)
        ).alias("minimizer"),
    )


def minimizer_candidate_pairs(
    sigs: DataFrame,
    doc_col: str = "doc_id",
    *,
    min_shared: int = 2,
    max_df: int | None = 1000,
    bucket_partitions: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs from shared minimizers:
    (id_a, id_b, n_shared) for pairs sharing >= ``min_shared``
    minimizers, id_a < id_b.

    Scale design — the same blocked-join discipline as LSH bands /
    PPJoin prefixes: pairs are generated ONLY inside per-minimizer
    buckets (self-equi-join on the minimizer value, never all-pairs),
    and ``max_df`` drops stop-word-like minimizers whose document
    frequency exceeds the cap BEFORE the join, bounding the worst
    bucket at C(max_df, 2) pairs. Each surviving pair carries the
    exact count of shared minimizers for downstream verification
    (``jaccard_verify`` / exact substring extension)."""
    if bucket_partitions is not None:
        # the bucket self-join amplifies rows ~Σ df² / Σ df downstream of
        # this exchange, which AQE CANNOT see when it coalesces the
        # (small) signature shuffle — pin the join-stage parallelism by
        # pre-partitioning on the join key (the same exchange the df
        # window and the join require, so it adds no shuffle).
        sigs = sigs.repartition(bucket_partitions, "minimizer")
    if max_df is not None:
        # document frequency via an unordered window (one exchange on
        # minimizer, no self-join back) — the downstream bucket join
        # needs that same hash partitioning, so the exchange is shared
        # (ReusedExchange), and the expensive signature map runs once
        from pyspark.sql import Window

        sigs = (
            sigs.withColumn(
                "_df",
                F.count(F.lit(1)).over(Window.partitionBy("minimizer")),
            )
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    a = sigs.select(
        F.col(doc_col).alias("id_a"), F.col("minimizer").alias("_m")
    )
    b = sigs.select(
        F.col(doc_col).alias("id_b"), F.col("minimizer").alias("_m")
    )
    return (
        a.join(b, "_m")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
