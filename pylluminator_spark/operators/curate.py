"""Manifest-backed corpus curation pipeline (public API).

Beyond-reference (driver north star: large-scale training-data
pipeline). The methyl side has ``MethylSession.run_pipeline``
(plans/session.py — manifest-backed, resumable); this is the corpus
analogue (VERDICT r9 "what's missing" #3): the LLM-curation chain the
210 k-doc scale test (tests/test_scale_llm_pipeline.py) proves —

    [domain cap / blocklist] -> [language ID filter] -> exact dedup
    -> [MinHash-LSH fuzzy dedup over a persisted band-table index]
    -> paragraph dedup -> [CCNet paragraph-perplexity cut]
    -> HTML strip + token-count quality gate [+ Gopher thresholds
    + pre-fit quality classifier, inside the gate stage]
    -> [sequence packing]

(bracketed stages optional) — composed over
``plans.manifest.PipelineManifest`` stages. Every stage output is
content-addressed parquet: re-running with unchanged inputs / params /
stage code returns each stage ``from_cache=True`` without touching the
data; changing a stage's params or code recomputes that stage and
everything downstream, nothing upstream. Stage order matters and is
fixed: paragraph dedup and the CCNet cut run BEFORE HTML stripping
(stripping collapses the blank-line paragraph boundaries they key on),
the quality gate runs on stripped text, packing runs last.

The dedup stages PERSIST their fingerprints in the stage parquet
(``content_fp`` 8 B/doc, ``para_fps`` 8 B/paragraph, the LSH band
table): :func:`curate_increment` probes those columns with pruned
columnar scans, so a daily increment reads a fraction of a percent of
the corpus bytes and never re-reads the generations' text.

Scale notes: each stage inherits its operator's scale design (hash/
fingerprint shuffles, broadcast models, size-dispatched global ranks —
see the operator docstrings); the manifest adds one parquet
write + columnar re-read per stage, which is what makes multi-day
100 TB curation RESUMABLE — a failed stage rerun starts from its
parents' parquet, not from the raw crawl.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pylluminator_spark.plans.manifest import PipelineManifest, StageRef


# --------------------------------------------------------------------------
# stage functions — MODULE-LEVEL so their code-object fingerprints are
# stable across sessions (a lambda redefined per call would re-key every
# stage every run). Each takes (spark, *input_dfs, **params) per the
# PipelineManifest.stage contract; everything variable routes through
# params (fingerprinted), never closures (invisible to the key).
# --------------------------------------------------------------------------


def _stage_langid_filter(
    spark: SparkSession,
    docs: DataFrame,
    *,
    keep_lang: str,
    label_col: str,
    text_col: str,
    doc_col: str,
    n: int,
    buckets: int,
    alpha: float,
) -> DataFrame:
    """Self-labeled n-gram language ID (one fused gram pass), keep only
    documents PREDICTED ``keep_lang`` — drops both other languages and
    mislabeled/garbled documents whose gram profile doesn't match."""
    from pylluminator_spark.operators.langid import (
        fit_classify_langid,
        langid_predict,
    )

    pred = langid_predict(
        fit_classify_langid(
            docs,
            label_col,
            text_col,
            doc_col,
            n=n,
            buckets=buckets,
            alpha=alpha,
        ),
        doc_col,
    )
    keep = pred.filter(F.col("pred_lang") == keep_lang).select(doc_col)
    return docs.join(keep, doc_col)


def _stage_domain_filter(
    spark: SparkSession,
    docs: DataFrame,
    *refs: DataFrame,
    domain_col: str,
    cap: int | None,
    blocked: list | None,
    doc_col: str,
) -> DataFrame:
    """Crawl-diversity / policy controls on the RAW frame (C4/Gopher
    both apply them before dedup): drop blocklisted domains (broadcast
    anti join — ``blocked`` inline list, or a one-column frame passed
    through ``refs``), then keep at most ``cap`` rows per domain
    (deterministic keyed-hash sample; one hash-partitioned window —
    operators.cleanup.cap_per_domain). Runs FIRST so every column of
    the source passes through to downstream stages."""
    from pylluminator_spark.operators.cleanup import (
        blocklist_filter,
        cap_per_domain,
    )

    out = docs
    if blocked is not None:
        out = blocklist_filter(out, blocked, domain_col)
    if refs:
        out = blocklist_filter(out, refs[0], domain_col)
    if cap is not None:
        out = cap_per_domain(out, domain_col, cap, id_col=doc_col)
    return out


def _stage_dedup_exact(
    spark: SparkSession,
    docs: DataFrame,
    *,
    text_col: str,
    doc_col: str,
    normalize: bool,
    prefer_col: str | None = None,
) -> DataFrame:
    """Whole-document exact dedup: lowest-``doc_col`` row survives per
    normalized-content fingerprint (one hash shuffle of 8-byte keys) —
    or the highest-``prefer_col`` copy when given (the quality-winner
    rule; the column must exist on the source docs). The fingerprint is
    PERSISTED in the stage parquet (``content_fp``, 8 B/doc): increments
    probe that column with a pruned columnar scan instead of re-hashing
    every generation's full text (VERDICT r10 "what's wrong" #1)."""
    from pylluminator_spark.operators.dedup import dedup_exact

    return dedup_exact(
        docs,
        text_col=text_col,
        id_col=doc_col,
        normalize=normalize,
        prefer_col=prefer_col,
        keep_fp_col="content_fp",
    )


def _stage_dedup_paragraphs(
    spark: SparkSession,
    docs: DataFrame,
    *,
    text_col: str,
    doc_col: str,
    min_chars: int,
) -> DataFrame:
    """Corpus-wide paragraph dedup (globally-first occurrence kept),
    documents reassembled; output keeps ``text_col`` as the cleaned
    text so downstream stages are column-compatible, plus the kept
    paragraphs' fingerprints (``para_fps``, array<long> — 8 B/paragraph
    in the stage parquet) so increments probe the fingerprint column
    instead of re-splitting + re-hashing every generation's text."""
    from pylluminator_spark.operators.cleanup import dedup_paragraphs

    # content_fp rides the reassembly join this operator performs
    # anyway (carry_cols — no extra shuffle) so the GATE stage ends up
    # holding every fingerprint an increment needs in one parquet — see
    # _stage_quality_gate
    carry = ("content_fp",) if "content_fp" in docs.columns else ()
    out = dedup_paragraphs(
        docs.select(doc_col, text_col, *carry),
        text_col=text_col,
        id_col=doc_col,
        min_chars=min_chars,
        keep_fps_col="para_fps",
        carry_cols=carry,
    )
    return out.select(
        doc_col,
        F.col("clean_text").alias(text_col),
        "n_paras_kept",
        "n_paras_dropped",
        "para_fps",
        *carry,
    )


def _stage_fuzzy_bands(
    spark: SparkSession,
    docs: DataFrame,
    *,
    text_col: str,
    doc_col: str,
    num_hashes: int,
    bands: int,
    shingle_size: int,
) -> DataFrame:
    """The persistable LSH INDEX of one generation: MinHash signatures
    over word shingles, split into bands — one (id, _band, _band_hash)
    row per band (operators.dedup.lsh_band_table). Keyed off the
    generation's exact-dedup stage + the fuzzy knobs, so (a) increments
    probing a generation CACHE-HIT the table its own run built, (b)
    enabling fuzzy on a root whose base predates it builds the missing
    table exactly once, and (c) a knob change re-keys and rebuilds."""
    from pylluminator_spark.operators.dedup import (
        lsh_band_table,
        minhash_signature,
    )

    return lsh_band_table(
        minhash_signature(docs, text_col, num_hashes, shingle_size),
        id_col=doc_col,
        bands=bands,
    )


def _stage_fuzzy_dedup(
    spark: SparkSession,
    docs: DataFrame,
    bands_tbl: DataFrame,
    *,
    text_col: str,
    doc_col: str,
    shingle_size: int,
    threshold: float | None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Corpus-wide MinHash-LSH near-dedup over the persisted band
    table. ``threshold=None`` (bands-only) treats any bucket collision
    as a duplicate and never re-reads the text; a float threshold
    verifies bucket-join candidate pairs by exact shingle Jaccard.
    Either way each duplicate group keeps its lowest id.

    The bands-only drop rule — "a doc loses iff ANY band-mate has a
    smaller id" — needs no pair enumeration: per (_band, _band_hash)
    bucket a doc loses iff it differs from the bucket's min id. That is
    one window aggregate over the band table, LINEAR in the table even
    when a boilerplate-heavy template family puts millions of docs in
    one bucket, where the bucket self-join of ``lsh_pairs_from_bands``
    is O(B^2) rows per bucket of size B. The verified path still
    enumerates pairs (each pair's Jaccard must be computed) — there the
    hot-bucket guard is the ``max_bucket`` cap, not this rewrite."""
    from pylluminator_spark.operators.dedup import (
        jaccard_verify,
        lsh_pairs_from_bands,
    )

    if threshold is None:
        from pyspark.sql import Window

        w = Window.partitionBy("_band", "_band_hash")
        losers = (
            bands_tbl.withColumn("_min_id", F.min(doc_col).over(w))
            .filter(F.col(doc_col) > F.col("_min_id"))
            .select(doc_col)
            .distinct()
        )
        return docs.join(losers, doc_col, "left_anti")
    pairs = jaccard_verify(
        lsh_pairs_from_bands(bands_tbl, doc_col, max_bucket=max_bucket),
        docs.select(doc_col, text_col),
        doc_col,
        text_col,
        shingle_size,
        threshold,
    ).select("id_a", "id_b")
    losers = pairs.select(F.col("id_b").alias(doc_col)).distinct()
    return docs.join(losers, doc_col, "left_anti")


def _stage_gate_bands(
    spark: SparkSession,
    bands_tbl: DataFrame,
    gate: DataFrame,
    *,
    doc_col: str,
) -> DataFrame:
    """A generation's POST-GATE band rows: its ``fuzzy_bands`` index
    restricted to quality-gate survivors, materialized ONCE per
    generation (keyed off the band stage + the gate stage, so a gate
    or knob change re-keys). This is the band-table analogue of the
    gate's persisted fingerprint passenger columns: without it every
    increment re-runs a corpus-band-sized semi join per generation
    (band table ⋉ gate — hundreds of bytes per doc shuffled per
    increment); with it an increment's probe of a generation is ONE
    pruned parquet scan of rows that are already exactly the curated
    documents' bands."""
    return bands_tbl.join(
        gate.select(F.col(doc_col)), doc_col, "left_semi"
    ).select(doc_col, "_band", "_band_hash")


def _stage_inc_fuzzy_dedup(
    spark: SparkSession,
    batch: DataFrame,
    batch_bands: DataFrame,
    *refs: DataFrame,
    text_col: str,
    doc_col: str,
    shingle_size: int,
    threshold: float | None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH near-dedup: batch rows that near-dup
    neither a gate-surviving document of ANY curated generation (probed
    through each generation's persisted GATE-FILTERED band table — the
    corpus is never re-banded, and no per-increment band ⋉ gate semi
    join runs: ``_stage_gate_bands`` materialized that restriction once
    per generation) nor a lower-id batch row. ``refs`` is the flat
    [gate_bands_0..n-1, exact_0..n-1, gate_0..n-1] list; the exact and
    gate stages supply corpus text ONLY when ``threshold`` verification
    is on (bands-only mode reads nothing but the gate_bands parquet)."""
    from pylluminator_spark.operators.dedup import dedup_minhash_lsh_against

    n = len(refs) // 3
    bands_tbls, exacts, gates = refs[:n], refs[n : 2 * n], refs[2 * n :]
    gated_bands = None
    for b in bands_tbls:
        part = b.select(doc_col, "_band", "_band_hash")
        gated_bands = (
            part if gated_bands is None else gated_bands.unionByName(part)
        )
    existing_docs = None
    if threshold is not None:
        for e, g in zip(exacts, gates):
            part = e.select(doc_col, text_col).join(
                g.select(doc_col), doc_col, "left_semi"
            )
            existing_docs = (
                part
                if existing_docs is None
                else existing_docs.unionByName(part)
            )
    return dedup_minhash_lsh_against(
        batch,
        gated_bands,
        existing_docs,
        id_col=doc_col,
        text_col=text_col,
        shingle_size=shingle_size,
        threshold=threshold,
        new_bands=batch_bands,
        max_bucket=max_bucket,
    )


def _stage_quality_gate(
    spark: SparkSession,
    docs: DataFrame,
    *,
    text_col: str,
    doc_col: str,
    min_tokens: int,
    max_tokens: int,
    gopher: dict | None = None,
    classifier: dict | None = None,
) -> DataFrame:
    """Strip HTML tags/entities, then keep documents whose whitespace
    token count lies in [min_tokens, max_tokens] — both pure codegen
    expressions, no shuffle. Optional refinements run on the SAME
    stripped text inside this one stage (so gate survivors remain
    exactly the curated documents — the invariant the increments'
    suppression filtering depends on):

    - ``gopher``: Gopher-rule signal thresholds
      (operators.corpus.gopher_signals + gopher_keep_expr — one
      doc-keyed token aggregation);
    - ``classifier``: a PRE-FIT quality logistic regression applied as
      one codegen expression — ``{"weights": {feature: w}, "intercept":
      b, "threshold": t}`` over operators.classifier.quality_feature_
      exprs features (weights keyed by feature name; order-independent).

    The upstream dedup fingerprints (``content_fp``, ``para_fps``) ride
    through as PASSENGER columns when present, so the gate's stage
    parquet alone carries (curated doc, text, n_tokens, every
    fingerprint) — an increment probes ONE pruned parquet scan per
    generation with no joins, and old generations can garbage-collect
    every intermediate stage keeping only their gate parquet.
    """
    from pylluminator_spark.functions.text import (
        strip_html_expr,
        token_count_expr,
    )

    passengers = [
        c for c in ("content_fp", "para_fps") if c in docs.columns
    ]
    stripped = docs.select(
        doc_col,
        strip_html_expr(F.col(text_col)).alias(text_col),
        *passengers,
    )
    n_tok = token_count_expr(F.col(text_col))
    out = stripped.filter(
        (n_tok >= min_tokens) & (n_tok <= max_tokens)
    ).withColumn("n_tokens", n_tok.cast("long"))
    if gopher is not None:
        from pylluminator_spark.operators.corpus import (
            gopher_keep_expr,
            gopher_signals,
        )

        sig = gopher_signals(out, text_col, doc_col)
        keep = sig.filter(gopher_keep_expr(**gopher)).select(doc_col)
        out = out.join(keep, doc_col, "left_semi")
    if classifier is not None:
        from pylluminator_spark.operators.classifier import (
            logreg_predict_expr,
            quality_feature_exprs,
        )

        feats = quality_feature_exprs(F.col(text_col))
        names = sorted(classifier["weights"])
        score = logreg_predict_expr(
            [feats[k] for k in names],
            [classifier["weights"][k] for k in names],
            classifier["intercept"],
        )
        out = out.filter(score >= F.lit(float(classifier["threshold"])))
    return out


def _stage_ccnet_filter(
    spark: SparkSession,
    docs: DataFrame,
    *refs: DataFrame,
    text_col: str,
    doc_col: str,
    keep: list,
    keep_short: bool,
    head_frac: float,
    middle_frac: float,
    alpha: float,
    backoff: float,
    min_bigram_count: int,
) -> DataFrame:
    """CCNet paragraph-perplexity cut (operators.ccnet.
    ccnet_paragraph_filter): keep each document's ``keep``-bucket
    paragraphs under the bigram LM, reassemble. Placed between
    paragraph dedup and the quality gate (needs blank-line boundaries,
    like dedup). ``refs`` optionally carries ONE reference corpus frame
    the LM fits on (the CCNet semantic — fit on curated text, score the
    crawl); empty refs self-fit on ``docs``. The output persists the
    surviving paragraphs' fingerprints (``para_fps``) — with this stage
    in the chain IT is the generation's paragraph-suppression reference
    (paragraphs ccnet dropped exist nowhere in the corpus and must not
    suppress new content)."""
    from pylluminator_spark.operators.ccnet import ccnet_paragraph_filter

    carry = ("content_fp",) if "content_fp" in docs.columns else ()
    out = ccnet_paragraph_filter(
        docs.select(doc_col, text_col, *carry),
        text_col,
        doc_col,
        reference=refs[0] if refs else None,
        keep=tuple(keep),
        keep_short=keep_short,
        head_frac=head_frac,
        middle_frac=middle_frac,
        alpha=alpha,
        backoff=backoff,
        min_bigram_count=min_bigram_count,
        keep_fps_col="para_fps",
        carry_cols=carry,  # passenger — see _stage_quality_gate
    )
    return out.select(
        doc_col,
        F.col("clean_text").alias(text_col),
        "n_paras_kept",
        "n_paras_dropped",
        "para_fps",
        *carry,
    )


def _gated_fp_union(
    refs: tuple[DataFrame, ...],
    text_col: str,
    doc_col: str,
    *,
    kind: str,
    normalize: bool = True,
) -> DataFrame:
    """One-column ``_exfp`` frame of every curated generation's content
    fingerprints, gate-filtered: ``refs`` is the flat
    [stage_0..stage_n-1, gate_0..gate_n-1] list a variadic manifest
    stage receives. The semi join restricts each suppression reference
    to documents that actually made it into the curated store — a
    paragraph or document the base REJECTED must not suppress new
    content (it exists nowhere in the corpus). Both sides are doc-keyed
    stage parquet, so the semi join is one co-keyed shuffle per corpus,
    never a recompute.

    ``kind`` = 'doc' reads the persisted ``content_fp`` column (8 B/doc
    — the stage scan is column-pruned, the generation's TEXT is never
    read); 'para' explodes the persisted ``para_fps`` array.

    FAST PATH: a generation whose GATE stage carries the fingerprint
    passenger columns (pipelines from r11 on) is probed as ONE pruned
    scan of the gate parquet — the gate rows ARE the curated documents,
    so no gate semi join runs at all (the join below is the
    intermediate-format path, where fingerprints live on the dedup
    stage and must be restricted to gate survivors — a per-increment
    doc-keyed shuffle the fast path eliminates). A generation written
    by a pre-fingerprint pipeline (no fingerprint column anywhere)
    falls back to recomputing fingerprints from its text — the one-time
    legacy cost; its NEXT generation carries the columns."""
    from pylluminator_spark.operators.cleanup import split_paragraphs
    from pylluminator_spark.operators.dedup import content_fp_expr

    n = len(refs) // 2
    stages, gates = refs[:n], refs[n:]
    parts = []
    for s, g in zip(stages, gates):
        col = "content_fp" if kind == "doc" else "para_fps"
        if col in g.columns:
            fp = (
                F.col("content_fp")
                if kind == "doc"
                else F.explode("para_fps")
            )
            parts.append(g.select(fp.alias("_exfp")))
        elif kind == "doc":
            if "content_fp" in s.columns:
                gated = s.select(doc_col, "content_fp").join(
                    g.select(doc_col), doc_col, "left_semi"
                )
                parts.append(gated.select(F.col("content_fp").alias("_exfp")))
            else:  # legacy text-only generation
                gated = s.select(doc_col, text_col).join(
                    g.select(doc_col), doc_col, "left_semi"
                )
                parts.append(
                    gated.select(
                        content_fp_expr(text_col, normalize).alias("_exfp")
                    )
                )
        else:
            if "para_fps" in s.columns:
                gated = s.select(doc_col, "para_fps").join(
                    g.select(doc_col), doc_col, "left_semi"
                )
                parts.append(
                    gated.select(F.explode("para_fps").alias("_exfp"))
                )
            else:  # legacy: split + hash the generation's text map-side
                gated = s.select(doc_col, text_col).join(
                    g.select(doc_col), doc_col, "left_semi"
                )
                parts.append(
                    split_paragraphs(gated, text_col, doc_col).select(
                        F.xxhash64("para").alias("_exfp")
                    )
                )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _stage_langid_filter_model(
    spark: SparkSession,
    docs: DataFrame,
    weights: DataFrame,
    langs: DataFrame,
    *,
    keep_lang: str,
    text_col: str,
    doc_col: str,
    n: int,
    buckets: int,
) -> DataFrame:
    """Language filter under a PRE-FIT model (weights/langs from
    ``operators.langid.fit_langid`` on a big corpus) — the right shape
    for increments, where a self-labeled fit on a small daily batch is
    statistically weak. ``n``/``buckets`` MUST match the fit's — the
    model frames carry no hyperparams, so a mismatch silently computes
    gram buckets in a different space than the model and misclassifies
    wholesale. The one direction that is detectable (model buckets
    exceed the classify-time space) raises below; the reverse cannot be
    told apart from a sparsely-populated model — double-check the knobs.
    """
    from pylluminator_spark.operators.langid import language_id

    mx = weights.agg(F.max("bucket")).collect()[0][0]
    if mx is not None and mx >= buckets:
        raise ValueError(
            f"langid_model was fit with more buckets (saw bucket id {mx})"
            f" than langid_buckets={buckets} — n/buckets must match the "
            "fit_langid call"
        )
    pred = language_id(
        docs, weights, langs, text_col, doc_col, n=n, buckets=buckets
    )
    keep = pred.filter(F.col("pred_lang") == keep_lang).select(doc_col)
    return docs.join(keep, doc_col)


def _stage_inc_dedup_exact(
    spark: SparkSession,
    batch: DataFrame,
    *refs: DataFrame,
    text_col: str,
    doc_col: str,
    normalize: bool,
    prefer_col: str | None = None,
) -> DataFrame:
    """Incremental exact dedup: batch rows surviving within-batch dedup
    whose content fingerprint is absent from every curated corpus
    generation — the base run's ``dedup_exact`` stage plus each prior
    increment's, each restricted to its gate survivors. Batch
    fingerprints broadcast; each generation contributes its PERSISTED
    ``content_fp`` column (8 B/doc pruned scan — the corpus text is
    never re-read; pre-fingerprint generations fall back to one text
    re-hash). The output persists the batch's own ``content_fp`` so the
    next increment probes this generation the same way."""
    from pylluminator_spark.operators.dedup import dedup_exact_against

    return dedup_exact_against(
        batch,
        _gated_fp_union(
            refs, text_col, doc_col, kind="doc", normalize=normalize
        ),
        text_col=text_col,
        id_col=doc_col,
        normalize=normalize,
        prefer_col=prefer_col,
        existing_fp_col="_exfp",
        keep_fp_col="content_fp",
    )


def _stage_inc_dedup_paragraphs(
    spark: SparkSession,
    batch: DataFrame,
    *refs: DataFrame,
    text_col: str,
    doc_col: str,
    min_chars: int,
) -> DataFrame:
    """Incremental paragraph dedup against every curated generation's
    ``dedup_paragraphs``-stage PERSISTED paragraph fingerprints
    (``para_fps`` — computed from the representation that still carries
    blank-line paragraph boundaries; the final stripped text has them
    collapsed), gate-filtered so rejected documents' paragraphs never
    suppress new content. The generations' text is never re-split or
    re-hashed (pre-fingerprint generations fall back once); the output
    persists the batch's own ``para_fps`` for the next increment."""
    from pylluminator_spark.operators.cleanup import (
        dedup_paragraphs_against,
    )

    # content_fp rides the reassembly join as a passenger exactly like
    # the base pipeline's _stage_dedup_paragraphs, so INCREMENT
    # generations' gate parquet also ends up carrying BOTH fingerprint
    # columns — without this, later increments' doc-fp probe of an
    # increment generation would fall back to the semi-join path
    # against its inc_dedup_exact stage instead of the one-scan gate
    # fast path (ADVICE r11)
    carry = ("content_fp",) if "content_fp" in batch.columns else ()
    out = dedup_paragraphs_against(
        batch.select(doc_col, text_col, *carry),
        _gated_fp_union(refs, text_col, doc_col, kind="para"),
        text_col=text_col,
        id_col=doc_col,
        min_chars=min_chars,
        existing_fps_col="_exfp",
        keep_fps_col="para_fps",
        carry_cols=carry,
    )
    return out.select(
        doc_col,
        F.col("clean_text").alias(text_col),
        "n_paras_kept",
        "n_paras_dropped",
        "para_fps",
        *carry,
    )


def _stage_pack(
    spark: SparkSession,
    docs: DataFrame,
    *,
    text_col: str,
    doc_col: str,
    budget: int,
) -> DataFrame:
    """Fixed-token-budget sequence assignment via the size-dispatched
    global running sum (exact integer `div`)."""
    from pylluminator_spark.operators.corpus import pack_sequences

    return pack_sequences(
        docs, budget=budget, text_col=text_col, doc_col=doc_col
    )


def _stage_inc_pack(
    spark: SparkSession,
    docs: DataFrame,
    *gates: DataFrame,
    text_col: str,
    doc_col: str,
    budget: int,
) -> DataFrame:
    """Pack the increment CONTINUING the curated corpus's sequence ids:
    ``token_offset`` = the total token count across every prior
    generation's quality-gate stage (1-row aggregates over stored
    integer columns), so the combined packing equals a single pass over
    base-then-increments-then-batch. That equivalence needs the batch's
    ids to sort AFTER every curated id (packing is ``doc_col``-ordered)
    — validated here, since a violation silently shifts every seq_id."""
    from pylluminator_spark.operators.corpus import pack_sequences

    total = 0
    max_prev = None
    for g in gates:
        row = g.agg(
            F.sum("n_tokens").alias("t"), F.max(doc_col).alias("m")
        ).collect()[0]
        total += int(row["t"] or 0)
        if row["m"] is not None and (max_prev is None or row["m"] > max_prev):
            max_prev = row["m"]
    if max_prev is not None:
        batch_min = docs.agg(F.min(doc_col)).collect()[0][0]
        if batch_min is not None and batch_min <= max_prev:
            raise ValueError(
                "curate_increment pack: batch ids must sort after every "
                f"curated id for seq continuation (batch min {batch_min!r}"
                f" <= curated max {max_prev!r}) — renumber the batch or "
                "skip pack_budget and re-pack the union downstream"
            )
    return pack_sequences(
        docs,
        budget=budget,
        text_col=text_col,
        doc_col=doc_col,
        token_offset=total,
    )


# --------------------------------------------------------------------------
# the composed pipeline
# --------------------------------------------------------------------------

_FUZZY_DEFAULTS = {
    "num_hashes": 64,
    "bands": 16,
    "shingle_size": 3,
    "threshold": 0.7,
    # bounded-recall hot-bucket cap for the VERIFIED (threshold set)
    # paths — buckets larger than this are skipped with a warning
    # before pair enumeration (operators.dedup._cap_buckets); None
    # disables. The bands-only path ignores it (per-bucket min is
    # linear under any skew).
    "max_bucket": None,
}


def _fuzzy_knobs(fuzzy) -> dict | None:
    """Normalize the ``fuzzy=`` knob: None/False disables the stage,
    True takes the defaults, a dict overrides them (unknown keys
    raise — a typo'd knob must not silently fall back to a default)."""
    if fuzzy is None or fuzzy is False:
        return None
    knobs = dict(_FUZZY_DEFAULTS)
    if fuzzy is not True:
        unknown = set(fuzzy) - set(_FUZZY_DEFAULTS)
        if unknown:
            raise ValueError(
                f"unknown fuzzy knob(s) {sorted(unknown)}; valid: "
                f"{sorted(_FUZZY_DEFAULTS)}"
            )
        knobs.update(fuzzy)
    if knobs["num_hashes"] % knobs["bands"] != 0:
        raise ValueError(
            f"fuzzy num_hashes ({knobs['num_hashes']}) must be a "
            f"multiple of bands ({knobs['bands']})"
        )
    return knobs


_GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "min_alpha_ratio": 0.8,
    "min_stopword_hits": 2,
    "max_dup_word_fraction": 0.63,
}

_CCNET_DEFAULTS = {
    "keep": ["head", "middle"],
    "keep_short": True,
    "head_frac": 1.0 / 3.0,
    "middle_frac": 1.0 / 3.0,
    "alpha": 1.0,
    "backoff": 0.4,
    "min_bigram_count": 1,
}


def _knobs(kind: str, value, defaults: dict) -> dict | None:
    """Shared True/dict/None knob normalization (see ``_fuzzy_knobs``)."""
    if value is None or value is False:
        return None
    knobs = dict(defaults)
    if value is not True:
        unknown = set(value) - set(defaults)
        if unknown:
            raise ValueError(
                f"unknown {kind} knob(s) {sorted(unknown)}; valid: "
                f"{sorted(defaults)}"
            )
        knobs.update(value)
    return knobs


def _classifier_knobs(classifier) -> dict | None:
    """Validate the pre-fit quality-classifier knob: weights keyed by
    quality_feature_exprs feature names, an intercept, a threshold."""
    if classifier is None:
        return None
    from pylluminator_spark.operators.classifier import (
        quality_feature_exprs,
    )

    valid = set(quality_feature_exprs(F.lit("")).keys())
    weights = classifier.get("weights")
    if not isinstance(weights, dict) or not weights:
        raise ValueError(
            "classifier knob needs non-empty 'weights': {feature: w} "
            f"over features {sorted(valid)}"
        )
    unknown = set(weights) - valid
    if unknown:
        raise ValueError(
            f"unknown classifier feature(s) {sorted(unknown)}; valid: "
            f"{sorted(valid)}"
        )
    extra = set(classifier) - {"weights", "intercept", "threshold"}
    if extra:
        raise ValueError(
            f"unknown classifier knob(s) {sorted(extra)}; valid: "
            "['intercept', 'threshold', 'weights']"
        )
    return {
        "weights": {k: float(v) for k, v in weights.items()},
        "intercept": float(classifier.get("intercept", 0.0)),
        "threshold": float(classifier.get("threshold", 0.5)),
    }


@dataclass
class CurateResult:
    """Handles to every materialized stage of one curate run.

    ``documents`` is the final curated document table (``doc_col``,
    ``text_col``, ``n_tokens``); ``sequences`` the packed assignment
    (or None when packing was disabled). ``stages`` maps stage name ->
    StageRef; ``from_cache`` summarizes which stages this run reused.
    """

    stages: dict[str, StageRef] = field(default_factory=dict)
    documents: DataFrame | None = None
    sequences: DataFrame | None = None

    @property
    def from_cache(self) -> dict[str, bool]:
        return {k: v.from_cache for k, v in self.stages.items()}


def curate_pipeline(
    spark: SparkSession,
    manifest_root: str,
    source: str | DataFrame,
    *,
    fmt: str = "parquet",
    source_fingerprint: str | None = None,
    doc_col: str = "doc_id",
    text_col: str = "text",
    # crawl-diversity / policy controls (skipped when both are None)
    domain_col: str = "source",
    domain_cap: int | None = None,
    domain_blocklist=None,
    # language ID (skipped entirely when keep_lang is None)
    keep_lang: str | None = None,
    label_col: str = "lang",
    langid_n: int = 3,
    langid_buckets: int = 4096,
    langid_alpha: float = 0.5,
    # dedup
    normalize_exact: bool = True,
    prefer_col: str | None = None,
    para_min_chars: int = 0,
    fuzzy: dict | bool | None = None,
    # paragraph-perplexity cut (skipped when None)
    ccnet: dict | bool | None = None,
    ccnet_reference: DataFrame | None = None,
    # quality gate (+ optional refinements inside the same stage)
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    gopher: dict | bool | None = None,
    classifier: dict | None = None,
    # packing (skipped when None)
    pack_budget: int | None = 2048,
) -> CurateResult:
    """Run (or resume) the standard curation chain over ``source``.

    ``source`` is a parquet/csv/json path (stage key = listing
    fingerprint of the files — any rewrite invalidates downstream) or a
    live DataFrame (keyed per ``PipelineManifest.frame_source``; pass
    ``source_fingerprint`` to skip the content hash for large frames).

    ``domain_cap`` / ``domain_blocklist`` enable the crawl-diversity
    and policy controls FIRST in the chain (C4/Gopher apply them before
    dedup): drop rows whose ``domain_col`` is blocklisted (an inline
    list, hashed into the stage key, or a one-column DataFrame
    registered as a frame source), then keep at most ``domain_cap``
    rows per domain — a deterministic keyed-hash per-domain sample
    (operators.cleanup.cap_per_domain).

    ``keep_lang`` enables the language-ID stage: the corpus must carry
    ``label_col`` (the self-labeled fit — the model is fit on the
    corpus's own labels and documents are kept only when PREDICTED
    ``keep_lang``, which drops mislabeled/garbled text too). Leave None
    for unlabeled corpora and run language filtering separately.

    ``fuzzy`` enables MinHash-LSH NEAR-dedup between exact and
    paragraph dedup (the FineWeb-style fuzzy stage): True for the
    defaults, or a dict overriding ``num_hashes`` (64), ``bands`` (16),
    ``shingle_size`` (3), ``threshold`` (0.7 — exact-Jaccard
    verification of candidate pairs; None treats any band collision as
    a duplicate and never re-reads the text). The band table is itself
    a manifest stage (``fuzzy_bands``, keyed off the exact-dedup stage
    + knobs) — the persistable LSH index increments probe instead of
    re-banding the corpus.

    ``ccnet`` enables the CCNet paragraph-perplexity cut between
    paragraph dedup and the quality gate (True for defaults, or a dict
    over ``keep``/``keep_short``/``head_frac``/``middle_frac``/
    ``alpha``/``backoff``/``min_bigram_count``); ``ccnet_reference``
    optionally fits the bigram LM on a curated reference corpus instead
    of self-fitting. ``gopher`` (Gopher-rule thresholds) and
    ``classifier`` (a pre-fit quality logistic regression —
    ``{"weights": {feature: w}, "intercept": b, "threshold": t}``)
    refine the quality-gate STAGE itself, so gate survivors remain
    exactly the curated documents (the invariant increments' gate
    filtering depends on).

    Returns a :class:`CurateResult`; every stage's parquet lives under
    ``manifest_root`` keyed by (inputs, params, stage code), so a rerun
    with nothing changed is pure cache reads and a param change
    recomputes only its own stage and descendants.
    """
    if min_tokens > max_tokens:
        raise ValueError(
            f"min_tokens ({min_tokens}) > max_tokens ({max_tokens})"
        )
    if pack_budget is not None and pack_budget < 1:
        raise ValueError(f"pack_budget must be >= 1, got {pack_budget}")
    fz = _fuzzy_knobs(fuzzy)
    cc = _knobs("ccnet", ccnet, _CCNET_DEFAULTS)
    gp = _knobs("gopher", gopher, _GOPHER_DEFAULTS)
    cl = _classifier_knobs(classifier)
    if ccnet_reference is not None and cc is None:
        raise ValueError(
            "ccnet_reference was given but ccnet is None — the "
            "reference would be silently ignored; pass ccnet=True"
        )
    m = PipelineManifest(spark, manifest_root)
    if isinstance(source, str):
        cur = m.source("docs", source, fmt)
    else:
        cur = m.frame_source("docs", source, source_fingerprint)
    res = CurateResult()
    res.stages["docs"] = cur
    if domain_cap is not None or domain_blocklist is not None:
        df_inputs = [cur]
        blocked_param = None
        if isinstance(domain_blocklist, DataFrame):
            df_inputs.append(
                m.frame_source("domain_blocklist", domain_blocklist)
            )
        elif domain_blocklist is not None:
            blocked_param = sorted(domain_blocklist)
        cur = m.stage(
            "domain_filter",
            _stage_domain_filter,
            df_inputs,
            {
                "domain_col": domain_col,
                "cap": domain_cap,
                "blocked": blocked_param,
                "doc_col": doc_col,
            },
        )
        res.stages["domain_filter"] = cur
    if keep_lang is not None:
        cur = m.stage(
            "langid_filter",
            _stage_langid_filter,
            [cur],
            {
                "keep_lang": keep_lang,
                "label_col": label_col,
                "text_col": text_col,
                "doc_col": doc_col,
                "n": langid_n,
                "buckets": langid_buckets,
                "alpha": langid_alpha,
            },
        )
        res.stages["langid_filter"] = cur
    cur = m.stage(
        "dedup_exact",
        _stage_dedup_exact,
        [cur],
        {
            "text_col": text_col,
            "doc_col": doc_col,
            "normalize": normalize_exact,
            "prefer_col": prefer_col,
        },
    )
    res.stages["dedup_exact"] = cur
    if fz is not None:
        bands_ref = m.stage(
            "fuzzy_bands",
            _stage_fuzzy_bands,
            [cur],
            {
                "text_col": text_col,
                "doc_col": doc_col,
                "num_hashes": fz["num_hashes"],
                "bands": fz["bands"],
                "shingle_size": fz["shingle_size"],
            },
        )
        res.stages["fuzzy_bands"] = bands_ref
        cur = m.stage(
            "fuzzy_dedup",
            _stage_fuzzy_dedup,
            [cur, bands_ref],
            {
                "text_col": text_col,
                "doc_col": doc_col,
                "shingle_size": fz["shingle_size"],
                "threshold": fz["threshold"],
                "max_bucket": fz["max_bucket"],
            },
        )
        res.stages["fuzzy_dedup"] = cur
    cur = m.stage(
        "dedup_paragraphs",
        _stage_dedup_paragraphs,
        [cur],
        {
            "text_col": text_col,
            "doc_col": doc_col,
            "min_chars": para_min_chars,
        },
    )
    res.stages["dedup_paragraphs"] = cur
    if cc is not None:
        cc_inputs = [cur]
        if ccnet_reference is not None:
            cc_inputs.append(
                m.frame_source("ccnet_reference", ccnet_reference)
            )
        cur = m.stage("ccnet_filter", _stage_ccnet_filter, cc_inputs, {
            "text_col": text_col,
            "doc_col": doc_col,
            **cc,
        })
        res.stages["ccnet_filter"] = cur
    gate_params = {
        "text_col": text_col,
        "doc_col": doc_col,
        "min_tokens": min_tokens,
        "max_tokens": max_tokens,
    }
    if gp is not None:
        gate_params["gopher"] = gp
    if cl is not None:
        gate_params["classifier"] = cl
    cur = m.stage("quality_gate", _stage_quality_gate, [cur], gate_params)
    res.stages["quality_gate"] = cur
    res.documents = cur.df
    if fz is not None:
        # the generation's gate-filtered band index, materialized once
        # so increments probe ONE pruned scan per generation instead of
        # re-running the band ⋉ gate semi join each time (see
        # _stage_gate_bands); an older root that never built one gets
        # it built on demand by the first increment, through the same
        # cache key
        res.stages["gate_bands"] = m.stage(
            "gate_bands",
            _stage_gate_bands,
            [res.stages["fuzzy_bands"], cur],
            {"doc_col": doc_col},
        )
    if pack_budget is not None:
        packed = m.stage(
            "pack",
            _stage_pack,
            [cur],
            {
                "text_col": text_col,
                "doc_col": doc_col,
                "budget": pack_budget,
            },
        )
        res.stages["pack"] = packed
        res.sequences = packed.df
    return res


def curate_increment(
    spark: SparkSession,
    manifest_root: str,
    new_docs: DataFrame,
    *,
    source_fingerprint: str | None = None,
    doc_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    domain_cap: int | None = None,
    domain_blocklist=None,
    keep_lang: str | None = None,
    label_col: str = "lang",
    langid_n: int = 3,
    langid_buckets: int = 4096,
    langid_alpha: float = 0.5,
    langid_model: tuple[DataFrame, DataFrame] | None = None,
    normalize_exact: bool = True,
    prefer_col: str | None = None,
    para_min_chars: int = 0,
    fuzzy: dict | bool | None = None,
    ccnet: dict | bool | None = None,
    ccnet_reference: DataFrame | None = None,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    gopher: dict | bool | None = None,
    classifier: dict | None = None,
    pack_budget: int | None = None,
) -> CurateResult:
    """Curate a NEW batch against an existing :func:`curate_pipeline`
    run in the same ``manifest_root`` — the daily-crawl-increment path:
    the base corpus is never recomputed or reshuffled; the batch dedups
    against it via broadcast fingerprint probes.

    Chain: (optional ``domain_blocklist`` / ``domain_cap`` policy
    filter — the blocklist is the same control as the base's; the CAP
    is BATCH-LOCAL, at most ``domain_cap`` rows of this batch per
    domain, since a corpus-wide cap would need domain columns the
    generations' stage parquet does not carry)
    -> (optional batch langid filter — pass ``langid_model``, a
    ``fit_langid(big_corpus)`` (weights, langs) pair, to classify under
    the corpus-fit model instead of a statistically-weak self-labeled
    fit on the small batch) -> incremental exact dedup -> (optional
    ``fuzzy``: incremental MinHash-LSH near-dedup — batch bands probe
    every generation's PERSISTED ``fuzzy_bands`` index, cost
    proportional to the batch; knobs as in ``curate_pipeline``. Band
    tables are content-addressed by (generation exact stage, knobs), so
    a probe is always knob-consistent: matching the base's knobs reuses
    its index for free, while a generation missing a table under the
    probing knobs gets one built once through the manifest cache)
    -> incremental paragraph dedup -> (optional ``ccnet`` paragraph
    cut — self-fit on the batch unless ``ccnet_reference`` supplies a
    curated corpus to fit on) -> HTML strip + token gate (optionally
    refined by ``gopher`` thresholds and a pre-fit ``classifier``,
    inside the same stage — knobs as in ``curate_pipeline``). The
    suppression references are EVERY curated generation in this root —
    the base run plus each prior increment — each probed through its
    PERSISTED fingerprint columns (``content_fp`` on the exact-dedup
    stage, 8 B/doc; ``para_fps`` on the paragraph stage — computed from
    the boundary-preserving representation, since the final stripped
    text has the blank-line boundaries collapsed), so an increment's
    corpus-side cost is a column-pruned fingerprint scan, never a
    re-read of the generations' text (pre-fingerprint generations fall
    back to one text re-hash). Each reference is restricted to its gate
    survivors: content the corpus REJECTED never suppresses new content. Returns the
    curated NEW documents only — append them downstream. Generations
    are resolved by walking the ledger chain from each quality-gate
    entry (never by the latest entry per stage name, which could mix stages
    from different runs when a later run cache-hits upstream stages).

    ``pack_budget`` (optional; must equal the base run's — validated
    against the ledger) additionally packs the increment with sequence
    ids CONTINUING from the curated corpus's total token count (base +
    prior increments) — equal to one packing pass over the
    concatenation, which requires (and validates) that batch ids sort
    after every curated id.

    Every stage key chains off the referenced generations' stage keys
    (Merkle), so re-running the base with different params/data — or a
    new increment landing — invalidates and recomputes dependent
    increment stages. Increments are order-dependent by nature: a
    batch deduped before another landed keeps its result (cache);
    re-running it AFTER sees the newer generation too. Dedup knobs
    (``normalize_exact``, ``para_min_chars``) MUST match every
    referenced generation's — they govern the same fingerprint spaces
    — and are VALIDATED against the generations' recorded stage params
    in the ledger (mismatch raises; a fuzzy-knob mismatch only warns,
    since band indexes are content-addressed by knob and rebuild
    rather than probe the wrong space).

    FINGERPRINT STABILITY (required): a batch's prior runs are excluded
    from the suppression set by FRAME-SOURCE KEY equality, so re-running
    the *same batch content* under a *different* ``source_fingerprint``
    (or explicit vs auto) would treat its own earlier output as a prior
    generation and silently suppress the whole batch to empty. This
    function therefore records a content fingerprint of every batch in
    the ledger and RAISES when the current batch's content matches a
    prior generation's under a different source key — keep each batch's
    ``source_fingerprint`` stable across re-runs (or always omit it).
    """
    import warnings

    if min_tokens > max_tokens:
        raise ValueError(
            f"min_tokens ({min_tokens}) > max_tokens ({max_tokens})"
        )
    fz = _fuzzy_knobs(fuzzy)
    cc = _knobs("ccnet", ccnet, _CCNET_DEFAULTS)
    gp = _knobs("gopher", gopher, _GOPHER_DEFAULTS)
    cl = _classifier_knobs(classifier)
    if ccnet_reference is not None and cc is None:
        raise ValueError(
            "ccnet_reference was given but ccnet is None — the "
            "reference would be silently ignored; pass ccnet=True"
        )
    m = PipelineManifest(spark, manifest_root)

    def _chain(gate_entry, paras_name, exact_name, fuzzy_name, ccnet_name):
        """(exact, paras, gate, fuzzy_entry) of ONE materialized run —
        three StageRefs plus the ledger row of the run's fuzzy stage
        (None when the run had none; used for knob validation) —
        resolved by the gate entry's input chain (inputs[0] is always
        the previous stage in every pipeline shape). Two optional
        stages are handled: a ``ccnet_name`` paragraph cut between the
        gate and paragraph dedup — when present IT becomes the
        paragraph-suppression reference (it carries ``para_fps`` of the
        POST-cut surviving paragraphs; paragraphs ccnet dropped exist
        nowhere in the corpus) — and a ``fuzzy_name`` near-dedup stage
        between paragraphs and exact, walked through.

        GATE-ONLY FALLBACK (ADVICE r11): when the intermediate stages'
        parquet was deleted (ledger rows intact) but the GATE parquet
        survives AND carries the ``content_fp``/``para_fps`` passenger
        columns, the gate stands in for the missing refs — the
        ``_gated_fp_union`` fast path probes the gate alone anyway, so
        such a generation keeps suppressing duplicates exactly as
        documented ("old generations can gc every intermediate stage
        keeping only their gate parquet"). Returns the string 'gc'
        only when the generation truly cannot be probed (gate parquet
        gone, or a pre-fingerprint gate without passenger columns) —
        the caller warns, since previously suppressed duplicates could
        re-enter; None when the entry belongs to a different pipeline
        shape (not an error)."""
        paras_key = (gate_entry.get("inputs") or [None])[0]
        paras_entry = m.entry(paras_key) if paras_key else None
        if paras_entry and paras_entry.get("name") == ccnet_name:
            inner_key = (paras_entry.get("inputs") or [None])[0]
            inner = m.entry(inner_key) if inner_key else None
            if not inner or inner.get("name") != paras_name:
                return None
            walk_entry = inner
        else:
            if not paras_entry or paras_entry.get("name") != paras_name:
                return None
            walk_entry = paras_entry
        exact_key = (walk_entry.get("inputs") or [None])[0]
        exact_entry = m.entry(exact_key) if exact_key else None
        fuzzy_entry = None
        if exact_entry and exact_entry.get("name") == fuzzy_name:
            fuzzy_entry = exact_entry
            exact_key = (exact_entry.get("inputs") or [None])[0]
            exact_entry = m.entry(exact_key) if exact_key else None
        if not exact_entry or exact_entry.get("name") != exact_name:
            return None
        gate_ref = m.by_key(gate_entry["key"])
        exact_ref = m.by_key(exact_key)
        paras_ref = m.by_key(paras_key)
        if gate_ref is None:
            return "gc"
        if paras_ref is None or exact_ref is None:
            # gate-only generation: probe through the gate's persisted
            # fingerprint passengers (fast path) — see docstring
            if {"content_fp", "para_fps"} <= set(gate_ref.df.columns):
                return gate_ref, gate_ref, gate_ref, fuzzy_entry
            return "gc"
        return exact_ref, paras_ref, gate_ref, fuzzy_entry

    base_entries = m.entries_named("quality_gate")
    base_chain = None
    skipped_gc = []
    for e in reversed(base_entries):
        ch = _chain(
            e, "dedup_paragraphs", "dedup_exact", "fuzzy_dedup",
            "ccnet_filter",
        )
        if ch == "gc":
            skipped_gc.append(e["key"])
            continue
        if ch is not None:
            base_chain = ch
            base_gate_entry = e
            break
    if base_chain is None:
        raise ValueError(
            "curate_increment needs a prior curate_pipeline run in this "
            f"manifest root ({manifest_root}): no complete quality_gate "
            "-> dedup_paragraphs -> dedup_exact chain found"
        )
    if skipped_gc:
        warnings.warn(
            "curate_increment: newer base run(s) "
            f"{skipped_gc} have gc'd stage parquet — deduping against an "
            "OLDER base generation; re-run curate_pipeline to restore "
            "the newest one",
            stacklevel=2,
        )
    if langid_model is not None and keep_lang is None:
        raise ValueError(
            "langid_model was given but keep_lang is None — the model "
            "would be silently ignored; pass keep_lang to filter"
        )
    # content fingerprint of the batch: recorded in the ledger so a
    # re-run of the SAME content under a DIFFERENT source key is
    # detected below instead of silently self-suppressing to empty.
    # With an explicit source_fingerprint the aggregate RIDES the
    # frame-source publish write as an observed metric (zero extra
    # jobs); a cache-hitting re-run reads the value recorded at first
    # materialization — the content the downstream chain actually
    # consumes — falling back to one explicit aggregation only for
    # ledger rows that predate meta. With fingerprint=None the explicit
    # aggregation stays: wrapping the frame in an Observation node
    # would perturb (and per-run randomize) the plan-derived key.
    from pylluminator_spark.plans.manifest import content_fingerprint

    if source_fingerprint is not None:
        from pyspark.sql import Observation

        from pylluminator_spark.plans.manifest import (
            content_fp_exprs,
            content_fp_from,
        )

        obs = Observation()
        cur = m.frame_source(
            "increment",
            new_docs.observe(obs, *content_fp_exprs(new_docs)),
            source_fingerprint,
            meta_fn=lambda: {
                "content_fp": content_fp_from(
                    obs.get["_n"], obs.get["_h"]
                )
            },
        )
        batch_content_fp = (
            (m.entry(cur.key) or {}).get("meta") or {}
        ).get("content_fp") or content_fingerprint(new_docs)
    else:
        batch_content_fp = content_fingerprint(new_docs)
        cur = m.frame_source(
            "increment",
            new_docs,
            source_fingerprint,
            meta={"content_fp": batch_content_fp},
        )
    batch_root_key = cur.key
    res = CurateResult()
    res.stages["increment"] = cur
    res.stages["base_dedup_exact"] = base_chain[0]
    res.stages["base_dedup_paragraphs"] = base_chain[1]
    if domain_cap is not None or domain_blocklist is not None:
        # blocklist: same policy filter as the base. cap: BATCH-LOCAL —
        # at most domain_cap rows of THIS batch per domain; a
        # cross-generation corpus-wide cap is not enforced here (the
        # generations' stage parquet does not carry the domain column;
        # cap the corpus upstream or re-run the base to re-cap)
        df_inputs = [cur]
        blocked_param = None
        if isinstance(domain_blocklist, DataFrame):
            df_inputs.append(
                m.frame_source("domain_blocklist", domain_blocklist)
            )
        elif domain_blocklist is not None:
            blocked_param = sorted(domain_blocklist)
        cur = m.stage(
            "inc_domain_filter",
            _stage_domain_filter,
            df_inputs,
            {
                "domain_col": domain_col,
                "cap": domain_cap,
                "blocked": blocked_param,
                "doc_col": doc_col,
            },
        )
        res.stages["inc_domain_filter"] = cur
    if keep_lang is not None and langid_model is not None:
        # pre-fit model (fit_langid on the big corpus): a self-labeled
        # fit on a small daily batch is statistically weak; the model
        # frames are dimension-sized, so frame_source's content
        # fingerprint is one cheap aggregate each
        weights_ref = m.frame_source("langid_weights", langid_model[0])
        langs_ref = m.frame_source("langid_langs", langid_model[1])
        cur = m.stage(
            "inc_langid_filter",
            _stage_langid_filter_model,
            [cur, weights_ref, langs_ref],
            {
                "keep_lang": keep_lang,
                "text_col": text_col,
                "doc_col": doc_col,
                "n": langid_n,
                "buckets": langid_buckets,
            },
        )
        res.stages["inc_langid_filter"] = cur
    elif keep_lang is not None:
        cur = m.stage(
            "inc_langid_filter",
            _stage_langid_filter,
            [cur],
            {
                "keep_lang": keep_lang,
                "label_col": label_col,
                "text_col": text_col,
                "doc_col": doc_col,
                "n": langid_n,
                "buckets": langid_buckets,
                "alpha": langid_alpha,
            },
        )
        res.stages["inc_langid_filter"] = cur
    # prior increments: every complete inc chain, ONE per batch source
    # (resolved to the batch's FRAME-SOURCE key — through any langid
    # stage, since the langid key embeds model fingerprints and a
    # routine model refit must not make the batch's own prior run look
    # like a different batch; a re-run of the same batch keeps only its
    # newest chain). The CURRENT batch's own earlier runs are excluded —
    # a batch must never suppress itself, and excluding them keeps
    # identical re-runs pure cache hits instead of re-keying against
    # their own output.
    def _batch_root(exact_ref) -> str:
        # walk inputs[0] through every increment stage — including the
        # optional pre-dedup ones (langid, domain filter) — down to the
        # batch's FRAME-SOURCE key: the stable identity a re-run with
        # refit models / changed policy knobs must still resolve to
        # (else a batch's own prior run would look like a different
        # batch and self-suppress it). Starting from the ref's own key
        # lets a GATE-ONLY chain (whose ref is the inc_quality_gate
        # stage) resolve identically to an intact one.
        src = exact_ref.key
        while True:
            src_entry = m.entry(src)
            if src_entry and src_entry.get("name") in (
                "inc_quality_gate",
                "inc_ccnet_filter",
                "inc_dedup_paragraphs",
                "inc_fuzzy_dedup",
                "inc_dedup_exact",
                "inc_langid_filter",
                "inc_domain_filter",
            ):
                src = (src_entry.get("inputs") or [src])[0]
            else:
                return src

    inc_chains: dict[str, tuple] = {}
    gc_incs = []
    for e in m.entries_named("inc_quality_gate"):
        ch = _chain(
            e, "inc_dedup_paragraphs", "inc_dedup_exact",
            "inc_fuzzy_dedup", "inc_ccnet_filter",
        )
        if ch == "gc":
            gc_incs.append(e["key"])
            continue
        if ch is None:
            continue
        src = _batch_root(ch[0])
        if src == batch_root_key:
            continue
        # ADVICE r10: same batch CONTENT under a different source key
        # would self-suppress the batch to empty — refuse loudly.
        src_entry = m.entry(src) or {}
        prior_cfp = (src_entry.get("meta") or {}).get("content_fp")
        if prior_cfp is not None and prior_cfp == batch_content_fp:
            raise ValueError(
                "curate_increment: this batch's CONTENT matches prior "
                f"generation {src} registered under a different source "
                f"key (current {batch_root_key}) — re-running a batch "
                "must reuse its original source_fingerprint, or the "
                "batch would silently suppress itself to empty"
            )
        inc_chains[src] = ch  # entries_named is oldest-first: last wins
    if gc_incs:
        warnings.warn(
            "curate_increment: prior increment generation(s) "
            f"{gc_incs} have gc'd stage parquet and CANNOT suppress "
            "duplicates this run — content they curated may re-enter",
            stacklevel=2,
        )
    chains = [base_chain, *inc_chains.values()]
    # Dedup-knob consistency with every referenced generation:
    # normalize_exact / para_min_chars govern the fingerprint SPACES
    # the increment probes — a run under different knobs would probe
    # fingerprints computed in the OTHER normalization and silently
    # fail to suppress duplicates. The ledger records every stage's
    # params, so validate instead of merely documenting (the same
    # pattern as the source-fingerprint self-suppression guard below).
    for ch in chains:
        ep = (m.entry(ch[0].key) or {}).get("params") or {}
        if "normalize" in ep and ep["normalize"] != normalize_exact:
            raise ValueError(
                f"curate_increment: normalize_exact={normalize_exact} "
                f"differs from generation {ch[0].key}'s recorded "
                f"normalize={ep['normalize']} — the increment would "
                "probe fingerprints computed under the other "
                "normalization and silently fail to suppress "
                "normalized-equal duplicates"
            )
        pp = (m.entry(ch[1].key) or {}).get("params") or {}
        if "min_chars" in pp and pp["min_chars"] != para_min_chars:
            raise ValueError(
                f"curate_increment: para_min_chars={para_min_chars} "
                f"differs from generation {ch[1].key}'s recorded "
                f"min_chars={pp['min_chars']} — short-paragraph "
                "exemption would disagree between the batch and the "
                "generations' persisted paragraph fingerprints"
            )
        # fuzzy knobs are SELF-CONSISTENT by content-addressing (a knob
        # change re-keys and rebuilds the band index, never probing the
        # wrong space), so a mismatch is a cost/semantics choice, not a
        # silent correctness hole — warn, don't raise.
        if fz is not None and ch[3] is not None:
            fp = ch[3].get("params") or {}
            bp = (
                m.entry((ch[3].get("inputs") or [None, None])[1]) or {}
            ).get("params") or {}
            rec = {
                k: bp[k]
                for k in ("num_hashes", "bands", "shingle_size")
                if k in bp
            }
            for k in ("shingle_size", "threshold"):
                if k in fp:
                    rec[k] = fp[k]
            if any(fz[k] != v for k, v in rec.items()):
                warnings.warn(
                    "curate_increment: fuzzy knobs "
                    f"{ {k: fz[k] for k in rec} } differ from generation "
                    f"{ch[0].key}'s recorded {rec} — its band index will "
                    "be REBUILT under the new knobs (content-addressed, "
                    "so probing stays knob-consistent, at one extra "
                    "banding pass per changed generation)",
                    stacklevel=2,
                )
    # variadic stage inputs: [batch, stage_0..stage_n-1, gate_0..gate_n-1]
    cur = m.stage(
        "inc_dedup_exact",
        _stage_inc_dedup_exact,
        [cur, *[c[0] for c in chains], *[c[2] for c in chains]],
        {
            "text_col": text_col,
            "doc_col": doc_col,
            "normalize": normalize_exact,
            "prefer_col": prefer_col,
        },
    )
    res.stages["inc_dedup_exact"] = cur
    if fz is not None:
        bands_params = {
            "text_col": text_col,
            "doc_col": doc_col,
            "num_hashes": fz["num_hashes"],
            "bands": fz["bands"],
            "shingle_size": fz["shingle_size"],
        }
        # the batch's own band table (persisted — the next increment
        # probes it), and each generation's: keyed off that generation's
        # exact stage + knobs, so a generation that already built one
        # (base run with fuzzy, prior fuzzy increment) is a pure cache
        # hit, and enabling fuzzy on an older root builds the missing
        # index exactly once (amortized, like the fingerprint fallback)
        batch_bands = m.stage(
            "fuzzy_bands", _stage_fuzzy_bands, [cur], bands_params
        )
        res.stages["fuzzy_bands"] = batch_bands
        # each generation contributes its GATE-FILTERED band index —
        # materialized by its own run (base pipeline / prior increment)
        # and a pure cache hit here; a generation that predates the
        # gate_bands stage (or the fuzzy knob entirely) gets both
        # stages built exactly once through the manifest cache, then
        # every later increment reuses them

        def _gen_gate_bands(c):
            # by-gate lookup FIRST: a gc'd (gate-only) generation's
            # chain ref is its gate, so rebuilding the band stage keyed
            # off it would re-band the gate text even though the
            # generation's original gate_bands parquet survives — find
            # any live gate_bands row for this GATE whose band input
            # was built under the same knobs and reuse it directly
            for e in m.entries_named("gate_bands"):
                if (e.get("inputs") or [None, None])[1] != c[2].key:
                    continue
                bp = (
                    m.entry((e.get("inputs") or [None])[0]) or {}
                ).get("params") or {}
                if all(
                    bp.get(k) == bands_params[k]
                    for k in ("num_hashes", "bands", "shingle_size")
                ):
                    ref = m.by_key(e["key"])
                    if ref is not None:
                        return ref
            return m.stage(
                "gate_bands",
                _stage_gate_bands,
                [
                    m.stage(
                        "fuzzy_bands", _stage_fuzzy_bands, [c[0]],
                        bands_params,
                    ),
                    c[2],
                ],
                {"doc_col": doc_col},
            )

        gen_gate_bands = [_gen_gate_bands(c) for c in chains]
        cur = m.stage(
            "inc_fuzzy_dedup",
            _stage_inc_fuzzy_dedup,
            [
                cur,
                batch_bands,
                *gen_gate_bands,
                *[c[0] for c in chains],
                *[c[2] for c in chains],
            ],
            {
                "text_col": text_col,
                "doc_col": doc_col,
                "shingle_size": fz["shingle_size"],
                "threshold": fz["threshold"],
                "max_bucket": fz["max_bucket"],
            },
        )
        res.stages["inc_fuzzy_dedup"] = cur
    cur = m.stage(
        "inc_dedup_paragraphs",
        _stage_inc_dedup_paragraphs,
        [cur, *[c[1] for c in chains], *[c[2] for c in chains]],
        {
            "text_col": text_col,
            "doc_col": doc_col,
            "min_chars": para_min_chars,
        },
    )
    res.stages["inc_dedup_paragraphs"] = cur
    if cc is not None:
        # self-fits the bigram LM on the BATCH unless a reference is
        # given — a daily batch is a statistically weaker fit than the
        # corpus (same trade as the self-labeled langid); pass
        # ccnet_reference (e.g. the base run's documents) for the
        # CCNet fit-on-curated semantic
        cc_inputs = [cur]
        if ccnet_reference is not None:
            cc_inputs.append(
                m.frame_source("ccnet_reference", ccnet_reference)
            )
        cur = m.stage(
            "inc_ccnet_filter",
            _stage_ccnet_filter,
            cc_inputs,
            {"text_col": text_col, "doc_col": doc_col, **cc},
        )
        res.stages["inc_ccnet_filter"] = cur
    gate_params = {
        "text_col": text_col,
        "doc_col": doc_col,
        "min_tokens": min_tokens,
        "max_tokens": max_tokens,
    }
    if gp is not None:
        gate_params["gopher"] = gp
    if cl is not None:
        gate_params["classifier"] = cl
    cur = m.stage(
        "inc_quality_gate", _stage_quality_gate, [cur], gate_params
    )
    res.stages["inc_quality_gate"] = cur
    res.documents = cur.df
    if fz is not None:
        # this increment's own gate-filtered band index, so the NEXT
        # increment's probe of this generation is a pure cache hit
        # (mirrors curate_pipeline's gate_bands stage)
        res.stages["gate_bands"] = m.stage(
            "gate_bands",
            _stage_gate_bands,
            [batch_bands, cur],
            {"doc_col": doc_col},
        )
    if pack_budget is not None:
        if pack_budget < 1:
            raise ValueError(
                f"pack_budget must be >= 1, got {pack_budget}"
            )
        # the base run's pack budget is recoverable from the ledger —
        # a mismatched increment budget would interleave incoherent
        # seq ids with no error, so validate it here
        for e in m.entries_named("pack"):
            if (e.get("inputs") or [None])[0] == base_gate_entry["key"]:
                base_budget = (e.get("params") or {}).get("budget")
                if base_budget is not None and base_budget != pack_budget:
                    raise ValueError(
                        f"pack_budget={pack_budget} differs from the base "
                        f"run's budget={base_budget} — sequence ids would "
                        "not continue coherently"
                    )
        packed = m.stage(
            "inc_pack",
            _stage_inc_pack,
            [cur, *[c[2] for c in chains]],
            {
                "text_col": text_col,
                "doc_col": doc_col,
                "budget": pack_budget,
            },
        )
        res.stages["inc_pack"] = packed
        res.sequences = packed.df
    return res


# --------------------------------------------------------------------------
# storage reclamation: keep gates (and their band indexes), drop the rest
# --------------------------------------------------------------------------

#: stage names whose parquet curate_gc may reclaim — every intermediate
#: of both pipeline shapes. Gates, packs, and gate_bands are never here.
_GC_DROPPABLE = frozenset(
    {
        "domain_filter",
        "langid_filter",
        "dedup_exact",
        "fuzzy_dedup",
        "dedup_paragraphs",
        "ccnet_filter",
        "inc_domain_filter",
        "inc_langid_filter",
        "inc_dedup_exact",
        "inc_fuzzy_dedup",
        "inc_dedup_paragraphs",
        "inc_ccnet_filter",
    }
)


def curate_gc(
    spark: SparkSession,
    manifest_root: str,
    *,
    keep_latest_base: bool = True,
    dry_run: bool = False,
) -> dict[str, list[str]]:
    """Reclaim the storage of curated generations' INTERMEDIATE stage
    parquet, keeping only what future increments probe: each
    generation's quality-gate parquet (which carries the ``content_fp``
    / ``para_fps`` fingerprint passengers — the one-scan suppression
    reference), its ``gate_bands`` LSH index (the fuzzy probe), and any
    ``pack`` outputs. At 100 TB the intermediates are several times the
    curated corpus (every stage materializes doc+text); the probes the
    increments actually run never read them once the gate exists.

    This is the operation the gate-only fallback in
    ``curate_increment``'s chain walk exists for: ledger rows are KEPT
    (chain topology, params, batch identity all stay resolvable — only
    the data directories go), so a gc'd generation keeps suppressing
    duplicates through its gate, with no warning and no behavior
    change. ``manifest.gc`` is the complementary operation (drop whole
    unreferenced chains, ledger rows included).

    A generation is reclaimed ONLY when its gate parquet is live and
    carries BOTH fingerprint columns (a pre-fingerprint generation's
    intermediates are its only probe surface — those chains are
    reported in ``skipped`` and left intact). A ``fuzzy_bands`` corpus
    index is reclaimed only when a live ``gate_bands`` built from it
    exists. ``keep_latest_base`` protects the newest complete base
    run's full chain (cheap insurance for param-tweak reruns, which
    cache-hit its stages). ``dry_run`` reports without deleting.

    Returns ``{"removed": [keys], "kept": [keys], "skipped": [gate
    keys of unprobeable chains]}``.
    """
    import os
    import shutil

    m = PipelineManifest(spark, manifest_root)
    removed: list[str] = []
    kept: list[str] = []
    skipped: list[str] = []

    def _live(key: str) -> bool:
        e = m.entry(key)
        return bool(
            e
            and e.get("path")
            and os.path.exists(os.path.join(e["path"], "_SUCCESS"))
        )

    # the newest complete base chain's keys, protected by default
    protected: set[str] = set()
    if keep_latest_base:
        for e in reversed(m.entries_named("quality_gate")):
            ref = m.by_key(e["key"])
            if ref is None:
                continue
            protected.add(e["key"])
            protected.update(m.ancestors(e["key"]))
            break

    gates = m.entries_named("quality_gate") + m.entries_named(
        "inc_quality_gate"
    )
    candidates: set[str] = set()
    for g in gates:
        ref = m.by_key(g["key"])
        if ref is None:
            continue
        if not {"content_fp", "para_fps"} <= set(ref.df.columns):
            skipped.append(g["key"])
            continue
        # walk the generation's chain collecting droppable stages
        key = (g.get("inputs") or [None])[0]
        while key is not None:
            e = m.entry(key)
            if not e or e.get("name") not in _GC_DROPPABLE:
                break
            candidates.add(key)
            key = (e.get("inputs") or [None])[0]
    # corpus band indexes whose gate-filtered stage is live
    for e in m.entries_named("gate_bands"):
        bands_key = (e.get("inputs") or [None])[0]
        if bands_key and _live(e["key"]) and _live(bands_key):
            candidates.add(bands_key)
    for key in sorted(candidates):
        if key in protected:
            kept.append(key)
            continue
        if not _live(key):
            continue
        if not dry_run:
            shutil.rmtree(m.entry(key)["path"], ignore_errors=True)
        removed.append(key)
    return {"removed": removed, "kept": kept, "skipped": skipped}
