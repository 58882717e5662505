"""Corpus-cleanup relational operators: paragraph-level dedup, per-domain
caps, and domain blocklist filtering.

Beyond-reference operators (driver north star). Paragraph dedup is the
granularity between exact doc-dedup (operators/dedup.py) and exact-substring
span detection (operators/corpus.repeated_spans): boilerplate paragraphs
(navigation, license headers, cookie banners) repeat across millions of
crawled pages while the surrounding documents are unique. Domain caps and
blocklists are the standard crawl-diversity and policy controls (C4 and
Gopher both cap per-domain contributions).

Scale design:
- ``dedup_paragraphs`` shuffles (fingerprint -> min owner) + (doc_id ->
  reassemble); both keys are high-cardinality, no skew hot spot. The
  winner table carries only (fingerprint, owner) — 16 bytes a paragraph —
  never the text.
- ``cap_per_domain`` is ONE hash-partitioned window (row_number streams —
  no per-group materialization beyond sort spill, which is disk-backed).
- ``blocklist_filter`` broadcasts the blocklist (dimension-sized by
  definition) — never a shuffle of the corpus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PARAGRAPH_SPLIT_PATTERN = r"\n{2,}"


def split_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = PARAGRAPH_SPLIT_PATTERN,
) -> DataFrame:
    """Explode documents into ordered paragraphs.

    Output: ``id_col``, ``para_idx`` (0-based position), ``para`` (trimmed).
    Blank paragraphs (whitespace-only) are dropped; ``para_idx`` still
    reflects the original split position so reassembly preserves order.
    """
    return (
        df.select(
            id_col,
            F.posexplode(F.split(F.col(text_col), pattern)).alias(
                "para_idx", "para"
            ),
        )
        .withColumn("para", F.trim("para"))
        .filter(F.col("para") != "")
    )


def _split_paragraphs_total(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pattern: str,
    carry_cols: tuple = (),
) -> DataFrame:
    """``split_paragraphs`` that KEEPS whitespace-only paragraphs as
    rows flagged ``blank`` (and maps a NULL text to one blank row), so
    every input document owns at least one exploded row. The fused
    dedup paths reassemble documents straight off the doc-keyed
    aggregate — no join back to the source frame, which cost a second
    source scan plus a doc-keyed join per call. ``carry_cols`` ride the
    explode (duplicated per paragraph row — they are fingerprint-sized)
    and are restored with ``first()`` in the reassembly aggregate."""
    return (
        df.select(
            id_col,
            *carry_cols,
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), pattern)
            ).alias("para_idx", "para"),
        )
        .withColumn("para", F.trim("para"))
        .withColumn("blank", F.col("para") == "")
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = PARAGRAPH_SPLIT_PATTERN,
    min_chars: int = 0,
    keep_fps_col: str | None = None,
    carry_cols: tuple = (),
) -> DataFrame:
    """Remove duplicate paragraphs corpus-wide, keeping each paragraph's
    globally-first occurrence (ordered by ``(id_col, para_idx)``), then
    reassemble the surviving paragraphs into cleaned documents.

    Paragraphs shorter than ``min_chars`` are exempt from dedup (kept
    everywhere) — short strings ("Introduction") repeat legitimately.

    Returns: ``id_col``, ``clean_text``, ``n_paras_kept``,
    ``n_paras_dropped``. Documents whose every paragraph was dropped
    still appear, with an empty ``clean_text``.

    The dedup key shuffled is the 8-byte xxhash64 fingerprint of the
    paragraph, not the text (the join back to the exploded side is on the
    same fingerprint, so a hash collision could at worst drop a false-
    duplicate paragraph — the standard exact-dedup trade, same as
    operators/dedup.dedup_exact).

    ``keep_fps_col`` additionally emits the kept paragraphs' DISTINCT
    fingerprints as an ``array<long>`` column under that name (sorted;
    8 B/paragraph in parquet) — persist it and later increments probe
    the fingerprint column instead of re-splitting + re-hashing the
    corpus text (``dedup_paragraphs_against(existing_fps_col=...)``).
    """
    paras = _split_paragraphs_total(df, text_col, id_col, pattern, carry_cols)
    # blank rows get a per-document surrogate fp: it keeps them out of
    # the real fingerprint groups (no corpus-wide blank hot partition —
    # group size is one document's blank count) and their fp is never
    # emitted (blanks are never kept)
    paras = paras.withColumn(
        "fp",
        F.when(F.col("blank"), F.xxhash64(id_col)).otherwise(
            F.xxhash64("para")
        ),
    )

    # one fp-partitioned window aggregate instead of a groupBy(fp)
    # winners table joined back: the join form computed the
    # split + explode TWICE (aggregate input and join probe side are
    # different subtrees, so no exchange reuse) and paid a third,
    # winner-table exchange — the window flags every row in the single
    # fp shuffle the join needed anyway. Short paragraphs stay exempt
    # without a separate branch: equal fp => equal text => equal
    # length, so an fp group is uniformly exempt or eligible and the
    # length check composes per row. A pathological boilerplate
    # fingerprint buffers its group in one (disk-backed) window task —
    # the trade for one fewer full split pass over the corpus;
    # ``min_chars`` keeps the classic short-boilerplate families out
    # of dedup (and out of that buffer) entirely. min() skips the NULL
    # a blank row contributes, so a surrogate-fp hash collision can
    # never crown a blank row winner.
    first = F.min(
        F.when(~F.col("blank"), F.struct(id_col, "para_idx"))
    ).over(Window.partitionBy("fp"))
    kept_flag = F.when(F.col("blank"), F.lit(False)).otherwise(
        (
            (F.length("para") < min_chars) if min_chars else F.lit(False)
        )
        | (
            (first[id_col] == F.col(id_col))
            & (first["para_idx"] == F.col("para_idx"))
        )
    )
    flagged = paras.select(
        id_col,
        *carry_cols,
        "para_idx",
        "para",
        "fp",
        "blank",
        kept_flag.alias("kept"),
    )
    return _reassemble_total(flagged, id_col, keep_fps_col, carry_cols)


def _reassemble_total(
    flagged: DataFrame,
    id_col: str,
    keep_fps_col: str | None = None,
    carry_cols: tuple = (),
) -> DataFrame:
    """Rebuild documents from a TOTAL (id, carry..., para_idx, para, fp,
    blank, kept) table — one that still owns at least one row per input
    document (``_split_paragraphs_total``), so reassembly is ONE
    doc-keyed aggregate with no join back to the source frame (the
    join-back form scanned the source a second time and paid a doc-keyed
    join per call). Blank rows are neither kept nor counted as dropped —
    exactly the rows the filtering split dropped before the explode."""
    rebuilt = flagged.groupBy(id_col).agg(
        *[F.first(c).alias(c) for c in carry_cols],
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("kept"),
                    F.struct(
                        F.col("para_idx").alias("i"),
                        F.col("para").alias("p"),
                        F.col("fp").alias("f"),
                    ),
                )
            )
        ).alias("kept_paras"),
        F.sum(
            F.when(F.col("kept") | F.col("blank"), 0).otherwise(1)
        ).alias("n_paras_dropped"),
    )
    cols = [
        id_col,
        *carry_cols,
        F.concat_ws(
            "\n\n", F.transform("kept_paras", lambda s: s["p"])
        ).alias("clean_text"),
        F.size("kept_paras").cast("long").alias("n_paras_kept"),
        F.col("n_paras_dropped").cast("long").alias("n_paras_dropped"),
    ]
    if keep_fps_col is not None:
        cols.append(
            F.array_sort(
                F.array_distinct(
                    F.transform("kept_paras", lambda s: s["f"])
                )
            ).alias(keep_fps_col)
        )
    return rebuilt.select(*cols)


def dedup_paragraphs_against(
    new_docs: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    existing_text_col: str | None = None,
    pattern: str = PARAGRAPH_SPLIT_PATTERN,
    min_chars: int = 0,
    existing_fps_col: str | None = None,
    keep_fps_col: str | None = None,
    carry_cols: tuple = (),
) -> DataFrame:
    """INCREMENTAL paragraph dedup: apply the ``dedup_paragraphs`` rule
    within the new batch (batch-first occurrence survives), and
    additionally drop EVERY batch occurrence of a paragraph that
    already occurs anywhere in ``existing`` — the curated corpus keeps
    its copy, so the increment must not introduce another. Output
    schema matches ``dedup_paragraphs`` (every batch doc survives,
    possibly with empty ``clean_text``).

    Paragraphs shorter than ``min_chars`` stay exempt (kept everywhere,
    never suppressed by the corpus) — same rule as the batch operator.

    Scale: the batch's paragraph fingerprints are dimension-sized next
    to the corpus and BROADCAST; ``existing`` is scanned ONCE, split
    map-side, and only fingerprints matching the batch survive into the
    tiny hit table — the corpus is never shuffled and its text never
    leaves the scan. ``existing_text_col`` names the corpus's text
    column when it differs from the batch's (e.g. an already-curated
    store exposing ``clean_text``).

    ``existing_fps_col`` names an ALREADY-COMPUTED paragraph-fingerprint
    column on ``existing`` instead: ``array<long>`` (as persisted by
    ``dedup_paragraphs(keep_fps_col=...)`` — exploded here) or a plain
    ``long`` column of pre-exploded fingerprints. The corpus scan then
    reads ONLY that 8 B/paragraph column (parquet column pruning) — no
    text is re-split or re-hashed, turning the per-increment corpus
    cost into a fingerprint probe. ``keep_fps_col`` emits the batch's
    kept-paragraph fingerprints (array<long>) so THIS increment's
    store can be probed the same way by the next one.
    """
    paras = _split_paragraphs_total(
        new_docs, text_col, id_col, pattern, carry_cols
    )
    paras = paras.withColumn(
        "fp",
        F.when(F.col("blank"), F.xxhash64(id_col)).otherwise(
            F.xxhash64("para")
        ),
    )
    eligible = paras.filter(~F.col("blank"))
    if min_chars:
        eligible = eligible.filter(F.length("para") >= min_chars)
    batch_fps = eligible.select("fp").distinct()
    if existing_fps_col is not None:
        from pyspark.sql.types import ArrayType

        fld = existing.schema[existing_fps_col]
        old_fp = (
            F.explode(existing_fps_col)
            if isinstance(fld.dataType, ArrayType)
            else F.col(existing_fps_col)
        )
        old_src = existing.select(old_fp.alias("fp"))
    else:
        old_text = existing_text_col or text_col
        # corpus side: map-side split + fingerprint; only the text
        # column is read from the corpus — a literal stands in for the
        # id split_paragraphs wants, so the store may key on any id
        # column (or none).
        old_src = split_paragraphs(
            existing.select(
                F.lit(0).alias("_exid"), F.col(old_text).alias("_extext")
            ),
            "_extext",
            "_exid",
            pattern,
        ).select(F.xxhash64("para").alias("fp"))
    # broadcast-probed by the batch fingerprint set; a short-exempt
    # batch paragraph can never match (same fp => same text => same
    # length — and short paragraphs are absent from batch_fps anyway),
    # so no length filter is needed on the corpus side.
    old_hits = (
        old_src.join(F.broadcast(batch_fps), "fp", "left_semi")
        .distinct()
        .withColumn("_in_corpus", F.lit(True))
    )
    # within-batch first-occurrence via the same fp-window-min shape as
    # dedup_paragraphs (one batch shuffle, no winners join); corpus hits
    # still join by fp (old_hits is at most batch-fp-sized)
    joined = paras.join(old_hits, "fp", "left")
    first = F.min(
        F.when(~F.col("blank"), F.struct(id_col, "para_idx"))
    ).over(Window.partitionBy("fp"))
    kept_flag = F.when(F.col("blank"), F.lit(False)).otherwise(
        (
            (F.length("para") < min_chars) if min_chars else F.lit(False)
        )
        | (
            (first[id_col] == F.col(id_col))
            & (first["para_idx"] == F.col("para_idx"))
            & F.col("_in_corpus").isNull()
        )
    )
    flagged = joined.select(
        id_col,
        *carry_cols,
        "para_idx",
        "para",
        "fp",
        "blank",
        kept_flag.alias("kept"),
    )
    return _reassemble_total(flagged, id_col, keep_fps_col, carry_cols)


def cap_per_domain(
    df: DataFrame,
    domain_col: str = "domain",
    cap: int = 1000,
    order_by: Sequence[Column | str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` rows per domain (C4/Gopher-style crawl-diversity
    control). Deterministic: rows are ranked by ``order_by`` (default: the
    keyed hash of ``id_col`` then ``id_col`` — an unbiased, reproducible
    per-domain sample), and rank > cap is dropped.

    One hash-partitioned window; ``row_number`` streams through the sorted
    partition, so a mega-domain costs a disk-backed sort, never memory.
    """
    order = list(order_by) if order_by is not None else [
        F.xxhash64(F.col(id_col)), F.col(id_col)
    ]
    w = Window.partitionBy(domain_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def blocklist_filter(
    df: DataFrame,
    blocked: DataFrame | Sequence[str],
    domain_col: str = "domain",
) -> DataFrame:
    """Drop rows whose domain is on a blocklist. The blocklist side is
    broadcast (policy lists are dimension-sized); the corpus never
    shuffles."""
    if isinstance(blocked, DataFrame):
        bl = blocked
        bcol = bl.columns[0]
    else:
        spark = df.sparkSession
        bl = spark.createDataFrame([(d,) for d in blocked], ["_blocked_domain"])
        bcol = "_blocked_domain"
    return df.join(
        F.broadcast(bl.withColumnRenamed(bcol, domain_col).distinct()),
        domain_col,
        "left_anti",
    )
