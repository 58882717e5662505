"""Text-analysis expression helpers for large-scale training-data pipelines.

These are beyond-reference operators (driver north star): quality
scoring, token counting, shingling, and document fingerprinting — all as
JVM-side column expressions so they stream through whole-stage codegen at
100 TB scale (no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny English stopword list behind the stopword-ratio fluency proxy.
# Deliberately small; swap in a real list for production.
STOPWORDS_EN = [
    "the", "and", "of", "to", "in", "is", "that", "for", "with", "on",
    "a", "an", "it", "as", "at", "by", "be",
]


def let_expr(value: Column, body) -> Column:
    """Single-evaluation let-binding for expression-valued columns used
    inside higher-order-function lambdas.

    Spark performs NO common-subexpression elimination inside HOF lambdas:
    a lambda that references an expression subtree re-evaluates it per
    array element, turning e.g. ``transform(seq, i -> substring(lower(t),
    i, n))`` into O(L^2) work. Binding the value to a lambda variable via a
    one-element-array transform makes every reference O(1)::

        let_expr(expensive, lambda v: F.transform(idx, lambda i: f(v, i)))
    """
    return F.transform(F.array(value), body)[0]


def char_grams_expr(text: Column, n: int) -> Column:
    """Array of every length-``n`` character gram of ``text`` (positions
    1..len-n+1); empty array for texts shorter than ``n``.

    O(len) per row: the text is split into its char array ONCE
    (let-bound — Spark re-evaluates lambda-captured subtrees per
    element), and each gram is a concat of ``n`` O(1) ``element_at``
    lookups. The naive ``transform(seq, i -> substring(text, i, n))`` is
    O(len^2): every ``substring`` call seeks its start by walking the
    UTF-8 bytes from the front — ruinous for 100 KB web documents.
    ``text`` may be any expression (it is only referenced outside the
    lambdas)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    def _grams(arr: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.size(arr) - (n - 1)),
            lambda i: F.concat(
                *[F.element_at(arr, i + j) for j in range(n)]
            ),
        )

    return F.when(
        F.length(text) >= n, let_expr(F.split(text, ""), _grams)
    ).otherwise(F.array().cast("array<string>"))


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization, empty tokens removed."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


# GPT-2-style pre-tokenizer pattern (public BPE convention): contractions,
# optionally-space-prefixed letter runs, digit runs, punctuation runs, and
# residual whitespace. Uses only RE2-compatible constructs so the same
# pattern runs identically in Spark (Java regex) and DuckDB (RE2) — hence no
# lookahead, unlike the original tiktoken pattern.
BPE_ISH_PATTERN = r"'[sdmt]|'ll|'ve|'re| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def bpe_tokens_expr(text: Column) -> Column:
    """BPE-ish subword pre-tokenization (the unit LLM token budgets count
    in, up to the merge table): ``regexp_extract_all`` of the GPT-2-style
    pattern. ~1.3x the whitespace count on English prose."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def bpe_token_count_expr(text: Column) -> Column:
    return F.size(bpe_tokens_expr(text))


def word_shingles_expr(tokens: Column, n: int = 3) -> Column:
    """Contiguous n-token shingles joined with a single space.

    Documents shorter than ``n`` tokens yield an empty array (``greatest``
    guards the slice length — note ``sequence(1, 0)`` in Spark would be the
    DESCENDING ``[1, 0]``, so index-sequence formulations need care).

    Construction is a zip of ``n`` shifted slices rather than
    ``transform(sequence(...), i -> slice(tokens, i, n))``: a lambda that
    references the ``tokens`` subtree re-evaluates it PER ELEMENT (no
    common-subexpression elimination inside higher-order functions), which
    turns an expression-valued ``tokens`` (split+filter) into O(L^2) work
    per document. The zip form evaluates ``tokens`` ``n`` times total —
    O(n*L) — which is what keeps this viable on 10k-token documents at
    corpus scale.
    """
    cnt = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    shifted = [F.slice(tokens, i + 1, cnt).alias(f"w{i}") for i in range(n)]
    zipped = F.arrays_zip(*shifted)
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)])
    )


def char_ngrams_expr(text: Column, n: int = 3) -> Column:
    """Character n-grams of a string (for n-gram Jaccard similarity).
    Strings shorter than ``n`` yield an empty array. Same contract as
    ``char_grams_expr`` (which it delegates to — O(len) split-once +
    element_at concats, not O(len^2) per-position substring seeks)."""
    return char_grams_expr(text, n)


def punct_ratio_expr(text: Column) -> Column:
    """Share of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio_expr(tokens: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    hits = F.size(F.filter(tokens, lambda t: F.array_contains(sw, F.lower(t))))
    return hits / F.greatest(F.size(tokens), F.lit(1))


def mean_token_length_expr(tokens: Column) -> Column:
    total = F.aggregate(
        tokens, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(tokens), F.lit(1))


def quality_score_expr(text: Column) -> Column:
    """Composite document-quality heuristic in [0, 1]: rewards reasonable
    length, low punctuation density, and stopword presence (a fluency proxy).
    Pure column math — runs in codegen."""
    toks = tokens_expr(text)
    n_tok = F.size(toks)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio_expr(text) * 4, F.lit(1.0))
    sw_score = F.least(stopword_ratio_expr(toks) * 5, F.lit(1.0))
    return (len_score + punct_pen + sw_score) / F.lit(3.0)


# PII scrubbing patterns. Deliberately RE2-compatible (no lookaround, no
# backreferences) so the identical pattern string runs in Spark (Java regex)
# and DuckDB/RE2 engines — the same dual-engine constraint as
# BPE_ISH_PATTERN. Swap in stricter production patterns as needed.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}

# order matters: SSN before phone (both are digit-dash shapes), IP last so
# already-redacted spans aren't rescanned
PII_REDACTION_ORDER = ("email", "ssn", "phone", "ipv4")


def redact_pii_expr(text: Column, kinds: tuple[str, ...] = PII_REDACTION_ORDER) -> Column:
    """Replace PII spans with ``<KIND>`` placeholders — pure
    ``regexp_replace`` chain, whole-stage codegen, no Python in the hot
    path. The canonical pre-training scrub pass."""
    out = text
    for kind in kinds:
        out = F.regexp_replace(
            out, PII_PATTERNS[kind], f"<{kind.upper()}>"
        )
    return out


def pii_count_expr(text: Column, kind: str) -> Column:
    """Number of spans of one PII kind in the text."""
    return F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[kind]), 0))


# --- HTML stripping / text normalization (pre-training cleanup pass) ------
#
# All patterns are RE2-compatible (no lookaround/backreferences) so the same
# strings run in Spark's Java regex and DuckDB's RE2 — the dual-engine
# constraint every gated regexp in this module obeys. `(?is)` (case-fold +
# dot-matches-newline) and non-greedy `.*?` are supported by both engines.

HTML_BLOCK_PATTERN = r"(?is)<(script|style)[^>]*>.*?</(script|style)>"
HTML_COMMENT_PATTERN = r"(?s)<!--.*?-->"
HTML_TAG_PATTERN = r"(?s)</?[A-Za-z!][^>]*>"

# common-entity decode order: longest-name entities before '&amp;' so
# '&amp;lt;' decodes to '&lt;' (literal), not '<'
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
)

CONTROL_CHAR_PATTERN = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"

# 1:1 unicode-punctuation fold (curly quotes, en/em dash, NBSP) — a single
# codegen `translate`; the one non-1:1 fold (ellipsis) is a regexp_replace
_PUNCT_FROM = "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0"
_PUNCT_TO = "''\"\"-- "


def normalize_ws_expr(text: Column) -> Column:
    """Collapse whitespace runs to single spaces and trim."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def strip_control_chars_expr(text: Column) -> Column:
    """Remove C0/DEL control characters (tab/newline/CR are kept — they are
    whitespace, handled by :func:`normalize_ws_expr`)."""
    return F.regexp_replace(text, CONTROL_CHAR_PATTERN, "")


def strip_html_expr(text: Column) -> Column:
    """Strip HTML to visible text: drop script/style blocks and comments,
    replace tags with spaces (so adjacent words don't fuse), decode the
    common entities, collapse whitespace. Pure ``regexp_replace``/
    ``replace`` chain — whole-stage codegen, no Python in the hot path.

    This is the boilerplate-removal front door of a web-crawl pipeline
    (the heuristic core of trafilatura/jusText-style extraction, without
    the DOM scoring — per-tag structure never leaves the executor).
    """
    out = F.regexp_replace(text, HTML_BLOCK_PATTERN, " ")
    out = F.regexp_replace(out, HTML_COMMENT_PATTERN, " ")
    out = F.regexp_replace(out, HTML_TAG_PATTERN, " ")
    for ent, repl in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(repl))
    return normalize_ws_expr(out)


def normalize_text_expr(text: Column, lowercase: bool = False) -> Column:
    """Canonical text normalization: strip control chars, fold common
    unicode punctuation to ASCII (curly quotes, dashes, NBSP, ellipsis),
    collapse whitespace; optionally lowercase. One codegen chain."""
    out = strip_control_chars_expr(text)
    out = F.translate(out, _PUNCT_FROM, _PUNCT_TO)
    out = F.regexp_replace(out, "…", "...")
    out = normalize_ws_expr(out)
    return F.lower(out) if lowercase else out


def fingerprint_expr(text: Column) -> Column:
    """64-bit document fingerprint: xxhash64 of the normalized token stream.

    Normalization: lowercase, collapse whitespace. Identical content with
    different spacing/casing maps to one fingerprint — the exact-dedup key.
    """
    normalized = F.array_join(tokens_expr(F.lower(text)), " ")
    return F.xxhash64(normalized)
