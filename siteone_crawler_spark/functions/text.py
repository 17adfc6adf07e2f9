"""Text-analysis column expressions for large-scale training-data pipelines.

All of these are NATIVE Spark column expressions (JVM-side, whole-stage
codegen) — no Python in the hot path — and each has a DuckDB-SQL-expressible
twin so the driver's oracle can verify values bit-for-bit:

  - tokenization + token counts (whitespace + alnum-normalized)
  - a BPE-style subword token estimate
  - duplicate n-gram fraction and the Gopher quality rules

The reference crawler's text analysis surface is thinner (title/description
extraction + DOM counts, /root/reference/src/engine/crawler.rs:901-937); this
module is the training-data superset the north rule asks for.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_tokens(col) -> Column:
    """Lowercased alnum tokens: non-alnum -> space, split, drop empties."""
    cleaned = F.lower(F.regexp_replace(col, "[^a-zA-Z0-9]+", " "))
    return F.filter(F.split(F.trim(cleaned), " "), lambda t: t != "")


def _let(value, body) -> Column:
    """Let-bind `value` so `body` can reference it many times while it is
    EVALUATED ONCE per row: Catalyst skips subexpression elimination for
    expressions containing higher-order-function lambdas (they fall back to
    interpreted eval), so every textual reference to e.g. norm_tokens(col)
    re-runs the whole regexp+split tokenization. Binding it as the element
    of a single-element transform() makes every inner reference a value
    lookup — the same measured 3-6.7x win as operators/dsir.word_grams.
    `body` gets the bound Column and returns one Column; nested _let calls
    compose (bind a struct to let-bind several values at once)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def token_count(col) -> Column:
    return F.size(norm_tokens(col))


# GPT-2-style pre-tokenizer (public pattern family): contractions, an
# optional leading space glued to letter/digit/symbol runs. The reference
# lookahead variant (`\s+(?!\S)`) is dropped so the same pattern runs under
# Java regex (Spark) AND RE2 (DuckDB oracle) — whitespace runs merge into
# the following token's leading space either way.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def subword_token_count(col) -> Column:
    """BPE-ish token estimate: pre-tokenizer match count plus one extra
    subword per started 4-char block beyond the first in each pre-token —
    the split pressure a byte-pair vocabulary applies to long words.
    Deterministic, tokenizer-file-free, and fully native (regexp + one
    array aggregate). The pre-token array is _let-bound: size() and the
    aggregate otherwise each re-run the regexp extraction."""

    def build(toks):
        extras = F.aggregate(
            toks,
            F.lit(0),
            lambda a, t: a
            + F.greatest(
                F.ceil(F.length(F.trim(t)) / 4).cast("int") - 1, F.lit(0)
            ),
        )
        return F.size(toks) + extras

    return _let(F.regexp_extract_all(col, F.lit(f"({BPE_PRETOKEN_RE})"), 1), build)


def ngram_repetition(col, n: int = 3) -> Column:
    """Gopher-style duplicate n-gram fraction: 1 - distinct/total over the
    word n-gram shingles; 0.0 for docs with fewer than n tokens. High values
    flag boilerplate / machine-looped text a training pipeline should drop.

    Per-row native arithmetic — no shuffle, no UDF, and bit-identical across
    engines, so the DuckDB oracle twin needs no rounding slack. ONE _let
    binds the token array for both the shingle build and the total count
    (previously two independent tokenizations per row); the shingle array
    itself is still referenced exactly once — the total comes from
    size(tokens)-(n-1), which equals size(shingles) whenever positive."""

    def build(tk):
        n_total = F.size(tk) - (n - 1)
        # slice() is bounds-safe, so the dead branch of the `when` cannot
        # throw under ANSI mode (Spark evaluates both branches)
        idx = F.sequence(F.lit(1), F.greatest(n_total, F.lit(1)))
        shingles = F.transform(idx, lambda i: F.array_join(F.slice(tk, i, n), " "))
        return F.when(
            n_total > 0,
            (n_total - F.size(F.array_distinct(shingles))).cast("double") / n_total,
        ).otherwise(F.lit(0.0))

    return _let(norm_tokens(col), build)


# Gopher document-quality rules (Rae et al., "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", 2021, §A1.1 — public).
# Thresholds as published; every rule is a per-row native expression (no
# shuffle, no UDF), so the filter runs scan-side at any corpus scale.
GOPHER_REQUIRED_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags(col) -> "Column":
    """Struct of the Gopher §A1.1 quality signals + the composite keep flag.

    Fields: word_count, mean_word_len, alpha_word_ratio, symbol_word_ratio,
    bullet_line_ratio, ellipsis_line_ratio, stop_hits, keep. Ratios are
    rounded to 6 dp BEFORE the threshold comparisons so the keep flag is
    bit-stable across engines (an unrounded 0.1-vs-0.1+1e-17 boundary would
    flip between float sum orders); the same rounding is documented for the
    DuckDB oracle twin."""
    r6 = lambda c: F.round(c, 6)  # noqa: E731 — local shorthand

    def metrics(b):
        # b: _let-bound struct(t: token array, l: line array) — every rule
        # reads the bound arrays instead of re-tokenizing (the naive form
        # tokenizes ~6x and re-splits lines 2x per row)
        toks, lines = b["t"], b["l"]
        n = F.size(toks)
        nd = n.cast("double")
        mean_wl = r6(
            F.when(
                n > 0, F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / nd
            ).otherwise(F.lit(0.0))
        )
        alpha_ratio = r6(
            F.when(n > 0, F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / nd)
            .otherwise(F.lit(0.0))
        )
        # '#' and '...' occurrences per word (non-overlapping leftmost count
        # via replace-length delta — identical semantics in DuckDB)
        n_hash = F.length(col) - F.length(F.regexp_replace(col, "#", ""))
        n_ellipsis = (
            F.length(col) - F.length(F.regexp_replace(col, r"\.\.\.", ""))
        ) / 3
        symbol_ratio = r6(
            F.when(n > 0, (n_hash + n_ellipsis) / nd).otherwise(F.lit(0.0))
        )
        n_lines = F.size(lines).cast("double")
        bullet_ratio = r6(
            F.size(
                F.filter(
                    lines,
                    lambda l: l.startswith("- ")
                    | l.startswith("* ")
                    | l.startswith("•"),
                )
            )
            / n_lines
        )
        ellipsis_line_ratio = r6(
            F.size(F.filter(lines, lambda l: l.endswith("..."))) / n_lines
        )
        stop_hits = F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPS]),
            )
        )
        return F.struct(
            n.alias("word_count"),
            mean_wl.alias("mean_word_len"),
            alpha_ratio.alias("alpha_word_ratio"),
            symbol_ratio.alias("symbol_word_ratio"),
            bullet_ratio.alias("bullet_line_ratio"),
            ellipsis_line_ratio.alias("ellipsis_line_ratio"),
            stop_hits.alias("stop_hits"),
        )

    def with_keep(m):
        # second _let level: the keep rule reads the ROUNDED metric values
        # from the bound struct instead of re-evaluating each metric tree
        keep = (
            (m["word_count"] >= 50)
            & (m["word_count"] <= 100_000)
            & (m["mean_word_len"] >= 3.0)
            & (m["mean_word_len"] <= 10.0)
            & (m["symbol_word_ratio"] <= 0.1)
            & (m["bullet_line_ratio"] <= 0.9)
            & (m["ellipsis_line_ratio"] <= 0.3)
            & (m["alpha_word_ratio"] >= 0.8)
            & (m["stop_hits"] >= 2)
        )
        return F.struct(
            m["word_count"].alias("word_count"),
            m["mean_word_len"].alias("mean_word_len"),
            m["alpha_word_ratio"].alias("alpha_word_ratio"),
            m["symbol_word_ratio"].alias("symbol_word_ratio"),
            m["bullet_line_ratio"].alias("bullet_line_ratio"),
            m["ellipsis_line_ratio"].alias("ellipsis_line_ratio"),
            m["stop_hits"].alias("stop_hits"),
            keep.alias("keep"),
        )

    bound = F.struct(norm_tokens(col).alias("t"), F.split(col, "\n").alias("l"))
    return _let(bound, lambda b: _let(metrics(b), with_keep))
