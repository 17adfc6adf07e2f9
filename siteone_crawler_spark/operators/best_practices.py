"""Best-practice deep checks — inline SVGs, unquoted attributes, DOM
depth, non-clickable phone numbers.

Reimplements the remaining per-page checks of the reference
BestPracticeAnalyzer from public observation, not code
(/root/reference/src/analysis/best_practice_analyzer.rs). Already covered
elsewhere: title/description uniqueness (duplicate_titles_meta),
Brotli/WebP/AVIF support (analyzers.format_support), heading structure
(operators/seo.heading_stats).

  check_inline_svg (rs:173-280): <svg> blocks; larger than 5 KiB warn
      (max_inline_svg_size, rs:77), same-page duplicates: >5 copies of a
      >1 KiB svg (rs:78-79); escaped svgs (&#x22;/&#x27; code samples)
      skipped
  check_missing_quotes_on_attributes (rs:329-385): href/src/content/alt/
      title values not enclosed in quotes; numeric values, escaped quotes,
      entities and <astro tags skipped
  check_max_dom_depth (rs:387-432): depth > 30 warning, > 50 critical
      (rs:82-83). The reference walks a parsed DOM; this twin runs a
      native aggregate over the tag-token stream (+1 open / -1 close,
      void elements skipped) — an approximation that matches on
      well-formed markup
  check_non_clickable_phone_numbers (rs:586-614, 1313-1360): four phone
      formats, >= 8 chars, deduped; clickable = inside <a href="tel:...">
      (the tel href contains the number, or the tel-anchor's block text
      does)

All checks are native Catalyst expressions (regexp + higher-order
functions + one F.aggregate for the depth scan) — no Python in the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_INLINE_SVG_SIZE = 5 * 1024
MAX_INLINE_SVG_DUPLICATE_SIZE = 1024
MAX_INLINE_SVG_DUPLICATES = 5
MAX_DOM_DEPTH_WARNING = 30
MAX_DOM_DEPTH_CRITICAL = 50

_VOID_TAGS = (
    "area|base|br|col|embed|hr|img|input|link|meta|param|source|track|wbr"
)

_PHONE_PATTERNS = [
    r"\+\d{1,4}(?:\s?[0-9\- ]{1,5}){1,5}",  # country code + groups
    r"\+[0-9\- ]{7,20}",  # country code, no spaces
    r"\(\d{1,5}\)\s?\d{3,4}-\d{4}",  # US parentheses
    r"\d{1,5}-\d{3,4}-\d{4}",  # dashed
]


def _svg_exprs(body):
    raw = F.transform(
        F.regexp_extract_all(body, F.lit(r"(?is)(<svg[^>]*>.*?</svg>)"), 1), F.trim
    )
    # escaped svgs are code samples, not markup (rs:193-195)
    raw = F.filter(
        raw, lambda s: ~(s.contains("&#x22;") | s.contains("&#x27;"))
    )

    # let-bind the extracted array via a single-element transform: every
    # `svgs`/`hashes` reference inside the dup-group lambdas below would
    # otherwise re-run the full-body regexp_extract_all scan per distinct
    # hash (Catalyst skips subexpression elimination in higher-order-function
    # lambdas — same measured pathology as operators/dsir.word_grams)
    def stats(svgs):
        n_large = F.size(
            F.filter(svgs, lambda s: F.length(s) > MAX_INLINE_SVG_SIZE)
        )
        # same-page duplicate groups: > MAX_DUPLICATES copies of a
        # big-enough svg
        hashes = F.transform(svgs, F.md5)
        dup_groups = F.size(
            F.filter(
                F.array_distinct(hashes),
                lambda h: (
                    F.size(F.filter(hashes, lambda x: x == h))
                    > MAX_INLINE_SVG_DUPLICATES
                )
                & (
                    F.length(
                        F.element_at(
                            F.filter(svgs, lambda s: F.md5(s) == h), F.lit(1)
                        )
                    )
                    > MAX_INLINE_SVG_DUPLICATE_SIZE
                ),
            )
        )
        return F.struct(
            F.size(svgs).alias("n"),
            n_large.alias("n_large"),
            dup_groups.alias("dup_groups"),
        )

    st = F.element_at(F.transform(F.array(raw), stats), 1)
    return st["n"], st["n_large"], st["dup_groups"]


def _missing_quotes(body):
    """Unquoted href/src/content/alt/title attribute values (rs:329-385):
    numeric values, escaped-quote/entity tags and <astro tags skipped."""
    tags = F.regexp_extract_all(
        body,
        F.lit(r"""(<[^>]*\s(?:href|src|content|alt|title)\s*=\s*[^"'][^\s>]*[^>]*>)"""),
        1,
    )
    tags = F.filter(
        tags,
        lambda t: ~(
            t.contains('\\"')
            | t.contains("\\'")
            | t.contains("&#")
            | t.startswith("<astro")
        )
        & (F.length(t) <= 1000),
    )
    vals = F.transform(
        tags,
        lambda t: F.regexp_extract(
            t, r"""\s(?:href|src|content|alt|title)\s*=\s*([^"'][^\s>]*)""", 1
        ),
    )
    return F.size(
        F.filter(
            vals,
            lambda v: (F.trim(v) != "") & v.try_cast("double").isNull(),
        )
    )


def _dom_depth(body):
    """Max nesting depth by scanning the tag-token stream with one native
    aggregate (+1 open, -1 close, void/self-closing-free approximation of
    the reference's DOM walk, rs:387-432)."""
    toks = F.regexp_extract_all(body, F.lit(r"(?is)(</?[a-z][a-z0-9]*)"), 1)
    toks = F.filter(
        toks, lambda t: ~F.lower(t).rlike(rf"^<(?:{_VOID_TAGS})$")
    )
    acc = F.aggregate(
        toks,
        F.struct(F.lit(0).alias("cur"), F.lit(0).alias("mx")),
        lambda a, t: F.struct(
            F.when(t.startswith("</"), a["cur"] - 1)
            .otherwise(a["cur"] + 1)
            .alias("cur"),
            F.greatest(
                a["mx"],
                F.when(t.startswith("</"), a["cur"] - 1).otherwise(a["cur"] + 1),
            ).alias("mx"),
        ),
    )
    return acc["mx"]


def _phone_exprs(body):
    """Phones found in JS/CSS-stripped markup vs tel:-clickable ones
    (rs:1313-1360)."""
    clean = F.regexp_replace(
        body, r"(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", " "
    )
    clean = F.regexp_replace(clean, "&nbsp;", " ")
    phones = F.array_distinct(
        F.flatten(
            F.array(
                *[
                    F.transform(
                        F.regexp_extract_all(clean, F.lit(f"({p})"), 1), F.trim
                    )
                    for p in _PHONE_PATTERNS
                ]
            )
        )
    )
    phones = F.filter(phones, lambda p: F.length(p) >= 8)
    tel_hrefs = F.regexp_extract_all(
        body, F.lit(r"""(?is)href=["']tel:([^"']+)["']"""), 1
    )
    tel_blocks = F.regexp_extract_all(
        body, F.lit(r"""(?is)(<a[^>]*href=["']tel:[^"']*["'][^>]*>.*?</a>)"""), 1
    )
    non_clickable = F.filter(
        phones,
        lambda p: ~F.exists(tel_hrefs, lambda h: h.contains(p))
        & ~F.exists(tel_blocks, lambda b: b.contains(p)),
    )
    return F.size(phones), F.size(non_clickable)


def best_practice_stats(
    html_docs: DataFrame, url_col: str = "url", body_col: str = "body"
) -> DataFrame:
    """Per-page best-practice SuperTable."""
    b = F.col(body_col)
    n_svgs, n_large, n_dup_groups = _svg_exprs(b)
    depth = _dom_depth(b)
    n_phones, n_nonclick = _phone_exprs(b)
    return html_docs.select(
        F.col(url_col).alias("url"),
        n_svgs.cast("int").alias("n_svgs"),
        n_large.cast("int").alias("n_large_svgs"),
        n_dup_groups.cast("int").alias("n_duplicated_svg_groups"),
        _missing_quotes(b).cast("int").alias("n_missing_quotes"),
        depth.cast("int").alias("dom_depth"),
        F.when(depth > MAX_DOM_DEPTH_CRITICAL, F.lit("critical"))
        .when(depth > MAX_DOM_DEPTH_WARNING, F.lit("warning"))
        .otherwise(F.lit("ok"))
        .alias("dom_depth_verdict"),
        n_phones.cast("int").alias("n_phones"),
        n_nonclick.cast("int").alias("n_nonclickable_phones"),
    ).orderBy("url")


def best_practice_summary(html_docs: DataFrame, body_col: str = "body") -> DataFrame:
    """Crawl-level counts of pages failing each check."""
    s = best_practice_stats(html_docs, body_col=body_col)
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum((F.col("n_large_svgs") > 0).cast("int")).cast("long").alias("pages_large_svgs"),
        F.sum((F.col("n_duplicated_svg_groups") > 0).cast("int"))
        .cast("long")
        .alias("pages_duplicated_svgs"),
        F.sum((F.col("n_missing_quotes") > 0).cast("int"))
        .cast("long")
        .alias("pages_missing_quotes"),
        F.sum((F.col("dom_depth_verdict") != "ok").cast("int"))
        .cast("long")
        .alias("pages_deep_dom"),
        F.sum((F.col("n_nonclickable_phones") > 0).cast("int"))
        .cast("long")
        .alias("pages_nonclickable_phones"),
    )
