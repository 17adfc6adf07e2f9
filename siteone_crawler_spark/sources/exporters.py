"""Exporter sinks — DataFrame-first re-expressions of the reference's
exporters (/root/reference/src/export/*).

  sitemap_rows / write_sitemap_xml  S8: sitemap_exporter.rs:45-120 — filter
      internal+HTML+200, sort (slash count, alpha), priority =
      clamp(base + inc*(1-extra_slashes), 0.1, 1.0)
  json_output / write_json          S11: output/json_output.rs:86-135 —
      results + stats + tables (docs/JSON-OUTPUT.md:50-105 schema spirit)
  markdown_spans                    S10: markdown_exporter.rs — the per-doc
      interleaved text+media sequence (the spans column IS this output;
      see operators/spans.py for the parity check)

The heavy computation stays in Spark; only the final small presentation
artifacts are collected/written driver-side (they're reports, not data).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import analyzers as A


def sitemap_rows(
    visited: DataFrame, base_priority: float = 0.5, inc: float = 0.1
) -> DataFrame:
    """Internal HTML 200s sorted by (slash count, url) with computed priority."""
    html200 = (F.col("status_code") == 200) & (
        A.classify_content_type(F.col("content_type_header")) == "html"
    )
    slashes = F.length("url") - F.length(F.regexp_replace("url", "/", ""))
    extra = slashes - 3  # scheme:// + host/ = 3 slashes baseline
    priority = F.round(
        F.greatest(
            F.lit(0.1),
            F.least(F.lit(1.0), F.lit(base_priority) + F.lit(inc) * (1 - extra)),
        ),
        2,
    )
    return (
        visited.filter(html200)
        .select("url", slashes.alias("slashes"), priority.alias("priority"))
        .orderBy("slashes", "url")
    )


def write_sitemap_xml(visited: DataFrame, path: str) -> int:
    """Single-file sink — inherently driver-side, but STREAMED: rows arrive
    one partition at a time via toLocalIterator (the sorted plan hands
    partitions over in range order, so document order is preserved), never
    a whole-table collect — a 10^8-URL sitemap writes in bounded memory."""
    n = 0
    with open(path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n')
        for r in sitemap_rows(visited).toLocalIterator():
            f.write(
                f"  <url><loc>{_xml_escape(r['url'])}</loc>"
                f"<priority>{r['priority']:.2f}</priority></url>\n"
            )
            n += 1
        f.write("</urlset>\n")
    return n


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


# Above this, a writer "limit" is effectively "emit everything": skip the
# .limit() so sort+limit doesn't plan TakeOrderedAndProject, whose
# per-partition priority queue allocates `limit` slots up front (a 10^9
# cap from max_visited_urls would OOM the heap before reading a row).
_UNBOUNDED_LIMIT = 1_000_000


def _rows(df: DataFrame, limit: int | None = None) -> list[dict]:
    if limit is not None and limit < _UNBOUNDED_LIMIT:
        df = df.limit(limit)
    return [r.asDict(recursive=True) for r in df.collect()]


_RESULTS_LIMIT_DEFAULT = object()  # sentinel: "derive from config"


def json_output(
    visited: DataFrame,
    skipped: DataFrame,
    config=None,
    executed_at: str = "",
    results_limit=_RESULTS_LIMIT_DEFAULT,
    rows_limit: int = 200,
    html_docs: DataFrame | None = None,
    probes: DataFrame | None = None,
    now_s: int = 0,
    metrics: DataFrame | None = None,
) -> dict:
    """S11: the reference's full JSON output shape (docs/JSON-OUTPUT.md §3 —
    8 top-level keys: crawler, extraColumnsFromAnalysis, options,
    qualityScores, results, stats, summary, tables; all 27 documented table
    apl-codes from §5). Aggregations run distributed; only the presentation
    rows collect, and every collect is BOUNDED: `rows_limit` defaults to the
    reference's --rows-limit (200, core_options.rs:341) and `results_limit`
    to the crawl's own cap (config.max_visited_urls when a config is given,
    else the reference's default 10000, core_options.rs:377) — the most
    rows THIS crawl can ever produce, so `results` is never silently
    truncated below what was actually crawled (the reference emits every
    visited URL; its 10000 is a crawl cap, not a writer cap). Pass an int
    to cap tighter or None to lift the cap explicitly.

    `probes` is a host-probe table (network.PROBE_SCHEMA) feeding the dns +
    certificate-info tables; when absent, the deterministic sandbox prober
    (network.synth_probes at `now_s`) runs over visited's https hosts.
    `metrics` is the engine's checkpointed metrics table (tables["metrics"]
    from CrawlEngine.run) feeding content-processors-stats."""
    from dataclasses import asdict

    if results_limit is _RESULTS_LIMIT_DEFAULT:
        results_limit = getattr(config, "max_visited_urls", None) or 10000

    from ..operators import scoring

    summary_counts, stats = scoring.crawl_summary(visited, skipped)
    scores = scoring.calculate_scores(summary_counts, stats)

    def cat(c):
        return {
            "name": c.name,
            "code": c.code,
            "score": c.score,
            "label": c.label,
            "weight": c.weight,
            "deductions": [
                {"description": d.description, "points": d.points} for d in c.deductions
            ],
        }

    results = _rows(
        visited.select(
            "url",
            F.col("status_code").alias("status"),
            F.col("request_time_ms").alias("elapsedTime"),
            "size",
            F.col("content_type_header").alias("contentType"),
            F.col("cache_type_flags").alias("cacheTypeFlags"),
            F.col("cache_lifetime").alias("cacheLifetime"),
        ).orderBy("seq"),
        results_limit,
    )

    tables = {
        "skipped-summary": _rows(A.skipped_summary(skipped), rows_limit),
        "skipped": _rows(
            skipped.select("url", "reason", "source_uq_id").orderBy("url"), rows_limit
        ),
        "redirects": _rows(A.redirects_list(visited), rows_limit),
        "404": _rows(A.errors_list(visited, 404), rows_limit),
        "fastest-urls": _rows(A.top_fastest(visited, 20)),
        "slowest-urls": _rows(A.top_slowest(visited, 20)),
        "headers": _rows(A.header_stats(visited), rows_limit),
        "caching-per-content-type": _rows(
            A.caching_stats(visited, "content_type"), rows_limit
        ),
        "caching-per-domain": _rows(A.caching_stats(visited, "domain"), rows_limit),
        "caching-per-domain-and-content-type": _rows(
            A.caching_stats(visited, "domain_content_type"), rows_limit
        ),
        "source-domains": _rows(A.source_domain_stats(visited), rows_limit),
        "content-types": _rows(A.content_type_stats(visited), rows_limit),
        "content-types-raw": _rows(A.mime_type_stats(visited), rows_limit),
        "external-urls": _rows(A.external_links(skipped), rows_limit),
        "best-practices": _rows(A.format_support(visited)),
        "analysis-stats": _rows(A.wave_stats(visited), rows_limit),
    }
    # dns + certificate-info run off a host-probe table (hosts are orders of
    # magnitude fewer than URLs — the probe is the per-host job); without a
    # caller-supplied prober result, the deterministic sandbox prober fills in
    from ..operators import network as N

    p = probes if probes is not None else N.synth_probes(N.probe_targets(visited), now_s)
    tables["certificate-info"] = _rows(N.certificate_info(p), rows_limit)
    tables["dns"] = _rows(N.dns_info_lines(p), rows_limit)
    # engine lineage timings -> the content-processor timing table; an empty
    # list (not a missing key) when the caller has no metrics table
    tables["content-processors-stats"] = (
        _rows(A.content_processor_stats(metrics), rows_limit)
        if metrics is not None
        else []
    )
    # security header hygiene + header values run off the headers map directly
    if "headers" in visited.columns:
        from ..operators.security import security_stats

        tables["security"] = _rows(security_stats(visited), rows_limit)
        tables["headers-values"] = _rows(A.header_value_stats(visited), rows_limit)
    # content-derived tables need page bodies — included when provided
    if html_docs is not None:
        from ..operators.accessibility import accessibility_summary
        from ..operators.best_practices import best_practice_summary
        from ..operators.seo import (
            heading_stats,
            non_unique_descriptions,
            non_unique_titles,
            og_stats,
            seo_stats,
        )

        tables["seo"] = _rows(seo_stats(html_docs), rows_limit)
        tables["open-graph"] = _rows(og_stats(html_docs), rows_limit)
        tables["seo-headings"] = _rows(heading_stats(html_docs), rows_limit)
        tables["accessibility"] = _rows(accessibility_summary(html_docs))
        tables["best-practices-content"] = _rows(best_practice_summary(html_docs))
        tables["non-unique-titles"] = _rows(non_unique_titles(html_docs), rows_limit)
        tables["non-unique-descriptions"] = _rows(
            non_unique_descriptions(html_docs), rows_limit
        )

    return {
        "crawler": {
            "name": "siteone_crawler_spark",
            "version": "2.0",
            "executedAt": executed_at,
        },
        "extraColumnsFromAnalysis": [],
        "options": asdict(config) if config is not None else {},
        "qualityScores": {
            "overall": cat(scores.overall),
            "categories": [cat(c) for c in scores.categories],
        },
        "results": results,
        "stats": {
            "totalUrls": stats.total_urls,
            "avgTimeS": stats.avg_time_s,
            "p90HtmlS": stats.p90_html_s,
            "maxTimeS": stats.max_time_s,
            "countByStatus": {str(k): v for k, v in sorted(stats.count_by_status.items())},
        },
        "summary": [
            {"aplCode": code, "count": n, "status": "warning"}
            for code, n in sorted(summary_counts.items())
        ],
        "tables": tables,
    }


def write_json(
    visited: DataFrame, skipped: DataFrame, path: str, config=None,
    executed_at: str = "", **kw,
) -> dict:
    out = json_output(visited, skipped, config=config, executed_at=executed_at, **kw)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, default=str)
    return out


def markdown_spans(docs: DataFrame) -> DataFrame:
    """Per-doc markdown-ish rendering of the span sequence: text spans pass
    through, media/link spans become markdown refs — all native exprs."""
    from ..operators.spans import ordered_spans

    render = F.array_join(
        F.transform(
            "seq",
            lambda s: F.when(s["kind"] == "text", s["text"])
            .when(s["kind"] == "img_src", F.concat(F.lit("!["), s["text"], F.lit("](") , s["media_ref"], F.lit(")")))
            .otherwise(F.concat(F.lit("["), s["text"], F.lit("]("), s["media_ref"], F.lit(")"))),
        ),
        "\n",
    )
    return ordered_spans(docs).select("doc_id", render.alias("markdown"))


# --- S11 remainder: HTML report + text output sinks -------------------------
# Presentation-only renderers over the same json_output() result dict; the
# reference's html_report/report.rs and output/text_output.rs render the
# identical SuperTables — all aggregation stays distributed, only the final
# rows are collected.


def _html_escape(s) -> str:
    return (
        str(s)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _html_table(name: str, rows: list[dict]) -> str:
    if not rows:
        return f"<h2>{_html_escape(name)}</h2>\n<p class='empty'>no rows</p>\n"
    cols = list(rows[0].keys())
    head = "".join(f"<th>{_html_escape(c)}</th>" for c in cols)
    body = "\n".join(
        "<tr>" + "".join(f"<td>{_html_escape(r.get(c, ''))}</td>" for c in cols) + "</tr>"
        for r in rows
    )
    return (
        f"<h2>{_html_escape(name)}</h2>\n"
        f"<table><thead><tr>{head}</tr></thead>\n<tbody>\n{body}\n</tbody></table>\n"
    )


def html_report(
    visited: DataFrame,
    skipped: DataFrame,
    config=None,
    executed_at: str = "",
    rows_limit: int = 1000,
    html_docs: DataFrame | None = None,
    **kw,
) -> str:
    """S11 HTML report (html_report/report.rs in spirit): one self-contained
    page — quality scores, crawl stats, and every SuperTable from
    json_output() as an HTML table."""
    out = json_output(
        visited, skipped, config=config, executed_at=executed_at,
        rows_limit=rows_limit, html_docs=html_docs, **kw,
    )
    qs = out["qualityScores"]
    parts = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'>",
        "<title>Crawl report</title>",
        "<style>body{font-family:sans-serif;margin:2em}table{border-collapse:collapse}"
        "th,td{border:1px solid #999;padding:2px 8px;font-size:13px}"
        ".score{font-weight:bold}</style></head><body>",
        f"<h1>Crawl report — {_html_escape(out['crawler']['name'])}"
        f" {_html_escape(out['crawler']['version'])}</h1>",
        f"<p>executed at: {_html_escape(executed_at)}</p>",
        f"<h2>Quality</h2><p class='score'>overall: {qs['overall']['score']}"
        f" ({_html_escape(qs['overall']['label'])})</p><ul>",
    ]
    for c in qs["categories"]:
        parts.append(
            f"<li>{_html_escape(c['name'])}: {c['score']} ({_html_escape(c['label'])},"
            f" weight {c['weight']})</li>"
        )
    parts.append("</ul>")
    st = out["stats"]
    parts.append(
        "<h2>Stats</h2><ul>"
        f"<li>total URLs: {st['totalUrls']}</li>"
        f"<li>avg time: {st['avgTimeS']} s</li>"
        f"<li>p90 HTML time: {st['p90HtmlS']} s</li>"
        f"<li>max time: {st['maxTimeS']} s</li>"
        f"<li>by status: {_html_escape(st['countByStatus'])}</li></ul>"
    )
    for name, rows in out["tables"].items():
        parts.append(_html_table(name, rows))
    parts.append("</body></html>")
    return "\n".join(parts)


def write_html_report(visited: DataFrame, skipped: DataFrame, path: str, **kw) -> str:
    html = html_report(visited, skipped, **kw)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(html)
    return html


def _text_table(name: str, rows: list[dict], max_width: int = 60) -> str:
    if not rows:
        return f"=== {name} ===\n(no rows)\n"
    cols = list(rows[0].keys())
    cells = [[str(r.get(c, ""))[:max_width] for c in cols] for r in rows]
    widths = [
        max(len(c), *(len(row[i]) for row in cells)) for i, c in enumerate(cols)
    ]
    sep = "-+-".join("-" * w for w in widths)
    head = " | ".join(c.ljust(w) for c, w in zip(cols, widths))
    body = "\n".join(
        " | ".join(v.ljust(w) for v, w in zip(row, widths)) for row in cells
    )
    return f"=== {name} ===\n{head}\n{sep}\n{body}\n"


def text_output(
    visited: DataFrame, skipped: DataFrame, config=None, rows_limit: int = 50, **kw
) -> str:
    """S11 text output (output/text_output.rs in spirit): fixed-width ASCII
    SuperTables, the console rendering of the same result dict."""
    out = json_output(visited, skipped, config=config, rows_limit=rows_limit, **kw)
    st = out["stats"]
    qs = out["qualityScores"]
    lines = [
        f"crawl of {st['totalUrls']} URLs — avg {st['avgTimeS']} s,"
        f" p90 HTML {st['p90HtmlS']} s, max {st['maxTimeS']} s",
        f"status counts: {st['countByStatus']}",
        f"quality: {qs['overall']['score']} ({qs['overall']['label']})",
        "",
    ]
    for name, rows in out["tables"].items():
        lines.append(_text_table(name, rows))
    return "\n".join(lines)


# ------------------------------------------------------- mailer sink (S11)
# Reimplements the observable behavior of export/mailer_exporter.rs:85-160
# (subject template %domain%/%date%/%datetime%, inline table styles injected
# at <body>, @your-hostname.com sender resolution). SMTP itself is a network
# transport this sandbox cannot exercise — the sink's file twin writes an
# .eml; a deployment swaps `transport` for a real SMTP sender of the same
# message dict.
_EMAIL_TABLE_STYLE = (
    '<body style="font-family: Arial, Helvetica, sans-serif;">\n'
    "<style>\n"
    "table { border-collapse: collapse; }\n"
    "body table, body table th, body table td {\n"
    "  border: 1px solid #555555; padding: 3px !important;\n"
    "  vertical-align: top; text-align: left;\n"
    "}\n"
    "</style>\n"
)


def style_html_body_for_email(html: str) -> str:
    """Inline table styles for email clients (mailer_exporter.rs:106-121:
    a style block replaces the bare <body> tag)."""
    return html.replace("<body>", _EMAIL_TABLE_STYLE)


def build_email(
    report_html: str,
    initial_host: str,
    mail_to: tuple[str, ...],
    mail_from: str = "crawler@your-hostname.com",
    mail_from_name: str = "Crawler Report",
    subject_template: str = "Crawler report for %domain% (%date%)",
    hostname: str | None = None,
    now=None,
) -> dict:
    """Assemble the report email (mailer_exporter.rs:123-152): subject from
    the %domain%/%date%/%datetime% template, sender's @your-hostname.com
    placeholder resolved to the real hostname, styled HTML report attached."""
    import datetime
    import socket

    if not mail_to:
        raise ValueError("No recipients specified for email")
    now = now or datetime.datetime.now()
    host = initial_host or "unknown"
    subject = (
        subject_template.replace("%domain%", host)
        .replace("%date%", now.strftime("%Y-%m-%d"))
        .replace("%datetime%", now.strftime("%Y-%m-%d %H:%M"))
    )
    sender = mail_from.replace(
        "@your-hostname.com", "@" + (hostname or socket.gethostname())
    )
    body = (
        "Hello,<br><br>\n"
        f"attached is the crawl report for <b>{host}</b>: redirects, 404s,"
        " and findings across accessibility, best practices, performance"
        " and security.<br><br>\n"
        "The report is an HTML file — open it in a JavaScript-enabled"
        " browser for table search and sorting.<br><br>\n"
        "Best regards,<br>the crawler\n"
    )
    return {
        "from": f"{mail_from_name} <{sender}>",
        "to": list(mail_to),
        "subject": subject,
        "body_html": body,
        "attachment_name": f"report-{host}.html",
        "attachment_html": style_html_body_for_email(report_html),
    }


def write_eml(email: dict, path: str) -> str:
    """File twin of the SMTP transport: serialize the message dict as a
    MIME email on disk (the shape a real sender would put on the wire)."""
    from email.message import EmailMessage

    msg = EmailMessage()
    msg["From"] = email["from"]
    msg["To"] = ", ".join(email["to"])
    msg["Subject"] = email["subject"]
    msg.set_content("HTML report attached.")
    msg.add_alternative(email["body_html"], subtype="html")
    msg.add_attachment(
        email["attachment_html"].encode("utf-8"),
        maintype="text",
        subtype="html",
        filename=email["attachment_name"],
    )
    with open(path, "wb") as f:
        f.write(bytes(msg))
    return path


# ------------------------------------------------------- upload sink (S11)
def build_upload_payload(
    report_html: str,
    retention: str | None = None,
    password: str | None = None,
    version: str = "spark",
    platform: str | None = None,
) -> bytes:
    """The upload exporter's wire payload (upload_exporter.rs:59-110):
    gzip-compressed HTML percent-encoded into an x-www-form-urlencoded body
    with version/platform/retention/password fields. Gzip mtime pinned to 0
    so the payload is deterministic. The POST itself is a network call —
    write_upload_payload is its file twin; a deployment POSTs these bytes to
    the endpoint with Content-Type: application/x-www-form-urlencoded."""
    import gzip
    import sys
    import urllib.parse

    compressed = gzip.compress(report_html.encode("utf-8"), mtime=0)
    enc = urllib.parse.quote_from_bytes(compressed, safe="")
    parts = [f"htmlBody={enc}"]
    form = [("version", version), ("platform", platform or sys.platform)]
    if retention:
        form.append(("retention", retention))
    if password and password.strip():
        form.append(("password", password.strip()))
    for k, v in form:
        parts.append(
            f"{urllib.parse.quote(k, safe='')}={urllib.parse.quote(v, safe='')}"
        )
    return "&".join(parts).encode("ascii")


def write_upload_payload(
    report_html: str, path: str, endpoint: str = "", **kw
) -> dict:
    """File twin of the report upload POST. Returns the manifest a real
    uploader would log (endpoint, payload path, size)."""
    payload = build_upload_payload(report_html, **kw)
    with open(path, "wb") as f:
        f.write(payload)
    return {"endpoint": endpoint, "path": path, "bytes": len(payload)}
