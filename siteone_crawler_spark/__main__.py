"""CLI entry — the reference's option surface mapped onto the Spark engine.

`python -m siteone_crawler_spark --url https://h0000.example.test/ ...`
mirrors the reference crawler's CLI (/root/reference/src/options/
core_options.rs:2000-2200 option registry, observed names/semantics): crawl
scope and politeness flags become a CrawlConfig; exporter flags fan out to
the sink modules. The "network" is a docs/meta parquet pair (the offline
stand-in this sandbox uses everywhere) or a deterministic synthetic site
(--synthetic-docs) — a deployment swaps the docs join for a real fetcher
with the same schema.

On a cluster this script is the spark-submit target:
  spark-submit --py-files siteone_crawler_spark.zip -m siteone_crawler_spark ...
(session.get_spark ships the package via addPyFile in local mode.)
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import tempfile
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="siteone_crawler_spark",
        description="PySpark-native crawler frontier/scheduler + analyzers",
    )
    p.add_argument("--url", default="", help="seed URL(s), comma-separated "
                   "(optional with --synthetic-docs: defaults to the site root)")
    p.add_argument("--allowed-domains", default="", help="comma list, *.wildcards ok")
    p.add_argument("--max-depth", type=int, default=0)
    p.add_argument("--max-visited-urls", type=int, default=10000)
    p.add_argument("--max-queue-length", type=int, default=9000)
    p.add_argument("--max-url-length", type=int, default=2083)
    p.add_argument("--max-non200-per-basename", type=int, default=5)
    p.add_argument("--ignore-robots-txt", action="store_true")
    p.add_argument("--include-regex", action="append", default=[])
    p.add_argument("--ignore-regex", action="append", default=[])
    p.add_argument("--remove-query-params", action="store_true")
    p.add_argument("--crawl-only-html-files", action="store_true")
    p.add_argument("--disable-images", action="store_true")
    p.add_argument("--disable-javascript", action="store_true")
    p.add_argument("--disable-styles", action="store_true")
    p.add_argument("--disable-fonts", action="store_true")
    p.add_argument("--disable-files", action="store_true")
    p.add_argument("--single-page", action="store_true")
    p.add_argument("--single-foreign-page", action="store_true")
    # politeness (core_options.rs:362-363, 328): workers/rate cap/timeout.
    # In the wave model the global rate limiter becomes a per-wave admission
    # cap of max_reqs_per_sec * wave_seconds rows in BFS (depth, seq) order;
    # --wave-seconds (>0) is the Spark-wave time base that turns it on.
    p.add_argument("--workers", type=int, default=3)
    p.add_argument("--max-reqs-per-sec", type=float, default=10.0)
    p.add_argument("--timeout", type=float, default=5.0,
                   help="request timeout in seconds; recorded fetches slower "
                        "than this become transport-error -2")
    p.add_argument("--wave-seconds", type=float, default=0.0,
                   help=">0: politeness on — each wave admits at most "
                        "max-reqs-per-sec * wave-seconds URLs")
    p.add_argument("--resolve", action="append", default=[],
                   help="domain:port:ip forced resolution (curl syntax)")
    p.add_argument("--extra-columns", action="append", default=[],
                   help="Name=xpath://h1/text() | Name=regexp:pat#1")
    # data plane
    p.add_argument("--docs-parquet", help="docs table (doc_id, spans|body)")
    p.add_argument("--meta-parquet", help="per-URL fetch metadata table")
    p.add_argument("--robots-json", help="JSON file {host: robots_txt_body}")
    p.add_argument("--synthetic-docs", type=int, default=0,
                   help="crawl a deterministic generated site of N docs")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--max-waves", type=int, default=0)
    # sinks
    p.add_argument("--output-json-file")
    p.add_argument("--output-html-file")
    p.add_argument("--output-text-file")
    p.add_argument("--sitemap-xml-file")
    p.add_argument("--offline-export-dir")
    p.add_argument("--markdown-export-dir")
    p.add_argument("--markdown-export-single-file")
    p.add_argument("--mail-to", action="append", default=[])
    p.add_argument("--mail-eml-file", help="file twin of the SMTP transport")
    p.add_argument("--upload-payload-file", help="file twin of the report POST")
    return p


def config_from_args(a) -> "CrawlConfig":
    from .config import CrawlConfig

    return CrawlConfig(
        max_depth=a.max_depth,
        max_visited_urls=a.max_visited_urls,
        max_queue_length=a.max_queue_length,
        max_url_length=a.max_url_length,
        max_non200_per_basename=a.max_non200_per_basename,
        ignore_robots_txt=a.ignore_robots_txt,
        allowed_domains=tuple(d for d in a.allowed_domains.split(",") if d),
        include_regex=tuple(a.include_regex),
        ignore_regex=tuple(a.ignore_regex),
        remove_query_params=a.remove_query_params,
        crawl_assets=not a.crawl_only_html_files,
        images_enabled=not a.disable_images,
        scripts_enabled=not a.disable_javascript,
        styles_enabled=not a.disable_styles,
        fonts_enabled=not a.disable_fonts,
        files_enabled=not a.disable_files,
        single_page=a.single_page,
        single_foreign_page=a.single_foreign_page,
        resolve=tuple(a.resolve),
        max_waves=a.max_waves,
        workers=a.workers,
        max_reqs_per_sec=a.max_reqs_per_sec,
        request_timeout_s=a.timeout,
        wave_seconds=a.wave_seconds,
        # ceil, not floor: 0.5 req/s over a 1s wave must cap at 1, not
        # silently disable the budget (int() floored the product to 0
        # exactly when the user asked for the strictest limit)
        global_wave_budget=(
            max(1, math.ceil(a.max_reqs_per_sec * a.wave_seconds))
            if a.wave_seconds > 0 and a.max_reqs_per_sec > 0
            else 0
        ),
    )


def _docs_to_html(docs, meta):
    """(doc_id, spans|body) + meta -> (doc_id, content_type, body). Docs
    that already carry a `body` column (--docs-parquet advertises both
    shapes) pass through with just the content-type join; span-shaped docs
    render through the generator's span renderer (executor-side
    mapInPandas). A deployment feeds stored response bodies instead."""
    import pandas as pd
    from pyspark.sql import functions as F

    from .generator import render_doc_body

    ct_side = meta.select(
        F.col("doc_id").alias("__m_id"),
        F.col("content_type_header").alias("content_type"),
    )
    if "body" in docs.columns:
        return docs.join(ct_side, F.col("doc_id") == F.col("__m_id"), "left").select(
            "doc_id", "content_type", F.col("body").cast("string").alias("body")
        )

    joined = docs.join(
        ct_side,
        F.col("doc_id") == F.col("__m_id"),
        "left",
    ).select("doc_id", "spans", "content_type")

    def render(pdfs):
        for pdf in pdfs:
            bodies = [
                render_doc_body(
                    d,
                    [dict(s) for s in (sp if sp is not None else [])],
                    ct,
                )
                for d, sp, ct in zip(pdf["doc_id"], pdf["spans"], pdf["content_type"])
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content_type": pdf["content_type"],
                 "body": bodies}
            )

    return joined.mapInPandas(
        render, "doc_id string, content_type string, body string"
    )


def main(argv: list[str] | None = None) -> int:
    a = build_parser().parse_args(argv)
    cfg = config_from_args(a)

    from .engine import CrawlEngine
    from .session import get_spark

    spark = get_spark("siteone_crawler_spark_cli", cores=a.cores)
    t0 = time.time()

    if a.synthetic_docs:
        from .generator import generate_site_df

        docs, meta, robots, seed_fn = generate_site_df(spark, n_docs=a.synthetic_docs)
        seeds = [(a.url, 5)] if a.url else seed_fn(1)
    else:
        if not (a.docs_parquet and a.meta_parquet and a.url):
            print("need --url plus --docs-parquet and --meta-parquet "
                  "(or --synthetic-docs)", file=sys.stderr)
            return 2
        docs = spark.read.parquet(a.docs_parquet)
        meta = spark.read.parquet(a.meta_parquet)
        robots = {}
        if a.robots_json:
            with open(a.robots_json, encoding="utf-8") as f:
                robots = json.load(f)
        seeds = [(u, 5) for u in a.url.split(",")]

    from pyspark.sql import functions as F

    # --timeout (core_options.rs:328): in the offline fetch model, recorded
    # fetches slower than the timeout fail with transport-error -2 (the
    # Timeout family, visited_url.rs) before the engine sees them
    if cfg.request_timeout_s > 0 and "request_time_ms" in meta.columns:
        meta = meta.withColumn(
            "status_code",
            F.when(
                (F.col("status_code") >= 100)
                & (F.col("request_time_ms") > cfg.request_timeout_s * 1000.0),
                F.lit(-2),
            ).otherwise(F.col("status_code")),
        )

    ckpt = a.checkpoint_dir or tempfile.mkdtemp(prefix="crawl_ckpt_")
    eng = CrawlEngine(spark, cfg, ckpt)
    tables = eng.run(docs, meta, robots, seeds)
    visited, skipped = tables["visited"], tables["skipped"]

    if a.extra_columns and "url" in visited.columns:
        # extra columns evaluate against the fetched HTML body, not the URL
        # (crawler.rs:930 extract_value(body)) — join visited to the rendered
        # doc bodies; rows without a body (assets, errors) extract to NULL
        from .functions.extra_columns import with_extra_columns

        bodies = _docs_to_html(docs, meta).select(
            F.col("doc_id").alias("url"), "body"
        )
        visited = with_extra_columns(
            visited.join(bodies, "url", "left"), a.extra_columns, text_col="body"
        ).drop("body")

    n = visited.count()
    print(f"crawled {n} URLs in {time.time() - t0:.1f}s "
          f"(checkpoint: {ckpt})")

    report_html = None
    if a.sitemap_xml_file:
        from .sources.exporters import write_sitemap_xml

        write_sitemap_xml(visited, a.sitemap_xml_file)
    if a.output_json_file:
        from .sources.exporters import write_json

        write_json(
            visited, skipped, a.output_json_file, config=cfg,
            metrics=tables["metrics"],
        )
    if a.output_html_file or a.mail_eml_file or a.upload_payload_file:
        from .sources.exporters import html_report

        report_html = html_report(
            visited, skipped, config=cfg, metrics=tables["metrics"]
        )
        if a.output_html_file:
            with open(a.output_html_file, "w", encoding="utf-8") as f:
                f.write(report_html)
    if a.output_text_file:
        from .sources.exporters import text_output

        with open(a.output_text_file, "w", encoding="utf-8") as f:
            f.write(text_output(visited, skipped))

    html_docs = None
    if a.offline_export_dir or a.markdown_export_dir:
        # the reference stores files only for URLs actually crawled with
        # content (file_storage writes on fetch) — pages beyond max-depth/
        # max-visited or regex-filtered must not be exported: semi-join the
        # docs table on the visited 200s before rendering
        crawled = visited.filter(F.col("status_code") == 200).select(
            F.col("url").alias("doc_id")
        )
        html_docs = _docs_to_html(docs.join(crawled, "doc_id", "left_semi"), meta)
    if a.offline_export_dir and html_docs is not None:
        from .sources.offline import export_offline_site

        n_off = export_offline_site(html_docs, a.offline_export_dir, seeds[0][0])
        print(f"offline export: {n_off} files -> {a.offline_export_dir}")
    if a.markdown_export_dir and html_docs is not None:
        from .sources.markdown import combine_markdown_site, export_markdown_site

        n_md = export_markdown_site(html_docs, a.markdown_export_dir, seeds[0][0])
        print(f"markdown export: {n_md} files -> {a.markdown_export_dir}")
        if a.markdown_export_single_file:
            md = combine_markdown_site(a.markdown_export_dir, seeds[0][0])
            with open(a.markdown_export_single_file, "w", encoding="utf-8") as f:
                f.write(md)

    if a.mail_eml_file and a.mail_to and report_html is not None:
        from .functions.urls import canonicalize
        from .sources.exporters import build_email, write_eml

        email = build_email(
            report_html, canonicalize(seeds[0][0])["host"], tuple(a.mail_to)
        )
        write_eml(email, a.mail_eml_file)
    if a.upload_payload_file and report_html is not None:
        from .sources.exporters import write_upload_payload

        write_upload_payload(report_html, a.upload_payload_file)
    return 0


if __name__ == "__main__":
    sys.exit(main())
