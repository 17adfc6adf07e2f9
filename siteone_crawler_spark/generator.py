"""Deterministic synthetic site-graph generator.

Produces the authoritative input shape from BASELINE.json input_hint:

    docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>)

plus the fetch-layer sidecar `docs_meta`, per-host `robots` bodies and the
`seeds` list (FIXTURES.md §1-3). Reproducible from
(seed, n_hosts, docs_per_host, fanout) alone — no external data.

The generated site deliberately exercises the reference's enqueue pipeline:
relative/absolute/protocol-relative hrefs, uppercase hosts, fragments,
&amp;-encoded queries, invalid schemes (mailto:/javascript:/data:), template
garbage, duplicate links (first-wins dedup), shared assets (cross-page dedup
pressure), external hosts (skipped NotAllowedHost), robots-disallowed paths
(skipped RobotsTxt), redirects, 404 families for the basename circuit
breaker, and dangling links (fetch failure -1).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from pyspark.sql import types as T

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("content_type_header", T.StringType()),
        T.StructField("redirect_location", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("request_time_ms", T.DoubleType()),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
    ]
)

_CACHE_CONTROL_VARIANTS = (
    "public, max-age=3600",
    "private, no-cache",
    "max-age=86400, immutable",
    "no-store",
    "public, s-maxage=7200, stale-while-revalidate=60",
)


def _headers_for(url: str, ct: str, size: int, j: int) -> dict[str, str]:
    """Deterministic synthetic response headers (lowercased keys, like the
    reference's normalized header map) exercising every cache bitflag path."""
    h = {"content-type": ct, "server": "synthetic/1.0", "content-length": str(size)}
    if j % 3 != 0:
        h["cache-control"] = _CACHE_CONTROL_VARIANTS[j % len(_CACHE_CONTROL_VARIANTS)]
    if j % 4 == 1:
        h["expires"] = "Thu, 01 Jan 2026 00:00:00 GMT"
    if j % 2 == 0:
        h["etag"] = f'"{j}-{len(url)}"'
    if j % 5 < 2:
        h["last-modified"] = "Wed, 01 Jan 2025 00:00:00 GMT"
    if j % 6 == 0:
        h["age"] = str((j * 13) % 1000)
    if j % 7 == 2:
        h["content-encoding"] = "br"
    return h


@dataclass
class Site:
    docs: list[dict] = field(default_factory=list)  # {doc_id, spans: [ {kind,text,media_ref,offset} ]}
    meta: list[dict] = field(default_factory=list)
    robots: dict[str, str] = field(default_factory=dict)  # host -> body
    seeds: list[tuple[str, int]] = field(default_factory=list)  # (url, source_attr)
    params: dict = field(default_factory=dict)

    def docs_map(self) -> dict[str, list[dict]]:
        return {d["doc_id"]: d["spans"] for d in self.docs}

    def meta_map(self) -> dict[str, dict]:
        return {m["doc_id"]: m for m in self.meta}


def _host(i: int) -> str:
    return f"h{i:04d}.example.test"


def _latency(url: str, rng_seed: int) -> float:
    # deterministic pseudo-latency derived from the url text
    h = 0
    for ch in url:
        h = (h * 131 + ord(ch)) & 0x7FFFFFFF
    return ((h ^ rng_seed) % 50000) / 10.0  # 0 .. 5000.0 ms


def generate_site(
    seed: int = 42,
    n_hosts: int = 2,
    docs_per_host: int = 30,
    fanout: int = 3,
    with_breaker_family: bool = True,
    zipf_s: float = 0.0,
) -> Site:
    rng = random.Random(seed)
    site = Site(
        params=dict(
            seed=seed,
            n_hosts=n_hosts,
            docs_per_host=docs_per_host,
            fanout=fanout,
            zipf_s=zipf_s,
        )
    )

    hosts = [_host(i) for i in range(n_hosts)]
    # Zipfian page allocation for skew benches; uniform otherwise
    if zipf_s > 0:
        weights = [1.0 / ((i + 1) ** zipf_s) for i in range(n_hosts)]
        total = sum(weights)
        counts = [max(2, int(round(docs_per_host * n_hosts * w / total))) for w in weights]
    else:
        counts = [docs_per_host] * n_hosts

    page_urls: dict[str, list[str]] = {}
    for hi, host in enumerate(hosts):
        urls = [f"https://{host}/"]
        for j in range(1, counts[hi]):
            style = j % 5
            if style == 0:
                urls.append(f"https://{host}/a/b/p{j}.html")
            elif style == 1:
                urls.append(f"https://{host}/p/{j}")
            elif style == 2:
                urls.append(f"https://{host}/q{j}?x={j}&y=2")
            elif style == 3:
                urls.append(f"https://{host}/docs/d{j}.php")
            else:
                urls.append(f"https://{host}/p{j}")
        page_urls[host] = urls

    shared_assets = {
        "css": "/static/site.css",
        "js": "/static/app.js",
        "img": "/img/logo.png",
    }

    def raw_href(target: str, host: str, page_url: str, k: int) -> str:
        """Render an absolute target as one of several raw literal forms."""
        style = k % 6
        if style == 0:
            return target
        if style == 1:  # abs-path
            return target.split(host, 1)[1] if host in target else target
        if style == 2:  # protocol-relative, uppercase host
            return "//" + host.upper() + (target.split(host, 1)[1] if host in target else "/")
        if style == 3:  # with fragment
            return target + "#sec" + str(k)
        if style == 4:  # &amp;-encoded query
            if "?" in target:
                return target.replace("&", "&amp;")
            return target + "?ref=nav&amp;k=" + str(k)
        # relative to page dir
        tpath = target.split(host, 1)[1] if host in target else "/"
        return "../" + tpath.lstrip("/") if k % 2 else "./" + tpath.lstrip("/")

    breaker_host = hosts[0]
    breaker_urls = [
        f"https://{breaker_host}/fam{k}/gone.php" for k in range(8)
    ]  # same basename 'gone.php' -> circuit breaker after 5 non-200s

    for hi, host in enumerate(hosts):
        urls = page_urls[host]
        n = len(urls)
        for j, url in enumerate(urls):
            spans: list[dict] = []
            off = 0

            def add(kind: str, text: str, media_ref: str = "") -> None:
                nonlocal off
                spans.append({"kind": kind, "text": text, "media_ref": media_ref, "offset": off})
                off += 1

            # <base href> override on some pages (crawler.rs:963-987): the
            # page's RELATIVE links resolve against /based/ instead
            if j % 11 == 5:
                add("base_href", f"https://{host}/based/")
            add("text", f"Welcome to page {j} of {host}. " * (1 + j % 3))
            # intra-host nav links
            for k in range(fanout):
                tj = (j * fanout + k + 1) % n
                target = urls[tj]
                add("a_href", raw_href(target, host, url, j * fanout + k), target)
            # a duplicate of the first nav link (first-wins dedup)
            if fanout:
                tj = (j * fanout + 1) % n
                add("a_href", urls[tj], urls[tj])
            add("text", f"Section body {j}. lorem ipsum dolor sit amet " * (1 + j % 2))
            # shared assets on every page
            add("link_href", shared_assets["css"], f"https://{host}{shared_assets['css']}")
            add("script_src", shared_assets["js"], f"https://{host}{shared_assets['js']}")
            add("img_src", shared_assets["img"], f"https://{host}{shared_assets['img']}")
            # per-page image
            if j % 4 == 0:
                add("img_src", f"/img/pic{j}.webp", f"https://{host}/img/pic{j}.webp")
            # responsive srcset variant (html_processor.rs:286-303)
            if j % 6 == 3:
                add("img_srcset", f"/img/rs{j}-480.png", f"https://{host}/img/rs{j}-480.png")
                add("img_srcset", f"/img/rs{j}-960.png", f"https://{host}/img/rs{j}-960.png")
            # CSS url() image ref inside an inline <style> block
            if j % 8 == 6:
                add("css_url", f"/img/bg{j % 3}.avif", f"https://{host}/img/bg{j % 3}.avif")
            # invalid links (always dropped, never skipped-recorded)
            if j % 3 == 0:
                add("a_href", "mailto:info@example.test")
                add("a_href", "javascript:void(0)")
                add("a_href", "#top")
                add("a_href", "{{ template_var }}")
            # robots-disallowed path
            if j % 5 == 1:
                add("a_href", f"/private/secret{j}", f"https://{host}/private/secret{j}")
            if j % 10 == 1:
                add("a_href", "/private/open/ok", f"https://{host}/private/open/ok")
            # external (not-allowed-host) links
            if j % 4 == 1:
                add(
                    "a_href",
                    f"https://external-{j % 3}.other.test/x{j}",
                    f"https://external-{j % 3}.other.test/x{j}",
                )
            # cross-host link (allowed when allowlist covers *.example.test)
            if n_hosts > 1 and j % 6 == 2:
                other = hosts[(hi + 1) % n_hosts]
                add("a_href", page_urls[other][j % len(page_urls[other])],
                    page_urls[other][j % len(page_urls[other])])
            # redirect hop
            if j % 7 == 3:
                add("a_href", f"/r/{j}", f"https://{host}/r/{j}")
            # dangling link (no doc -> fetch failure -1)
            if j % 9 == 4:
                add("a_href", f"/void/nothing{j}", f"https://{host}/void/nothing{j}")
            # transport-error family (R4: -2 timeout, -3 reset, -4 send —
            # visited_url.rs:12-17); docs exist with negative meta status
            if j % 8 == 5:
                eu = f"https://{host}/err/e{j}"
                add("a_href", f"/err/e{j}", eu)
            # breaker family links spread across pages of host 0
            if with_breaker_family and host == breaker_host and j % 3 == 2:
                for b in range(2):
                    bu = breaker_urls[(j + b) % len(breaker_urls)]
                    add("a_href", bu, bu)
            add("text", "Footer. ")

            site.docs.append({"doc_id": url, "spans": spans})
            site.meta.append(
                {
                    "doc_id": url,
                    "status_code": 200,
                    "content_type_header": "text/html; charset=utf-8",
                    "redirect_location": None,
                    "size": 1000 + 37 * j + 11 * hi,
                    "request_time_ms": _latency(url, seed),
                }
            )

        # asset docs (fetchable; css/js assets carry their OWN outlink spans —
        # the CssProcessor/JsProcessor run on fetched css/js bodies too)
        asset_urls = [f"https://{host}{p}" for p in shared_assets.values()]
        asset_urls += [f"https://{host}/img/pic{j}.webp" for j in range(0, n, 4)]
        for au in asset_urls:
            ct = (
                "text/css"
                if au.endswith(".css")
                else "application/javascript"
                if au.endswith(".js")
                else "image/webp"
                if au.endswith(".webp")
                else "image/png"
            )
            aspans: list[dict] = []
            if au.endswith(".css"):
                # url() refs found by the CssProcessor (css_processor.rs:61-89)
                aspans = [
                    {"kind": "css_url", "text": "/fonts/brand.woff2",
                     "media_ref": f"https://{host}/fonts/brand.woff2", "offset": 0},
                    {"kind": "css_url", "text": "/img/sprite.png",
                     "media_ref": f"https://{host}/img/sprite.png", "offset": 1},
                ]
            elif au.endswith(".js"):
                # import-from refs found by the JsProcessor
                # (javascript_processor.rs:61-90)
                aspans = [
                    {"kind": "js_url", "text": "/static/chunk0.js",
                     "media_ref": f"https://{host}/static/chunk0.js", "offset": 0},
                    {"kind": "js_url", "text": "./chunk1.js",
                     "media_ref": f"https://{host}/static/chunk1.js", "offset": 1},
                ]
            site.docs.append({"doc_id": au, "spans": aspans})
            site.meta.append(
                {
                    "doc_id": au,
                    "status_code": 200,
                    "content_type_header": ct,
                    "redirect_location": None,
                    "size": 200 + (len(au) * 7) % 900,
                    "request_time_ms": _latency(au, seed),
                }
            )

        # sitemap.xml doc (S5): referenced by robots' Sitemap line (which the
        # reference parses but never enqueues — crawl it only via explicit
        # seeding); lists a sample of pages as sitemap_loc spans
        sm_url = f"https://{host}/sitemap.xml"
        site.docs.append(
            {
                "doc_id": sm_url,
                "spans": [
                    {"kind": "sitemap_loc", "text": u, "media_ref": u, "offset": i}
                    for i, u in enumerate(urls[:: max(1, n // 5)])
                ],
            }
        )
        site.meta.append(
            {
                "doc_id": sm_url,
                "status_code": 200,
                "content_type_header": "application/xml",
                "redirect_location": None,
                "size": 512,
                "request_time_ms": _latency(sm_url, seed),
            }
        )

        # transport-error docs: negative status codes, never parsed
        for j in range(n):
            if j % 8 == 5:
                eu = f"https://{host}/err/e{j}"
                site.docs.append({"doc_id": eu, "spans": []})
                site.meta.append(
                    {
                        "doc_id": eu,
                        "status_code": (-2, -3, -4)[(j // 8) % 3],
                        "content_type_header": None,
                        "redirect_location": None,
                        "size": 0,
                        "request_time_ms": 5000.0,
                    }
                )

        # robots-allowed /private/open page
        open_url = f"https://{host}/private/open/ok"
        site.docs.append({"doc_id": open_url, "spans": []})
        site.meta.append(
            {
                "doc_id": open_url,
                "status_code": 200,
                "content_type_header": "text/html",
                "redirect_location": None,
                "size": 321,
                "request_time_ms": _latency(open_url, seed),
            }
        )

        # redirect docs /r/{j} -> /p target
        for j in range(n):
            if j % 7 == 3:
                ru = f"https://{host}/r/{j}"
                target = page_urls[host][(j + 1) % n]
                site.docs.append(
                    {
                        "doc_id": ru,
                        "spans": [
                            {"kind": "redirect_location", "text": target, "media_ref": target, "offset": 0}
                        ],
                    }
                )
                site.meta.append(
                    {
                        "doc_id": ru,
                        "status_code": 301,
                        "content_type_header": "text/html",
                        "redirect_location": target,
                        "size": 0,
                        "request_time_ms": _latency(ru, seed),
                    }
                )

        site.robots[host] = (
            "# robots for " + host + "\n"
            "User-agent: *\n"
            "Disallow: /private/\n"
            "Allow: /private/open\n"
            "Disallow: /*.tmp$\n"
            "\n"
            "User-agent: EvilBot\n"
            "Disallow: /\n"
            "\n"
            f"Sitemap: https://{host}/sitemap.xml\n"
        )

    # breaker family: 404 docs (meta only — body irrelevant)
    if with_breaker_family:
        for bu in breaker_urls:
            site.docs.append({"doc_id": bu, "spans": []})
            site.meta.append(
                {
                    "doc_id": bu,
                    "status_code": 404,
                    "content_type_header": "text/html",
                    "redirect_location": None,
                    "size": 120,
                    "request_time_ms": _latency(bu, seed),
                }
            )

    # response headers for every doc, derived from the url alone (F9 input)
    for m in site.meta:
        j = sum(m["doc_id"].encode()) % 60
        m["headers"] = _headers_for(
            m["doc_id"], m["content_type_header"], m["size"], j
        )

    site.seeds = [(f"https://{hosts[0]}/", 5)]  # 5 = InitUrl
    rng.random()  # keep rng in the signature-stable path
    return site


def generate_site_df(
    spark,
    n_docs: int = 200_000,
    n_hosts: int = 1024,
    fanout: int = 8,
    zipf: bool = True,
    hot_targets: int = 1000,
):
    """Spark-NATIVE bench-scale site generator: builds the docs + meta tables
    entirely with column expressions (no Python row loops), so 10^7-doc
    corpora materialize in seconds. Host assignment is log-uniform
    (approximately Zipf s=1) when zipf=True — hot-host skew is the point.
    Every page also links to a hot page (id % hot_targets), creating the
    heavy candidate-overlap / dedup pressure the 10^10-frontier rule targets.

    Returns (docs, meta, robots_bodies, seed_urls_fn) where seed_urls_fn(k)
    yields the first k page URLs.
    """
    from pyspark.sql import functions as F

    ids = spark.range(n_docs).withColumnRenamed("id", "did")
    u = (F.pmod(F.xxhash64(F.col("did")), F.lit(100_000)) / 100_000.0)
    if zipf:
        host_idx = (F.pow(F.lit(float(n_hosts)), u) - 1).cast("int")
    else:
        host_idx = F.pmod(F.xxhash64(F.col("did")), F.lit(n_hosts)).cast("int")
    host = F.concat(F.lit("h"), F.lpad(host_idx.cast("string"), 4, "0"), F.lit(".bench.test"))
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("did").cast("string"))

    def target_url(k: int):
        tid = F.pmod(F.xxhash64(F.col("did"), F.lit(k)), F.lit(n_docs))
        tu = (F.pmod(F.xxhash64(tid), F.lit(100_000)) / 100_000.0)
        th = (F.pow(F.lit(float(n_hosts)), tu) - 1).cast("int") if zipf else F.pmod(
            F.xxhash64(tid), F.lit(n_hosts)
        ).cast("int")
        thost = F.concat(F.lit("h"), F.lpad(th.cast("string"), 4, "0"), F.lit(".bench.test"))
        return F.concat(F.lit("https://"), thost, F.lit("/p/"), tid.cast("string"))

    hot = F.pmod(F.col("did"), F.lit(hot_targets))
    hot_u = (F.pmod(F.xxhash64(hot), F.lit(100_000)) / 100_000.0)
    hot_h = (F.pow(F.lit(float(n_hosts)), hot_u) - 1).cast("int") if zipf else F.pmod(
        F.xxhash64(hot), F.lit(n_hosts)
    ).cast("int")
    hot_url = F.concat(
        F.lit("https://h"), F.lpad(hot_h.cast("string"), 4, "0"),
        F.lit(".bench.test/p/"), hot.cast("string"),
    )

    span_structs = [
        F.struct(
            F.lit("text").alias("kind"),
            F.concat(F.lit("page "), F.col("did").cast("string")).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    ]
    for k in range(fanout):
        t = target_url(k)
        span_structs.append(
            F.struct(
                F.lit("a_href").alias("kind"), t.alias("text"),
                t.alias("media_ref"), F.lit(k + 1).alias("offset"),
            )
        )
    span_structs.append(
        F.struct(
            F.lit("a_href").alias("kind"), hot_url.alias("text"),
            hot_url.alias("media_ref"), F.lit(fanout + 1).alias("offset"),
        )
    )
    # deterministic garbage/external sprinkle (dropped/skipped downstream)
    bad = F.when(F.pmod(F.col("did"), F.lit(13)) == 0, F.lit("mailto:x@bench.test")).otherwise(
        F.concat(F.lit("https://ext"), F.pmod(F.col("did"), F.lit(5)).cast("string"),
                 F.lit(".other.test/x"), F.col("did").cast("string"))
    )
    span_structs.append(
        F.struct(
            F.lit("a_href").alias("kind"), bad.alias("text"),
            F.lit("").alias("media_ref"), F.lit(fanout + 2).alias("offset"),
        )
    )

    docs = ids.select(url.alias("doc_id"), F.array(*span_structs).alias("spans"))
    meta = docs.select(
        "doc_id",
        F.lit(200).alias("status_code"),
        F.lit("text/html; charset=utf-8").alias("content_type_header"),
        F.lit(None).cast("string").alias("redirect_location"),
        (F.length("doc_id") * 17).cast("long").alias("size"),
        (F.pmod(F.xxhash64("doc_id"), F.lit(50000)) / 10.0).alias("request_time_ms"),
    )
    robots = {
        f"h{i:04d}.bench.test": "User-agent: *\nDisallow: /private/\n" for i in range(n_hosts)
    }

    def seed_urls(k: int) -> list[tuple[str, int]]:
        rows = (
            ids.limit(k)
            .select(url.alias("u"))
            .collect()
        )
        return [(r["u"], 91) for r in rows]

    return docs, meta, robots, seed_urls


def render_doc_body(doc_id: str, spans: list[dict], content_type: str) -> str:
    """Render a spans doc to raw content (HTML/CSS/JS/XML) such that
    operators.extract recovers the link spans — the generator-side inverse
    of the ContentProcessor family. Span kinds map to the markup forms the
    reference's regexes target (html_processor.rs:28-143)."""
    ct = (content_type or "").lower()
    if "css" in ct:
        return "\n".join(
            f'.c{i}{{background:url("{s["text"]}")}}'
            for i, s in enumerate(spans)
            if s["kind"] == "css_url"
        )
    if "javascript" in ct or ct.endswith("/js"):
        return "\n".join(
            f'import m{i} from "{s["text"]}";'
            for i, s in enumerate(spans)
            if s["kind"] == "js_url"
        )
    if "xml" in ct:
        from xml.sax.saxutils import escape

        locs = "".join(
            f"<url><loc>{escape(s['text'])}</loc></url>"
            for s in spans
            if s["kind"] == "sitemap_loc"
        )
        return f'<?xml version="1.0"?><urlset>{locs}</urlset>'

    head: list[str] = [f"<title>Page {doc_id}</title>"]
    body: list[str] = []
    n_img = 0
    for s in sorted(spans, key=lambda x: x["offset"]):
        k, t = s["kind"], s["text"]
        if k == "base_href":
            head.append(f'<base href="{t}">')
        elif k == "text":
            body.append(f"<p>{t}</p>")
        elif k == "a_href":
            body.append(f'<a href="{t}">x</a>')
        elif k == "img_src":
            body.append(f'<img src="{t}" alt="">')
        elif k == "img_srcset":
            n_img += 1
            body.append(f'<img srcset="{t} {n_img}x" alt="">')
        elif k == "input_src":
            body.append(f'<input type="image" src="{t}">')
        elif k == "source_src":
            body.append(f'<source src="{t}">')
        elif k == "audio_src":
            body.append(f'<audio src="{t}"></audio>')
        elif k == "video_src":
            body.append(f'<video src="{t}"></video>')
        elif k == "script_src":
            body.append(f'<script src="{t}"></script>')
        elif k == "inline_script_src":
            body.append(f'<script>el.src = "{t}";</script>')
        elif k == "css_url":
            body.append(f"<style>.bg{{background:url({t})}}</style>")
        elif k == "link_href":
            low = t.lower().split("?", 1)[0]
            if low.endswith((".css",)):
                body.append(f'<link rel="stylesheet" href="{t}">')
            elif low.endswith((".eot", ".ttf", ".woff", ".woff2", ".otf")):
                body.append(f'<link rel="preload" href="{t}" as="font">')
            elif low.endswith((".js", ".json")):
                body.append(f'<link rel="modulepreload" href="{t}">')
            else:
                body.append(f'<link rel="icon" href="{t}">')
        # redirect_location is carried by meta, not markup
    return (
        "<html><head>" + "".join(head) + "</head><body>"
        + "\n".join(body)
        + "</body></html>"
    )


def site_to_html(site: Site) -> list[tuple[str, str, str]]:
    """(doc_id, content_type, body) triples for the extraction pipeline."""
    metas = site.meta_map()
    out = []
    for d in site.docs:
        ct = metas[d["doc_id"]]["content_type_header"] or "text/html"
        out.append((d["doc_id"], ct, render_doc_body(d["doc_id"], d["spans"], ct)))
    return out


def site_to_dfs(spark, site: Site):
    """Materialize the site as Spark DataFrames (docs, docs_meta, robots, seeds)."""
    docs = spark.createDataFrame(
        [(d["doc_id"], [tuple(s[k] for k in ("kind", "text", "media_ref", "offset")) for s in d["spans"]]) for d in site.docs],
        schema=SPAN_SCHEMA,
    )
    meta = spark.createDataFrame(
        [
            (
                m["doc_id"],
                m["status_code"],
                m["content_type_header"],
                m["redirect_location"],
                m["size"],
                m["request_time_ms"],
                m.get("headers"),
            )
            for m in site.meta
        ],
        schema=META_SCHEMA,
    )
    robots = spark.createDataFrame(
        [(h, 443, b) for h, b in site.robots.items()], "host string, port int, body string"
    )
    seeds = spark.createDataFrame(site.seeds, "url string, source_attr int")
    return docs, meta, robots, seeds
