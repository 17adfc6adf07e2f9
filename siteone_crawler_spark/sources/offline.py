"""Offline-website export (S9): URL -> relative-file-path conversion.

Reimplements (from public behavior) the reference's OfflineUrlConverter
(/root/reference/src/export/utils/offline_url_converter.rs:104-520, golden
vectors at :700-1020) and its ParsedUrl helpers (estimate_extension /
is_static_file, parsed_url.rs:190-260):

  - '/'            -> index.html            ('/page/' -> page/index.html)
  - '/page'        -> page.html             (preserve mode: page/index.html)
  - query strings  -> md5-hash infix:       page.<hash10>.html
  - backlinks from another domain          -> ../<path>.html
  - external allowed domains               -> _<host>/<path>.html
  - fragment-only / non-requestable hrefs  -> forced through unchanged
  - filesystem sanitization (dangerous chars, control chars, >200 paths)

The Spark surface is `offline_paths`, a pandas-UDF projection of the
visited table onto its on-disk layout — per-row string work, Arrow-batched.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import unquote

import pandas as pd

from ..functions.urls import is_href_valid

RE_HTML_EXTENSIONS = re.compile(
    r"(?i)\.(htm|html|shtml|php|phtml|ashx|xhtml|asp|aspx|jsp|jspx|do|cfm|cgi|pl|rb|erb|gsp)$"
)
RE_FILE_EXTENSION = re.compile(r"(?i)\.([a-z0-9]{1,10})$")
RE_IMAGE_PATH = re.compile(r"(?i)\.(png|gif|jpg|jpeg|ico|webp|avif|tif|bmp|svg)")
RE_IMAGE_QUERY = re.compile(r"(?i)(png|gif|jpg|jpeg|ico|webp|avif|tif|bmp|svg|crop|size|landscape)")
RE_ESTIMATE_EXT = re.compile(r"(?i)\.([0-9a-z]{1,5})")
RE_STRIP_EXT = re.compile(r"(?i)\.[a-z0-9]{1,10}$")
RE_DOMAIN_IN_PATH = re.compile(r"(?i)^(//|https?://)([^/]+)(:[0-9]+)?")
RE_PATH_EXTENSION = re.compile(r"(?i)^(.+)\.([a-z0-9]{1,10})")
RE_CONTROL_CHARS = re.compile(r"[\x00-\x1F\x7F]")
RE_WHITESPACE = re.compile(r"\s+")
RE_MULTI_UNDERSCORE = re.compile(r"_{2,}")
RE_FRAGMENT_SUFFIX = re.compile(r"#.+$")

# TargetDomainRelation (target_domain_relation.rs:9-54)
INITIAL_SAME_BASE_SAME = "iss"
INITIAL_DIFFERENT_BASE_SAME = "ids"
INITIAL_SAME_BASE_DIFFERENT = "isd"
INITIAL_DIFFERENT_BASE_DIFFERENT = "idd"


def _parse(url: str, base: dict | None = None) -> dict:
    """Light ParsedUrl: absolute URLs get host/scheme; relative targets keep
    their literal path (the reference does NOT dot-resolve them — golden
    vector '../page' -> '../page.html'); '//host/...' takes the host."""
    u = {"url": url, "scheme": None, "host": None, "port": None,
         "path": "", "query": None, "fragment": None}
    rest = url
    if rest.startswith("//"):
        rest = ("https:" if base is None or not base.get("scheme") else base["scheme"] + ":") + rest
    m = re.match(r"(?i)^([a-z][a-z0-9+.\-]*)://([^/?#]*)(.*)$", rest)
    if m:
        u["scheme"] = m.group(1).lower()
        hostport = m.group(2)
        if ":" in hostport and hostport.rsplit(":", 1)[1].isdigit():
            u["host"], p = hostport.rsplit(":", 1)
            u["port"] = int(p)
        else:
            u["host"] = hostport
        u["host"] = (u["host"] or "").lower() or None
        rest = m.group(3)
    if "#" in rest:
        rest, frag = rest.split("#", 1)
        u["fragment"] = frag if frag else None
    if "?" in rest:
        rest, q = rest.split("?", 1)
        u["query"] = q if q else None
    u["path"] = rest
    if m and not u["path"]:
        u["path"] = "/"
    return u


def _relation(initial: str | None, base: str | None, target: str | None) -> str:
    """target_domain_relation.rs:34-54."""
    i, b, t = initial or "", base or "", target or ""
    if not t or t == b:
        return INITIAL_SAME_BASE_SAME if b == i else INITIAL_DIFFERENT_BASE_SAME
    return INITIAL_SAME_BASE_DIFFERENT if t == i else INITIAL_DIFFERENT_BASE_DIFFERENT


def _estimate_extension(u: dict) -> str | None:
    """parsed_url.rs:234-252: numeric extension is not an extension; else
    the LAST dotted token in path?query."""
    m = RE_FILE_EXTENSION.search(u["path"].rsplit("/", 1)[-1])
    ext = m.group(1) if m else None
    if ext is not None:
        try:
            float(ext)
            return None
        except ValueError:
            return ext.lower()
    combined = f"{u['path']}?{u['query'] or ''}"
    last = None
    for m in RE_ESTIMATE_EXT.finditer(combined):
        last = m.group(1).lower()
    return last


def _is_image(u: dict) -> bool:
    return bool(RE_IMAGE_PATH.search(u["path"])) or bool(
        u["query"] and RE_IMAGE_QUERY.search(u["query"])
    )


def _is_css(u: dict) -> bool:
    ext = RE_FILE_EXTENSION.search(u["path"])
    return (ext and ext.group(1).lower() == "css") or "fonts.googleapis.com/css" in u["url"].lower()


def _is_static_file(u: dict) -> bool:
    """parsed_url.rs:190-209."""
    m = RE_FILE_EXTENSION.search(u["path"])
    if m:
        ext = m.group(1)
        numeric = True
        try:
            float(ext)
        except ValueError:
            numeric = False
        if not numeric and not RE_HTML_EXTENSIONS.search(u["path"]):
            return True
    return _is_image(u) or _is_css(u)


def _html_entities_decode(s: str) -> str:
    return (
        s.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", '"').replace("&#039;", "'")
    )


def query_hash(query_string: str, replace_query_string: list[str] | None = None) -> str:
    """offline_url_converter.rs:475-516: md5[:10] of the decoded query, or
    user-configured replacements with '/' -> '~'."""
    if replace_query_string:
        from ..config import is_pcre_pattern, normalize_pcre_pattern

        qs = query_string
        for replace in replace_query_string:
            parts = replace.split("->", 1)
            frm = parts[0].strip()
            to = parts[1].strip() if len(parts) > 1 else ""
            if is_pcre_pattern(frm):
                qs = re.sub(normalize_pcre_pattern(frm), to, qs)
            else:
                qs = qs.replace(frm, to)
        return qs.replace("/", "~")
    decoded = _html_entities_decode(unquote(query_string))
    return hashlib.md5(decoded.encode("utf-8")).hexdigest()[:10]


def _full_url(u: dict, with_host: bool, with_fragment: bool) -> str:
    out = ""
    if with_host and u["host"]:
        out = f"{u['scheme'] or 'https'}://{u['host']}"
        if u["port"] and u["port"] not in (80, 443):
            out += f":{u['port']}"
    out += u["path"]
    if u["query"] is not None:
        out += f"?{u['query']}"
    if with_fragment and u["fragment"] is not None:
        out += f"#{u['fragment']}"
    return out


def sanitize_file_path(file_path: str, keep_fragment: bool = True) -> str:
    """offline_url_converter.rs:352-470."""
    file_path = unquote(file_path)
    rest = file_path
    frag = None
    if "#" in rest:
        rest, f = rest.split("#", 1)
        frag = f or None
    qs = None
    if "?" in rest:
        rest, q = rest.split("?", 1)
        qs = q or None
    result = file_path
    m = RE_PATH_EXTENSION.match(rest)
    if m and qs is not None and qs.strip():
        h = query_hash(qs.strip())
        if h.strip():
            result = f"{m.group(1)}.{h}.{m.group(2)}"
        else:
            result = f"{m.group(1)}.{m.group(2)}"
        if keep_fragment and frag is not None:
            result = f"{result}#{frag}"
    for ch in '\\:*?"<>|':
        result = result.replace(ch, "_")
    result = RE_CONTROL_CHARS.sub("_", result)
    result = result.strip(" \t\n\r\0\x0b")
    result = RE_WHITESPACE.sub("_", result)
    result = RE_MULTI_UNDERSCORE.sub("_", result)
    no_frag = RE_FRAGMENT_SUFFIX.sub("", result)
    if len(no_frag) > 200:
        basename = no_frag.rsplit("/", 1)[-1]
        short = hashlib.md5(basename.encode()).hexdigest()[:10]
        ext = RE_FILE_EXTENSION.search(basename)
        short_name = f"{short}.{ext.group(1)}" if ext else short
        prefix = no_frag[: len(no_frag) - len(basename)]
        result = prefix + short_name + (f"#{frag}" if keep_fragment and frag else "")
    return result


def convert_url_to_relative(
    initial_url: str,
    base_url: str,
    target_url: str,
    attribute: str | None = None,
    is_domain_allowed_for_static_files=None,
    is_external_domain_allowed_for_crawling=None,
    preserve_url_structure: bool = False,
    keep_fragment: bool = True,
    replace_query_string: list[str] | None = None,
) -> str:
    """offline_url_converter.rs:104-330 — the core S9 mapping."""
    initial = _parse(initial_url)
    base = _parse(base_url)
    raw_rel = not (
        target_url.startswith("//")
        or target_url.startswith("http")
        or target_url.startswith("#")
        or target_url.startswith("?")
    )
    target = _parse(target_url, base if not raw_rel else None)
    rel = dict(target)  # relative_target_url working copy
    relation = _relation(initial["host"], base["host"], target["host"])

    # ---- forced URLs (offline_url_converter.rs:148-180) --------------------
    if not rel["path"] and rel["query"] is None and rel["host"] is None and rel["fragment"]:
        return f"#{rel['fragment']}"
    if not is_href_valid(_full_url(target, True, True) or target_url):
        return _full_url(target, False, True)
    if relation in (INITIAL_DIFFERENT_BASE_SAME, INITIAL_DIFFERENT_BASE_DIFFERENT) and target["host"]:
        host = target["host"]
        allowed_crawl = bool(
            is_external_domain_allowed_for_crawling
            and is_external_domain_allowed_for_crawling(host)
        )
        allowed_static = bool(
            is_domain_allowed_for_static_files and is_domain_allowed_for_static_files(host)
        )
        static = _is_static_file(target)
        if allowed_crawl or (static and allowed_static) or (
            not static and attribute == "src" and allowed_static
        ):
            pass
        else:
            return _full_url(target, True, True)

    # ---- file-name/extension detection (rs:183-273) ------------------------
    qh = None
    if rel["query"] is not None:
        h = query_hash(rel["query"], replace_query_string)
        if h.strip():
            qh = h
    trimmed = rel["path"].strip("/ ")
    if not trimmed:
        if qh is not None:
            rel["path"], rel["query"] = f"/index.{qh}.html", None
        elif not rel["path"] and rel["fragment"] is not None:
            pass  # only #fragment
        else:
            rel["path"] = "/index.html"
    else:
        is_image_attr = attribute in ("src", "srcset")
        img_ext = "svg" if "icon" in _full_url(rel, True, True).lower() else "jpg"
        other_ext = (
            "css"
            if attribute == "href" and "fonts.googleapis.com/css" in rel["url"].lower()
            else "html"
        )
        ext = _estimate_extension(rel) or (img_ext if is_image_attr else other_ext)
        if rel["path"].endswith("/"):
            if qh is not None:
                rel["path"], rel["query"] = f"{rel['path']}index.{qh}.{ext}", None
            else:
                rel["path"] = f"{rel['path']}index.{ext}"
        elif preserve_url_structure and _estimate_extension(target) is None:
            if qh is not None:
                rel["path"], rel["query"] = f"{rel['path']}/index.{qh}.html", None
            else:
                rel["path"] = f"{rel['path']}/index.html"
        else:
            stripped = RE_STRIP_EXT.sub("", rel["path"])
            if qh is not None:
                rel["path"], rel["query"] = f"{stripped}.{qh}.{ext}", None
            else:
                rel["path"] = f"{stripped}.{ext}"

    # ---- depth (rs:276-318) ------------------------------------------------
    base_trim = base["path"].lstrip("/ ")
    base_depth = base_trim.count("/") if base_trim else 0
    if relation in (INITIAL_SAME_BASE_SAME, INITIAL_DIFFERENT_BASE_SAME):
        if rel["path"].startswith("/"):
            if base_depth > 0:
                rel["path"] = "../" * base_depth + rel["path"].lstrip("/")
            else:
                rel["path"] = rel["path"].lstrip("/")
    elif relation == INITIAL_SAME_BASE_DIFFERENT:
        cleaned = RE_DOMAIN_IN_PATH.sub("", rel["path"]).lstrip("/ ")
        rel["path"] = "../" * (base_depth + 1) + cleaned
    else:  # INITIAL_DIFFERENT_BASE_DIFFERENT
        extra = 1 if base["host"] != initial["host"] else 0
        rel["path"] = "../" * (base_depth + extra) + f"_{rel['host'] or ''}{rel['path']}"

    pre = _full_url(rel, False, keep_fragment)
    return sanitize_file_path(pre, keep_fragment)


# attribute-value rewriting (offline_website_exporter.rs via RE_HREF_SRC /
# RE_SRCSET_ATTR, html_processor.rs:97-109)
RE_HREF_SRC_ATTR = re.compile(
    r"""(?is)(<[a-z0-9]{1,10}[^>]*\s+)(href|src|component-url)(\s*=\s*)(['"])([^'"]+)(['"])"""
)
RE_SRCSET_ATTR = re.compile(
    r"""(?is)(<[a-z0-9]{1,10}[^>]*\s+)(imagesrcset|srcset)(\s*=\s*)(['"])([^'"]+)(['"])"""
)
RE_CSS_URL_ATTR = re.compile(r"""(?i)url\(\s*(['"]?)([^'")\s]+)\1\s*\)""")


def rewrite_content_for_offline(
    body: str,
    page_url: str,
    initial_url: str,
    content_type: str = "text/html",
    **convert_kw,
) -> str:
    """Rewrite href/src/srcset/url() values in a page body to the relative
    offline file paths (S9's content transform): every URL goes through
    convert_url_to_relative with base = the page's own URL."""

    def conv(u: str) -> str:
        u = u.strip()
        if not u or u.startswith(("#", "data:")):
            return u
        out = convert_url_to_relative(initial_url, page_url, u, **convert_kw)
        return out or u

    def attr_sub(m: re.Match) -> str:
        return f"{m.group(1)}{m.group(2)}{m.group(3)}{m.group(4)}{conv(m.group(5))}{m.group(6)}"

    def srcset_sub(m: re.Match) -> str:
        parts = []
        for source in m.group(5).split(", "):
            toks = source.strip().split()
            if toks:
                toks[0] = conv(toks[0])
            parts.append(" ".join(toks))
        return f"{m.group(1)}{m.group(2)}{m.group(3)}{m.group(4)}{', '.join(parts)}{m.group(6)}"

    def css_sub(m: re.Match) -> str:
        q = m.group(1)
        return f"url({q}{conv(m.group(2))}{q})"

    ct = (content_type or "").lower()
    if "css" in ct:
        return RE_CSS_URL_ATTR.sub(css_sub, body)
    # framework offline transforms run before URL rewriting, like the
    # reference's apply_content_changes_for_offline_version pass
    # (astro_processor.rs:180-205, svelte_processor.rs:48-58)
    from ..operators.extract import astro_offline_scripts, strip_svelte_tags

    out = strip_svelte_tags(astro_offline_scripts(body))
    out = RE_SRCSET_ATTR.sub(srcset_sub, out)
    out = RE_HREF_SRC_ATTR.sub(attr_sub, out)
    return RE_CSS_URL_ATTR.sub(css_sub, out)


def safe_export_target(out_dir: str, rel: str) -> str | None:
    """Join a converted relative path onto the export root, refusing any
    path that would land outside it — a crawled URL with encoded
    dot-segments ('/%2e%2e/x' unquotes to '/../x' inside the converter)
    must not become a write outside the export tree. Returns the absolute
    target path, or None when containment fails."""
    import os

    root = os.path.realpath(out_dir)
    target = os.path.realpath(os.path.join(root, rel.lstrip("/")))
    if target == root or not target.startswith(root + os.sep):
        return None
    return target


def export_offline_site(
    html_docs,
    out_dir: str,
    initial_url: str,
    preserve_url_structure: bool = False,
) -> int:
    """S9: write the offline website tree — one file per doc at its
    converted path, with all in-page URLs rewritten relative. Rewriting and
    writing run EXECUTOR-side via mapInPandas (each partition writes its own
    files — the Spark-idiomatic shape for a shared filesystem); only the
    per-file manifest rows return to the driver. Returns files written."""
    import os

    from pyspark.sql import functions as F  # noqa: F401

    os.makedirs(out_dir, exist_ok=True)
    kw = dict(
        preserve_url_structure=preserve_url_structure,
        is_external_domain_allowed_for_crawling=lambda _h: True,
    )

    def write_partition(pdfs):
        for pdf in pdfs:
            paths = []
            for url, ct, body in zip(pdf["doc_id"], pdf["content_type"], pdf["body"]):
                rel = convert_url_to_relative(initial_url, initial_url, url, **kw)
                if rel.startswith(("http://", "https://", "#", "mailto:")):
                    paths.append(None)
                    continue
                rel = rel.split("#", 1)[0]
                # storage is rooted at the export dir: '../' backlinks from a
                # non-root initial URL collapse (the reference's store-path
                # traversal strip, markdown_exporter.rs:205, :937-950)
                rel = rel.replace("../", "").lstrip("/ ")
                target = safe_export_target(out_dir, rel)
                if target is None:  # crafted ..-segments must not escape
                    paths.append(None)
                    continue
                os.makedirs(os.path.dirname(target) or out_dir, exist_ok=True)
                with open(target, "w", encoding="utf-8") as f:
                    f.write(
                        rewrite_content_for_offline(
                            body or "", url, initial_url, ct or "text/html", **kw
                        )
                    )
                paths.append(rel)
            yield pd.DataFrame({"url": pdf["doc_id"], "file_path": paths})

    manifest = html_docs.mapInPandas(write_partition, "url string, file_path string")
    return manifest.filter("file_path IS NOT NULL").count()


def offline_paths(visited, initial_url: str, preserve_url_structure: bool = False):
    """S9 storage layout: one on-disk file path per visited URL, relative to
    the export root (base = the initial URL, like the exporter's directory
    tree — offline_website_exporter.rs). Arrow-batched pandas UDF."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def to_path(urls: pd.Series) -> pd.Series:
        return pd.Series(
            [
                convert_url_to_relative(
                    initial_url, initial_url, u,
                    preserve_url_structure=preserve_url_structure,
                    is_external_domain_allowed_for_crawling=lambda _h: True,
                )
                for u in urls.tolist()
            ]
        )

    return visited.select("url", to_path(F.col("url")).alias("file_path"))
