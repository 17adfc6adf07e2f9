"""URL validity, normalization, canonicalization, parsing and hashing.

The scalar kernel reimplements (from public behavior, not code) the reference
crawler's URL pipeline:

  - link validity + requestability   (reference src/engine/found_urls.rs:71-83,
    src/utils.rs:607-633)
  - link normalization: entity decode, space escaping, quote/ws trim
    (src/engine/found_url.rs:122-163)
  - RFC-3986 absolutization + fragment strip (src/utils.rs:635-645,
    src/engine/crawler.rs:1130-1143)
  - canonical parse: scheme/host lowercase, default-port elision, empty
    path -> '/', extension, 2nd-level domain, depth
    (src/engine/parsed_url.rs:157-513)
  - query-param policy: remove-all or order-preserving allowlist
    (src/engine/crawler.rs:1883-1902)
  - www/scheme force-relative normalization (src/engine/crawler.rs:1247-1265)
  - uq_id = md5(url-no-fragment)[:8], key = full md5 hex
    (src/engine/crawler.rs:1629-1649)

Everything is exposed two ways:
  1. pure-Python kernels (used by the golden simulator, and unit-testable
     without Spark);
  2. Arrow-batched pandas UDFs built from the same kernels, so the Spark
     engine and the simulator share byte-identical semantics.

The 64-bit partition/bloom key is not computed here: `operators/seen.key_bucket`
derives it natively from `url_key` with xxhash64, so partitioning stays
JVM-side.
"""

from __future__ import annotations

import hashlib
import posixpath
import re
from urllib.parse import urljoin, urlsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- validity --------------------------------------------------------------

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:")
_HTTPISH_RE = re.compile(r"^https?:", re.IGNORECASE)

HTMLISH_EXTENSIONS = frozenset(["", "html", "htm", "php", "asp", "aspx", "jsp", "shtml"])

DEFAULT_PORTS = {"http": 80, "https": 443}


def normalize_href(href: str) -> str:
    """Trim/unquote/entity-decode a raw href literal."""
    if href is None:
        return ""
    s = href.strip().strip("\"'").strip()
    # minimal entity decode the way link extractors need it
    s = s.replace("&amp;", "&").replace("&#38;", "&")
    s = s.replace(" ", "%20").replace("\t", "").replace("\n", "").replace("\r", "")
    return s


def is_href_valid(href: str) -> bool:
    """Validity + requestability of a (normalized) href.

    Rejects fragments-only links, non-http(s) schemes (mailto:, javascript:,
    data:, file:, tel:, ...), and template/markup garbage ({, <, &#).
    """
    if not href:
        return False
    if href.startswith("#"):
        return False
    if "{" in href or "<" in href or "&#" in href:
        return False
    m = _SCHEME_RE.match(href)
    if m and not _HTTPISH_RE.match(href):
        return False
    return True


_ABS_HTTP_RE = re.compile(r"^https?://", re.IGNORECASE)


def absolutize(base_url: str, href: str) -> str:
    """RFC-3986 join (dot-segment removal) then strip the fragment.

    Fast path: an already-absolute http(s) href passes urljoin unchanged
    (python's urljoin only lowercases the scheme, which canonicalize() does
    anyway) — skipping the parse/rejoin saves ~30% of the kernel."""
    if _ABS_HTTP_RE.match(href):
        return href.split("#", 1)[0]
    try:
        absu = urljoin(base_url, href)
    except ValueError:
        return ""
    return absu.split("#", 1)[0]


def _split_host_port(netloc: str, scheme: str) -> tuple[str, int]:
    host = netloc
    port = DEFAULT_PORTS.get(scheme, 0)
    if "@" in host:
        host = host.rsplit("@", 1)[1]
    if host.startswith("["):  # ipv6
        closing = host.find("]")
        rest = host[closing + 1 :]
        host_only = host[: closing + 1]
        if rest.startswith(":") and rest[1:].isdigit():
            return host_only.lower(), int(rest[1:])
        return host_only.lower(), port
    if ":" in host:
        h, _, p = host.rpartition(":")
        if p.isdigit():
            return h.lower(), int(p)
    return host.lower(), port


def _normalize_dot_segments(path: str) -> str:
    if not path:
        return "/"
    norm = posixpath.normpath(path)
    if path.endswith("/") and not norm.endswith("/"):
        norm += "/"
    if norm == ".":
        norm = "/"
    if not norm.startswith("/"):
        norm = "/" + norm
    return norm


def filter_query(query: str, remove_all: bool, keep_params: list[str] | None) -> str:
    """Query-param policy: drop all, or order-preserving allowlist
    (valueless params preserved as bare names)."""
    if remove_all or not query:
        return "" if remove_all else query
    if not keep_params:
        return query
    keep = set(keep_params)
    out = []
    for piece in query.split("&"):
        name = piece.split("=", 1)[0]
        if name in keep:
            out.append(piece)
    return "&".join(out)


def second_level_domain(host: str) -> str:
    parts = host.split(".")
    if len(parts) >= 2:
        return ".".join(parts[-2:])
    return host


def path_depth(path: str) -> int:
    """Number of non-empty path segments."""
    return len([s for s in path.split("/") if s])


def extension_of(path: str) -> str:
    seg = path.rsplit("/", 1)[-1]
    if "." in seg:
        return seg.rsplit(".", 1)[-1].lower()
    return ""


def base_name(path: str, query: str = "") -> str | None:
    """Reference get_base_name (parsed_url.rs:465-481): None for root/empty
    path; trailing slashes trimmed, last non-empty segment; when the query
    string contains '/' or '%2F' it is appended as 'seg?query'."""
    if not path or path == "/":
        return None
    seg = path.rstrip("/").rsplit("/", 1)[-1]
    if not seg:
        return None
    if query and ("/" in query or "%2F" in query):
        return f"{seg}?{query}"
    return seg


# basenames the reference never counts non-200 events for (crawler.rs:1441-1445)
BREAKER_EXEMPT_BASENAMES = frozenset(("index.html", "index.htm", "index"))


def canonicalize(
    url: str,
    initial_host: str = "",
    initial_scheme: str = "https",
    remove_query_params: bool = False,
    keep_query_params: list[str] | None = None,
    with_key: bool = True,
) -> dict:
    """Canonicalize an absolute URL. Returns a dict of parsed fields plus the
    rebuilt canonical url, uq_id (md5[:8]) and key (full md5 hex).

    Canonical form: lowercase scheme+host, default port elided, dot-segments
    removed, empty path -> '/', fragment stripped, query policy applied,
    www/scheme variants of the initial host folded onto the initial form.
    """
    try:
        parts = urlsplit(url)
    except ValueError:
        return _invalid()
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https") or not parts.netloc:
        return _invalid()
    host, port = _split_host_port(parts.netloc, scheme)
    path = _normalize_dot_segments(parts.path)
    query = filter_query(parts.query, remove_query_params, keep_query_params)

    # force-relative normalization: www./scheme variant of the initial host
    if initial_host:
        bare, ih_bare = host.removeprefix("www."), initial_host.removeprefix("www.")
        if bare == ih_bare and host != initial_host:
            host = initial_host
        if host == initial_host and scheme != initial_scheme:
            scheme = initial_scheme
            port = DEFAULT_PORTS[scheme]

    portpart = "" if port == DEFAULT_PORTS.get(scheme) else f":{port}"
    canon = f"{scheme}://{host}{portpart}{path}" + (f"?{query}" if query else "")
    # with_key=False skips the Python md5 — callers that sit in front of a
    # DataFrame plan (the engine's resolve UDF) recompute the IDENTICAL key
    # natively as F.md5(canon_url), JVM-side; the simulator and driver-side
    # one-off callers keep the in-Python key
    key = hashlib.md5(canon.encode("utf-8")).hexdigest() if with_key else ""
    return {
        "canon_url": canon,
        "scheme": scheme,
        "host": host,
        "port": port,
        "path": path,
        "query": query,
        "ext": extension_of(path),
        "d2l": second_level_domain(host),
        "depth": path_depth(path),
        "basename": base_name(path, query),
        "uq_id": key[:8],
        "url_key": key,
        "valid": True,
    }


def _invalid() -> dict:
    return {
        "canon_url": "",
        "scheme": "",
        "host": "",
        "port": 0,
        "path": "",
        "query": "",
        "ext": "",
        "d2l": "",
        "depth": 0,
        "basename": None,
        "uq_id": "",
        "url_key": "",
        "valid": False,
    }


def resolve_candidate(
    base_url: str,
    href: str,
    initial_host: str = "",
    initial_scheme: str = "https",
    remove_query_params: bool = False,
    keep_query_params: list[str] | None = None,
    with_key: bool = True,
) -> dict:
    """Full per-candidate kernel: normalize -> validate -> absolutize ->
    canonicalize. The simulator and the Spark UDF both call this."""
    s = normalize_href(href)
    if not is_href_valid(s):
        return _invalid()
    absu = absolutize(base_url, s)
    if not absu:
        return _invalid()
    return canonicalize(
        absu, initial_host, initial_scheme, remove_query_params, keep_query_params,
        with_key=with_key,
    )


# --- Spark surface ----------------------------------------------------------

CANON_STRUCT = T.StructType(
    [
        T.StructField("canon_url", T.StringType()),
        T.StructField("scheme", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("port", T.IntegerType()),
        T.StructField("path", T.StringType()),
        T.StructField("query", T.StringType()),
        T.StructField("ext", T.StringType()),
        T.StructField("d2l", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("basename", T.StringType()),
        T.StructField("uq_id", T.StringType()),
        T.StructField("url_key", T.StringType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("robots_ok", T.BooleanType()),
    ]
)


def make_resolve_udf(
    initial_host: str,
    initial_scheme: str,
    remove_query_params: bool = False,
    keep_query_params: list[str] | None = None,
    robots_rules: dict | None = None,
    with_key: bool = True,
):
    """Arrow-batched pandas UDF: (base_url, href) -> CANON_STRUCT.

    The kernel is per-value Python inside an Arrow batch — the reference's
    regex/string pipeline is not Catalyst-expressible (robots wildcards,
    entity decode, RFC-3986 dot segments), so this is the sanctioned
    pandas-UDF slow path; batches amortize serialization.

    When `robots_rules` ({host: RobotsRules}) is given, the robots matcher
    runs in the SAME Arrow batch (one Python exchange per wave instead of
    two) and fills the struct's robots_ok field; otherwise robots_ok=True.

    `with_key=False` skips the Python md5 inside the kernel (uq_id/url_key
    come back as "") — the engine recomputes the IDENTICAL key natively as
    F.md5(canon_url) post-UDF, JVM-side, removing the last Python hashing
    from the wave hot loop. hashlib.md5(utf8).hexdigest() == Spark md5(str)
    bit-for-bit, so fixture parity is unaffected.
    """
    kp = list(keep_query_params) if keep_query_params else None

    @F.pandas_udf(CANON_STRUCT)
    def resolve_udf(base: pd.Series, href: pd.Series) -> pd.DataFrame:
        from .robots import is_allowed

        # web link graphs are Zipfian: hot URLs repeat heavily within a
        # batch. Resolve each distinct (base, href) ONCE per Arrow batch and
        # map results back — exact same semantics (pure function), often a
        # 5-50x kernel saving, and no shuffle needed (unlike a global dedup).
        cache: dict[tuple, dict] = {}
        rows = []
        for b, h in zip(base.tolist(), href.tolist()):
            key = (b, h)
            r = cache.get(key)
            if r is None:
                r = resolve_candidate(
                    b, h, initial_host, initial_scheme, remove_query_params, kp,
                    with_key=with_key,
                )
                r["robots_ok"] = (
                    True
                    if robots_rules is None or not r["valid"]
                    else is_allowed(robots_rules.get(r["host"]), r["path"], r["query"])
                )
                cache[key] = r
            rows.append(r)
        return pd.DataFrame(rows)

    # The kernel IS deterministic, but Catalyst duplicates deterministic
    # expressions when collapsing Project/Filter — a filter on r.valid plus a
    # projection of r.* would run the WHOLE UDF twice (observed 2-3x wave
    # cost). Marking it nondeterministic pins exactly one ArrowEvalPython
    # node per reference.
    return resolve_udf.asNondeterministic()

