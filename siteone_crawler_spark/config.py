"""Crawl configuration — mirrors the reference's CoreOptions defaults
(/root/reference/src/options/core_options.rs:328-380) plus the north-rule
politeness superset (per-host budgets). One instance is broadcast per run.
"""

from __future__ import annotations

import re
from dataclasses import dataclass


def is_pcre_pattern(s: str) -> bool:
    """F13 (reference utils.rs:14-31): a delimited PCRE literal like
    /pat/i, #pat#, ~pat~, %pat% with lowercase-only trailing flags."""
    if len(s) < 2 or s[0] not in "/#~%":
        return False
    last = s.rfind(s[0], 1)
    if last < 1:
        return False
    return all(c.islower() and c.isascii() for c in s[last + 1 :])


def normalize_pcre_pattern(s: str) -> str:
    """F13 (utils.rs:35-52): '/pat/i' -> '(?i)pat'; non-delimited strings
    pass through unchanged. Config-time only — compiled patterns are used
    both by Java rlike (engine) and Python re (simulator), which share the
    (?i) inline-flag syntax."""
    if not is_pcre_pattern(s):
        return s
    delim = s[0]
    end = s.rfind(delim, 1)
    pattern, flags = s[1:end], s[end + 1 :]
    return ("(?i)" if "i" in flags else "") + pattern


@dataclass(frozen=True)
class CrawlConfig:
    workers: int = 1  # parity fixtures pin workers=1 BFS semantics
    max_reqs_per_sec: float = 10.0
    # --timeout (core_options.rs:328, default 5s): in the offline fetch
    # model, requests whose recorded request_time_ms exceeds this become
    # transport-error -2 (Timeout family, visited_url.rs). 0 = disabled.
    request_timeout_s: float = 5.0
    # the reference's GLOBAL rate limiter (crawler.rs:540-569) mapped onto
    # the wave model: >0 admits only the first N pending rows per wave in
    # (depth, seq) BFS order — the CLI derives it as
    # max_reqs_per_sec * wave_seconds. 0 = off (parity default).
    global_wave_budget: int = 0
    max_queue_length: int = 9000
    max_visited_urls: int = 10000
    max_url_length: int = 2083
    max_non200_per_basename: int = 5
    max_depth: int = 0  # 0 = unlimited
    ignore_robots_txt: bool = False
    allowed_domains: tuple[str, ...] = ()  # wildcard patterns, e.g. *.example.test
    include_regex: tuple[str, ...] = ()
    ignore_regex: tuple[str, ...] = ()
    remove_query_params: bool = False
    keep_query_params: tuple[str, ...] = ()
    crawl_assets: bool = True  # False ~ --crawl-only-html-files
    # P14 per-asset-class toggles (--disable-images/-javascript/-styles/
    # -fonts/-files; html_processor.rs:744-807). All-on by default; span
    # kinds + extension classes gate which links enqueue.
    images_enabled: bool = True
    scripts_enabled: bool = True
    styles_enabled: bool = True
    fonts_enabled: bool = True
    files_enabled: bool = True
    single_page: bool = False
    # north-rule politeness superset (reference politeness is global-only):
    per_host_wave_budget: int = 0  # 0 = unlimited (parity mode)
    wave_seconds: float = 0.0  # >0: per-host budget = wave_seconds/crawl_delay
    default_crawl_delay: float = 1.0  # used when robots has no Crawl-delay
    max_waves: int = 0  # 0 = until frontier empty
    single_foreign_page: bool = False  # P13: no <a href> from foreign-d2l pages
    # --resolve overrides, curl syntax "domain:port:ip" (crawler.rs:179-191)
    resolve: tuple[str, ...] = ()

    def __post_init__(self):
        # F13: accept the reference's delimited-PCRE config syntax
        object.__setattr__(
            self,
            "include_regex",
            tuple(normalize_pcre_pattern(p) for p in self.include_regex),
        )
        object.__setattr__(
            self,
            "ignore_regex",
            tuple(normalize_pcre_pattern(p) for p in self.ignore_regex),
        )

    def resolve_overrides(self) -> dict[str, str]:
        """--resolve entries -> {"domain:port": ip} (crawler.rs:180-190:
        same regex, malformed entries silently dropped, last wins). The
        dict is config-sized — broadcast/literal-map it, never join."""
        out: dict[str, str] = {}
        for entry in self.resolve:
            m = re.match(r"^([^:]+):([0-9]+):(.+)$", entry)
            if m:
                out[f"{m.group(1)}:{m.group(2)}"] = m.group(3)
        return out

    def allowed_domain_regexes(self) -> list[re.Pattern]:
        """`*.example.com` wildcard allowlist -> anchored regexes
        (reference crawler.rs:1872-1880)."""
        out = []
        for pat in self.allowed_domains:
            rx = "^" + ".*".join(re.escape(p) for p in pat.lower().split("*")) + "$"
            out.append(re.compile(rx))
        return out


# SkippedReason codes (reference src/types.rs:173-179)
SKIP_NOT_ALLOWED_HOST = 1
SKIP_ROBOTS_TXT = 2
SKIP_EXCEEDS_MAX_DEPTH = 3

# UrlSource provenance codes (reference src/engine/found_url.rs:12-29;
# note VideoSrc=24 / AudioSrc=25 — the reference numbers video first)
SOURCE_INIT_URL = 5
SOURCE_A_HREF = 10
SOURCE_IMG_SRC = 20
SOURCE_IMG_SRCSET = 21
SOURCE_INPUT_SRC = 22
SOURCE_SOURCE_SRC = 23
SOURCE_VIDEO_SRC = 24
SOURCE_AUDIO_SRC = 25
SOURCE_SCRIPT_SRC = 30
SOURCE_INLINE_SCRIPT_SRC = 40
SOURCE_LINK_HREF = 50
SOURCE_CSS_URL = 60
SOURCE_JS_URL = 70
SOURCE_REDIRECT = 80
SOURCE_SITEMAP = 90
SOURCE_URL_LIST = 91

SPAN_KIND_TO_SOURCE = {
    "a_href": SOURCE_A_HREF,
    "img_src": SOURCE_IMG_SRC,
    "img_srcset": SOURCE_IMG_SRCSET,
    "input_src": SOURCE_INPUT_SRC,
    "source_src": SOURCE_SOURCE_SRC,
    "video_src": SOURCE_VIDEO_SRC,
    "audio_src": SOURCE_AUDIO_SRC,
    "script_src": SOURCE_SCRIPT_SRC,
    "inline_script_src": SOURCE_INLINE_SCRIPT_SRC,
    "link_href": SOURCE_LINK_HREF,
    "css_url": SOURCE_CSS_URL,
    "js_url": SOURCE_JS_URL,
    "redirect_location": SOURCE_REDIRECT,
    "sitemap_loc": SOURCE_SITEMAP,
}

# span kinds that are page-structure, not links
NON_LINK_KINDS = ("text", "base_href")

# extension-class patterns shared by the engine (Java rlike) and the
# simulator (Python re.search) — both are unanchored searches and honor
# inline (?i); end-anchored with an optional query tail
RE_CLASS_IMAGE = r"(?i)\.(png|gif|jpg|jpeg|ico|webp|avif|tif|bmp|svg)(\?.*)?$"
RE_CLASS_FONT = r"(?i)\.(eot|ttf|woff2|woff|otf)(\?.*)?$"
RE_CLASS_JS = r"(?i)\.(js|json)(\?.*)?$"
RE_CLASS_CSS = r"(?i)\.css(\?.*)?$"
RE_CLASS_ANY_FILE = r"(?i)\.[a-z0-9]{1,10}(\?.*)?$"
RE_CLASS_HTML = (
    r"(?i)\.(htm|html|shtml|php|phtml|ashx|xhtml|asp|aspx|jsp|jspx|do|cfm|cgi|pl)(\?.*)?$"
)

IMAGE_KINDS = ("img_src", "img_srcset", "input_src", "source_src")
SCRIPT_KINDS = ("script_src", "inline_script_src", "js_url")
FILE_KINDS = ("audio_src", "video_src")


def span_kind_allowed(cfg, kind: str, text: str) -> bool:
    """P14: is a link span of `kind`/`text` extracted under cfg's per-class
    toggles? Shared semantics for the simulator (this function) and the
    engine (engine._span_gate_expr builds the same predicate natively)."""
    t = text or ""
    if not cfg.images_enabled:
        if kind in IMAGE_KINDS:
            return False
        if kind in ("css_url", "link_href") and re.search(RE_CLASS_IMAGE, t):
            return False
    if not cfg.scripts_enabled:
        if kind in SCRIPT_KINDS:
            return False
        if kind == "link_href" and re.search(RE_CLASS_JS, t):
            return False
    if not cfg.fonts_enabled and kind in ("css_url", "link_href") and re.search(
        RE_CLASS_FONT, t
    ):
        return False
    if not cfg.styles_enabled and kind in ("css_url", "link_href") and re.search(
        RE_CLASS_CSS, t
    ):
        return False
    if not cfg.files_enabled:
        if kind in FILE_KINDS:
            return False
        if (
            kind == "a_href"
            and re.search(RE_CLASS_ANY_FILE, t)
            and not re.search(RE_CLASS_HTML, t)
        ):
            return False
    return True

# asset-class span kinds (gated by --disable-* / crawl_assets)
ASSET_KINDS = (
    "img_src",
    "img_srcset",
    "input_src",
    "source_src",
    "video_src",
    "audio_src",
    "script_src",
    "inline_script_src",
    "link_href",
    "css_url",
    "js_url",
)
