"""robots.txt parsing and path matching.

Reimplements (from observed public behavior) the reference's robots engine:
parser at /root/reference/src/engine/robots_txt.rs:42-98, matcher at :105-223,
wired into the enqueue pipeline at src/engine/crawler.rs:1107-1128.

Semantics (reference-exact):
  - only `User-agent: *` and `User-agent: SiteOne-Crawler` sections are
    honored, compared CASE-SENSITIVELY; the LAST User-agent line before a
    rule decides the active group (robots_txt.rs:47-62 keeps exactly one
    `current_user_agent`, each UA line replaces it — no stacking);
  - `Allow:` overrides `Disallow:`; an empty `Disallow:` value is dropped;
    when there are NO disallow rules everything is allowed without
    consulting allows (robots_txt.rs:111-113);
  - static-asset extensions are ALWAYS allowed; the reference's regex
    (robots_txt.rs:8-10) matches the extension ANYWHERE in the URL
    (unanchored) and covers js/css/json/eot/ttf/woff2/woff/otf/png/gif/jpg/
    jpeg/ico/webp/avif/tif/bmp/svg;
  - patterns: `$` suffix without `*` is exact case-insensitive EQUALITY;
    `*` patterns use a LEFTMOST NON-BACKTRACKING scan (robots_txt.rs:195-223)
    — each literal part matches at the first position after the previous
    part, so `/a*b$` can reject paths a backtracking regex would accept;
    plain patterns are case-insensitive prefix matches;
  - `#` comments stripped; `Sitemap:` lines are collected regardless of the
    UA section but the reference never enqueues them — we preserve that.

NORTH-RULE SUPERSET: `Crawl-delay` is parsed for honored sections and feeds
the politeness scheduler; the reference ignores it entirely (verified: zero
matches in /root/reference/src). This is additive — it never changes which
URLs are allowed.

Rules are tiny per host: they live in a broadcast dict; evaluation happens
inside the frontier filter pandas UDF (robots `*`/`$` matching is not
Catalyst-expressible).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

HONORED_AGENTS = ("*", "SiteOne-Crawler")  # case-sensitive (robots_txt.rs:62-63)

# always-allowed asset extensions — unanchored, matches anywhere in the URL
# (robots_txt.rs:8-10)
_ASSET_EXT_RE = re.compile(
    r"\.(js|css|json|eot|ttf|woff2|woff|otf|png|gif|jpg|jpeg|ico|webp|avif|tif|bmp|svg)",
    re.IGNORECASE,
)


@dataclass
class RobotsRules:
    disallowed: list[str] = field(default_factory=list)
    allowed: list[str] = field(default_factory=list)
    sitemaps: list[str] = field(default_factory=list)
    # NORTH-RULE SUPERSET (see module docstring).
    crawl_delay: float | None = None


_UA_RE = re.compile(r"(?i)^User-agent:\s*(.*)")
_DISALLOW_RE = re.compile(r"(?i)^Disallow:\s*(.*)")
_ALLOW_RE = re.compile(r"(?i)^Allow:\s*(.*)")
_SITEMAP_RE = re.compile(r"(?i)^Sitemap:\s*(.*)")
_CRAWL_DELAY_RE = re.compile(r"(?i)^Crawl-delay:\s*(.*)")


def parse_robots(body: str) -> RobotsRules:
    """Line parser mirroring robots_txt.rs:42-98: strip comments, track the
    single current User-agent (last one wins), collect rules only in honored
    groups, collect Sitemap lines unconditionally."""
    rules = RobotsRules()
    if not body:
        return rules
    current_ua: str | None = None
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        m = _UA_RE.match(line)
        if m:
            current_ua = m.group(1).strip()
        elif current_ua in HONORED_AGENTS:
            if (m := _DISALLOW_RE.match(line)) is not None:
                v = m.group(1).strip()
                if v:
                    rules.disallowed.append(v)
            elif (m := _ALLOW_RE.match(line)) is not None:
                v = m.group(1).strip()
                if v:
                    rules.allowed.append(v)
            elif (m := _CRAWL_DELAY_RE.match(line)) is not None:
                try:
                    rules.crawl_delay = float(m.group(1).strip())
                except ValueError:
                    pass
        if (m := _SITEMAP_RE.match(line)) is not None:
            v = m.group(1).strip()
            if v:
                rules.sitemaps.append(v)
    return rules


def _wildcard_match(path: str, pattern: str, exact_end: bool) -> bool:
    """Leftmost non-backtracking scan (robots_txt.rs:195-223): each literal
    part of the pattern matches at the FIRST position after the previous
    part; the first part must match at the start of the path."""
    pl = path.lower()
    pos = 0
    for i, part in enumerate(pattern.split("*")):
        if not part:
            continue
        q = pl.find(part.lower(), pos)
        if q < 0:
            return False
        if i == 0 and q != 0:
            return False
        pos = q + len(part)
    if exact_end:
        return pos == len(pl)
    return True


def path_matches(pattern: str, path: str) -> bool:
    """robots-style match (robots_txt.rs:175-193): `$` anchor, `*` wildcard
    (leftmost scan), else case-insensitive prefix."""
    if not pattern:
        return False
    if pattern.endswith("$"):
        p = pattern[:-1]
        if "*" in p:
            return _wildcard_match(path, p, exact_end=True)
        return path.lower() == p.lower()
    if "*" in pattern:
        return _wildcard_match(path, pattern, exact_end=False)
    return path.lower().startswith(pattern.lower())


def is_allowed(rules: RobotsRules | None, path: str, query: str = "") -> bool:
    """robots_txt.rs:105-147: assets always allowed (the reference tests the
    full URL string — path?query covers the variable part); no disallow rules
    => allowed; Allow overrides Disallow; patterns match the PATH only."""
    if rules is None:
        return True
    target = f"{path}?{query}" if query else (path or "")
    if _ASSET_EXT_RE.search(target):
        return True
    if not rules.disallowed:
        return True
    for pat in rules.allowed:
        if path_matches(pat, path):
            return True
    for pat in rules.disallowed:
        if path_matches(pat, path):
            return False
    return True


def compile_rules_map(robots_bodies: dict[str, str]) -> dict[str, RobotsRules]:
    """host -> parsed rules, suitable for a Spark broadcast variable."""
    return {host: parse_robots(body) for host, body in robots_bodies.items()}
