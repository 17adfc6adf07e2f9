"""HTTP header model (F9): cache bitflags, lifetime, cache-type label.

Reimplements (from public behavior) the reference's cache-header parsing:
flags and lifetime at /root/reference/src/engine/crawler.rs:1744-1818,
bitflag constants at src/result/visited_url.rs:19-36, label at
visited_url.rs:256-279.

All three are native Catalyst expressions (the engine's hot path — header
flag math is pure string containment, no Python needed). Headers are
carried as a `map<string,string>` column with LOWERCASED keys, mirroring
the reference's normalized HashMap.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# bitflags (visited_url.rs:19-36)
HAS_CACHE_CONTROL = 1
HAS_EXPIRES = 2
HAS_ETAG = 4
HAS_LAST_MODIFIED = 8
HAS_MAX_AGE = 16
HAS_S_MAX_AGE = 32
HAS_STALE_WHILE_REVALIDATE = 64
HAS_STALE_IF_ERROR = 128
HAS_PUBLIC = 256
HAS_PRIVATE = 512
HAS_NO_CACHE = 1024
HAS_NO_STORE = 2048
HAS_MUST_REVALIDATE = 4096
HAS_PROXY_REVALIDATE = 8192
HAS_IMMUTABLE = 16384
NO_CACHE_HEADERS = 32768
NOT_AVAILABLE = 65536

# (flag, cache-control token) pairs — crawler.rs:1751-1785
_CC_TOKEN_FLAGS = (
    (HAS_MAX_AGE, "max-age"),
    (HAS_STALE_WHILE_REVALIDATE, "stale-while-revalidate"),
    (HAS_STALE_IF_ERROR, "stale-if-error"),
    (HAS_PUBLIC, "public"),
    (HAS_PRIVATE, "private"),
    (HAS_NO_CACHE, "no-cache"),
    (HAS_NO_STORE, "no-store"),
    (HAS_MUST_REVALIDATE, "must-revalidate"),
    (HAS_PROXY_REVALIDATE, "proxy-revalidate"),
    (HAS_IMMUTABLE, "immutable"),
)
# (flag, plain header presence) — crawler.rs:1787-1795
_HEADER_FLAGS = (
    (HAS_EXPIRES, "expires"),
    (HAS_ETAG, "etag"),
    (HAS_LAST_MODIFIED, "last-modified"),
)


def cache_flags_expr(headers_col):
    """Bitmask as a when/otherwise sum — whole-stage-codegen friendly."""
    cc = F.lower(headers_col["cache-control"])
    flags = F.when(cc.isNotNull(), F.lit(HAS_CACHE_CONTROL)).otherwise(F.lit(0))
    for flag, token in _CC_TOKEN_FLAGS:
        flags = flags + F.when(
            cc.isNotNull() & cc.contains(token), F.lit(flag)
        ).otherwise(F.lit(0))
    flags = flags + F.when(
        cc.isNotNull() & (cc.contains("s-maxage") | cc.contains("s-max-age")),
        F.lit(HAS_S_MAX_AGE),
    ).otherwise(F.lit(0))
    for flag, name in _HEADER_FLAGS:
        flags = flags + F.when(
            headers_col[name].isNotNull(), F.lit(flag)
        ).otherwise(F.lit(0))
    return (
        F.when(headers_col.isNull(), F.lit(NOT_AVAILABLE))
        .when(flags == 0, F.lit(NO_CACHE_HEADERS))
        .otherwise(flags)
        .cast("int")
    )


def cache_lifetime_expr(headers_col):
    digits = F.regexp_extract(
        F.lower(headers_col["cache-control"]), r"max-age=([0-9]+)", 1
    )
    return F.when(digits != "", digits.cast("int")).otherwise(F.lit(None).cast("int"))


def cache_label_expr(flags_col):
    first = F.when(
        flags_col.bitwiseAND(F.lit(HAS_CACHE_CONTROL)) != 0, F.lit("Cache-Control")
    ).when(flags_col.bitwiseAND(F.lit(HAS_EXPIRES)) != 0, F.lit("Expires"))
    parts = F.array_compact(
        F.array(
            first,
            F.when(flags_col.bitwiseAND(F.lit(HAS_ETAG)) != 0, F.lit("ETag")),
            F.when(
                flags_col.bitwiseAND(F.lit(HAS_LAST_MODIFIED)) != 0,
                F.lit("Last-Modified"),
            ),
        )
    )
    return F.when(F.size(parts) == 0, F.lit("No cache headers")).otherwise(
        F.array_join(parts, " + ")
    )
