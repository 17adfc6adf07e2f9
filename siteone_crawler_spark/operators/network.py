"""DNS + SSL/TLS analyzers over a host-probes table.

Reimplements the reference DnsAnalyzer and SslTlsAnalyzer behavior from
public observation, not code (/root/reference/src/analysis/dns_analyzer.rs,
/root/reference/src/analysis/ssl_tls/mod.rs):

  DNS (dns_analyzer.rs:34-120): per host, the resolved-domain chain
      (host + CNAMEs), A and AAAA records.
  SSL/TLS (ssl_tls/mod.rs:49-300): connect/handshake failures, validity
      window (expired / not-yet-valid), weak chain signature (SHA-1/MD5)
      vs strong, weak public key (RSA<2048 / EC<256) vs strong, missing
      CN / empty Subject notices, trust verdict, protocol findings
      (SSLv3/TLS1.0/TLS1.1 unsafe; missing TLS1.2+TLS1.3 hint);
      accept_invalid_certs downgrades trust/expiry criticals to warnings
      (set_config, mod.rs:45-47 + 55-60).

Spark-first model: the network probe itself is a PER-HOST job — distinct
hosts are ~3 orders of magnitude fewer than URLs, so `probe_targets`
dedups hosts distributed and a real deployment maps a socket prober over
the result (mapInPandas, one row per host:port). This sandbox has no
network, so `synth_probes` generates deterministic probe rows with the
same schema (plumbing real, probe faked).
All analysis below the probe is native DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEVERITY_OK = 1
SEVERITY_NOTICE = 2
SEVERITY_WARNING = 3
SEVERITY_CRITICAL = 4

UNSAFE_PROTOCOLS = ["SSLv3", "TLSv1", "TLSv1.1"]

PROBE_SCHEMA = (
    "host string, port int, cnames array<string>, ipv4 array<string>,"
    " ipv6 array<string>, connect_error string, handshake_ok boolean,"
    " cert_not_before long, cert_not_after long, sig_algorithm string,"
    " key_algo string, key_bits int, has_cn boolean, subject_empty boolean,"
    " trusted boolean, trust_reason string, protocols array<string>,"
    " issuer string"
)


def probe_targets(visited: DataFrame, url_col: str = "url") -> DataFrame:
    """Distinct https host:port pairs to probe — the distributed dedup
    step; the prober maps over THIS frame, never over URLs."""
    host = F.regexp_extract(F.col(url_col), r"^https://([^/:]+)", 1)
    port = F.coalesce(
        F.nullif(F.regexp_extract(F.col(url_col), r"^https://[^/:]+:(\d+)", 1), F.lit("")),
        F.lit("443"),
    ).cast("int")
    return (
        visited.filter(F.col(url_col).startswith("https://"))
        .select(host.alias("host"), port.alias("port"))
        .distinct()
    )


def synth_probes(targets: DataFrame, now_s: int) -> DataFrame:
    """Deterministic fake prober with the real schema — one row per host,
    features keyed off xxhash64(host) residues (or a caller-provided
    `__seed` column, which lets a SQL oracle reproduce the residues). A
    deployment replaces this with a mapInPandas socket/DNS prober of
    identical shape."""
    h = (
        F.col("__seed")
        if "__seed" in targets.columns
        else F.abs(F.xxhash64("host"))
    )
    day = 86400
    return targets.select(
        "host",
        "port",
        F.when(
            h % 4 == 0, F.array(F.concat(F.lit("cdn."), F.col("host")))
        ).otherwise(F.array().cast("array<string>")).alias("cnames"),
        F.array(F.concat(F.lit("192.0.2."), (h % 200).cast("string"))).alias("ipv4"),
        F.when(h % 3 == 0, F.array(F.lit("2001:db8::1"))).otherwise(
            F.array().cast("array<string>")
        ).alias("ipv6"),
        F.when(h % 13 == 12, F.lit("connection refused")).alias("connect_error"),
        (h % 11 != 10).alias("handshake_ok"),
        F.lit(now_s - 90 * day).cast("long").alias("cert_not_before"),
        F.when(h % 7 == 6, F.lit(now_s - day))
        .otherwise(F.lit(now_s + 60 * day))
        .cast("long")
        .alias("cert_not_after"),
        F.when(h % 9 == 8, F.lit("sha1WithRSAEncryption"))
        .otherwise(F.lit("sha256WithRSAEncryption"))
        .alias("sig_algorithm"),
        F.lit("RSA").alias("key_algo"),
        F.when(h % 10 == 9, F.lit(1024)).otherwise(F.lit(2048)).cast("int").alias("key_bits"),
        (h % 17 != 16).alias("has_cn"),
        F.lit(False).alias("subject_empty"),
        (h % 5 != 4).alias("trusted"),
        F.when(h % 5 == 4, F.lit("self-signed")).alias("trust_reason"),
        F.when(h % 6 == 5, F.array(F.lit("TLSv1"), F.lit("TLSv1.2")))
        .otherwise(F.array(F.lit("TLSv1.2"), F.lit("TLSv1.3")))
        .alias("protocols"),
        # self-signed hosts (h%5==4, the untrusted residue above) are their
        # own issuer; everything else chains to the synthetic root
        F.when(h % 5 == 4, F.concat(F.lit("CN="), F.col("host")))
        .otherwise(F.lit("CN=Synthetic Root CA"))
        .alias("issuer"),
    )


def apply_resolve_overrides(probes: DataFrame, overrides: dict[str, str]) -> DataFrame:
    """--resolve forced-IP overrides (crawler.rs:132-133, 536-538): a
    host:port present in the override map skips resolution entirely — its
    address becomes the forced IP (ipv4 vs ipv6 by shape, like curl) and the
    CNAME chain is empty. `overrides` comes from CrawlConfig.resolve_overrides
    and is config-sized, so it compiles to a literal map (pure codegen, no
    join, no broadcast variable)."""
    if not overrides:
        return probes
    mapping = F.create_map(
        *[F.lit(x) for kv in sorted(overrides.items()) for x in kv]
    )
    key = F.concat_ws(":", F.col("host"), F.col("port").cast("string"))
    forced = mapping[key]
    is6 = forced.contains(":")
    empty = F.array().cast("array<string>")
    return (
        probes.withColumn(
            "ipv4",
            F.when(forced.isNotNull() & ~is6, F.array(forced))
            .when(forced.isNotNull(), empty)
            .otherwise(F.col("ipv4")),
        )
        .withColumn(
            "ipv6",
            F.when(forced.isNotNull() & is6, F.array(forced))
            .when(forced.isNotNull(), empty)
            .otherwise(F.col("ipv6")),
        )
        .withColumn(
            "cnames", F.when(forced.isNotNull(), empty).otherwise(F.col("cnames"))
        )
    )


def dns_stats(probes: DataFrame) -> DataFrame:
    """The DNS SuperTable: per host, the resolved-domain chain and record
    counts (dns_analyzer.rs:50-120 — chain = host + CNAMEs)."""
    return probes.select(
        "host",
        F.concat(F.array("host"), F.col("cnames")).alias("resolved_chain"),
        F.size("cnames").cast("int").alias("n_cnames"),
        F.size("ipv4").cast("int").alias("n_ipv4"),
        F.size("ipv6").cast("int").alias("n_ipv6"),
        ((F.size("ipv4") > 0) | (F.size("ipv6") > 0)).alias("resolved"),
    ).orderBy("host")


def certificate_info(probes: DataFrame) -> DataFrame:
    """The certificate-info SuperTable (docs/JSON-OUTPUT.md §5.5: info/value
    string pairs — Issuer/Subject/Valid from/Valid to/Supported protocols…).
    Built distributed as an explode of per-host attribute structs; the
    reference reports a single crawled domain, so multi-host runs emit one
    block per host introduced by a Host row."""
    iso = lambda c: F.date_format(F.timestamp_seconds(c), "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    pair = lambda k, v: F.struct(F.lit(k).alias("info"), v.alias("value"))  # noqa: E731
    attrs = F.array(
        pair("Host", F.concat_ws(":", F.col("host"), F.col("port").cast("string"))),
        pair("Issuer", F.coalesce(F.col("issuer"), F.lit(""))),
        pair(
            "Subject",
            F.when(F.col("subject_empty"), F.lit(""))
            .when(F.col("has_cn"), F.concat(F.lit("CN="), F.col("host")))
            .otherwise(F.lit("(no common name)")),
        ),
        pair("Valid from", iso(F.col("cert_not_before"))),
        pair("Valid to", iso(F.col("cert_not_after"))),
        pair("Signature algorithm", F.col("sig_algorithm")),
        pair(
            "Public key",
            F.concat_ws(" ", F.col("key_algo"), F.col("key_bits").cast("string"), F.lit("bits")),
        ),
        pair(
            "Trusted",
            F.when(F.col("trusted"), F.lit("yes")).otherwise(
                F.concat_ws(": ", F.lit("no"), F.coalesce("trust_reason", F.lit("unknown")))
            ),
        ),
        pair("Supported protocols", F.array_join("protocols", ", ")),
    )
    return (
        probes.filter(F.col("connect_error").isNull() & F.col("handshake_ok"))
        .select("host", F.posexplode(attrs).alias("pos", "a"))
        .orderBy("host", "pos")
        .select(F.col("a.info").alias("info"), F.col("a.value").alias("value"))
    )


def dns_info_lines(probes: DataFrame) -> DataFrame:
    """The dns SuperTable (docs/JSON-OUTPUT.md §5.23: one `info` column — a
    text tree of the resolution). Per host: the host line, indented CNAME
    chain, then A/AAAA records (dns_analyzer.rs renders the same tree).
    flatten+posexplode keeps the tree distributed and ordered."""
    indent = lambda prefix, arr: F.transform(  # noqa: E731
        arr, lambda x: F.concat(F.lit("  " + prefix + " "), x)
    )
    lines = F.flatten(
        F.array(
            F.array(F.col("host")),
            indent("CNAME", F.col("cnames")),
            indent("A", F.col("ipv4")),
            indent("AAAA", F.col("ipv6")),
            F.when(
                (F.size("ipv4") == 0) & (F.size("ipv6") == 0),
                F.array(F.lit("  (unresolved)")),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return (
        probes.select("host", F.posexplode(lines).alias("pos", "info"))
        .orderBy("host", "pos")
        .select("info")
    )


def tls_findings(
    probes: DataFrame, now_s: int, accept_invalid_certs: bool = False
) -> DataFrame:
    """One row per (host, code, severity) TLS finding, mirroring the
    summary codes of ssl_tls/mod.rs. accept_invalid_certs downgrades
    trust/expiry criticals to warnings."""
    downgraded = SEVERITY_WARNING if accept_invalid_certs else SEVERITY_CRITICAL
    weak_sig = F.lower("sig_algorithm").rlike("sha1|md5")
    weak_key = (
        (F.col("key_algo") == "RSA") & (F.col("key_bits") < 2048)
    ) | ((F.col("key_algo") == "EC") & (F.col("key_bits") < 256))
    has12 = F.array_contains("protocols", "TLSv1.2")
    has13 = F.array_contains("protocols", "TLSv1.3")

    def fnd(cond, code, severity):
        return F.when(
            cond,
            F.struct(
                F.lit(code).alias("code"), F.lit(severity).cast("int").alias("severity")
            ),
        )

    connect_failed = F.col("connect_error").isNotNull()
    hs_failed = ~connect_failed & ~F.col("handshake_ok")
    cert_ok = ~connect_failed & F.col("handshake_ok")
    findings = F.array(
        fnd(connect_failed, "ssl-certificate-connect", SEVERITY_CRITICAL),
        fnd(hs_failed, "ssl-tls-handshake-failed", SEVERITY_CRITICAL),
        fnd(
            cert_ok & (F.col("cert_not_after") < now_s),
            "ssl-certificate-valid-to",
            downgraded,
        ),
        fnd(
            cert_ok & (F.col("cert_not_before") > now_s),
            "ssl-certificate-valid-from",
            downgraded,
        ),
        fnd(cert_ok & weak_sig, "ssl-weak-signature", SEVERITY_CRITICAL),
        fnd(cert_ok & ~weak_sig, "ssl-signature-strong", SEVERITY_OK),
        fnd(cert_ok & weak_key, "ssl-weak-key", SEVERITY_CRITICAL),
        fnd(cert_ok & ~weak_key, "ssl-key-strong", SEVERITY_OK),
        fnd(cert_ok & ~F.col("has_cn"), "ssl-no-common-name", SEVERITY_NOTICE),
        fnd(cert_ok & F.col("subject_empty"), "ssl-no-subject", SEVERITY_NOTICE),
        fnd(cert_ok & ~F.col("trusted"), "ssl-certificate-untrusted", downgraded),
        fnd(cert_ok & F.col("trusted"), "ssl-certificate-trusted", SEVERITY_OK),
        fnd(
            cert_ok
            & F.exists("protocols", lambda p: p.isin(*UNSAFE_PROTOCOLS)),
            "ssl-protocol-unsafe",
            SEVERITY_CRITICAL,
        ),
        fnd(cert_ok & ~(has12 & has13), "ssl-protocol-hint", SEVERITY_CRITICAL),
    )
    return probes.select(
        "host", F.explode(F.filter(findings, lambda x: x.isNotNull())).alias("f")
    ).select(
        "host", F.col("f.code").alias("code"), F.col("f.severity").alias("severity")
    )


def tls_summary(
    probes: DataFrame, now_s: int, accept_invalid_certs: bool = False
) -> DataFrame:
    """Crawl-level TLS summary: hosts per (code, severity)."""
    return (
        tls_findings(probes, now_s, accept_invalid_certs)
        .groupBy("code", "severity")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hosts"))
        .orderBy("code", "severity")
    )
