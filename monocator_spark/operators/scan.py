"""Scan module — O8 DNS resolve, O12 TLS fan-out, O13 IP-level scan cache.

Reference semantics reproduced (SURVEY.md §2.1):
  * O8  — hostname → IP before any scan (`dns.enabled/prefixes/rrtypes`,
    /root/reference/src/TODO.MD:57-59). No network exists in the sandbox, so
    the resolve is the deterministic hash-derived mapping pinned in
    ``spec.ip_of_host`` [canon]; the IP space is smaller than the host space
    so co-hosted hosts genuinely share IPs.
  * O12 — per-host TLS scan fans out over the enabled protocol versions and
    re-aggregates into the reference's central result type
    ``Map<TlsProtocolVersion, SingleVersionScan>`` + ``connectOK``
    (/root/reference/src/TODO.MD:27-28, toggles TODO.MD:70-75): here
    ``explode`` → per-(ip, version) outcome → ``map_from_entries(
    sort_array(collect_list(struct(...))))`` + ``bool_or``.
  * O13 — scans are cached per IP (`fullScanCache.find(ip)`,
    /root/reference/src/TODO.MD:41): an anti-join against the persistent
    ``scan_cache`` table picks only never-scanned IPs for the fan-out; every
    wave host then equi-joins the (cache ∪ fresh) results, so two hosts on
    one IP share a single scan. ``cached_probe`` is that one rule for every
    module in ``MODULES`` (TLS and SMTP keyed by IP, DNS by host).

Everything is pure Catalyst — no UDFs: xxhash64/pmod reproduce the shared
spec functions bit-for-bit (the pure-Python simulator recomputes them via
``spec.tls_versions_of_ip`` / ``spec.tls_scan_of``).

Scale shape: the fan-out side is bounded by |distinct wave IPs| ≤ wave_size;
the scan_cache table is O(IPs seen) and is touched only by (a) one anti-join
probed by the bounded wave side and (b) one equi-join built from the bounded
side — the cache is never shuffled wholesale. At 10^10-frontier scale the
cache would be bucketed by ip (same layout as the corpus table) so both
joins prune to the wave's buckets.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F

from monocator_spark import spec
from monocator_spark.operators.hints import wave_side

# columns of the persistent scan_cache table (state) and per-visit tls table
CACHE_COLS = ["ip", "scan", "connect_ok", "n_versions", "certificates"]
TLS_COLS = [
    "host", "ip", "scan", "connect_ok", "certificates", "cache_hit", "epoch"
]
# DNS fan-out (O8 completion): per-host record sets + per-host cache table
DNS_CACHE_COLS = ["host", "records", "n_records"]
DNS_COLS = ["host", "records", "n_records", "cache_hit", "epoch"]
# SMTP module: per-IP banner grab + per-IP cache table (O13 pattern)
SMTP_CACHE_COLS = ["ip", "port", "connect_ok", "banner"]
SMTP_COLS = ["host", "ip", "port", "connect_ok", "banner", "cache_hit", "epoch"]


def ip_col(host_col: str, n_hosts: int) -> F.Column:
    """O8: deterministic DNS resolve — pmod(xxhash64('ip|'||host), n_ips).

    Matches ``spec.ip_of_host`` exactly (Python %% on a signed hash == pmod).
    """
    return F.pmod(
        F.xxhash64(F.concat(F.lit(spec.IP_PREFIX), F.col(host_col))),
        F.lit(spec.n_ips_for(n_hosts)),
    )


def resolve_hosts(hosts: DataFrame, n_hosts: int, host_col: str = "host") -> DataFrame:
    """Attach the resolved ``ip`` column to a host DataFrame."""
    return hosts.withColumn("ip", ip_col(host_col, n_hosts))


def tls_scan_ips(ips: DataFrame) -> DataFrame:
    """O12 fan-out: ips(ip) → (ip, scan map, connect_ok, n_versions).

    Every IP yields exactly one row — an IP with zero enabled versions gets
    an empty map and connect_ok = false (it still must enter the cache, or
    it would be rescanned every epoch).
    """
    ver = F.explode(F.array(*[F.lit(v) for v in spec.TLS_VERSIONS])).alias("version")
    fanned = ips.select("ip", ver)
    cfg_h = F.pmod(
        F.xxhash64(
            F.concat(F.lit(spec.TLS_CFG_PREFIX), F.col("ip").cast("string"),
                     F.lit("|"), F.col("version"))
        ),
        F.lit(2),
    )
    hv = F.pmod(
        F.xxhash64(
            F.concat(F.lit(spec.TLS_SCAN_PREFIX), F.col("ip").cast("string"),
                     F.lit("|"), F.col("version"))
        ),
        F.lit(20),
    )
    scanned = (
        fanned.where(cfg_h == 0)  # per-version enabled toggle (TODO.MD:70-75)
        .withColumn("hv", hv)
        .withColumn("connect_ok", F.col("hv") != 0)
        .withColumn(
            "cipher",
            F.concat(F.col("version"), F.lit("-c"), (F.col("hv") % 4).cast("string")),
        )
        .groupBy("ip")
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("version"),
                            F.struct("connect_ok", "cipher").alias("result"),
                        )
                    )
                )
            ).alias("scan"),
            F.bool_or("connect_ok").alias("connect_ok"),
            F.count(F.lit(1)).cast("int").alias("n_versions"),
        )
    )
    empty_map = F.expr(
        "map_from_entries(cast(array() as"
        " array<struct<version:string,result:struct<connect_ok:boolean,cipher:string>>>))"
    )
    return (
        ips.join(scanned, "ip", "left")
        .withColumn("scan", F.coalesce("scan", empty_map))
        .withColumn("connect_ok", F.coalesce("connect_ok", F.lit(False)))
        .withColumn("n_versions", F.coalesce("n_versions", F.lit(0)))
        .withColumn("certificates", cert_chain_col())
        .select(*CACHE_COLS)
    )


def cert_chain_col(ip_col_name: str = "ip", ok_col: str = "connect_ok") -> F.Column:
    """The certificate-chain array-of-struct column (O15 fringe).

    Reference: ``saveCertificates(Optional<List<Certificate>> chain)``
    (/root/reference/src/TODO.MD:15-17,50). Pure Catalyst ``transform`` over
    ``sequence`` — NULL when nothing connected (the Optional<> analogue),
    else element k links to k+1 as its issuer, last element is a root CA.
    Bit-matches ``spec.cert_chain_of``.
    """
    ip_s = F.col(ip_col_name).cast("string")
    n = (
        1
        + F.pmod(
            F.xxhash64(F.concat(F.lit(spec.CERT_PREFIX), F.lit("n|"), ip_s)),
            F.lit(spec.CERT_MAX_DEPTH),
        )
    ).cast("int")

    def elem(k: F.Column) -> F.Column:
        h = F.xxhash64(
            F.concat(
                F.lit(spec.CERT_PREFIX), ip_s, F.lit("|"), k.cast("string")
            )
        )
        issuer = F.when(
            k + 1 < n,
            F.concat(
                F.lit("CN=ip-"), ip_s, F.lit("-l"), (k + 1).cast("string")
            ),
        ).otherwise(
            F.concat(F.lit("CN=root-"), F.pmod(h, F.lit(16)).cast("string"))
        )
        return F.struct(
            F.concat(
                F.lit("CN=ip-"), ip_s, F.lit("-l"), k.cast("string")
            ).alias("subject"),
            issuer.alias("issuer"),
            (
                F.lit(spec.CERT_NOT_AFTER_BASE)
                + F.pmod(h, F.lit(100000)) * F.lit(86400)
            ).alias("not_after"),
        )

    return F.when(
        F.col(ok_col), F.transform(F.sequence(F.lit(0), n - 1), elem)
    )


# -- O8 completion: DNS prefixes/rrtypes fan-out --------------------------------


def dns_resolve_records(hosts: DataFrame) -> DataFrame:
    """hosts(host) → (host, records array<struct>, n_records).

    Reference: ``dns.prefixes`` / ``dns.rrtypes``
    (/root/reference/src/TODO.MD:58-59) — one visit resolves each configured
    (prefix, rrtype) pair. Pure Catalyst: explode the (prefix × rrtype)
    grid, derive each pair's outcome from xxhash64 (a pair can NXDOMAIN —
    ``h % 4 == 0`` — so record sets genuinely vary), then ``sort_array(
    collect_list(...))`` re-assembles the per-host record set in
    (prefix, rrtype) order, bit-matching ``spec.dns_records_of``.

    Scale shape: the fan-out is |hosts| × |prefixes×rrtypes| (a constant
    ≤ 6 here), collapsed by one partial-aggregated groupBy on host — linear
    in the wave's distinct hosts, nothing touches the frontier.
    """
    pair = F.explode(
        F.array(
            *[
                F.struct(F.lit(p).alias("prefix"), F.lit(r).alias("rrtype"))
                for p in spec.DNS_PREFIXES
                for r in spec.DNS_RRTYPES
            ]
        )
    ).alias("pair")
    fanned = hosts.select("host", pair).select(
        "host", F.col("pair.prefix").alias("prefix"),
        F.col("pair.rrtype").alias("rrtype"),
    )
    h = F.xxhash64(
        F.concat(
            F.lit(spec.DNS_PREFIX), F.col("prefix"), F.lit("|"),
            F.col("rrtype"), F.lit("|"), F.col("host"),
        )
    )
    resolved = (
        fanned.withColumn("h", h)
        .where(F.pmod("h", F.lit(4)) != 0)  # NXDOMAIN for this pair
        .select(
            "host",
            F.struct(
                "prefix",
                "rrtype",
                F.concat(
                    F.lower("rrtype"), F.lit("-"),
                    F.pmod("h", F.lit(65536)).cast("string"),
                ).alias("value"),
                (F.lit(60) + F.pmod("h", F.lit(4)) * F.lit(300)).alias("ttl"),
            ).alias("rec"),
        )
        .groupBy("host")
        .agg(
            F.sort_array(F.collect_list("rec")).alias("records"),
            F.count(F.lit(1)).cast("int").alias("n_records"),
        )
    )
    empty = F.expr(
        "cast(array() as array<struct<prefix:string,rrtype:string,"
        "value:string,ttl:bigint>>)"
    )
    return (
        hosts.select("host")
        .join(resolved, "host", "left")
        .withColumn("records", F.coalesce("records", empty))
        .withColumn("n_records", F.coalesce("n_records", F.lit(0)))
        .select(*DNS_CACHE_COLS)
    )


# -- SMTP module (the last VisitRequest module) ----------------------------------


def smtp_probe_ips(ips: DataFrame) -> DataFrame:
    """ips(ip) → (ip, port, connect_ok, banner) — deterministic banner grab.

    Reference: ``smtp.enabled`` (/root/reference/src/TODO.MD:76); semantics
    beyond the flag are stripped, so the canonical banner-grab shape [canon]
    is pinned by ``spec.smtp_probe_of``. Pure Catalyst, one row per IP.
    """
    h = F.xxhash64(
        F.concat(F.lit(spec.SMTP_PREFIX), F.col("ip").cast("string"))
    )
    ok = F.pmod(h, F.lit(5)) != 0
    return ips.select(
        "ip",
        F.lit(spec.SMTP_PORT).alias("port"),
        ok.alias("connect_ok"),
        F.when(
            ok,
            F.concat(
                F.lit("220 mx-"), F.pmod(h, F.lit(1024)).cast("string"),
                F.lit(".example ESMTP"),
            ),
        ).alias("banner"),
    )


# -- O13: one cache rule for every visit module ----------------------------------


def cached_probe(
    wave_hosts: DataFrame, cache: DataFrame | None, key: str,
    probe: Callable[[DataFrame], DataFrame], out_cols: list[str],
    epoch: int, cfg: spec.CrawlConfig,
) -> tuple[DataFrame, DataFrame]:
    """(wave_hosts(host, ip), cache) → (module rows, new cache rows).

    The reference's ``fullScanCache.find(ip)`` before any scan (reference
    TODO.MD:41), shared by every module: the wave's distinct ``key`` values
    anti-join the cache, only never-probed keys run ``probe``, and every
    wave host equi-joins (cache ∪ fresh) on ``key`` — two hosts on one IP
    share a single probe. The carried columns are the ``out_cols`` the
    probe emits; ``host``/``ip`` come from ``wave_hosts``.

    ``cache_hit`` is defined as "key was in the cache before this epoch" —
    order-free, so two co-hosted hosts discovered in the same wave both
    count as misses but still share the single fresh probe.

    The wave-key side of the cache join broadcasts only below
    ``hints.WAVE_BROADCAST_MAX`` (operators/hints.wave_side): a full-scale
    wave's distinct-IP set can be 10^7–10^8 rows, which must take the
    shuffle join against the cache.
    """
    keys = wave_hosts.select(key).distinct()
    fresh = probe(
        keys if cache is None else keys.join(cache.select(key), key, "left_anti")
    )
    carried = [c for c in out_cols if c in fresh.columns]
    probed = fresh.select(*carried, F.lit(False).alias("cache_hit"))
    if cache is not None:
        probed = (
            cache.join(wave_side(keys, cfg), key, "inner")
            .select(*carried, F.lit(True).alias("cache_hit"))
            .unionByName(probed)
        )
    rows = (
        wave_hosts.join(probed, key, "inner")
        .withColumn("epoch", F.lit(epoch))
        .select(*out_cols)
    )
    return rows, fresh


class Module(NamedTuple):
    flag: str  # CrawlConfig toggle (the VisitRequest module flag)
    cache: str  # state table: one row per probed key, appended each epoch
    table: str  # per-visit output table
    key: str  # cache key: a wave_hosts column ("ip" or "host")
    probe: Callable[[DataFrame], DataFrame]  # keys → new cache rows
    out_cols: list[str]  # columns of the output table


MODULES = (
    Module("tls_scan", "scan_cache", "tls", "ip", tls_scan_ips, TLS_COLS),
    Module("dns_scan", "dns_cache", "dns", "host", dns_resolve_records, DNS_COLS),
    Module("smtp_scan", "smtp_cache", "smtp", "ip", smtp_probe_ips, SMTP_COLS),
)
