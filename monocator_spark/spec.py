"""Crawl spec — the single source of truth shared by the pure-Python
reference simulator (`monocator_spark.sim`) and the Spark engine
(`monocator_spark.plans.epoch`).

The reference repo (`/root/reference`, maartenbosteels/monocator) ships only
design docs; where they are silent the rules below follow the published
Mercator crawler canon (Heydon & Najork, WWW 1999) and RFC 9309 robots
semantics, marked [canon] in SURVEY.md §0.4. Every constant and formula here
is deterministic: no wall clock, no RNG at crawl time.

Key invariants (BASELINE.json north_rule):
  * url_hash      = xxhash64(url_norm)                 (Spark builtin seed 42)
  * priority      = uniform in [0,1) derived from xxhash64("p|" + url_norm)
  * wave order    = (priority DESC, url_hash ASC)      — total order, no ties
  * politeness    = per-host quota per epoch (budget), robots longest-match
  * url-seen      = canonical-URL dedup; first enqueue wins
"""

from __future__ import annotations

# ---- frontier / wave ------------------------------------------------------
WAVE_SIZE = 1000          # max URLs fetched per epoch (global cap)
PER_HOST_QUOTA = 8        # max URLs per host per epoch [canon: Mercator politeness]
MAX_DEPTH = 3             # outlink expansion depth cap (web.max_pages analogue,
                          # reference src/TODO.MD:61)
MAX_RETRIES = 2           # failed fetch re-enqueue cap (erroring-page analogue,
                          # reference src/mock-servers.MD:22)

# ---- dedup ----------------------------------------------------------------
BLOOM_SHARDS = 32         # power of two; shard = url_hash & (BLOOM_SHARDS-1)
BLOOM_BITS_PER_SHARD = 1 << 20   # 128 KiB/shard locally; sized up at scale
BLOOM_NUM_HASHES = 7


def bloom_bits_for(n_expected: int, shards: int = BLOOM_SHARDS) -> int:
    """Bits/shard sized for ~n_expected TOTAL insertions across all shards.

    ≥16 bits per element with k=7 keeps the false-positive rate ≤~0.1%.
    ``dedup.filter_new`` sends every candidate into one left-anti join with
    ``seen`` and puts ``maybe_seen`` in its condition, so the sizing no
    longer decides which rows reach that join: it bounds only the
    false-positive confirm work inside it (a filter miss matches no ``seen``
    row). Undersizing is a cost, not a correctness bug. Rounded up to a
    power of two, floor at the local default.
    """
    import math

    need = max(BLOOM_BITS_PER_SHARD, (16 * max(1, n_expected)) // shards)
    return 1 << math.ceil(math.log2(need))


# Cuckoo twin of the URL-seen pre-filter (north rule: "bloom/cuckoo") —
# 8192 buckets × 4 slots × 2 B = 64 KiB/shard locally; sized up at scale.
CUCKOO_BUCKETS_PER_SHARD = 1 << 13


def cuckoo_buckets_for(n_expected: int, shards: int = BLOOM_SHARDS) -> int:
    """Buckets/shard sized for ~n_expected TOTAL insertions across shards.

    4-slot buckets sustain ~95% fill; sizing to ≤80% load keeps the
    eviction chains short and overflow (which only degrades a shard to the
    exact-confirm join, never corrupts output — operators/cuckoo.py)
    unreachable in practice. Rounded up to a power of two (the alternate
    bucket is an XOR), floor at the local default."""
    import math

    need = max(
        CUCKOO_BUCKETS_PER_SHARD,
        math.ceil(max(1, n_expected) / (shards * 4 * 0.8)),
    )
    return 1 << math.ceil(math.log2(need))

# ---- time-based politeness --------------------------------------------------
# Logical epoch tick: epoch_ts = epoch * EPOCH_MS. A host scheduled in epoch
# e becomes eligible again at the first f with f*EPOCH_MS >= e*EPOCH_MS +
# crawl_delay_ms (host_state.crawl_delay_ms; robots Crawl-delay analogue
# [canon]). 250ms tick → the fixture delays (0/100/1000 ms) span
# no-wait / next-epoch / skip-3-epochs.
EPOCH_MS = 250

# ---- skew -----------------------------------------------------------------
HOST_BUCKETS = 64         # salted buckets for window ranking (north_star:
                          # "salted window-ranked DataFrame batches")
SALT_PER_HOST = 4         # a mega-host is spread over SALT_PER_HOST buckets

# ---- fetch payload --------------------------------------------------------
MAX_BODY_BYTES = 1 << 20  # max-body enforcement (PageFetcherTest analogue,
                          # reference src/mock-servers.MD:1-4)
PSNR_MIN_DB = 40.0        # lossy-format decode invariant (BASELINE.json:15)

# ---- priority / hashing derivations ---------------------------------------
PRIORITY_PREFIX = "p|"    # priority = to_unit(xxhash64(PRIORITY_PREFIX + url_norm))
OUTLINK_PREFIX = "o|"     # outlink fan-out derived from xxhash64(OUTLINK_PREFIX + url_norm)

# ---- scan module: O8 DNS + O12 TLS fan-out + O13 IP cache ------------------
# Reference: dns.enabled/prefixes/rrtypes (/root/reference/src/TODO.MD:57-59),
# per-version TLS toggles (TODO.MD:70-75), FullScanCache.find(ip) (TODO.MD:41).
# The sandbox has no network, so DNS is a deterministic hash-derived resolve
# [canon]; the IP space is deliberately smaller than the host space so
# co-hosted hosts exist and the IP-level cache actually dedups scans.
IP_PREFIX = "ip|"         # ip = pmod(xxhash64(IP_PREFIX + host), n_ips)
TLS_CFG_PREFIX = "tlscfg|"   # per-(ip, version) enabled toggle
TLS_SCAN_PREFIX = "tls|"     # per-(ip, version) handshake outcome
TLS_VERSIONS = ("ssl2", "ssl3", "tls10", "tls11", "tls12", "tls13")


# ---- screenshot policy + change detection (O14) ----------------------------
# The reference's per-visit screenshot policy enum
# (/root/reference/src/TODO.MD:62-67). Per-host policy assignment and the
# non-reference predicates ("developed", "suspicious") are deterministic
# hash-derived stand-ins [canon]; "if_html_changed" is the real cross-epoch
# comparison: phash vs the previous fetch of the same image (lag analytic).
SCREENSHOT_POLICIES = (
    "always", "if_single_page_app", "if_html_changed", "if_developed",
    "if_suspicious",
)
SCREENSHOT_PREFIX = "shot|"


def screenshot_policy_of(host: str) -> str:
    from monocator_spark.functions.hashing import xxh64_str

    return SCREENSHOT_POLICIES[xxh64_str(SCREENSHOT_PREFIX + host) % 5]


def outlink_count_of(url_norm: str) -> int:
    """Intrinsic outlink count of a page (single-page-app predicate)."""
    from monocator_spark.functions.hashing import xxh64_str

    return xxh64_str(OUTLINK_PREFIX + url_norm) % 4


def screenshot_decision(
    policy: str,
    n_outlinks: int,
    prior_phash: int | None,
    phash: int,
    caption: str,
) -> bool:
    if policy == "always":
        return True
    if policy == "if_single_page_app":
        return n_outlinks == 0
    if policy == "if_html_changed":
        return prior_phash is None or prior_phash != phash
    if policy == "if_developed":
        return len(caption.split(" ")) >= 8
    return phash % 16 == 0  # if_suspicious (Python % = pmod on signed phash)


# ---- certificate chain (O15 fringe) -----------------------------------------
# Reference: saveCertificates(Optional<List<Certificate>> chain)
# (/root/reference/src/TODO.MD:15-17,50) — the array-of-struct persistence.
# The chain belongs to the FullScan (per IP, cached with it); it is PRESENT
# iff any enabled version connected (the Optional<> analogue) and its values
# are deterministic hash derivations [canon].
CERT_PREFIX = "cert|"
CERT_MAX_DEPTH = 3          # leaf + up to 1 intermediate + root
CERT_NOT_AFTER_BASE = 1700000000  # deterministic epoch-seconds base


def cert_chain_of(ip: int) -> list[dict] | None:
    """Certificate chain of an IP's scan, or None when nothing connected
    (Optional<List<Certificate>>, TODO.MD:50). Element k links to k+1 as
    its issuer; the last element is a root CA."""
    from monocator_spark.functions.hashing import xxh64_str

    if not any(tls_scan_of(ip, v)[0] for v in tls_versions_of_ip(ip)):
        return None
    n = 1 + xxh64_str(f"{CERT_PREFIX}n|{ip}") % CERT_MAX_DEPTH
    chain = []
    for k in range(n):
        h = xxh64_str(f"{CERT_PREFIX}{ip}|{k}")
        issuer = (
            f"CN=ip-{ip}-l{k + 1}" if k + 1 < n else f"CN=root-{h % 16}"
        )
        chain.append(
            {
                "subject": f"CN=ip-{ip}-l{k}",
                "issuer": issuer,
                "not_after": CERT_NOT_AFTER_BASE + (h % 100000) * 86400,
            }
        )
    return chain


# ---- DNS prefixes / rrtypes fan-out (O8 completion) --------------------------
# Reference: dns.prefixes / dns.rrtypes (/root/reference/src/TODO.MD:58-59):
# a visit resolves each configured (prefix, rrtype) pair and persists the
# record set. Record values are deterministic hash derivations [canon]; a
# (prefix, rrtype) pair can yield 0 records (NXDOMAIN analogue), so record
# sets genuinely vary per host.
DNS_PREFIXES = ("", "www")
DNS_RRTYPES = ("A", "AAAA", "MX")
DNS_PREFIX = "dns|"


def dns_records_of(host: str) -> list[dict]:
    """Full record set of one host visit: one entry per (prefix, rrtype)
    pair that resolves, sorted by (prefix, rrtype) — the collect_list
    re-assembly order the engine uses."""
    from monocator_spark.functions.hashing import xxh64_str

    out = []
    for prefix in DNS_PREFIXES:
        for rrtype in DNS_RRTYPES:
            h = xxh64_str(f"{DNS_PREFIX}{prefix}|{rrtype}|{host}")
            if h % 4 == 0:  # NXDOMAIN for this pair
                continue
            out.append(
                {
                    "prefix": prefix,
                    "rrtype": rrtype,
                    "value": f"{rrtype.lower()}-{h % 65536}",
                    "ttl": 60 + (h % 4) * 300,
                }
            )
    return sorted(out, key=lambda r: (r["prefix"], r["rrtype"]))


# ---- SMTP module (the last VisitRequest module) ------------------------------
# Reference: smtp.enabled (/root/reference/src/TODO.MD:76). The stripped
# docs carry no further SMTP semantics, so the shape is the canonical
# banner-grab [canon]: per-IP (reusing the O13 cache pattern — co-hosted
# hosts share one SMTP probe), port 25, deterministic connect outcome +
# banner string.
SMTP_PREFIX = "smtp|"
SMTP_PORT = 25


def smtp_probe_of(ip: int) -> dict:
    """Deterministic per-IP SMTP banner grab: (connect_ok, banner, port)."""
    from monocator_spark.functions.hashing import xxh64_str

    h = xxh64_str(f"{SMTP_PREFIX}{ip}")
    ok = h % 5 != 0  # 20% of IPs refuse port 25
    return {
        "port": SMTP_PORT,
        "connect_ok": ok,
        "banner": f"220 mx-{h % 1024}.example ESMTP" if ok else None,
    }


def n_ips_for(n_hosts: int) -> int:
    """IP space ~1/3 of host space → expected ~3 hosts per IP."""
    return max(4, n_hosts // 3)


def ip_of_host(host: str, n_hosts: int) -> int:
    from monocator_spark.functions.hashing import xxh64_str

    return xxh64_str(IP_PREFIX + host) % n_ips_for(n_hosts)  # Python % = pmod


def tls_versions_of_ip(ip: int) -> list[str]:
    """Enabled protocol versions for an IP (VisitRequest toggle analogue)."""
    from monocator_spark.functions.hashing import xxh64_str

    return [
        v for v in TLS_VERSIONS if xxh64_str(f"{TLS_CFG_PREFIX}{ip}|{v}") % 2 == 0
    ]


def tls_scan_of(ip: int, version: str) -> tuple[bool, str]:
    """Deterministic per-(ip, version) handshake outcome → (connect_ok, cipher)."""
    from monocator_spark.functions.hashing import xxh64_str

    hv = xxh64_str(f"{TLS_SCAN_PREFIX}{ip}|{version}") % 20
    return hv != 0, f"{version}-c{hv % 4}"


def to_unit_interval(h: int) -> float:
    """Map a signed 64-bit hash to a double in [0, 1).

    Both sides divide the signed value by exactly 2^64 (a power of two, so
    exactly representable as a double) and shift by 0.5 — bit-identical IEEE
    double arithmetic in either engine.
    """
    return h / 18446744073709551616.0 + 0.5


# Spark SQL fragment computing the same priority (keep in sync with above).
# 2^64 is written as an integer literal and cast, so it parses to exactly 2^64.
PRIORITY_SQL = (
    "(CAST(xxhash64(concat('{pfx}', {col})) AS DOUBLE)"
    " / CAST(18446744073709551616 AS DOUBLE)) + 0.5"
)


def priority_sql(col: str) -> str:
    return PRIORITY_SQL.format(pfx=PRIORITY_PREFIX, col=col)


from dataclasses import dataclass  # noqa: E402


@dataclass(frozen=True)
class CrawlConfig:
    """One config object shared verbatim by the Spark engine, the reference
    simulator, and the bench harness — identical rules at every scale."""

    n_images: int
    n_hosts: int
    wave_size: int = WAVE_SIZE
    per_host_quota: int = PER_HOST_QUOTA
    bloom_bits_per_shard: int = BLOOM_BITS_PER_SHARD
    # URL-seen pre-filter structure (north rule: "bloom/cuckoo URL-seen").
    # Both share the sharding (url_hash & (BLOOM_SHARDS-1)), the state-table
    # slot, and the exact-confirm contract, so the crawl output is
    # byte-identical either way (tests/test_cuckoo.py). Bloom = fewer bits
    # per element at the 0.1% FP target and a trivial OR-merge; cuckoo =
    # deletion support (TTL eviction) and two-cache-line probes
    # (operators/cuckoo.py). Pick per deployment; resume must reuse the
    # run's choice (the state bytes are structure-specific).
    seen_filter: str = "bloom"
    cuckoo_buckets_per_shard: int = CUCKOO_BUCKETS_PER_SHARD
    salt_per_host: int = SALT_PER_HOST
    follow_outlinks: bool = True
    # scan module (O8/O12/O13): per-module enable flag, mirroring the
    # reference's VisitRequest tls.enabled (/root/reference/src/TODO.MD:69)
    tls_scan: bool = False
    # DNS prefixes/rrtypes fan-out (O8 completion): per-host record sets
    # resolved once and cached (reference dns.enabled/prefixes/rrtypes,
    # /root/reference/src/TODO.MD:57-59)
    dns_scan: bool = False
    # SMTP banner grab, per-IP with the O13 cache pattern (reference
    # smtp.enabled, /root/reference/src/TODO.MD:76)
    smtp_scan: bool = False
    # time-based politeness: gate hosts on next_allowed_ts <= epoch_ts
    # (range predicate over the host_next state table). Off by default —
    # the per-epoch quota alone reproduces round-1 goldens.
    time_politeness: bool = False
    # O14 cross-epoch change detection: when True, each fetched row's
    # prior_phash is looked up from the fetched history (lag over
    # fetch_epoch per image). Off by default: without forced recrawl every
    # fetch is a first fetch, so the lookup would be pure overhead.
    change_detection: bool = False
