"""Pure-Python reference crawl simulator (SURVEY.md §5.2 item 1).

This is the executable stand-in for the stripped reference binary
(/root/reference ships no Java source): an obviously-correct, single-threaded
implementation of the crawl spec in `monocator_spark.spec`. The Spark engine
must reproduce its crawl order and URL-seen set exactly (BASELINE.json:14
"matching the reference's crawl ordering and URL-seen set under the same
seed list + politeness budget").

Reference lifecycle mirrored (/root/reference/src/TODO.MD:36-51):
  dequeue → blacklist/robots gate → politeness quota → fetch → validate →
  extract outlinks → dedup/enqueue → persist.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from monocator_spark import spec
from monocator_spark.datagen import corpus as dg
from monocator_spark.functions.hashing import xxh64_str
from monocator_spark.functions.imaging import decode, phash64, pixels_for, psnr_db
from monocator_spark.functions.urlnorm import canonicalize_url, host_of

# fetch status codes (shared spec)
OK = 200
MISSING = 404
OVERSIZE = 413
INVALID = 422


@dataclass
class Entry:
    url_norm: str
    url_hash: int
    host: str
    priority: float
    depth: int
    retries: int = 0


@dataclass
class SimResult:
    order: list[dict] = field(default_factory=list)     # scheduled wave rows
    fetched: list[dict] = field(default_factory=list)   # status==200 rows
    failed: list[dict] = field(default_factory=list)    # permanent failures
    denied: list[dict] = field(default_factory=list)    # robots/blacklist
    seen: dict[int, str] = field(default_factory=dict)  # url_hash -> url_norm
    metrics: list[dict] = field(default_factory=list)
    tls: list[dict] = field(default_factory=list)       # O12 per-visit scans
    scan_cache: dict[int, dict] = field(default_factory=dict)  # O13 ip -> scan
    dns: list[dict] = field(default_factory=list)        # O8 per-visit record sets
    dns_cache: dict[str, list] = field(default_factory=dict)   # host -> records
    smtp: list[dict] = field(default_factory=list)       # SMTP per-visit probes
    smtp_cache: dict[int, dict] = field(default_factory=dict)  # ip -> probe


class ReferenceSimulator:
    def __init__(self, corpus_rows, host_state_rows, cfg: spec.CrawlConfig):
        """corpus_rows: iterable of dicts in the input_hint shape;
        host_state_rows: iterable of dicts (host, robots_rules, budget_per_epoch,
        blacklisted)."""
        self.corpus = {r["image_id"]: r for r in corpus_rows}
        self.hosts = {r["host"]: r for r in host_state_rows}
        self.cfg = cfg

    # -- spec-shared derivations --------------------------------------------
    @staticmethod
    def priority_of(url_norm: str) -> float:
        return spec.to_unit_interval(xxh64_str(spec.PRIORITY_PREFIX + url_norm))

    def _entry(self, url: str, depth: int) -> Entry | None:
        norm = canonicalize_url(url)
        if norm is None:
            return None
        return Entry(
            url_norm=norm,
            url_hash=xxh64_str(norm),
            host=host_of(norm),
            priority=self.priority_of(norm),
            depth=depth,
        )

    def _host_cfg(self, host: str) -> dict:
        return self.hosts.get(
            host,
            {"robots_rules": [], "budget_per_epoch": self.cfg.per_host_quota,
             "blacklisted": False, "crawl_delay_ms": 0},
        )

    def _fetch(self, e: Entry) -> tuple[int, dict | None]:
        image_id = e.url_norm.rsplit("/", 1)[-1]
        row = self.corpus.get(image_id)
        if row is None:
            return MISSING, None
        if len(row["bytes"]) > spec.MAX_BODY_BYTES:
            return OVERSIZE, None
        try:
            px, fmt = decode(row["bytes"])
        except ValueError:
            return INVALID, None
        ref = pixels_for(image_id, row["w"], row["h"])
        if fmt == "png":
            if not np.array_equal(px, ref):
                return INVALID, None
        elif psnr_db(ref, px) < spec.PSNR_MIN_DB:
            return INVALID, None
        if row["caption"] != dg.caption_of_image(image_id):
            return INVALID, None
        if phash64(px) != row["phash"]:
            return INVALID, None
        return OK, row

    # -- main loop -----------------------------------------------------------
    def run(
        self,
        seed_urls: list[str],
        max_epochs: int = 1000,
        reenqueue_at: dict[int, list[str]] | None = None,
    ) -> SimResult:
        """``reenqueue_at``: {epoch: [url, ...]} — forced recrawls injected at
        the start of that epoch, bypassing the seen test (O14 refetch)."""
        res = SimResult()
        pending: dict[int, Entry] = {}
        last_phash: dict[str, int] = {}  # image_id -> most recent fetched phash
        host_next: dict[str, int] = {}   # host -> next_allowed_ts (crawl delay)

        def enqueue(url: str, depth: int) -> None:
            e = self._entry(url, depth)
            if e is None:
                return
            if e.url_hash in res.seen:
                return
            res.seen[e.url_hash] = e.url_norm
            pending[e.url_hash] = e

        # intra-batch duplicate → min depth wins (spec: order-free dedup)
        def enqueue_batch(urls_depths: list[tuple[str, int]]) -> None:
            batch: dict[int, Entry] = {}
            for url, depth in urls_depths:
                e = self._entry(url, depth)
                if e is None or e.url_hash in res.seen:
                    continue
                prev = batch.get(e.url_hash)
                if prev is None or e.depth < prev.depth:
                    batch[e.url_hash] = e
            for h, e in batch.items():
                res.seen[h] = e.url_norm
                pending[h] = e

        enqueue_batch([(u, 0) for u in seed_urls])

        for epoch in range(max_epochs):
            if reenqueue_at and epoch in reenqueue_at:
                for url in reenqueue_at[epoch]:
                    e = self._entry(url, 0)
                    if e is not None:
                        pending[e.url_hash] = e  # seen untouched: refetch
            # gate: blacklist + robots (drop permanently)
            schedulable: list[Entry] = []
            for e in list(pending.values()):
                cfg = self._host_cfg(e.host)
                path = e.url_norm.split("://", 1)[1]
                path = path[path.find("/"):]
                if cfg["blacklisted"]:
                    res.denied.append({"url_hash": e.url_hash, "url_norm": e.url_norm,
                                       "reason": "blacklist", "epoch": epoch})
                    del pending[e.url_hash]
                elif not dg.robots_allowed(path, cfg["robots_rules"]):
                    res.denied.append({"url_hash": e.url_hash, "url_norm": e.url_norm,
                                       "reason": "robots", "epoch": epoch})
                    del pending[e.url_hash]
                else:
                    schedulable.append(e)

            # politeness: per-host quota by (priority DESC, url_hash ASC);
            # time-based gate first — a host inside its crawl delay keeps
            # its rows pending (not denied) until next_allowed_ts <= epoch_ts
            epoch_ts = epoch * spec.EPOCH_MS
            by_host: dict[str, list[Entry]] = {}
            for e in schedulable:
                by_host.setdefault(e.host, []).append(e)
            quota_rows: list[Entry] = []
            for host, rows in by_host.items():
                if self.cfg.time_politeness and host_next.get(host, 0) > epoch_ts:
                    continue
                quota = min(self.cfg.per_host_quota, self._host_cfg(host)["budget_per_epoch"])
                rows.sort(key=lambda r: (-r.priority, r.url_hash))
                quota_rows.extend(rows[:quota])

            # global wave order + cap
            quota_rows.sort(key=lambda r: (-r.priority, r.url_hash))
            wave = quota_rows[: self.cfg.wave_size]
            if not wave:
                if self.cfg.time_politeness and pending:
                    continue  # idle epoch: every eligible host is delayed
                break

            if self.cfg.time_politeness:
                for host in {e.host for e in wave}:
                    d = self._host_cfg(host)["crawl_delay_ms"]
                    if d > 0:
                        host_next[host] = epoch_ts + d

            # scan module (O8 resolve → O13 IP cache → O12 TLS fan-out);
            # cache_hit = "IP cached before this epoch" (order-free, matching
            # the engine's anti-join-then-union formulation)
            if self.cfg.tls_scan:
                wave_ip = {
                    e.host: spec.ip_of_host(e.host, self.cfg.n_hosts) for e in wave
                }
                epoch_ips = set(wave_ip.values())
                hits = {ip for ip in epoch_ips if ip in res.scan_cache}
                for ip in epoch_ips - hits:
                    scan = {
                        v: spec.tls_scan_of(ip, v) for v in spec.tls_versions_of_ip(ip)
                    }
                    res.scan_cache[ip] = {
                        "scan": scan,
                        "connect_ok": any(ok for ok, _ in scan.values()),
                        # O15 fringe: chain saved with the scan (TODO.MD:50)
                        "certificates": spec.cert_chain_of(ip),
                    }
                for host in sorted(wave_ip):
                    ip = wave_ip[host]
                    res.tls.append({
                        "host": host, "ip": ip,
                        "scan": res.scan_cache[ip]["scan"],
                        "connect_ok": res.scan_cache[ip]["connect_ok"],
                        "certificates": res.scan_cache[ip]["certificates"],
                        "cache_hit": ip in hits, "epoch": epoch,
                    })

            # O8 completion: per-host DNS record sets, host-keyed cache
            if self.cfg.dns_scan:
                wave_hosts = sorted({e.host for e in wave})
                dns_hits = {h for h in wave_hosts if h in res.dns_cache}
                for h in wave_hosts:
                    if h not in res.dns_cache:
                        res.dns_cache[h] = spec.dns_records_of(h)
                for h in wave_hosts:
                    res.dns.append({
                        "host": h, "records": res.dns_cache[h],
                        "n_records": len(res.dns_cache[h]),
                        "cache_hit": h in dns_hits, "epoch": epoch,
                    })

            # SMTP module: per-IP banner grab, IP-keyed cache (O13 pattern)
            if self.cfg.smtp_scan:
                wave_ip_s = {
                    e.host: spec.ip_of_host(e.host, self.cfg.n_hosts) for e in wave
                }
                epoch_ips_s = set(wave_ip_s.values())
                smtp_hits = {ip for ip in epoch_ips_s if ip in res.smtp_cache}
                for ip in epoch_ips_s - smtp_hits:
                    res.smtp_cache[ip] = spec.smtp_probe_of(ip)
                for host in sorted(wave_ip_s):
                    ip = wave_ip_s[host]
                    res.smtp.append({
                        "host": host, "ip": ip, **res.smtp_cache[ip],
                        "cache_hit": ip in smtp_hits, "epoch": epoch,
                    })

            n_fetched = n_failed = 0
            outlink_batch: list[tuple[str, int]] = []
            for pos, e in enumerate(wave):
                res.order.append({"epoch": epoch, "wave_pos": pos,
                                  "url_norm": e.url_norm, "url_hash": e.url_hash})
                status, row = self._fetch(e)
                if status == OK:
                    n_fetched += 1
                    # O14: per-host policy + change detection vs prior fetch
                    policy = spec.screenshot_policy_of(e.host)
                    prior = (
                        last_phash.get(row["image_id"])
                        if self.cfg.change_detection
                        else None
                    )
                    shot = spec.screenshot_decision(
                        policy, spec.outlink_count_of(e.url_norm), prior,
                        row["phash"], row["caption"],
                    )
                    if self.cfg.change_detection:
                        last_phash[row["image_id"]] = row["phash"]
                    res.fetched.append({
                        "url_hash": e.url_hash, "url_norm": e.url_norm,
                        "image_id": row["image_id"], "caption": row["caption"],
                        "phash": row["phash"], "fetch_epoch": epoch,
                        "wave_pos": pos, "status": status,
                        "prior_phash": prior, "policy": policy,
                        "screenshot": shot,
                    })
                    del pending[e.url_hash]
                    if self.cfg.follow_outlinks and e.depth < spec.MAX_DEPTH:
                        for link in dg.outlinks_of(e.url_norm, self.cfg.n_images, self.cfg.n_hosts):
                            outlink_batch.append((link, e.depth + 1))
                elif status == MISSING and e.retries < spec.MAX_RETRIES:
                    e.retries += 1  # stays pending → rescheduled next epoch
                else:
                    n_failed += 1
                    res.failed.append({"url_hash": e.url_hash, "url_norm": e.url_norm,
                                       "status": status, "epoch": epoch})
                    del pending[e.url_hash]

            enqueue_batch(outlink_batch)
            res.metrics.append({
                "epoch": epoch, "scheduled": len(wave), "fetched": n_fetched,
                "failed": n_failed, "frontier_size": len(pending),
            })
        return res
