"""Join-side hints shared by the epoch pipeline's wave-bounded joins.

Several epoch joins build their hash side from a WAVE-BOUNDED key set
(≤ cfg.wave_size rows): the next-frontier anti-join (plans/epoch.py), the
change-detection history prune (operators/change.py) and the scan-cache
probe (operators/scan.py). The fetch (operators/fetch.py) does not use
this switch: it is one left join to the corpus, which the bucketed layout
keeps from shuffling.
At bench scale those sides are a few MB of longs and a driver broadcast is
the right plan; at 10^10-frontier scale an epoch wave is 10^8–10^9 keys —
past Spark's 8 GB broadcast ceiling and the driver's memory — so the
broadcast must be conditional, mirroring the existing
``BROADCAST_PROBE_MAX_BYTES`` switch in ``operators/dedup.py``.

``wave_side`` is that one switch: broadcast below ``WAVE_BROADCAST_MAX``
configured wave rows, plain (shuffle-join) side above it. The choice is
plan-only — both paths produce byte-identical output (pinned by
``tests/test_wave_broadcast_paths.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from monocator_spark import spec

# Wave-key broadcast ceiling (rows). Broadcasting is right at bench scale
# (1.8M keys ≈ 14 MB); 32M longs ≈ 256 MB is the largest side worth a
# driver broadcast.
WAVE_BROADCAST_MAX = 32_000_000


def wave_side(df: DataFrame, cfg: spec.CrawlConfig) -> DataFrame:
    """A wave-bounded join side: broadcast iff the configured wave size fits."""
    if cfg.wave_size <= WAVE_BROADCAST_MAX:
        return F.broadcast(df)
    return df
