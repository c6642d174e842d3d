#!/usr/bin/env python
"""Package monocator_spark for ``spark-submit --py-files`` (north_rule:
"packaged for spark-submit --py-files on multi-executor clusters").

Produces ``dist/monocator_spark.zip`` containing the package source only
(no tests, no caches). Cluster usage:

    python scripts/make_pyfiles_zip.py
    spark-submit --master <cluster> \
        --py-files dist/monocator_spark.zip \
        scripts/bench_crawl.py --world <shared-path> --out out.json

``scripts/crawl_job.py`` is the production entry (arbitrary world/store
paths, resume supported); ``bench_crawl.py`` is the measured variant.
"""

from __future__ import annotations

import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def build(out: Path | None = None) -> Path:
    out = out or REPO / "dist" / "monocator_spark.zip"
    out.parent.mkdir(exist_ok=True)
    pkg = REPO / "monocator_spark"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(pkg.rglob("*.py")):
            if "__pycache__" in p.parts:
                continue
            z.write(p, p.relative_to(REPO))
    return out


if __name__ == "__main__":
    print(build())
