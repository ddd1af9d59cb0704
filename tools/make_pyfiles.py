"""Build the --py-files archive for spark-submit (north rule: jobs submitted
via ``spark-submit --py-files``).

Usage:
    python tools/make_pyfiles.py [out.zip]          # default dist/text_dedup_spark.zip
    spark-submit --py-files dist/text_dedup_spark.zip \
        --master spark://... run_job.py --config configs/minhash.toml

The archive contains the ``text_dedup_spark`` package only: Python sources
plus the C kernel sources, which each executor compiles on first use (no
prebuilt binaries, so one zip works on every executor).
"""

from __future__ import annotations

import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def build(out: Path) -> None:
    out.parent.mkdir(parents=True, exist_ok=True)
    pkg = REPO / "text_dedup_spark"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        # the top-level package has no __init__.py (a namespace package);
        # zipimport finds one only through an explicit directory entry
        zf.write(pkg, pkg.relative_to(REPO))
        # *.c: the C kernels (suffix array, MinHash fingerprint) ship as
        # SOURCE and compile on first use per executor (kernels/native.py);
        # without them executors silently fall back — correct, but suffix
        # dedup runs ~8x slower and MinHash hashes every shingle in
        # pure-Python xxh3
        for src in sorted(pkg.rglob("*.py")) + sorted(pkg.rglob("*.c")):
            zf.write(src, src.relative_to(REPO))
    names = zipfile.ZipFile(out).namelist()
    print(f"wrote {out} ({len(names)} files)")


if __name__ == "__main__":
    build(Path(sys.argv[1]) if len(sys.argv) > 1 else REPO / "dist" / "text_dedup_spark.zip")
