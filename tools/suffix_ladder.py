"""Suffix-array scale ladder (BENCH.md "Suffix-array scale study").

Reproducible version of the round-2 ad-hoc study: a seeded 50k-page zipf
web corpus (~91 MB of text, sources/web_pages.py) through the
exact-substring dedup at length_threshold=100 under each physical
strategy, one fresh JVM per leg (idle-machine rule: run legs alone).

Legs:
  global    one-group pass (gate forced open via ONE_GROUP_BYTES)
  lossless  winnowing-anchored CC grouping, no cap (gate forced shut;
            == global output)
  capped    max_group_bytes=16MB: the gate shuts at the cap, anchored
            groups take the min-anchor locality split

Reported per leg: wall seconds, bytes removed, retained ratio vs the
lossless removal total (bounded-loss accounting for the capped leg).

Usage: python tools/suffix_ladder.py [n_docs] [leg ...]
(defaults: 50000, all three legs).
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))  # script invocation: make tools.hostcal importable
DATA = Path("/tmp/spark_graft_sfx")

LEG_SNIPPET = r"""
import json, sys, time
sys.path.insert(0, "{repo}")
from pyspark.sql import functions as F
from text_dedup_spark.session import get_spark
from text_dedup_spark.operators import suffix_dedup as sd

spark = get_spark("sfx_ladder", master="local[32]",
                  conf={{"spark.sql.shuffle.partitions": "32",
                         "spark.driver.memory": "48g"}})
spark.sparkContext.setLogLevel("ERROR")
df = spark.read.parquet("{data}/pages").select("doc_id", "text").persist()
total_bytes = df.select(F.sum(F.length(F.encode("text", "utf-8")))).first()[0]
df.count()

t0 = time.time()
leg = "{leg}"
if leg == "global":
    sd.ONE_GROUP_BYTES = 1 << 62
    res = sd.suffix_array_dedup(df, id_col="doc_id", length_threshold=100)
elif leg == "lossless":
    sd.ONE_GROUP_BYTES = 0
    res = sd.suffix_array_dedup(df, id_col="doc_id", length_threshold=100)
elif leg == "capped":
    res = sd.suffix_array_dedup(
        df, id_col="doc_id", length_threshold=100, max_group_bytes=16 << 20)
else:
    raise SystemExit(f"unknown leg {{leg!r}}")
out_bytes = res.docs.select(F.sum(F.length(F.encode("text", "utf-8")))).first()[0]
wall = time.time() - t0
print(json.dumps({{"leg": leg, "wall_sec": round(wall, 1),
                   "total_bytes": int(total_bytes),
                   "bytes_removed": int(total_bytes - out_bytes)}}))
"""


def ensure_corpus(n_docs: int) -> None:
    marker = DATA / "pages_current_size"
    if marker.exists() and marker.read_text().strip() == str(n_docs):
        return
    snippet = f"""
import sys
sys.path.insert(0, "{REPO}")
from text_dedup_spark.session import get_spark
from text_dedup_spark.sources.web_pages import make_web_pages
spark = get_spark("sfx_gen", master="local[8]")
spark.sparkContext.setLogLevel("ERROR")
pdf = make_web_pages(n_docs={n_docs}, seed=42).pages[["url", "text"]]
pdf["doc_id"] = range(len(pdf))
spark.createDataFrame(pdf).repartition(32).write.mode("overwrite").parquet("{DATA}/pages")
"""
    DATA.mkdir(parents=True, exist_ok=True)
    subprocess.run([sys.executable, "-c", snippet], check=True)
    marker.write_text(str(n_docs))


def main() -> None:
    args = sys.argv[1:]
    n_docs = int(args[0]) if args and args[0].isdigit() else 50_000
    legs = [a for a in args if not a.isdigit()] or ["global", "lossless", "capped"]
    ensure_corpus(n_docs)
    def _stat():
        try:
            with open("/proc/stat") as f:
                return [int(x) for x in f.readline().split()[1:]]
        except Exception:
            return None

    from tools.hostcal import cpu_calib_sec

    results = []
    for leg in legs:
        code = LEG_SNIPPET.format(repo=REPO, data=DATA, leg=leg)
        calib_before = cpu_calib_sec()
        t0 = time.time()
        before = _stat()
        proc = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True
        )
        after = _stat()
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"leg {leg} failed")
        row = json.loads(proc.stdout.strip().splitlines()[-1])
        row["proc_sec"] = round(time.time() - t0, 1)
        # same honesty stamp as scaling_bench: legs measured under
        # hypervisor steal are not comparable to quiet ones
        if before is not None and after is not None:
            d = [a - b for a, b in zip(after, before, strict=True)]
            tot = sum(d) or 1
            row["host_steal_pct"] = round(100 * d[7] / tot, 2) if len(d) > 7 else None
            row["host_system_pct"] = round(100 * d[2] / tot, 2)
        # slow-mode detector: see tools/hostcal.py (legs at zero steal can
        # still run 1.5-2x slow; the fixed probe makes that visible)
        row["calib_before_sec"] = calib_before
        row["calib_after_sec"] = cpu_calib_sec()
        results.append(row)
        print(json.dumps(row), flush=True)
    base = next((r for r in results if r["leg"] in ("lossless", "global")), None)
    if base:
        for r in results:
            r["retained_vs_lossless"] = round(
                r["bytes_removed"] / max(base["bytes_removed"], 1), 3
            )
    print(json.dumps({"ladder": results}))


if __name__ == "__main__":
    main()
