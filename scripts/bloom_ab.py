"""A/B the seen-set bloom prefilter in its CLAIMED regime: mostly-novel
candidates over a universe much larger than the crawl.

Round-3's A/B (BENCH.md §1) ran the seen-heavy 1.14M-URL crawl — the crawl
covered most of its 2M-URL universe, so nearly every candidate link pointed
at an already-seen page, the bloom routed nearly everything into the exact
anti-join anyway, and the prefilter lost 1.5×. That measurement left the
tier's claimed regime — candidates mostly NOVEL, so the bloom's
"definitely-new" verdict bypasses the anti-join shuffle for most rows —
undemonstrated. This script builds exactly that regime: a 4M-URL universe
crawled to only `--max-pages` (default 400k) admissions, so ~90% of
candidate links are new throughout.

Each leg runs in a fresh subprocess (own JVM — master/broadcast state can't
leak across legs) and legs alternate base/bloom/base/bloom so window drift
hits both arms; every leg carries the md5 canary (scripts/canary.py)
measured beside it. Output: one JSON line with per-leg wall seconds,
canaries, and the min-by-arm ratio.

Usage: python scripts/bloom_ab.py [--max-pages N] [--budget N] [--reps K]
       [--universe N] [--cpus N]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LEG_SRC = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
sys.path.insert(0, os.path.join({repo!r}, "scripts"))
from canary import canary_sec
from web_crawler_spark import engine
from web_crawler_spark.config import JobConfig
from web_crawler_spark.core import webgen
from web_crawler_spark.core.robots import generate_rules, rules_by_host
from web_crawler_spark.session import get_spark

cfg = webgen.bench_config({universe})
rules = rules_by_host(generate_rules(cfg))
job = JobConfig(job_id=1, start_url="http://site0.test/p/0",
                max_pages={max_pages}, max_depth=100, delay=0.0)
extra = {{}}
if {no_broadcast}:
    # emulate the 100 TB seen set: at 10^10 rows the exact anti-join can
    # never broadcast, so both arms run the true shuffle anti-join regime
    extra["spark.sql.autoBroadcastJoinThreshold"] = "-1"
spark = get_spark(app_name="bloom-ab", master="local[{cpus}]", extra_conf=extra)
c0 = canary_sec()
t0 = time.time()
run = engine.crawl(spark, job, cfg, rules, {storage!r}, budget={budget},
                   use_bloom={use_bloom}, use_cuckoo={use_cuckoo})
wall = time.time() - t0
c1 = canary_sec()
urls = run.read(spark, "outcomes").count()
print("LEG " + json.dumps({{"tier": {tier!r}, "wall": round(wall, 1),
                           "urls": urls, "rounds": run.rounds,
                           "canary": [c0, c1]}}))
"""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-pages", type=int, default=400_000)
    ap.add_argument("--budget", type=int, default=150_000)
    ap.add_argument("--universe", type=int, default=4_000_000)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS")
                                                     or len(os.sched_getaffinity(0))))
    ap.add_argument("--tiers", nargs="*", default=["base", "bloom"],
                    choices=["base", "bloom", "cuckoo"],
                    help="prefilter arms to interleave per rep")
    ap.add_argument("--no-broadcast", action="store_true",
                    help="force the shuffle anti-join in both arms (emulates "
                         "a seen set too large to broadcast — the tier's "
                         "claimed regime at 10^10 seen URLs)")
    args = ap.parse_args()

    legs = []
    for rep in range(args.reps):
        for tier in args.tiers:
            storage = tempfile.mkdtemp(prefix="bloom_ab_", dir="/dev/shm")
            try:
                src = _LEG_SRC.format(
                    repo=REPO, universe=args.universe, max_pages=args.max_pages,
                    budget=args.budget, cpus=args.cpus, storage=storage,
                    use_bloom=(tier == "bloom"), use_cuckoo=(tier == "cuckoo"),
                    tier=tier, no_broadcast=args.no_broadcast,
                )
                out = subprocess.run(
                    [sys.executable, "-c", src], capture_output=True, text=True,
                    cwd=REPO, timeout=1800,
                )
                line = [l for l in out.stdout.splitlines() if l.startswith("LEG ")]
                if not line:
                    print(out.stdout[-2000:], file=sys.stderr)
                    print(out.stderr[-2000:], file=sys.stderr)
                    return 1
                leg = json.loads(line[-1][4:])
                leg["rep"] = rep
                legs.append(leg)
                print(f"leg rep={rep} tier={tier}: {leg['wall']}s "
                      f"({leg['urls']} urls, {leg['rounds']} rounds, "
                      f"canary {leg['canary']})", file=sys.stderr)
            finally:
                shutil.rmtree(storage, ignore_errors=True)

    mins = {t: min(l["wall"] for l in legs if l["tier"] == t) for t in args.tiers}
    out = {
        "workload": {"universe": args.universe, "max_pages": args.max_pages,
                     "budget": args.budget, "cpus": args.cpus,
                     "no_broadcast": args.no_broadcast},
        "legs": legs,
        "min_sec_by_tier": mins,
    }
    if "base" in mins:
        out["speedup_vs_base"] = {
            t: round(mins["base"] / mins[t], 3) for t in args.tiers if t != "base"
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
