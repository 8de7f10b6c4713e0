"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Runs one workload (crawl_polite or corpus_queries, see workloads.py) at
local[<cores available>] in this process, checks every output against its
oracle, and prints one JSON object as the last stdout line: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.
Lines before it (prefixed "#") carry the host facts and a readable summary.
Must be run from a checkout of the repository; everything it writes stays
under that checkout and is removed at exit, except the oracle cache.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
CACHE_DIR = ROOT / ".perfbench_cache"

WORKLOADS = ("crawl_polite", "corpus_queries")

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "step_s_p50": "s",
}

# every per-layer metric is printed on every workload; a layer the workload
# does not exercise reads 0
PER_LAYER = {
    "readback_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "engine.rounds": "count",
    "engine.urls_per_s": "1/s",
    "engine.urls_per_s_ex_gen": "1/s",
    "engine.admit_ratio": "ratio",
    "engine.resume_s": "s",
    "engine.self_s": "s",
    "udfs.fetch_stage_s": "s",
    "udfs.stage_task_s": "s",
    "udfs.gen_share": "ratio",
    "udfs.spark_overhead_share": "ratio",
    "webgen.gen_ms_per_url": "ms",
    "htmlparse.parse_ms_per_url": "ms",
    "urlnorm.canonicalize_us_per_link": "us",
    "robots.allowed_us_per_url": "us",
    "catalog.write_s.stage": "s",
    "catalog.write_n.stage": "count",
    "catalog.write_s.admissions": "s",
    "catalog.write_n.admissions": "count",
    "catalog.read_s": "s",
    "catalog.read_n": "count",
    "catalog.compact_s": "s",
    "catalog.compact_n": "count",
    "catalog.rollback_s": "s",
    "catalog.rollback_n": "count",
    "catalog.state_save_s": "s",
    "catalog.state_save_n": "count",
    "catalog.bytes_per_url": "B",
    "catalog.files_live": "count",
    "spark.jobs_per_step": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.task_skew_max": "ratio",
    "spark.task_s.engine": "s",
    "spark.task_s.udfs": "s",
    "spark.task_s.catalog": "s",
    "spark.task_s.analytics": "s",
    "spark.task_s.streaming": "s",
    "q.frontier_schedule_s": "s",
    "q.corpus_split_s": "s",
    "q.text_lm_score_s": "s",
    "q.host_pagerank_s": "s",
    "q.embed_cosine_topk_s": "s",
    "q.multimodal_image_s": "s",
    "stream.neardup_index_s": "s",
    "stream.neardup_s": "s",
    "steps.n": "count",
    "steps.tail_pct": "pct",
    "steps.tail_s": "s",
    "failed_frac": "ratio",
    "trace.job_s": "s",
    "trace.overhead_share": "ratio",
    "trace.spans": "count",
    "host.canary_s": "s",
}

# span name (or prefix) -> layer, for attributing Spark jobs
SPAN_LAYERS = (
    ("catalog.write.stage", "udfs"),
    ("catalog", "catalog"),
    ("engine", "engine"),
    ("q", "analytics"),
    ("stream", "streaming"),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_facts(cores: int) -> dict:
    from perfbench.workloads import import_script

    canary_sec = import_script("canary").canary_sec
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "cores": cores,
        "mem_gb": round(mem_kb / 2**20, 1),
        "loadavg_1m": os.getloadavg()[0],
        "python": platform.python_version(),
        "canary_n": 1_000_000,
        "canary_sec": canary_sec(1_000_000),
    }


def configure_env(work: Path, cores: int) -> None:
    """Host-derived run settings, set before the JVM and its workers start."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so pin both to the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")


def spark_conf(work: Path, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        # temp files into the checkout; no jvmstat file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        (work / "events").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'events'}",
            # no zstd module is installed for the default codec
            "spark.eventLog.compress": "false",
        })
    return conf


def install_wraps(tracer) -> None:
    from web_crawler_spark import engine, session
    from web_crawler_spark.catalog import RunState, SnapshotTable

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(engine, "crawl", "engine.crawl")
    tracer.wrap(SnapshotTable, "write", lambda self, *a, **k: f"catalog.write.{self.name}")
    tracer.wrap(SnapshotTable, "read", "catalog.read")
    tracer.wrap(SnapshotTable, "compact", "catalog.compact")
    tracer.wrap(SnapshotTable, "rollback_to_round", "catalog.rollback")
    tracer.wrap(RunState, "save", "catalog.state_save")


def stop_spark(spark) -> None:
    """Stop the session, end the JVM by closing its stdin, and wait for every
    process this run started (JVM, Python worker daemon and workers)."""
    from pyspark import SparkContext

    from perfbench.stats import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args, work: Path, cores: int) -> tuple[dict, dict]:
    from perfbench import workloads as W
    from perfbench.stats import TreeRssSampler, failed_frac
    from perfbench.trace import Tracer

    cache = W.Cache(CACHE_DIR)
    src = W.source_digest()
    tracer = Tracer() if args.trace else None
    results: list = []
    with TreeRssSampler() as rss:
        probe = W.SaveProbe()
        if tracer is not None:
            install_wraps(tracer)
        spark = None
        try:
            from web_crawler_spark import session

            t0 = time.time()
            spark = session.get_spark(app_name="perfbench", extra_conf=spark_conf(work, bool(tracer)))
            if args.workload == "crawl_polite":
                W.warm_crawl(spark, W.WARM_POLITE, str(work / "warm"))
            else:
                W.warm_corpus(spark, str(work / "warm"))
            setup_s = time.time() - t0

            t_meas = time.time()
            while True:
                t_cycle = time.time()
                out = str(work / f"job{len(results)}")
                if args.workload == "corpus_queries":
                    r = W.corpus_job(spark, out, cache, src, f"neardup_{len(results)}", tracer)
                else:
                    r = W.crawl_job(spark, W.POLITE, args.seed, out, probe, cache, src, tracer)
                shutil.rmtree(out, ignore_errors=True)
                results.append(r)
                now = time.time()
                if now - t_meas + (now - t_cycle) > args.seconds:
                    break
        finally:
            if tracer is not None:
                tracer.restore()
            probe.restore()
            if spark is not None:
                stop_spark(spark)
    facts = host_facts(cores)
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    steps = [s for r in results for s in r.steps]
    job_s = statistics.median(r.job_s for r in results)
    summary = {
        "workload": args.workload, "seed": args.seed, "jobs": len(results),
        "job_s": [round(r.job_s, 3) for r in results], "steps": [round(x, 3) for x in steps],
        "failed_checks": sorted({k for r in results for k, ok in r.details["checks"].items()
                                 if not ok}),
    }
    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "step_s_p50": statistics.median(steps),
        }
        record_untraced(args, src, job_s)
        units = END_TO_END
    else:
        metrics = layer_metrics(args, tracer, results, work, cores, src, facts)
        metrics["failed_frac"] = failed_frac(attempted, failed)
        metrics["peak_rss_mb"] = rss.peak_bytes / 2**20
        metrics["readback_s"] = statistics.median(r.readback_s for r in results)
        units = PER_LAYER
    if set(metrics) != set(units):
        raise RuntimeError(f"metric names out of step: {sorted(set(metrics) ^ set(units))}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }, {"host": facts, "summary": summary}


def record_untraced(args, src: str, job_s: float) -> None:
    """Keep the untraced job time so a traced run of the same seed can report
    its overhead."""
    path = CACHE_DIR / f"untraced-{args.workload}-{src}-{args.seed}.json"
    with open(path, "w") as f:
        json.dump({"job_s": job_s}, f)


def untraced_job_s(args, src: str):
    exact = CACHE_DIR / f"untraced-{args.workload}-{src}-{args.seed}.json"
    paths = [exact] if exact.exists() else sorted(CACHE_DIR.glob(f"untraced-{args.workload}-{src}-*.json"))
    vals = [json.loads(p.read_text())["job_s"] for p in paths]
    return statistics.median(vals) if vals else None


def layer_metrics(args, tracer, results, work: Path, cores: int, src: str, facts: dict) -> dict:
    from perfbench import workloads as W
    from perfbench.stats import highest_supported_percentile, percentile
    from perfbench.trace import (event_log_lines, job_metrics, jobs_under, parse_event_log,
                                 self_times)

    n_jobs = len(results)
    m = {k: 0.0 for k in PER_LAYER}

    def per_job(prefix: str) -> tuple[float, float]:
        total, count = tracer.total(prefix, within="job")
        return total / n_jobs, count / n_jobs

    jobs = parse_event_log(event_log_lines(work / "events"))
    measured = jobs_under(tracer, jobs, "job")
    job_wall = sum(r.job_s for r in results)
    agg = job_metrics(measured, job_wall, cores)
    steps = [s for r in results for s in r.steps]
    for k in ("tasks", "task_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s"):
        m[f"spark.{k}"] = agg[k] / n_jobs
    m["spark.core_util"] = agg["core_util"]
    m["spark.task_skew_max"] = agg["task_skew_max"]
    m["spark.jobs_per_step"] = agg["jobs"] / len(steps)
    by_layer: dict[str, list] = {}
    for j in measured:
        s = tracer.innermost_at(j.submit_s)
        layer = next((lay for pre, lay in SPAN_LAYERS
                      if s.name == pre or s.name.startswith(pre + ".")), None)
        if layer is not None:
            by_layer.setdefault(layer, []).append(j)
    for layer in ("engine", "udfs", "catalog", "analytics", "streaming"):
        m[f"spark.task_s.{layer}"] = job_metrics(by_layer.get(layer, []), 1.0, cores)["task_s"] / n_jobs

    m["session.start_s"] = tracer.total("session.get_spark")[0]
    m["steps.n"] = len(steps) / n_jobs
    tail = highest_supported_percentile(len(steps))
    if tail is not None:
        m["steps.tail_pct"] = tail
        m["steps.tail_s"] = percentile(steps, tail)
    m["trace.job_s"] = statistics.median(r.job_s for r in results)
    base = untraced_job_s(args, src)
    m["trace.overhead_share"] = m["trace.job_s"] / base - 1.0 if base else 0.0
    m["trace.spans"] = len(tracer.spans) / n_jobs
    m["host.canary_s"] = facts["canary_sec"]

    if args.workload == "corpus_queries":
        for k in results[0].details["times"]:
            m[f"{k}_s"] = statistics.median(r.details["times"][k] for r in results)
        return m

    d = results[0].details
    urls = d["urls"]
    m["engine.rounds"] = d["rounds"]
    m["engine.urls_per_s"] = statistics.median(r.details["urls"] / r.job_s for r in results)
    m["engine.admit_ratio"] = (urls - 1) / d["n_links"]
    m["engine.resume_s"] = next(t for t in d["stamps"] if t > d["t_resume"]) - d["t_resume"]
    selfs = self_times(tracer.spans)
    m["engine.self_s"] = sum(selfs[s.id] for s in tracer.by_name("engine.crawl", "job")) / n_jobs
    for span, key in (("catalog.write.stage", "write_{}.stage"),
                      ("catalog.write.admissions", "write_{}.admissions"),
                      ("catalog.read", "read_{}"), ("catalog.compact", "compact_{}"),
                      ("catalog.rollback", "rollback_{}"), ("catalog.state_save", "state_save_{}")):
        total, count = per_job(span)
        m["catalog." + key.format("s")] = total
        m["catalog." + key.format("n")] = count
    m["catalog.bytes_per_url"] = d["bytes"] / urls
    m["catalog.files_live"] = d["files_live"]

    # the fetch stage runs inside the stage table's write; split its task time
    # into the replayed generator, parse and robots work, and the remainder
    m["udfs.fetch_stage_s"] = m["catalog.write_s.stage"]
    stage_task_s = job_metrics(jobs_under(tracer, measured, "catalog.write.stage"),
                               1.0, cores)["task_s"] / n_jobs
    m["udfs.stage_task_s"] = stage_task_s
    replay = W.replay_layers(W.POLITE, args.seed, d["crawled"])
    m.update(replay)
    gen_s = replay["webgen.gen_ms_per_url"] * d["n_parsed"] / 1e3
    parse_s = replay["htmlparse.parse_ms_per_url"] * d["n_parsed"] / 1e3
    robots_s = replay["robots.allowed_us_per_url"] * urls / 1e6
    if stage_task_s > 0:
        m["udfs.gen_share"] = gen_s / stage_task_s
        m["udfs.spark_overhead_share"] = 1.0 - (gen_s + parse_s + robots_s) / stage_task_s
    m["engine.urls_per_s_ex_gen"] = statistics.median(
        r.details["urls"] / max(1e-9, r.job_s - gen_s / cores) for r in results)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "web_crawler_spark" / "__init__.py").is_file():
        print(f"error: no web_crawler_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    cores = len(os.sched_getaffinity(0))
    work = WORK_ROOT / f"run-{os.getpid()}"
    configure_env(work, cores)
    try:
        result, info = run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if WORK_ROOT.exists() and not any(WORK_ROOT.iterdir()):
            WORK_ROOT.rmdir()
    print("# host " + json.dumps(info["host"]))
    print("# run " + json.dumps(info["summary"]))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
