"""The benchmark's two workloads and their correctness checks.

Each workload has a warm-up (part of set-up), a job (the timed unit of work,
repeated while the run's time allows), a read-back of the job's outputs
(timed separately) and a check against an independent oracle (untimed).

- crawl_polite: a crawl under the reference's global politeness budget
  (50 URLs per round), stopped early and resumed, with compaction. Many
  small rounds, so the fixed Spark jobs and catalog commits of a round
  dominate, and snapshot writes sit beside derived-frontier and time-travel
  reads. Every crawl layer runs: engine, catalog, the fused fetch stage.
- corpus_queries: one query of every analytics module and the streaming
  near-dup twin over a fixed corpus. No crawl engine runs, so
  crawl changes should not move it.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DATA_DIR = Path(__file__).resolve().parent / "data"
PACKAGE_DIR = ROOT / "web_crawler_spark"

# The single-site synthetic web of bench.py's crawl leg: the reference crawls
# one domain (subdomains included), so every page lives under site0.test.
SUBDOMAINS = ("", "docs.", "app.", "blog.", "shop.", "wiki.", "img.", "dev.")


@dataclass(frozen=True)
class CrawlSpec:
    max_pages: int
    delay: float  # politeness delay: 1.2 s = 50 URLs per 60 s round
    compact_every: int
    stop_round: int  # crawl to this round, then resume to the end
    as_of_round: int  # read `seen` as of this round between the two legs


# Rounds that still admit URLs take about twice as long as the rounds that
# drain the frontier after the page cap binds; 1,200 pages give about 9 of
# the first and 16 of the second, so the median round is a draining one.
# The first leg stops before the first compaction (round 8), so round 4 can
# still be read back while later rounds keep admitting URLs.
POLITE = CrawlSpec(max_pages=1200, delay=1.2, compact_every=8, stop_round=7, as_of_round=4)
WARM_POLITE = CrawlSpec(max_pages=100, delay=1.2, compact_every=2, stop_round=2, as_of_round=2)
WARM_SEED = 0

# One query of every analytics module, in a fixed order; the streaming
# near-dup twin runs after the list.
CORPUS_QUERIES = (
    "frontier_schedule",  # relational
    "corpus_split",  # dedup: minhash LSH pairs + component labels
    "text_lm_score",  # text
    "host_pagerank",  # graph
    "embed_cosine_topk",  # similarity
    "multimodal_image",  # multimodal
)
CORPUS_TABLES = ("documents", "events", "embeddings")
# leading rows of each table in the warm-up corpus: enough for every query and
# the stream to run the plans of the timed pass, at a fraction of its cost
WARM_ROWS = {"documents": 100, "events": 2000, "embeddings": 100}
READBACK_TABLES = ("outcomes", "crawl_log", "links", "metrics")


@dataclass
class JobResult:
    job_s: float
    readback_s: float
    steps: list[float]  # round or query latencies
    attempted: int
    failed: int
    details: dict = field(default_factory=dict)


def source_digest() -> str:
    """Digest of the package source and of this file (which fixes the crawl's
    web and the query list), so cached oracle answers follow the code."""
    h = hashlib.sha256()
    for p in [*sorted(PACKAGE_DIR.rglob("*.py")), Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


class Cache:
    """Oracle answers kept in the checkout between runs of the same code."""

    def __init__(self, root: Path):
        self.root = root
        root.mkdir(parents=True, exist_ok=True)

    def get(self, key: str, compute):
        path = self.root / f"{key}.json"
        if path.exists():
            with open(path) as f:
                return json.load(f)
        value = compute()
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value


class SaveProbe:
    """Timestamps every ``RunState.save`` commit: the end of a crawl round.
    One list append per round; installed in untraced runs too."""

    def __init__(self) -> None:
        from web_crawler_spark.catalog import RunState

        self._cls = RunState
        self._orig = RunState.__dict__["save"]
        self.stamps: list[float] = []
        orig, stamps = self._orig, self.stamps

        def save(self_, state):
            orig(self_, state)
            stamps.append(time.time())

        RunState.save = save

    def restore(self) -> None:
        self._cls.save = self._orig


# ---------------------------------------------------------------------------
# crawls


def _crawl_inputs(spec: CrawlSpec, seed: int):
    from web_crawler_spark.config import JobConfig
    from web_crawler_spark.core import webgen
    from web_crawler_spark.core.robots import generate_rules, rules_by_host

    cfg = webgen.make_config(n_sites=1, subdomains=SUBDOMAINS,
                             base_pages=max(64, spec.max_pages // len(SUBDOMAINS)),
                             skew=0.5, mean_outlinks=30, seed=seed)
    rules = rules_by_host(generate_rules(cfg))
    job = JobConfig(job_id=7, start_url=_start_url(cfg, rules), max_pages=spec.max_pages,
                    max_depth=30, delay=spec.delay)
    return cfg, rules, job


def _start_url(cfg, rules) -> str:
    """The first page of site0.test that is allowed and fetched with links.
    Some seeds make /p/0 an error page, which would end the crawl at once."""
    from web_crawler_spark.config import JobConfig
    from web_crawler_spark.core import webgen
    from web_crawler_spark.core.robots import allowed

    ua = JobConfig.user_agent
    for i in range(cfg.pages_per_host[0]):
        url = webgen.url_of("site0.test", i)
        if (allowed(url, ua, rules) and webgen.status_of(url, cfg) == 200
                and webgen.page_spec(url, cfg).raw_links):
            return url
    raise ValueError(f"no crawlable start page for web seed {cfg.seed}")


def _order_digest(pairs) -> str:
    h = hashlib.sha256()
    for seq, url in pairs:
        h.update(f"{seq}\t{url}\n".encode())
    return h.hexdigest()


def crawl_oracle(spec: CrawlSpec, seed: int) -> dict:
    """Expected crawl from the pure-Python reference simulator."""
    from web_crawler_spark.core import oracle

    cfg, rules, job = _crawl_inputs(spec, seed)
    res = oracle.simulate(job, cfg, rules)
    n_disallowed = sum(1 for o in res.outcomes if o["outcome"] == "disallowed")
    return {
        "order": _order_digest((a["seq"], a["url"]) for a in res.admissions),
        "seen": _order_digest(enumerate(sorted(res.visited))),
        "n_parsed": len(res.crawl_log),
        "n_links": len(res.links),
        "n_fetched": len(res.outcomes) - n_disallowed,
    }


def run_crawl(spark, spec: CrawlSpec, seed: int, storage: str, between, tracer=None):
    """Crawl to the stop round, call *between* (untimed) with the stopped run,
    then resume to the end. Returns the run, the crawl time of both legs, the
    epoch time of the resume call and what *between* returned."""
    from web_crawler_spark import engine

    cfg, rules, job = _crawl_inputs(spec, seed)
    kw = dict(budget=engine.politeness_budget(job), compact_every=spec.compact_every)
    t0 = time.time()
    with _span(tracer, "job"):
        run = engine.crawl(spark, job, cfg, rules, storage, max_rounds=spec.stop_round, **kw)
    crawl_s = time.time() - t0
    mid = between(run)
    t_resume = time.time()
    with _span(tracer, "job"):
        run = engine.crawl(spark, job, cfg, rules, storage, resume=True, **kw)
    return run, crawl_s + time.time() - t_resume, t_resume, mid


def crawl_job(spark, spec: CrawlSpec, seed: int, storage: str, probe: SaveProbe,
              cache: Cache, src: str, tracer=None) -> JobResult:
    from pyspark.sql import functions as F

    def read_past(stopped):
        # time travel to a round before the last admission, while its
        # snapshots are live (the resumed leg's compactions expire them)
        t0 = time.time()
        with _span(tracer, "readback"):
            rows = stopped.read(spark, "seen", as_of_round=spec.as_of_round).collect()
        return time.time() - t0, sorted((r["seq"], r["url"]) for r in rows)

    n_saves = len(probe.stamps)
    run, job_s, t_resume, (past_s, past) = run_crawl(spark, spec, seed, storage, read_past, tracer)
    stamps = probe.stamps[n_saves:]
    # the first gap spans the untimed read between the legs
    steps = [b - a for a, b in zip(stamps, stamps[1:]) if not a < t_resume < b]

    def read_back():
        for name in READBACK_TABLES:
            run.read(spark, name).write.format("noop").mode("overwrite").save()

    readback_s, _ = _timed_median(read_back, tracer)
    readback_s += past_s

    with _span(tracer, "check"):
        want = cache.get(f"crawl-{src}-{spec.max_pages}-{spec.delay}-{seed}",
                         lambda: crawl_oracle(spec, seed))
        seen_rows = run.read(spark, "seen").collect()
        seen = sorted((r["seq"], r["url"]) for r in seen_rows)
        seen_urls = [u for _, u in seen]
        seen_then = sorted((r["seq"], r["url"]) for r in seen_rows
                           if r["round_added"] <= spec.as_of_round)
        fetched = sorted((r["seq"], r["url"]) for r in
                         run.read(spark, "outcomes").select("seq", "url").collect())
        n_metrics = run.read(spark, "metrics").agg(F.sum("rows_in")).collect()[0][0] or 0
        checks = {
            "order": _order_digest(seen) == want["order"],
            "seen": _order_digest(enumerate(sorted(seen_urls))) == want["seen"],
            "outcomes": fetched == seen,
            "crawl_log": run.read(spark, "crawl_log").count() == want["n_parsed"],
            "links": run.read(spark, "links").count() == want["n_links"],
            "metrics": n_metrics == want["n_fetched"],
            # a strict prefix: URLs were still admitted after that round
            "as_of_seen": 0 < len(past) < len(seen) and past == seen_then,
        }
    details = {
        "rounds": run.rounds,
        "urls": len(fetched),
        "t_resume": t_resume,
        "stamps": stamps,
        "n_parsed": want["n_parsed"],
        "n_links": want["n_links"],
        "checks": checks,
    }
    if tracer is not None:
        details["crawled"] = seen_urls
        details["bytes"] = sum(f.stat().st_size for f in Path(storage).rglob("*") if f.is_file())
        details["files_live"] = sum(
            sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
            for t in run.tables.values() for p in t.live_paths())
    return JobResult(job_s, readback_s, steps, len(checks),
                     sum(1 for ok in checks.values() if not ok), details)


# ---------------------------------------------------------------------------
# corpus queries


def import_script(name: str):
    """A module of the repository's scripts/ directory."""
    if str(ROOT / "scripts") not in sys.path:
        sys.path.append(str(ROOT / "scripts"))
    return importlib.import_module(name)


def _value_hash(df) -> str:
    """The parity checker's order-insensitive hash of a result frame."""
    return import_script("check_parity").value_hash(df)


def corpus_oracle() -> dict:
    """DuckDB answers for every corpus query over the fixed corpus."""
    import duckdb

    from web_crawler_spark.analytics import LOCAL_ORACLES, ORACLES

    oracles = {**ORACLES, **LOCAL_ORACLES}
    con = duckdb.connect()
    try:
        for t in CORPUS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR / t}.parquet')")
        out = {}
        for name in CORPUS_QUERIES:
            df = con.execute(oracles[name]).fetchdf()
            out[name] = {"rows": len(df), "columns": sorted(df.columns), "hash": _value_hash(df)}
        return out
    finally:
        con.close()


def data_digest() -> str:
    """Digest of the corpus files, so cached oracle answers follow the data."""
    h = hashlib.sha256()
    for p in sorted(DATA_DIR.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _neardup_inputs(spark, data_dir: Path, stream_src: str):
    from pyspark.sql import functions as F

    from web_crawler_spark.analytics.dedup import INCR_MOD

    docs = spark.read.parquet(str(data_dir / "documents.parquet"))
    is_new = F.col("doc_id") % INCR_MOD == INCR_MOD - 1
    docs.filter(is_new).write.mode("overwrite").parquet(stream_src)
    return docs.filter(~is_new), docs


def _neardup_rows(rows) -> dict:
    return {r["doc_id"]: (r["dup_of"], round(r["jaccard"], 9)) for r in rows}


def corpus_pass(spark, out_dir: str, table: str, tracer=None,
                data_dir: Path = DATA_DIR) -> tuple[dict, list]:
    """Run every corpus query over *data_dir* to a parquet sink, then build the
    near-dup index and stream the new documents against it into the memory
    table *table*. Returns the step times and the cached index frames."""
    from web_crawler_spark.analytics import LOCAL_QUERIES, QUERIES, dedup
    from web_crawler_spark.streaming import stream_neardup

    queries = {**QUERIES, **LOCAL_QUERIES}
    times: dict[str, float] = {}
    for name in CORPUS_QUERIES:
        if name == "corpus_split":
            # time the label build, not the session memo an earlier pass filled
            dedup._LABELS_MEMO.clear()
        t0 = time.time()
        with _span(tracer, f"q.{name}"):
            queries[name](spark, str(data_dir)).write.mode("overwrite").parquet(f"{out_dir}/{name}")
        times[f"q.{name}"] = time.time() - t0

    t0 = time.time()
    with _span(tracer, "stream.neardup_index"):
        corpus, population = _neardup_inputs(spark, data_dir, f"{out_dir}/doc_stream")
        index = [df.cache() for df in
                 stream_neardup.build_index(spark, corpus, df_population=population)]
        for df in index:
            df.count()
    times["stream.neardup_index"] = time.time() - t0
    t0 = time.time()
    with _span(tracer, "stream.neardup"):
        q = stream_neardup.run_to_memory(
            stream_neardup.neardup_stream(spark, f"{out_dir}/doc_stream", *index), name=table)
        q.stop()
    times["stream.neardup"] = time.time() - t0
    return times, index


def _release(spark, index: list, table: str) -> None:
    for df in index:
        df.unpersist()
    spark.catalog.dropTempView(table)


def corpus_job(spark, out_dir: str, cache: Cache, src: str, table: str,
               tracer=None) -> JobResult:
    from web_crawler_spark.streaming import stream_neardup

    t0 = time.time()
    with _span(tracer, "job"):
        times, index = corpus_pass(spark, out_dir, table, tracer)
    job_s = time.time() - t0

    def read_back():
        got = {name: spark.read.parquet(f"{out_dir}/{name}").toPandas() for name in CORPUS_QUERIES}
        return got, _neardup_rows(spark.table(table).collect())

    readback_s, (got, streamed) = _timed_median(read_back, tracer)

    with _span(tracer, "check"):
        want = cache.get(f"corpus-{src}-{data_digest()}", corpus_oracle)
        checks = {}
        for name, df in got.items():
            w = want[name]
            checks[name] = (len(df) == w["rows"] and sorted(df.columns) == w["columns"]
                            and _value_hash(df) == w["hash"])
        batch = _neardup_rows(stream_neardup.neardup_batch(
            spark, f"{out_dir}/doc_stream", *index).collect())
        checks["stream_neardup"] = bool(streamed) and streamed == batch
        _release(spark, index, table)
    steps = [times[f"q.{n}"] for n in CORPUS_QUERIES] + [
        times["stream.neardup_index"] + times["stream.neardup"]]
    return JobResult(job_s, readback_s, steps, len(checks),
                     sum(1 for ok in checks.values() if not ok),
                     {"times": times, "checks": checks})


def warm_corpus(spark, out_dir: str) -> None:
    """One untimed pass of the corpus job over the leading rows of each table:
    compiles every plan the timed pass runs, starts the Python workers and
    warms the JIT. In a trial the timed pass after it ran as fast as after a
    whole pass (see README.md)."""
    import pyarrow.parquet as pq

    data_dir = Path(out_dir) / "data"
    data_dir.mkdir(parents=True)
    for t, n in WARM_ROWS.items():
        pq.write_table(pq.read_table(DATA_DIR / f"{t}.parquet").slice(0, n),
                       data_dir / f"{t}.parquet")
    _, index = corpus_pass(spark, out_dir, "neardup_warm", data_dir=data_dir)
    _release(spark, index, "neardup_warm")
    shutil.rmtree(out_dir, ignore_errors=True)


def warm_crawl(spark, spec: CrawlSpec, storage: str) -> None:
    """A small crawl through the same code paths, with its read-back."""
    run, _, _, _ = run_crawl(
        spark, spec, WARM_SEED, storage,
        lambda stopped: stopped.read(spark, "seen", as_of_round=spec.as_of_round).collect())
    for name in READBACK_TABLES:
        run.read(spark, name).write.format("noop").mode("overwrite").save()
    run.read(spark, "seen").collect()
    shutil.rmtree(storage, ignore_errors=True)


# ---------------------------------------------------------------------------
# layer replays (traced runs): single-process re-execution of the fetch
# stage's per-URL work over a sample of the crawled URLs


def replay_layers(spec: CrawlSpec, seed: int, urls: list[str], limit: int = 600) -> dict:
    from web_crawler_spark.core import htmlgen, htmlparse, webgen
    from web_crawler_spark.core.robots import allowed
    from web_crawler_spark.core.urlnorm import canonicalize

    cfg, rules, job = _crawl_inputs(spec, seed)
    sample = urls[:: max(1, len(urls) // limit)][:limit]
    domain, ua = job.domain, job.user_agent

    t0 = time.perf_counter()
    for u in sample:
        allowed(u, ua, rules)
    robots_s = time.perf_counter() - t0

    pages = []
    t0 = time.perf_counter()
    for u in sample:
        if webgen.status_of(u, cfg) == 200:
            pages.append((u, htmlgen.render_html(webgen.page_spec(u, cfg))))
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    for u, html in pages:
        htmlparse.parse_page(html, u, domain)
        htmlparse.parse_payload(html)
    parse_s = time.perf_counter() - t0

    hrefs = [(h, u) for u, html in pages for h, _, _ in htmlparse.parse_raw_anchors(html)]
    t0 = time.perf_counter()
    for h, u in hrefs:
        canonicalize(h, u, domain)
    canon_s = time.perf_counter() - t0

    n_pages = max(1, len(pages))
    return {
        "robots.allowed_us_per_url": robots_s / max(1, len(sample)) * 1e6,
        "webgen.gen_ms_per_url": gen_s / n_pages * 1e3,
        "htmlparse.parse_ms_per_url": parse_s / n_pages * 1e3,
        "urlnorm.canonicalize_us_per_link": canon_s / max(1, len(hrefs)) * 1e6,
    }


def _timed_median(fn, tracer, repeats: int = 3):
    """Median wall time of *repeats* calls of a short read-back, and the last
    call's result: one read-back takes about a second, too short to time once.
    Untraced runs, which do not report the time, read back once."""
    times = []
    for _ in range(repeats if tracer is not None else 1):
        t0 = time.time()
        with _span(tracer, "readback"):
            out = fn()
        times.append(time.time() - t0)
    return statistics.median(times), out


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()
