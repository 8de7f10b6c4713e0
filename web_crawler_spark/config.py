"""Job configuration — mirrors the reference's crawl-job parameters.

Reference: ``WebCrawler.__init__`` (``Crawler/crawler.py:44-98``) and the web-form
bounds (``Crawler/app.py:201-216``: http(s) URL, 1 ≤ max_pages ≤ 1000,
1 ≤ max_depth ≤ 10, 0 ≤ delay ≤ 10). The reference randomizes its User-Agent per
request (``crawler.py:126``) — a nondeterminism source we pin to a constant.
"""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import urlparse


@dataclass(frozen=True)
class JobConfig:
    job_id: int
    start_url: str
    max_pages: int = 100
    max_depth: int = 3
    delay: float = 1.0
    max_retries: int = 3
    user_agent: str = "MyCrawler/1.0"  # reference default, crawler.py:53

    @property
    def domain(self) -> str:
        """Crawl domain = netloc of the start URL (crawler.py:80)."""
        return urlparse(self.start_url).netloc

    def validate(self) -> None:
        """Reference web-form bounds (Crawler/app.py:201-216)."""
        if not self.start_url.startswith(("http://", "https://")):
            raise ValueError("start_url must be http(s)")
        if not 1 <= self.max_pages <= 1_000_000_000_000:
            # reference caps at 1000 for its UI; the engine itself has no such limit
            raise ValueError("max_pages out of range")
        if not 1 <= self.max_depth <= 100:
            raise ValueError("max_depth out of range")
        if not 0 <= self.delay <= 10:
            raise ValueError("delay out of range")


@dataclass(frozen=True)
class EngineTuning:
    """Every engine sizing knob in one place, derived once instead of being
    scattered as module constants. All values are per-job policy, not
    hardware facts — ``engine.crawl(tuning=...)`` overrides them wholesale.

    - ``rows_per_partition``: fetch-stage task sizing — the fetch+parse stage
      is the Python-heavy one, so a round should fan out to all cores well
      before it reaches P_max·this many rows. 2048 starved the widest rounds
      of a 20k-URL crawl down to ~6 of 32 cores (WCS_TRACE round trace); 512
      keeps tasks big enough to amortize task launch while saturating the
      executor at realistic round widths.
    - ``small_rank_threshold``: below this many fresh candidates a
      single-partition window rank is cheaper than the two-phase range rank
      (3 jobs → 1); well within one executor's memory.
    - ``wm_broadcast_max_hosts``: below this many seen URLs (an upper bound
      on distinct hosts) the aggregated per-host watermark side is broadcast
      into the pending filter; above it the join is left un-hinted so AQE
      picks a shuffle strategy — the watermark table is O(hosts) and must
      never be forced through a broadcast at open-web scale.

    The URL-seen check has no knob: it is always the exact anti-join.
    """

    rows_per_partition: int = 512
    small_rank_threshold: int = 65_536
    wm_broadcast_max_hosts: int = 1_000_000


DEFAULT_TUNING = EngineTuning()
