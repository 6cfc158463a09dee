"""F2/F5/F7/F9 — admission filtering of frontier candidates.

Reference semantics (/root/reference/core/crawler.py:685-749): a URL
is admitted iff (a) not already visited / in progress, (b) depth <=
max_depth (default 5), (c) same-site host scope. The reference orders
the checks cheapest-first (seen → depth → domain); declaratively we
keep the cheap column predicates *before* the anti-join so Catalyst
prunes rows ahead of any shuffle, which preserves that tactic without
hand-scheduling (SURVEY §4).

Robots gating (F9, utils/http.py:228-242) is a broadcast join of the
per-host rules table + an ``exists()`` prefix test; the reference's
``Crawler`` ships with respect_robots=False (crawler.py:602) while
still honoring crawl-delay, so the gate is a flag here too.

Retry (F7, crawler.py:317-333): failed URLs re-enter the candidate set
while attempts < max_retries (3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.url import url_host, url_path
from ..state.bloom import BloomSeenSet, anti_join_seen

MAX_DEPTH_DEFAULT = 5  # reference config/settings.py:54
MAX_RETRIES = 3  # reference config/settings.py:57

HOST_SCOPE_RE = r"^host\d+\.example$"  # synthetic-world same-site scope


def admit(
    candidates: DataFrame,
    visited: DataFrame,
    max_depth: int = MAX_DEPTH_DEFAULT,
    host_scope_re: str = HOST_SCOPE_RE,
    robots_rules: DataFrame | None = None,
    respect_robots: bool = True,
    bloom: BloomSeenSet | None = None,
    cand_bloom: BloomSeenSet | None = None,
) -> DataFrame:
    """candidates(url_canon, url_hash, host, depth, ...) → admitted rows.

    Cheap column predicates first (codegen'd, pushed to scan), the
    seen-set anti-join last so it only shuffles survivors.

    ``cand_bloom``: prebuilt candidate-keys bloom for the symmetric
    visited-side pre-filter (see anti_join_seen) — the epoch builds it
    from the raw candidate union, which has the same key set as the
    deduped candidates it admits."""
    out = candidates.filter(
        F.col("url_canon").isNotNull()
        & (F.col("depth") <= max_depth)
        & F.col("host").rlike(host_scope_re)
    )
    if respect_robots and robots_rules is not None:
        rules = F.broadcast(robots_rules.select("host", "disallow_prefixes"))
        out = (
            out.join(rules, "host", "left")
            .filter(
                F.col("disallow_prefixes").isNull()
                | ~F.exists(
                    "disallow_prefixes",
                    lambda p: url_path(F.col("url_canon")).startswith(p),
                )
            )
            .drop("disallow_prefixes")
        )
    return anti_join_seen(out, visited, "url_hash", bloom=bloom, cand_bloom=cand_bloom)


def retry_candidates(failed: DataFrame, max_retries: int = MAX_RETRIES) -> DataFrame:
    """F7: failed rows still under the retry budget, with attempt count."""
    return failed.filter(F.col("attempts") < max_retries).select(
        "url_canon", "url_hash", "host", "depth", "parent_url", "attempts"
    )
