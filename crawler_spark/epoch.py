"""The scheduling epoch — one DataFrame job per epoch — and the
adaptive-phase crawl controller (the Spark-native replacement for the
reference's smart-crawler loop, /root/reference/scripts/smart_crawler.py).

Per epoch (SURVEY §3.2 mapping):

  candidates = (frontier deltas ⟕anti failed) ∪ retryable-failed
             → dedup-by-url_hash (min (depth, parent) rule)
  admitted   = F2 column filters → robots gate → F5 anti-join vs visited
  scored     = D5 job_type + F4 priority (pure columns)
  selected   = F3 window rank ≤ F8 per-host slots → global top-K
  results    = A4 salted fetch UDF, written once as the fetched payload
               (visited/images are pruned projections of it)
  outputs    = failed state, frontier Δ (F11 link emit via the
               closed-form graph), metrics per host_bucket
  commit     = SnapshotStore.commit_epoch (atomic manifest)

Counters (candidates/admitted) are counted in the one admission pass,
as the reference's ``CrawlState.stats`` bumps them while it admits
(crawler.py:335-351): ``df.observe`` on the deduped candidates and on
admit's output, each one aggregate — an array of per-host_bucket row
counts — that the fetch job's ``collect()`` fills in passing. Observed
metrics are accumulator-backed, so a shuffle-map stage re-run after a
lost executor can over-count them; no engine decision reads them
(``stats_sum`` reads only ``fetched_ok``). Pinning the fetch subtree
with persist() instead measured ~4x worse: the cached fragment froze
its shuffle plan and AQE could no longer convert the visited anti-join
into a runtime broadcast inside the fetch job. Resume (F16): the
controller restarts from ``store.latest_epoch()+1``; an epoch
interrupted before its manifest commit is invisible and re-runs
identically (all inputs are functions of committed state + the
deterministic world).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fixtures as fx
from .functions.url import canonicalize, engine_hash, host_bucket, url_host
from .operators import admission, fetch as fetch_op, schedule
from .operators.jobtype import job_type
from .operators.priority import priority_score
from .state.bloom import BloomSeenSet
from .state.snapshots import METRICS_SCHEMA, SnapshotStore

#: tables every epoch writes — shared by the normal and reseed commits
EPOCH_TABLES = ["fetched", "failed", "frontier", "metrics"]


@dataclass
class EpochConfig:
    max_depth: int = admission.MAX_DEPTH_DEFAULT
    max_retries: int = admission.MAX_RETRIES
    epoch_seconds: float = 60.0
    epoch_budget: int | None = 10_000
    num_buckets: int = 32
    salt_buckets: int = 8
    host_scope_re: str = admission.HOST_SCOPE_RE
    respect_robots: bool = True
    # False → exact anti-join only; True → always build the Bloom;
    # "auto" (default) → engage the Bloom pre-filter once the visited
    # set (estimated driver-side from manifest stats — ZERO extra
    # Spark jobs) crosses bloom_auto_threshold. Below the threshold
    # the exact join broadcasts fine; past it the Bloom is the scale
    # story (the 10^9-visited regime of the north rule: compact
    # broadcast filter + exact confirm instead of shuffling every
    # candidate).
    use_bloom: bool | str = "auto"
    bloom_auto_threshold: int = 1_000_000
    bloom_fpp: float = 0.01

    def __post_init__(self):
        # a truthy string such as "false" would otherwise engage the Bloom
        if not (isinstance(self.use_bloom, bool) or self.use_bloom == "auto"):
            raise ValueError(
                f"EpochConfig.use_bloom must be True, False or 'auto', "
                f"got {self.use_bloom!r}"
            )


def seeds_to_frontier(seeds: DataFrame, url_col: str = "url") -> DataFrame:
    """A1: seed list → frontier delta at depth 0 (crawler.py:984-1022)."""
    canon = canonicalize(F.col(url_col))
    return (
        seeds.select(canon.alias("url_canon"))
        .filter(F.col("url_canon").isNotNull())
        .select(
            "url_canon",
            engine_hash(F.col("url_canon")).alias("url_hash"),
            url_host(F.col("url_canon")).alias("host"),
            F.lit(0).alias("depth"),
            F.lit(None).cast("string").alias("parent_url"),
        )
    )


def dedup_candidates(cands: DataFrame) -> DataFrame:
    """Keep one row per url_hash: min (depth, parent_url NULLS FIRST,
    attempt). Deterministic replacement for the reference's
    first-enqueue-wins (which is thread-order-dependent,
    crawler.py:685-749).

    Shape: hash aggregate `min(struct(...))`, NOT a row_number window —
    the aggregate gets map-side partial combine (the shuffle carries
    one row per distinct url_hash per input partition, no sort), while
    the window shuffles and SORTS every duplicate row. On this host the
    sort path was the dominant, bandwidth-bound cost of the epoch at
    10^6 candidates; at 100 TB partial aggregation is the only shape
    that bounds shuffle volume by distinct keys instead of raw rows.
    NULLS FIRST is encoded as (parent IS NOT NULL, coalesce(parent,''))
    inside the struct — bit-exact with the simulator's min-rule
    (simulator._frontier_insert)."""
    m = cands.groupBy("url_hash").agg(
        F.min(
            F.struct(
                F.col("depth"),
                F.col("parent_url").isNotNull().alias("p_nn"),
                F.coalesce(F.col("parent_url"), F.lit("")).alias("p"),
                F.col("attempt"),
                F.col("url_canon"),
                F.col("host"),
            )
        ).alias("m")
    )
    return m.select(
        F.col("m.url_canon").alias("url_canon"),
        "url_hash",
        F.col("m.host").alias("host"),
        F.col("m.depth").alias("depth"),
        F.when(F.col("m.p_nn"), F.col("m.p")).alias("parent_url"),
        F.col("m.attempt").alias("attempt"),
    )


def emit_links(fetched_ok: DataFrame) -> DataFrame:
    """F11/F1: closed-form out-links → explode → canonicalize → delta."""
    links = fetched_ok.select(
        F.col("url_canon").alias("parent_url"),
        F.col("depth"),
        F.explode(fx.out_links(F.col("url_canon"), F.col("depth"))).alias("url_raw"),
    )
    canon = canonicalize(F.col("url_raw"))
    out = links.select(
        canon.alias("url_canon"),
        F.col("parent_url"),
        (F.col("depth") + 1).alias("depth"),
    ).filter(F.col("url_canon").isNotNull())
    out = out.select(
        "url_canon",
        engine_hash(F.col("url_canon")).alias("url_hash"),
        url_host(F.col("url_canon")).alias("host"),
        F.col("depth").cast("int").alias("depth"),
        "parent_url",
    )
    # in-delta dedup (same tie-break rule as candidate dedup):
    # min(struct) hash aggregate, not a window — map-side combine
    # collapses the ~8x link fan-in before the shuffle, so the
    # exchange carries distinct url_hashes, not every emitted link
    # (parent_url is never NULL here: it is the fetched row's canon)
    m = out.groupBy("url_hash").agg(
        F.min(F.struct("depth", "parent_url", "url_canon", "host")).alias("m")
    )
    return m.select(
        F.col("m.url_canon").alias("url_canon"),
        "url_hash",
        F.col("m.host").alias("host"),
        F.col("m.depth").alias("depth"),
        F.col("m.parent_url").alias("parent_url"),
    )


def _bucket_counts(nb: int):
    """One aggregate: the array of row counts per host_bucket 0..nb-1."""
    b = host_bucket(F.col("host"), nb)
    return F.array(*[F.count_if(b == i) for i in range(nb)]).alias("n")


def _observed_buckets(done: DataFrame, name: str, df: DataFrame, nb: int) -> list[int]:
    """Per-bucket counts of the observe node ``name`` (over ``df``), read
    from the executed plan of ``done``, the action that ran it. Named
    observations, not ``pyspark.sql.Observation``: an Observation starts
    the session's ObservationManager, which is not serializable, and
    every later task that captures the session (Spark ML's training
    summaries do) then fails with "Task not serializable".

    A node that is not in the executed plan reports nothing: Catalyst
    prunes it over a statically empty input, and AQE drops a finished
    stage, node included, when a later stage comes up empty (an epoch
    that selects nothing). Then one aggregate job over ``df`` recounts —
    zeros in the first case, the real counts in the second."""
    metrics = done._jdf.queryExecution().observedMetrics()
    if not metrics.contains(name):
        return list(df.agg(_bucket_counts(nb)).first()["n"])
    return [int(n) for n in metrics.apply(name).getList(0)]


def _seen_filter_for_epoch(store, epoch, cfg, est, visited):
    """Build-or-incrementally-maintain the engaged F5 pre-filter.

    The reference keeps ONE persistent in-memory seen set for the whole
    crawl (crawler.py:167) — it never rebuilds it. The distributed
    analogue: the engaged filter's raw bits persist in the
    SnapshotStore after every engaged epoch (save_seen_filter), and the
    next epoch loads them and absorbs only the delta — the keys fetched
    since the persisted epoch (one epoch's rows in steady state) plus
    any new recrawl tombstones as counting deletes — so per-epoch
    filter cost is O(new keys), not the O(|visited|) full scan measured
    at 7.5 s / 20M keys (evidence/bloom_evidence_r4.json); at the
    10^9-visited design point the rebuild would be minutes of scan per
    epoch.

    Exactness: bloom OR-union IS the insert and inserts commute, so
    incremental == full rebuild bit-identically at equal geometry
    (tests/test_seen_filter.py pins admission-output equality on both
    kinds). The filter is only ever a PRE-filter — false positives are
    re-checked by the exact confirm anti-join — so the single
    correctness obligation is no-false-negatives, which incremental
    maintenance preserves (and the cuckoo delete() return is asserted:
    a missing fingerprint would breach the counting invariant, so that
    epoch falls back to the exact join instead of trusting the filter).

    Returns (filter_or_None, kind_str_or_None); None → exact anti-join.
    """
    upto = epoch - 1
    ent = store.load_seen_filter()
    if ent is not None and ent["upto"] > upto:
        # persisted filter is from the FUTURE relative to this epoch
        # (replay) — its deletes could introduce false negatives here
        ent = None

    def _persist(flt, kind: str, n: int) -> None:
        # meta.n = cumulative keys inserted — the capacity guard when
        # the manifest estimate is unavailable (forced use_bloom=True)
        if kind == "bloom":
            meta = {"k": flt.num_hashes, "m": flt.num_bits, "n": n}
        else:
            meta = {"m": flt.m, "n": n}
        store.save_seen_filter(upto, kind, flt.to_bytes(), meta)

    # -- incremental path: absorb only (ent.upto, upto] ----------------------
    if ent is not None:
        since = ent["upto"]
        new_tombs = store.recrawl_hashes(upto=upto, since=since)
        delta = store.visited_delta_keys(since, upto)
        nd = delta.count() if delta is not None else 0  # O(new keys)
        # est (manifest fetched_ok sum through upto) already covers the
        # delta epochs; meta.n + nd is the tracked cumulative count
        n = max(ent["meta"].get("n", 0) + nd, est or 0)
        if ent["kind"] == "bloom" and new_tombs.size:
            ent = None  # blooms can't delete → full cuckoo rebuild below
        elif ent["kind"] == "bloom":
            flt = BloomSeenSet.from_bytes(ent["blob"], ent["meta"]["k"])
            if n > flt.capacity():
                ent = None  # outgrown its geometry → resize via rebuild
            else:
                if delta is not None and nd:
                    flt.union_inplace(
                        BloomSeenSet.build(
                            delta, "url_hash",
                            fixed_params=(flt.num_bits, flt.num_hashes),
                        )
                    )
                _persist(flt, "bloom", n)
                return flt, "bloom"
        else:  # cuckoo
            from .state.cuckoo import CuckooOverfullError, CuckooSeenSet

            flt = CuckooSeenSet.from_bytes(ent["blob"], ent["meta"]["m"])
            if n > flt.capacity():
                ent = None
            else:
                try:
                    if delta is not None and nd:
                        flt.merge_from(
                            CuckooSeenSet.build(
                                delta, "url_hash", fixed_buckets=flt.m
                            )
                        )
                except CuckooOverfullError:
                    ent = None  # resize via full rebuild below
                else:
                    if new_tombs.size and flt.delete(new_tombs) != 0:
                        # counting invariant breached — a still-visited
                        # key may now be a false negative: do NOT trust
                        # or persist; this epoch runs the exact join
                        return None, None
                    _persist(flt, "cuckoo", n - new_tombs.size)
                    return flt, "cuckoo"

    # -- full build (first engaged epoch / geometry outgrown) ----------------
    all_tombs = store.recrawl_hashes(upto=upto)
    if all_tombs.size:
        # tombstones exist → the seen structure must support deletion:
        # build the CUCKOO variant over the RAW visited projection
        # (pre-tombstone), then delete the tombstoned fingerprints
        # (counting deletes: a URL recrawled twice has two tombstones
        # matching its two extra visited copies, so inserted-minus-
        # deleted is never negative and no-false-negatives holds).
        from .state.cuckoo import CuckooSeenSet

        raw_visited = store.read_upto(
            "visited", upto, include_recrawled=True
        ).select("url_hash")
        n = est if est is not None else raw_visited.count()
        flt = CuckooSeenSet.build(
            raw_visited, "url_hash", expected_keys=int(n * 1.2)
        )
        if flt.delete(all_tombs) != 0:
            return None, None  # invariant breached → exact join
        _persist(flt, "cuckoo", n - all_tombs.size)
        return flt, "cuckoo"
    n = est if est is not None else visited.count()
    flt = BloomSeenSet.build(
        visited, "url_hash", expected_keys=int(n * 1.2), fpp=cfg.bloom_fpp
    )
    _persist(flt, "bloom", n)
    return flt, "bloom"


def run_epoch(
    spark: SparkSession,
    store: SnapshotStore,
    epoch: int,
    cfg: EpochConfig,
    robots_rules: DataFrame | None = None,
) -> dict:
    """One scheduling epoch = 6 Spark actions, which AQE runs as
    several jobs each (one per shuffle stage). Measured with 3,000
    seeds over 150 hosts, budget 600, ``local[2]``: an exact-join epoch
    runs 19 jobs, a steady cuckoo-guarded epoch 28:

      1. fetch + payload write   (the only execution of the fetch UDF
         and of admission; its observations carry the per-bucket
         candidates/admitted counts) — 8 jobs, 9 with a seen filter
      2. failed-state write      ┐ threaded — planning/commit overlap;
      3. frontier-delta write    │ actions 2-5 run concurrently and
      4. new-frontier collect    │ share wall-clock (4 is a pruned
      5. lineage collect         ┘ re-scan of 3's output; 5 is the
         per-bucket selected/ok/fail aggregate of the fetched parquet,
         merged driver-side with 1's counts and 4's new_frontier — the
         full per-partition lineage the north rule asks for) — 2, 3
         and 5 take 8 jobs, 4 takes 2
      6. metrics write           (driver-local rows — 1 job)

    An engaged seen filter adds its builds ahead of action 1 (the
    candidate bloom, the delta-key count and the cuckoo merge with
    their shuffle stages): 8 jobs in a steady cuckoo epoch. The store
    reads start none: they use the declared ``snapshots.SCHEMAS``.

    ``visited`` is never written: it is a pruned VIRTUAL projection of
    the fetched payload table (snapshots.VIRTUAL_FROM_FETCHED), so the
    round-1 visited-delta write job is gone entirely."""
    t0 = time.time()
    nb = cfg.num_buckets
    visited = store.read_upto("visited", epoch - 1).select("url_hash")
    failed_prev = store.read_upto("failed", epoch - 1)
    frontier = store.read_upto("frontier", epoch - 1)

    fresh = (
        frontier.select("url_canon", "url_hash", "host", "depth", "parent_url")
        .withColumn("attempt", F.lit(1))
        .join(failed_prev.select("url_hash"), "url_hash", "left_anti")
    )
    retries = (
        admission.retry_candidates(failed_prev, cfg.max_retries)
        .withColumn("attempt", F.col("attempts") + 1)
        .drop("attempts")
    )
    raw_candidates = fresh.unionByName(retries)
    candidates = dedup_candidates(raw_candidates).observe("candidates", _bucket_counts(nb))

    bloom = None
    engage = cfg.use_bloom is True
    est = None
    if cfg.use_bloom == "auto":
        # estimated visited size = sum of committed fetched_ok stats —
        # a manifest (JSON) read, not a count() job; the 1.2x headroom
        # only pads the filter's fpp sizing
        est = store.stats_sum("fetched_ok", upto=epoch - 1)
        engage = est >= cfg.bloom_auto_threshold
    seen_filter = None
    cand_bloom = None
    if engage:
        # symmetric visited-side pre-filter (anti_join_seen): one bloom
        # over the epoch's candidate KEY SET, built from the raw
        # (pre-dedup) union — same key set as the deduped candidates,
        # minus the dedup shuffle
        cand_bloom = BloomSeenSet.build(
            raw_candidates.select("url_hash"), "url_hash", fpp=0.001
        )
        bloom, seen_filter = _seen_filter_for_epoch(
            store, epoch, cfg, est, visited
        )

    admitted = admission.admit(
        candidates,
        visited,
        max_depth=cfg.max_depth,
        host_scope_re=cfg.host_scope_re,
        robots_rules=robots_rules,
        respect_robots=cfg.respect_robots,
        bloom=bloom,
        cand_bloom=cand_bloom,
    ).observe("admitted", _bucket_counts(nb))
    scored = admitted.withColumn(
        "job_type", job_type(F.col("url_canon"))
    ).withColumn(
        "priority",
        priority_score(F.col("depth"), F.col("job_type"), F.col("url_canon")),
    )

    selected = schedule.select_epoch(
        schedule.with_slots(scored, robots_rules, cfg.epoch_seconds),
        epoch_budget=cfg.epoch_budget,
    )

    # --- the ONLY execution of the fetch: write the payload table once.
    # Every derivation below re-reads the parquet with column pruning —
    # no 700 MB cache of image bytes, no recomputation of the fetch UDF
    # (at 100 TB the payload never fits in cache; write-once-then-derive
    # is the only plan shape that survives the scale-up).
    # The fused writer streams each task's batches straight into a
    # pyarrow ParquetWriter and only a 1-row file manifest returns to
    # the JVM — the payload bytes skip the Arrow->JVM->UnsafeRow->JVM-
    # writer hop that the r5 scaling probes measured as the epoch's
    # widest per-core-efficiency gap (fetch.fetch_write_plan; +26 %
    # epoch throughput over the JVM writer,
    # evidence/ab_writer_arrow.json).
    dest = str(store.table_path(epoch, "fetched"))
    plan = fetch_op.fetch_write_plan(
        selected,
        dest,
        salt_buckets=cfg.salt_buckets,
    )
    fetch_op.write_payload(plan, dest)
    fetched = store.read_table(epoch, "fetched")

    ok = fetched.filter(F.col("status") == 200)
    fail = fetched.filter(F.col("status") != 200)

    failed_cols = ["url_hash", "url_canon", "host", "depth", "parent_url", "attempts", "last_status"]
    failed_state = failed_prev.select(*failed_cols).join(
        fetched.select("url_hash"), "url_hash", "left_anti"
    ).unionByName(
        fail.select(
            "url_hash", "url_canon", "host", "depth", "parent_url",
            F.col("attempt").alias("attempts"), F.col("status").alias("last_status"),
        )
    )
    # --- per-partition lineage (F15): candidates/admitted were counted
    # by the fetch job's observations (the one admission pass); the
    # lineage job is the per-bucket aggregate of the just-written parquet
    cand_counts = _observed_buckets(plan, "candidates", candidates, nb)
    adm_counts = _observed_buckets(plan, "admitted", admitted, nb)
    lineage = fetched.groupBy(
        host_bucket(F.col("host"), nb).alias("host_bucket")
    ).agg(
        F.count(F.lit(1)).alias("selected"),
        F.sum((F.col("status") == 200).cast("long")).alias("fetched_ok"),
        F.sum((F.col("status") != 200).cast("long")).alias("fetched_fail"),
        # image-dedup lineage: rides this aggregate for free (phash is a
        # pruned 8-byte column of the parquet the epoch just wrote);
        # count_distinct skips the NULL it gets for non-200 rows
        F.count_distinct(
            F.when(F.col("status") == 200, F.col("phash"))
        ).alias("distinct_phash"),
    )

    # the three derivations are independent — submit them from threads
    # so their (serial, driver-bound) planning overlaps and Spark runs
    # the jobs concurrently: two light writes + the lineage collect
    # share the epoch's wall-clock instead of queuing serially
    from concurrent.futures import ThreadPoolExecutor

    def write_frontier_and_count():
        # same thread: write the delta, then aggregate new_frontier per
        # bucket from the just-written parquet (tiny pruned scan) — the
        # count overlaps the other jobs instead of trailing them.
        # No rebalance: emit_links ends in the dedup groupBy shuffle,
        # and AQE coalesces its reads to the advisory size, so the
        # write already inherits right-sized partitions — a REBALANCE
        # here re-shuffled the full multi-hundred-MB link delta for
        # an identical file layout.
        store.write_table(epoch, "frontier", emit_links(ok))
        return (
            store.read_table(epoch, "frontier")
            .groupBy(host_bucket(F.col("host"), nb).alias("host_bucket"))
            .agg(F.count(F.lit(1)).alias("new_frontier"))
            .collect()
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        failed_fut = pool.submit(
            store.write_table, epoch, "failed", failed_state, True
        )
        frontier_fut = pool.submit(write_frontier_and_count)
        lineage_fut = pool.submit(lineage.collect)
        failed_fut.result()
        frows = frontier_fut.result()
        lrows = lineage_fut.result()

    # merge the per-bucket counts DRIVER-SIDE — num_buckets dict
    # entries, not a cluster join; a bucket gets a row when any of its
    # counts is non-zero (admitted <= candidates)
    merged: dict[int, dict] = {}

    def bucket_row(b: int) -> dict:
        return merged.setdefault(
            b, {**dict.fromkeys(METRICS_SCHEMA.fieldNames(), 0), "host_bucket": b}
        )

    for b, (c, a) in enumerate(zip(cand_counts, adm_counts)):
        if c:
            bucket_row(b).update(candidates=c, admitted=a)
    for r in lrows + frows:
        bucket_row(r.host_bucket).update(r.asDict())
    mrows = sorted(merged.values(), key=lambda d: d["host_bucket"])
    # from pandas, not the dicts: with Arrow on that builds the table in
    # the JVM, where a list goes through a pickled Python RDD (4 tasks)
    metrics = pd.DataFrame(mrows, columns=METRICS_SCHEMA.fieldNames())
    store.write_table(
        epoch, "metrics", spark.createDataFrame(metrics, METRICS_SCHEMA)
    )
    stats = {
        "epoch": epoch,
        "candidates": int(sum(r["candidates"] for r in mrows)),
        "admitted": int(sum(r["admitted"] for r in mrows)),
        "selected": int(sum(r["selected"] for r in mrows)),
        "fetched_ok": int(sum(r["fetched_ok"] for r in mrows)),
        "fetched_fail": int(sum(r["fetched_fail"] for r in mrows)),
        # within-bucket duplicate images this epoch (see METRICS_SCHEMA)
        "dup_images": int(
            sum(r["fetched_ok"] - r["distinct_phash"] for r in mrows)
        ),
        # which approximate pre-filter guarded the admission anti-join
        # this epoch: None (exact join only), "bloom", or "cuckoo"
        # (deletable — engaged when recrawl tombstones exist)
        "seen_filter": seen_filter,
        "wall_ms": int((time.time() - t0) * 1000),
    }
    store.commit_epoch(epoch, EPOCH_TABLES, stats)
    return stats


# ---------------------------------------------------------------------------
# F13 — adaptive phase machine (smart_crawler.py:91-97, 396-462)
# ---------------------------------------------------------------------------

PHASE_SLEEP_MIN = {"initial": 1, "active": 30, "steady": 180, "maintenance": 1440}
PHASE_ORDER = ["initial", "active", "steady", "maintenance"]


@dataclass
class PhaseMachine:
    """Faithful transition logic; jitter is seeded (the reference uses
    random.uniform(0.8, 1.2) — nondeterminism ban, SURVEY §7 risk 6)."""

    phase: str = "initial"
    urls_processed: int = 0
    urls_new_content: int = 0
    minutes_in_phase: float = 0.0
    transitions: list = field(default_factory=list)

    def record(self, processed: int, new_content: int, minutes: float) -> None:
        self.urls_processed += processed
        self.urls_new_content += new_content
        self.minutes_in_phase += minutes

    def _pct_new(self) -> float:
        return self.urls_new_content / max(1, self.urls_processed) * 100

    def update(self) -> str:
        if self.phase == "initial":
            if self.urls_processed > 100 or self.minutes_in_phase > 60:
                self._change("active")
        elif self.phase == "active":
            if (self.urls_processed > 1000 or self.minutes_in_phase > 240) and self._pct_new() < 20:
                self._change("steady")
        elif self.phase == "steady":
            if (self.urls_processed > 5000 or self.minutes_in_phase > 1440) and self._pct_new() < 5:
                self._change("maintenance")
        return self.phase

    def _change(self, new_phase: str) -> None:
        self.transitions.append(
            {"from": self.phase, "to": new_phase, "urls_processed": self.urls_processed}
        )
        self.phase = new_phase
        self.urls_processed = 0
        self.urls_new_content = 0
        self.minutes_in_phase = 0.0

    def sleep_minutes(self, epoch: int) -> float:
        """base × seeded jitter in [0.8, 1.2] (deterministic per epoch)."""
        base = PHASE_SLEEP_MIN[self.phase]
        jitter = 0.8 + (fx.py_xxhash64(f"jitter:{epoch}") % 4001) / 10000.0
        return base * jitter


def run_crawl(
    spark: SparkSession,
    store: SnapshotStore,
    seeds: DataFrame,
    cfg: EpochConfig,
    num_epochs: int,
    robots_rules: DataFrame | None = None,
    sleep_scale: float = 0.0,
    reseed: bool = False,
) -> list[dict]:
    """Drive `num_epochs` epochs, resuming from the store's manifest.

    F14 (smart_crawler.py:780-783): when an epoch selects nothing and
    ``reseed=True``, the seed list is re-injected as a fresh frontier
    delta ONCE and the loop continues; to instead re-fetch SEEN urls,
    call :func:`recrawl` (deletes from the seen set via tombstones +
    the cuckoo filter's counting delete) and resume the loop. Without
    reseed the loop stops early (horizon exhausted).
    """
    start = store.latest_epoch() + 1
    if start == 0:
        # rebalance=False: the seed list arrives with source partitioning
        # (a file scan or range — already sized to the cluster), and the
        # AQE rebalance coalesces the ~100 B/row frontier to 64 MB
        # advisory chunks, capping the write at |seeds|·100 B / 64 MB
        # tasks no matter how many executors exist (measured 0.35
        # scaling efficiency / 3.5-of-8 busy cores on the 10^6-seed
        # write, evidence/scaling_probe_r5.json). Epoch DELTA writes
        # keep the rebalance — the KB-scale outputs it exists for.
        store.write_epoch(
            0,
            {"frontier": seeds_to_frontier(seeds)},
            stats={"seeded": True},
            rebalance=False,
        )
        start = 1
    machine = PhaseMachine()
    all_stats = []
    reseeded = False
    epoch = start
    while epoch < start + num_epochs:
        stats = run_epoch(spark, store, epoch, cfg, robots_rules=robots_rules)
        all_stats.append(stats)
        machine.record(
            processed=stats["selected"],
            new_content=stats["fetched_ok"],
            minutes=machine.sleep_minutes(epoch),
        )
        machine.update()
        if sleep_scale > 0:
            time.sleep(machine.sleep_minutes(epoch) * 60 * sleep_scale)
        if stats["selected"] == 0:
            if reseed and not reseeded:
                reseeded = True
                store.write_table(epoch, "frontier", seeds_to_frontier(seeds), rebalance=True)
                store.commit_epoch(epoch, EPOCH_TABLES, {**stats, "reseeded": True})
            else:
                break
        epoch += 1
    return all_stats


def recrawl(spark: SparkSession, store: SnapshotStore, urls: list[str]) -> dict:
    """Forget URLs from the URL-seen set so the next epoch re-fetches
    them — the deletable-seen-set semantics the cuckoo filter exists
    for (reference smart_crawler.py's periodic re-crawl of known pages;
    state/cuckoo.py implements the filter, this wires it into a flow).

    Mechanics (all snapshot-native, nothing is rewritten in place):

    * commit a ``recrawl`` tombstone epoch holding the url_hashes —
      ``read_upto("visited")`` anti-joins tombstones out (a tombstone
      at epoch T kills visited rows with epoch <= T only, so the
      re-fetch's NEW visited row at a later epoch survives);
    * re-admission is automatic: the URLs' original frontier-delta rows
      still exist (the frontier is append-only), and once they stop
      matching ``visited`` the next epoch's admission anti-join lets
      them through again with their original depth/parent — so the
      re-fetch is bit-identical to the first fetch in the deterministic
      world (parity test: tests/test_recrawl.py);
    * when the approximate pre-filter is engaged, ``run_epoch`` sees
      the tombstones and switches Bloom → cuckoo, replaying the
      tombstones as counting ``delete``s on the built filter.

    Only currently-visited URLs are tombstoned (a semi-join guards the
    write): deleting a never-inserted key from a cuckoo filter could
    evict a colliding key's fingerprint and create a false negative.

    Returns {"epoch": tombstone epoch, "recrawled": #tombstones}.
    """
    e = store.latest_epoch() + 1
    req = dedup_candidates(
        seeds_to_frontier(
            spark.createDataFrame([(u,) for u in urls], "url string")
        ).withColumn("attempt", F.lit(1))
    ).select("url_hash")
    visited_now = store.read_upto("visited", e - 1).select("url_hash")
    tomb = req.join(visited_now, "url_hash", "left_semi")
    store.write_table(e, "recrawl", tomb, rebalance=True)
    n = store.read_table(e, "recrawl").count()
    store.commit_epoch(e, ["recrawl"], {"recrawled": int(n)})
    return {"epoch": e, "recrawled": int(n)}
