"""The `crawl_narrow` workload: `plans.crawl.CrawlJob` rounds over a generated corpus.

Closed loop, one client: one driver process runs rounds in sequence. Set-up
builds the session, generates the corpus from the seed, runs the bootstrap
(round 0) and one warm-up round, whose wall swings with JIT and codegen
compilation. The timed window then runs rounds 2, 3, ... until their summed
wall reaches `--seconds` (at least MIN_ROUNDS). Outside the window the
crawl log, frontier and per-round fate counts are compared with
`oracle.crawl` over the same corpus, config and number of rounds."""

from __future__ import annotations

import collections
import os
import statistics
import time

from . import common
from .trace import Tracer, dur, persisted_rdds

# ~640 documents over 8 hosts plus one hot host; 8 links per page and a
# budget of 4 fetches per host per round give 32 scheduled URLs and ~300
# candidate links per round, so the round's fixed cost (job count, driver
# planning, log and metrics appends, maintenance) is nearly all of its wall
CORPUS = {"n_hosts": 8, "pages_per_host": 60, "hot_host_pages": 200,
          "links_per_page": 8, "default_budget": 4}
KEYWORDS = {"news": 2.0, "docs": 1.0, "item1": 0.5}
CAP = 60             # max_urls_per_host
COMPACT_EVERY = 3    # round 3, inside every window, compacts and expires
MIN_ROUNDS = 5       # the median of 5 rounds shrugs off two disturbed rounds
WARM_ROUNDS = 1
REPLAY_REPEATS = 3


def _engine_cfg():
    from smartcrawler_spark.plans.crawl import EngineConfig

    # run_round never reads max_rounds: the timed window decides the rounds
    return EngineConfig(keywords=KEYWORDS, max_urls_per_host=CAP,
                        default_budget=CORPUS["default_budget"],
                        compact_every=COMPACT_EVERY)


def run(workdir: str, seed: int, seconds: float, n_cores: int,
        trace: bool) -> dict:
    t_start = time.perf_counter()
    spark = common.open_spark(workdir, n_cores, event_log=trace)
    try:
        res = _run(spark, workdir, seed, seconds, trace, t_start)
    finally:
        common.close_spark(spark)
    return res


def _run(spark, workdir, seed, seconds, trace, t_start) -> dict:
    from smartcrawler_spark.plans.crawl import CrawlJob
    from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus

    sc = spark.sparkContext
    tracer = Tracer(sc) if trace else None
    layer = _Layer(tracer, workdir) if trace else None

    parts = {"session_s": time.perf_counter() - t_start}
    corpus_dir = os.path.join(workdir, "corpus")
    ckpt = os.path.join(workdir, "ckpt")
    t0 = time.perf_counter()
    manifest = generate_corpus(corpus_dir, CorpusConfig(seed=seed, **CORPUS))
    job = CrawlJob(spark, corpus_dir, ckpt, _engine_cfg(), manifest["seeds"])
    parts["corpus_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    job.bootstrap()
    parts["bootstrap_s"] = bootstrap_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    for r in range(1, WARM_ROUNDS + 1):
        job.run_round(r)
    parts["warm_s"] = time.perf_counter() - t0
    if layer:
        layer.install(job)
    setup_s = time.perf_counter() - t_start

    walls: list[float] = []
    rounds: list[int] = []
    error = None
    r = WARM_ROUNDS + 1
    while sum(walls) < seconds or len(walls) < MIN_ROUNDS:
        if layer:
            layer.before_round(job, r)
        try:
            t0 = time.perf_counter()
            if tracer:
                tracer.round = r
                sc.setJobGroup(f"bench-round-{r}", f"round {r}")
                with tracer.span("round", tag="round"):
                    out = job.run_round(r)
            else:
                out = job.run_round(r)
            wall = time.perf_counter() - t0
        except Exception as ex:  # noqa: BLE001 — a raising round is a failed round
            error = f"round {r}: {type(ex).__name__}: {ex}"
            break
        if out["scheduled"] == 0:
            break  # converged: nothing left to schedule
        walls.append(wall)
        rounds.append(r)
        if layer:
            layer.after_round(job, r, out["scheduled"])
        r += 1
    last_round = rounds[-1] if rounds else WARM_ROUNDS

    # before the check, so the oracle's memory is not counted
    peak_rss_mb = common.tree_peak_rss_mb()
    if tracer:
        tracer.unwrap_all()
        tracer.round = None
        sc.setJobGroup("bench-check", "check")
    check = _check(job, corpus_dir, manifest["seeds"], last_round,
                   failed_round=None if error is None else r)
    # URLs the frontier handled in the window, from the run's metrics
    # table: every fate of a timed round, that is the fetches scheduled
    # plus the distinct canonical candidates admission judged. Fixed by the
    # seed, and held equal to the oracle's by the check
    eng_fates = check.pop("engine_fates")
    urls = sum(sum(eng_fates.get(x, {}).values()) for x in rounds)
    frontier_rows = job.frontier().count()
    ckpt_bytes = common.dir_bytes(ckpt)

    res = {
        "setup_s": setup_s,
        "setup_parts": parts,
        "peak_rss_mb": peak_rss_mb,
        "walls": walls,
        "rounds": rounds,
        "frontier_urls": urls,
        "frontier_rows": frontier_rows,
        "ckpt_bytes": ckpt_bytes,
        "error": error,
        **check,
    }
    if layer:
        res["layer"] = layer.summary(bootstrap_s, ckpt_bytes / max(frontier_rows, 1))
        res["layer_detail"] = layer.per_round
        res["spans"] = tracer
    return res


# ---------------------------------------------------------------------------
# correctness: engine vs oracle.crawl on the identical corpus and config
# ---------------------------------------------------------------------------


def _check(job, corpus_dir, seeds, last_round, failed_round) -> dict:
    from smartcrawler_spark.oracle import CrawlConfig, crawl

    want = crawl(corpus_dir, seeds, CrawlConfig(
        keywords=KEYWORDS, max_urls_per_host=CAP, max_rounds=last_round,
        default_budget=CORPUS["default_budget"]))

    bad: set[int] = set()
    got_log = collections.defaultdict(list)
    for row in job.crawl_log().collect():
        got_log[row["round"]].append((row["round"], row["seq"], row["url_canon"]))
    want_log = collections.defaultdict(list)
    for t in want.crawl_log:
        want_log[t[0]].append(t)
    for rnd in set(got_log) | set(want_log):
        if sorted(got_log[rnd]) != want_log[rnd]:
            bad.add(rnd)

    got_front = {row["url_canon"]: row for row in job.frontier().collect()}
    for u in set(got_front) | set(want.frontier):
        g, w = got_front.get(u), want.frontier.get(u)
        if g is None or w is None or (g["host"], g["status"], g["title"]) != (
                w["host"], w["status"], w["title"]):
            bad.add((g or w)["round_added"])

    fates: dict[int, dict[str, int]] = collections.defaultdict(dict)
    for row in job.metrics().collect():
        f = fates[row["round"]]
        f[row["fate"]] = f.get(row["fate"], 0) + row["n"]
    for om in want.metrics:
        rnd, f = om["round"], fates.get(om["round"], {})
        pairs = [(k, k) for k in ("admitted", "robots_blocked",
                                  "dedup_rejected", "cap_rejected")]
        if rnd > 0:
            pairs += [("fetch_success", "fetched"), ("fetch_failed", "failed")]
        if any(f.get(e, 0) != om[o] for e, o in pairs):
            bad.add(rnd)

    attempted = last_round + 1  # bootstrap round 0 .. last_round
    if failed_round is not None:
        attempted += 1
        bad.add(failed_round)
    return {"attempted": attempted, "failed": len(bad),
            "bad_rounds": sorted(bad), "engine_fates": fates}


# ---------------------------------------------------------------------------
# traced pass: wrapped snapshot calls, job counts, checkpoint deltas, replays
# ---------------------------------------------------------------------------


def _table_name(t) -> str:
    return os.path.basename(t.path)


class _Layer:
    def __init__(self, tracer: Tracer, workdir: str):
        self.tracer = tracer
        self.workdir = workdir
        self.per_round: list[dict] = []
        self.replay: dict[str, float] = {}
        self._captured = None
        self._files_before: dict[str, int] = {}
        self._v_before = None

    def install(self, job) -> None:
        from smartcrawler_spark.operators import frontier as FR
        from smartcrawler_spark.sources.snapshot import (
            BucketedSnapshotTable,
            SnapshotTable,
        )

        t = self.tracer
        t.wrap(BucketedSnapshotTable, "commit_upsert",
               lambda self_: "frontier_upsert" if _table_name(self_) == "frontier"
               else "commit")
        t.wrap(SnapshotTable, "commit", "commit")
        t.wrap(SnapshotTable, "append", "append")
        for cls in (SnapshotTable, BucketedSnapshotTable):
            t.wrap(cls, "read", "read")
            t.wrap(cls, "compact", "maintenance")
            t.wrap(cls, "expire_older_than", "maintenance")
        t.wrap(BucketedSnapshotTable, "read_buckets", "read")

        orig = FR.with_url_columns_deduped
        layer = self

        def capture(df, *args, **kwargs):
            if layer._captured is None and layer._v_before is not None:
                layer._captured = df
            return orig(df, *args, **kwargs)

        t.patch(FR, "with_url_columns_deduped", capture)

    # -- per round --------------------------------------------------------

    def _files(self, job) -> dict[str, int]:
        out = {}
        for dp, _, files in os.walk(job.t_frontier.path.rsplit("/", 1)[0]):
            for f in files:
                p = os.path.join(dp, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
        return out

    def before_round(self, job, r: int) -> None:
        self._files_before = self._files(job)
        # record the first timed round's inputs for the layer replays
        self._v_before = job.t_frontier.latest_version() if not self.replay else None

    def after_round(self, job, r: int, n_sched: int) -> None:
        sc = self.tracer.sc
        jobs = len(sc.statusTracker().getJobIdsForGroup(f"bench-round-{r}"))
        sc.setJobGroup("bench-layer", "per-round layer accounting")
        rspan = next(s for s in self.tracer.spans
                     if s["round"] == r and s["name"] == "round")
        inner = [s for s in self.tracer.top_level("round") if s["round"] == r]
        by_cat = collections.Counter()
        for s in inner:
            by_cat[s["name"]] += dur(s)
        after = self._files(job)
        new = {p: b for p, b in after.items() if p not in self._files_before}
        admitted = sum(row["n"] for row in job.metrics().filter(
            f"round = {r} AND fate = 'admitted'").collect())
        rewritten = _rows_written_last_version(job.t_frontier)
        self.per_round.append({
            "round": r,
            "wall_s": dur(rspan),
            "jobs": jobs,
            "driver_s": dur(rspan) - sum(by_cat.values()),
            "cat_s": dict(by_cat),
            "bytes_written": sum(new.values()),
            "files_written": len(new),
            "rows_rewritten": rewritten,
            "rows_changed": n_sched + admitted,
            "persisted_rdds": persisted_rdds(sc),
        })
        if self._captured is not None and not self.replay:
            self._replays(job, r)
        self._v_before = None

    # -- replays of the public layer functions on the recorded round ------

    def _replays(self, job, r: int) -> None:
        from pyspark.sql import functions as F

        from smartcrawler_spark.functions import urls as U
        from smartcrawler_spark.operators import frontier as FR

        spark = job.spark
        d = os.path.join(self.workdir, "replay")
        with self.tracer.span("replay_record", tag="replay"):
            self._captured.write.mode("overwrite").parquet(f"{d}/raw")
            job.t_frontier.read(spark, version=self._v_before).write.mode(
                "overwrite").parquet(f"{d}/frontier")
            sched = job.crawl_log().filter(F.col("round") == r).select("url_canon")
            docs = job.documents
            (sched.join(docs, sched.url_canon == docs.doc_canon)
             .select(F.col("host"),
                     F.explode(F.filter("spans", lambda s: s["kind"] == "a")).alias("s"))
             .filter(F.col("s.media_ref") != "")
             .select(F.col("s.media_ref").alias("href"), "host")
             .write.mode("overwrite").parquet(f"{d}/hrefs"))
        self._captured = None
        raw = spark.read.parquet(f"{d}/raw")
        front = spark.read.parquet(f"{d}/frontier")
        hrefs = spark.read.parquet(f"{d}/hrefs")
        cfg = job.cfg

        def admit():
            c = FR.with_url_columns_deduped(raw, "url", cfg.keywords)
            c = FR.robots_gate(c, job.robots)
            return FR.admit_with_cap(FR.tag_seen(c, front), front,
                                     cfg.max_urls_per_host)

        cands = FR.robots_gate(
            FR.with_url_columns_deduped(raw, "url", cfg.keywords), job.robots
        ).persist()
        cands.count()
        pool = front.filter(F.col("status") == "PENDING").select(
            "url_canon", "url_hash", "host", "is_root", "score")
        replays = {
            "frontier.admit_s": admit,
            "frontier.seen_join_s": lambda: FR.tag_seen(cands, front),
            "frontier.politeness_topk_s": lambda: FR.politeness_topk(
                pool, job.budgets, cfg.default_budget, cfg.salt_buckets),
            "urls.canonicalize_s": lambda: raw.select(
                U.url_hash(U.canonicalize_url(F.col("url"))).alias("h")),
            "urls.resolve_s": lambda: hrefs.select(
                U.resolve_href(F.col("href"), F.col("host")).alias("u"), "host"
            ).filter(U.same_domain(F.col("u"), F.col("host"))),
        }
        for name, build in replays.items():
            walls = []
            for i in range(REPLAY_REPEATS + 1):  # first pass warms the plan
                with self.tracer.span(name, tag="replay", repeat=i) as s:
                    build().write.format("noop").mode("overwrite").save()
                if i:
                    walls.append(dur(s))
            self.replay[name] = statistics.median(walls)
        n_raw = raw.count()
        n_admitted = admit().filter("admitted").count()
        self.replay["frontier.admitted_ratio"] = n_admitted / max(n_raw, 1)
        cands.unpersist()

    # -- summary ----------------------------------------------------------

    def summary(self, bootstrap_s: float, ckpt_bytes_per_url: float) -> dict:
        per_round = self.per_round
        n = max(len(per_round), 1)

        def mean_cat(cat):
            return sum(p["cat_s"].get(cat, 0.0) for p in per_round) / n

        out = {
            "crawl.round_jobs": statistics.median([p["jobs"] for p in per_round]),
            "crawl.round_driver_s": statistics.median([p["driver_s"] for p in per_round]),
            "crawl.bootstrap_s": bootstrap_s,
            "snapshot.frontier_upsert_s": mean_cat("frontier_upsert"),
            "snapshot.append_s": mean_cat("append"),
            "snapshot.read_s": mean_cat("read"),
            "snapshot.maintenance_s": mean_cat("maintenance"),
            "snapshot.bytes_written_per_round":
                sum(p["bytes_written"] for p in per_round) / n,
            "snapshot.files_written_per_round":
                sum(p["files_written"] for p in per_round) / n,
            "snapshot.write_amp": sum(p["rows_rewritten"] for p in per_round)
                / max(sum(p["rows_changed"] for p in per_round), 1),
            "snapshot.ckpt_bytes_per_url": ckpt_bytes_per_url,
            "spark.persisted_rdds_after": max(p["persisted_rdds"] for p in per_round),
            **self.replay,
        }
        return out


def _rows_written_last_version(table) -> int:
    """Frontier rows in the bucket files the latest commit wrote."""
    import pyarrow.parquet as pq

    v = table.latest_version()
    m = table.manifest(v)
    new_dir = os.path.join(table.path, "data", f"v{v}")
    rows = 0
    for p in (m or {}).get("buckets", {}).values():
        if not p.startswith(new_dir):
            continue
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
    return rows
