"""End-to-end crawl: the Spark engine must match the pure-Python oracle
EXACTLY — crawl order, final URL-seen set, statuses, titles, metrics — and
must resume from a snapshot checkpoint to byte-identical outputs.

This is the engine analog of the reference's integration contract
(/root/reference/tests/real_world_tests.rs:90-146) on the deterministic
synthetic corpus (no network in the sandbox)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smartcrawler_spark.oracle import CrawlConfig, crawl
from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig
from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus

KEYWORDS = {"news": 2.0, "docs": 1.0, "item1": 0.5}


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    manifest = generate_corpus(d, CorpusConfig())
    return d, manifest


@pytest.fixture(scope="module")
def oracle_result(corpus):
    d, manifest = corpus
    return crawl(
        d,
        manifest["seeds"],
        CrawlConfig(keywords=KEYWORDS, max_urls_per_host=10, max_rounds=30,
                    default_budget=4),
    )


def _engine_cfg(**kw):
    # bloom_min_frontier_rows=0 pins the bloom path ON at test scale (the
    # adaptive default would skip it below 500M frontier rows), so the e2e
    # keeps exercising probe + delta-update + rebuild; cases passing the
    # default floor cover the adaptive skip's exact-join-only shape
    kw.setdefault("bloom_min_frontier_rows", 0)
    kw.setdefault("keywords", KEYWORDS)
    kw.setdefault("max_urls_per_host", 10)
    kw.setdefault("max_rounds", 30)
    kw.setdefault("default_budget", 4)
    return EngineConfig(**kw)


def _run_engine(spark, corpus_dir, seeds, ckpt, cfg=None):
    job = CrawlJob(spark, corpus_dir, str(ckpt), cfg or _engine_cfg(), seeds)
    job.run()
    return job


def _log_tuples(job):
    return [
        (r["round"], r["seq"], r["url_canon"])
        for r in job.crawl_log().orderBy("round", "seq").collect()
    ]


def _frontier_map(job):
    return {
        r["url_canon"]: (r["host"], r["status"], r["title"])
        for r in job.frontier().collect()
    }


def test_engine_matches_oracle(spark, corpus, oracle_result, tmp_path):
    d, manifest = corpus
    job = _run_engine(spark, d, manifest["seeds"], tmp_path / "ckpt")

    # exact crawl order
    assert _log_tuples(job) == oracle_result.crawl_log

    # exact URL-seen set + statuses + titles
    got = _frontier_map(job)
    want = {
        u: (r["host"], r["status"], r["title"])
        for u, r in oracle_result.frontier.items()
    }
    assert got == want

    # aggregate metrics per round match the oracle's counters
    import collections

    eng = collections.defaultdict(dict)
    for r in job.metrics().collect():
        eng[r["round"]][r["fate"]] = eng[r["round"]].get(r["fate"], 0) + r["n"]
    for om in oracle_result.metrics:
        rnd = om["round"]
        for fate in ("admitted", "robots_blocked", "dedup_rejected", "cap_rejected"):
            assert eng[rnd].get(fate, 0) == om[fate], (rnd, fate)
        if rnd > 0:
            assert eng[rnd].get("fetch_success", 0) == om["fetched"], rnd
            assert eng[rnd].get("fetch_failed", 0) == om["failed"], rnd


def test_bloom_fastpath_equals_exact(spark, corpus, oracle_result, tmp_path):
    """At the default bloom floor the test-scale crawl runs the plain arm
    and must produce the exact same outputs — the filter is a physical
    optimization only."""
    d, manifest = corpus
    job = _run_engine(
        spark, d, manifest["seeds"], tmp_path / "ckpt_nobloom",
        _engine_cfg(bloom_min_frontier_rows=EngineConfig.bloom_min_frontier_rows),
    )
    assert job.seen_arm == "plain"
    assert _log_tuples(job) == oracle_result.crawl_log


def test_resume_from_checkpoint(spark, corpus, oracle_result, tmp_path):
    """Kill after round 2, restart from the snapshot — final crawl_log and
    frontier byte-identical to the uninterrupted run."""
    d, manifest = corpus
    ckpt = tmp_path / "ckpt_resume"

    job1 = CrawlJob(spark, d, str(ckpt), _engine_cfg(), manifest["seeds"])
    start = job1.bootstrap()
    assert start == 0
    job1.run_round(1)
    job1.run_round(2)
    del job1  # 'crash'

    job2 = CrawlJob(spark, d, str(ckpt), _engine_cfg(), manifest["seeds"])
    resumed_from = job2.bootstrap()
    assert resumed_from == 2  # picked up the round-2 snapshot
    job2.run()

    assert _log_tuples(job2) == oracle_result.crawl_log
    got = _frontier_map(job2)
    want = {
        u: (r["host"], r["status"], r["title"])
        for u, r in oracle_result.frontier.items()
    }
    assert got == want


def test_span_sequence_equality(spark, corpus, tmp_path):
    """Per-row span-sequence equality (kind, text, media_ref, offset-order)
    between the engine's fetched documents and the corpus ground truth —
    the input_hint invariant."""
    from pyspark.sql import functions as F

    d, manifest = corpus
    job = _run_engine(spark, d, manifest["seeds"], tmp_path / "ckpt_spans")
    fetched = job.frontier().filter(F.col("status") == "SUCCESS")
    docs = job.documents  # doc_canon, host, spans

    joined = fetched.join(docs, fetched.url_canon == docs.doc_canon, "inner")
    assert joined.count() == fetched.count()  # every SUCCESS url has its doc

    # engine-side reconstruction: sort spans by offset, project the invariant
    # tuple, compare with the pyarrow-read ground truth
    eng = {
        r["doc_canon"]: [
            (s["kind"], s["text"], s["media_ref"]) for s in
            sorted(r["spans"], key=lambda s: s["offset"])
        ]
        for r in joined.select("doc_canon", "spans").collect()
    }
    import pyarrow.parquet as pq

    from smartcrawler_spark.oracle import canon

    truth = {}
    for row in pq.read_table(f"{d}/documents.parquet").to_pylist():
        truth[canon(row["doc_id"])] = [
            (s["kind"], s["text"], s["media_ref"])
            for s in sorted(row["spans"], key=lambda s: s["offset"])
        ]
    for u, seq in eng.items():
        assert seq == truth[u], u


def test_raw_artifact_ingest_matches_table_run(spark, corpus, oracle_result, tmp_path):
    """EngineConfig.raw_artifacts=True: robots.txt text + sitemap.xml are
    parsed by sources/robots_txt.py instead of reading the pre-built rule
    tables — the crawl (order, seen set) must be IDENTICAL to the oracle."""
    d, manifest = corpus
    job = _run_engine(spark, d, manifest["seeds"], tmp_path / "ckpt_raw",
                      cfg=_engine_cfg(raw_artifacts=True))
    assert _log_tuples(job) == oracle_result.crawl_log
    assert set(_frontier_map(job)) == set(oracle_result.frontier)


def test_compaction_in_loop_preserves_outputs(spark, corpus, tmp_path):
    """compact_every=1 (maintenance after every round) must not change the
    crawl_log or metrics contents vs the uncompacted run, while the log's
    read path stays at one data dir."""
    d, manifest = corpus
    plain = _run_engine(spark, d, manifest["seeds"], tmp_path / "plain",
                        _engine_cfg(compact_every=None))
    tight = _run_engine(spark, d, manifest["seeds"], tmp_path / "tight",
                        _engine_cfg(compact_every=1))
    assert _log_tuples(tight) == _log_tuples(plain)
    pm = {tuple(sorted(r.asDict().items())) for r in plain.metrics().collect()}
    tm = {tuple(sorted(r.asDict().items())) for r in tight.metrics().collect()}
    assert tm == pm
    assert tight.t_log.data_file_count() <= spark.sparkContext.defaultParallelism
    assert len(tight.t_log.versions()) == 1


def test_crash_between_side_commits_and_frontier_publish_recovers(
        spark, corpus, tmp_path):
    """Kill the job after the round's crawl_log/metrics/filter commits but
    BEFORE the frontier publish (the _commit_round crash window). Resume
    must trim the unacknowledged side-table versions, re-run the round, and
    converge to outputs byte-identical to an uninterrupted run."""
    d, manifest = corpus
    ref = _run_engine(spark, d, manifest["seeds"], tmp_path / "ref")

    job = CrawlJob(spark, d, str(tmp_path / "crash"), _engine_cfg(),
                   manifest["seeds"])
    start = job.bootstrap()
    job.run_round(start + 1)
    job.run_round(start + 2)

    # simulate dying right before the frontier publish of round 3
    real_upsert = job.t_frontier.commit_upsert
    def dying_upsert(*a, **kw):
        raise RuntimeError("simulated crash before frontier publish")
    job.t_frontier.commit_upsert = dying_upsert
    try:
        job.run_round(start + 3)
        assert False, "expected the simulated crash"
    except RuntimeError:
        pass
    job.t_frontier.commit_upsert = real_upsert
    # the crash window is real: side tables now lead the frontier
    assert int(job.t_log.latest_meta()["round"]) == start + 3
    assert int(job.t_frontier.latest_meta()["round"]) == start + 2

    resumed = CrawlJob(spark, d, str(tmp_path / "crash"), _engine_cfg(),
                       manifest["seeds"])
    resumed.run()
    assert _log_tuples(resumed) == _log_tuples(ref)
    assert _frontier_map(resumed) == _frontier_map(ref)
    pm = {tuple(sorted(r.asDict().items())) for r in ref.metrics().collect()}
    rm = {tuple(sorted(r.asDict().items())) for r in resumed.metrics().collect()}
    assert rm == pm


def test_crash_during_bootstrap_recovers(spark, corpus, tmp_path):
    """Dying after bootstrap's metrics commit but before the frontier's
    round-0 publish must not leave duplicate round-0 metrics behind."""
    d, manifest = corpus
    ref = _run_engine(spark, d, manifest["seeds"], tmp_path / "ref0")

    job = CrawlJob(spark, d, str(tmp_path / "crash0"), _engine_cfg(),
                   manifest["seeds"])
    real_upsert = job.t_frontier.commit_upsert
    job.t_frontier.commit_upsert = lambda *a, **kw: (_ for _ in ()).throw(
        RuntimeError("simulated crash"))
    try:
        job.bootstrap()
        assert False, "expected the simulated crash"
    except RuntimeError:
        pass
    job.t_frontier.commit_upsert = real_upsert

    resumed = CrawlJob(spark, d, str(tmp_path / "crash0"), _engine_cfg(),
                       manifest["seeds"])
    resumed.run()
    assert _log_tuples(resumed) == _log_tuples(ref)
    pm = {tuple(sorted(r.asDict().items())) for r in ref.metrics().collect()}
    rm = {tuple(sorted(r.asDict().items())) for r in resumed.metrics().collect()}
    assert rm == pm


def test_refresh_interval_recrawls_stale_urls(spark, corpus, tmp_path):
    """With refresh_interval set, SUCCESS URLs re-enter the schedule after
    the interval: the crawl log shows the same URL fetched in two distinct
    rounds and the frontier's round_fetched advances to the later one."""
    d, manifest = corpus
    cfg = _engine_cfg(refresh_interval=3, max_rounds=8)
    job = _run_engine(spark, d, manifest["seeds"], tmp_path / "ckpt_refresh", cfg)
    log = job.crawl_log().collect()
    rounds_per_url = {}
    for r in log:
        rounds_per_url.setdefault(r["url_canon"], []).append(r["round"])
    refetched = {u: rs for u, rs in rounds_per_url.items() if len(rs) > 1}
    assert refetched, "no URL was ever recrawled"
    # refetch gaps respect the interval
    for u, rs in refetched.items():
        rs = sorted(rs)
        assert all(b - a >= 3 for a, b in zip(rs, rs[1:])), (u, rs)
    # frontier carries the LATEST fetch round
    from pyspark.sql import functions as F

    u, rs = next(iter(refetched.items()))
    row = job.frontier().filter(F.col("url_canon") == u).collect()[0]
    assert row["round_fetched"] == max(rs)
    # determinism: the same config reruns to the identical log
    job2 = _run_engine(spark, d, manifest["seeds"], tmp_path / "ckpt_refresh2", cfg)
    assert _log_tuples(job) == _log_tuples(job2)


def test_rfc_robots_mode_honors_allow_carveout(spark, tmp_path):
    """raw_artifacts + rfc_robots gates on full RFC 9309 longest-match:
    an Allow exception inside the Disallow'd subtree admits exactly that
    URL, while the conservative prefix mode (and the oracle) still block
    the whole subtree."""
    from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus

    d = str(tmp_path / "c")
    m = generate_corpus(d, CorpusConfig(
        n_hosts=2, pages_per_host=6, hot_host_pages=6,
        robots_allow_carveout=True))

    def private_urls(job):
        return {r["url_canon"] for r in job.frontier().collect()
                if "/private/" in r["url_canon"]}

    strict = _run_engine(spark, d, m["seeds"], tmp_path / "strict",
                         _engine_cfg(raw_artifacts=True))
    rfc = _run_engine(spark, d, m["seeds"], tmp_path / "rfc",
                      _engine_cfg(raw_artifacts=True, rfc_robots=True))
    assert private_urls(strict) == set()  # conservative: subtree blocked
    carved = private_urls(rfc)
    assert carved and all(u.endswith("/private/p1000") for u in carved)
    # nothing else from the disallowed subtree leaks in either mode, and
    # the RFC run is itself deterministic
    rfc2 = _run_engine(spark, d, m["seeds"], tmp_path / "rfc2",
                       _engine_cfg(raw_artifacts=True, rfc_robots=True))
    assert _log_tuples(rfc) == _log_tuples(rfc2)


def test_adaptive_budget_noop_when_healthy_throttles_when_failing(
        spark, corpus, tmp_path):
    """EngineConfig.adaptive_budget: with a healthy corpus the failure
    ratio never reaches 1/2, so the adaptive run must be byte-identical
    to the static run; with one host's documents removed (every fetch of
    it FAILS), the adaptive run halves that host's schedule from the
    first post-failure round while the static run keeps burning the full
    budget on it."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d, manifest = corpus
    static = _run_engine(spark, d, manifest["seeds"], tmp_path / "s")
    adaptive = _run_engine(spark, d, manifest["seeds"], tmp_path / "a",
                           _engine_cfg(adaptive_budget=True))
    # precondition: the standard corpus really is healthy
    fr = static.frontier()
    per_host = {r["host"]: (r["nf"], r["att"]) for r in
                fr.filter(fr.status.isin("SUCCESS", "FAILED"))
                .groupBy("host")
                .agg(F.sum(F.when(fr.status == "FAILED", 1).otherwise(0))
                     .alias("nf"), F.count("*").alias("att")).collect()}
    assert all(2 * nf < att for nf, att in per_host.values()), per_host
    assert _log_tuples(adaptive) == _log_tuples(static)
    assert _frontier_map(adaptive) == _frontier_map(static)

    # break one host: drop all its documents -> every fetch FAILED; seed a
    # pool of its URLs so the scheduler keeps having victim work to burn
    # (link discovery is dead once fetches fail, and the organic corpus
    # only cross-links a handful of victim URLs from other hosts)
    victim = "site001.example.com"
    broken = str(tmp_path / "broken_corpus")
    shutil.copytree(d, broken)
    t = pq.read_table(f"{broken}/documents.parquet")
    pq.write_table(t.filter(pc.not_equal(t["host"], victim)),
                   f"{broken}/documents.parquet")
    seeds = list(manifest["seeds"]) + [
        f"https://{victim}/news/extra{i}" for i in range(14)]

    s2 = _run_engine(spark, broken, seeds, tmp_path / "s2")
    a2 = _run_engine(spark, broken, seeds, tmp_path / "a2",
                     _engine_cfg(adaptive_budget=True))

    def victim_sched(job):
        return {r["round"]: r["n"] for r in
                job.crawl_log()
                .filter(F.col("url_canon").contains(victim))
                .groupBy("round").agg(F.count("*").alias("n")).collect()}

    vs, va = victim_sched(s2), victim_sched(a2)
    assert vs, "victim host never scheduled — fixture broken"
    # round 1 has no fetch history: both runs schedule the full budget
    assert va.get(1) == vs.get(1)
    # once failures are on the books, adaptive halves the victim's budget
    later_static = [n for r, n in vs.items() if r > 1]
    later_adaptive = [n for r, n in va.items() if r > 1]
    assert later_static and max(later_static) > 2
    assert later_adaptive and max(later_adaptive) <= 2
    # healthy hosts are untouched: identical schedules outside the victim
    def other_log(job):
        return [(r["round"], r["url_canon"]) for r in
                job.crawl_log().filter(~F.col("url_canon").contains(victim))
                .orderBy("round", "seq").collect()]

    assert {u for _, u in other_log(a2)} == {u for _, u in other_log(s2)}


def test_trap_filters_reject_traps_and_preserve_clean_runs(
        spark, corpus, oracle_result, tmp_path):
    """EngineConfig.trap_filters + strip_tracking: (a) on the clean
    synthetic corpus both flags are exact no-ops (crawl_log identical to
    the reference oracle); (b) at the admission-chain level, trap URLs are
    fate-tagged and never admitted while clean siblings pass."""
    from smartcrawler_spark.functions import urls as U
    from smartcrawler_spark.operators import frontier as FR

    d, manifest = corpus
    job = _run_engine(spark, d, manifest["seeds"], tmp_path / "trapckpt",
                      _engine_cfg(trap_filters=True, strip_tracking=True))
    assert _log_tuples(job) == oracle_result.crawl_log

    # (b) admission chain with one trap of each shape + clean URLs
    raw = spark.createDataFrame(
        [("https://h0.com/ok/1",),
         ("https://h0.com/en/about/en/about/en/x",),
         ("https://h0.com/2026/08/17/2026/08/p",),
         ("https://h0.com/" + "a/" * 14 + "leaf",)],
        "url string")
    cands = FR.with_url_columns_deduped(raw, "url", {})
    cands = cands.withColumn("trap_blocked",
                             U.is_trap_url(F.col("url_canon")))
    robots = spark.createDataFrame([], "host string, disallow_prefix string")
    cands = FR.robots_gate(cands, robots)
    empty_frontier = job._empty_frontier()
    tagged = FR.admit_with_cap(
        FR.tag_seen(cands, empty_frontier), empty_frontier, cap=10)
    rows = {r["url_canon"]: (r["trap_blocked"], r["admitted"])
            for r in tagged.collect()}
    assert rows["https://h0.com/ok/1"] == (False, True)
    traps = [u for u, (t, _) in rows.items() if t]
    assert len(traps) == 3
    assert all(not rows[u][1] for u in traps)


def test_anchor_keywords_boost_admission_scores(
        spark, corpus, oracle_result, tmp_path):
    """EngineConfig.anchor_keywords: (a) weights that match no anchor text
    are an exact no-op vs the reference oracle; (b) with a matching weight,
    every admitted URL's score equals its URL-token base PLUS weight x the
    number of same-domain anchors pointing at it from pages fetched in its
    admission round — recomputed here independently from the raw span docs
    (every corpus anchor text is 'link to {href}': exactly one 'link')."""
    import pyarrow.parquet as pq

    from smartcrawler_spark.functions.relevance import score_url
    from smartcrawler_spark.oracle import canon, resolve_href, same_domain

    d, manifest = corpus
    job0 = _run_engine(spark, d, manifest["seeds"], tmp_path / "anoop",
                       _engine_cfg(anchor_keywords={"zzzznope": 9}))
    assert _log_tuples(job0) == oracle_result.crawl_log

    job = _run_engine(spark, d, manifest["seeds"], tmp_path / "aboost",
                      _engine_cfg(anchor_keywords={"link": 7}))
    fr = {r["url_canon"]: r for r in job.frontier().collect()}
    assert _log_tuples(job) != oracle_result.crawl_log  # boost reorders

    # incoming[(round, target)] = number of qualifying anchors
    incoming: dict[tuple, int] = {}
    for row in pq.read_table(f"{d}/documents.parquet").to_pylist():
        page = fr.get(canon(row["doc_id"]))
        if page is None or page["status"] != "SUCCESS":
            continue
        r = page["round_fetched"]
        for s in row["spans"]:
            if s["kind"] == "a" and s["media_ref"]:
                u = resolve_href(s["media_ref"], row["host"])
                if same_domain(u, row["host"]):
                    key = (r, canon(u))
                    incoming[key] = incoming.get(key, 0) + 1

    boosted = 0
    for url, row in fr.items():
        base = score_url(url, KEYWORDS)
        if row["round_added"] == 0:  # seeds/sitemaps admit without links
            want = base
        else:
            want = base + 7 * incoming.get((row["round_added"], url), 0)
            boosted += incoming.get((row["round_added"], url), 0) > 0
    # every row checked exactly; at least some rows actually got votes
        assert row["score"] == want, (url, row["score"], want)
    assert boosted > 0


def test_apportion_total_enforces_global_round_budget(spark, corpus, tmp_path):
    """EngineConfig.apportion_total=N: per-round scheduled count never
    exceeds N, and equals N whenever pending demand covers it (the
    largest-remainder quotas sum to N exactly and each host's quota never
    exceeds its demand when N <= total pending)."""
    d, manifest = corpus
    total = 6
    job = _run_engine(spark, d, manifest["seeds"], tmp_path / "ap",
                      _engine_cfg(apportion_total=total, max_rounds=6))
    per_round = {
        r["round"]: r["n"]
        for r in job.crawl_log().groupBy("round")
        .agg(F.count("*").alias("n")).collect()
    }
    assert per_round, "nothing scheduled"
    assert all(n <= total for n in per_round.values()), per_round
    assert any(n == total for n in per_round.values()), per_round
    # the frontier keeps its invariants: every scheduled URL got a status
    fr = job.frontier()
    assert fr.filter(F.col("status") == "PENDING").count() >= 0
    scheduled_urls = {u for _, _, u in _log_tuples(job)}
    done = {r["url_canon"] for r in
            fr.filter(fr.status.isin("SUCCESS", "FAILED")).collect()}
    assert scheduled_urls <= done | scheduled_urls  # no orphans

    # sanity vs static: the same corpus under per-host budgets schedules
    # MORE per round than the tight global budget
    static = _run_engine(spark, d, manifest["seeds"], tmp_path / "st")
    static_rounds = {
        r["round"]: r["n"]
        for r in static.crawl_log().groupBy("round")
        .agg(F.count("*").alias("n")).collect()
    }
    assert max(static_rounds.values()) > total


def test_refresh_intervals_path_adaptive(spark, corpus, tmp_path):
    """refresh_intervals_path wires refresh_due's interval dim into the loop:
    hosts in the dim recrawl on THEIR interval, hosts absent fall back
    to refresh_interval, and a huge interval suppresses recrawl."""
    d, manifest = corpus
    base = _run_engine(spark, d, manifest["seeds"], tmp_path / "ckpt_ab",
                       _engine_cfg(refresh_interval=3, max_rounds=8))
    hosts = sorted(r["host"] for r in
                   base.frontier().select("host").distinct().collect())
    assert len(hosts) >= 2
    fast, slow = hosts[0], hosts[1]
    ivs_path = str(tmp_path / "ivs")
    spark.createDataFrame(
        [(fast, 1_000_000, 2), (slow, 1_000, 100)],
        "key string, rate_ppm long, interval int",
    ).write.parquet(ivs_path)
    cfg = _engine_cfg(refresh_interval=3, max_rounds=8,
                      refresh_intervals_path=ivs_path)
    job = _run_engine(spark, d, manifest["seeds"], tmp_path / "ckpt_ad", cfg)
    from pyspark.sql import functions as F

    host_of = {r["url_canon"]: r["host"]
               for r in job.frontier().select("url_canon", "host").collect()}
    rounds = {}
    for r in job.crawl_log().collect():
        rounds.setdefault(r["url_canon"], []).append(r["round"])
    refetched = {u: sorted(rs) for u, rs in rounds.items() if len(rs) > 1}
    assert refetched, "no URL was ever recrawled"
    for u, rs in refetched.items():
        h = host_of[u]
        min_gap = 2 if h == fast else (100 if h == slow else 3)
        assert all(b - a >= min_gap for a, b in zip(rs, rs[1:])), (u, h, rs)
    # the slow host's interval (100 >> max_rounds) suppresses its recrawl
    assert not any(host_of[u] == slow for u in refetched)
    # determinism with the dim in place
    job2 = _run_engine(spark, d, manifest["seeds"], tmp_path / "ckpt_ad2", cfg)
    assert _log_tuples(job) == _log_tuples(job2)


def test_retry_backoff_refetches_failed_urls(spark, corpus, tmp_path):
    """With retry_base_backoff set, a URL that fetches FAILED (no
    document behind it) re-enters the schedule on the exponential
    backoff, never exceeding retry_max attempts; default config keeps
    failures terminal (reference parity)."""
    d, manifest = corpus
    # a host with no corpus documents: admission passes (no robots rules,
    # its own politeness budget), the fetch join finds nothing -> FAILED
    bogus = "https://definitely-missing.example.com/"
    seeds = list(manifest["seeds"]) + [bogus]

    # default: FAILED is terminal -> exactly one attempt
    base = _run_engine(spark, d, seeds, tmp_path / "ckpt_rt0")
    bogus_rounds0 = sorted(r["round"] for r in base.crawl_log().collect()
                           if "definitely-missing" in r["url_canon"])
    assert len(bogus_rounds0) == 1

    cfg = _engine_cfg(retry_base_backoff=1, retry_max=3, max_rounds=12)
    job = _run_engine(spark, d, seeds, tmp_path / "ckpt_rt", cfg)
    from pyspark.sql import functions as F

    rounds = sorted(r["round"] for r in job.crawl_log().collect()
                    if "definitely-missing" in r["url_canon"])
    assert len(rounds) >= 2, "retry never happened"
    assert len(rounds) <= 4  # retry_max=3 -> at most 1 + 3 attempts
    # gaps respect the exponential schedule: >= 1, >= 2, >= 4
    for i, (a, b) in enumerate(zip(rounds, rounds[1:])):
        assert b - a >= (1 << i), rounds
    # the frontier row stays FAILED with the LAST attempt's round
    row = job.frontier().filter(
        F.col("url_canon").contains("definitely-missing")).collect()[0]
    assert row["status"] == "FAILED"
    assert row["round_fetched"] == rounds[-1]
    # determinism
    job2 = _run_engine(spark, d, seeds, tmp_path / "ckpt_rt2", cfg)
    assert _log_tuples(job) == _log_tuples(job2)


@pytest.mark.parametrize("arm_cfg", [
    {},
    {"seen_invert_min_frontier_rows": 0},
    {"bloom_min_frontier_rows": 0},
    {"apportion_total": 5},
], ids=["plain", "invert", "bloom", "apportion_total"])
def test_run_round_leaves_no_persisted_rdds(spark, tmp_path, arm_cfg):
    """Every persist and localCheckpoint a round makes (admission
    branch points, crawl-order and apportionment checkpoints, filter
    updates) is released by the time bootstrap / run_round return, so a
    long-lived session does not accumulate cached blocks."""
    d = str(tmp_path / "c")
    m = generate_corpus(d, CorpusConfig(n_hosts=2, pages_per_host=6,
                                        hot_host_pages=6))
    sc = spark.sparkContext
    # start from an empty cache: release what earlier tests left behind
    spark.catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    cfg = EngineConfig(keywords=KEYWORDS, max_urls_per_host=8,
                       default_budget=3, **arm_cfg)
    job = CrawlJob(spark, d, str(tmp_path / "ck"), cfg, m["seeds"])
    job.bootstrap()
    assert sc._jsc.getPersistentRDDs().size() == 0
    for r in range(1, cfg.max_rounds + 1):
        out = job.run_round(r)
        assert sc._jsc.getPersistentRDDs().size() == 0, r
        if out["scheduled"] == 0:
            break
    assert r > 1
