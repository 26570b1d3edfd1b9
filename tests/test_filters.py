"""Bloom/cuckoo filter units + the crawl loop's seen-arm choice and
filter-table rebuild guards (the filter state lives in the bucketed
`t_filters` table's manifest meta)."""

from __future__ import annotations

import numpy as np

from smartcrawler_spark.operators.filters import BloomFilter, CuckooFilter


def test_bloom_no_false_negatives_and_fpr():
    rng = np.random.default_rng(7)
    keys = rng.integers(-2**63, 2**63 - 1, 20000, dtype=np.int64)
    other = rng.integers(-2**63, 2**63 - 1, 20000, dtype=np.int64)
    bf = BloomFilter(20000, 0.01)
    bf.add_many(keys)
    assert bf.contains_many(keys).all()
    assert bf.contains_many(other).mean() < 0.03
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert bf2.contains_many(keys).all()


def test_cuckoo_add_contains_delete():
    rng = np.random.default_rng(11)
    keys = rng.integers(-2**63, 2**63 - 1, 5000, dtype=np.int64)
    cf = CuckooFilter(8000)
    assert cf.add_many(keys) == 5000
    assert cf.contains_many(keys).all()
    assert cf.delete(int(keys[0]))
    assert not cf.contains_many(keys[:1])[0]
    cf2 = CuckooFilter.from_bytes(cf.to_bytes())
    assert cf2.contains_many(keys[1:]).all()


def test_crawl_reuses_blooms_across_rounds(spark, tmp_path):
    """The loop must NOT rebuild blooms every round: with rebuild_every=10
    and a 4-round crawl, exactly one rebuild happens (round 0) and the
    cuckoo delta carries the rest — outputs still exactly match the
    bloom-free run (prefilters are physical only)."""
    from smartcrawler_spark.oracle import CrawlConfig, crawl
    from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig
    from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus

    d = str(tmp_path / "c")
    m = generate_corpus(d, CorpusConfig(n_hosts=2, pages_per_host=8, hot_host_pages=8))
    cfg = EngineConfig(keywords={"news": 1.0}, max_urls_per_host=8,
                       default_budget=3, bloom_rebuild_every=10,
                       bloom_min_frontier_rows=0)
    job = CrawlJob(spark, d, str(tmp_path / "ck"), cfg, m["seeds"])
    job.run()
    # one rebuild at round 0, then delta-only rounds (the filter table's
    # manifest meta counts rounds since the last full bloom rebuild)
    assert job.t_filters.latest_meta()["rounds_since_rebuild"] >= 1
    # and correctness still ties out vs the oracle
    want = crawl(d, m["seeds"], CrawlConfig(keywords={"news": 1.0},
                                            max_urls_per_host=8, default_budget=3))
    got = [(r["round"], r["seq"], r["url_canon"])
           for r in job.crawl_log().orderBy("round", "seq").collect()]
    assert got == want.crawl_log


def test_adaptive_bloom_skips_probe_below_floor(spark, tmp_path):
    """With the default bloom_min_frontier_rows floor (measured crossover:
    bench_runs/bloom_compare_r03.json) a small crawl must run exact-join-
    only — no filter-table version is ever written — while outputs match
    the forced-bloom run exactly."""
    from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig
    from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus

    d = str(tmp_path / "c")
    m = generate_corpus(d, CorpusConfig(n_hosts=2, pages_per_host=6, hot_host_pages=6))
    kw = dict(keywords={"news": 1.0}, max_urls_per_host=8, default_budget=3)

    adaptive = CrawlJob(spark, d, str(tmp_path / "a"),
                        EngineConfig(**kw), m["seeds"])
    adaptive.run()
    assert adaptive.t_filters.latest_version() is None  # never probed
    assert adaptive.seen_arm == "plain"

    forced = CrawlJob(spark, d, str(tmp_path / "f"),
                      EngineConfig(bloom_min_frontier_rows=0, **kw), m["seeds"])
    forced.run()
    assert forced.t_filters.latest_version() is not None
    assert forced.seen_arm == "bloom"

    a = [(r["round"], r["seq"], r["url_canon"])
         for r in adaptive.crawl_log().orderBy("round", "seq").collect()]
    f = [(r["round"], r["seq"], r["url_canon"])
         for r in forced.crawl_log().orderBy("round", "seq").collect()]
    assert a == f and len(a) > 0


def test_invert_seen_join_crawl_matches_oracle(spark, tmp_path):
    """seen_invert_min_frontier_rows=0 pins the inverted broadcast-semi
    exact join ON at test scale: the crawl must (a) actually take that
    path, (b) preempt the bloom path even when bloom is pinned on too
    (invert makes the prefilter pointless — the exact join it would trim
    no longer shuffles the frontier), and (c) reproduce the oracle's
    crawl log exactly — the strategy is physical only."""
    from smartcrawler_spark.oracle import CrawlConfig, crawl
    from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig
    from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus

    d = str(tmp_path / "c")
    m = generate_corpus(d, CorpusConfig(n_hosts=2, pages_per_host=8, hot_host_pages=8))
    cfg = EngineConfig(keywords={"news": 1.0}, max_urls_per_host=8,
                       default_budget=3, bloom_min_frontier_rows=0,
                       seen_invert_min_frontier_rows=0)
    job = CrawlJob(spark, d, str(tmp_path / "ck"), cfg, m["seeds"])
    job.run()
    assert job.seen_arm == "invert"
    assert job.t_filters.latest_version() is None  # bloom never engaged
    want = crawl(d, m["seeds"], CrawlConfig(keywords={"news": 1.0},
                                            max_urls_per_host=8, default_budget=3))
    got = [(r["round"], r["seq"], r["url_canon"])
           for r in job.crawl_log().orderBy("round", "seq").collect()]
    assert got == want.crawl_log


# keywords / cap / budget shared by the engine and the oracle below; a
# budget of 2 stretches the crawl over enough rounds for a mid-crawl gap
_KW = dict(keywords={"news": 1.0}, max_urls_per_host=40, default_budget=2)


def _corpus_and_oracle(tmp_path):
    from smartcrawler_spark.oracle import CrawlConfig, crawl
    from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus

    d = str(tmp_path / "c")
    m = generate_corpus(d, CorpusConfig(n_hosts=3, pages_per_host=16,
                                        hot_host_pages=16))
    return d, m["seeds"], crawl(d, m["seeds"], CrawlConfig(**_KW)).crawl_log


def _log(job):
    return [(r["round"], r["seq"], r["url_canon"])
            for r in job.crawl_log().orderBy("round", "seq").collect()]


def _filter_metas(job):
    t = job.t_filters
    return [t.manifest(v)["meta"] for v in t.versions()]


def test_saturated_cuckoo_forces_rebuild_next_round(spark, tmp_path):
    """A bloom-pinned crawl whose one cuckoo bucket overflows (capacity
    far below the admitted count) marks the filter table degraded; the
    very next round must rebuild the blooms — rounds_since_rebuild back to
    0, filters_degraded cleared — and the crawl still equals the oracle."""
    from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig

    d, seeds, want = _corpus_and_oracle(tmp_path)
    cfg = EngineConfig(bloom_min_frontier_rows=0, bloom_buckets=1,
                       cuckoo_capacity=1, bloom_rebuild_every=100, **_KW)
    job = CrawlJob(spark, d, str(tmp_path / "ck"), cfg, seeds)
    job.run()
    metas = _filter_metas(job)
    degraded = [i for i, m in enumerate(metas[:-1]) if m.get("filters_degraded")]
    assert degraded  # the tiny delta really overflowed mid-crawl
    for i in degraded:
        assert metas[i + 1] == {"rounds_since_rebuild": 0,
                                "round": metas[i]["round"] + 1}
    assert _log(job) == want


def test_stale_filter_table_rebuilds_after_bloom_off_round(spark, tmp_path):
    """Stale gap: rounds 0-2 run the bloom arm, round 3 resumes the same
    checkpoint at the default floor (plain arm, so its admissions never
    reach the blobs), then the crawl resumes with the bloom arm again.
    Round 4 must rebuild the filter table even though rounds_since_rebuild
    is far below bloom_rebuild_every, and the crawl equals the oracle."""
    from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig

    d, seeds, want = _corpus_and_oracle(tmp_path)
    ck = str(tmp_path / "ck")
    bloom = EngineConfig(bloom_min_frontier_rows=0, bloom_rebuild_every=100, **_KW)

    job = CrawlJob(spark, d, ck, bloom, seeds)
    job.bootstrap()
    job.run_round(1)
    job.run_round(2)
    job = CrawlJob(spark, d, ck, EngineConfig(**_KW), seeds)
    assert job.bootstrap() == 2
    assert job.run_round(3)["scheduled"] > 0
    assert job.seen_arm == "plain"
    n_before = len(job.t_filters.versions())
    job = CrawlJob(spark, d, ck, bloom, seeds)
    job.run()
    metas = _filter_metas(job)
    assert metas[n_before - 1]["round"] == 2  # round 3 left the table alone
    assert metas[n_before] == {"rounds_since_rebuild": 0, "round": 4}
    assert _log(job) == want
