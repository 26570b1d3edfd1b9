"""Starvation-free priority aging (operators.frontier.age_priority +
EngineConfig.aging_weight_bp): waited rounds raise the EFFECTIVE schedule
score, bounding any URL's delay; fresh-URL ordering is untouched; stored
frontier scores never change; and crawl-to-exhaustion COVERAGE is
identical with the flag on or off (aging reorders, never drops)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smartcrawler_spark.operators import frontier as FR
from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig
from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus


def _pool(spark, rows):
    return spark.createDataFrame(
        rows,
        "url_canon string, host string, is_root boolean, score double, "
        "round_added int",
    )


def test_aging_math_is_exact(spark):
    pool = _pool(spark, [
        ("https://h/a", "h", False, 1.0, 0),
        ("https://h/b", "h", False, 2.0, 4),
    ])
    got = {r["url_canon"]: r["score"]
           for r in FR.age_priority(pool, round_no=4, weight_bp=2500).collect()}
    # 0.25/round is an exact binary fraction: the sums are IEEE-exact
    assert got["https://h/a"] == 2.0   # 1.0 + 4 * 0.25
    assert got["https://h/b"] == 2.0   # waited 0 -> unchanged


def test_aging_never_negative(spark):
    # a row stamped in the future (clock skew / replay) must not be demoted
    pool = _pool(spark, [("https://h/a", "h", False, 1.0, 9)])
    got = FR.age_priority(pool, round_no=4, weight_bp=2500).collect()[0]
    assert got["score"] == 1.0


def test_starved_url_eventually_wins_budget_slot(spark):
    """Budget-1 host: a score-1.0 URL behind an endless stream of fresh
    score-2.0 URLs never schedules without aging, and wins by round 5
    with weight_bp=2500 (gap 1.0 / 0.25 = 4 rounds + tie-break)."""
    budgets = spark.createDataFrame([("h", 1)], "host string, budget int")

    def round_winner(round_no, aging):
        rows = [("https://h/old", "h", False, 1.0, 0),
                (f"https://h/new{round_no}", "h", False, 2.0, round_no)]
        pool = _pool(spark, rows)
        if aging:
            pool = FR.age_priority(pool, round_no, weight_bp=2500)
        win = FR.politeness_topk(pool.drop("round_added"), budgets, 1)
        return win.collect()[0]["url_canon"]

    # without aging the old URL is starved forever (same loss every round)
    assert all(round_winner(r, aging=False) != "https://h/old"
               for r in (1, 5, 9))
    # with aging it breaks through once waited * 0.25 covers the gap
    assert round_winner(4, aging=True) != "https://h/old"  # 2.0 tie -> url asc
    assert round_winner(5, aging=True) == "https://h/old"  # 2.25 > 2.0


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("aging_corpus"))
    manifest = generate_corpus(
        d, CorpusConfig(n_hosts=3, pages_per_host=8, hot_host_pages=8)
    )
    return d, manifest["seeds"]


def _cfg(**kw):
    kw.setdefault("keywords", {"news": 2.0, "docs": 1.0})
    kw.setdefault("max_urls_per_host", 20)
    kw.setdefault("max_rounds", 12)
    kw.setdefault("default_budget", 2)
    return EngineConfig(**kw)


def test_loop_coverage_identical_with_aging(spark, small_corpus, tmp_path):
    d, seeds = small_corpus
    base = CrawlJob(spark, d, str(tmp_path / "off"), _cfg(), seeds)
    base.run()
    aged = CrawlJob(spark, d, str(tmp_path / "on"),
                    _cfg(aging_weight_bp=2500), seeds)
    aged.run()

    def final(job):
        fr = job.t_frontier.read(spark)
        return {(r["url_canon"], r["status"], r["score"])
                for r in fr.collect()}

    # same admitted set, same terminal statuses, and STORED scores are the
    # raw relevance scores in both runs (aging never leaks into the table)
    assert final(base) == final(aged)
