"""OPIC link-authority boost wired into the crawl loop (EngineConfig.
rank_boost_every): every N rounds the loop ranks hosts by batch OPIC over
the FETCHED pages' host link graph and lifts admission scores of
candidates on link-authoritative hosts.

The boost is host-constant, so it can never change WHICH URLs win the
per-host admission cap or politeness budget — the crawl trajectory is
bit-identical to the parity run and only the stored scores shift by
exactly opic(host)/1e9 * weight for rows admitted while a rank table was
live. That invariant is the test: strong (exact score arithmetic), and
it doubles as the reference-parity check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig
from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus


@pytest.fixture(scope="module")
def rank_corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("rank_corpus"))
    manifest = generate_corpus(
        d, CorpusConfig(n_hosts=4, pages_per_host=10, hot_host_pages=10,
                        links_per_page=6))
    return d, manifest["seeds"]


def _cfg(**kw):
    kw.setdefault("keywords", {"news": 2.0, "docs": 1.0})
    kw.setdefault("max_urls_per_host", 10)
    kw.setdefault("max_rounds", 8)
    kw.setdefault("default_budget", 4)
    return EngineConfig(**kw)


def test_rank_boost_exact_score_shift_same_admitted_set(spark, rank_corpus,
                                                        tmp_path):
    """_admit-level invariant: with a rank dim present, the admitted URL
    set is IDENTICAL (the boost is host-constant, so within-host
    admission competition is order-preserved) and every admitted row's
    score is exactly base + opic(host)/1e9 * weight."""
    d, seeds = rank_corpus
    # cap high enough that hosts still have admission room after the
    # full crawl (the probe batch below must actually admit)
    job = CrawlJob(spark, d, str(tmp_path / "ck_adm"),
                   _cfg(rank_boost_every=2, max_urls_per_host=100), seeds)
    job.run()

    ranks_tbl = job.t_hostrank.read(spark)
    assert ranks_tbl is not None, "ranking rounds must have committed"
    opic = {r["host"]: r["opic"] for r in ranks_tbl.collect()}
    assert opic and all(v >= 0 for v in opic.values())
    assert any(v > 0 for v in opic.values())

    hosts = sorted(opic)
    raw = spark.createDataFrame(
        [(f"https://{h}/news/fresh{i}",) for h in hosts for i in range(3)],
        "url string")
    frontier = job.t_frontier.read(spark)
    plain, _ = job._admit(raw, frontier, 99)
    boosted, _ = job._admit(raw, frontier, 99,
                            rank_boost=job._rank_boost())
    p = {r["url_canon"]: r for r in plain.collect()}
    b = {r["url_canon"]: r for r in boosted.collect()}
    assert set(p) == set(b) and p, "admitted set must not change"
    n_shifted = 0
    for u in p:
        want = p[u]["score"] + opic.get(p[u]["host"], 0) / 1e9
        assert b[u]["score"] == pytest.approx(want, abs=0), u
        if opic.get(p[u]["host"], 0) > 0:
            n_shifted += 1
    assert n_shifted > 0


def test_rank_boost_default_off_reference_parity(spark, rank_corpus,
                                                 tmp_path):
    d, seeds = rank_corpus
    job = CrawlJob(spark, d, str(tmp_path / "ck_off"), _cfg(), seeds)
    job.run()
    assert job.t_hostrank.latest_version() is None  # table never written


def test_rank_hosts_opic_matches_standalone_operator(spark, rank_corpus,
                                                     tmp_path):
    """The loop's rank table equals opic_fixed_rounds(host_link_graph)
    computed independently over the same fetched set."""
    from smartcrawler_spark.operators.linkgraph import (host_link_graph,
                                                        opic_fixed_rounds)

    d, seeds = rank_corpus
    job = CrawlJob(spark, d, str(tmp_path / "ck_eq"),
                   _cfg(rank_boost_every=3, max_rounds=4), seeds)
    job.run()
    ranks_tbl = job.t_hostrank.read(spark)
    assert ranks_tbl is not None
    got = {(r["host"], r["opic"]) for r in ranks_tbl.collect()}

    as_of = int(job.t_hostrank.latest_meta()["round"])
    frontier = job.t_frontier.read(spark)
    succ = frontier.filter(
        (F.col("status") == "SUCCESS") & (F.col("round_fetched") < as_of)
    ).select("url_hash")
    docs = job.documents
    fetched = docs.join(succ, succ.url_hash == docs.doc_hash, "left_semi") \
        .select(F.col("doc_canon").alias("doc_id"), "host", "spans")
    want = {
        (r["node"], r["opic"])
        for r in opic_fixed_rounds(host_link_graph(fetched), iters=3,
                                   src_col="src_host",
                                   dst_col="dst_host").collect()
    }
    assert got == want
