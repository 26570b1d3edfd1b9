"""Duplicate-content trap hygiene wired into the crawl loop (EngineConfig.
dup_trap_detect_every): a planted trap host — many URL variants all serving
the SAME handful of pages, the session-id/soft-404 shape that URL-pattern
heuristics (functions.urls.is_trap_url) can't see — must stop being
scheduled once the content profile confirms it, and must keep crawling
normally when the flag is off (reference parity; the reference crawls
single sites and has no trap-host logic).

Detection is operators.frontier.duplicate_content_hosts (one hash agg,
O(hosts) output) over the hosts' FETCHED pages only — the crawl can only
profile what it has seen."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from smartcrawler_spark.operators import frontier as FR
from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig
from smartcrawler_spark.sources.corpus import (
    CorpusConfig,
    generate_corpus,
    host_name,
)

ORIG = host_name(1)
TRAP = "site902.example.com"
VARIANTS = 4


def _plant_trap(corpus_dir: str) -> None:
    """Append TRAP's pages: every ORIG page replicated under VARIANTS
    distinct TRAP URLs with spans/nodes byte-identical — n_urls explodes
    over a constant content set, the duplicate-content trap signature.
    All variant URLs enter via TRAP's sitemap row (seeded below), so the
    crawl schedules them like any host until detection fires."""
    dpath = f"{corpus_dir}/documents.parquet"
    t = pq.read_table(dpath)
    rows = t.to_pylist()
    orig = [r for r in rows if r["host"] == ORIG]
    assert orig, "corpus must contain the host being cloned"
    trap_rows, trap_urls = [], []
    for r in orig:
        for v in range(VARIANTS):
            u = r["doc_id"].replace(ORIG, TRAP).rstrip("/") + f"/v{v}"
            trap_rows.append({**r, "doc_id": u, "host": TRAP})
            trap_urls.append(u)
    pq.write_table(
        pa.Table.from_pylist(rows + trap_rows, schema=t.schema), dpath
    )
    spath = f"{corpus_dir}/sitemaps.parquet"
    st = pq.read_table(spath)
    srows = st.to_pylist() + [{"host": TRAP, "urls": sorted(trap_urls)}]
    pq.write_table(pa.Table.from_pylist(srows, schema=st.schema), spath)


@pytest.fixture(scope="module")
def trap_corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("trap_corpus"))
    manifest = generate_corpus(
        d, CorpusConfig(n_hosts=3, pages_per_host=8, hot_host_pages=8)
    )
    _plant_trap(d)
    seeds = manifest["seeds"] + [f"https://{TRAP}/"]
    return d, seeds


def _cfg(**kw):
    kw.setdefault("keywords", {"news": 2.0, "docs": 1.0})
    kw.setdefault("max_urls_per_host", 50)
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


def test_duplicate_content_hosts_operator(spark):
    # 1 host exploding 12 urls over 3 contents; 1 clean host; 1 small host
    # over the dup bar but under the volume floor
    rows = (
        [("trap.x", f"trap.x/u{i}", f"fp{i % 3}") for i in range(12)]
        + [("ok.x", f"ok.x/u{i}", f"ok{i}") for i in range(12)]
        + [("tiny.x", f"tiny.x/u{i}", "same") for i in range(4)]
    )
    df = spark.createDataFrame(rows, "host string, url_canon string, fingerprint string")
    out = {r["host"]: r for r in
           FR.duplicate_content_hosts(df, min_urls=10, trap_ratio_bp=5000).collect()}
    assert out["trap.x"]["n_urls"] == 12 and out["trap.x"]["n_content"] == 3
    assert out["trap.x"]["dup_ratio_bp"] == 7500 and out["trap.x"]["is_trap"]
    assert out["ok.x"]["dup_ratio_bp"] == 0 and not out["ok.x"]["is_trap"]
    # over the ratio bar but under the volume floor -> not a trap
    assert out["tiny.x"]["dup_ratio_bp"] == 7500 and not out["tiny.x"]["is_trap"]


def test_trap_host_stops_being_scheduled(spark, trap_corpus, tmp_path):
    d, seeds = trap_corpus
    job = CrawlJob(
        spark, d, str(tmp_path / "ckpt"),
        _cfg(dup_trap_detect_every=2, dup_trap_min_urls=8,
             dup_trap_ratio_bp=5000),
        seeds,
    )
    job.run()

    traps = job.t_traps.read(spark)
    assert traps is not None, "detection rounds must have committed"
    confirmed = {r["host"] for r in traps.collect()}
    assert TRAP in confirmed, confirmed
    assert ORIG not in confirmed  # the clean original is never a trap

    by_round = _sched_hosts_by_round(spark, job)
    assert any(TRAP in hs for hs in by_round.values()), \
        "trap must actually get crawled pre-detection"
    # once any committed version confirms the host, it never schedules again
    first_confirm = min(
        int(job.t_traps.manifest(v)["meta"]["round"])
        for v in job.t_traps.versions()
        if any(r["host"] == TRAP for r in
               (job.t_traps.read(spark, v) or spark.range(0)).collect())
    )
    after = {rnd: hs for rnd, hs in by_round.items() if rnd >= first_confirm}
    assert after, "crawl must continue past detection"
    for rnd, hs in after.items():
        assert TRAP not in hs, f"trap scheduled in round {rnd} post-detection"
    # and what continues is real non-trap work (ORIG itself may already be
    # exhausted by then — 8 pages at budget 4 drain in ~2 rounds)
    assert any(hs - {TRAP} for hs in after.values())


def test_trap_default_off_reference_parity(spark, trap_corpus, tmp_path):
    d, seeds = trap_corpus
    job = CrawlJob(spark, d, str(tmp_path / "ckpt_off"), _cfg(), seeds)
    job.run()
    assert job.t_traps.latest_version() is None  # table never written
    by_round = _sched_hosts_by_round(spark, job)
    # without hygiene the trap is crawled like any host, across rounds
    assert sum(TRAP in hs for hs in by_round.values()) >= 2


def test_admit_rejects_trap_candidates(spark, trap_corpus, tmp_path):
    """The admission-side guard: candidates for a confirmed trap host are
    fate-tagged dup_trap_rejected and never enter the frontier (covers the
    _admit branch the scheduling filter makes rare in a steady crawl —
    post-confirmation the host stops being fetched, so its own links dry
    up; same direct-drive shape as the mirror twin)."""
    d, seeds = trap_corpus
    job = CrawlJob(
        spark, d, str(tmp_path / "ckpt_admit"),
        _cfg(dup_trap_detect_every=2, dup_trap_min_urls=8,
             dup_trap_ratio_bp=5000),
        seeds,
    )
    job.bootstrap()
    job.run_round(1)
    frontier = job.t_frontier.read(spark)
    block = spark.createDataFrame([(TRAP,)], "host string")
    urls = spark.createDataFrame(
        [(f"https://{TRAP}/news/item99",),
         ("https://site000.example.com/news/item99",)],
        "url string",
    )
    new_rows, metrics = job._admit(urls, frontier, 2, trap_block=block)
    admitted = {r["url_canon"] for r in new_rows.collect()}
    assert not any(TRAP in u for u in admitted)
    assert any("site000" in u for u in admitted)
    fates = {r["fate"]: r["n"] for r in
             metrics.groupBy("fate").agg(F.sum("n").alias("n")).collect()}
    assert fates.get("dup_trap_rejected", 0) == 1, fates
