"""The `operator_suite` workload: operator queries from `__spark_entry__`.

The queries read the repository's sf0.01 `documents` and `embeddings` test
tables, copied into `perfbench/data/sf0.01/` so a bare checkout holds them;
the golden parquet oracles under `fixtures/golden/` are computed over the
same tables. The inputs are therefore fixed: `--seed` names the run but
does not change what it reads.

Set-up builds the session, computes each query's DuckDB `oracle_sql()` hash
in a child process (so the oracle's memory stays out of `peak_rss_mb`), then
runs one untimed pass that collects every query and checks it against its
oracle hash. The timed window then runs whole passes, each query forced
with the `noop` sink, until `--seconds` have elapsed (at least
MIN_PASSES)."""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time

from . import common
from .trace import Tracer, persisted_rdds

DATA_DIR = os.path.join(common.ROOT, "perfbench", "data", "sf0.01")
TABLES = ("documents", "embeddings")

# One query for each operator and function layer the crawl does not run
# (the roadmap's codegen and cache-hygiene targets), the cheapest where a
# layer has several: the full 35-query headline suite takes ~30 s per warm
# pass on 4 cores, more than one run's share of the benchmark's time
# budget; see NOTES.md.
QUERIES = (
    "url_canonicalize",        # functions.urls
    "template_rewrite_sql",    # functions.templates
    "lang_id",                 # functions.textops
    "dedup_minhash",           # operators.dedup
    "embedding_near_dup_lsh",  # operators.similarity
    "content_blocks",          # operators.content
    "image_dhash_pairs",       # operators.imagedup
    "hll_registers",           # operators.sketches
    "opic",                    # operators.linkgraph
    "lm_score",                # operators.lm
    "nb_classify",             # operators.nbclassifier
    "bm25_components",         # operators.invindex
    "video_shots",             # operators.videodup
    "audio_fingerprints",      # operators.audiodup
)
MIN_PASSES = 2  # one pass swung by 40 % between runs on a shared host
# oracle_sql() names the golden parquet files by the absolute path of the
# work tree it was written in; they are read from this checkout instead
GOLDEN_RE = re.compile(r"'[^']*/fixtures/golden/")


def _value_hash():
    """The local correctness gate's order-insensitive row hash."""
    tools = os.path.join(common.ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_entry

    return check_entry.value_hash


def _oracle_hashes() -> dict[str, str]:
    """Each query's DuckDB `oracle_sql()` value hash over DATA_DIR."""
    import duckdb

    value_hash = _value_hash()

    import __spark_entry__ as E

    sqls = E.oracle_sql()
    golden = "'" + os.path.join(common.ROOT, "fixtures", "golden") + "/"
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{DATA_DIR}/{t}.parquet')")
        out = {}
        for name in QUERIES:
            cur = con.execute(GOLDEN_RE.sub(golden, sqls[name]))
            cols = [d[0] for d in cur.description]
            rows = [dict(zip(cols, r)) for r in cur.fetchall()]
            out[name] = value_hash(rows, cols)
        return out
    finally:
        con.close()


def _oracle_hashes_in_child() -> dict[str, str]:
    p = subprocess.run([sys.executable, "-m", "perfbench.suite_workload"],
                       cwd=common.ROOT, capture_output=True, text=True,
                       timeout=120, check=False)
    if p.returncode != 0:
        raise RuntimeError(f"oracle process failed:\n{p.stderr[-4000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def run(workdir: str, seed: int, seconds: float, n_cores: int,
        trace: bool) -> dict:
    t_start = time.perf_counter()
    spark = common.open_spark(workdir, n_cores, event_log=trace)
    try:
        res = _run(spark, seconds, trace, t_start)
        res["peak_rss_mb"] = common.tree_peak_rss_mb()
    finally:
        common.close_spark(spark)
    return res


def _run(spark, seconds, trace, t_start) -> dict:
    import __spark_entry__ as E

    value_hash = _value_hash()
    sc = spark.sparkContext
    tracer = Tracer(sc) if trace else None
    parts = {"session_s": time.perf_counter() - t_start}
    t0 = time.perf_counter()
    want = _oracle_hashes_in_child()
    qs = E.queries()
    parts["oracle_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()

    # untimed warm pass doubles as the correctness check
    bad: list[str] = []
    for name in QUERIES:
        try:
            df = qs[name](spark, DATA_DIR)
            rows = [r.asDict() for r in df.collect()]
            if value_hash(rows, df.columns) != want[name]:
                bad.append(name)
        except Exception as ex:  # noqa: BLE001 — a raising query is a failed query
            bad.append(name)
            print(f"query {name} raised {type(ex).__name__}: {ex}", file=sys.stderr)
    parts["check_pass_s"] = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_start

    walls: dict[str, list[float]] = {n: [] for n in QUERIES}
    pass_walls: list[float] = []
    persisted: list[int] = []
    t0 = time.perf_counter()
    while True:
        p0 = time.perf_counter()
        for name in QUERIES:
            if name in bad:
                continue
            q0 = time.perf_counter()
            if tracer:
                with tracer.span(name, tag="suite"):
                    qs[name](spark, DATA_DIR).write.format("noop").mode(
                        "overwrite").save()
            else:
                qs[name](spark, DATA_DIR).write.format("noop").mode(
                    "overwrite").save()
            walls[name].append(time.perf_counter() - q0)
            if tracer:
                persisted.append(persisted_rdds(sc))
        pass_walls.append(time.perf_counter() - p0)
        if (time.perf_counter() - t0 >= seconds
                and len(pass_walls) >= MIN_PASSES):
            break

    per_query = {n: statistics.median(w) for n, w in walls.items() if w}
    res = {
        "setup_s": setup_s,
        "setup_parts": parts,
        "per_query_s": per_query,
        "walls": pass_walls,
        "attempted": len(QUERIES),
        "failed": len(bad),
        "bad_queries": bad,
        "error": None,
    }
    if tracer:
        res["layer"] = {
            **{f"query.{n}_s": per_query.get(n, 0.0) for n in QUERIES},
            "spark.persisted_rdds_after": max(persisted) if persisted else 0,
        }
        res["spans"] = tracer
    return res


if __name__ == "__main__":
    sys.path.insert(0, common.ROOT)
    print(json.dumps(_oracle_hashes()))
