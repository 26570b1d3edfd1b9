"""Frontier dataflow operators — the relational core of the crawl engine.

Each function is a pure DataFrame -> DataFrame transform; the driver loop in
plans.crawl composes them per round. The admission half of a round
(optional bloom probe -> exact seen tag -> per-host cap) is composed in ONE
place, `admission_round`, which the crawl loop, the streaming ingest and
bench.py all call. Reference semantics being re-expressed:

* seen-set insert-if-absent  -> exact LEFT ANTI join on (url_hash, url_canon)
  (/root/reference/src/storage.rs:78-89), with partitioned bloom+cuckoo
  prefilters (operators.filters, blobs in the crawl's bucketed filter
  table) splitting off definitely-novel candidates so only "maybe seen"
  rows pay the join;
* per-domain URL cap         -> per-host row_number window against remaining
  room (/root/reference/src/main.rs:60,82-89);
* politeness                 -> per-host budget top-k window, TWO-PHASE over
  an explicit salt so one hot host cannot serialize a single window
  partition (the reference approximates politeness with a 2 s sleep,
  /root/reference/src/browser.rs:55 — we use budgets instead);
* robots gating              -> broadcast per-host prefix lists + EXISTS
  (no theta join: prefix lists are tiny per host).

Scale notes (100 TB / 10^10-URL design point):
* every join/window keys on `host` or `url_hash` — bucket the frontier
  table on url_hash and these become shuffle-free co-located joins;
* the two-phase salted window bounds any single task's input to
  |host partition| / n_salts regardless of skew; AQE skew-join handles the
  residual fetch-join skew;
* candidate volumes per round are ~politeness_budget x n_hosts, orders of
  magnitude below frontier size — the bloom prefilter keeps the exact
  anti-join's probe side small, and the big (frontier) side is only ever
  scanned, never collected.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import urls as U
from ..functions.relevance import relevance_score_udf
from .filters import CUCKOO_SATURATED, BloomFilter

# ---------------------------------------------------------------------------
# candidate preparation
# ---------------------------------------------------------------------------


def _derive_url_columns(df: DataFrame, keywords: dict[str, float],
                        score_impl: str | None) -> DataFrame:
    """url_canon -> + (url_hash, host, is_root, score): every derived column
    is a pure function of url_canon. score_impl: 'jvm' (default since r6 —
    measured ~2-3 s/round at 30M URLs over the Arrow path once GC headroom
    is right; zero Python in the round, the 100 TB hot path) uses the
    whole-stage-codegen column expression; 'arrow' scores with the
    vectorized pandas UDF — the surface the north star names, kernel shared
    with the pure-Python oracle. Both are proven equal in
    tests/test_relevance.py; override globally with
    SPARK_GRAFT_SCORE_IMPL=arrow."""
    import os

    from ..functions.relevance import relevance_score_expr

    impl = score_impl or os.environ.get("SPARK_GRAFT_SCORE_IMPL", "jvm")
    canon = F.col("url_canon")
    out = (
        df.withColumn("url_hash", U.url_hash(canon))
        .withColumn("host", U.url_host(canon))
        .withColumn("is_root", U.is_root_url(canon))
    )
    if impl == "jvm":
        return out.withColumn("score", relevance_score_expr(canon, keywords))
    return out.withColumn("score", relevance_score_udf(keywords)(canon))


def with_url_columns(df: DataFrame, url_col: str, keywords: dict[str, float],
                     score_impl: str | None = None) -> DataFrame:
    """url -> (url_canon, url_hash, host, is_root, score), dropping the raw
    col. score_impl as in _derive_url_columns."""
    canon = df.withColumn("url_canon", U.canonicalize_url(F.col(url_col)))
    return _derive_url_columns(canon, keywords, score_impl).drop(url_col)


def with_url_columns_deduped(df: DataFrame, url_col: str,
                             keywords: dict[str, float],
                             score_impl: str | None = None) -> DataFrame:
    """with_url_columns + dropDuplicates(url_canon), restructured so the
    batch-dedup SHUFFLE carries only the canonical URL string: canonicalize
    first, dedup on that single column, THEN derive url_hash/host/is_root/
    score from the surviving rows. Identical output to
    with_url_columns(df, ...).dropDuplicates(["url_canon"]) (all derived
    columns are pure functions of url_canon), but the exchange writes one
    column instead of five and the scoring kernel runs on distinct URLs
    only — measured ~8% on the full admission round at 3M URLs."""
    # NB (r6, measured): deduping on (url_hash, url_canon) instead — so the
    # exchange partitioning could be reused by the downstream seen join —
    # was tried and REVERTED: the 8-byte random hash added ~270 MB of
    # incompressible bytes to this exchange (+70 task-s) and cost more
    # than the candidate-side join exchange it saved.
    canon = (
        df.select(U.canonicalize_url(F.col(url_col)).alias("url_canon"))
        .dropDuplicates(["url_canon"])
    )
    return _derive_url_columns(canon, keywords, score_impl)


# ---------------------------------------------------------------------------
# robots gating (J5)
# ---------------------------------------------------------------------------


def robots_gate(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Tag candidates with robots_blocked via a BROADCAST join of per-host
    prefix lists + EXISTS over the array (prefix anti-join without a theta
    join). robots(host, disallow_prefix)."""
    rules = robots.groupBy("host").agg(
        F.collect_list("disallow_prefix").alias("_prefixes")
    )
    path = F.coalesce(U.url_path(F.col("url_canon")), F.lit(""))
    blocked = F.exists("_prefixes", lambda p: path.startswith(p))
    return (
        candidates.join(F.broadcast(rules), "host", "left")
        .withColumn("robots_blocked", F.coalesce(blocked, F.lit(False)))
        .drop("_prefixes")
    )


def robots_gate_rfc(candidates: DataFrame, rules: DataFrame) -> DataFrame:
    """Full RFC 9309 §2.2.2 gate: per-host rule structs are broadcast and
    resolved JVM-side — `filter` keeps the rules whose anchored regex
    matches the path, `aggregate` folds them to the most specific match
    (longest pattern wins; tie -> allow wins); no match => allowed. Zero
    Python per row and no theta join: rule lists ride one broadcast row
    per host, exactly like the prefix gate.

    rules(host, regex, is_allow, priority) — robots_rules_rfc_from_text
    output. Adds `robots_blocked`."""
    per_host = rules.groupBy("host").agg(
        F.collect_list(F.struct("regex", "is_allow", "priority")).alias("_rules")
    )
    path = F.coalesce(U.url_path(F.col("url_canon")), F.lit("/"))
    matches = F.filter("_rules", lambda r: F.regexp_like(path, r["regex"]))
    none = F.struct(
        F.lit(-1).alias("priority"), F.lit(True).alias("is_allow")
    )
    best = F.aggregate(
        matches,
        none,
        lambda acc, r: F.when(
            (r["priority"] > acc["priority"])
            | ((r["priority"] == acc["priority"]) & r["is_allow"]),
            F.struct(r["priority"].alias("priority"),
                     r["is_allow"].alias("is_allow")),
        ).otherwise(acc),
    )
    blocked = (best["priority"] >= 0) & ~best["is_allow"]
    return (
        candidates.join(F.broadcast(per_host), "host", "left")
        .withColumn("robots_blocked", F.coalesce(blocked, F.lit(False)))
        .drop("_rules")
    )


# ---------------------------------------------------------------------------
# bloom/cuckoo prefilter + exact seen anti-join (D1/J1)
# ---------------------------------------------------------------------------


FILTER_BLOB_SCHEMA = "bucket int, bloom binary, cuckoo binary"


def build_bucket_blooms_df(
    frontier: DataFrame, n_buckets: int = 16, fp_rate: float = 0.01
) -> DataFrame:
    """DataFrame-native bloom rebuild: one bloom per url_hash bucket, built
    ON THE EXECUTORS (applyInPandas, one task per bucket). The blobs NEVER
    travel to the driver — the caller
    commits the returned (bucket, bloom, cuckoo=null) rows to the bucketed
    filter table (plans.crawl: t_filters.commit_upsert), and probes read
    them back per bucket. Driver traffic is zero however large the
    frontier; a rebuild touches each frontier row exactly once."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["bucket"].iloc[0])
        bf = BloomFilter(capacity=max(len(pdf), 64), fp_rate=fp_rate)
        bf.add_many(pdf["url_hash"].to_numpy())
        return pd.DataFrame({"bucket": [b], "bloom": [bf.to_bytes()], "cuckoo": [None]})

    return (
        frontier.select(
            F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int").alias("bucket"),
            "url_hash",
        )
        .groupBy("bucket")
        .applyInPandas(build, FILTER_BLOB_SCHEMA)
    )


def bloom_probe_bucketed(
    candidates: DataFrame, filters_df: DataFrame | None, n_buckets: int
) -> DataFrame:
    """Bucket-aligned `maybe_seen` probe: candidates' url_hashes are
    cogrouped with the (bucket, bloom, cuckoo) blob table so EACH TASK
    reads only its own bucket's blobs — no driver collect, no broadcast of
    the full blob set (the round-1 design shipped every blob to every
    executor; at 10^10 keys that is ~12 GB broadcast per round). The blob
    side streams straight from the bucketed filter table's parquet.

    Missing bucket / missing table => maybe_seen=False (definitely novel):
    the exact anti-join downstream remains the correctness authority."""
    from .filters import CuckooFilter

    if filters_df is None:
        return candidates.withColumn("maybe_seen", F.lit(False))

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame({"url_hash": pd.Series([], dtype="int64"),
                                 "maybe_seen": pd.Series([], dtype=bool)})
        h = left["url_hash"].to_numpy()
        res = np.zeros(len(h), dtype=bool)
        if len(right):
            bl, ck = right["bloom"].iloc[0], right["cuckoo"].iloc[0]
            if bl is not None:
                res |= np.asarray(
                    BloomFilter.from_bytes(bytes(bl)).contains_many(h), dtype=bool
                )
            if ck is not None:
                if bytes(ck) == CUCKOO_SATURATED:
                    res[:] = True  # degraded bucket: exact join for all
                else:
                    res |= np.asarray(
                        CuckooFilter.from_bytes(bytes(ck)).contains_many(h),
                        dtype=bool,
                    )
        return pd.DataFrame({"url_hash": left["url_hash"], "maybe_seen": res})

    bucket = F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int").alias("bucket")
    keys = candidates.select("url_hash").distinct().select(bucket, "url_hash")
    blobs = filters_df.select("bucket", "bloom", "cuckoo")
    probed = (
        keys.groupBy("bucket")
        .cogroup(blobs.groupBy("bucket"))
        .applyInPandas(probe, "url_hash long, maybe_seen boolean")
    )
    return candidates.join(probed, "url_hash", "left").withColumn(
        "maybe_seen", F.coalesce(F.col("maybe_seen"), F.lit(False))
    )


def update_bucket_cuckoos_df(
    admitted: DataFrame,
    filters_df: DataFrame | None,
    n_buckets: int,
    capacity: int,
) -> DataFrame:
    """Executor-side delta maintenance, DataFrame-native: cogroup this
    round's admitted url_hashes with the blob table per bucket; each task
    inserts its bucket's keys into that bucket's cuckoo filter and emits
    the replacement (bucket, bloom, cuckoo) row. Returns rows for TOUCHED
    buckets only (right-only groups emit nothing), which the caller
    commits via partition-scoped upsert — neither the admitted rows nor
    the untouched buckets' blobs ever reach the driver."""
    from .filters import CuckooFilter

    spark = admitted.sparkSession
    if filters_df is None:
        filters_df = spark.createDataFrame([], FILTER_BLOB_SCHEMA)

    def upd(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"bucket": pd.Series([], dtype="int32"),
                              "bloom": pd.Series([], dtype=object),
                              "cuckoo": pd.Series([], dtype=object)})
        if len(left) == 0:
            return empty  # untouched bucket: keep previous blobs as-is
        b = int(left["bucket"].iloc[0])
        bloom = None
        ck_blob = None
        if len(right):
            if right["bloom"].iloc[0] is not None:
                bloom = bytes(right["bloom"].iloc[0])
            if right["cuckoo"].iloc[0] is not None:
                ck_blob = bytes(right["cuckoo"].iloc[0])
        if ck_blob == CUCKOO_SATURATED:  # degraded: stays degraded until rebuild
            return pd.DataFrame(
                {"bucket": [b], "bloom": [bloom], "cuckoo": [CUCKOO_SATURATED]}
            )
        ck = CuckooFilter.from_bytes(ck_blob) if ck_blob else CuckooFilter(capacity)
        inserted = ck.add_many(left["url_hash"].to_numpy())
        # overflow => false NEGATIVES (an admitted key absent from BOTH
        # filters makes bloom_probe_bucketed say maybe_seen=False, and
        # tag_seen's fast path would re-admit it without the exact join):
        # mark the bucket degraded — probes answer True for everything in
        # it, restoring correctness at the cost of the exact join, until
        # the next bloom rebuild absorbs the delta and clears the marker.
        out = ck.to_bytes() if inserted == len(left) else CUCKOO_SATURATED
        return pd.DataFrame({"bucket": [b], "bloom": [bloom], "cuckoo": [out]})

    bucket = F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int").alias("bucket")
    adm = admitted.select(bucket, "url_hash")
    blobs = filters_df.select("bucket", "bloom", "cuckoo")
    return (
        adm.groupBy("bucket")
        .cogroup(blobs.groupBy("bucket"))
        .applyInPandas(upd, FILTER_BLOB_SCHEMA)
    )


def tag_seen(
    candidates: DataFrame, frontier: DataFrame, invert: bool = False
) -> DataFrame:
    """Exact seen tagging: LEFT join on (url_hash, url_canon) — the hash is
    the 8-byte shuffle key, the canonical URL the collision guard. Rows
    already carrying maybe_seen=False skip the join entirely (bloom fast
    path); the exact join remains the authority for the rest.

    invert=True is the batch<<frontier plan: the candidate batch's DISTINCT
    url_hashes (8-byte longs, politeness-bounded per round) are broadcast
    as a semi-filter over the seen side FIRST, so the frontier — the 10^10
    side — is scanned map-side but NEVER shuffled or sorted; only the
    ≤|batch| surviving keys flow into the exact (url_hash, url_canon) join
    (which AQE then broadcasts too). Same result bit-for-bit: the semi-
    filter can only drop frontier rows whose hash no candidate carries,
    and those can't match the exact join anyway. Callers gate it on batch
    size (plans.crawl: seen_invert_max_batch) — the broadcast is ~8B/key.
    Measured at a 61M-row frontier: bench_runs/bloom_compare_r05.json.

    NB: the fast/slow split reads `candidates` TWICE — admission_round
    persists it, or its lineage (score UDF, dedup shuffle) recomputes."""
    seen_keys = frontier.select("url_hash", "url_canon", F.lit(True).alias("_seen"))
    if invert:
        probe = candidates
        if "maybe_seen" in candidates.columns:
            probe = candidates.filter(F.col("maybe_seen"))
        cand_hashes = probe.select("url_hash").distinct()
        seen_keys = seen_keys.join(F.broadcast(cand_hashes), "url_hash", "left_semi")
    if "maybe_seen" in candidates.columns:
        fast = candidates.filter(~F.col("maybe_seen")).withColumn("seen", F.lit(False))
        slow = (
            candidates.filter(F.col("maybe_seen"))
            .join(seen_keys, ["url_hash", "url_canon"], "left")
            .withColumn("seen", F.coalesce(F.col("_seen"), F.lit(False)))
            .drop("_seen")
        )
        return fast.unionByName(slow)
    return (
        candidates.join(seen_keys, ["url_hash", "url_canon"], "left")
        .withColumn("seen", F.coalesce(F.col("_seen"), F.lit(False)))
        .drop("_seen")
    )


def seen_anti_join(candidates: DataFrame, frontier: DataFrame) -> DataFrame:
    """Pure anti-join form (novel rows only) for callers that don't need
    fate tagging."""
    return candidates.join(
        frontier.select("url_hash", "url_canon"), ["url_hash", "url_canon"], "left_anti"
    )


# ---------------------------------------------------------------------------
# ranking kernels: per-group top-k (A6/A7) and the range-partitioned rank
# ---------------------------------------------------------------------------

def _order() -> list[Column]:
    """The pinned deterministic total order (shared by admission, scheduling
    and the crawl_log sequence): is_root desc, score desc, url_canon asc."""
    return [F.col("is_root").desc(), F.col("score").desc(), F.col("url_canon").asc()]


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int | str,
    n_salts: int = 8,
    salt_on: str | None = None,
) -> DataFrame:
    """THE skew-safe per-group top-k — per-host admission room, politeness
    budgets, per-stratum sample quotas and the capped recrawl/retry
    selectors all rank through it. Phase 1 ranks within (group, salt) —
    bounding any single task to |group|/n_salts rows — and keeps each
    salt's local top-k; phase 2 re-ranks the <= n_salts*k survivors per
    group. Output identical to a single window.

    `k` is an int, or the name of a column whose per-row value is the
    limit (constant within a group: a per-host budget or room); rows with
    a limit <= 0 are dropped. The limit column is left on the output."""
    limit = F.col(k) if isinstance(k, str) else k
    salt_src = salt_on or group_cols[-1]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_src), F.lit(n_salts))
    )
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order_cols)
    phase1 = salted.withColumn("_rn1", F.row_number().over(w1)).filter(
        F.col("_rn1") <= limit
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        phase1.withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= limit)
        .drop("_salt", "_rn1", "_rn2")
    )


def _most_overdue(due: DataFrame, overdue_col: str,
                  max_per_round: int | None) -> DataFrame:
    """Cap a recrawl/retry selection at `max_per_round` rows, most overdue
    first (then the pinned order), through top_k_per_group over one group."""
    if max_per_round is None:
        return due
    return top_k_per_group(
        due.withColumn("_g", F.lit(1)),
        ["_g"],
        [F.col(overdue_col).desc(), *_order()],
        max_per_round,
        salt_on="url_canon",
    ).drop("_g")


def _range_rank(df: DataFrame, order: list[Column],
                n_partitions: int | None) -> tuple[DataFrame, Column]:
    """THE global rank of `df` under a strict total `order`, with no
    SinglePartition stage: rows are RANGE-partitioned on the order, each
    range partition ranks its own slice in parallel (the window's partition
    key is the range-partition id), and the global rank is local rank + the
    sum of earlier partitions' counts (one tiny n_partitions-row collect).
    Because the order is strict, the result equals a single global
    row_number wherever the range boundaries fall.

    Returns (parts, rank): select `rank` (1-based) from `parts`. `parts` is
    localCheckpointed — counts and ranks must come from the SAME
    materialized partitioning (a lazy recompute could resample different
    range boundaries between the count pass and the rank pass) — so the
    caller frees it with release_checkpoints(result) after its last action."""
    n = n_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parts = (
        df.repartitionByRange(n, *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    cnts = {r["_pid"]: r["n"]
            for r in parts.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(cnts):
        offsets[pid] = acc
        acc += cnts[pid]
    if cnts:
        off_map = F.create_map(
            *[x for pid in sorted(cnts) for x in (F.lit(pid), F.lit(offsets[pid]))]
        )
        offset = F.coalesce(off_map[F.col("_pid")], F.lit(0))
    else:
        offset = F.lit(0)  # empty input: typed map() literal won't resolve
    rank = F.row_number().over(Window.partitionBy("_pid").orderBy(*order))
    return parts, rank + offset


# ---------------------------------------------------------------------------
# per-host admission cap (A6) — reference max_urls_per_domain
# ---------------------------------------------------------------------------

def admit_with_cap(
    tagged: DataFrame, frontier: DataFrame, cap: int, n_salts: int = 8
) -> DataFrame:
    """Tag eligible (not blocked, not seen) candidates with `admitted` by
    per-host room: rank over (is_root desc, score desc, url_canon)
    <= cap - existing_host_count. Deterministic total order => identical to
    the oracle's sequential insert loop.

    Skew-safe ranking through top_k_per_group with the per-host room as
    the limit column: a hot host with millions of candidates would
    otherwise rank in ONE window task and serialize the whole round. The
    winners' keys join back onto the full tagged set (so every candidate
    keeps its fate tag for metrics).

    r6 note (measured, REVERTED): a "small-host bypass" variant — hosts
    whose eligible head-count fits their room skip the ranking windows,
    only overflow hosts pay the sorts, winners join-back shrinks to
    overflow winners — was measured at a 30M-URL round and LOST (22.2 s
    -> 31.7 s): it needs three extra full passes over the persisted
    candidate table (bypass agg + two broadcast-probe scans replacing
    exchange-fused pipelines), and on a bandwidth-bound box a 30M-row
    cached scan (~40 task-s) costs more than the narrow projected sort
    exchanges it avoids (~190 MB). The two-phase salted windows over
    §2.3-projected rows are already the cheap shape here.

    NB: the join-back reads `tagged` TWICE — admission_round persists it."""
    counts = frontier.groupBy("host").agg(F.count("*").alias("_n"))
    elig_expr = ~F.col("robots_blocked") & ~F.col("seen")
    if "trap_blocked" in tagged.columns:  # opt-in spider-trap hygiene
        elig_expr = elig_expr & ~F.col("trap_blocked")
    if "mirror_blocked" in tagged.columns:  # opt-in mirror-host hygiene
        elig_expr = elig_expr & ~F.col("mirror_blocked")
    if "dup_trap_blocked" in tagged.columns:  # opt-in dup-content-trap hygiene
        elig_expr = elig_expr & ~F.col("dup_trap_blocked")
    tagged = (
        tagged.withColumn("eligible", elig_expr)
        .join(counts, "host", "left")  # AQE picks broadcast when counts is small
        .withColumn("_room", F.lit(cap) - F.coalesce(F.col("_n"), F.lit(0)))
    )
    # project the ranking input to the window's own columns before the
    # exchange (guide §2.3): the two sorts otherwise carry every tag and
    # metric column of the full candidate row for nothing — the winners
    # join-back re-attaches them by key
    elig = tagged.filter(F.col("eligible") & (F.col("_room") > 0)).select(
        "url_hash", "url_canon", "host", "is_root", "score", "_room")
    winners = top_k_per_group(
        elig, ["host"], _order(), "_room", n_salts, salt_on="url_canon"
    ).select("url_hash", "url_canon", F.lit(True).alias("_win"))
    return (
        tagged.join(winners, ["url_hash", "url_canon"], "left")
        .withColumn("admitted", F.coalesce(F.col("_win"), F.lit(False)))
        .drop("_n", "_room", "_win", "eligible")
    )


def admission_round(
    gated: DataFrame,
    frontier: DataFrame,
    cap: int,
    *,
    invert: bool = False,
    filters: DataFrame | None = None,
    n_buckets: int | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """The seen-join + cap half of one admission round, the single
    composition the crawl loop, the streaming ingest and bench.py share:
    robots-gated candidates -> optional bucketed bloom probe -> exact
    tag_seen -> admit_with_cap. Returns (tagged, handles): `tagged` carries
    `seen` and `admitted`; `handles` are the DataFrames persisted here,
    which the caller unpersists after its last action on `tagged`.

    The seen-join arm is the caller's choice (plans.crawl picks it from the
    frontier estimate and the batch size): plain shuffled join by default,
    `invert=True` for the broadcast-semi plan, `filters` (the bucketed
    (bucket, bloom, cuckoo) blob table, `n_buckets` of them) for the bloom
    prefilter. Every arm gives the same output.

    Persisted are exactly the DataFrames read twice: `gated` on the invert
    or bloom arm (unless the caller already persisted it), the probe output
    (tag_seen's fast/slow split), and the tag_seen output (admit_with_cap's
    winners join-back)."""
    handles: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        df = df.persist()
        handles.append(df)
        return df

    cands = gated
    if (invert or filters is not None) and not gated.is_cached:
        cands = keep(gated)
    if filters is not None:
        cands = keep(bloom_probe_bucketed(cands, filters, n_buckets))
    pre_admit = keep(tag_seen(cands, frontier, invert=invert))
    return admit_with_cap(pre_admit, frontier, cap), handles


# ---------------------------------------------------------------------------
# politeness-budget priority queue (A7)
# ---------------------------------------------------------------------------

def politeness_topk(
    pending: DataFrame,
    budgets: DataFrame,
    default_budget: int,
    n_salts: int = 8,
) -> DataFrame:
    """Per-host top-budget by (is_root desc, score desc, url_canon asc):
    top_k_per_group with the host's budget as the limit column, so no
    single task ever sees a whole hot host. budgets(host, budget); hosts
    without a row get `default_budget`."""
    with_budget = pending.join(F.broadcast(budgets), "host", "left").withColumn(
        "_budget", F.coalesce(F.col("budget"), F.lit(default_budget))
    ).drop("budget")
    return top_k_per_group(
        with_budget, ["host"], _order(), "_budget", n_salts, salt_on="url_canon"
    ).drop("_budget")


def adaptive_budgets(frontier: DataFrame, budgets: DataFrame,
                     default_budget: int, min_budget: int = 1,
                     threshold_num: int = 1, threshold_den: int = 2
                     ) -> DataFrame:
    """Failure-aware politeness: hosts whose FAILED share of attempted
    fetches reaches `threshold_num/threshold_den` get their configured
    budget halved (floored at `min_budget`) — the standard crawl backoff
    that stops a dying/blocking host from burning its full schedule slot
    every round. The reference approximates politeness with a fixed 2 s
    sleep (/root/reference/src/browser.rs:55); this is the budgeted analog
    reacting to observed fetch outcomes.

    All arithmetic is integer (the ratio test is cross-multiplied), so the
    output can never float-diverge across engines. Returns (host, budget)
    covering every host present in `frontier` or `budgets`.

    Scale shape: ONE hash aggregation on host over the frontier (map-side
    partial agg) + a full-outer join with the budgets dim (tiny: one row
    per configured host — broadcast). Feed the result straight into
    politeness_topk in place of the static table. NB the output has one
    row per host WITH FETCH HISTORY — at extreme host cardinality (10^8+)
    politeness_topk's broadcast of the budget table stops being free;
    filter to hosts actually throttled (budget != default) first, which
    restores a small dim (backoff lists are sparse by nature)."""
    stats = (
        frontier.filter(F.col("status").isin("SUCCESS", "FAILED"))
        .groupBy("host")
        .agg(
            F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0))
            .alias("_n_failed"),
            F.count("*").alias("_attempted"),
        )
    )
    base = budgets.select("host", F.col("budget").alias("_budget"))
    joined = stats.join(base, "host", "full_outer")
    b = F.coalesce(F.col("_budget"), F.lit(default_budget))
    hot = (
        F.col("_attempted").isNotNull()
        & (F.col("_n_failed") * threshold_den
           >= F.col("_attempted") * threshold_num)
    )
    budget = F.when(
        hot, F.greatest(F.floor(b / 2).cast("int"), F.lit(min_budget))
    ).otherwise(b.cast("int"))
    return joined.select("host", budget.alias("budget"))


def refresh_due(frontier: DataFrame, round_no: int, interval: int, *,
                intervals: DataFrame | None = None,
                statuses: tuple[str, ...] = ("SUCCESS",),
                max_per_round: int | None = None) -> DataFrame:
    """Freshness/recrawl scheduling: frontier rows whose last fetch is at
    least `interval` rounds old become refresh candidates again, stalest
    first (the standard revisit policy; pair with sitemap <lastmod> by
    shrinking `interval` for hosts that publish recent lastmods).

    `intervals` switches to a PER-HOST interval: a (key, interval) dim from
    `plans.analysis.recrawl_intervals` — hosts whose content was observed
    to change often get short revisit intervals, static hosts long ones
    (the adaptive revisit policy; Cho & Garcia-Molina 2003 uniform
    allocation over estimated change rates). Hosts with no estimate yet
    fall back to `interval`.

    Emits (url_canon, url_hash, host, is_root, score, rounds_stale) ordered
    by the engine's pinned total order within equal staleness. With
    `max_per_round` the emission is capped via the skew-safe two-phase
    top-k (one global group), bounding refresh load per round.

    Scale shape: a filter + projection over the bucketed frontier —
    predicate pushdown reaches the parquet scan (status + round_fetched
    are plain columns); the interval dim is host-cardinality (tiny vs the
    frontier) and is broadcast-joined. No shuffle unless the cap ranks."""
    stale = F.lit(round_no) - F.col("round_fetched")
    fetched = F.col("status").isin(list(statuses)) & F.col("round_fetched").isNotNull()
    if intervals is None:
        due = frontier.filter(fetched & (stale >= interval))
    else:
        iv = intervals.select(
            F.col("key").alias("host"), F.col("interval").alias("_iv")
        )
        due = (
            frontier.filter(fetched)
            .join(F.broadcast(iv), "host", "left")
            .filter(stale >= F.coalesce(F.col("_iv"), F.lit(interval)))
        )
    due = due.select("url_canon", "url_hash", "host", "is_root", "score",
                     stale.cast("int").alias("rounds_stale"))
    return _most_overdue(due, "rounds_stale", max_per_round)


def revalidate_pending(frontier: DataFrame, robots: DataFrame | None = None,
                       rfc_rules: DataFrame | None = None) -> DataFrame:
    """Rule-change hygiene: PENDING rows were admitted under the robots
    rules of THEIR round; when a host's robots.txt is refetched and the
    rules tightened, those queued URLs may now be disallowed. Re-apply
    the gate to the pending pool and return the rows now blocked —
    callers MERGE them to a terminal status (or drop them) before the
    next schedule, so the crawler never fetches against current rules.

    Pass `robots` (host, disallow_prefix) for the conservative prefix
    gate or `rfc_rules` (robots_rules_rfc_from_text output) for full
    RFC 9309 resolution — the same broadcast gates the admission path
    uses (robots_gate / robots_gate_rfc), on a status-pushdown scan of
    the bucketed frontier."""
    pend = frontier.filter(F.col("status") == "PENDING")
    if rfc_rules is not None:
        gated = robots_gate_rfc(pend, rfc_rules)
    elif robots is not None:
        gated = robots_gate(pend, robots)
    else:
        raise ValueError("pass robots or rfc_rules")
    return gated.filter(F.col("robots_blocked")).drop("robots_blocked")


def retry_due(frontier: DataFrame, attempts: DataFrame, round_no: int,
              base_backoff: int = 1, max_retries: int = 3,
              max_per_round: int | None = None) -> DataFrame:
    """Failure retry with exponential backoff: FAILED frontier rows
    re-enter the schedule pool once `base_backoff * 2^(n_attempts - 1)`
    rounds have passed since the last attempt.  `max_retries` counts
    RE-fetches after the initial attempt (a row is re-scheduled while
    `n_attempts <= max_retries`, i.e. at most `max_retries + 1` total
    attempts — the e2e contract asserts 1 + 3 = 4 for max_retries=3).
    `attempts` is (url_canon, n_attempts) — derivable
    from the crawl log (one count agg: every emission is an attempt) so
    no frontier schema change is needed.

    All integer arithmetic (shiftleft, never pow-float); emits the
    standard schedule columns + n_attempts + rounds_waited, ordered most-
    overdue first under the optional skew-safe cap.

    Scale shape: status+round pushdown filter on the bucketed frontier,
    one broadcast-or-shuffled join against the (bounded, FAILED-only)
    attempts dim, then the same two-phase top-k cap as refresh_due."""
    # SQL shiftleft takes a column bit count; the python wrapper insists
    # on a literal int, so go through expr
    backoff = F.expr(
        f"shiftleft({int(base_backoff)}L, CAST(n_attempts - 1 AS INT))"
    )
    waited = F.lit(round_no) - F.col("round_fetched")
    due = (
        frontier.filter(
            (F.col("status") == "FAILED") & F.col("round_fetched").isNotNull()
        )
        .join(attempts.select("url_canon", "n_attempts"), "url_canon")
        .filter((F.col("n_attempts") <= max_retries) & (waited >= backoff))
        .select("url_canon", "url_hash", "host", "is_root", "score",
                F.col("n_attempts").cast("int").alias("n_attempts"),
                waited.cast("int").alias("rounds_waited"))
    )
    return _most_overdue(due, "rounds_waited", max_per_round)


def attempts_from_log(crawl_log: DataFrame) -> DataFrame:
    """(url_canon, n_attempts) from the crawl log — every log emission is
    one fetch attempt. One hash agg; feed to `retry_due`."""
    return crawl_log.groupBy("url_canon").agg(
        F.count(F.lit(1)).alias("n_attempts")
    )


def assign_shards(hosts: DataFrame, n_shards: int, key_col: str = "host",
                  salt: str = "shard") -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: each key goes
    to argmax over shards of md5(key|shard_i|salt) — the consistent-
    placement scheme a politeness-sharded fetch fleet uses to pin every
    host to ONE worker (per-host rate limits need a single owner), while
    resizing from n to n+1 shards moves only ~1/(n+1) of the keys
    (plain hash-mod would reshuffle almost all of them).

    Deterministic, engine-replayable (md5 + hex arithmetic, same recipe
    as sampling.md5_uniform_bits), map-only: output (key, shard)."""
    from .sampling import md5_uniform_bits

    scores = F.array(*[
        F.struct(
            md5_uniform_bits(
                F.concat(F.col(key_col).cast("string"),
                         F.lit(f"|{i}")), salt=salt, nbits=48,
            ).alias("w"),
            F.lit(i).alias("shard"),
        )
        for i in range(n_shards)
    ])
    best = F.array_max(scores)  # struct order: w first -> max weight wins,
    # shard index breaks exact-weight ties deterministically
    return hosts.select(
        F.col(key_col).alias("key"), best["shard"].alias("shard")
    )


def global_crawl_order(scheduled: DataFrame, round_no: int,
                       n_partitions: int | None = None) -> DataFrame:
    """crawl_log rows (round, seq, url_canon): the deterministic total order
    the oracle pins (is_root desc, score desc, url_canon asc).

    The contract requires ONE total sequence per round, but no stage here
    ever sees the whole schedule: seq is the range-partitioned global rank
    (_range_rank) on the pinned order, which is STRICT (url_canon is
    unique within a schedule).

    The ranking is _range_rank's: free its localCheckpoint with
    release_checkpoints(result) once the last action on the result ran."""
    parts, rank = _range_rank(scheduled, _order(), n_partitions)
    return parts.select(
        F.lit(round_no).alias("round"),
        rank.cast("int").alias("seq"),
        "url_canon",
    )


def release_checkpoints(df: DataFrame) -> None:
    """Unpersist the localCheckpoint materializations `df` reads from
    (global_crawl_order and apportion_budget each make one). Call it after
    the last action on `df`: a released local checkpoint cannot be
    recomputed, and an unreleased one stays cached for the session."""
    sc = df.sparkSession.sparkContext._jsc.sc()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD" and leaf.rdd().isLocallyCheckpointed():
            # SparkContext.unpersistRDD, not RDD.unpersist: the latter logs
            # a lineage-truncation warning on every call
            sc.unpersistRDD(leaf.rdd().id(), False)


def anchor_relevance(docs: DataFrame, keywords: dict[str, int],
                     spans_col: str = "spans",
                     host_col: str = "host") -> DataFrame:
    """Anchor-text relevance aggregation — the focused-crawler admission
    signal the reference approximates with its per-URL Claude selection
    (/root/reference/src/main.rs:120-156 relevance phase): every incoming
    link's anchor TEXT votes for its TARGET, because the words people use
    to link to a page describe it better than the page's own URL tokens.

    Input is the engine's span-doc layout (doc_id, host, spans); anchor
    spans are `kind='a'` with the href in `media_ref` and the anchor text
    in `text` (sources/html_ingest.py). Hrefs resolve against the source
    page's host with the reference's branch-order quirk preserved
    (functions/urls.py::resolve_href), then canonicalize; anchor text is
    scored with integer keyword weights (keyword_hits_expr — all-integer,
    hash-safe).

    Output: one row per distinct target
    (url_canon, n_anchors, n_referrers, anchor_score). Join it onto the
    candidate chain by url_canon (or url_hash at 10^10 scale) and fold
    `anchor_score` into the admission priority alongside the URL-token
    score — frontier.with_url_columns' score column composes additively.

    Scale shape: explode is map-side (no exchange); the single shuffle is
    the groupBy on the target key with map-side partial aggregation.
    countDistinct(doc_id) expands to a two-phase distinct agg — still one
    exchange on url_canon. At 10^10 links, group on url_hash instead and
    carry url_canon via first() to cut shuffle-key bytes (the fetch join's
    key discipline, plans/crawl.py)."""
    from ..functions.relevance import keyword_hits_expr

    s = F.col("s")
    anchors = (
        docs.select(F.col("doc_id"), F.col(host_col).alias("_base"),
                    F.explode(F.col(spans_col)).alias("s"))
        .filter((s["kind"] == "a") & s["media_ref"].isNotNull()
                & (s["media_ref"] != ""))
        .select(
            "doc_id",
            U.canonicalize_url(
                U.resolve_href(s["media_ref"], F.col("_base"))
            ).alias("url_canon"),
            keyword_hits_expr(s["text"], keywords).alias("_hits"),
        )
    )
    return anchors.groupBy("url_canon").agg(
        F.count("*").alias("n_anchors"),
        F.countDistinct("doc_id").alias("n_referrers"),
        F.sum("_hits").alias("anchor_score"),
    )


def apportion_budget(weights: DataFrame, total: int,
                     key_col: str = "host",
                     weight_col: str = "weight",
                     n_partitions: int | None = None) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer fetch
    budget across hosts: (key, weight) -> (key, quota) with
    sum(quota) == total exactly, quotas proportional to weight.

    This is the allocator between centrality and scheduling: feed it
    pagerank/HITS host scores (integer fixed-point, operators/linkgraph)
    and the round's global fetch budget, and the quotas drive
    politeness_topk's per-host budgets. All arithmetic is integer
    (base = total*w div W; the L = total - sum(base) leftover units go
    to the L largest remainders, ties broken by key asc) so the split
    is deterministic and oracle-exact — no float shares that could
    apportion 9999 or 10001 of a 10000 budget.

    Scale shape: two vocabulary-sized apportionment scans (sum W, then
    sum of bases) and ONE global ranking of remainders — the same
    _range_rank as emit ordering (no SinglePartition stage; the only
    driver traffic is n_partitions partition counts). Hosts are ~10^8 at the 10^10-URL
    design point: trivially rankable this way every round.

    Weights must be non-negative; total*max(weight) must fit in int64
    (with 10^8 hosts and int32-ish centrality scores that leaves 10^2
    headroom — rescale weights first if feeding raw 64-bit scores). The
    remainder ranking reads a localCheckpoint; free it with
    release_checkpoints(result) after the last action on the result.
    """
    w_sum = weights.agg(F.sum(F.col(weight_col).cast("long"))).collect()[0][0]
    if not w_sum:  # empty input or all-zero weights: nothing to divide
        return weights.select(F.col(key_col).alias("key"),
                              F.lit(0).cast("long").alias("quota"))
    based = weights.select(
        F.col(key_col).alias("key"),
        (F.lit(int(total)).cast("long")
         * F.col(weight_col).cast("long")).alias("_prod"),
    ).select(
        "key",
        # integer `div`, not `/`: float division would round through a
        # double and lose exactness past 2^53
        F.expr(f"_prod div {int(w_sum)}").alias("base"),
        F.expr(f"_prod % {int(w_sum)}").alias("rem"),
    )
    leftover = total - based.agg(F.sum("base")).collect()[0][0]
    parts, rank = _range_rank(
        based, [F.col("rem").desc(), F.col("key").asc()], n_partitions)
    return parts.select(
        "key",
        (F.col("base") + (rank <= F.lit(leftover)).cast("long")).alias("quota"),
    )


def duplicate_content_hosts(
    pages: DataFrame, min_urls: int = 50, trap_ratio_bp: int = 5000,
    host_col: str = "host", url_col: str = "url_canon",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Duplicate-content trap hosts: hosts whose crawled URL space explodes
    over a much smaller set of DISTINCT contents — session-id and
    calendar/facet traps that survive URL-pattern heuristics
    (functions.urls.is_trap_url catches the pattern-shaped ones; this
    catches the rest by what the fetches actually returned), soft-404
    farms, and infinite-pagination shells all land here.

    Per host (all integer, engine-portable):
        n_urls       = count(DISTINCT url)
        n_content    = count(DISTINCT fingerprint)
        dup_ratio_bp = ((n_urls - n_content) * 10^4) div n_urls
        is_trap      = n_urls >= min_urls AND dup_ratio_bp >= trap_ratio_bp
    The volume floor keeps small hosts (where one duplicate swings the
    ratio) out; integer `div` (not floor(double /)) keeps the basis points
    exact past 2^53 — same contract as analysis.change_rate_ppm.

    Scale shape (10^10 pages): ONE hash agg keyed by host — two distinct
    aggregates share the exchange (Spark expands to 2 rows/input before
    the partial agg, still map-side combined). Output is O(hosts). At
    extreme scale swap the exact distincts for approx_count_distinct —
    the ratio tolerates sketch error; keep the floor exact.

    Crawl-loop wiring: plans/crawl.py `dup_trap_detect_every` recomputes
    this over FETCHED content every N rounds and stops scheduling
    confirmed traps (fate `dup_trap_rejected`), the same hygiene cadence
    as mirror detection. No reference analogue (the reference crawls
    single sites); LLM-pipeline / web-scale addition."""
    n_urls = F.countDistinct(F.col(url_col)).alias("n_urls")
    n_content = F.countDistinct(F.col(fp_col)).alias("n_content")
    return (
        pages.groupBy(F.col(host_col).alias("host"))
        .agg(n_urls, n_content)
        .select(
            "host", "n_urls", "n_content",
            F.expr("((n_urls - n_content) * 10000) div n_urls")
            .cast("long").alias("dup_ratio_bp"),
        )
        .withColumn(
            "is_trap",
            (F.col("n_urls") >= min_urls)
            & (F.col("dup_ratio_bp") >= trap_ratio_bp),
        )
    )


def age_priority(
    pool: DataFrame, round_no: int, weight_bp: int = 2500,
    score_col: str = "score", round_col: str = "round_added",
) -> DataFrame:
    """Starvation-free priority aging: effective score = score +
    rounds_waited * weight_bp/10^4. Under a per-host politeness budget a
    low-score URL can wait FOREVER behind a stream of higher-scored
    siblings (score is static; every round the budget fills above it) —
    the classic priority-queue starvation. Aging converts wait time into
    priority, bounding any URL's delay at
    (score_gap * 10^4 / weight_bp) rounds while leaving fresh-URL
    ordering untouched (waited = 0 adds nothing).

    Prefer weight_bp values that are exact binary fractions of 10^4
    (2500 = 0.25, 5000 = 0.5, 1250 = 0.125): the aged score then stays
    EXACT in IEEE-754 whenever the base score is, so the scheduling
    order is reproducible bit-for-bit across engines and runs — the same
    determinism contract as the pinned (is_root, score, url_canon) order
    itself. Map-only projection, no shuffle; compose before
    politeness_topk. Crawl-loop wiring: EngineConfig.aging_weight_bp
    (default None = reference parity — the reference re-sorts a static
    score each round and can starve exactly this way)."""
    waited = (F.lit(round_no) - F.col(round_col)).cast("double")
    waited = F.greatest(waited, F.lit(0.0))  # clock never runs backwards
    return pool.withColumn(
        score_col,
        F.col(score_col) + waited * F.lit(weight_bp / 10_000.0),
    )
