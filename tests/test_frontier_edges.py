"""Frontier operator edge cases: empty frontier, all-seen batches, zero
cap/room, hosts without budgets, and the two-phase window plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smartcrawler_spark.operators import frontier as FR

CAND_SCHEMA = (
    "url_canon string, url_hash long, host string, is_root boolean, score double"
)
FRONT_SCHEMA = CAND_SCHEMA


def cands(spark, rows):
    return spark.createDataFrame(rows, CAND_SCHEMA)


def tagged(spark, rows, frontier):
    df = cands(spark, rows)
    df = df.withColumn("robots_blocked", F.lit(False))
    return FR.tag_seen(df, frontier)


def _row(u, h="h.com", root=False, score=0.0):
    return (u, hash(u) % (2**62), h, root, score)


def test_empty_frontier_admits_up_to_cap(spark):
    empty = spark.createDataFrame([], FRONT_SCHEMA)
    rows = [_row(f"https://h.com/{i}", score=float(i)) for i in range(6)]
    t = tagged(spark, rows, empty)
    out = FR.admit_with_cap(t, empty, cap=4)
    admitted = sorted(r["url_canon"] for r in out.filter("admitted").collect())
    # top-4 by score desc, url asc: /5,/4,/3,/2
    assert admitted == [f"https://h.com/{i}" for i in (2, 3, 4, 5)]


def test_all_seen_admits_nothing(spark):
    rows = [_row(f"https://h.com/{i}") for i in range(4)]
    frontier = cands(spark, rows)
    t = tagged(spark, rows, frontier)
    out = FR.admit_with_cap(t, frontier, cap=100)
    assert out.filter("admitted").count() == 0
    assert out.filter("seen").count() == 4  # all tagged seen, none lost


def test_zero_room_host(spark):
    frontier = cands(spark, [_row(f"https://h.com/old{i}") for i in range(3)])
    t = tagged(spark, [_row("https://h.com/new")], frontier)
    out = FR.admit_with_cap(t, frontier, cap=3)  # host already full
    assert out.filter("admitted").count() == 0
    assert out.count() == 1  # the row is still tagged (cap_rejected fate)


def test_politeness_missing_budget_uses_default(spark):
    pending = cands(spark, [_row(f"https://nobudget.com/{i}", h="nobudget.com")
                            for i in range(10)])
    budgets = spark.createDataFrame([("other.com", 99)], "host string, budget int")
    out = FR.politeness_topk(pending, budgets, default_budget=3)
    assert out.count() == 3


def test_politeness_two_phase_equals_single_window(spark):
    """The salted two-phase result must equal a plain single window for any
    n_salts."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(300):
        h = f"host{rng.randrange(3)}.com"
        rows.append((f"https://{h}/p{i}", rng.getrandbits(60), h,
                     False, float(rng.randrange(10))))
    pending = cands(spark, rows)
    budgets = spark.createDataFrame([("host0.com", 7)], "host string, budget int")
    results = []
    for n_salts in (1, 4, 16):
        out = FR.politeness_topk(pending, budgets, default_budget=5, n_salts=n_salts)
        results.append(sorted(r["url_canon"] for r in out.collect()))
    assert results[0] == results[1] == results[2]


def test_admit_bypass_equals_single_window_rank(spark):
    """admit_with_cap's two-phase salted ranking must match a plain
    single-window rank<=room reference on a mix of under-room hosts
    (eligible <= room), overflow hosts (eligible > room), exact-boundary
    hosts (eligible == room), zero-room hosts, and a NULL host."""
    import random

    from pyspark.sql import Window

    rng = random.Random(11)
    rows = []
    for host, n_cand in [("tiny.com", 2), ("edge.com", 5), ("hot.com", 40),
                         ("full.com", 6), (None, 3)]:
        for i in range(n_cand):
            u = f"https://{host or 'x'}/p{i}"
            rows.append((u, rng.getrandbits(60), host,
                         i == 0, float(rng.randrange(5))))
    batch = cands(spark, rows)
    # frontier: full.com already holds cap rows; edge.com holds cap-5 so
    # room == its 5 eligible rows (the <=/== boundary)
    cap = 8
    front_rows = [_row(f"https://full.com/old{i}", h="full.com") for i in range(cap)]
    front_rows += [_row(f"https://edge.com/old{i}", h="edge.com") for i in range(cap - 5)]
    frontier = cands(spark, front_rows)
    t = tagged(spark, rows, frontier).persist()
    try:
        out = {(r["url_canon"], r["admitted"])
               for r in FR.admit_with_cap(t, frontier, cap=cap).collect()}
        # reference: plain single-window rank over eligible rows
        counts = frontier.groupBy("host").agg(F.count("*").alias("_n"))
        ref_t = (
            t.withColumn("eligible", ~F.col("robots_blocked") & ~F.col("seen"))
            .join(counts, "host", "left")
            .withColumn("_room", F.lit(cap) - F.coalesce(F.col("_n"), F.lit(0)))
        )
        w = Window.partitionBy("host").orderBy(
            F.col("is_root").desc(), F.col("score").desc(), F.col("url_canon").asc())
        ref = (
            ref_t.filter(F.col("eligible") & (F.col("_room") > 0))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= F.col("_room"))
            .select("url_canon")
        )
        ref_admitted = {r["url_canon"] for r in ref.collect()}
        assert out == {(u, u in ref_admitted)
                       for (u, _) in out}
        assert len(out) == len(rows)  # every candidate keeps its fate tag
        assert any(a for (_, a) in out)
    finally:
        t.unpersist()


@pytest.mark.parametrize("k", [3, "_k"], ids=["int", "column"])
def test_top_k_per_group_plan_is_two_phase(spark, k):
    """Plan audit: two Window nodes (salted then exact) — the skew guard is
    structural, not incidental — whether k is an int or a limit column."""
    df = cands(spark, [_row(f"https://h.com/{i}", score=float(i)) for i in range(20)])
    df = df.withColumn("_k", F.lit(3))
    out = FR.top_k_per_group(df, ["host"], [F.col("score").desc(), F.col("url_canon")], k=k)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Window") >= 2
    assert out.count() == 3


def test_top_k_per_group_limit_column_equals_single_window(spark):
    """A per-row limit column ranks exactly like a single-window
    row_number <= limit brute force — including a group whose limit is 0
    (nothing kept) and one whose limit exceeds its size (everything kept)."""
    import random

    from pyspark.sql import Window

    rng = random.Random(5)
    limits = {"hot.com": 7, "zero.com": 0, "small.com": 50, "one.com": 1}
    sizes = {"hot.com": 300, "zero.com": 20, "small.com": 9, "one.com": 4}
    rows = []
    for host, n in sizes.items():
        for i in range(n):
            rows.append((f"https://{host}/p{i}", rng.getrandbits(60), host,
                         i % 11 == 0, float(rng.randrange(6)), limits[host]))
    df = spark.createDataFrame(rows, CAND_SCHEMA + ", lim int")
    order = [F.col("is_root").desc(), F.col("score").desc(),
             F.col("url_canon").asc()]
    got = {r["url_canon"] for r in
           FR.top_k_per_group(df, ["host"], order, "lim",
                              salt_on="url_canon").collect()}
    w = Window.partitionBy("host").orderBy(*order)
    ref = {r["url_canon"] for r in
           df.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= F.col("lim")).collect()}
    assert got == ref
    per_host = {h: sum(1 for u in got if u.startswith(f"https://{h}/"))
                for h in sizes}
    assert per_host == {"hot.com": 7, "zero.com": 0, "small.com": 9,
                        "one.com": 1}


def test_cuckoo_overflow_marks_bucket_degraded_df(spark):
    """update_bucket_cuckoos_df with an overflowing bucket must emit the
    CUCKOO_SATURATED marker, and bloom_probe_bucketed must then answer
    maybe_seen=True for EVERY key in that bucket (a key absent from both
    filters would be a false negative -> duplicate re-admission)."""
    from smartcrawler_spark.operators.filters import CUCKOO_SATURATED

    n_buckets = 1
    # far more keys than a capacity-64 cuckoo can hold
    admitted = spark.range(2000).select((F.col("id") * 7919 + 13).alias("url_hash"))
    upd = FR.update_bucket_cuckoos_df(admitted, None, n_buckets, capacity=64)
    rows = upd.collect()
    assert len(rows) == 1
    assert bytes(rows[0]["cuckoo"]) == CUCKOO_SATURATED

    # probing the degraded bucket: everything is maybe_seen, including keys
    # that were never admitted
    filters_df = spark.createDataFrame(
        [(0, None, bytearray(CUCKOO_SATURATED))],
        "bucket int, bloom binary, cuckoo binary",
    )
    cands = spark.range(50).select(
        (F.col("id") * 104729 + 1).alias("url_hash")
    )
    probed = FR.bloom_probe_bucketed(cands, filters_df, n_buckets)
    assert all(r["maybe_seen"] for r in probed.collect())

    # a further update of a degraded bucket keeps the marker
    upd2 = FR.update_bucket_cuckoos_df(admitted, filters_df, n_buckets, capacity=64)
    assert bytes(upd2.collect()[0]["cuckoo"]) == CUCKOO_SATURATED


def test_cuckoo_no_overflow_keeps_real_blob(spark):
    from smartcrawler_spark.operators.filters import CUCKOO_SATURATED, CuckooFilter

    admitted = spark.range(100).select((F.col("id") * 7919 + 13).alias("url_hash"))
    upd = FR.update_bucket_cuckoos_df(admitted, None, 1, capacity=4096)
    blob = bytes(upd.collect()[0]["cuckoo"])
    assert blob != CUCKOO_SATURATED
    ck = CuckooFilter.from_bytes(blob)
    keys = [i * 7919 + 13 for i in range(100)]
    assert ck.contains_many(keys).all()


def test_refresh_due_staleness_and_cap(spark):
    rows = [
        # (url, hash, host, root, score, status, round_fetched)
        ("https://a.com/old1", 1, "a.com", False, 1.0, "SUCCESS", 2),
        ("https://a.com/old2", 2, "a.com", False, 5.0, "SUCCESS", 5),
        ("https://a.com/fresh", 3, "a.com", False, 9.0, "SUCCESS", 18),
        ("https://a.com/failed", 4, "a.com", False, 9.0, "FAILED", 1),
        ("https://a.com/pending", 5, "a.com", False, 9.0, "PENDING", None),
    ]
    fr = spark.createDataFrame(
        rows, "url_canon string, url_hash long, host string, is_root boolean,"
              " score double, status string, round_fetched int")
    due = {r["url_canon"]: r["rounds_stale"]
           for r in FR.refresh_due(fr, round_no=20, interval=10).collect()}
    # only SUCCESS rows >= 10 rounds stale; FAILED/PENDING excluded
    assert due == {"https://a.com/old1": 18, "https://a.com/old2": 15}
    # statuses opt-in: include FAILED for retry policies
    due2 = {r["url_canon"]
            for r in FR.refresh_due(fr, 20, 10,
                                    statuses=("SUCCESS", "FAILED")).collect()}
    assert due2 == {"https://a.com/old1", "https://a.com/old2",
                    "https://a.com/failed"}
    # cap keeps the stalest first
    capped = FR.refresh_due(fr, 20, 10, max_per_round=1).collect()
    assert [r["url_canon"] for r in capped] == ["https://a.com/old1"]


def test_change_rate_and_intervals_hand_oracle(spark):
    from smartcrawler_spark.plans.analysis import (change_rate_ppm,
                                                   recrawl_intervals)

    # a.com: 4 obs, 3 changed -> (3+1)e6 // (4+2) = 666666 ppm
    # b.com: 3 obs, 0 changed -> (0+1)e6 // (3+2) = 200000 ppm
    # c.com: 2 obs, 2 changed -> (2+1)e6 // (2+2) = 750000 ppm
    rows = [("a.com", 1), ("a.com", 1), ("a.com", 1), ("a.com", 0),
            ("b.com", 0), ("b.com", 0), ("b.com", 0),
            ("c.com", 1), ("c.com", 1)]
    hist = spark.createDataFrame(rows, "host string, changed int")
    rates = change_rate_ppm(hist)
    got = {r["key"]: (r["n_obs"], r["n_changed"], r["rate_ppm"])
           for r in rates.collect()}
    assert got == {"a.com": (4, 3, 666666), "b.com": (3, 0, 200000),
                   "c.com": (2, 2, 750000)}
    # base=3: a -> floor(3e6/666666)=4, b -> 15 (clamped to max 10),
    # c -> 4; min clamp exercised with base=0 -> all 1
    ivs = {r["key"]: r["interval"]
           for r in recrawl_intervals(rates, base_interval=3,
                                      max_interval=10).collect()}
    assert ivs == {"a.com": 4, "b.com": 10, "c.com": 4}
    ivs0 = {r["key"]: r["interval"]
            for r in recrawl_intervals(rates, base_interval=0).collect()}
    assert ivs0 == {"a.com": 1, "b.com": 1, "c.com": 1}


def test_refresh_due_per_host_intervals(spark):
    from smartcrawler_spark.plans.analysis import (change_rate_ppm,
                                                   recrawl_intervals)

    rows = [
        ("https://a.com/x", 1, "a.com", False, 1.0, "SUCCESS", 14),
        ("https://a.com/y", 2, "a.com", False, 2.0, "SUCCESS", 17),
        ("https://b.com/x", 3, "b.com", False, 3.0, "SUCCESS", 14),
        ("https://c.com/x", 4, "c.com", False, 4.0, "SUCCESS", 12),
        ("https://c.com/y", 5, "c.com", False, 4.0, "SUCCESS", 16),
    ]
    fr = spark.createDataFrame(
        rows, "url_canon string, url_hash long, host string, is_root boolean,"
              " score double, status string, round_fetched int")
    # a.com changes often (interval 2), b.com rarely (interval 10);
    # c.com has no estimate -> default 5
    ivs = spark.createDataFrame(
        [("a.com", 1_000_000, 2), ("b.com", 100_000, 10)],
        "key string, rate_ppm long, interval int")
    due = {r["url_canon"]: r["rounds_stale"]
           for r in FR.refresh_due(fr, round_no=20, interval=5,
                                   intervals=ivs).collect()}
    # a/x stale 6 >= 2 yes; a/y stale 3 >= 2 yes; b/x stale 6 >= 10 no;
    # c/x stale 8 >= 5 yes; c/y stale 4 >= 5 no
    assert due == {"https://a.com/x": 6, "https://a.com/y": 3,
                   "https://c.com/x": 8}
    # end-to-end: rates estimated from history drive the same operator
    hist = spark.createDataFrame(
        [("a.com", 1), ("a.com", 1), ("b.com", 0), ("b.com", 0)],
        "host string, changed int")
    est = recrawl_intervals(change_rate_ppm(hist), base_interval=2,
                            max_interval=10)
    due2 = {r["url_canon"]
            for r in FR.refresh_due(fr, 20, 5, intervals=est).collect()}
    # a.com ppm=750000 -> iv 2; b.com ppm=250000 -> iv 8; c default 5
    assert due2 == {"https://a.com/x", "https://a.com/y",
                    "https://c.com/x"}
    # cap keeps the stalest
    capped = FR.refresh_due(fr, 20, 5, intervals=ivs,
                            max_per_round=1).collect()
    assert [r["url_canon"] for r in capped] == ["https://c.com/x"]


def test_host_report_rollup(spark):
    from smartcrawler_spark.plans.analysis import host_report

    rows = [("a.com", "SUCCESS"), ("a.com", "SUCCESS"), ("a.com", "FAILED"),
            ("a.com", "PENDING"), ("b.com", "PENDING")]
    fr = spark.createDataFrame(rows, "host string, status string")
    got = {r["host"]: (r["n_urls"], r["n_success"], r["n_failed"],
                       r["n_pending"], r["success_bp"])
           for r in host_report(fr).collect()}
    assert got == {"a.com": (4, 2, 1, 1, 20000 // 3),
                   "b.com": (1, 0, 0, 1, 0)}


def test_adaptive_budgets_matches_hand_oracle(spark):
    import smartcrawler_spark.operators.frontier as FRmod

    fr_rows = [
        # dying.com: 3 failed / 4 attempted -> halved
        ("dying.com", "FAILED"), ("dying.com", "FAILED"),
        ("dying.com", "FAILED"), ("dying.com", "SUCCESS"),
        # healthy.com: 1 failed / 4 attempted -> untouched
        ("healthy.com", "FAILED"), ("healthy.com", "SUCCESS"),
        ("healthy.com", "SUCCESS"), ("healthy.com", "SUCCESS"),
        # pending-only host: no attempts -> untouched (configured budget)
        ("idle.com", "PENDING"),
        # unconfigured host with failures -> default halved
        ("unknown.com", "FAILED"),
    ]
    fr = spark.createDataFrame(fr_rows, "host string, status string")
    budgets = spark.createDataFrame(
        [("dying.com", 6), ("healthy.com", 6), ("idle.com", 6),
         ("ghost.com", 3)],  # configured but never crawled
        "host string, budget int")
    got = {r["host"]: r["budget"]
           for r in FRmod.adaptive_budgets(fr, budgets, default_budget=4)
           .collect()}
    assert got == {"dying.com": 3, "healthy.com": 6, "idle.com": 6,
                   "unknown.com": 2, "ghost.com": 3}
    # min_budget floor: budget 1 halves to 0 -> clamped
    tiny = spark.createDataFrame([("dying.com", 1)], "host string, budget int")
    got2 = {r["host"]: r["budget"]
            for r in FRmod.adaptive_budgets(fr, tiny, default_budget=1)
            .collect()}
    assert got2["dying.com"] == 1


def test_crawl_progress_rollup(spark):
    """crawl_progress: admissions by round_added, fetches by
    round_fetched, cumulative frontier — vs a hand-computed oracle."""
    from smartcrawler_spark.plans.analysis import crawl_progress

    rows = [
        # (url, round_added, status, round_fetched)
        ("u1", 0, "SUCCESS", 0), ("u2", 0, "FAILED", 1),
        ("u3", 1, "SUCCESS", 1), ("u4", 1, "PENDING", None),
        ("u5", 3, "SUCCESS", 3),
    ]
    fr = spark.createDataFrame(
        rows, "url_canon string, round_added int, status string, "
              "round_fetched int")
    got = {r["round"]: (r["n_admitted"], r["n_fetched"], r["n_success"],
                        r["cum_frontier"])
           for r in crawl_progress(fr).collect()}
    assert got == {
        0: (2, 1, 1, 2),
        1: (2, 2, 1, 4),
        3: (1, 1, 1, 5),
    }


class TestApportionBudget:
    def _run(self, spark, rows, total):
        from smartcrawler_spark.operators import frontier as FR

        df = spark.createDataFrame(rows, "host string, weight long")
        return {
            r["key"]: r["quota"]
            for r in FR.apportion_budget(df, total).collect()
        }

    @staticmethod
    def _oracle(rows, total):
        W = sum(w for _, w in rows)
        if not W:
            return {h: 0 for h, _ in rows}
        base = {h: total * w // W for h, w in rows}
        rem = sorted(rows, key=lambda hw: (-(total * hw[1] % W), hw[0]))
        left = total - sum(base.values())
        for h, _ in rem[:left]:
            base[h] += 1
        return base

    def test_exact_sum_and_proportionality(self, spark):
        rows = [("a", 5), ("b", 3), ("c", 2)]
        got = self._run(spark, rows, 100)
        assert got == self._oracle(rows, 100) == {"a": 50, "b": 30, "c": 20}

    def test_leftover_goes_to_largest_remainders(self, spark):
        # total=10, W=6: base a=3 b=3 c=1 (sum 7), remainders a=2,b=2,c=4
        # -> c gets +1 then tie a<b gives a the next: a=4 b=3 c=2? L=3
        rows = [("a", 2), ("b", 2), ("c", 1), ("d", 1)]
        total = 10
        got = self._run(spark, rows, total)
        assert got == self._oracle(rows, total)
        assert sum(got.values()) == total

    def test_zero_weights_and_empty(self, spark):
        assert self._run(spark, [("a", 0), ("b", 0)], 7) == {"a": 0, "b": 0}
        assert self._run(spark, [], 7) == {}

    def test_sum_invariant_fuzz(self, spark):
        import hashlib

        rows = [
            (f"h{i}", int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 97)
            for i in range(50)
        ]
        for total in (1, 17, 997):
            got = self._run(spark, rows, total)
            assert sum(got.values()) == total
            assert got == self._oracle(rows, total)


def test_retry_due_exponential_backoff(spark):
    fr = spark.createDataFrame(
        [
            ("https://a.com/f1", 1, "a.com", False, 1.0, "FAILED", 18),
            ("https://a.com/f2", 2, "a.com", False, 2.0, "FAILED", 15),
            ("https://a.com/f3", 3, "a.com", False, 3.0, "FAILED", 18),
            ("https://a.com/f4", 4, "a.com", False, 4.0, "FAILED", 10),
            ("https://a.com/ok", 5, "a.com", False, 5.0, "SUCCESS", 1),
        ],
        "url_canon string, url_hash long, host string, is_root boolean,"
        " score double, status string, round_fetched int")
    att = spark.createDataFrame(
        [("https://a.com/f1", 1), ("https://a.com/f2", 2),
         ("https://a.com/f3", 3), ("https://a.com/f4", 4),
         ("https://a.com/ok", 1)],
        "url_canon string, n_attempts long")
    # round 20, base 2: backoff = 2<<(n-1) -> f1: 2 (waited 2, due),
    # f2: 4 (waited 5, due), f3: 8 (waited 2, not due),
    # f4: attempts 4 > max_retries 3 -> never; SUCCESS rows never retry
    due = {r["url_canon"]: (r["n_attempts"], r["rounds_waited"])
           for r in FR.retry_due(fr, att, round_no=20,
                                 base_backoff=2).collect()}
    assert due == {"https://a.com/f1": (1, 2), "https://a.com/f2": (2, 5)}
    # cap keeps the most-overdue
    capped = FR.retry_due(fr, att, 20, 2, max_per_round=1).collect()
    assert [r["url_canon"] for r in capped] == ["https://a.com/f2"]


def test_attempts_from_log_counts_emissions(spark):
    log = spark.createDataFrame(
        [(0, 1, "u1"), (3, 1, "u1"), (5, 2, "u1"), (0, 2, "u2")],
        "round int, seq int, url_canon string")
    got = {r["url_canon"]: r["n_attempts"]
           for r in FR.attempts_from_log(log).collect()}
    assert got == {"u1": 3, "u2": 1}


def test_assign_shards_oracle_and_rendezvous_stability(spark):
    import hashlib

    hosts = spark.createDataFrame(
        [(f"h{i}.example.com",) for i in range(200)], "host string")

    def py_assign(key, n):
        def w(i):
            return int(hashlib.md5(f"{key}|{i}|shard".encode())
                       .hexdigest()[:12], 16)
        return max(range(n), key=lambda i: (w(i), i))

    got4 = {r["key"]: r["shard"]
            for r in FR.assign_shards(hosts, 4).collect()}
    assert got4 == {f"h{i}.example.com": py_assign(f"h{i}.example.com", 4)
                    for i in range(200)}
    assert set(got4.values()) == {0, 1, 2, 3}  # all shards populated
    # rendezvous property: growing 4 -> 5 only moves keys TO the new shard
    got5 = {r["key"]: r["shard"]
            for r in FR.assign_shards(hosts, 5).collect()}
    moved = {k for k in got4 if got4[k] != got5[k]}
    assert moved and all(got5[k] == 4 for k in moved)
    # and roughly 1/5 of keys moved, never most of them
    assert len(moved) < 200 // 2


def test_intervals_from_updates_hand_oracle(spark):
    from datetime import datetime

    from smartcrawler_spark.plans.analysis import intervals_from_updates

    rows = [
        # a.com: updates at day 0, 2, 4 -> spacing 2 days -> interval 2
        ("a.com", datetime(2024, 1, 1)), ("a.com", datetime(2024, 1, 3)),
        ("a.com", datetime(2024, 1, 5)),
        # b.com: 10-day gap -> clamped to max 7
        ("b.com", datetime(2024, 1, 1)), ("b.com", datetime(2024, 1, 11)),
        # c.com: single update -> no cadence evidence, no row
        ("c.com", datetime(2024, 1, 1)),
        # d.com: two updates 1 hour apart -> spacing 3600 s -> min clamp 1
        ("d.com", datetime(2024, 1, 1, 0)), ("d.com", datetime(2024, 1, 1, 1)),
    ]
    ups = spark.createDataFrame(rows, "host string, ts timestamp")
    got = {r["key"]: (r["n_updates"], r["spacing_s"], r["interval"])
           for r in intervals_from_updates(ups, max_interval=7).collect()}
    assert got == {"a.com": (3, 2 * 86400, 2), "b.com": (2, 10 * 86400, 7),
                   "d.com": (2, 3600, 1)}


def test_revalidate_pending_marks_newly_blocked(spark):
    fr = spark.createDataFrame(
        [
            ("https://a.com/private/x", 1, "a.com", False, 1.0, "PENDING"),
            ("https://a.com/public/y", 2, "a.com", False, 2.0, "PENDING"),
            ("https://a.com/private/done", 3, "a.com", False, 3.0, "SUCCESS"),
            ("https://b.com/private/z", 4, "b.com", False, 4.0, "PENDING"),
        ],
        "url_canon string, url_hash long, host string, is_root boolean,"
        " score double, status string")
    robots = spark.createDataFrame(
        [("a.com", "/private")], "host string, disallow_prefix string")
    got = sorted(r["url_canon"]
                 for r in FR.revalidate_pending(fr, robots=robots).collect())
    # only the PENDING row under a NOW-disallowed prefix on the ruled host
    assert got == ["https://a.com/private/x"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        FR.revalidate_pending(fr)


def test_tag_seen_invert_equality(spark):
    """invert=True (broadcast batch-hash semi-filter over the seen side,
    the batch<<frontier plan) must be bit-identical to the shuffled join —
    including a url_hash collision (same hash, different canon: NOT seen)
    and the bloom fast-path contract when maybe_seen is present."""
    frontier = cands(spark, [
        ("https://h.com/a", 10, "h.com", False, 1.0),
        ("https://h.com/b", 20, "h.com", False, 1.0),
        ("https://x.com/c", 30, "x.com", True, 2.0),
    ])
    batch = cands(spark, [
        ("https://h.com/a", 10, "h.com", False, 1.0),   # seen
        ("https://h.com/DIFFERENT", 20, "h.com", False, 1.0),  # hash collision
        ("https://x.com/new", 40, "x.com", False, 3.0),  # novel
    ]).withColumn("robots_blocked", F.lit(False))

    def rows(df):
        return sorted(
            (r["url_canon"], r["url_hash"], r["seen"]) for r in df.collect()
        )

    plain = rows(FR.tag_seen(batch, frontier))
    inv = rows(FR.tag_seen(batch, frontier, invert=True))
    assert inv == plain
    assert ("https://h.com/a", 10, True) in plain
    assert ("https://h.com/DIFFERENT", 20, False) in plain  # collision guard

    # with maybe_seen: fast-path rows never reach the join in either mode
    probed = batch.withColumn("maybe_seen", F.col("url_hash") != 40)
    assert rows(FR.tag_seen(probed, frontier, invert=True)) == rows(
        FR.tag_seen(probed, frontier)
    )


def test_tag_seen_invert_plan_never_shuffles_seen_side(spark):
    """The whole point of invert: the frontier scan must feed a broadcast
    LeftSemi probe, not an Exchange — at 10^10 frontier rows the shuffle
    IS the round's cost. Assert the plan shape, not just the result."""
    frontier = cands(spark, [(f"https://h.com/{i}", i, "h.com", False, 1.0)
                             for i in range(50)])
    batch = cands(spark, [("https://h.com/1", 1, "h.com", False, 1.0)])
    from tests.test_plans import plan_of

    plan = plan_of(FR.tag_seen(batch, frontier, invert=True))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
