"""Physical-plan audits: the optimizations we rely on at 100 TB must be
visible in .explain() output at any scale — filter pushdown into parquet
scans, broadcast hash joins for small dims, whole-stage codegen on the JVM
paths, and no accidental cartesian products."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") > "1998-01-01").select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    # column pruning: ReadSchema carries only the 3 needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_robots_gate_is_broadcast(spark, sf_dir):
    from smartcrawler_spark.operators import frontier as FR

    cands = spark.createDataFrame(
        [("https://a.com/x", "a.com")], "url_canon string, host string"
    )
    robots = spark.createDataFrame(
        [("a.com", "/private")], "host string, disallow_prefix string"
    )
    plan = plan_of(FR.robots_gate(cands, robots))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dup_mark_join_is_broadcast(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dups = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_retailprice") > 1500
    ).select(F.col("p_partkey").alias("l_partkey"))
    q = li.join(F.broadcast(dups), "l_partkey", "left_semi")
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_seen_anti_join_shape(spark, sf_dir):
    """The exact seen anti-join must be a hash/sort-merge ANTI join on the
    8-byte url_hash + guard column — never a nested loop."""
    from smartcrawler_spark.operators import frontier as FR

    c = spark.range(1000).select(
        F.col("id").cast("long").alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url_canon"),
    )
    f = spark.range(500).select(
        F.col("id").cast("long").alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url_canon"),
    )
    plan = plan_of(FR.seen_anti_join(c, f))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_jvm_functions_stay_in_codegen(spark, sf_dir):
    """clean_text / token_count / fingerprint / canonicalize are pure column
    expressions — the whole projection is one WholeStageCodegen span with no
    Python (BatchEvalPython/ArrowEvalPython) node."""
    from smartcrawler_spark.functions import textops as T
    from smartcrawler_spark.functions import urls as U

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.select(
        T.clean_text(F.col("text")).alias("c"),
        T.token_count(F.col("text")).alias("t"),
        T.fingerprint64(F.col("text")).alias("fp"),
        U.canonicalize_url(F.concat(F.lit("https://x.com/"), F.col("doc_id"))).alias("u"),
    )
    plan = plan_of(q)
    assert "[codegen id :" in plan  # the projection runs inside a codegen span
    assert "EvalPython" not in plan  # no Python in the JVM hot path


def test_groupby_has_partial_aggregation(spark, sf_dir):
    """A2-shaped agg must show map-side partial aggregation (two
    HashAggregate nodes around the shuffle)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n")).filter("n >= 2")
    plan = plan_of(q)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan and "hashpartitioning" in plan


@pytest.mark.parametrize("arm", ["plain", "invert", "bloom"])
def test_round_branch_points_are_persisted(spark, sf_dir, arm):
    """Regression guard for the 4x-recompute fix: admission_round persists
    exactly the DataFrames it reads twice (the gated batch on the invert
    and bloom arms, the probe output on the bloom arm, the tag_seen output
    always), so every second read hits an InMemoryTableScan instead of
    re-running the candidate chain — and releasing the handles it returns
    leaves the session's persisted RDDs as they were."""
    import bench
    from smartcrawler_spark.operators import frontier as FR

    raw = bench.build_frontier_workload(spark, sf_dir, 1).limit(20_000)
    seen = bench._build_seen(raw)
    robots, _, cap = bench._round_dims(spark, 1)
    gated = FR.robots_gate(FR.with_url_columns_deduped(raw, "url", {}), robots)
    filters = FR.build_bucket_blooms_df(seen, 8) if arm == "bloom" else None
    def persisted() -> set[int]:
        # ids, not a count: the context cleaner may drop other tests' RDDs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    tagged, handles = FR.admission_round(
        gated, seen, cap, invert=arm == "invert", filters=filters, n_buckets=8)
    try:
        assert len(handles) == {"plain": 1, "invert": 2, "bloom": 3}[arm]
        assert all(h.storageLevel.useMemory for h in handles)
        scans = spark._jvm.PythonSQLUtils.explainString(
            tagged._jdf.queryExecution(), "simple").count("InMemoryTableScan")
        assert scans >= 2 * len(handles)  # each handle is read twice
        tagged.count()
        new = persisted() - before
        assert len(new) == len(handles)
    finally:
        for h in handles:
            h.unpersist()
    assert not persisted() & new


def test_host_sharded_admission_equals_unsharded(spark, sf_dir):
    """The cluster-partitioning invariant behind bench.py --scaling-sharded:
    every stage of the admission round is host-local, so running the round
    per host-hash shard and unioning the outputs must reproduce the
    unsharded scheduled set EXACTLY (same rows, not just counts)."""
    import bench

    raw = bench.build_frontier_workload(spark, sf_dir, 1).limit(30_000).cache()
    seen = bench._build_seen(raw).cache()
    robots, budgets, cap = bench._round_dims(spark, 1)

    def run(raw_part, seen_part):
        scheduled, handles = bench._scheduled_plan(
            raw_part, seen_part, robots, budgets, cap
        )
        rows = {(r["host"], r["url_canon"]) for r in scheduled.collect()}
        for h in handles:
            h.unpersist()
        return rows

    whole = run(raw, seen)

    from smartcrawler_spark.operators import frontier as FR

    with_host = FR.with_url_columns(
        raw.withColumn("_url_raw", F.col("url")), "url", {}
    ).select(F.col("_url_raw").alias("url"),
             F.pmod(F.xxhash64("host"), F.lit(2)).alias("_shard")).cache()
    sharded = set()
    for s in (0, 1):
        part = with_host.filter(F.col("_shard") == s).select("url")
        part_rows = run(part, bench._build_seen(part))
        assert not (sharded & part_rows)  # shards are disjoint by host
        sharded |= part_rows
    assert sharded == whole
    raw.unpersist(); seen.unpersist(); with_host.unpersist()


def test_decontamination_join_is_broadcast(spark, sf_dir):
    """The eval-ngram set must reach the corpus via a BroadcastHashJoin —
    the training table is never shuffled by the decontamination gate."""
    from smartcrawler_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    evals = docs.filter(F.col("doc_id") % 50 == 0)
    plan = plan_of(DD.mark_contaminated(train, evals, n=5))
    assert "BroadcastHashJoin" in plan


def test_ann_portable_twins_are_map_only_topk(spark, sf_dir):
    """The portable LSH/IVF rerank paths must be a single map-side
    projection into TakeOrderedAndProject — no join, no full sort."""
    from smartcrawler_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for q in (SIM.topk_lsh_portable(emb, k=10, planes=8, dim=64),
              SIM.topk_ivf_portable(emb, k=10, n_centroids=4, nprobe=2)):
        plan = plan_of(q)
        assert "TakeOrderedAndProject" in plan
        assert "Join" not in plan and "Exchange" not in plan


def test_global_crawl_order_has_no_single_partition_stage(spark):
    """The crawl-log sequence must be computed by parallel range-partition
    ranking + offsets — no stage may funnel the schedule through ONE
    partition (the round-2 implementation's single-partition window was
    the first stage to melt at scale)."""
    from smartcrawler_spark.operators import frontier as FR

    sched = spark.range(500).select(
        F.concat(F.lit("https://h"), (F.col("id") % 37), F.lit(".com/p"),
                 F.col("id")).alias("url_canon"),
        (F.col("id") % 7 == 0).alias("is_root"),
        (F.col("id") % 13).cast("double").alias("score"),
    )
    out = FR.global_crawl_order(sched, round_no=3, n_partitions=8)
    plan = plan_of(out)
    assert "SinglePartition" not in plan
    # output equality vs the single-window specification
    rows = out.orderBy("seq").collect()
    want = sorted(
        sched.collect(),
        key=lambda r: (not r["is_root"], -r["score"], r["url_canon"]),
    )
    assert [r["url_canon"] for r in rows] == [r["url_canon"] for r in want]
    assert [r["seq"] for r in rows] == list(range(1, len(want) + 1))
    assert all(r["round"] == 3 for r in rows)


def test_global_crawl_order_empty_schedule(spark):
    from smartcrawler_spark.operators import frontier as FR

    sched = spark.createDataFrame(
        [], "url_canon string, is_root boolean, score double"
    )
    assert FR.global_crawl_order(sched, round_no=0).count() == 0


def test_anchor_relevance_plan_shape(spark, sf_dir):
    """anchor_relevance: the explode is map-side, the only exchanges are
    the (partial-agg'd) groupBy on the target key, and everything stays
    JVM-side — no Python in the plan."""
    from smartcrawler_spark.operators.frontier import anchor_relevance

    docs = spark.createDataFrame(
        [("https://a.com/p", "a.com",
          [{"kind": "a", "text": "spark docs", "media_ref": "/g",
            "offset": 0}])],
        "doc_id string, host string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>")
    plan = plan_of(anchor_relevance(docs, {"spark": 2}))
    assert "EvalPython" not in plan        # pure column exprs end-to-end
    # exactly one explode node (formatted plans print a node twice: once
    # in the tree, once in the numbered details)
    assert plan.count("Generate") <= 2 and "Generate" in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_hits_rescale_is_broadcast_not_driver(spark, sf_dir):
    """hits_fixed_point: the per-iteration max rescale must appear as an
    in-plan broadcast of a 1-row aggregate (BroadcastNestedLoopJoin over
    the scalar), never a collect-based literal; joins stay hash joins."""
    from smartcrawler_spark.operators.linkgraph import hits_fixed_point

    e = spark.range(200).select(
        (F.col("id") % 23).alias("src"), ((F.col("id") * 7) % 23).alias("dst")
    )
    plan = plan_of(hits_fixed_point(e, iters=2))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "EvalPython" not in plan


def test_content_blocks_plan_has_zero_exchanges(spark, sf_dir):
    """Main-content extraction must stay map-only at ANY corpus size —
    the classifier runs inside the row via HOFs, so its physical plan
    carries no Exchange and no join nodes at all."""
    from smartcrawler_spark.operators import content as C

    docs = spark.createDataFrame(
        [("d", [{"offset": 0, "tag": "p", "classes": [], "id": None,
                 "content": "five words right here now", "size": 1,
                 "path": ["html", "body", "p"]}])],
        "doc_id string, nodes array<struct<offset:int,tag:string,"
        "classes:array<string>,id:string,content:string,size:int,"
        "path:array<string>>>")
    for q in (C.block_profile(docs), C.main_text(docs)):
        plan = plan_of(q)
        assert "Exchange" not in plan, plan
        assert "Join" not in plan


def test_lm_score_model_joins_are_broadcast(spark, sf_dir):
    """The LM count tables are the model dim — scoring must broadcast
    them (default), never sort-merge the corpus against the vocab."""
    from smartcrawler_spark.operators import lm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    uni, big = lm.unigram_counts(docs), lm.bigram_counts(docs)
    plan = plan_of(lm.lm_score_bits(docs, uni, big, 100))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_quantize_plan_is_map_only(spark, sf_dir):
    from smartcrawler_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = plan_of(SIM.quantize_embeddings(emb))
    assert "Exchange" not in plan and "Join" not in plan


def test_mirror_hosts_has_no_cartesian_and_caps_buckets(spark, sf_dir):
    """Candidate generation must be a hash-equality bucket join (never a
    cross/theta join), with the hot-hash cap aggregated BEFORE pairing."""
    from smartcrawler_spark.operators import sketches as SK

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("source").alias("host"), "text")
    plan = plan_of(SK.mirror_hosts(docs, k=8, m=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_age_priority_plan_is_map_only(spark, sf_dir):
    """Priority aging must add ZERO plan cost: a projection inside the
    existing scan stage — no Exchange, no Join, no Python."""
    from smartcrawler_spark.operators import frontier as FR

    pool = spark.createDataFrame(
        [("https://h/a", "h", False, 1.0, 0)],
        "url_canon string, host string, is_root boolean, score double, "
        "round_added int",
    )
    plan = plan_of(FR.age_priority(pool, round_no=7, weight_bp=2500))
    assert "Exchange" not in plan and "Join" not in plan
    assert "EvalPython" not in plan


def test_duplicate_content_hosts_single_host_exchange(spark, sf_dir):
    """Trap-host detection is ONE hash agg keyed by host: exactly one
    shuffle (partial -> exchange -> final over the dual count-distinct
    expand), no join, no Python."""
    from smartcrawler_spark.operators import frontier as FR

    pages = spark.createDataFrame(
        [("h", "h/u1", "f1"), ("h", "h/u2", "f1")],
        "host string, url_canon string, fingerprint string",
    )
    plan = plan_of(FR.duplicate_content_hosts(pages))
    assert "Join" not in plan and "EvalPython" not in plan
    # dual COUNT(DISTINCT) compiles to expand + two agg layers; the only
    # exchanges allowed are the hashpartitioning(host/host+col) pair
    for ln in plan.splitlines():
        if "Exchange" in ln and "hashpartitioning" in ln:
            assert "host" in ln, ln


def test_opic_dangling_pool_is_broadcast_not_driver(spark, sf_dir):
    """opic_fixed_rounds DISTRIBUTED arm (driver_threshold=0 — small
    graphs take the r6 exact driver-replay fast path and have no
    distributed plan at all): the per-round dangling-cash pool must be
    an in-plan broadcast of a 1-row aggregate (same device as the HITS
    rescale), never a driver collect; and nothing drops to Python."""
    from smartcrawler_spark.operators.linkgraph import opic_fixed_rounds

    e = spark.range(200).select(
        (F.col("id") % 23).alias("src"), ((F.col("id") * 9 + 1) % 23).alias("dst")
    ).filter(F.col("src") % 5 != 0)
    plan = plan_of(opic_fixed_rounds(e, iters=2, driver_threshold=0))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "EvalPython" not in plan


def test_shingle_containment_plan_stays_jvm_side(spark, sf_dir):
    """shingle_containment_pairs: shingling is JVM HOFs (no Python), no
    cartesian anywhere, and with df_cap set the r6 single-pass shape
    holds — ONE evaluation of the shingling feeding one groupBy(shingle)
    member-list collect (no self-join, no second scan of the corpus)."""
    from smartcrawler_spark.operators.dedup import shingle_containment_pairs

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta text "),
                 F.col("id").cast("string")).alias("text"),
    )
    plan = plan_of(shingle_containment_pairs(docs))
    assert "EvalPython" not in plan and "CartesianProduct" not in plan
    assert "Join" not in plan, plan  # pair gen is per-group explode now


def test_image_dhash_table_is_map_only(spark):
    """Per-image hashing must carry zero Exchange at any corpus size —
    decode + dHash run inside the row via mapInPandas."""
    from smartcrawler_spark.operators import imagedup as ID

    raw = spark.createDataFrame([("r", bytearray(b"x"))],
                                "media_ref string, payload binary")
    plan = plan_of(ID.image_dhash_table(raw))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan


def test_dhash_near_dup_hot_filter_is_broadcast(spark):
    """The hot-band exclusion list is register-sized — it must reach the
    banded table as a broadcast anti-join, and the plan must contain no
    cartesian product anywhere."""
    from smartcrawler_spark.operators import imagedup as ID

    df = spark.createDataFrame([(f"h{i}", i * 977) for i in range(20)],
                               "media_ref string, dhash long")
    plan = plan_of(ID.dhash_near_dup(df, max_band_bucket=5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_nb_scoring_corpus_is_never_shuffled(spark):
    """The NB model (labels x buckets) is the dim side — scoring a
    10^10-doc corpus must broadcast it, never shuffle the corpus. The
    r6 dense kernel goes further than the old broadcast join: the
    corpus plan is map-only (scan -> bucket HOF -> numpy gather-sum ->
    per-label explode) with ZERO Exchange and no join at all."""
    from smartcrawler_spark.operators import nbclassifier as NB

    train = spark.createDataFrame(
        [("a", "x y z"), ("b", "p q r")], "label string, text string")
    docs = spark.createDataFrame([(1, "x p")], "doc_id long, text string")
    feats, priors = NB.nb_train(train, portable=True)
    plan = plan_of(NB.nb_score_bits(docs, feats, priors, portable=True))
    assert "Exchange" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the model-too-big regime keeps the broadcast-join plan
    plan_join = plan_of(NB.nb_score_bits(docs, feats, priors,
                                         portable=True,
                                         broadcast_model=False))
    assert "Join" in plan_join, plan_join


def test_quota_sample_dim_is_broadcast(spark):
    from smartcrawler_spark.operators.sampling import quota_sample

    df = spark.createDataFrame([(i, "abc"[i % 3]) for i in range(30)],
                               "doc_id long, lang string")
    qd = spark.createDataFrame([("a", 2), ("b", 2), ("c", 2)],
                               "lang string, quota long")
    plan = plan_of(quota_sample(df, qd))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
