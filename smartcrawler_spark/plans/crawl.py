"""The iterative crawl loop — reference main() re-expressed as per-round
DataFrame stages over snapshot-checkpointed tables.

Per round (reference phases at /root/reference/src/main.rs:57-135):

    pending --politeness_topk--> scheduled --crawl_log append (total order)
    scheduled --fetch join vs documents--> SUCCESS/FAILED + title
    fetched --explode 'a' spans--> resolve/same-domain --> candidates
    candidates --robots gate --> FR.admission_round (optional bloom probe
               --> exact seen tag --> per-host cap) --> admitted
               --> frontier MERGE + commit

Each round picks one seen-join arm (`CrawlJob.seen_arm`): "plain" shuffled
join, "invert" broadcast-semi join, or "bloom" bucketed prefilter. All three
give the same crawl.

State lives in snapshot tables (frontier / crawl_log / metrics / filters),
committed once per round: the next round reads the committed parquet back,
which truncates lineage by construction (no unbounded iterative plan
growth) and is exactly what makes the crawl resumable from any round
boundary.

Commit-path scale design (all per-round I/O is O(round), never O(table)):
* frontier — hash-bucketed on url_hash; a round rewrites ONLY the buckets
  containing its scheduled/admitted URLs (partition-scoped upsert, the
  Iceberg MERGE INTO analog), and the merge itself reads only those
  buckets back (manifest-level partition pruning);
* crawl_log / metrics — fast-append commits (new rows only; the manifest
  re-references history);
* bloom/cuckoo seen-prefilter blobs — a bucketed snapshot table probed and
  updated via per-bucket cogroups on the executors; blob bytes never
  travel through the driver and are never broadcast in toto. Its manifest
  meta (rounds_since_rebuild, round, filters_degraded) is the filter
  state; the cuckoo delta covers the admissions since the last rebuild.

Determinism contract (matched bit-for-bit by smartcrawler_spark.oracle):
admission and scheduling order is (is_root desc, score desc, url_canon asc);
crawl_log seq is that order globally per round.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import urls as U
from ..operators import frontier as FR
from ..operators.filters import CUCKOO_SATURATED
from ..sources.snapshot import BucketedSnapshotTable, SnapshotTable

FRONTIER_SCHEMA = (
    "url_canon string, url_hash long, host string, is_root boolean, "
    "score double, status string, round_added int, round_fetched int, title string"
)


@dataclass
class EngineConfig:
    keywords: dict[str, float] = field(default_factory=dict)
    max_urls_per_host: int = 10
    max_rounds: int = 50
    default_budget: int = 4
    bloom_buckets: int = 16       # seen-prefilter blob buckets; at scale keep
                                  # == frontier_buckets so probe tasks align
                                  # 1:1 with frontier partitions
    frontier_buckets: int = 32    # frontier-table storage buckets (upsert
                                  # granularity); at 10^10 URLs size so one
                                  # bucket ~ one executor-friendly partition
    cuckoo_capacity: int = 1 << 17
    salt_buckets: int = 8
    bloom_rebuild_every: int = 4  # rounds between full bloom rebuilds
    bloom_min_frontier_rows: int = 500_000_000
    # ^ adaptive prefilter floor: MEASURED twice. r3 (bench_runs/
    # bloom_compare_r03.json): exact anti-join beats bloom-probe+join at
    # 3M (off 324k vs on 258k urls/s) and 12M (604k vs 481k). r5
    # (bench_runs/bloom_compare_r05.json, probe-QUALIFIED window): at a
    # 61.5M-row disk-backed frontier with a 3M batch the plain join
    # still wins 2.7x (19.0s vs 51.3s) — the blob probe is a per-batch
    # cache-miss-bound cost (~30s/3M candidates into 16x ~75MB blobs)
    # while the avoided frontier-side shuffle was only worth ~8s of the
    # 1.2GB join. The probe's fixed cost pays only when the frontier
    # side of the exact join is ~an order of magnitude bigger, so the
    # floor moves 50M -> 500M; the prefilter remains the plan for the
    # regime invert can't serve (batch > seen_invert_max_batch over a
    # 10^9+ frontier, where broadcasting the batch is off the table and
    # the full shuffled join is the thing to beat). Below the floor the
    # loop silently runs exact-join-only — same output, measured faster;
    # the filter table just stays stale. Set it above any reachable
    # frontier size to keep the prefilter off.
    seen_invert_min_frontier_rows: int = 10_000_000
    seen_invert_max_batch: int = 10_000_000
    # ^ inverted seen-join regime (r5, bench_runs/bloom_compare_r05.json):
    # once the frontier dwarfs the round's candidate batch, the fastest
    # exact plan is to broadcast the batch's distinct url_hashes as a
    # semi-filter over the frontier (FR.tag_seen invert=True) — the big
    # side is scanned map-side and never shuffled or sorted. Applies when
    # the frontier estimate >= min AND the measured batch <= max (the
    # batch count is a count on the already-persisted candidate cache).
    # The broadcast is 8 bytes/key plus hash-map overhead — 10M keys is a
    # few hundred MB on executors that would otherwise carry the frontier
    # shuffle. Batches above max fall back to the bloom path (if active)
    # or the plain shuffled join; output identical in every regime.
    compact_every: int | None = 16  # rounds between crawl_log/metrics
                                    # small-files compactions (None = never);
                                    # a 10^5-round crawl otherwise leaves the
                                    # log read path opening 10^5 tiny files
    raw_artifacts: bool = False   # parse robots_raw/sitemaps_raw instead of
                                  # reading the pre-built rule tables
    rfc_robots: bool = False
    # ^ with raw_artifacts: gate on FULL RFC 9309 allow/disallow
    # longest-match rules (wildcards, tie->allow, Allow carve-outs inside
    # disallowed subtrees) via robots_gate_rfc, instead of the
    # conservative prefix anti-join. Default off = reference-parity
    # over-blocking semantics (the oracle models the prefix subset).
    refresh_interval: int | None = None
    # ^ freshness/recrawl: SUCCESS rows fetched >= this many rounds ago
    # re-enter the schedule pool (stalest first, competing with new URLs
    # inside the same politeness budget). None (default) = crawl-to-
    # exhaustion, the reference-parity mode; enabled crawls run until
    # max_rounds (the pool never drains).
    refresh_max_per_round: int | None = None  # cap refresh load per round
    refresh_intervals_path: str | None = None
    # ^ adaptive freshness: path to a (key, interval) parquet dim — the
    # artifact jobs/run_freshness.py derives from two corpus snapshots
    # (corpus_diff -> change_rate_ppm -> recrawl_intervals). When set
    # (requires refresh_interval, which becomes the fallback for hosts
    # with no estimate), refresh_due ranks stale rows against the dim:
    # frequently-changing hosts recrawl sooner, static hosts later.
    retry_base_backoff: int | None = None
    # ^ failure retry: FAILED rows re-enter the schedule pool once
    # base*2^(attempts-1) rounds have passed since their last attempt
    # (operators.frontier.retry_due; attempt counts derived from the
    # crawl log — every emission is one attempt). None (default) =
    # reference-parity: a failed fetch is terminal.
    retry_max: int = 3            # attempts ceiling when retry is on
    retry_max_per_round: int | None = None  # cap retry load per round
    adaptive_budget: bool = False
    # ^ failure-aware politeness: recompute per-host budgets each round
    # from observed fetch outcomes (operators.frontier.adaptive_budgets)
    # — hosts failing >= half their attempts get budget halved (floor 1).
    # Default off = reference-parity static budgets.
    apportion_total: int | None = None
    # ^ global-budget mode: instead of static/adaptive per-host budgets,
    # apportion ONE round-wide fetch budget across hosts proportional to
    # their pending demand (operators.frontier.apportion_budget,
    # largest-remainder integer split — quotas sum to the total exactly).
    # The fleet-level knob: "this cluster fetches N pages per round" vs
    # per-host caps. Overrides adaptive_budget when both are set.
    # Default off = reference-parity static budgets.
    trap_filters: bool = False
    # ^ spider-trap hygiene at admission: candidates whose canonical URL
    # trips a trap heuristic (depth / repeated-segment / calendar /
    # query-spam / length bounds — functions.urls.is_trap_url) are fate-
    # tagged `trap_rejected` and never admitted. Default off =
    # reference-parity (the reference has no trap logic).
    strip_tracking: bool = False
    # ^ remove tracking/session query params (utm_*, gclid, ...sessionid)
    # BEFORE canonical dedup, collapsing n-tracking-variants of one page
    # into a single frontier row. Default off = reference-parity
    # byte-identical URL handling.
    anchor_keywords: dict[str, int] | None = None
    # ^ focused-crawl anchor-text boost: when set, each discovered link's
    # anchor TEXT is scored with these integer keyword weights
    # (functions.relevance.keyword_hits_expr) and the per-target sum is
    # added to the admission score — incoming anchors vote for their
    # target (operators.frontier.anchor_relevance is the standalone
    # analysis twin). One extra agg+join on the politeness-bounded
    # candidate batch; the 1-column dedup shuffle is untouched. Default
    # None = reference-parity scoring (URL tokens only).
    mirror_detect_every: int | None = None
    # ^ mirror-host hygiene: every N rounds, sketch each host's FETCHED
    # content set (KMV bottom-m LSH + k-min-union Jaccard —
    # operators.sketches.mirror_hosts, register-sized, never S^2) and
    # persist confirmed (a, b) pairs to the `mirrors` side table; from
    # then on the b side (the lexicographically larger host — the
    # deterministic dedup loser) is excluded from scheduling and its
    # candidates fate-tagged `mirror_rejected` at admission, so fetch
    # budget never goes to a host whose content the crawl already holds.
    # Default None = reference parity (the reference has no mirror logic).
    mirror_min_jaccard_ppm: int = 500_000  # confirm threshold (0.5)
    dup_trap_detect_every: int | None = None
    # ^ duplicate-content trap hygiene: every N rounds, profile each
    # host's FETCHED pages (operators.frontier.duplicate_content_hosts —
    # one hash agg, O(hosts) output) and persist confirmed traps (URL
    # space exploding over near-constant content: session-id/facet traps
    # that beat the URL-pattern heuristics, soft-404 farms) to the
    # `traps` side table; from then on those hosts stop being scheduled
    # and their candidates fate-tag `dup_trap_rejected` at admission.
    # Default None = reference parity (the reference crawls single sites).
    dup_trap_min_urls: int = 50        # volume floor before a host can trap
    dup_trap_ratio_bp: int = 5000      # dup ratio (basis points) to confirm
    aging_weight_bp: int | None = None
    # ^ starvation-free scheduling (operators.frontier.age_priority):
    # PENDING rows compete with effective score = score + rounds_waited *
    # aging_weight_bp/10^4, so a low-score URL cannot wait forever behind
    # a host's stream of higher-scored siblings — its delay is bounded at
    # score_gap * 10^4 / weight rounds. Applies to the schedule ordering
    # only; the stored frontier score is untouched. Prefer exact binary
    # fractions of 10^4 (2500 = 0.25/round) so the order stays IEEE-exact.
    # Default None = reference parity (static score, starvation possible).
    rank_boost_every: int | None = None
    # ^ link-authority admission boost: every N rounds, aggregate the
    # FETCHED pages' anchor graph to host granularity
    # (operators.linkgraph.host_link_graph — 10^10 URLs collapse to
    # ~10^8 hosts) and run batch OPIC over it
    # (operators.linkgraph.opic_fixed_rounds — the ONLINE importance
    # measure of Abiteboul et al., usable mid-crawl unlike converged
    # PageRank); persist (host, opic) to the `host_rank` side table.
    # Admission then adds (opic/10^9) * rank_boost_weight_bp/10^4 to
    # each candidate's score via a broadcast host-dim join, so URLs on
    # link-authoritative hosts win politeness contention first. Score
    # shaping only — never blocks; fates are untouched. Default None =
    # reference parity (URL-token scoring only).
    rank_boost_weight_bp: int = 10_000  # 1.0 score per full OPIC share
    rank_opic_rounds: int = 3           # OPIC rounds per detection pass
    host_stats_every: int | None = None
    # ^ operational host-health rollups: every N rounds, append
    # analysis.host_report(frontier) (per-host status counts + integer
    # basis-point success rate; one hash agg, O(hosts) output) to the
    # `host_stats` side table with the round it describes — the
    # dashboard a crawl fleet watches, persisted next to the crawl log
    # instead of recomputed ad hoc. Default None = off (reference
    # parity; the reference has no health reporting).
    table_backend: str = "parquet"  # snapshot substrate: "parquet" (the
                                    # manifest analog, always available) or
                                    # "iceberg" (real catalog; requires the
                                    # iceberg-spark-runtime jar + a catalog
                                    # named by iceberg_namespace)
    iceberg_namespace: str = "graft.db"  # catalog.namespace for iceberg tables


class CrawlJob:
    def __init__(self, spark: SparkSession, corpus_dir: str, checkpoint_dir: str,
                 cfg: EngineConfig, seeds: list[str]):
        self.spark = spark
        self.cfg = cfg
        self.seeds = seeds
        self.corpus_dir = corpus_dir
        if cfg.table_backend == "iceberg":
            from ..sources.iceberg import (
                IcebergBucketedSnapshotTable,
                IcebergSnapshotTable,
                iceberg_available,
            )

            if not iceberg_available(spark):
                raise RuntimeError(
                    "table_backend='iceberg' needs the iceberg-spark-runtime "
                    "jar on the classpath and a configured catalog"
                )
            ns = cfg.iceberg_namespace
            self.t_frontier = IcebergBucketedSnapshotTable(
                spark, f"{ns}.frontier", n_buckets=cfg.frontier_buckets,
                key_col="url_hash",
            )
            self.t_log = IcebergSnapshotTable(spark, f"{ns}.crawl_log")
            self.t_metrics = IcebergSnapshotTable(spark, f"{ns}.metrics")
            self.t_mirrors = IcebergSnapshotTable(spark, f"{ns}.mirrors")
            self.t_traps = IcebergSnapshotTable(spark, f"{ns}.traps")
            self.t_hoststats = IcebergSnapshotTable(spark, f"{ns}.host_stats")
            self.t_hostrank = IcebergSnapshotTable(spark, f"{ns}.host_rank")
            self.t_filters = IcebergBucketedSnapshotTable(
                spark, f"{ns}.filters", n_buckets=cfg.bloom_buckets,
                key_col="bucket",
            )
        else:
            self.t_frontier = BucketedSnapshotTable(
                checkpoint_dir, "frontier", n_buckets=cfg.frontier_buckets,
                key_col="url_hash",
            )
            self.t_log = SnapshotTable(checkpoint_dir, "crawl_log")
            self.t_metrics = SnapshotTable(checkpoint_dir, "metrics")
            self.t_mirrors = SnapshotTable(checkpoint_dir, "mirrors")
            self.t_traps = SnapshotTable(checkpoint_dir, "traps")
            self.t_hoststats = SnapshotTable(checkpoint_dir, "host_stats")
            self.t_hostrank = SnapshotTable(checkpoint_dir, "host_rank")
            # bloom/cuckoo blobs live in their own bucketed table (bucket id
            # IS the key, so pmod is the identity); probe/update cogroup
            # against it per bucket
            self.t_filters = BucketedSnapshotTable(
                checkpoint_dir, "filters", n_buckets=cfg.bloom_buckets,
                key_col="bucket",
            )
        self._pending_filter_update: DataFrame | None = None
        # the round's persisted working set, unpersisted after its commit
        self._round_caches: list[DataFrame] = []
        self.seen_arm: str | None = None  # "plain" | "invert" | "bloom",
                                          # as the last admission chose

        # documents: canonical fetch key precomputed once. The join key is
        # the 8-byte doc_hash (same xxhash64 discipline as the seen
        # anti-join, frontier.py) so the fetch shuffle moves/compares longs,
        # not URL strings; doc_canon rides along only as the collision
        # guard. At scale this table is bucketed by doc_hash so the
        # per-round fetch join is co-located.
        self.documents = (
            spark.read.parquet(f"{corpus_dir}/documents.parquet")
            .withColumn("doc_canon", U.canonicalize_url(F.col("doc_id")))
            .withColumn("doc_hash", U.url_hash(F.col("doc_canon")))
            .select("doc_hash", "doc_canon", "host", "spans")
        )
        self._robots_gate = FR.robots_gate  # conservative prefix anti-join
        if cfg.raw_artifacts:
            # ingest the RAW fetched artifacts through the parsers — same
            # table shapes, must yield the identical crawl (tested e2e)
            from ..sources.robots_txt import (
                robots_rules_from_text,
                robots_rules_rfc_from_text,
                sitemap_urls_from_xml,
            )

            raw_robots = spark.read.parquet(f"{corpus_dir}/robots_raw.parquet")
            if cfg.rfc_robots:
                # full RFC 9309 longest-match rules (Allow carve-outs etc.)
                self.robots = robots_rules_rfc_from_text(raw_robots)
                self._robots_gate = FR.robots_gate_rfc
            else:
                self.robots = robots_rules_from_text(raw_robots)
            self.sitemaps = (
                sitemap_urls_from_xml(
                    spark.read.parquet(f"{corpus_dir}/sitemaps_raw.parquet")
                )
                .filter(F.col("kind") == "urlset")
                .groupBy("host")
                .agg(F.sort_array(F.collect_list("url")).alias("urls"))
            )
        else:
            self.robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
            self.sitemaps = spark.read.parquet(f"{corpus_dir}/sitemaps.parquet")
        self.budgets = spark.read.parquet(f"{corpus_dir}/politeness.parquet")

    # ------------------------------------------------------------------ util

    def _empty_frontier(self) -> DataFrame:
        return self.spark.createDataFrame([], FRONTIER_SCHEMA)

    def _admit(self, raw_urls: DataFrame, frontier: DataFrame, round_no: int,
               anchor_boost: DataFrame | None = None,
               mirror_block: DataFrame | None = None,
               trap_block: DataFrame | None = None,
               rank_boost: DataFrame | None = None
               ) -> tuple[DataFrame, DataFrame]:
        """raw_urls(url) -> (new frontier rows, per-fate/per-partition metrics).

        Mirrors oracle.admit: canon+distinct, robots gate, then
        FR.admission_round (seen dedup on the arm chosen here, per-host
        cap); boosts, host blocks and fates stay here. `anchor_boost`
        (url_canon, _anchor_hits) — built by run_round when
        cfg.anchor_keywords is set — adds the incoming-anchor vote to the
        admission score after the 1-column dedup."""
        # dedup-first: the batch-dedup shuffle carries ONLY url_canon;
        # hash/host/is_root/score derive from the distinct survivors
        # (identical output, ~40% less exchange volume — frontier.py)
        if self.cfg.strip_tracking:
            # strip BEFORE canonicalize+dedup so tracking variants collapse
            # inside the 1-column dedup shuffle instead of surviving it
            raw_urls = raw_urls.withColumn(
                "url", U.strip_tracking_params(F.col("url")))
        cands = FR.with_url_columns_deduped(raw_urls, "url", self.cfg.keywords)
        if anchor_boost is not None:
            cands = (
                cands.join(anchor_boost, "url_canon", "left")
                .withColumn(
                    "score",
                    F.col("score")
                    + F.coalesce(F.col("_anchor_hits").cast("double"),
                                 F.lit(0.0)),
                )
                .drop("_anchor_hits")
            )
        if rank_boost is not None:
            # link-authority vote: hosts with high OPIC cash+history lift
            # their candidates' admission scores. O(hosts) dim, broadcast;
            # opic is in units of 10^9 (opic_fixed_rounds scale), the
            # weight in basis points — both integer, one exact double mul.
            w = self.cfg.rank_boost_weight_bp / 10_000.0
            cands = (
                cands.join(F.broadcast(rank_boost), "host", "left")
                .withColumn(
                    "score",
                    F.col("score")
                    + F.coalesce(F.col("_opic").cast("double"),
                                 F.lit(0.0)) / 1e9 * F.lit(w),
                )
                .drop("_opic")
            )
        if self.cfg.trap_filters:
            cands = cands.withColumn(
                "trap_blocked", U.is_trap_url(F.col("url_canon")))
        if mirror_block is not None:
            # mirror losers never re-enter the frontier (broadcast semi
            # mark on the register-sized host dim); admit_with_cap
            # excludes mirror_blocked rows from eligibility
            blocked = mirror_block.select(
                "host", F.lit(True).alias("_mb"))
            cands = (
                cands.join(F.broadcast(blocked), "host", "left")
                .withColumn("mirror_blocked",
                            F.coalesce(F.col("_mb"), F.lit(False)))
                .drop("_mb")
            )
        if trap_block is not None:
            # confirmed dup-content trap hosts: same broadcast semi mark
            # shape as mirrors (host dim is O(hosts), always broadcast)
            tb = trap_block.select("host", F.lit(True).alias("_tb"))
            cands = (
                cands.join(F.broadcast(tb), "host", "left")
                .withColumn("dup_trap_blocked",
                            F.coalesce(F.col("_tb"), F.lit(False)))
                .drop("_tb")
            )
        gated = self._robots_gate(cands, self.robots)
        # adaptive exact-seen arm (frontier estimate from parquet footers /
        # Iceberg manifest stats, no scan):
        #   invert — frontier dwarfs the batch and the batch fits a
        #            broadcast: semi-filter the frontier by the batch's
        #            hashes; the big side never shuffles (fastest measured
        #            regime, bench_runs/bloom_compare_r05.json)
        #   bloom  — batch too big to broadcast over a huge frontier:
        #            amortized blob prefilter trims the slow-join side
        #   plain  — small frontier: the shuffled join alone is cheapest
        frontier_rows = self.t_frontier.row_count_estimate()
        self.seen_arm = "plain"
        if frontier_rows >= self.cfg.seen_invert_min_frontier_rows:
            # count on the persisted batch — admission_round reads the same
            # cache, and the count doubles as the batch-size metric
            gated = gated.persist()
            self._round_caches.append(gated)
            if gated.count() <= self.cfg.seen_invert_max_batch:
                self.seen_arm = "invert"
        if (self.seen_arm == "plain"
                and frontier_rows >= self.cfg.bloom_min_frontier_rows):
            self.seen_arm = "bloom"
        filters = None
        if self.seen_arm == "bloom":
            # amortized prefilter: blooms cover the bulk frontier (rebuilt
            # every rebuild_every rounds), the cuckoo delta covers rounds
            # since the last rebuild. Blobs live in the bucketed filter
            # table; rebuild is a full-replace commit built entirely on the
            # executors (one applyInPandas task per bucket, zero driver
            # traffic), and the probe cogroups candidates with their
            # bucket's blob row.
            f_meta = self.t_filters.latest_meta()
            rounds_since = f_meta.get("rounds_since_rebuild")
            # stale-on-reactivation guard: if the filter table's last commit
            # is not the immediately preceding round, bloom-off rounds (or a
            # config change mid-checkpoint) admitted URLs the blobs never
            # saw — probing them would return maybe_seen=False for seen
            # URLs and re-admit duplicates. Any such gap forces a rebuild,
            # regardless of rounds_since_rebuild.
            last_round = f_meta.get("round")
            stale_gap = last_round is None or int(last_round) != round_no - 1
            # filters_degraded: a cuckoo bucket overflowed in a prior round
            # (every candidate in it pays the exact join) — rebuild early to
            # absorb the delta and restore the fast path
            if (rounds_since is None
                    or rounds_since >= self.cfg.bloom_rebuild_every
                    or stale_gap
                    or f_meta.get("filters_degraded")):
                self.t_filters.commit_upsert(
                    FR.build_bucket_blooms_df(frontier, self.cfg.bloom_buckets),
                    changed_buckets=None,  # full replace: delta absorbed
                    meta={"rounds_since_rebuild": 0, "round": round_no},
                )
            filters = self.t_filters.read(self.spark)
        tagged, handles = FR.admission_round(
            gated, frontier, self.cfg.max_urls_per_host,
            invert=self.seen_arm == "invert",
            filters=filters, n_buckets=self.cfg.bloom_buckets,
        )
        # metrics, new rows and the cuckoo update all read `tagged`; the
        # whole set is dropped (unpersisted) after the round's commit
        tagged = tagged.persist()
        self._round_caches += [*handles, tagged]

        lineage = F.concat(
            F.lit(f"round={round_no};src=admit;frontier_v="),
            F.lit(str(self.t_frontier.latest_version() or 0)),
        )
        fate = F.when(F.col("robots_blocked"), "robots_blocked").when(
            F.col("seen"), "dedup_rejected"
        ).when(F.col("admitted"), "admitted").otherwise("cap_rejected")
        if mirror_block is not None:
            # mirror verdict outranks robots/seen (budget attribution:
            # the host-level decision is the reason the URL never ran)
            fate = F.when(F.col("mirror_blocked"),
                          "mirror_rejected").otherwise(fate)
        if trap_block is not None:
            # host-level trap verdict: same attribution rank as mirrors
            fate = F.when(F.col("dup_trap_blocked"),
                          "dup_trap_rejected").otherwise(fate)
        if self.cfg.trap_filters:
            # trap verdict outranks every other fate (cheapest filter wins
            # the attribution; robots/seen still computed for their gates)
            fate = F.when(F.col("trap_blocked"), "trap_rejected").otherwise(fate)
        metrics = (
            tagged.withColumn("fate", fate)
            .groupBy("fate", F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("n"))
            .withColumn("round", F.lit(round_no))
            .withColumn("lineage", lineage)
        )

        new_rows = (
            tagged.filter("admitted")
            .select(
                "url_canon", "url_hash", "host", "is_root", "score",
                F.lit("PENDING").alias("status"),
                F.lit(round_no).alias("round_added"),
                F.lit(None).cast("int").alias("round_fetched"),
                F.lit(None).cast("string").alias("title"),
            )
        )
        if self.seen_arm == "bloom":
            # feed the admitted keys into the per-bucket cuckoo delta ON THE
            # EXECUTORS (cogroup per bucket): the update emits replacement
            # blob rows for TOUCHED buckets only, committed in _commit_round
            # via partition-scoped upsert — neither admitted url_hashes nor
            # blob bytes ever pass through the driver
            self._pending_filter_update = FR.update_bucket_cuckoos_df(
                tagged.filter("admitted").select("url_hash"),
                self.t_filters.read(self.spark),
                self.cfg.bloom_buckets,
                self.cfg.cuckoo_capacity,
            )
        return new_rows, metrics

    def _commit_round(self, frontier_changed: DataFrame,
                      changed_buckets: list[int] | None, round_no: int,
                      log_rows: DataFrame | None, metrics: DataFrame | None) -> None:
        """Per-round durability, every write O(round):

        * frontier: partition-scoped upsert — `frontier_changed` is the
          full new content of `changed_buckets` only (None = bootstrap
          full write);
        * crawl_log / metrics: fast-append of the round's rows;
        * filter blobs: upsert of the buckets this round's admissions
          touched."""
        lineage = {"round": round_no, "source": "crawl-loop"}
        # commit ORDER is the crash-consistency contract: side tables first,
        # the frontier LAST. The frontier manifest's round is the resume
        # authority — a crash before it publishes leaves side-table versions
        # for an unacknowledged round, which bootstrap() trims
        # (rollback_newer_than) before deterministically re-running the
        # round. Frontier-first would instead LOSE the round's log rows
        # silently (frontier says done, log never written).
        if log_rows is not None:
            self.t_log.append(log_rows, meta=lineage)
        if metrics is not None:
            self.t_metrics.append(metrics, meta=lineage)
        if self._pending_filter_update is not None:
            prev_meta = self.t_filters.latest_meta()
            # persist the (tiny: touched buckets only) update so the
            # degraded-bucket scan below doesn't re-run the cogroup
            upd = self._pending_filter_update.persist()
            degraded = bool(
                upd.filter(F.col("cuckoo") == F.lit(CUCKOO_SATURATED))
                .limit(1).count()
            )
            self.t_filters.commit_upsert(
                upd, changed_buckets="written",
                meta={
                    "rounds_since_rebuild":
                        int(prev_meta.get("rounds_since_rebuild", 0)) + 1,
                    "round": round_no,
                    # survives resume: _admit forces a bloom rebuild next
                    # round whenever a bucket's cuckoo delta overflowed
                    "filters_degraded": degraded
                    or bool(prev_meta.get("filters_degraded")),
                },
            )
            upd.unpersist()
            self._pending_filter_update = None
        self.t_frontier.commit_upsert(frontier_changed, changed_buckets,
                                      meta=lineage)
        # everything is on disk now -> drop the round's working-set caches
        for df in self._round_caches:
            df.unpersist()
        self._round_caches = []
        ce = self.cfg.compact_every
        if ce and round_no > 0 and round_no % ce == 0:
            # content-preserving maintenance: collapse the append-only
            # tables' read paths back to one dir each (small-files control)
            # and expire superseded frontier/filter versions (otherwise a
            # 10^5-round crawl keeps 10^5 manifests + their orphaned bucket
            # dirs). keep_last > 1 preserves a resume/debug horizon.
            self.t_log.compact(self.spark)
            self.t_metrics.compact(self.spark)
            self.t_frontier.expire_older_than(keep_last=4)
            self.t_filters.expire_older_than(keep_last=4)

    # ------------------------------------------------------------- lifecycle

    def bootstrap(self) -> int:
        """Round 0: admit seeds + sitemap URLs of seed hosts. Returns the
        round to resume from (reads the checkpoint when one exists)."""
        durable = (
            int(self.t_frontier.latest_meta().get("round", 0))
            if self.t_frontier.latest_version() is not None else -1
        )
        # trim side-table versions from a round whose frontier commit never
        # published (crash window inside _commit_round); the round re-runs
        for t in (self.t_log, self.t_metrics, self.t_filters,
                  self.t_mirrors, self.t_traps, self.t_hoststats,
                  self.t_hostrank):
            t.rollback_newer_than(durable)
        if durable >= 0:
            return durable

        seeds_df = self.spark.createDataFrame([(s,) for s in self.seeds], "url string")
        seed_hosts = seeds_df.select(
            U.url_host(U.canonicalize_url(F.col("url"))).alias("host")
        ).distinct()
        sitemap_urls = (
            self.sitemaps.join(seed_hosts, "host", "left_semi")
            .select(F.explode("urls").alias("url"))
        )
        round0 = seeds_df.unionByName(sitemap_urls)
        new_rows, metrics = self._admit(round0, self._empty_frontier(), 0)
        self._commit_round(new_rows, None, 0, None, metrics)
        return 0

    def _detect_mirrors(self, frontier: DataFrame, round_no: int) -> None:
        """Recompute + persist the mirror table from the hosts' FETCHED
        content (SUCCESS rows joined back to their documents; fingerprint
        = md5 of the parsed span tree, so byte-identical mirrors collide
        regardless of URL paths).  Full recompute each detection round —
        the output is register-sized (pairs of hosts), so the commit is a
        tiny full replace; the crawl only ever reads the latest version.
        A crash after this commit but before the frontier's is trimmed by
        bootstrap's rollback_newer_than, and the detection re-runs
        deterministically from the same frontier version."""
        from ..operators.sketches import mirror_hosts

        succ = frontier.filter(F.col("status") == "SUCCESS").select("url_hash")
        fetched = self.documents.join(succ, succ.url_hash == self.documents.doc_hash,
                                      "left_semi")
        found = mirror_hosts(
            fetched, host_col="host",
            fingerprint=F.md5(F.to_json(F.col("spans"))),
            min_jaccard_ppm=self.cfg.mirror_min_jaccard_ppm,
        ).filter(F.col("is_mirror"))
        self.t_mirrors.commit(found, meta={"round": round_no,
                                           "source": "crawl-loop"})

    def _mirror_block(self) -> DataFrame | None:
        """(host) dim of mirror-loser hosts to exclude — the b side of
        every confirmed pair. None when detection is off or nothing has
        been confirmed yet. Register-sized: always broadcast."""
        if not self.cfg.mirror_detect_every:
            return None
        mirrors = self.t_mirrors.read(self.spark)
        if mirrors is None:
            return None
        return mirrors.select(F.col("b").alias("host")).distinct()

    def _detect_dup_traps(self, frontier: DataFrame, round_no: int) -> None:
        """Recompute + persist the duplicate-content trap table from the
        hosts' FETCHED pages (SUCCESS rows joined back to their documents;
        fingerprint = md5 of the parsed span tree — the same content key
        mirror detection uses, so a session-id explosion serving one page
        collapses to n_content=1 however its URLs differ). Full recompute
        per detection round; output is O(hosts), so the commit is a tiny
        full replace. Crash-consistency matches _detect_mirrors: a commit
        ahead of the frontier's round is trimmed by bootstrap's
        rollback_newer_than and re-derived deterministically."""
        succ = frontier.filter(F.col("status") == "SUCCESS").select("url_hash")
        fetched = self.documents.join(
            succ, succ.url_hash == self.documents.doc_hash, "left_semi")
        found = FR.duplicate_content_hosts(
            fetched.select(
                "host",
                F.col("doc_canon").alias("url_canon"),
                F.md5(F.to_json(F.col("spans"))).alias("fingerprint"),
            ),
            min_urls=self.cfg.dup_trap_min_urls,
            trap_ratio_bp=self.cfg.dup_trap_ratio_bp,
        ).filter(F.col("is_trap"))
        self.t_traps.commit(found, meta={"round": round_no,
                                         "source": "crawl-loop"})

    def _trap_block(self) -> DataFrame | None:
        """(host) dim of confirmed duplicate-content trap hosts. None when
        detection is off or nothing confirmed yet. O(hosts): broadcast."""
        if not self.cfg.dup_trap_detect_every:
            return None
        traps = self.t_traps.read(self.spark)
        if traps is None:
            return None
        return traps.select("host").distinct()

    def _rank_hosts(self, frontier: DataFrame, round_no: int) -> None:
        """Recompute + persist host link-authority from the FETCHED pages'
        anchor graph: host_link_graph (one explode + host-pair agg over
        SUCCESS documents) -> batch OPIC (co-partitioned join+agg rounds,
        dangling cash via an in-plan 1-row broadcast). Output is O(hosts)
        — a tiny full-replace commit, same crash-consistency story as
        _detect_mirrors (a commit ahead of the frontier's round is
        trimmed by bootstrap's rollback and re-derived)."""
        from ..operators.linkgraph import host_link_graph, opic_fixed_rounds

        succ = frontier.filter(F.col("status") == "SUCCESS").select("url_hash")
        fetched = self.documents.join(
            succ, succ.url_hash == self.documents.doc_hash, "left_semi")
        edges = host_link_graph(
            fetched.select(F.col("doc_canon").alias("doc_id"),
                           "host", "spans"))
        ranks = opic_fixed_rounds(
            edges, iters=self.cfg.rank_opic_rounds,
            src_col="src_host", dst_col="dst_host",
        ).select(F.col("node").alias("host"), "opic")
        self.t_hostrank.commit(ranks, meta={"round": round_no,
                                            "source": "crawl-loop"})

    def _rank_boost(self) -> DataFrame | None:
        """(host, _opic) authority dim for admission score shaping. None
        when the flag is off or no ranking pass has committed yet.
        O(hosts): always broadcast at the join."""
        if not self.cfg.rank_boost_every:
            return None
        ranks = self.t_hostrank.read(self.spark)
        if ranks is None:
            return None
        return ranks.select("host", F.col("opic").alias("_opic"))

    def _append_host_stats(self, frontier: DataFrame, as_of_round: int) -> None:
        """Persist analysis.host_report(frontier) labeled with the round
        whose completed state it describes. O(hosts) rows per append;
        crash window covered by bootstrap's rollback (meta round is the
        CURRENT round, so an unacknowledged round's rollup is trimmed
        and deterministically re-appended on re-run)."""
        from .analysis import host_report

        self.t_hoststats.append(
            host_report(frontier).withColumn("round", F.lit(as_of_round)),
            meta={"round": as_of_round + 1, "source": "crawl-loop"},
        )

    def run_round(self, round_no: int) -> dict:
        """One crawl round. Returns counters (scheduled==0 => converged)."""
        frontier = self.t_frontier.read(self.spark)
        if (self.cfg.host_stats_every
                and round_no > 1
                and (round_no - 1) % self.cfg.host_stats_every == 0):
            self._append_host_stats(frontier, round_no - 1)
        if (self.cfg.mirror_detect_every
                and round_no > 1
                and (round_no - 1) % self.cfg.mirror_detect_every == 0):
            # detection reads only PRIOR rounds' fetches (this round's
            # frontier version), so re-running the round reproduces it
            self._detect_mirrors(frontier, round_no)
        mirror_block = self._mirror_block()
        if (self.cfg.dup_trap_detect_every
                and round_no > 1
                and (round_no - 1) % self.cfg.dup_trap_detect_every == 0):
            self._detect_dup_traps(frontier, round_no)
        trap_block = self._trap_block()
        if (self.cfg.rank_boost_every
                and round_no > 1
                and (round_no - 1) % self.cfg.rank_boost_every == 0):
            # like mirror/trap detection: ranks only PRIOR rounds' fetches,
            # so re-running the round reproduces the commit
            self._rank_hosts(frontier, round_no)
        rank_boost = self._rank_boost()
        sched_cols = ["url_canon", "url_hash", "host", "is_root", "score"]
        pool = frontier.filter(F.col("status") == "PENDING")
        if self.cfg.aging_weight_bp:
            # starvation-free ordering: waited rounds raise the EFFECTIVE
            # score the politeness top-k ranks on; the frontier row's
            # stored score is untouched (the MERGE keeps its own column).
            # Refresh/retry re-entries below stay unaged — they carry
            # their own recency semantics (staleness / backoff order).
            pool = FR.age_priority(pool, round_no,
                                   weight_bp=self.cfg.aging_weight_bp)
        pool = pool.select(*sched_cols)
        if self.cfg.refresh_interval:
            # recrawl: stale SUCCESS rows rejoin the pool and compete with
            # new URLs inside the same per-host politeness budget; the
            # fetch MERGE then stamps them with this round's round_fetched
            ivs = (self.spark.read.parquet(self.cfg.refresh_intervals_path)
                   if self.cfg.refresh_intervals_path else None)
            due = FR.refresh_due(
                frontier, round_no, self.cfg.refresh_interval, intervals=ivs,
                max_per_round=self.cfg.refresh_max_per_round,
            )
            pool = pool.unionByName(due.select(*sched_cols))
        if self.cfg.retry_base_backoff:
            # failure retry: FAILED rows past their exponential backoff
            # re-enter the pool; attempts come from the crawl log (one
            # count agg — every emission was an attempt)
            log = self.t_log.read(self.spark)
            if log is not None:
                retries = FR.retry_due(
                    frontier, FR.attempts_from_log(log), round_no,
                    base_backoff=self.cfg.retry_base_backoff,
                    max_retries=self.cfg.retry_max,
                    max_per_round=self.cfg.retry_max_per_round,
                )
                pool = pool.unionByName(retries.select(*sched_cols))

        budgets = self.budgets
        if self.cfg.apportion_total:
            # global-budget mode: split one round-wide total across hosts
            # by pending demand (integer largest-remainder; exact sum)
            demand = pool.groupBy("host").agg(F.count("*").alias("weight"))
            budgets = FR.apportion_budget(
                demand, self.cfg.apportion_total, key_col="host"
            ).select(
                F.col("key").alias("host"),
                F.col("quota").cast("int").alias("budget"),
            )
        elif self.cfg.adaptive_budget:
            # backoff: per-host budgets derived from this frontier's
            # observed fetch outcomes (one agg + broadcast dim join)
            budgets = FR.adaptive_budgets(
                frontier, self.budgets, self.cfg.default_budget
            )
        if mirror_block is not None:
            # confirmed mirror losers stop being scheduled — PENDING rows
            # already admitted before detection included (broadcast
            # anti-join on a register-sized host dim)
            pool = pool.join(F.broadcast(mirror_block), "host", "left_anti")
        if trap_block is not None:
            # confirmed dup-content trap hosts likewise leave the schedule
            pool = pool.join(F.broadcast(trap_block), "host", "left_anti")
        scheduled = FR.politeness_topk(
            pool, budgets, self.cfg.default_budget, self.cfg.salt_buckets
        ).select(*sched_cols)
        scheduled.cache()
        n_sched = scheduled.count()
        if n_sched == 0:
            scheduled.unpersist()
            FR.release_checkpoints(budgets)
            return {"round": round_no, "scheduled": 0}

        log_rows = FR.global_crawl_order(scheduled, round_no)

        # fetch = join vs documents on the 8-byte url_hash (shuffle bytes +
        # comparator cost scale with the key width at 10^10 rows), with a
        # url_canon equality guard so an xxhash64 collision can never fetch
        # the wrong document — same key discipline as the seen anti-join
        # (operators/frontier.py).
        docs = self.documents.withColumnRenamed("host", "_doc_host")
        fetched = scheduled.join(
            docs,
            (scheduled.url_hash == docs.doc_hash)
            & (scheduled.url_canon == docs.doc_canon),
            "left",
        )
        title = F.try_element_at(  # NULL when no title span (no ANSI error)
            F.filter("spans", lambda s: (s["kind"] == "title") & (s["text"] != "")), F.lit(1)
        )["text"]
        results = fetched.select(
            "url_canon",
            F.when(F.col("doc_canon").isNull(), "FAILED").otherwise("SUCCESS").alias(
                "_new_status"
            ),
            title.alias("_new_title"),
            F.lit(round_no).alias("_round_fetched"),
        )

        # discovered links: explode 'a' spans of successful fetches
        resolved = (
            fetched.filter(F.col("doc_canon").isNotNull())
            .select(
                F.col("host").alias("_base_host"),
                F.explode(F.filter("spans", lambda s: s["kind"] == "a")).alias("s"),
            )
            .filter(F.col("s.media_ref") != "")
            .select(
                U.resolve_href(F.col("s.media_ref"), F.col("_base_host")).alias("_u"),
                "_base_host",
                F.col("s.text").alias("_atext"),
            )
            .filter(U.same_domain(F.col("_u"), F.col("_base_host")))
        )
        links = resolved.select(F.col("_u").alias("url"))

        anchor_boost = None
        if self.cfg.anchor_keywords:
            # incoming anchors vote for their target: integer keyword hits
            # over anchor text, summed per canonical target (one agg on the
            # politeness-bounded link batch), joined onto the deduped
            # candidates inside _admit
            from ..functions.relevance import keyword_hits_expr

            anchor_boost = (
                resolved.select(
                    U.canonicalize_url(F.col("_u")).alias("url_canon"),
                    keyword_hits_expr(
                        F.col("_atext"), self.cfg.anchor_keywords
                    ).alias("_hits"),
                )
                .groupBy("url_canon")
                .agg(F.sum("_hits").alias("_anchor_hits"))
            )

        new_rows, admit_metrics = self._admit(links, frontier, round_no,
                                              anchor_boost=anchor_boost,
                                              mirror_block=mirror_block,
                                              trap_block=trap_block,
                                              rank_boost=rank_boost)

        # MERGE, partition-scoped: only the frontier buckets containing this
        # round's scheduled (status transitions) or admitted (inserts) URLs
        # change — read back just those buckets (manifest-level partition
        # pruning) and rewrite just them. At 10^10 URLs the per-round write
        # is O(|touched buckets|), not O(|frontier|).
        bkt = self.t_frontier.bucket_expr()
        changed_buckets = [
            r["b"]
            for r in scheduled.select(bkt.alias("b"))
            .unionByName(new_rows.select(bkt.alias("b")))
            .distinct()
            .collect()  # <= frontier_buckets ints — bounded driver traffic
        ]
        frontier_changed = self.t_frontier.read_buckets(self.spark, changed_buckets)
        merged = (
            frontier_changed.join(results, "url_canon", "left")
            .select(
                "url_canon", "url_hash", "host", "is_root", "score",
                F.coalesce(F.col("_new_status"), F.col("status")).alias("status"),
                "round_added",
                F.coalesce(F.col("_round_fetched"), F.col("round_fetched")).alias(
                    "round_fetched"
                ),
                F.coalesce(F.col("_new_title"), F.col("title")).alias("title"),
            )
            .unionByName(new_rows)
        )

        fetch_metrics = (
            results.groupBy(
                F.concat(F.lit("fetch_"), F.lower("_new_status")).alias("fate"),
                F.spark_partition_id().alias("partition_id"),
            )
            .agg(F.count("*").alias("n"))
            .withColumn("round", F.lit(round_no))
            .withColumn(
                "lineage",
                F.lit(f"round={round_no};src=fetch;frontier_v="
                      f"{self.t_frontier.latest_version() or 0}"),
            )
        )
        self._commit_round(merged, changed_buckets, round_no, log_rows,
                           admit_metrics.unionByName(fetch_metrics))
        scheduled.unpersist()
        # the crawl-order and apportionment checkpoints (the log rows and
        # budgets read them) are done once the round's commit has run
        FR.release_checkpoints(log_rows)
        FR.release_checkpoints(budgets)
        return {"round": round_no, "scheduled": n_sched}

    def run(self) -> dict:
        start = self.bootstrap()
        rounds = 0
        for r in range(start + 1, self.cfg.max_rounds + 1):
            out = self.run_round(r)
            if out["scheduled"] == 0:
                break
            rounds += 1
        frontier = self.t_frontier.read(self.spark)
        return {
            "rounds_run": rounds,
            "frontier_size": frontier.count(),
            "crawl_log_size": (self.t_log.read(self.spark) or self._empty_frontier()).count(),
        }

    # ------------------------------------------------------------- accessors

    def frontier(self) -> DataFrame:
        return self.t_frontier.read(self.spark)

    def crawl_log(self) -> DataFrame:
        return self.t_log.read(self.spark)

    def metrics(self) -> DataFrame:
        return self.t_metrics.read(self.spark)


def run_crawl(spark: SparkSession, corpus_dir: str, checkpoint_dir: str,
              seeds: list[str], cfg: EngineConfig | None = None) -> CrawlJob:
    job = CrawlJob(spark, corpus_dir, checkpoint_dir, cfg or EngineConfig(), seeds)
    job.run()
    return job
