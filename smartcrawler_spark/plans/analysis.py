"""Post-crawl analysis sinks — the reference's phase-3 outputs as writers.

* duplicate_report      — normal mode: cross-page duplicate signatures per
                          domain (main.rs:158-177), written as parquet
* template_paths_json   — prep mode: the TemplatePathStore serialization
                          (template_detection.rs:40-43 + main.rs:181-215),
                          written as JSON lines of {host, path, pattern}
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import urls as U
from ..operators import spans as SP


def _success_docs(spark: SparkSession, job) -> DataFrame:
    """SUCCESS frontier rows joined back to their documents (fresh scan to
    avoid self-join ambiguity with the job's own lineage)."""
    docs = (
        spark.read.parquet(f"{job.corpus_dir}/documents.parquet")
        .withColumn("doc_canon", U.canonicalize_url(F.col("doc_id")))
    )
    fetched = job.frontier().filter(F.col("status") == "SUCCESS").select("url_canon")
    return fetched.join(docs, fetched.url_canon == docs.doc_canon, "inner").select(
        "doc_id", docs.host, "spans", "nodes"
    )


def duplicate_report(spark: SparkSession, job, out_dir: str) -> DataFrame:
    dups = SP.domain_duplicates(_success_docs(spark, job))
    dups.write.mode("overwrite").parquet(f"{out_dir}/dup_nodes")
    return dups


def host_report(frontier: DataFrame) -> DataFrame:
    """Per-host crawl health rollup: URL counts by lifecycle status plus
    the success rate over attempted fetches — the operational dashboard a
    crawl fleet watches. One hash aggregation on `host` (map-side partial
    agg; at 10^10 rows this is the canonical groupBy shape).

    The rate is emitted as integer basis points (``success_bp``,
    ``floor(10000 * n_success / attempted)``): every output column is
    integral, so downstream equality checks / hashes can never diverge on
    float formatting. Consumers wanting a float divide by 10^4."""
    n = F.count("*")
    succ = F.sum(F.when(F.col("status") == "SUCCESS", 1).otherwise(0))
    fail = F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0))
    pend = F.sum(F.when(F.col("status") == "PENDING", 1).otherwise(0))
    attempted = succ + fail
    return frontier.groupBy("host").agg(
        n.alias("n_urls"),
        succ.alias("n_success"),
        fail.alias("n_failed"),
        pend.alias("n_pending"),
        F.when(attempted > 0, F.floor(succ * F.lit(10000) / attempted))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("success_bp"),
    )


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                fingerprint=None) -> DataFrame:
    """Snapshot-to-snapshot corpus diff: classify every doc id across two
    crawl rounds as added / removed / changed / unchanged, where "changed"
    means the content fingerprint moved (default md5(text); pass any
    Column for span-level or metadata fingerprints).  The recrawl loop's
    ground truth — what actually changed — and the input to freshness
    models (how often does this host's content move?).

    Shape: one full outer join co-partitioned on the id column — both
    sides shuffle exactly once on the same key; at 10^10 docs this is the
    canonical sort-merge join, and bucketed snapshot tables make it
    exchange-free.  Output (id, change, old_fp, new_fp)."""
    fp = fingerprint if fingerprint is not None else F.md5(F.col("text"))
    o = old.select(F.col(id_col).alias(id_col), fp.alias("old_fp"))
    n = new.select(F.col(id_col).alias(id_col), fp.alias("new_fp"))
    j = o.join(n, id_col, "full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(id_col, change.alias("change"), "old_fp", "new_fp")


def corpus_diff_summary(diff: DataFrame) -> DataFrame:
    """Rollup of `corpus_diff`: row counts per change class — the
    one-line recrawl report (and the churn-rate numerator/denominator
    for scheduling)."""
    return diff.groupBy("change").agg(F.count(F.lit(1)).alias("n"))


def change_rate_ppm(history: DataFrame, key_col: str = "host",
                    changed_col: str = "changed",
                    alpha: int = 1, beta: int = 1) -> DataFrame:
    """Per-key change-rate estimate from revisit observations, as integer
    parts-per-million: rows of `history` are one observation each
    ((key, changed ∈ {0,1}) — e.g. `corpus_diff` outputs rolled up to
    hosts, one row per recrawled doc per round), and

        rate_ppm = floor(10^6 * (n_changed + alpha) / (n_obs + alpha + beta))

    — the Laplace-smoothed empirical change frequency (the prior keeps
    never-observed-changing hosts from freezing at 0 and always-changing
    hosts from saturating at 10^6, so intervals stay finite both ways).
    All-integer output: (key, n_obs, n_changed, rate_ppm).

    This is the X/n frequency estimator; Cho & Garcia-Molina (TOIT 2003)
    show the Poisson-corrected -ln(1 - X/n) is less biased when changes
    can happen more than once between visits — consumers wanting λ can
    apply it to these integer counts driver-side (it's a monotone map of
    rate_ppm, so interval ORDERING is identical either way; we keep the
    stored form integral so gates/hashes never float-diverge).

    Scale shape: one hash agg on the key — map-side partial combine, no
    joins; at 10^10 observation rows this is the canonical groupBy."""
    ch = F.sum(F.col(changed_col).cast("long"))
    n = F.count(F.lit(1))
    return (
        history.groupBy(F.col(key_col).alias("key"))
        .agg(n.alias("n_obs"), ch.alias("n_changed"))
        .select(
            "key",
            "n_obs",
            "n_changed",
            # integer `div`, not floor(double /): double division loses
            # exactness past 2^53, which the 10^10-row design point can
            # reach — same contract as frontier.apportion_budget
            F.expr(
                f"((n_changed + {int(alpha)}) * 1000000) div "
                f"(n_obs + {int(alpha + beta)})"
            ).cast("long").alias("rate_ppm"),
        )
    )


def recrawl_intervals(rates: DataFrame, base_interval: int,
                      min_interval: int = 1,
                      max_interval: int | None = None) -> DataFrame:
    """Turn `change_rate_ppm` output into per-key revisit intervals (in
    rounds): interval = clamp(floor(base_interval * 10^6 / rate_ppm),
    min_interval, max_interval). A host that changed on every revisit
    (rate_ppm ≈ 10^6) is re-fetched every `base_interval` rounds; one
    that changed a tenth of the time waits 10× longer — the
    uniform-allocation revisit policy, integer-exact.  Output
    (key, rate_ppm, interval); feed to `frontier.refresh_due(..., intervals=)`."""
    # integer div (not floor of double /) — see change_rate_ppm
    iv = F.expr(f"({int(base_interval)} * 1000000) div rate_ppm")
    iv = F.greatest(iv, F.lit(min_interval))
    if max_interval is not None:
        iv = F.least(iv, F.lit(max_interval))
    return rates.select("key", "rate_ppm", iv.cast("int").alias("interval"))


def intervals_from_updates(updates: DataFrame, key_col: str = "host",
                           ts_col: str = "ts",
                           seconds_per_round: int = 86400,
                           min_interval: int = 1,
                           max_interval: int | None = None) -> DataFrame:
    """Per-key revisit intervals from an observed UPDATE LOG — sitemap
    <lastmod> entries, feed pubDates, or detected content changes: the
    mean inter-update spacing (max_ts - min_ts) // (n - 1) in epoch
    seconds, integer-exact, mapped to rounds via `seconds_per_round` and
    clamped. The third producer of the (key, interval) artifact the
    adaptive refresh loop consumes (with `recrawl_intervals` from change
    rates, or hand-curated dims) — publish cadence IS the revisit
    cadence a crawler should match.

    Keys with fewer than 2 updates emit no row (no cadence evidence —
    the loop's default_interval covers them). Output (key, n_updates,
    spacing_s, interval), all integral; one hash agg on the key."""
    u = F.unix_timestamp(F.col(ts_col))
    per = (
        updates.filter(F.col(ts_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_updates"),
            F.min(u).alias("_min"),
            F.max(u).alias("_max"),
        )
        .filter(F.col("n_updates") >= 2)
    )
    # integer div (not floor of double /) — see change_rate_ppm
    spacing = F.expr("(_max - _min) div (n_updates - 1)").cast("long")
    per = per.select("key", "n_updates", spacing.alias("spacing_s"))
    iv = F.greatest(
        F.expr(f"spacing_s div {int(seconds_per_round)}"),
        F.lit(min_interval),
    )
    if max_interval is not None:
        iv = F.least(iv, F.lit(max_interval))
    return per.select("key", "n_updates", "spacing_s",
                      iv.cast("int").alias("interval"))


def template_paths_json(spark: SparkSession, job, out_dir: str) -> DataFrame:
    """S6: template paths as pretty-ish JSON lines (df.write.json), the
    engine form of TemplatePathStore.to_serialized_string()."""
    paths = SP.extract_template_paths(_success_docs(spark, job))
    paths.write.mode("overwrite").json(f"{out_dir}/template_paths")
    return paths


def crawl_progress(frontier: DataFrame) -> DataFrame:
    """Per-round crawl progress rollup: URLs admitted and fetch outcomes
    by `round_added` / `round_fetched`, plus the running frontier size —
    the "is discovery saturating?" curve every crawl dashboard plots
    (admission rate falling toward the politeness budget means the
    reachable set is nearly exhausted).

    Shape: two hash aggs over the frontier (one keyed by round_added,
    one by round_fetched) merged with a full outer join on the round,
    then a cumulative window over rounds — the window partitions by
    nothing but rounds number in the low thousands, so the single-
    partition tail is bounded metadata, not data. All-integer output:
    (round, n_admitted, n_fetched, n_success, cum_frontier)."""
    admitted = frontier.groupBy(
        F.col("round_added").alias("round")
    ).agg(F.count("*").alias("n_admitted"))
    fetched = (
        frontier.filter(F.col("round_fetched").isNotNull())
        .groupBy(F.col("round_fetched").alias("round"))
        .agg(
            F.count("*").alias("n_fetched"),
            F.sum(F.when(F.col("status") == "SUCCESS", 1).otherwise(0))
            .alias("n_success"),
        )
    )
    from pyspark.sql import Window

    merged = (
        admitted.join(fetched, "round", "full_outer")
        .select(
            "round",
            F.coalesce("n_admitted", F.lit(0)).alias("n_admitted"),
            F.coalesce("n_fetched", F.lit(0)).alias("n_fetched"),
            F.coalesce("n_success", F.lit(0)).alias("n_success"),
        )
    )
    w = Window.orderBy("round").rowsBetween(Window.unboundedPreceding, 0)
    return merged.select(
        "round", "n_admitted", "n_fetched", "n_success",
        F.sum("n_admitted").over(w).alias("cum_frontier"),
    )


def corpus_datacard(df: DataFrame,
                    group_cols: tuple[str, ...] = ("split", "lang"),
                    tokens_col: str = "n_tokens",
                    text_col: str = "text") -> DataFrame:
    """Per-(split, lang) corpus datacard: the release-notes table every
    dataset ships with — doc counts, token totals, document-length
    spread. One hash aggregation with map-side partials; all-integer
    output so the numbers are identical on any engine:

        (group..., n_docs, total_tokens, min_tokens, max_tokens,
         total_chars, mean_tokens = total div n_docs)
    """
    toks = F.col(tokens_col).cast("long")
    return df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
        F.min(toks).alias("min_tokens"),
        F.max(toks).alias("max_tokens"),
        F.sum(F.length(text_col).cast("long")).alias("total_chars"),
    ).withColumn("mean_tokens",
                 F.expr("total_tokens div n_docs"))
