"""Structured Streaming frontier ingestion (stretch capability).

The reference is strictly sequential batch (SURVEY.md §2.9 — no streaming
operators exist there), and the batch round loop in plans.crawl is the
parity path. This module is the OPTIONAL streaming face of the same
operators: a continuous feed of discovered URLs (e.g. sitemap pings, link
extractions from a separate fetch fleet) flows through canonicalize ->
robots gate -> streaming dedup -> per-batch admission into the same
snapshot frontier, using

* `readStream` file source over a drop directory of parquet candidate
  batches,
* `dropDuplicatesWithinWatermark` on url_hash for in-stream dedup — the
  within-watermark variant is what lets the watermark actually evict
  per-key dedup state (plain `dropDuplicates` without the event-time
  column in its keys keeps state forever),
* `foreachBatch` to run the batch admission round
  (`operators.frontier.admission_round`: exact seen join + per-host cap)
  against the committed frontier snapshot — the same function the crawl
  loop calls, so the streaming path shares one implementation and one
  determinism contract with the batch path per micro-batch.

At scale this runs with a real checkpointLocation on durable storage; the
in-stream dropDuplicates only reduces state, the snapshot-backed exact
anti-join in foreachBatch remains the seen-set authority.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import frontier as FR
from ..sources.snapshot import SnapshotTable

CANDIDATE_SCHEMA = "url string, discovered_at timestamp"


def candidate_stream(spark: SparkSession, drop_dir: str,
                     watermark: str = "10 minutes") -> DataFrame:
    """Streaming candidates: file source -> canonical columns -> in-stream
    dedup on the 8-byte url_hash, state evicted at the watermark horizon."""
    raw = (
        spark.readStream.schema(CANDIDATE_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(drop_dir)
    )
    cands = FR.with_url_columns(raw, "url", {})
    # within-watermark dedup: bounded state (plain dropDuplicates on keys
    # that exclude the event-time column is never watermark-evicted); the
    # exact anti-join in foreachBatch remains the seen-set authority.
    return cands.withWatermark(
        "discovered_at", watermark
    ).dropDuplicatesWithinWatermark(["url_hash", "url_canon"])


def run_frontier_ingest(
    spark: SparkSession,
    drop_dir: str,
    checkpoint_dir: str,
    frontier_table: SnapshotTable,
    robots: DataFrame,
    cap: int = 10_000,
    once: bool = True,
):
    """Start (and with once=True, run-to-drain) the streaming admission.

    Each micro-batch runs the batch admission operators against the current
    frontier snapshot and commits admitted rows — identical semantics to one
    plans.crawl admission step per micro-batch."""

    if not isinstance(checkpoint_dir, (str, os.PathLike)):
        raise TypeError(
            f"checkpoint_dir must be a path, got {type(checkpoint_dir).__name__}"
        )

    def admit_batch(batch: DataFrame, batch_id: int) -> None:
        from ..plans.crawl import FRONTIER_SCHEMA

        spark_b = batch.sparkSession
        frontier = frontier_table.read(spark_b)
        if frontier is None:
            frontier = spark_b.createDataFrame([], FRONTIER_SCHEMA)
        tagged, handles = FR.admission_round(
            FR.robots_gate(batch, robots), frontier, cap)
        try:
            new_rows = tagged.filter("admitted").select(
                "url_canon", "url_hash", "host", "is_root", "score",
                F.lit("PENDING").alias("status"),
                F.lit(int(batch_id)).cast("int").alias("round_added"),
                F.lit(None).cast("int").alias("round_fetched"),
                F.lit(None).cast("string").alias("title"),
            )
            frontier_table.commit(
                frontier.unionByName(new_rows), meta={"stream_batch": batch_id}
            )
        finally:
            for h in handles:
                h.unpersist()

    writer = (
        candidate_stream(spark, drop_dir)
        .writeStream.foreachBatch(admit_batch)
        .option("checkpointLocation", f"{checkpoint_dir}/_stream_ckpt")
        .outputMode("update")
    )
    if once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="30 seconds").start()


# ---------------------------------------------------------------------------
# custom stateful operator: per-host politeness budget across micro-batches
# ---------------------------------------------------------------------------

SCHEDULE_SCHEMA = ("host string, url_canon string, url_hash long, "
                   "is_root boolean, score double")
_STATE_SCHEMA = "spent long"


def stateful_politeness(cands: DataFrame, budgets: dict[str, int],
                        default_budget: int) -> DataFrame:
    """Streaming-native politeness: `applyInPandasWithState` keeps a per-host
    `spent` counter in the state store, so the budget is enforced across
    micro-batches (and across restarts — state lives in the checkpoint), not
    just within one batch like the windowed batch operator.

    Within a micro-batch the rows taken are the deterministic top of the
    engine's pinned total order (is_root desc, score desc, url_canon asc);
    across batches, earlier batches consume budget first (arrival order is
    the stream's order).

    Scale shape: grouped by host — a hot host's batch slice flows through
    ONE state task, but the output (and therefore any accumulation) is
    budget-bounded; the upstream per-batch volume is bounded by the
    dropDuplicates watermark state and source rate limits
    (maxFilesPerTrigger). Nothing here collects unbounded state: `spent` is
    one int64 per host."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupStateTimeout

    def take_within_budget(key, pdfs, state):
        host = key[0]
        spent = state.get[0] if state.exists else 0
        budget = budgets.get(host, default_budget)
        batch = pd.concat(list(pdfs), ignore_index=True)
        room = max(budget - spent, 0)
        if room and len(batch):
            batch = batch.sort_values(
                by=["is_root", "score", "url_canon"],
                ascending=[False, False, True],
                kind="mergesort",
            )
            taken = batch.iloc[:room]
        else:
            taken = batch.iloc[:0]
        state.update((int(spent + len(taken)),))
        yield taken[["host", "url_canon", "url_hash", "is_root", "score"]]

    return (
        cands.select("host", "url_canon", "url_hash", "is_root", "score")
        .groupBy("host")
        .applyInPandasWithState(
            take_within_budget,
            outputStructType=SCHEDULE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_polite_schedule(
    spark: SparkSession,
    drop_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    budgets: dict[str, int],
    default_budget: int = 100,
):
    """Drain the candidate stream through the stateful politeness operator
    into parquet. Budgets persist across invocations via the checkpoint's
    state store: re-running after new drops continues from `spent`, it does
    not reset."""
    if not isinstance(checkpoint_dir, (str, os.PathLike)):
        raise TypeError(
            f"checkpoint_dir must be a path, got {type(checkpoint_dir).__name__}"
        )
    sched = stateful_politeness(
        candidate_stream(spark, drop_dir), budgets, default_budget
    )
    q = (
        sched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{checkpoint_dir}/_polite_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
