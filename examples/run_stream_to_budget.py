"""Live-crawl curation split end-to-end: STREAM the per-row filters,
BATCH the corpus-global token budget — the production pattern for a
crawler that lands document batches continuously.

  landing dir --(readStream)--> document micro-batches
     --(stream_crawl_curation: robots -> blocklist -> quality cascade
        -> content dedup, watermark-bounded state)--> curated stream
     --(curate_stream_to_store: availableNow, checkpointed)--> durable
        parquet store (re-running drains only NEW landings)
     --(token_budget_post_pass: cap_tokens_per_group)--> per-lang
        token-budgeted training mix

Why the split: every stage the stream runs is a row-local projection
or a stream-static join — legal and cheap per micro-batch at any
scale. The token budget is a corpus-GLOBAL ordered prefix sum (keep
docs until each language's cumulative tokens hit the budget); it
needs the whole curated corpus, so it runs as a batch post-pass over
the store, on whatever cadence the training-mix refresh wants. The
equality of this composition with the graded single-batch pipeline
(`crawl_pipeline_q`) is pinned by `tests/test_streaming_semantics.py::
test_stream_store_token_budget_matches_batch`.

Usage: python examples/run_stream_to_budget.py [sf_dir] [work_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark import get_spark
from udacity_data_engineering_capstone_project_spark.functions.robots import (
    robots_rules_df,
)
from udacity_data_engineering_capstone_project_spark.plans.queries_crawl import (
    CRAWL_BLOCKLIST_PHRASES,
    _ROBOTS_TXT,
    crawl_cascade_rules,
    crawl_pipeline_intake,
)
from udacity_data_engineering_capstone_project_spark.streaming.crawl import (
    curate_stream_to_store,
    stream_crawl_curation,
    token_budget_post_pass,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="stream_budget_")
    landing, store, ckpt = (
        os.path.join(work, d) for d in ("landing", "curated_store", "ckpt")
    )

    spark = get_spark(app_name="stream-to-budget")
    spark.sparkContext.setLogLevel("ERROR")

    # --- simulate a crawler landing three batches (with a fetch time) ---
    intake = crawl_pipeline_intake(spark, sf_dir).withColumn(
        "fetched_at",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") % 86400),
    )
    for i in range(3):
        intake.filter(F.col("doc_id") % 3 == i).write.parquet(
            os.path.join(landing, f"batch_{i}")
        )
    print(f"landed {intake.count()} docs in 3 batches under {landing}")

    # --- live half: stream-curate into the durable store ---
    stream = (
        spark.readStream.schema(intake.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    curated = stream_crawl_curation(
        stream,
        robots_rules_df(spark, sorted(_ROBOTS_TXT.items())),
        CRAWL_BLOCKLIST_PHRASES,
        crawl_cascade_rules(),
        # bound dedup state on the long-running deployment: content
        # replays arriving >24h after the first fetch re-enter and are
        # merged by the next batch compaction instead
        dedup_watermark=("fetched_at", "24 hours"),
    )
    curate_stream_to_store(curated, store, ckpt)
    n_curated = spark.read.parquet(store).count()
    print(f"curated store: {n_curated} docs at {store}")

    # --- batch half: spend the per-language token budget ---
    mix = token_budget_post_pass(
        spark, store, group_cols=("lang",), weight_col="n_chars", budget=2000
    )
    mix.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum("n_chars").alias("chars_spent"),
    ).orderBy("lang").show()

    # --- the split is incremental: a re-drain with nothing new landed
    # appends nothing (checkpoint-tracked) ---
    curate_stream_to_store(curated, store, ckpt)
    assert spark.read.parquet(store).count() == n_curated
    print("re-drain with no new landings appended 0 rows (checkpointed)")

    spark.stop()


if __name__ == "__main__":
    main()
