"""Streaming document ingest — incremental corpus cleaning.

Documents arriving as a stream are exact-deduplicated against
everything already accepted, annotated (language, quality), gated, and
appended to a survivors table — the streaming form of
``operators/corpus.py::corpus_clean``'s exact-dedup + gating stages.

Spark shape: ``readStream`` → ``foreachBatch``. Cross-batch dedup
state is the survivors sink itself (an anti-join on ``text_hash``
against the accepted table), NOT Structured Streaming's in-memory
``dropDuplicates`` state: the key space of a 100 TB corpus is
unbounded, while the sink anti-join stays an equi-join Catalyst can
shuffle-partition — and at scale the survivors table is bucketed by
``text_hash`` so each micro-batch probes only matching buckets.

Near-dup (MinHash) removal is deliberately NOT per-batch work: its
cross-batch form is the periodic ``compact_near_dups`` job below — a
MinHash/LSH pass (operators/dedup.py) over the accepted table that
drops the non-canonical side of every verified pair, amortizing the
banding cost over many micro-batches instead of paying it per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from graph500_spark.operators import corpus as corpus_mod
from graph500_spark.operators import text as tx
from graph500_spark.functions.plantrunc import truncate_plan_lazy
from graph500_spark.functions.sizing import fits

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of document parquet files dropped in `path`
    (stand-in for Kafka; the downstream plan is identical).
    ``max_files_per_trigger`` bounds each micro-batch — with
    availableNow this splits a backlog into real sequenced batches
    instead of one catch-all batch."""
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _clean_batch(
    batch: DataFrame,
    accepted: DataFrame | None,
    min_quality: float,
    n_accepted: int | None = None,
) -> DataFrame:
    # NOTE (measured, then reverted): a width guard here — repartition a
    # narrow batch up to defaultParallelism before the per-row
    # annotation — won its same-session A/B cold (15.6s vs 24.8s) but
    # LOST in the full bench by the repo's trio rule: corpus-stream
    # task_total 13-15s -> 77-86s and task_cpu 12.6-14.5s -> 45.6-48.8s
    # across two runs, with NO wall-rate gain (3.3-4.2k docs/s in every
    # run, before and after). The repartition re-introduces a payload
    # exchange of the text bytes — the exact shape the proxy dedup below
    # removed (guide §8). At 100 TB a batch arrives with >= parallelism
    # input splits, so scan parallelism is not the constraint there
    # either; the narrow-batch wall cost is a local-trigger artifact.
    hashed = batch.withColumn(
        "text_hash", F.expr(tx.spark_strhash("text")).cast("long")
    )
    # within-batch exact dedup: canonical = min doc_id per text_hash.
    # The decision runs on (text_hash, doc_id) PROXY rows only — the
    # old window shape shuffled every batch row INCLUDING the text
    # payload; here only 16-byte pairs cross the exchange and the
    # winner set re-attaches via a join AQE broadcasts when small
    # (guide §8: decide with small rows, move heavy bytes never).
    min_ids = (
        hashed.select("text_hash", "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    survivors = hashed.join(min_ids, ["text_hash", "doc_id"], "left_semi")
    # cross-batch exact dedup against the accepted-hash state; the
    # carried leaf has no stats, so the driver-tracked count injects
    # the broadcast hint while the hash set fits (at corpus scale the
    # anti-join degrades to the bucketed shuffle join as documented)
    if accepted is not None:
        acc = accepted.select("text_hash")
        if n_accepted is not None and fits(n_accepted):
            acc = F.broadcast(acc)
        survivors = survivors.join(acc, "text_hash", "left_anti")
    # annotate + gate in ONE projection (language_id and text_quality
    # are pure Column algebra — joining them back by doc_id, as the
    # batch operators compose, would cost two more shuffles per
    # micro-batch for codegen-able expressions)
    return (
        tx.annotate_quality_lang(survivors)
        .filter(
            (F.col("quality_score") >= min_quality)
            & (F.col("lang_pred") != "und")
        )
        .select(
            "doc_id", "text_hash", "lang_pred", "quality_score", "n_tokens"
        )
    )


def start_corpus_ingest(
    spark: SparkSession,
    source_path: str,
    accepted_out: str,
    checkpoint: str,
    min_quality: float = corpus_mod.MIN_QUALITY,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Run the incremental cleaner. Returns the StreamingQuery; callers
    drive it with availableNow + awaitTermination. Batch appends are
    idempotent at read time via ``read_corpus``'s doc_id guard (a
    transactional table format would make them atomic)."""

    # Cross-batch dedup state: the accepted HASH SET, seeded from the
    # sink once at (re)start and carried across micro-batches as a
    # persisted DataFrame — not re-read from parquet every batch (the
    # old shape paid file listing + footer reads against an
    # ever-growing pile of appended files per batch). State is hashes
    # only (8 bytes/doc distributed), union-appended and re-persisted
    # each batch; the materialized persist bounds lineage depth. On
    # restart the seed rebuild from the sink is the recovery path, so
    # crash-consistency is unchanged.
    state: dict = {"accepted": None, "seeded": False, "n": 0}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_s = batch_df.sparkSession
        if not state["seeded"]:
            try:
                seed = (
                    spark_s.read.parquet(accepted_out)
                    .select("text_hash")
                    .persist()
                )
                state["n"] = seed.count()  # materialize once per (re)start
                state["accepted"] = seed
            except Exception:
                state["accepted"] = None
            state["seeded"] = True
        out = _clean_batch(
            batch_df, state["accepted"], min_quality, n_accepted=state["n"]
        )
        new_hashes = out.persist()
        # the sink write is the materializing action; the state union
        # below reads the cache, so the batch computes exactly once
        new_hashes.write.mode("append").parquet(accepted_out)
        prev = state["accepted"]
        # localCheckpoint rather than persist: truncates the per-batch
        # union lineage so plan size stays O(1) over a long stream;
        # losing an executor costs a rebuild from the sink (the
        # recovery path that exists anyway), not correctness. LAZY
        # (round 13): the next batch's anti-join broadcast build
        # materializes it — one fewer standalone job per micro-batch
        # (per-batch driver fixed costs are the measured wall floor).
        grown = (
            new_hashes.select("text_hash")
            if prev is None
            else prev.union(new_hashes.select("text_hash"))
        ).transform(truncate_plan_lazy)
        # ONE job: materializes the lazy checkpoint AND reads the new
        # state total (batch hashes are distinct and anti-joined
        # against prev, so |grown| = |prev| + |new|) — the old shape
        # paid a checkpoint job plus a separate count. Counting BEFORE
        # the unpersists below also pins correctness: grown's lineage
        # reads the new_hashes cache, which must not be dropped until
        # the checkpoint holds the rows.
        state["n"] = grown.count()
        if prev is not None:
            prev.unpersist()
        new_hashes.unpersist()
        state["accepted"] = grown

    return (
        document_stream(spark, source_path, max_files_per_trigger)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_corpus(spark: SparkSession, accepted_out: str) -> DataFrame:
    """The accepted corpus as of now (batch-retry guard: keep one row
    per doc_id)."""
    return spark.read.parquet(accepted_out).dropDuplicates(["doc_id"])


def compact_near_dups(
    spark: SparkSession,
    accepted_out: str,
    doc_store: DataFrame,
    jaccard_threshold: float | None = None,
) -> int:
    """The periodic NEAR-DUP compaction pass over the accepted table —
    the cross-batch form of MinHash dedup this module's header
    promises: per-batch ingest handles exact duplicates (sink
    anti-join), and this job periodically removes near-duplicates
    AMONG the accepted survivors, keeping the canonical (min doc_id)
    of each verified pair. Returns the surviving row count.

    ``doc_store`` is the full document store (the sink keeps only
    hashes + annotations, not text — at 100 TB the text lives in the
    corpus store and this job joins it back by doc_id). The rewrite
    materializes before overwriting, same as the ingest degree sink;
    a transactional table format would make it atomic. Library caches
    populated by the dedup pass are released before returning (this
    is a terminal job, not a lazy plan, so the compute is already
    done)."""
    from graph500_spark.operators import dedup as dd

    kwargs = {} if jaccard_threshold is None else {
        "threshold": jaccard_threshold
    }
    accepted = read_corpus(spark, accepted_out)
    texts = doc_store.select("doc_id", "text").join(
        accepted.select("doc_id"), "doc_id"
    )
    dropped = (
        dd.minhash_near_duplicates(texts, **kwargs)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = accepted.join(dropped, "doc_id", "left_anti").cache()
    n = kept.count()
    kept.write.mode("overwrite").parquet(accepted_out)
    kept.unpersist()
    dd.release_caches()
    return n
