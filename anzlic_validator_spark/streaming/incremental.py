"""Incremental validation: Structured Streaming over the same engine.

The reference is batch-only but incremental: new catalog records are
validated as they appear, history is kept, and completed work is never
redone (scripts/cache.py:95-102, scripts/resolve.py:150-187). Here a
file-source stream over the clips table runs the same rule catalog per
micro-batch through ``foreachBatch``: the same rule compilation, the same
violation rows.

Per-record rules evaluate identically per micro-batch. ``unique`` rules
get cross-batch state: every batch records its key set in the seen-keys
log (``{output}/_seen_keys``, a ``state_log`` root with one run per epoch),
and duplicates are detected both within the batch and against all prior
epochs by a join on the pruned key log. Table-global rules (``all_of`` on
scalars, ``drift``) are rejected up front: rescoping them to a micro-batch
would silently change their semantics, so they run in the batch sweep.

Sinks are idempotent per epoch: violations and verdicts are partitioned by
epoch and written with dynamic partition overwrite, and the seen-keys log
replaces its own unit for the epoch, so a micro-batch retried after a
failure rewrites its own output instead of appending twice. The three
sinks of an epoch are independent writes, so they run side by side
(``engine.side_by_side``, as ``run_validation``'s do); the seen-keys log is
pruned only after all three succeed.

``availableNow`` triggers make this a catch-up batch: process everything
new, then stop, the streaming twin of the updater's resumable sweep
(metadata_updater.py:364-465).
"""

from __future__ import annotations

import dataclasses
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anzlic_validator_spark.engine import side_by_side, table_global, validate
from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.operators.uniqueness import tuple_keys, violation_cols
from anzlic_validator_spark.rules import Rule, RuleCatalog
from anzlic_validator_spark.schema import CLIPS_SCHEMA
from anzlic_validator_spark.state_log import StateLog

_SEEN_SCHEMA = "rule_id string, k string, first_epoch long"


def _write_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Write ``df`` as the ``epoch`` partition of ``path``, replacing only
    that partition (dynamic partition overwrite, set on this write alone),
    so a retried epoch rewrites its own output."""
    (
        df.withColumn("epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(path)
    )


def validate_stream(
    spark: SparkSession,
    input_path: str,
    catalog: RuleCatalog,
    output_path: str,
    checkpoint_path: str,
    key_col: str = "clip_id",
    refs: dict[str, DataFrame] | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    seen_log_max_partitions: int = 16,
):
    """Validate a growing parquet directory incrementally.

    Returns the started StreamingQuery; violations/verdicts land under
    ``{output_path}/`` partitioned by epoch (idempotent per-epoch
    overwrite). Use ``q.awaitTermination()`` (availableNow) or ``q.stop()``.

    Each micro-batch runs the full catalog through ``validate()``, whose
    ``unique`` pass reports the batch's own duplicates (``count=``); the
    stream adds only the duplicates against prior epochs
    (``seen_in_epoch=``) and the epoch's write to the seen-keys log.

    An epoch writes its violations, its verdicts and its seen-keys unit
    side by side, one thread each; the threads keep the stream's job group
    and batch id. Violations and verdicts read the epoch's violation rows
    from one local checkpoint, computed before the writes start: over a
    cache, two writes started together would each run the job that fills
    it. Spark's context cleaner frees the checkpoint's blocks once the
    epoch's frames are garbage. A failed sink, or a checkpoint block lost
    with its executor, fails the epoch after the other sinks finish, and
    prunes nothing, so a restart from the checkpoint replays the epoch
    against the same log.

    Raises InvalidConfigException for table-global rules
    (``engine.table_global`` over ``CLIPS_SCHEMA``) BEFORE the stream
    starts.

    Seen-keys log folding: when ``StateLog.fold_due`` fires at
    ``seen_log_max_partitions``, the epoch's keys are written as a fold of
    the whole history (min first_epoch per key) instead of a run, and
    every epoch prunes below itself, so a retried epoch still finds every
    unit its first attempt read. Each batch thereby reads at most
    ``seen_log_max_partitions`` units (two when it is 1) however long the
    stream lives, and ``first_epoch`` reporting survives folding.
    """
    dtypes = {f.name: f.dataType.simpleString() for f in CLIPS_SCHEMA.fields}
    bad = [r.rule_id for r in catalog.rules if table_global(r, dtypes)]
    if bad:
        raise InvalidConfigException(
            f"rules {bad} are table-global; evaluating them per micro-batch would "
            "silently change their semantics — run them in the batch sweep (run.py), "
            "which routes them to the reserved bucket over the full input"
        )
    unique_rules = [r for r in catalog.rules if r.type == "unique"]
    seen_path = f"{output_path}/_seen_keys"

    reader = spark.readStream.schema(CLIPS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        result = validate(batch_df, catalog, key_col=key_col, refs=refs)
        ranked = result.violations_ranked
        seen_parts = []
        seen = StateLog(seen_path, s) if unique_rules else None
        # units below the current epoch: a retried epoch never collides
        # with its own first attempt
        inputs = seen.live_inputs(epoch_id) if seen else []
        prior = s.read.schema(_SEEN_SCHEMA).parquet(*inputs) if inputs else None
        for rule in unique_rules:
            bk = tuple_keys(batch_df, rule, key_col)
            if prior is not None:
                # cross-batch duplicates: batch keys seen in ANY prior epoch.
                # The log is (rule_id, key tuple, first_epoch): scalars only.
                hits = (
                    bk.join(
                        prior.where(F.col("rule_id") == rule.rule_id).select(
                            "k", "first_epoch"
                        ),
                        on="k",
                    )
                    .groupBy("key", "k")
                    # min: a key seen in several epochs has a row in each
                    # of their units
                    .agg(F.min("first_epoch").alias("first_epoch"))
                )
                ranked = ranked.unionByName(
                    hits.selectExpr(
                        *violation_cols(
                            rule, "key", "concat('seen_in_epoch=', CAST(first_epoch AS STRING))"
                        )
                    )
                )
            seen_parts.append(
                bk.select(F.lit(rule.rule_id).alias("rule_id"), F.col("k")).distinct()
            )
        full = dataclasses.replace(result, violations_ranked=ranked.localCheckpoint())
        sinks = [
            lambda: _write_epoch(full.violations, epoch_id, f"{output_path}/violations"),
            lambda: _write_epoch(full.verdicts, epoch_id, f"{output_path}/verdicts"),
        ]
        if seen_parts:
            new_keys = reduce(DataFrame.unionByName, seen_parts).withColumn(
                "first_epoch", F.lit(epoch_id).cast("long")
            )
            if seen.fold_due(epoch_id, seen_log_max_partitions):
                # the fold absorbs this epoch's keys in the same write
                folded = (
                    prior.unionByName(new_keys)
                    .groupBy("rule_id", "k")
                    .agg(F.min("first_epoch").alias("first_epoch"))
                )
                sinks.append(lambda: seen.fold(epoch_id, folded.write.mode("overwrite").parquet))
            else:
                sinks.append(
                    lambda: seen.commit(epoch_id, new_keys.write.mode("overwrite").parquet)
                )
        side_by_side(s, sinks)
        if seen_parts:
            # only once every sink wrote: deletes what an earlier epoch's
            # fold superseded, never what this epoch's own fold did (retry
            # safety)
            seen.prune(epoch_id)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    spark: SparkSession,
    input_path: str,
    schema,
    store_dir: str,
    output_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    **minhash_params,
):
    """Streaming near-duplicate detection over a growing parquet corpus:
    the incremental fingerprint store (operators/dedup_state.py) driven by
    ``foreachBatch``. Each micro-batch fingerprints only its own rows,
    pairs them against the persisted store (new-vs-all-history and
    new-vs-new), commits its signatures and writes the pairs
    epoch-partitioned.

    Exactly-once-effective under at-least-once foreachBatch, twice over:
    the store commit is keyed by epoch (``run_id=epoch`` replaces the
    retried attempt's own run and pairs only against strictly-older runs),
    and the pair sink is the same dynamic-partition-overwrite epoch layout
    as validate_stream's sinks. ``minhash_params`` forward to
    ``incremental_minhash_pairs`` (threshold, bands, agreement...).

    The store folds on ``state_log``'s one trigger at the start of an
    epoch, up to the previous epoch, so the current epoch stays retryable
    and every batch scans at most ``state_log.FOLD_AT`` store dirs however
    long the stream lives. Each epoch writes its pairs before the next
    epoch's fold can delete what they read.

    Returns the started StreamingQuery; pairs land at
    ``{output_path}/pairs`` as (a_id, b_id, sig_sim, epoch).
    """
    from anzlic_validator_spark.operators.dedup_state import incremental_minhash_pairs

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        pairs = incremental_minhash_pairs(
            batch_df, store_dir, text_col, id_col, run_id=int(epoch_id), **minhash_params
        )
        _write_epoch(pairs, epoch_id, f"{output_path}/pairs")

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_unique_stream(
    stream: DataFrame, rule: Rule, key_col: str = "clip_id"
) -> DataFrame:
    """TRUE streaming cross-batch uniqueness: per-tuple-key counts live in
    Structured Streaming's checkpointed state store (RocksDB/HDFS-backed on
    a cluster) via ``applyInPandasWithState`` — the state-store alternative
    to ``validate_stream``'s seen-keys log. The log re-reads up to
    ``seen_log_max_partitions`` units every micro-batch; the state store
    touches only the keys PRESENT in the batch and checkpoints
    incrementally, which is the scale-safe shape for unbounded streams.

    Returns a STREAMING violation DataFrame (append mode): the first
    occurrence of a tuple passes; every later occurrence — same batch or
    any later one — emits (key, rule_id, observed=n_prior=<count>,
    expected, rule_order). Tuples containing NULLs are skipped, matching
    the batch path. Compose with ``.writeStream`` and a checkpoint; a
    restart resumes the counts exactly.

    Reference analog: the fetch-history pickle consulted per record
    (resolve.py:150-187), as per-key state instead of a scanned log.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


    def track(tuple_key, pdfs, state: GroupState):
        n_prior = state.get[0] if state.exists else 0
        keys, counts = [], []
        for pdf in pdfs:
            for key in pdf["key"]:
                if n_prior > 0:
                    keys.append(key)
                    counts.append(n_prior)
                n_prior += 1
        state.update((n_prior,))
        if keys:
            yield pd.DataFrame({"key": keys, "n_prior": counts})

    return tuple_keys(stream, rule, key_col).groupBy("k").applyInPandasWithState(
        track,
        outputStructType="key string, n_prior long",
        stateStructType="n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ).selectExpr(*violation_cols(rule, "key", "concat('n_prior=', CAST(n_prior AS STRING))"))


def violation_rate_stream(
    events: DataFrame,
    ts_col: str,
    predicate,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed violation-rate aggregation for a streaming events source —
    the monitoring analog of the reference's per-sweep tallies (A3/A5):
    late data handled by watermark, rate = violations / rows per window.
    """
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    flag = F.when(predicate, F.lit(1)).otherwise(F.lit(0))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(flag).alias("violations"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "rows",
            "violations",
            (F.col("violations") / F.col("rows")).alias("violation_rate"),
        )
    )
