"""Cross-run incremental dedup state: a persisted fingerprint store, so
run N+1 fingerprints only its new rows and pairs them against the existing
corpus. It is the manifest-resume idea (the reference's fetch-history
merge, scripts/resolve.py:150-187) applied to the dedup family.

The store keeps (id, minhash signature) rows, about 500 bytes per row and
no payload. An incremental pass:

1. computes signatures for the new batch only. The API takes only new
   rows, so old text is never an input and cannot be re-fingerprinted;
2. emits near-dup pairs (new-vs-old and new-vs-new; old-vs-old pairs were
   reported by the runs that introduced them) through an asymmetric LSH
   band-key join: new-batch band rows against (store ∪ new) band rows, so
   Spark can broadcast the small new side against the large store;
3. verifies candidates without decoding, by signature agreement (the
   fraction of equal minhash components, an unbiased Jaccard estimator).
   The store holds no shingles; callers wanting exact verify re-join texts
   for the emitted pair ids only;
4. commits the new signatures as one run through ``state_log``, so a
   crashed run never half-poisons the store. The commit write is also the
   signatures' single materialization: the pair plan reads them back.

The layout is ``state_log``'s: ``meta.json`` pins the signature parameters
(num_hashes, n_bands, shingle_k, or a store kind), ``run_NNNNN`` holds
each committed batch, and ``fold_NNNNN/_FOLDED`` the runs ``compact_store``
merged. Every open checks ``meta.json``: signatures computed under other
parameters would silently break agreement estimates, so a mismatch raises.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anzlic_validator_spark.operators.dedup import (
    band_keys,
    minhash_sig_array,
    word_shingles_from_tokens,
)
from anzlic_validator_spark.state_log import StateLog

log = logging.getLogger(__name__)


def _store_meta(num_hashes: int, n_bands: int, shingle_k: int) -> dict:
    return {"num_hashes": num_hashes, "n_bands": n_bands, "shingle_k": shingle_k}


def _check_meta(store: StateLog, meta: dict, create: bool) -> None:
    """Validate the store's parameter metadata, or pin it on the first
    commit: signatures computed under different parameters must never
    silently mix."""
    existing = store.read_json("meta.json")
    if existing is None:
        if create:  # a commit=False what-if probe writes nothing at all
            store.write_json("meta.json", meta)
    elif existing != meta:
        raise ValueError(
            f"fingerprint store {store.root} was built with {existing}, "
            f"incompatible with requested {meta}"
        )


def store_live_inputs(
    store_dir: str, before_run_id: int | None = None
) -> tuple[list[str], int]:
    """→ (dirs holding the store's live fingerprint rows, next auto run
    id). Live = the newest valid fold plus the runs after its coverage.

    ``before_run_id`` restricts to rows from runs strictly older (the
    retry semantics of an epoch-keyed caller) and raises if that horizon
    reaches into a fold: a retry of a folded run cannot be served exactly,
    as its rows are merged. Compact only quiescent stores, or pass
    ``up_to`` below the oldest retryable run to ``compact_store``."""
    store = StateLog(store_dir)
    if before_run_id is not None:
        store.check_horizon(before_run_id)
    return store.live_inputs(before_run_id), store.next_id()


def compact_store(spark: SparkSession, store_dir: str, up_to: int | None = None) -> str | None:
    """Fold the store's live runs into one dir and delete what the fold
    supersedes: a long-lived store otherwise accumulates one parquet dir
    per batch, and every incremental run pays an ever-growing scan.
    ``state_log`` makes the fold crash-safe.

    ``up_to``: fold only runs with id <= up_to (an epoch-keyed caller
    passes current_epoch - 1 so its own epoch stays retryable). Full-row
    duplicates across runs collapse in the fold. Returns the fold path, or
    None when no run is left to fold; a single live run does fold."""
    store = StateLog(store_dir, spark)
    covers = store.newest_fold()
    runs = [
        i for i in store.runs()
        if (covers is None or i > covers) and (up_to is None or i <= up_to)
    ]
    final = None
    if runs:
        inputs = store.live_inputs(before=runs[-1] + 1)
        final = store.fold(
            runs[-1],
            lambda tmp: spark.read.parquet(*inputs).dropDuplicates().write.mode("overwrite").parquet(tmp),
        )
    store.prune()  # also finishes the prune of a fold published before a crash
    return final


def incremental_fingerprints(
    new_df: DataFrame,
    store_dir: str,
    meta: dict,
    fingerprint_fn,
    commit: bool,
    run_id: int | None,
    persist_new: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Shared scaffold of every incremental-store operator (text minhash,
    audio content, audio perceptual, embedding): meta guard → fold-aware
    live inputs → fingerprint only the new batch → commit (or persist for
    a what-if probe) → union with the stored corpus. Returns
    ``(new_fps, all_fps)``; ``fingerprint_fn`` maps the new batch to its
    store-row DataFrame.

    ``run_id``: None appends the next run. An explicit id replaces that
    run and pairs only against runs before it, so a retried batch
    reproduces its first attempt.

    ``persist_new`` applies to the ``commit=False`` what-if path only (a
    commit's parquet write is the materialization): the new batch's
    fingerprints are persisted because bucketing and both verify-join
    sides consume them. The handle is internal, so repeated what-if probes
    in a long-lived session accumulate cached blocks until ContextCleaner
    runs; such callers should pass ``persist_new=False`` (recompute per
    consumer) or ``spark.catalog.clearCache()`` after consuming, the
    minhash_near_duplicates ``persist_shingles`` ownership contract."""
    spark = new_df.sparkSession
    store = StateLog(store_dir, spark)
    _check_meta(store, meta, create=commit)
    if run_id is not None:
        store.check_horizon(run_id)
    prior = store.live_inputs(run_id)
    new_fps = fingerprint_fn(new_df)
    if commit:
        # the commit write doubles as the batch's single fingerprint
        # materialization; the pair plan reads it back from parquet
        fps = new_fps
        path = store.commit(
            store.next_id() if run_id is None else run_id,
            lambda tmp: fps.write.mode("overwrite").parquet(tmp),
        )
        new_fps = spark.read.parquet(path)
    elif persist_new:
        from pyspark import StorageLevel

        new_fps = new_fps.persist(StorageLevel.MEMORY_AND_DISK)
    all_fps = (
        spark.read.parquet(*prior).unionByName(new_fps) if prior else new_fps
    )
    return new_fps, all_fps


def _hot_bucket_message(what: str, n_buckets: int, cap: int, n_rows: int) -> str:
    return (
        f"{what}: dropped {n_buckets} hot buckets (> {cap} carriers across "
        f"store+batch among batch-touched buckets, {n_rows} bucket-rows) "
        "from candidate generation — pairs supported only by those buckets "
        "are not reported (ADVISORY count: retries/speculation inflate it)"
    )


def exclude_hot_buckets(
    nb: DataFrame,
    ab: DataFrame,
    keys: list[str],
    cap: int | None,
    what: str,
    restrict_touched: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Shared hot-bucket handling for the incremental candidate joins
    (text minhash bands, audio halves, embedding SRP buckets): FIRST
    restrict the store side to buckets TOUCHED by the new batch (left-semi
    against the batch's distinct key set — small and broadcastable), so
    both the census and the candidate join scan O(rows in touched
    buckets), never the whole store; THEN drop touched buckets with more
    than ``cap`` carriers via the ONE hot-bucket pattern shared with the
    batch LSH caps (``dedup.drop_hot_buckets``): a map-side-combined count
    aggregate + pinned broadcast anti-join, with the lazy advisory
    accumulator census, so no eager job runs at plan-construction time.

    Only ``ab`` is filtered: every candidate join downstream is an INNER
    join on ``keys``, so dropping the store/batch side's hot rows already
    removes every pair a hot bucket would have generated. ``nb`` is
    returned unchanged.

    ``restrict_touched=False`` skips the semi-restriction when the caller
    knows ``ab`` and ``nb`` derive from the SAME batch (an empty store —
    every first run): every ab bucket is then touched by construction and
    the semi-join would only add plan weight. Callers detect it as
    ``all_fps is new_fps`` (incremental_fingerprints returns the identical
    object when there are no prior runs)."""
    from anzlic_validator_spark.operators.dedup import drop_hot_buckets

    if restrict_touched:
        touched = nb.select(*keys).distinct()
        ab = ab.join(F.broadcast(touched), keys, "left_semi")
    if cap is None:
        return nb, ab
    return nb, drop_hot_buckets(ab, keys, int(cap), what, _hot_bucket_message)


def minhash_sigs(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 63, shingle_k: int = 3
) -> DataFrame:
    """(id, sig array<long>) minhash signatures — the store row format.
    Pure Catalyst, zero shuffle (tokens materialized first: the no-CSE
    rule)."""
    base = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__toks")
    ).select("id", word_shingles_from_tokens(F.col("__toks"), shingle_k).alias("__sh"))
    return base.select(
        "id", minhash_sig_array(F.col("__sh"), num_hashes).alias("sig")
    )


def _band_rows(sigs: DataFrame, num_hashes: int, n_bands: int) -> DataFrame:
    """(id, band, bh): one row per LSH band, key = xxhash64 of the band's
    signature slice — derived from the STORED sig array, so old rows bucket
    without touching their text. Band keys via the shared nested-transform
    expression (dedup.band_keys — one expression, not n_bands structs)."""
    return sigs.select(
        "id", F.explode(band_keys(F.col("sig"), num_hashes, n_bands)).alias("bb")
    ).select("id", "bb.band", "bb.bh")


def sig_agreement(a, b, num_hashes: int):
    """Fraction of equal minhash components — the unbiased Jaccard
    estimator (Broder); ~N(j, j(1-j)/num_hashes) concentration."""
    eq = F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v))
    return eq.cast("double") / F.lit(float(num_hashes))


def incremental_minhash_pairs(
    new_docs: DataFrame,
    store_dir: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 63,
    n_bands: int = 21,
    shingle_k: int = 3,
    min_agreement: float = 0.9,
    max_bucket_size: int | None = 10_000,
    commit: bool = True,
    run_id: int | None = None,
    persist_new: bool = True,
) -> DataFrame:
    """One incremental dedup step → (a_id, b_id, sig_sim) near-dup pairs
    involving AT LEAST ONE new row (a_id < b_id, sig_sim = signature
    agreement >= min_agreement, rounded to 4 decimals).

    EAGER by design (unlike the corpus-pass operators): committing the
    batch and computing its pairs are one transaction-ish step, and the
    commit write doubles as the signatures' single materialization. With
    ``commit=False`` (a what-if probe) nothing is written and the new
    signatures are computed in-plan instead.

    ``run_id``: None (default) appends the next run. An EXPLICIT id makes
    the step IDEMPOTENT under retry — the commit replaces run_<id> and the
    pairing considers only runs strictly BEFORE it as "old", so an
    at-least-once caller (streaming foreachBatch keyed by epoch) re-running
    a batch reproduces the same pairs instead of self-matching its own
    earlier attempt. Ids must be committed in increasing order.

    ID CONTRACT: ids must be unique across the store's whole history
    (outside the run_id retry mechanism, which replaces its own run). A
    re-ingested id would carry several sig rows through the verify joins
    and emit duplicate — or, with changed text, conflicting — pairs; the
    store is payload-free, so it cannot detect this itself.

    ``max_bucket_size``: the band join is routed through
    ``exclude_hot_buckets`` — the store side is first semi-restricted to
    bands the batch touches, then bands with more than this many carriers
    drop with the logged census. A boilerplate band key shared by 10^9
    stored docs (the near-empty-doc/template band) otherwise turns one new
    row into 10^9 candidate rows — the exact degeneracy the batch
    ``lsh_candidate_pairs`` caps. ``None`` disables (small corpora /
    exact-oracle runs only).

    Scale shape: signatures for the new batch only (no shuffle); ONE
    band-key join of new-batch band rows (21x batch) against the
    batch-touched, hot-capped slice of (store ∪ batch) band rows —
    broadcastable new side against a 10^12-row store; verify joins are
    PINNED broadcast-hash with the candidate side as build (AQE
    falling back to sort-merge would shuffle the whole (id, sig) store
    twice), so the store side streams through two scans and never
    shuffles. The store read is a parquet scan of (id, sig) — document
    payloads are never stored, never read, never shuffled.
    """
    if num_hashes % n_bands != 0:
        raise ValueError(f"n_bands {n_bands} must divide num_hashes {num_hashes}")
    new_sigs, all_sigs = incremental_fingerprints(
        new_docs,
        store_dir,
        _store_meta(num_hashes, n_bands, shingle_k),
        lambda df: minhash_sigs(df, text_col, id_col, num_hashes, shingle_k),
        commit,
        run_id,
        persist_new,
    )

    nb = _band_rows(new_sigs, num_hashes, n_bands).withColumnRenamed("id", "n_id")
    ab = _band_rows(all_sigs, num_hashes, n_bands).withColumnRenamed("id", "o_id")
    nb, ab = exclude_hot_buckets(
        nb, ab, ["band", "bh"], max_bucket_size, "incremental_minhash_pairs",
        restrict_touched=all_sigs is not new_sigs,
    )
    cand = (
        nb.join(ab, ["band", "bh"])
        .where(F.col("n_id") != F.col("o_id"))
        .select(
            F.least("n_id", "o_id").alias("a_id"),
            F.greatest("n_id", "o_id").alias("b_id"),
        )
        .distinct()
    )
    sv = all_sigs.select(F.col("id"), F.col("sig"))
    # candidate side pinned as the broadcast build of BOTH verify joins:
    # the store sig table only ever streams (join 1's output is again
    # candidate-bounded, so re-broadcasting it is bounded too)
    j1 = F.broadcast(cand).join(
        sv.select(F.col("id").alias("a_id"), F.col("sig").alias("__sa")), "a_id"
    )
    verified = (
        F.broadcast(j1)
        .join(sv.select(F.col("id").alias("b_id"), F.col("sig").alias("__sb")), "b_id")
        .withColumn(
            "sig_sim", sig_agreement(F.col("__sa"), F.col("__sb"), num_hashes)
        )
        .where(F.col("sig_sim") >= F.lit(float(min_agreement)))
    )
    return verified.select("a_id", "b_id", F.round("sig_sim", 4).alias("sig_sim"))
