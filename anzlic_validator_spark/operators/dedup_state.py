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
(num_hashes, n_bands, shingle_k, or a store kind) and the schema of the
stored rows, ``run_NNNNN`` holds each committed batch, and
``fold_NNNNN/_FOLDED`` the runs a fold merged: a committing call folds on
``StateLog.fold_due``, ``compact_store`` on demand. Every open checks
``meta.json``: signatures computed under other parameters would silently
break agreement estimates, so a mismatch raises.
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from anzlic_validator_spark.operators.dedup import (
    band_keys,
    drop_hot_buckets,
    minhash_sig_array,
    verify_pairs,
    word_shingles_from_tokens,
)
from anzlic_validator_spark.sources.tables import spread_rows
from anzlic_validator_spark.state_log import StateLog

log = logging.getLogger(__name__)

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")  # narrowest first


def _store_meta(num_hashes: int, n_bands: int, shingle_k: int) -> dict:
    return {"num_hashes": num_hashes, "n_bands": n_bands, "shingle_k": shingle_k}


def _check_meta(
    spark: SparkSession, store: StateLog, meta: dict, schema: StructType, create: bool
) -> StructType:
    """Validate the store's parameter metadata, or pin it on the first
    commit: signatures computed under different parameters must never
    silently mix. The pin also holds the schema of the store's rows (on
    the first commit ``schema``, the batch's fingerprint schema), which
    this returns. A store written before schemas were pinned infers it
    from its rows, and pins it on its next commit."""
    existing = store.read_json("meta.json")
    pinned = existing.pop("schema", None) if existing else None
    if existing is not None and existing != meta:
        raise ValueError(
            f"fingerprint store {store.root} was built with {existing}, "
            f"incompatible with requested {meta}"
        )
    if pinned is not None:
        return StructType.fromJson(pinned)
    live = store.live_inputs()
    if live:
        schema = spark.read.parquet(*live).schema
    if create:  # a commit=False what-if probe writes nothing at all
        store.write_json("meta.json", {**meta, "schema": schema.jsonValue()})
    return schema


def _pinned_schema(store: StateLog) -> StructType | None:
    """The schema ``meta.json`` pins for the store's rows; None for a store
    written before schemas were pinned, whose reads infer it."""
    pinned = (store.read_json("meta.json") or {}).get("schema")
    return None if pinned is None else StructType.fromJson(pinned)


def store_live_inputs(
    store_dir: str, before_run_id: int | None = None
) -> tuple[list[str], int]:
    """→ (dirs holding the store's live fingerprint rows, next auto run
    id). Live = the newest valid fold plus the runs after its coverage.

    ``before_run_id`` restricts to rows from runs strictly older (the
    retry semantics of an epoch-keyed caller) and raises if that horizon
    reaches into a fold: a retry of a folded run cannot be served exactly,
    as its rows are merged."""
    store = StateLog(store_dir)
    if before_run_id is not None:
        store.check_horizon(before_run_id)
    return store.live_inputs(before_run_id), store.next_id()


def _conform(fps: DataFrame, schema: StructType, root: str) -> DataFrame:
    """``fps`` in the store's ``schema``. An integral column narrower than
    the store's (an int id into a bigint store) is widened; any other
    difference raises, as a cast could change ids."""
    have = {f.name: f.dataType.simpleString() for f in fps.schema}
    want = {f.name: f.dataType.simpleString() for f in schema}
    if have == want:
        return fps

    def widens(a: str, b: str) -> bool:
        return a in _INTEGRAL and b in _INTEGRAL and _INTEGRAL.index(a) <= _INTEGRAL.index(b)

    fits = have.keys() == want.keys() and all(
        t == want[c] or widens(t, want[c]) for c, t in have.items()
    )
    if not fits:
        raise ValueError(f"fingerprint store {root} holds rows of {want}; this batch's are {have}")
    return fps.select(*(F.col(f.name).cast(f.dataType) for f in schema))


def _read(spark: SparkSession, paths: list[str], schema: StructType | None) -> DataFrame:
    """The store rows under ``paths``. Given the store's ``schema``, the
    read plans without parquet's schema-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def _fold(
    spark: SparkSession, store: StateLog, covers: int, schema: StructType | None
) -> str:
    """Fold every live unit up to ``covers`` into ``fold_<covers>``;
    full-row duplicates across units collapse."""
    merged = _read(spark, store.live_inputs(before=covers + 1), schema).dropDuplicates()
    return store.fold(covers, lambda tmp: merged.write.mode("overwrite").parquet(tmp))


def compact_store(spark: SparkSession, store_dir: str, up_to: int | None = None) -> str | None:
    """Fold the store's live runs into one dir now, below the trigger
    committing calls fold on, and delete what the fold supersedes.

    ``up_to``: fold only runs with id <= up_to, so later runs stay
    individually retryable. Returns the fold path, or None when no run is
    left to fold; a single live run does fold."""
    store = StateLog(store_dir, spark)
    _, runs = store.live_units(None if up_to is None else up_to + 1)
    final = _fold(spark, store, runs[-1], _pinned_schema(store)) if runs else None
    store.prune()  # also finishes the prune of a fold published before a crash
    return final


def incremental_fingerprints(
    new_df: DataFrame,
    store_dir: str,
    meta: dict,
    fingerprint_fn,
    commit: bool,
    run_id: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared scaffold of every incremental-store operator (text minhash,
    audio content, audio perceptual, embedding): meta guard → fold → live
    inputs → fingerprint only the new batch → commit (or persist for a
    what-if probe) → union with the stored corpus. Returns
    ``(new_fps, all_fps)``; ``fingerprint_fn`` maps the new batch to its
    store-row DataFrame. ``all_fps is new_fps`` when the store holds no
    rows yet.

    The batch is round-robined to the default parallelism before it is
    fingerprinted (``spread_rows``), so a one-file delta, one scan split,
    is fingerprinted on every core. The first commit pins the schema of
    the store's rows in ``meta.json`` (the batch's fingerprint schema);
    a later batch's fingerprints are cast to it (integral columns widen,
    any other difference raises), and every store read (the committed
    run, the prior runs, a fold's input) passes it, so none runs a
    schema-inference job.

    ``run_id``: None appends the next run. An explicit id replaces that
    run and pairs only against runs before it, so a retried batch
    reproduces its first attempt.

    A committing call first folds the units before its run when
    ``StateLog.fold_due`` says so, then prunes below its run: its plan
    reads the fold, and the run stays retryable. A later committing call
    may thus delete what this call's plan reads: consume each result before
    the next committing call on the same store.

    With ``commit=False`` nothing is folded or written, and the new
    batch's fingerprints are persisted (MEMORY_AND_DISK), because
    bucketing and both verify-join sides consume them; a commit's parquet
    write is that materialization instead. The persisted handle is
    internal, so a long-lived session that runs many what-if probes should
    ``spark.catalog.clearCache()`` after consuming each result."""
    spark = new_df.sparkSession
    store = StateLog(store_dir, spark)
    new_fps = fingerprint_fn(spread_rows(new_df))
    schema = _check_meta(spark, store, meta, new_fps.schema, create=commit)
    new_fps = _conform(new_fps, schema, store.root)
    if run_id is not None:
        store.check_horizon(run_id)
    unit = store.next_id() if run_id is None else run_id
    if commit:
        if store.fold_due(unit):
            _fold(spark, store, unit - 1, schema)
        store.prune(unit)
    prior = store.live_inputs(unit)
    if commit:
        # the commit write doubles as the batch's single fingerprint
        # materialization; the pair plan reads it back from parquet
        fps = new_fps
        path = store.commit(unit, lambda tmp: fps.write.mode("overwrite").parquet(tmp))
        new_fps = _read(spark, [path], schema)
    else:
        new_fps = new_fps.persist(StorageLevel.MEMORY_AND_DISK)
    all_fps = _read(spark, prior, schema).unionByName(new_fps) if prior else new_fps
    return new_fps, all_fps


def incremental_candidates(
    new_fps: DataFrame,
    all_fps: DataFrame,
    rows: Callable[[DataFrame], DataFrame],
    keys: list[str],
    cap: int | None,
    what: str,
    id_col: str = "id",
    min_shared: int | None = None,
) -> DataFrame:
    """The candidate join of every incremental-store operator: the new
    batch's bucket rows against those of (store ∪ batch) →
    ``(a_<id_col>, b_<id_col>)`` pairs with a < b, each involving at least
    one new row (old-vs-old pairs were reported by the runs that introduced
    them). ``new_fps`` and ``all_fps`` come from ``incremental_fingerprints``;
    ``rows`` maps either to its bucket rows ``(id_col, *keys)``.

    The join is on ``keys``; self-pairs drop and each pair is ordered by
    ``least``/``greatest``. Pairs are distinct, or, with ``min_shared``,
    kept when they share at least that many distinct keys (both
    orientations of a new-new pair meet in the join, so the count is of
    distinct keys).

    With a ``cap``, the store side is first restricted to the keys the
    batch touches (a broadcast left-semi join against the batch's distinct
    keys), so the census and the join scan only that slice of the store;
    then buckets with more than ``cap`` carriers drop through
    ``drop_hot_buckets``, which collects the hot list and logs its census
    before this returns. The restriction stays in the join even when
    nothing is hot: without it, a batch past the broadcast threshold would
    join the full store uncapped, shuffling it. Only the store side is
    filtered: the join is inner, so that removes every pair a hot bucket
    would generate. The restriction is skipped when the store was empty
    (every bucket is then touched), and without a cap both steps are,
    because the inner join already keeps only touched keys."""
    n_id, o_id = f"n_{id_col}", f"o_{id_col}"
    a, b = f"a_{id_col}", f"b_{id_col}"
    nb = rows(new_fps).withColumnRenamed(id_col, n_id)
    ab = rows(all_fps).withColumnRenamed(id_col, o_id)
    if cap is not None:
        if all_fps is not new_fps:
            touched = nb.select(*keys).distinct()
            ab = ab.join(F.broadcast(touched), keys, "left_semi")
        ab = drop_hot_buckets(ab, keys, int(cap), what)
    joined = nb.join(ab, keys).where(F.col(n_id) != F.col(o_id))
    pair = [F.least(n_id, o_id).alias(a), F.greatest(n_id, o_id).alias(b)]
    if min_shared is None:
        return joined.select(*pair).distinct()
    return (
        joined.groupBy(*pair)
        .agg(F.countDistinct(*keys).alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
        .select(a, b)
    )


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
) -> DataFrame:
    """One incremental dedup step → (a_id, b_id, sig_sim) near-dup pairs
    involving at least one new row (a_id < b_id, sig_sim = signature
    agreement >= min_agreement, rounded to 4 decimals).

    Eager by design, unlike the corpus-pass operators: committing the
    batch and computing its pairs are one step, and the commit write
    doubles as the signatures' single materialization. With
    ``commit=False`` (a what-if probe) nothing is written and the new
    signatures are computed in-plan instead. Consume the pairs before the
    next committing call on the same store, whose fold may delete what
    they read.

    ``run_id``: None (default) appends the next run. An explicit id makes
    the step idempotent under retry: the commit replaces run_<id> and the
    pairing considers only runs strictly before it as "old", so an
    at-least-once caller (streaming foreachBatch keyed by epoch) re-running
    a batch reproduces the same pairs instead of self-matching its own
    earlier attempt. Ids must be committed in increasing order.

    Id contract: ids must be unique across the store's whole history
    (outside the run_id retry mechanism, which replaces its own run). A
    re-ingested id would carry several sig rows through the verify joins
    and emit duplicate (or, with changed text, conflicting) pairs; the
    store is payload-free, so it cannot detect this itself.

    ``max_bucket_size``: band keys with more carriers among the bands the
    batch touches drop from the candidate join, and the call logs their
    census before it returns (see ``incremental_candidates``). A boilerplate band key shared by 10^9
    stored docs would otherwise turn one new row into 10^9 candidate rows,
    the degeneracy the batch ``lsh_candidate_pairs`` caps. ``None``
    disables the cap (small corpora and exact-oracle runs only).

    Scale shape: signatures for the new batch only, on every core (the
    batch is round-robined first, its one shuffle); one band-key join of
    new-batch band rows (21x batch) against the band rows of (store ∪
    batch), broadcastable new side against a 10^12-row store; verify
    joins pinned as broadcast-hash with the candidate side as build
    (``verify_pairs``), so the store side streams through two scans and
    never shuffles. The store read is a parquet scan of (id, sig):
    document payloads are never stored, read or shuffled.
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
    )
    cand = incremental_candidates(
        new_sigs, all_sigs, lambda sigs: _band_rows(sigs, num_hashes, n_bands),
        ["band", "bh"], max_bucket_size, "incremental_minhash_pairs",
    )
    return verify_pairs(
        cand,
        all_sigs.select("id", "sig"),
        sig_agreement(F.col("sig_a"), F.col("sig_b"), num_hashes),
        lambda sim: sim >= F.lit(float(min_agreement)),
        "sig_sim",
        pin=True,
    )
