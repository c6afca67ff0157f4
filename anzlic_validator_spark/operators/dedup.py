"""Deduplication operators for large-scale text corpora.

Beyond the reference's duplicate-field sweep (testing-dublin-core.py:72-83 —
exact duplicates), these are the dedup primitives a training-data pipeline
needs at 10^12-row scale. All hot paths are pure Catalyst expressions
(xxhash64 / array ops inside whole-stage codegen); only SimHash uses an
Arrow pandas UDF (bit-level ops over variable-length token lists don't
compose from built-ins).

Scale notes per operator:
- exact_duplicates: hash-groupBy on a 192-bit composite fingerprint
  (md5+xxhash64+length, map-side combined); group on the fingerprint, not
  the document body, so shuffle rows stay tiny; optional exact-equality
  verify pass over candidate groups only.
- MinHash+LSH: signatures computed per-row (no shuffle), band buckets
  explode rows ×n_bands, the bucket groupBy is the only shuffle; candidate
  verification joins shingle sets back only for candidate pairs (a vanishing
  fraction of n²).
- n-gram Jaccard verify: exact, but only ever run on LSH candidates.
"""

from __future__ import annotations

import hashlib
import logging
from typing import Callable

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)


def drop_hot_buckets(df: DataFrame, bucket_cols: list[str], cap: int, what: str) -> DataFrame:
    """Drops every row whose bucket holds more than ``cap`` rows, and every
    row with a NULL bucket column (such a row is in no bucket, as in the
    uncapped self-join), and logs an exact census of the drop before it
    returns. It is the one hot-bucket pattern of the batch LSH caps and the
    incremental stores' candidate join.

    Per-bucket sizes come from a map-side-combined count aggregate, so a hot
    key ships one partial-count row per map partition, never O(degree). The
    hot list is collected to the driver: its length and summed sizes are
    the census, and with nothing hot ``df`` returns without an anti-join.
    Otherwise the collected keys are the pinned broadcast side of a left
    anti join; planned cold, the planner would pick a sort-merge anti join
    that shuffles and sorts the full stream twice (observed on Spark 4.1).
    The hot list is bounded by total_rows/cap and is empty on healthy
    corpora; corpora extreme enough to overflow a broadcast should raise the
    cap."""
    df = df.dropna(subset=bucket_cols)
    hot = (
        df.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .where(F.col("__bsz") > int(cap))
        .collect()
    )
    if not hot:
        return df
    log.warning(
        f"{what}: dropped {len(hot)} hot buckets (> {int(cap)} rows each, "
        f"{sum(r['__bsz'] for r in hot)} bucket-rows in total) from candidate "
        "generation; pairs found only in those buckets are not reported"
    )
    keys = df.sparkSession.createDataFrame(
        [r[: len(bucket_cols)] for r in hot], df.select(*bucket_cols).schema
    )
    return df.join(F.broadcast(keys), on=bucket_cols, how="left_anti")


def lsh_candidate_pairs(
    buckets: DataFrame,
    bucket_cols: list[str],
    payload_cols: list[str],
    max_bucket_size: int | None,
    what: str,
    counts: bool = False,
) -> DataFrame:
    """Bucketed rows → distinct candidate pairs ``(a, b)`` (payload structs,
    ``a.id < b.id``). ``payload_cols`` must include ``id``. With
    ``counts=True`` the result carries ``n_shared`` — how many buckets the
    pair co-occurred in (winnowing-style overlap counting) — instead of
    being distinct-ed.

    Two physical strategies, chosen by whether a cap bounds the buckets:

    - ``max_bucket_size`` set → per-bucket ``collect_list`` + INCREMENTAL
      pairwise expansion: ONE full shuffle on the bucket key, in-bucket
      fan-out inside codegen. Each member is posexploded out and paired
      against the remainder of its bucket, so per-row memory stays O(cap)
      — the collected bucket array — never the O(cap²) pair set (which
      streams through the second explode).
    - ``max_bucket_size=None`` → classic bucket self-join: slower (second
      shuffle + sort) but SPILL-SAFE — a degenerate bucket degrades to a
      quadratic-but-streaming join instead of materializing O(s²) pairs in
      one aggregation buffer. Uncapped is the small-scale/oracle mode;
      always set the cap at scale.

    Buckets above ``max_bucket_size`` are excluded from candidate
    generation by ``drop_hot_buckets``, which collects the hot list and
    logs its bucket/row census before this returns. The hot buckets are
    found from a map-side-combined count aggregate, whose exchange carries
    one partial-count row per (partition, bucket), so a hot key ships
    O(#partitions) rows. Rows with a NULL bucket column pair on neither
    path.

    Run exact dedup first — a hot bucket is nearly always a pile of
    byte-identical docs the exact pass already collapses — and treat the
    logged census as a data-quality signal, not noise.
    """
    stream = buckets.select(
        *bucket_cols, F.struct(*[F.col(c) for c in payload_cols]).alias("__p")
    )
    if max_bucket_size is None:
        # spill-safe uncapped path: bucket self-join
        l, r = stream.alias("l"), stream.alias("r")
        base = (
            l.join(r, on=bucket_cols, how="inner")
            .where(F.col("l.__p.id") < F.col("r.__p.id"))
            .select(F.col("l.__p").alias("a"), F.col("r.__p").alias("b"))
        )
        if counts:
            return base.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared"))
        return base.distinct()

    kept = drop_hot_buckets(stream, bucket_cols, int(max_bucket_size), what)
    grouped = kept.groupBy(*bucket_cols).agg(F.collect_list("__p").alias("__ms"))

    def ordered_pair(x, y):
        return F.when(
            x["id"] < y["id"], F.struct(x.alias("a"), y.alias("b"))
        ).otherwise(F.struct(y.alias("a"), x.alias("b")))

    # incremental pair expansion: posexplode each member out first, then
    # pair it against the remainder of its bucket. A single
    # flatten(transform(transform(...))) would materialize all O(s²) pair
    # structs of a bucket inside one aggregation row (GBs near a 10k cap)
    # before the explode could stream them. This shape keeps per-row memory
    # O(s): each generated row carries the bucket array plus one member's
    # pair list, and the second explode streams the pairs.
    member = grouped.select(
        F.col("__ms"), F.posexplode("__ms").alias("__i", "__x")
    )
    rest = F.slice(
        F.col("__ms"),
        F.col("__i") + F.lit(2),
        F.greatest(F.size("__ms") - F.col("__i") - 1, F.lit(0)),
    )
    base = (
        member.select(
            F.explode(F.transform(rest, lambda y: ordered_pair(F.col("__x"), y))).alias("__pr")
        )
        .select("__pr.a", "__pr.b")
        .where(F.col("a.id") != F.col("b.id"))  # defend against duplicate input ids
    )
    if counts:
        return base.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared"))
    return base.distinct()


def verify_pairs(
    cand: DataFrame,
    payload: DataFrame,
    score: Column,
    keep: Callable[[Column], Column],
    out: str,
    a: str = "a_id",
    b: str = "b_id",
    pin: bool = False,
) -> DataFrame:
    """The verify join of every dedup family: candidate pairs ``cand``
    (``a``, ``b``) → (``a``, ``b``, ``out``) for the pairs ``keep`` accepts.

    ``payload`` holds one row per id: ``id`` plus the columns the score
    reads. Each side joins it with those columns suffixed ``_a`` / ``_b``
    (``sh`` becomes ``sh_a`` and ``sh_b``), and ``score`` is a Column over
    the suffixed names. ``keep`` tests the unrounded score, because
    rounding first would admit pairs up to 5e-5 past the bar; the score is
    rounded to 4 decimals for output only.

    ``pin`` makes the candidate side the broadcast build of both joins, so
    a large payload table (an incremental store) only streams; an AQE
    fallback to sort-merge would shuffle it twice. Join 1's output is again
    candidate-bounded, so broadcasting it is bounded too. Without the pin,
    AQE picks the strategy, which suits a payload that is a persisted
    projection of the batch itself."""
    vals = [c for c in payload.columns if c != "id"]

    def side(key: str, sfx: str) -> DataFrame:
        return payload.select(
            F.col("id").alias(key), *[F.col(c).alias(f"{c}_{sfx}") for c in vals]
        )

    j1 = (F.broadcast(cand) if pin else cand).join(side(a, "a"), a)
    joined = (F.broadcast(j1) if pin else j1).join(side(b, "b"), b)
    return (
        joined.withColumn(out, score)
        .where(keep(F.col(out)))
        .select(a, b, F.round(out, 4).alias(out))
    )


# ---------------------------------------------------------------- exact

def text_fingerprint(col: Column) -> Column:
    """Order/duplication-insensitive content fingerprint: md5 of the sorted
    distinct token set (rolling-hash analog with built-ins only)."""
    toks = F.array_sort(F.array_distinct(F.split(col, " ")))
    return F.md5(F.array_join(toks, " "))


def exact_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    verify: bool = False,
    fingerprint: Column | None = None,
) -> DataFrame:
    """Groups of byte-identical texts → (grp_hash, n_docs, canonical_id).

    canonical_id = min id (the survivor a dedup pass would keep).

    Group key is a 192-bit composite fingerprint (md5 + xxhash64 + length):
    a bare 64-bit hash at 10^12 docs expects ~10^4 birthday-colliding pairs
    (false duplicates); the composite drops the expectation to ~10^-34 while
    shuffle rows stay ~50 bytes. ``verify=True`` adds an exact equality pass:
    rows whose fingerprint group has >1 member are re-grouped by the text
    itself, so ONLY the candidate-duplicate fraction ever shuffles document
    bodies — use it for audits or when the fingerprint is overridden.

    ``fingerprint`` overrides the group-key expression (must be a pure
    function of the text column); used by tests to force collisions and by
    callers that precomputed a content hash at ingest.
    """
    col = F.col(text_col)
    fp = fingerprint if fingerprint is not None else F.struct(
        F.md5(col).alias("h128"), F.xxhash64(col).alias("h64"), F.length(col).alias("len")
    )
    if not verify:
        return (
            df.select(fp.alias("grp_hash"), F.col(id_col))
            .groupBy("grp_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
            .where(F.col("n_docs") > 1)
        )
    base = df.select(fp.alias("grp_hash"), F.col(id_col), col.alias("__text"))
    cand_groups = (
        base.groupBy("grp_hash")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .select("grp_hash")
    )
    candidates = base.join(cand_groups, on="grp_hash", how="inner")
    return (
        candidates.groupBy("grp_hash", "__text")  # exact: the text IS the key
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .where(F.col("n_docs") > 1)
        .select("grp_hash", "n_docs", "canonical_id")
    )


# ---------------------------------------------------------------- shingles

def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from a PRE-SPLIT token array column.

    ``toks`` must be a materialized column (its own projection), not an
    inline ``split(...)`` expression: the per-shingle lambda references it
    once per element, and Catalyst inlines non-column subexpressions into
    every lambda element (no CSE across lambda bodies) — an inline split
    makes shingling O(tokens²) per row, measured ~25x slower at 54 tokens.
    """
    n = F.size(toks)
    return F.when(n >= k, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )).otherwise(F.array(F.array_join(toks, " ")))


def word_shingles(text_col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a single-space-tokenized text column.

    Convenience wrapper; prefer ``word_shingles_from_tokens`` over a
    materialized token column in hot paths (see its docstring)."""
    return word_shingles_from_tokens(F.split(text_col, " "), k)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))
    return inter / union.cast("double")


# ---------------------------------------------------------------- minhash

def minhash_sig_array(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature as ONE array<long> column: sig[i] = min over
    shingles of xxhash64(shingle, i), expressed as a single nested-lambda
    transform (the hash index is the OUTER lambda's variable —
    ``xxhash64(s, i)`` with an int lambda variable hashes exactly like
    ``xxhash64(s, lit(i))``, verified bit-identical).

    One nested expression keeps the plan constant-size: ``num_hashes``
    separate expressions would be as many lambdas to analyze, optimize and
    code-generate PER PLAN, a fixed multi-second cost for every
    minhash-family query at any data size."""
    idx = F.sequence(F.lit(0), F.lit(int(num_hashes) - 1))
    return F.transform(
        idx, lambda i: F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, i)))
    )


def band_keys(sig: Column, num_hashes: int, n_bands: int) -> Column:
    """array<struct<band:int, bh:long>>: one LSH band key per band, bh =
    xxhash64 over the band's signature slice — ONE nested transform instead
    of ``n_bands`` separate struct expressions (same plan-size rationale as
    minhash_sig_array; values identical to the per-struct form). Shared by
    the batch LSH and the incremental store's band rows."""
    r = num_hashes // n_bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(int(n_bands) - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                *[F.element_at(sig, b * r + i + 1) for i in range(r)]
            ).alias("bh"),
        ),
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    num_hashes: int = 63,
    n_bands: int = 21,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate generation + exact Jaccard verification.

    Returns (a_id, b_id, jac) with a_id < b_id and jac >= threshold.
    Pipeline: shingle → signature (no shuffle) → band-bucket grouping
    (the one shuffle; bucket key is (band, hash-of-band-slice)) → exact
    Jaccard on candidates only, through ``verify_pairs``.

    The (id, shingles) projection is consumed three times (bucketing and
    both sides of the verify join), so it is persisted once
    (MEMORY_AND_DISK, which spills and is evicted LRU). Carrying shingles
    through the LSH shuffle instead would move ~n_bands× the corpus text
    through the exchange. The persist is not released here, because the
    result is lazy and the operator never sees the consuming action:
    long-lived sessions that call this repeatedly should
    ``spark.catalog.clearCache()`` after consuming the result.

    Band tuning: with b bands of r rows, P(candidate) = 1-(1-j^r)^b.
    Defaults (b=21, r=3) give recall ≥ 0.9998 at j=0.7 and ≥ 0.99 at the
    0.6 threshold while pruning j≈0.1 pairs to ~2% candidate rate; raise r
    (and num_hashes) for higher thresholds at bigger scale.
    """
    base = (
        df.select(F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__toks"))
        .select("id", word_shingles_from_tokens(F.col("__toks"), shingle_k).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the signature as one array expression and the band keys as one nested
    # transform: a constant-size plan, not one expression per hash or band
    sig = base.select("id", minhash_sig_array(F.col("sh"), num_hashes).alias("__sig"))
    buckets = sig.select(
        "id", F.explode(band_keys(F.col("__sig"), num_hashes, n_bands)).alias("bb")
    ).select("id", "bb.band", "bb.bh")
    candidates = lsh_candidate_pairs(
        buckets, ["band", "bh"], ["id"], max_bucket_size, "minhash_lsh"
    ).select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
    return verify_pairs(
        candidates,
        base,
        jaccard(F.col("sh_a"), F.col("sh_b")),
        lambda jac: jac >= F.lit(threshold),
        "jac",
    )


# ---------------------------------------------------------------- simhash

@F.pandas_udf(T.LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash signature — fully vectorized numpy kernel.

    Per-occurrence bit votes (duplicate tokens vote repeatedly, the standard
    Charikar weighting by term frequency). The only per-item Python is one
    md5 per DISTINCT token in the Arrow batch; the vote accumulation is a
    single ``np.add.reduceat`` over the flattened token stream. Token hash =
    first 8 md5 bytes little-endian — stable across processes/versions (and
    re-expressible in the DuckDB oracle), unlike builtin ``hash``.
    """
    n_docs = len(texts)
    if n_docs == 0:
        return pd.Series(np.zeros(0, dtype=np.int64))
    # Distinct-token inverse via a dict (an object-array np.unique sorts the
    # token multiset — measured 5.5x slower than dict insertion). One md5
    # per DISTINCT token; per-doc votes are a single (n_toks, 64) int8
    # gather + column sum, which stays cache-resident — measured 2.1x faster
    # than a per-token accumulate and ~9x faster than a batch-wide
    # add.reduceat (whose (tokens, 64) temp is memory-bandwidth-bound).
    index: dict[str, int] = {}
    get = index.get
    doc_idx: list[np.ndarray] = []
    for t in texts:
        toks = (t or "").split(" ")  # never empty ('' splits to [''])
        idxs = np.empty(len(toks), dtype=np.int64)
        for m, tok in enumerate(toks):
            i = get(tok)
            if i is None:
                i = len(index)
                index[tok] = i
            idxs[m] = i
        doc_idx.append(idxs)
    h = np.fromiter(
        (int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "little") for u in index),
        dtype=np.uint64,
        count=len(index),
    )
    shifts = np.arange(64, dtype=np.uint64)
    bits = (((h[:, None] >> shifts) & np.uint64(1)).astype(np.int8) * 2) - 1  # (uniq, 64)
    powers = np.uint64(1) << shifts
    sig = np.empty(n_docs, dtype=np.uint64)
    for j, idxs in enumerate(doc_idx):
        votes = bits[idxs].sum(axis=0, dtype=np.int32)
        sig[j] = np.where(votes > 0, powers, np.uint64(0)).sum(dtype=np.uint64)
    return pd.Series(sig.view(np.int64))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_tables: int = 4,
    subkey_bits: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash (64-bit) near-dup pairs within a Hamming radius.

    LSH splits the 64-bit key into ``n_tables`` disjoint ``subkey_bits``-wide
    sub-keys — any pair within Hamming distance n_tables-1 shares at least
    one sub-key (pigeonhole; holds for any sub-key coverage as long as
    n_tables > max_hamming, since ≤ max_hamming differing bits can touch at
    most max_hamming of the n_tables chunks). Candidate recall is exact; the
    Hamming filter afterwards is exact; ``max_bucket_size`` bounds degenerate
    buckets (see drop_hot_buckets: the call logs what it drops, and capping
    can only lose pairs confined to dropped buckets).

    Sizing at scale: sub-key width bounds the table count (w = 64 // t), so
    a web-scale corpus tunes max_bucket_size rather than w — expected bucket
    size is n / 2^w per table for idealized uniform keys, but REAL corpora
    concentrate mass in a few buckets (near-empty docs, boilerplate), which
    is exactly what the cap handles.
    """
    base = df.select(F.col(id_col).alias("id"), simhash64_udf(F.col(text_col)).alias("sig"))
    return hamming_lsh_pairs(
        base, max_hamming, n_tables, subkey_bits, max_bucket_size, "simhash_lsh"
    )


def hamming_lsh_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    n_tables: int = 4,
    subkey_bits: int | None = None,
    max_bucket_size: int | None = None,
    what: str = "hamming_lsh",
) -> DataFrame:
    """Hamming-radius pairs over any 64-bit signature column →
    (a_id, b_id, hamming), a_id < b_id. ``sigs`` must have (id, sig long).

    The pigeonhole sub-key LSH shared by SimHash text dedup and the audio
    perceptual-hash dedup (operators/audio_dedup.py): candidate recall is
    exact whenever n_tables > max_hamming (see simhash_near_duplicates);
    the Hamming filter afterwards is exact."""
    if n_tables <= max_hamming:
        raise ValueError(
            f"pigeonhole requires n_tables > max_hamming, got {n_tables} <= {max_hamming}"
        )
    w = subkey_bits if subkey_bits is not None else 64 // n_tables
    if w < 1 or n_tables * w > 64:
        raise ValueError(f"n_tables*subkey_bits must fit in 64 bits, got {n_tables}x{w}")
    mask = (1 << w) - 1
    subkeys = [
        F.struct(
            F.lit(t).alias("tbl"),
            F.shiftright(F.col("sig"), t * w).bitwiseAND(F.lit(mask)).alias("sub"),
        )
        for t in range(n_tables)
    ]
    buckets = sigs.select("id", "sig", F.explode(F.array(*subkeys)).alias("b")).select(
        "id", "sig", "b.tbl", "b.sub"
    )
    cand = lsh_candidate_pairs(
        buckets, ["tbl", "sub"], ["id", "sig"], max_bucket_size, what
    ).select(
        F.col("a.id").alias("a_id"),
        F.col("b.id").alias("b_id"),
        F.col("a.sig").alias("sig_a"),
        F.col("b.sig").alias("sig_b"),
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )
