"""Driver-oracle queries for two families that pytest alone would
otherwise cover: streaming incremental validation (§2.8) and
manifest-based resume (I1–I6).

Both stage a deterministic fixture under a fresh temp dir, run the REAL
surface (validate_stream / run_validation), and reduce the outputs to a
closed-form-checkable contract — the same planted-census technique as
SQL_AUDIO_VIOLATIONS. Input sizes are FIXED (correctness probes, not scale
probes) so the oracles' range() arithmetic is SF-independent.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ------------------------------------------------------------ streaming

# layout: 3 single-file epochs, 100 base keys each.
#   epoch 0: a-0000..a-0099 (all fresh)
#   epoch 1: b-**, except i%10==7 -> a-** again (cross-batch dup vs epoch 0);
#            additionally i%20==3 rows appear TWICE (intra-batch dup)
#   epoch 2: c-**, except i%10==7 -> a-** again (cross-batch dup, min epoch 0)
# census: a-keys (i%10==7): 1 cross-batch row in epoch 1 + 1 in epoch 2 = 2;
#         b-keys (i%20==3): both intra-batch occurrences flagged = 2.
_N = 100


def _epoch_keys(e: int) -> list[str]:
    keys = []
    for i in range(_N):
        if e == 0:
            k = f"a-{i:04d}"
        elif i % 10 == 7:
            k = f"a-{i:04d}"
        else:
            k = f"{'b' if e == 1 else 'c'}-{i:04d}"
        keys.append(k)
        if e == 1 and i % 20 == 3:
            keys.append(k)  # intra-batch duplicate
    return keys


def _stage_epochs(inp: str) -> None:
    """Write the 3 single-file epochs (one parquet FILE each, CLIPS-shaped,
    bytes NULL) with strictly increasing mtimes so the file stream's batch
    order is pinned."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(inp, exist_ok=True)
    schema = pa.schema(
        [
            ("clip_id", pa.string()),
            ("bytes", pa.binary()),
            ("sr_hz", pa.int32()),
            ("dur_ms", pa.int32()),
            ("codec", pa.string()),
            ("transcript", pa.string()),
        ]
    )
    now = time.time()
    for e in range(3):
        ks = _epoch_keys(e)
        tbl = pa.table(
            {
                "clip_id": ks,
                "bytes": [None] * len(ks),
                "sr_hz": [16000] * len(ks),
                "dur_ms": [500] * len(ks),
                "codec": ["wav"] * len(ks),
                "transcript": [f"t {k}" for k in ks],
            },
            schema=schema,
        )
        p = os.path.join(inp, f"epoch{e}.parquet")
        pq.write_table(tbl, p)
        ts = now - 600 + e * 120  # strictly increasing, well separated
        os.utime(p, (ts, ts))


def q_stream_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross- and intra-batch uniqueness through the REAL streaming path:
    three staged single-file epochs processed as three micro-batches
    (maxFilesPerTrigger=1; file order pinned by distinct mtimes AND
    lexicographic names), seen-key log carrying state across batches.
    Returns (key, rule_id, n) aggregated over the epoch-partitioned
    violations sink."""
    from anzlic_validator_spark.rules import parse_catalog
    from anzlic_validator_spark.streaming.incremental import validate_stream

    base = tempfile.mkdtemp(prefix="sg_stream_unique_")
    try:
        inp = os.path.join(base, "in")
        out = os.path.join(base, "out")
        ckpt = os.path.join(base, "ckpt")
        _stage_epochs(inp)
        cat = parse_catalog(
            {"rules": [{"id": "clip_id.unique", "type": "unique", "columns": ["clip_id"]}]}
        )
        q = validate_stream(
            spark, inp, cat, out, ckpt, max_files_per_trigger=1
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("stream_unique: availableNow run did not finish in 300s")
        agg = (
            spark.read.parquet(f"{out}/violations")
            .groupBy("key", "rule_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rows = agg.collect()
        # materialize before the temp dir disappears (the driver collects later)
        return spark.createDataFrame(rows, "key string, rule_id string, n bigint")
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_STREAM_UNIQUE = """
WITH ids AS (SELECT CAST(r.range AS BIGINT) AS j FROM range(100) r)
SELECT 'a-' || lpad(CAST(j AS VARCHAR), 4, '0') AS key,
       'clip_id.unique.incorrect' AS rule_id, CAST(2 AS BIGINT) AS n
FROM ids WHERE j % 10 = 7
UNION ALL
SELECT 'b-' || lpad(CAST(j AS VARCHAR), 4, '0'),
       'clip_id.unique.incorrect', CAST(2 AS BIGINT)
FROM ids WHERE j % 20 = 3
"""


def q_stream_unique_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATE-STORE streaming shape on the gate: the same 3-epoch input
    run through ``stateful_unique_stream`` (applyInPandasWithState,
    checkpointed per-key counts — the unbounded-stream alternative to the
    seen-keys log). The aggregate contract is batch-split-INDEPENDENT: a
    key occurring m times total yields exactly m-1 flagged occurrences no
    matter how the file source batches them, so the oracle is pure census
    arithmetic. Census: a-keys (i%10==7) occur in all 3 epochs → n=2;
    b-keys (i%20==3) occur twice in epoch 1 → n=1."""
    from anzlic_validator_spark.rules import Rule
    from anzlic_validator_spark.schema import CLIPS_SCHEMA
    from anzlic_validator_spark.streaming.incremental import stateful_unique_stream

    base = tempfile.mkdtemp(prefix="sg_stream_state_")
    try:
        inp = os.path.join(base, "in")
        out = os.path.join(base, "out")
        ckpt = os.path.join(base, "ckpt")
        _stage_epochs(inp)
        rule = Rule("clip_id.unique", "unique", 1, {"columns": ["clip_id"]})
        stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(inp)
        q = (
            stateful_unique_stream(stream, rule, "clip_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "stream_unique_state: availableNow run did not finish in 300s"
            )
        agg = (
            spark.read.parquet(out)
            .groupBy("key", "rule_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, "key string, rule_id string, n bigint")
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_STREAM_UNIQUE_STATE = """
WITH ids AS (SELECT CAST(r.range AS BIGINT) AS j FROM range(100) r)
SELECT 'a-' || lpad(CAST(j AS VARCHAR), 4, '0') AS key,
       'clip_id.unique.incorrect' AS rule_id, CAST(2 AS BIGINT) AS n
FROM ids WHERE j % 10 = 7
UNION ALL
SELECT 'b-' || lpad(CAST(j AS VARCHAR), 4, '0'),
       'clip_id.unique.incorrect', CAST(1 AS BIGINT)
FROM ids WHERE j % 20 = 3
"""


# ------------------------------------------------- incremental dedup state


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup state on the gate: two
    REAL ``incremental_minhash_pairs`` runs against a staged fingerprint
    store. Run 1 commits the 600-doc base corpus (disjoint 20-token
    vocabularies per doc → cross-doc Jaccard exactly 0, so the census is
    closed-form with no natural-near-dup noise — the documents table has
    25 such pairs at j>=0.85, measured, which is why this query synthesizes
    its corpus). Run 2 passes ONLY the new rows — exact copies of every %3
    doc (+10000) and every %6 doc (+20000) — and must emit exactly the
    new-vs-old and new-vs-new copy pairs at signature agreement 1.0,
    pairing against STORED signatures (old text is not an input of run 2,
    structurally). Output: (a_id, b_id, sig_sim)."""
    from anzlic_validator_spark.operators.dedup_state import (
        incremental_minhash_pairs,
    )

    def mk(df: DataFrame) -> DataFrame:
        # df: (d = source index, doc_id); text = 20 globally-unique tokens
        return df.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(19)),
                    lambda j: F.concat(
                        F.lit("t"), (F.col("d") * 20 + j).cast("string")
                    ),
                ),
            ).alias("text"),
        )

    base = tempfile.mkdtemp(prefix="sg_dedup_state_")
    try:
        store = os.path.join(base, "store")
        docs = mk(spark.range(600).select(F.col("id").alias("d"), F.col("id").alias("doc_id")))
        p1 = incremental_minhash_pairs(docs, store, "text", "doc_id")
        if p1.count() != 0:  # dup-free base: run 1 must report nothing
            raise RuntimeError("dedup_incremental: run 1 emitted unexpected pairs")
        e1 = mk(
            spark.range(600).where(F.col("id") % 3 == 0)
            .select(F.col("id").alias("d"), (F.col("id") + 10000).alias("doc_id"))
        )
        e2 = mk(
            spark.range(600).where(F.col("id") % 6 == 0)
            .select(F.col("id").alias("d"), (F.col("id") + 20000).alias("doc_id"))
        )
        p2 = incremental_minhash_pairs(e1.unionByName(e2), store, "text", "doc_id")
        rows = p2.collect()  # materialize before the temp store disappears
        return spark.createDataFrame(rows, "a_id long, b_id long, sig_sim double")
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_DEDUP_INCREMENTAL = """
WITH d AS (SELECT CAST(r.range AS BIGINT) AS d FROM range(600) r)
SELECT d AS a_id, d + 10000 AS b_id, CAST(1.0 AS DOUBLE) AS sig_sim FROM d WHERE d % 3 = 0
UNION ALL
SELECT d, d + 20000, CAST(1.0 AS DOUBLE) FROM d WHERE d % 6 = 0
UNION ALL
SELECT d + 10000, d + 20000, CAST(1.0 AS DOUBLE) FROM d WHERE d % 6 = 0
"""


def _stage_doc_epochs(inp: str) -> None:
    """3 single-file DOCUMENT epochs (pinned mtimes, one parquet file each;
    the _stage_epochs determinism recipe). Unique 20-token vocabulary per
    source index d; copies share text exactly:
      epoch 0: ids 0..9           (d = id, all fresh)
      epoch 1: ids 100..104       (103 copies d=3; others fresh)
      epoch 2: ids 200..204       (203 copies d=3; 204 copies d=104)
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(inp, exist_ok=True)

    def text(d: int) -> str:
        return " ".join(f"t{d * 100 + j}" for j in range(20))

    epochs = [
        [(i, text(i)) for i in range(10)],
        [(i, text(3 if i == 103 else i)) for i in range(100, 105)],
        [(i, text({203: 3, 204: 104}.get(i, i))) for i in range(200, 205)],
    ]
    now = time.time()
    for e, rows in enumerate(epochs):
        tbl = pa.table(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        )
        p = os.path.join(inp, f"epoch{e}.parquet")
        pq.write_table(tbl, p)
        ts = now - 600 + e * 120
        os.utime(p, (ts, ts))


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental dedup on the gate: the real ``dedup_stream``
    surface (foreachBatch + epoch-keyed fingerprint-store commits) over 3
    staged single-file epochs with planted cross- and intra-history copies.
    Each micro-batch fingerprints only its own rows and pairs against the
    store; the census is closed-form. Output: (a_id, b_id, epoch)."""
    from anzlic_validator_spark.streaming.incremental import dedup_stream

    base = tempfile.mkdtemp(prefix="sg_stream_dedup_")
    try:
        inp = os.path.join(base, "in")
        out = os.path.join(base, "out")
        ckpt = os.path.join(base, "ckpt")
        store = os.path.join(base, "store")
        _stage_doc_epochs(inp)
        q = dedup_stream(
            spark, inp, "doc_id long, text string", store, out, ckpt,
            max_files_per_trigger=1,
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("stream_dedup: availableNow run did not finish in 300s")
        pairs = spark.read.parquet(f"{out}/pairs").select("a_id", "b_id", "epoch")
        rows = pairs.collect()
        return spark.createDataFrame(rows, "a_id long, b_id long, epoch int")
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_STREAM_DEDUP = """
SELECT * FROM (VALUES
  (CAST(3 AS BIGINT),   CAST(103 AS BIGINT), CAST(1 AS INT)),
  (CAST(3 AS BIGINT),   CAST(203 AS BIGINT), CAST(2 AS INT)),
  (CAST(103 AS BIGINT), CAST(203 AS BIGINT), CAST(2 AS INT)),
  (CAST(104 AS BIGINT), CAST(204 AS BIGINT), CAST(2 AS INT))
) AS t(a_id, b_id, epoch)
"""


def q_audio_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental AUDIO content dedup on the gate: run 1 commits 60
    distinct-signal clips (codec rotating pcm/wav/flac) to a staged
    fingerprint store — no pairs. Run 2 passes ONLY new clips: re-encodes
    of every %3 signal under a DIFFERENT codec (+100 keys), a second
    re-encode of every %6 signal (+200), and one truncated-flac clip
    (decode error → NULL fingerprint, must pair with nothing). Expected:
    exactly the new-vs-old and new-vs-new codec-invariant content matches
    — byte comparison finds none of them, and run 2 never decodes (or even
    receives) run 1's bytes. Census is closed-form row arithmetic."""
    from anzlic_validator_spark.operators.audio_dedup import incremental_audio_dedup

    sr = 8000

    def gen(specs_name):
        # specs resolved worker-side from the row index; seed pinned
        def inner(batches):
            import pandas as pd

            from anzlic_validator_spark.functions.audio import encode, ref_signal

            for pdf in batches:
                rows = []
                for i in pdf["id"]:
                    i = int(i)
                    if specs_name == "base":
                        key, j, ci, trunc = i, i, i % 3, False
                    elif i < 20:  # re-encode of j=3i under the next codec
                        j = 3 * i
                        key, ci, trunc = j + 100, (j + 1) % 3, False
                    elif i < 30:  # second re-encode of j=6(i-20)
                        j = 6 * (i - 20)
                        key, ci, trunc = j + 200, (j + 2) % 3, False
                    else:  # one undecodable clip
                        key, j, ci, trunc = 300, 0, 2, True
                    codec = ("pcm_s16le", "wav", "flac")[ci]
                    b = encode(ref_signal(j, sr, sr // 2, seed=888), sr, codec)
                    if trunc:
                        b = b[: max(1, len(b) // 3)]
                    rows.append(
                        {"clip_id": f"ai-{key:04d}", "bytes": b,
                         "codec": codec, "sr_hz": sr}
                    )
                yield pd.DataFrame(
                    rows, columns=["clip_id", "bytes", "codec", "sr_hz"]
                )

        return inner

    schema = "clip_id string, bytes binary, codec string, sr_hz int"
    base = tempfile.mkdtemp(prefix="sg_audio_state_")
    try:
        store = os.path.join(base, "store")
        run1 = spark.range(60).mapInPandas(gen("base"), schema)
        p1 = incremental_audio_dedup(run1, store)
        if p1.count() != 0:
            raise RuntimeError("audio_dedup_incremental: run 1 emitted pairs")
        run2 = spark.range(31).mapInPandas(gen("new"), schema)
        p2 = incremental_audio_dedup(run2, store)
        rows = p2.collect()  # materialize before the temp store disappears
        return spark.createDataFrame(rows, "a_key string, b_key string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_AUDIO_DEDUP_INCREMENTAL = """
WITH j AS (SELECT CAST(r.range AS BIGINT) AS j FROM range(60) r),
k AS (SELECT j, 'ai-' || lpad(CAST(j AS VARCHAR), 4, '0') AS orig,
             'ai-' || lpad(CAST(j + 100 AS VARCHAR), 4, '0') AS c1,
             'ai-' || lpad(CAST(j + 200 AS VARCHAR), 4, '0') AS c2
      FROM j)
SELECT orig AS a_key, c1 AS b_key FROM k WHERE j % 3 = 0
UNION ALL SELECT orig, c2 FROM k WHERE j % 6 = 0
UNION ALL SELECT c1, c2 FROM k WHERE j % 6 = 0
"""


def q_audio_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PERCEPTUAL audio near-dup on the gate: run 1 commits 30
    distinct 2 s signals to a frames+subfp store; run 2 passes ONLY
    2 %-additive-noise copies of every even signal (noise Philox-seeded per
    row) and must recover exactly those 15 planted pairs — candidates from
    stored tagged halves, decode-free BER verify against stored subfp
    sequences, run 1's bytes never re-read. Closed-form census."""
    from anzlic_validator_spark.operators.audio_dedup import (
        incremental_audio_neardup,
    )

    sr, n_signals = 8000, 30

    def gen(which):
        def inner(batches):
            import numpy as np
            import pandas as pd

            from anzlic_validator_spark.functions.audio import encode, ref_signal

            for pdf in batches:
                rows = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "base":
                        j, key = i, i
                        pcm = ref_signal(j, sr, 2 * sr, seed=6)
                    else:
                        j, key = 2 * i, 2 * i + 100
                        pcm = ref_signal(j, sr, 2 * sr, seed=6)
                        rng = np.random.Generator(
                            np.random.Philox(key=np.uint64(636363) ^ np.uint64(j))
                        )
                        pcm = np.clip(
                            pcm + 0.02 * rng.standard_normal(len(pcm)).astype(
                                np.float32
                            ),
                            -1, 1,
                        )
                    rows.append(
                        {"clip_id": f"an2-{key:04d}",
                         "bytes": encode(pcm, sr, "pcm_s16le"),
                         "codec": "pcm_s16le", "sr_hz": sr}
                    )
                yield pd.DataFrame(
                    rows, columns=["clip_id", "bytes", "codec", "sr_hz"]
                )

        return inner

    schema = "clip_id string, bytes binary, codec string, sr_hz int"
    base = tempfile.mkdtemp(prefix="sg_audio_neardup_state_")
    try:
        store = os.path.join(base, "store")
        run1 = spark.range(n_signals).mapInPandas(gen("base"), schema)
        p1 = incremental_audio_neardup(run1, store)
        if p1.count() != 0:
            raise RuntimeError("audio_neardup_incremental: run 1 emitted pairs")
        run2 = spark.range(n_signals // 2).mapInPandas(gen("noisy"), schema)
        p2 = incremental_audio_neardup(run2, store).select("a_key", "b_key")
        rows = p2.collect()
        return spark.createDataFrame(rows, "a_key string, b_key string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_AUDIO_NEARDUP_INCREMENTAL = """
SELECT 'an2-' || lpad(CAST(2 * j AS VARCHAR), 4, '0') AS a_key,
       'an2-' || lpad(CAST(2 * j + 100 AS VARCHAR), 4, '0') AS b_key
FROM (SELECT CAST(r.range AS BIGINT) AS j FROM range(15) r)
"""


def q_embedding_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EMBEDDING near-dup on the gate: run 1 commits the whole
    embeddings table (vectors + precomputed SRP buckets) to a staged store
    — no pairs (the raw table has no cos >= 0.99 pairs, per the
    dedup_embedding oracle). Run 2 passes ONLY scaled copies (x1.01 of
    every %25 vector, x0.99 of every %50) — scaling preserves direction,
    so every copy shares ALL SRP buckets with its source and cosine is
    exactly 1 — and must emit exactly the new-vs-old and new-vs-new copy
    pairs. Output (a_id, b_id, cos)."""
    from anzlic_validator_spark.operators.similarity import (
        incremental_embedding_neardup,
    )
    from anzlic_validator_spark.sources.tables import load_table

    base = tempfile.mkdtemp(prefix="sg_emb_state_")
    try:
        store = os.path.join(base, "store")
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        p1 = incremental_embedding_neardup(emb, store, dim=64)
        if p1.count() != 0:
            raise RuntimeError("embedding_dedup_incremental: run 1 emitted pairs")
        # 10^9 offsets: collision-proof against any realistic table size
        # (a +200000 offset would collide past 2*10^5 rows)
        c1 = emb.where(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 1000000000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"),
        )
        c2 = emb.where(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") + 2000000000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(0.99)).alias("embedding"),
        )
        p2 = incremental_embedding_neardup(c1.unionByName(c2), store, dim=64)
        rows = p2.collect()
        return spark.createDataFrame(rows, "a_id long, b_id long, cos double")
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_EMBEDDING_DEDUP_INCREMENTAL = """
WITH v AS (SELECT vec_id FROM embeddings)
SELECT vec_id AS a_id, vec_id + 1000000000 AS b_id, CAST(1.0 AS DOUBLE) AS cos
FROM v WHERE vec_id % 25 = 0
UNION ALL
SELECT vec_id, vec_id + 2000000000, CAST(1.0 AS DOUBLE) FROM v WHERE vec_id % 50 = 0
UNION ALL
SELECT vec_id + 1000000000, vec_id + 2000000000, CAST(1.0 AS DOUBLE)
FROM v WHERE vec_id % 50 = 0
"""


# -------------------------------------------------------------- resume

_RESUME_RULES = """\
version: 1
table: t
rules:
  - id: codec.in_set
    type: in_set
    column: codec
    values: [wav, flac, pcm_s16le]
"""
_N_BASE = 520
_N_BUCKETS = 8
_N_EXTRA = 40  # appended to ONE bucket; first half get a bad codec


def q_resume_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest resume (I1–I6) on the hard gate: full run over a
    bucket-partitioned input, append rows to ONE bucket's dir (keys chosen
    to hash to that bucket, honoring the layout contract), rerun — the
    second run must revalidate exactly that bucket while every other
    bucket's outputs survive intact. The contract row reduces to pending/
    skipped counts plus output totals whose correctness REQUIRES the
    untouched buckets' run-1 rows to still be present."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from anzlic_validator_spark.run import (
        bucket_col,
        read_verdicts,
        read_violations,
        run_validation,
    )

    base = tempfile.mkdtemp(prefix="sg_resume_")
    try:
        inp = os.path.join(base, "in")
        out = os.path.join(base, "out")
        rules = os.path.join(base, "rules.yaml")
        with open(rules, "w", encoding="utf-8") as fh:
            fh.write(_RESUME_RULES)
        rows = [
            (
                f"clip-{i:012d}",
                "bogus" if i % 7 == 3 else "wav",
                f"t {i}",
            )
            for i in range(_N_BASE)
        ]
        df = spark.createDataFrame(rows, "clip_id string, codec string, transcript string")
        (
            df.withColumn("bucket", bucket_col("clip_id", _N_BUCKETS))
            .repartition(_N_BUCKETS, "bucket")
            .write.partitionBy("bucket")
            .parquet(inp)
        )

        def run():
            return run_validation(
                spark,
                spark.read.parquet(inp).drop("bucket"),
                catalog_path=rules,
                output=out,
                key_col="clip_id",
                refs={},
                n_buckets=_N_BUCKETS,
                input_paths=[inp],
            )

        s1 = run()

        # extras that hash to one fixed bucket (layout contract: bucket dir
        # == key-hash bucket). Deterministic: xxhash64 is seedless-stable.
        cand = spark.createDataFrame(
            [(f"extra-{i:04d}",) for i in range(2000)], "clip_id string"
        )
        hashed = sorted(
            (r.clip_id, r.b)
            for r in cand.select(
                "clip_id", bucket_col("clip_id", _N_BUCKETS).alias("b")
            ).collect()
        )
        target = hashed[0][1]
        picks = [k for k, b in hashed if b == target][:_N_EXTRA]
        if len(picks) < _N_EXTRA:  # ~250 expected per bucket; never trips
            raise RuntimeError("not enough extra keys hashed to the target bucket")
        tbl = pa.table(
            {
                "clip_id": picks,
                "codec": ["bogus" if i < _N_EXTRA // 2 else "flac" for i in range(_N_EXTRA)],
                "transcript": [f"x {k}" for k in picks],
            },
            schema=pa.schema(
                [("clip_id", pa.string()), ("codec", pa.string()), ("transcript", pa.string())]
            ),
        )
        pq.write_table(tbl, os.path.join(inp, f"bucket={target}", "appended.parquet"))

        s2 = run()
        viol = read_violations(spark, out).count()
        verd = read_verdicts(spark, out).count()
        row = (
            _N_BUCKETS,
            len(s1["pending_buckets"]),
            len(s2["pending_buckets"]),
            len(s2["skipped_buckets"]),
            int(viol),
            int(verd),
        )
        return spark.createDataFrame(
            [row],
            "n_buckets int, run1_pending int, run2_pending int, run2_skipped int,"
            " violations_total bigint, verdict_keys bigint",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_RESUME_BUCKETS = """
SELECT CAST(8 AS INT) AS n_buckets,
       CAST(8 AS INT) AS run1_pending,
       CAST(1 AS INT) AS run2_pending,
       CAST(7 AS INT) AS run2_skipped,
       CAST((SELECT count(*) FROM range(520) r WHERE r.range % 7 = 3) + 20 AS BIGINT)
         AS violations_total,
       CAST(560 AS BIGINT) AS verdict_keys
"""
