"""Cross-run incremental dedup state: persisted minhash fingerprint store
(VERDICT r04 #2). The load-bearing claims:

- run N+1 fingerprints ONLY new rows (old text is not even an input — the
  pair plan after commit contains no tokenization at all, it scans the
  store parquet);
- run-1 store files are never rewritten by run 2 (append-only runs);
- pairs = new-vs-old + new-vs-new, never old-vs-old re-reports;
- parameter drift against an existing store raises instead of silently
  mixing incompatible signatures.
"""

import os

import pytest
from pyspark.sql import functions as F

from anzlic_validator_spark.operators.dedup_state import (
    incremental_minhash_pairs,
    minhash_sigs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vocab_doc(d: int, n_tok: int = 20) -> str:
    return " ".join(f"t{d * 100 + j}" for j in range(n_tok))


def _file_state(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_two_run_store_pairs_and_immutability(spark, tmp_path):
    store = str(tmp_path / "store")
    base = _docs(spark, [(d, _vocab_doc(d)) for d in range(10)])
    p1 = incremental_minhash_pairs(base, store, "text", "doc_id")
    assert p1.count() == 0  # dup-free base corpus
    assert sorted(os.listdir(store)) == ["meta.json", "run_00000"]
    state1 = _file_state(os.path.join(store, "run_00000"))

    # run 2: one copy of doc 3, two copies of doc 4, one noisy copy of
    # doc 5 (2 of 20 tokens changed -> sig agreement well below 1, above .5)
    noisy5 = _vocab_doc(5).split(" ")
    noisy5[0], noisy5[10] = "zz1", "zz2"
    new = _docs(
        spark,
        [
            (103, _vocab_doc(3)),
            (204, _vocab_doc(4)),
            (304, _vocab_doc(4)),
            (505, " ".join(noisy5)),
        ],
    )
    p2 = incremental_minhash_pairs(
        new, store, "text", "doc_id", min_agreement=0.5
    )
    got = {(r.a_id, r.b_id): r.sig_sim for r in p2.collect()}
    assert set(got) == {(3, 103), (4, 204), (4, 304), (204, 304), (5, 505)}
    assert got[(3, 103)] == 1.0 and got[(4, 204)] == 1.0
    assert 0.4 <= got[(5, 505)] <= 0.95  # the estimator path, not exact-only

    # append-only: run-1 files untouched, run-2 holds exactly the new ids
    assert _file_state(os.path.join(store, "run_00000")) == state1
    assert sorted(os.listdir(store)) == ["meta.json", "run_00000", "run_00001"]
    r2 = spark.read.parquet(os.path.join(store, "run_00001"))
    assert sorted(r.id for r in r2.select("id").collect()) == [103, 204, 304, 505]

    # the pair plan re-fingerprints nothing: after commit it reads parquet
    # signatures — no split/tokenization expression anywhere in the plan
    plan = p2._jdf.queryExecution().executedPlan().toString()
    assert "split" not in plan and "Scan parquet" in plan

    # run 3 with no genuinely new duplicates: empty, store grows by one run
    p3 = incremental_minhash_pairs(
        _docs(spark, [(900, _vocab_doc(90))]), store, "text", "doc_id"
    )
    assert p3.count() == 0
    assert "run_00002" in os.listdir(store)


def test_store_meta_guard_and_band_divisibility(spark, tmp_path):
    store = str(tmp_path / "store")
    base = _docs(spark, [(1, _vocab_doc(1))])
    incremental_minhash_pairs(base, store, "text", "doc_id")
    with pytest.raises(ValueError, match="incompatible"):
        incremental_minhash_pairs(base, store, "text", "doc_id", shingle_k=2)
    with pytest.raises(ValueError, match="divide"):
        incremental_minhash_pairs(base, store, "text", "doc_id", n_bands=20)


def test_commit_false_writes_nothing(spark, tmp_path):
    store = str(tmp_path / "store")
    docs = _docs(spark, [(1, _vocab_doc(1)), (2, _vocab_doc(1))])
    pairs = incremental_minhash_pairs(
        docs, store, "text", "doc_id", commit=False
    ).collect()
    assert [(r.a_id, r.b_id) for r in pairs] == [(1, 2)]  # new-vs-new still found
    assert not os.path.exists(store)  # a what-if probe leaves no state


def test_incremental_audio_dedup_store(spark, tmp_path):
    """Audio twin of the minhash store: run 2 decodes only its new clips
    and matches codec-invariant content against STORED fingerprints; the
    pair plan contains no decode (no ArrowEvalPython) after commit; NULL
    fingerprints (decode failures) never match; run-1 store files are
    immutable."""
    from anzlic_validator_spark.functions.audio import encode, ref_signal
    from anzlic_validator_spark.operators.audio_dedup import incremental_audio_dedup

    sr = 8000

    def clip(key, j, codec, trunc=False):
        b = encode(ref_signal(j, sr, sr // 2, seed=11), sr, codec)
        if trunc:
            b = b[: len(b) // 3]
        return (key, b, codec, sr)

    schema = "clip_id string, bytes binary, codec string, sr_hz int"
    store = str(tmp_path / "astore")
    run1 = spark.createDataFrame(
        [clip("a0", 0, "pcm_s16le"), clip("a1", 1, "wav"), clip("a2", 2, "flac")],
        schema,
    )
    assert incremental_audio_dedup(run1, store).count() == 0
    state1 = _file_state(os.path.join(store, "run_00000"))
    run2 = spark.createDataFrame(
        [
            clip("b0", 0, "flac"),       # same signal as a0, other codec
            clip("b0x", 0, "wav"),       # second re-encode -> new-vs-new too
            clip("b9", 9, "wav"),        # fresh signal: no pair
            clip("bad", 1, "flac", trunc=True),  # decode error: no pair
        ],
        schema,
    )
    p2 = incremental_audio_dedup(run2, store)
    got = sorted((r.a_key, r.b_key) for r in p2.collect())
    assert got == [("a0", "b0"), ("a0", "b0x"), ("b0", "b0x")]
    assert _file_state(os.path.join(store, "run_00000")) == state1
    plan = p2._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "Scan parquet" in plan
    # the undecodable clip was committed as a NULL row (never-fail contract)
    r1 = spark.read.parquet(os.path.join(store, "run_00001"))
    bad = [r for r in r1.collect() if r.key == "bad"]
    assert len(bad) == 1 and bad[0].content_fp is None
    # parameter-kind guard shared with the text store
    with pytest.raises(ValueError, match="incompatible"):
        incremental_minhash_pairs(
            _docs(spark, [(1, _vocab_doc(1))]), store, "text", "doc_id"
        )


def test_explicit_run_id_retry_idempotent(spark, tmp_path):
    """Epoch-keyed commits: re-running run_id=1 (the at-least-once retry)
    replaces its own run, pairs only against strictly-older runs, and
    reproduces identical output — no self-matching against the first
    attempt's store entry, no extra run dirs."""
    store = str(tmp_path / "store")
    base = _docs(spark, [(d, _vocab_doc(d)) for d in range(5)])
    incremental_minhash_pairs(base, store, "text", "doc_id", run_id=0)
    new = _docs(spark, [(103, _vocab_doc(3))])
    first = sorted(
        (r.a_id, r.b_id)
        for r in incremental_minhash_pairs(
            new, store, "text", "doc_id", run_id=1
        ).collect()
    )
    retry = sorted(
        (r.a_id, r.b_id)
        for r in incremental_minhash_pairs(
            new, store, "text", "doc_id", run_id=1
        ).collect()
    )
    assert first == retry == [(3, 103)]
    assert sorted(d for d in os.listdir(store) if d.startswith("run_")) == [
        "run_00000", "run_00001"
    ]


def test_audio_store_run_id_retry_idempotent(spark, tmp_path):
    """Review r05: the audio store honors the same epoch-keyed retry
    semantics as the text twin — re-running run_id=1 replaces its own run
    and reproduces identical pairs."""
    from anzlic_validator_spark.functions.audio import encode, ref_signal
    from anzlic_validator_spark.operators.audio_dedup import incremental_audio_dedup

    sr = 8000

    def clip(key, j, codec):
        return (key, encode(ref_signal(j, sr, sr // 2, seed=11), sr, codec), codec, sr)

    schema = "clip_id string, bytes binary, codec string, sr_hz int"
    store = str(tmp_path / "astore")
    run1 = spark.createDataFrame([clip("a0", 0, "pcm_s16le")], schema)
    incremental_audio_dedup(run1, store, run_id=0)
    run2 = spark.createDataFrame([clip("b0", 0, "wav")], schema)
    first = sorted(
        (r.a_key, r.b_key)
        for r in incremental_audio_dedup(run2, store, run_id=1).collect()
    )
    retry = sorted(
        (r.a_key, r.b_key)
        for r in incremental_audio_dedup(run2, store, run_id=1).collect()
    )
    assert first == retry == [("a0", "b0")]
    assert sorted(d for d in os.listdir(store) if d.startswith("run_")) == [
        "run_00000", "run_00001"
    ]


def test_incremental_audio_neardup_store(spark, tmp_path):
    """Perceptual incremental audio near-dup: run 2's noisy copies pair
    against STORED frames/subfp (no re-decode of run 1 — plan has no
    ArrowEvalPython on the store side); new-vs-new half counts are not
    doubled (distinct-fp counting); the store kind is isolated from the
    content-fp store."""
    import numpy as np

    from anzlic_validator_spark.functions.audio import encode, ref_signal
    from anzlic_validator_spark.operators.audio_dedup import (
        incremental_audio_dedup,
        incremental_audio_neardup,
    )

    sr = 8000

    def clip(key, j, noise_key=None):
        pcm = ref_signal(j, sr, 2 * sr, seed=21)
        if noise_key is not None:
            rng = np.random.Generator(np.random.Philox(key=np.uint64(noise_key)))
            pcm = np.clip(
                pcm + 0.02 * rng.standard_normal(len(pcm)).astype(np.float32), -1, 1
            )
        return (key, encode(pcm, sr, "pcm_s16le"), "pcm_s16le", sr)

    schema = "clip_id string, bytes binary, codec string, sr_hz int"
    store = str(tmp_path / "nstore")
    run1 = spark.createDataFrame([clip("a0", 0), clip("a1", 1)], schema)
    assert incremental_audio_neardup(run1, store).count() == 0
    # run 2: two independent noisy copies of signal 0 -> new-vs-old pairs
    # for both AND the new-vs-new pair between them
    run2 = spark.createDataFrame(
        [clip("b0", 0, noise_key=7), clip("c0", 0, noise_key=8)], schema
    )
    p2 = incremental_audio_neardup(run2, store)
    got = sorted((r.a_key, r.b_key) for r in p2.collect())
    assert got == [("a0", "b0"), ("a0", "c0"), ("b0", "c0")]
    assert all(r.ber <= 0.25 for r in p2.collect())
    # the incremental plan decodes only the new batch: the store side is a
    # parquet scan, and the plan holds no Python at all (an ArrowEvalPython
    # node would be a decode re-run)
    plan = p2._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "Scan parquet" in plan
    # kind isolation: the content-fp store API refuses this store
    with pytest.raises(ValueError, match="incompatible"):
        incremental_audio_dedup(run2, store)


def test_dedup_stream_end_to_end(spark, tmp_path):
    """dedup_stream: 3 real micro-batches through foreachBatch; per-epoch
    pair sets match the planted copies; the store holds one run per epoch."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from anzlic_validator_spark.streaming.incremental import dedup_stream

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    store = str(tmp_path / "store")
    os.makedirs(inp)
    epochs = [
        [(d, _vocab_doc(d)) for d in range(6)],
        [(100, _vocab_doc(100)), (103, _vocab_doc(3))],
        [(203, _vocab_doc(3)), (204, _vocab_doc(100))],
    ]
    now = _time.time()
    for e, rows in enumerate(epochs):
        tbl = pa.table(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        )
        p = os.path.join(inp, f"epoch{e}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now - 600 + e * 120,) * 2)
    q = dedup_stream(
        spark, inp, "doc_id long, text string", store, out, ckpt,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(300)
    got = {
        (r.a_id, r.b_id, r.epoch)
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    assert got == {(3, 103, 1), (3, 203, 2), (103, 203, 2), (100, 204, 2)}
    assert sorted(d for d in os.listdir(store) if d.startswith("run_")) == [
        "run_00000", "run_00001", "run_00002"
    ]


def test_compact_store_folds_and_preserves_pairs(spark, tmp_path):
    """Store compaction (the fetch-history-merge analog): folding the run
    history into one dir changes NOTHING about subsequent pairing, deletes
    superseded runs, and run ids keep increasing past the fold's
    coverage."""
    from anzlic_validator_spark.operators.dedup_state import compact_store

    store = str(tmp_path / "store")
    for i in range(3):
        incremental_minhash_pairs(
            _docs(spark, [(10 * i + k, _vocab_doc(10 * i + k)) for k in range(3)]),
            store, "text", "doc_id",
        )
    fold = compact_store(spark, store)
    assert fold and fold.endswith("fold_00002")
    names = sorted(os.listdir(store))
    assert names == ["fold_00002", "meta.json"]  # runs superseded + deleted
    # a new batch pairs against the FOLD and commits as run_00003
    pairs = incremental_minhash_pairs(
        _docs(spark, [(900, _vocab_doc(11))]), store, "text", "doc_id"
    )
    assert [(r.a_id, r.b_id) for r in pairs.collect()] == [(11, 900)]
    assert "run_00003" in os.listdir(store)
    # re-compacting folds fold+run into fold_00003
    assert compact_store(spark, store).endswith("fold_00003")
    rows = spark.read.parquet(os.path.join(store, "fold_00003")).count()
    assert rows == 10  # 9 base + 1 new, duplicates collapsed


def test_compact_store_crash_safety_and_retry_horizon(spark, tmp_path):
    from anzlic_validator_spark.operators.dedup_state import (
        compact_store,
        store_live_inputs,
    )

    store = str(tmp_path / "store")
    incremental_minhash_pairs(
        _docs(spark, [(1, _vocab_doc(1))]), store, "text", "doc_id", run_id=0
    )
    incremental_minhash_pairs(
        _docs(spark, [(2, _vocab_doc(2))]), store, "text", "doc_id", run_id=1
    )
    # an ABORTED compaction (fold dir without its marker) is ignored: all
    # runs stay live and the next id is unaffected
    os.makedirs(os.path.join(store, "fold_00099"))
    dirs, next_id = store_live_inputs(store)
    assert [os.path.basename(d) for d in dirs] == ["run_00000", "run_00001"]
    assert next_id == 2
    os.rmdir(os.path.join(store, "fold_00099"))
    # real compaction up_to=0: run 1 stays individually retryable...
    compact_store(spark, store, up_to=0)
    retry = incremental_minhash_pairs(
        _docs(spark, [(2, _vocab_doc(2))]), store, "text", "doc_id", run_id=1
    )
    assert retry.count() == 0
    # ...but a retry BELOW the compaction horizon fails loudly
    with pytest.raises(ValueError, match="compaction horizon"):
        incremental_minhash_pairs(
            _docs(spark, [(1, _vocab_doc(1))]), store, "text", "doc_id", run_id=0
        )


def test_dedup_stream_auto_compaction(spark, tmp_path, monkeypatch):
    """The store's fold trigger bounds per-batch store reads without
    changing output: at a fold threshold of 1, the same 3-epoch fixture as
    the uncompacted test gives identical pairs, and the store ends as one
    fold + the last epoch's run."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    import anzlic_validator_spark.state_log as state_log_mod
    from anzlic_validator_spark.streaming.incremental import dedup_stream

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    store = str(tmp_path / "store")
    os.makedirs(inp)
    monkeypatch.setattr(state_log_mod, "FOLD_AT", 1)
    epochs = [
        [(d, _vocab_doc(d)) for d in range(6)],
        [(100, _vocab_doc(100)), (103, _vocab_doc(3))],
        [(203, _vocab_doc(3)), (204, _vocab_doc(100))],
    ]
    now = _time.time()
    for e, rows in enumerate(epochs):
        tbl = pa.table(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        )
        p = os.path.join(inp, f"epoch{e}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now - 600 + e * 120,) * 2)
    q = dedup_stream(
        spark, inp, "doc_id long, text string", store, out, ckpt,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(300)
    got = {
        (r.a_id, r.b_id, r.epoch)
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    assert got == {(3, 103, 1), (3, 203, 2), (103, 203, 2), (100, 204, 2)}
    names = sorted(
        d for d in os.listdir(store) if d.startswith(("run_", "fold_"))
    )
    assert names == ["fold_00001", "run_00002"]


def test_store_auto_fold_bounds_live_dirs_and_keeps_pairs(spark, tmp_path, monkeypatch):
    """Twenty batches into one store with no compact_store call: after
    every batch the store holds at most FOLD_AT live dirs, and the pairs
    equal those of the same batches with folding off (FOLD_AT above 20).
    A commit=False probe on a store past the threshold writes nothing."""
    import anzlic_validator_spark.state_log as state_log_mod
    from anzlic_validator_spark.operators.dedup_state import store_live_inputs

    n = state_log_mod.FOLD_AT
    # each batch copies one of the first five docs, so later batches pair
    # against rows that sit in a fold
    batches = [[(10 * k, _vocab_doc(k)), (10 * k + 1, _vocab_doc(k % 5))] for k in range(20)]

    def run(store):
        pairs, live = [], []
        for rows in batches:
            got = incremental_minhash_pairs(_docs(spark, rows), store, "text", "doc_id")
            pairs.append(sorted((r.a_id, r.b_id) for r in got.collect()))
            live.append(len(store_live_inputs(store)[0]))
        return pairs, live

    folded, live = run(str(tmp_path / "folded"))
    assert max(live) <= n
    assert live == list(range(1, n + 1)) + list(range(2, 22 - n))
    monkeypatch.setattr(state_log_mod, "FOLD_AT", 21)
    plain_store = str(tmp_path / "plain")
    plain, plain_live = run(plain_store)
    assert plain_live == list(range(1, 21))
    assert folded == plain
    assert any(folded[n:])  # pairs were found against the fold

    monkeypatch.undo()
    listing = sorted(os.listdir(plain_store))
    probe = incremental_minhash_pairs(
        _docs(spark, [(999, _vocab_doc(2))]), plain_store, "text", "doc_id", commit=False
    )
    assert {(r.a_id, r.b_id) for r in probe.collect()} == {
        (20, 999), (21, 999), (71, 999), (121, 999), (171, 999)
    }
    assert sorted(os.listdir(plain_store)) == listing
    spark.catalog.clearCache()


def test_result_kept_past_a_fold_fails_loudly(spark, tmp_path, monkeypatch):
    """A committing call's fold prunes the runs it merged, so pairs kept
    lazy past the call that folds can no longer be read: collecting them
    raises instead of returning fewer rows."""
    import anzlic_validator_spark.state_log as state_log_mod

    monkeypatch.setattr(state_log_mod, "FOLD_AT", 2)
    store = str(tmp_path / "store")
    first = incremental_minhash_pairs(
        _docs(spark, [(0, _vocab_doc(0)), (1, _vocab_doc(0))]), store, "text", "doc_id"
    )
    incremental_minhash_pairs(_docs(spark, [(2, _vocab_doc(2))]), store, "text", "doc_id")
    # the third call folds runs 0 and 1 and deletes them
    incremental_minhash_pairs(_docs(spark, [(3, _vocab_doc(3))]), store, "text", "doc_id")
    assert sorted(os.listdir(store)) == ["fold_00001", "meta.json", "run_00002"]
    with pytest.raises(Exception, match="FileNotFound|does not exist|FAILED_READ_FILE"):
        first.collect()


def test_incremental_embedding_neardup_store(spark, tmp_path):
    """Embedding twin of the fingerprint stores: stored rows carry vector
    + precomputed SRP buckets, so run 2's pair plan runs NO hashing UDF
    over the store (plan asserted); scaled copies pair with their source
    (cos 1.0) new-vs-old and new-vs-new; the store kind/params are
    guarded."""
    import numpy as np

    from anzlic_validator_spark.operators.similarity import (
        incremental_embedding_neardup,
    )

    rng = np.random.Generator(np.random.Philox(key=np.uint64(3)))
    vecs = rng.standard_normal((6, 16))

    def df(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<double>",
        )

    store = str(tmp_path / "estore")
    run1 = df([(i, vecs[i]) for i in range(6)])
    assert incremental_embedding_neardup(run1, store, dim=16).count() == 0
    run2 = df([(100, vecs[2] * 1.01), (200, vecs[2] * 0.5)])
    p2 = incremental_embedding_neardup(run2, store, dim=16)
    got = {(r.a_id, r.b_id): r.cos for r in p2.collect()}
    assert set(got) == {(2, 100), (2, 200), (100, 200)}
    assert all(c == 1.0 for c in got.values())
    plan = p2._jdf.queryExecution().executedPlan().toString()
    # no Python node: in particular the SRP hashing UDF never runs over the
    # store
    assert "ArrowEvalPython" not in plan
    assert "srp_buckets" not in plan
    assert "Scan parquet" in plan
    # SRP param drift against an existing store raises
    with pytest.raises(ValueError, match="incompatible"):
        incremental_embedding_neardup(run2, store, dim=16, bits=4)
    # norms are stored at commit (verify never recomputes them per run)
    r0 = spark.read.parquet(os.path.join(store, "run_00000"))
    assert {"id", "v", "bkts", "nrm"} <= set(r0.columns)


def _censuses(caplog) -> list[str]:
    """The hot-bucket censuses logged so far, up to their row totals."""
    return [
        r.message.split(" from candidate generation")[0]
        for r in caplog.records
        if "hot buckets" in r.message
    ]


def test_incremental_candidates_census_and_drop(spark, caplog):
    """The capped incremental candidate join must actually DROP and
    actually LOG. Identical-direction vectors land in one SRP bucket per
    table (8 tables); with a cap below the carrier count every candidate
    disappears and each call logs its census before it returns; with the
    cap above, pairs return and nothing is logged."""
    import logging
    import tempfile

    import numpy as np

    from anzlic_validator_spark.operators.similarity import (
        incremental_embedding_neardup,
    )

    rng = np.random.Generator(np.random.Philox(key=np.uint64(9)))
    base_v = rng.standard_normal(16)

    def df(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<double>",
        )

    run1 = df([(i, base_v * (1.0 + 0.001 * i)) for i in range(4)])
    run2 = df([(100, base_v * 1.5)])
    what = "incremental_embedding_neardup: dropped 8 hot buckets (> 3 rows each"
    with caplog.at_level(logging.WARNING,
                         logger="anzlic_validator_spark.operators.dedup"):
        with tempfile.TemporaryDirectory() as d1:
            s = os.path.join(d1, "s")
            incremental_embedding_neardup(run1, s, dim=16, max_bucket_size=3)
            # the store was empty: each bucket holds run 1's 4 vectors
            assert _censuses(caplog) == [f"{what}, 32 bucket-rows in total)"]
            out = incremental_embedding_neardup(run2, s, dim=16, max_bucket_size=3)
            assert _censuses(caplog) == [
                f"{what}, 32 bucket-rows in total)",
                f"{what}, 40 bucket-rows in total)",
            ]
            assert out.count() == 0  # every shared bucket is hot -> dropped
        caplog.clear()
        with tempfile.TemporaryDirectory() as d2:
            s = os.path.join(d2, "s")
            incremental_embedding_neardup(run1, s, dim=16, max_bucket_size=100)
            out = incremental_embedding_neardup(run2, s, dim=16, max_bucket_size=100)
            assert out.count() == 4  # cap above carriers: all pairs back
        assert _censuses(caplog) == []


def test_incremental_minhash_hot_band_cap(spark, tmp_path, caplog):
    """The text store's band join routes through the capped
    incremental_candidates. Staging a hot band (many identical docs in the
    store) and a cap below its carrier count must (a) drop every pair
    supported only by the hot bands, with the census logged, while (b)
    pairs in non-hot bands survive the same run."""
    import logging

    caplog.set_level(logging.WARNING, logger="anzlic_validator_spark.operators.dedup")
    store = str(tmp_path / "store")
    # 8 identical docs (one band-key set shared by all) + 2 distinct docs
    base = _docs(
        spark,
        [(d, _vocab_doc(0)) for d in range(8)]
        + [(100, _vocab_doc(50)), (101, _vocab_doc(60))],
    )
    what = "incremental_minhash_pairs: dropped 21 hot buckets (> 5 rows each"
    incremental_minhash_pairs(base, store, "text", "doc_id", max_bucket_size=5)
    assert _censuses(caplog) == [f"{what}, 168 bucket-rows in total)"]
    caplog.clear()
    # new batch: one more copy of the hot doc + one copy of a non-hot doc
    new = _docs(spark, [(900, _vocab_doc(0)), (901, _vocab_doc(50))])
    out = incremental_minhash_pairs(new, store, "text", "doc_id", max_bucket_size=5)
    # the 21 bands of the hot doc, each now 9 carriers, are the hot ones
    assert _censuses(caplog) == [f"{what}, 189 bucket-rows in total)"]
    pairs = sorted((r.a_id, r.b_id) for r in out.collect())
    # hot bands (9 carriers > cap 5) dropped -> no 900 pairs; the non-hot
    # copy pair (100, 901) survives
    assert pairs == [(100, 901)]
    # cap above the carrier count: every pair comes back (fresh store so
    # run 2's history is identical)
    store2 = str(tmp_path / "store2")
    incremental_minhash_pairs(base, store2, "text", "doc_id")
    all_pairs = sorted(
        (r.a_id, r.b_id)
        for r in incremental_minhash_pairs(new, store2, "text", "doc_id").collect()
    )
    assert (100, 901) in all_pairs
    assert [(a, b) for a, b in all_pairs if b == 900] == [
        (d, 900) for d in range(8)
    ]


def _pinned_minhash(spark, store):
    incremental_minhash_pairs(
        _docs(spark, [(d, _vocab_doc(d)) for d in range(5)]), store, "text", "doc_id"
    )
    return incremental_minhash_pairs(
        _docs(spark, [(103, _vocab_doc(3))]), store, "text", "doc_id"
    )


def _pinned_audio_perceptual(spark, store):
    from anzlic_validator_spark.functions.audio import encode, ref_signal
    from anzlic_validator_spark.operators.audio_dedup import incremental_audio_neardup

    sr = 8000

    def clips(rows):
        return spark.createDataFrame(
            [
                (k, encode(ref_signal(j, sr, 2 * sr, seed=21), sr, "pcm_s16le"), "pcm_s16le", sr)
                for k, j in rows
            ],
            "clip_id string, bytes binary, codec string, sr_hz int",
        )

    incremental_audio_neardup(clips([("a0", 0), ("a1", 1)]), store)
    return incremental_audio_neardup(clips([("b0", 0)]), store)


def _pinned_embedding(spark, store):
    import numpy as np

    from anzlic_validator_spark.operators.similarity import (
        incremental_embedding_neardup,
    )

    vecs = np.random.Generator(np.random.Philox(key=np.uint64(3))).standard_normal((6, 16))

    def df(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<double>",
        )

    incremental_embedding_neardup(df([(i, vecs[i]) for i in range(6)]), store, dim=16)
    return incremental_embedding_neardup(df([(100, vecs[2] * 1.01)]), store, dim=16)


@pytest.mark.parametrize(
    "second_batch",
    [_pinned_minhash, _pinned_audio_perceptual, _pinned_embedding],
    ids=["minhash", "audio_perceptual", "embedding"],
)
def test_incremental_verify_join_plan_pinned(spark, tmp_path, second_batch):
    """Every incremental family's verify joins against the store must be
    broadcast-hash with the candidate side as build: an AQE fallback to
    sort-merge would shuffle the whole store table twice. Pin the executed
    plan of a second batch against a non-empty store: no sort-merge or
    shuffled-hash join anywhere, and the two verify joins appear as
    BroadcastHashJoins."""
    p2 = second_batch(spark, str(tmp_path / "store"))
    assert p2.collect()  # a real pair, so AQE cannot prune the verify joins
    plan = p2._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_run_ids_past_five_digits_stay_visible(spark, tmp_path):
    """Review r05: run id 100000 formats to 6 digits; the loader must list
    it (a fixed 5-digit pattern made it invisible — next_id would stall and
    every later commit would silently replace the same dir) and order dirs
    NUMERICALLY ('run_100000' sorts before 'run_99999' lexically)."""
    from anzlic_validator_spark.operators.dedup_state import store_live_inputs
    from anzlic_validator_spark.state_log import StateLog

    store = tmp_path / "store"
    for rid in (99998, 99999, 100000):
        (store / f"run_{rid:05d}").mkdir(parents=True)
    dirs, next_id = store_live_inputs(str(store))
    assert [os.path.basename(d) for d in dirs] == [
        "run_99998", "run_99999", "run_100000"
    ]
    assert next_id == 100001
    # fold coverage is also compared numerically
    for cov in (99999, 100000):
        f = store / f"fold_{cov:05d}"
        f.mkdir()
        (f / "_FOLDED").touch()
    assert StateLog(str(store), spark).newest_fold() == 100000
    dirs2, next_id2 = store_live_inputs(str(store))
    assert [os.path.basename(d) for d in dirs2] == ["fold_100000"]
    assert next_id2 == 100001


def test_minhash_sigs_match_store_reread(spark, tmp_path):
    """The signatures the verify stage reads back from parquet are the
    signatures the plan computed — i.e. sig arrays round-trip exactly."""
    docs = _docs(spark, [(7, _vocab_doc(7))])
    direct = minhash_sigs(docs, "text", "doc_id").collect()[0]
    p = str(tmp_path / "sig")
    minhash_sigs(docs, "text", "doc_id").write.parquet(p)
    reread = spark.read.parquet(p).collect()[0]
    assert direct.id == reread.id and list(direct.sig) == list(reread.sig)


def test_one_file_batch_commits_on_every_core_without_schema_inference(spark, tmp_path):
    """A one-file batch is one scan split. The call spreads it, so its
    first two jobs are the spread's one-task shuffle map stage, then the
    commit write, which computes the signatures on ``defaultParallelism``
    tasks. The hot-bucket census follows: a map stage and a result stage
    over the committed run's ``width`` files. Against a non-empty store
    the first pair builds the touched-key broadcast, and the census pair
    scans both runs, ``2 * width`` files. No store read (the
    committed run, the prior runs) runs a parquet schema-inference job,
    which would be a job of its own."""
    width = spark.sparkContext.defaultParallelism
    tracker = spark.sparkContext.statusTracker()
    store = str(tmp_path / "store")
    batches = [
        [(d, _vocab_doc(d)) for d in range(40)],
        [(100 + d, _vocab_doc(d)) for d in range(0, 40, 4)],
    ]
    for k, rows in enumerate(batches):
        path = str(tmp_path / f"batch_{k}")
        _docs(spark, rows).coalesce(1).write.parquet(path)
        batch = spark.read.parquet(path)
        assert batch.rdd.getNumPartitions() == 1
        group = f"one-file-batch-{k}"
        spark.sparkContext.setJobGroup(group, group)
        try:
            pairs = incremental_minhash_pairs(batch, store, "text", "doc_id")
            jobs = sorted(tracker.getJobIdsForGroup(group))
        finally:
            spark.sparkContext.setJobGroup("tests", "tests")
        tasks = [[tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds]
                 for j in jobs]
        assert tasks[0] == [1] and max(tasks[1]) == width, f"batch {k}: {tasks}"
        census = [[width], [width, 1]]
        if k:
            census += [[2 * width], [2 * width, 1]]
        assert tasks[2:] == census, f"batch {k}: jobs {jobs} with stage tasks {tasks}"
        assert len(pairs.collect()) == (0 if k == 0 else len(batches[1]))


def test_a_batch_is_cast_to_the_stores_pinned_id_type(spark, tmp_path):
    """The first commit pins the store's row schema. A later batch with a
    narrower integral id is widened to it, committed as bigint and paired
    against the store, and the store still folds; a batch whose id is a
    string raises instead of casting ids."""
    from anzlic_validator_spark.operators.dedup_state import compact_store, store_live_inputs

    store = str(tmp_path / "store")
    originals = [(d, _vocab_doc(d)) for d in range(20)]
    incremental_minhash_pairs(_docs(spark, originals), store, "text", "doc_id").collect()
    copies = spark.createDataFrame(
        [(100 + d, _vocab_doc(d)) for d in range(0, 20, 5)], "doc_id int, text string"
    )
    pairs = incremental_minhash_pairs(copies, store, "text", "doc_id").collect()
    assert sorted((r.a_id, r.b_id) for r in pairs) == [(d, 100 + d) for d in range(0, 20, 5)]
    newest = store_live_inputs(store)[0][-1]
    assert spark.read.parquet(newest).schema["id"].dataType.simpleString() == "bigint"
    compact_store(spark, store)
    (folded,) = store_live_inputs(store)[0]
    assert spark.read.parquet(folded).count() == 24

    strings = spark.createDataFrame([("x", _vocab_doc(1))], "doc_id string, text string")
    with pytest.raises(ValueError, match="holds rows of"):
        incremental_minhash_pairs(strings, store, "text", "doc_id")


def test_a_store_written_before_schemas_were_pinned_pins_its_rows_schema(spark, tmp_path):
    """A store whose ``meta.json`` holds no schema infers it from its rows
    and pins it on its next commit; the batch is cast to it."""
    import json

    from pyspark.sql.types import StructType

    store = str(tmp_path / "store")
    originals = [(d, _vocab_doc(d)) for d in range(10)]
    incremental_minhash_pairs(_docs(spark, originals), store, "text", "doc_id").collect()
    meta_path = os.path.join(store, "meta.json")
    with open(meta_path, encoding="utf-8") as fh:
        meta = json.load(fh)
    pinned = meta.pop("schema")
    with open(meta_path, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)

    copies = spark.createDataFrame([(100, _vocab_doc(3))], "doc_id int, text string")
    pairs = incremental_minhash_pairs(copies, store, "text", "doc_id").collect()
    assert [(r.a_id, r.b_id) for r in pairs] == [(3, 100)]
    with open(meta_path, encoding="utf-8") as fh:
        repinned = json.load(fh)["schema"]
    types = [StructType.fromJson(doc).simpleString() for doc in (repinned, pinned)]
    assert types[0] == types[1]
