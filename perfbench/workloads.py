"""The benchmark workloads.

Each workload makes its inputs from the seed, runs one *unit* of work
through the engine's public functions, and checks the unit's output
against ``census`` (expected results computed without the engine).

- ``clips_decode``: the headline sweep, ``run.run_validation`` with the
  default catalog over synthetic audio clips; the Arrow decode UDF and the
  numpy FLAC kernel dominate.
- ``clips_catalog``: the same sweep without the ``audio_decode`` rule over
  a larger audio-free table; decode does no work, so a decode change must
  read as no change here. It is run by hand (``--workload clips_catalog``):
  ``BENCHMARK.json`` leaves it out, as a third workload does not fit the
  benchmark's run budget.
- ``state_incremental``: ``validate_stream`` over small parquet epochs
  (per-epoch fixed costs and the seen-keys log), then successive
  ``incremental_minhash_pairs`` batches into one growing fingerprint store
  and ``compact_store``.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import statistics
import time

import census

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's hidden ``.crc``/``_SUCCESS``
    files count as bytes but not as data files."""
    total = files = 0
    for base, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(base, name))
            files += not name.startswith((".", "_"))
    return total, files


class ClipsWorkload:
    """``run_validation`` over a ``synth.clips`` table and its index."""

    n_buckets = 8
    warm_up_units = 2

    def __init__(self, seed: int, work: str, n: int, keep_from: int, audio: bool):
        self.seed = seed
        self.work = work
        self.n = n
        self.keep_from = keep_from
        self.audio = audio
        rng = random.Random(seed)
        spacings = [89, 97, 101, 103, 107, 109, 113, 127]
        self.missing_every, self.mismatch_every = rng.sample(spacings, 2)
        self.clips_path = os.path.join(work, "clips")
        self.index_path = os.path.join(work, "index")
        self.catalog_path = os.path.join(work, "rules.yaml")
        self.expected = census.clips_census(
            n, keep_from, self.missing_every, self.mismatch_every, audio
        )

    @property
    def rows(self) -> int:
        return self.n // 1000 * (1000 - self.keep_from) + max(0, self.n % 1000 - self.keep_from)

    def write_catalog(self) -> None:
        if self.audio:
            with open(os.path.join(ROOT, "configs", "rules_default.yaml"), encoding="utf-8") as fh:
                text = fh.read()
            # the SNR check regenerates each clip's reference signal from
            # this seed, so it must be the seed the clips were made with
            text, hits = re.subn(r"ref_seed: \d+", f"ref_seed: {self.seed}", text)
            if hits != 1:
                raise RuntimeError("configs/rules_default.yaml: expected one ref_seed")
        else:
            with open(os.path.join(HERE, "rules_catalog.yaml"), encoding="utf-8") as fh:
                text = fh.read()
        with open(self.catalog_path, "w", encoding="utf-8") as fh:
            fh.write(text)

    def prepare(self) -> None:
        os.makedirs(self.work, exist_ok=True)
        self.write_catalog()

    def stage(self, spark) -> None:
        """Synthesize the inputs with the session (needs Spark; untimed)."""
        from anzlic_validator_spark.synth import clips, transcript_index
        from session import cores

        from pyspark.sql import functions as F

        parts = 2 * cores()
        table = clips(spark, self.n, seed=self.seed, with_audio=self.audio, num_partitions=parts)
        if self.keep_from:
            # ids below keep_from in each cycle of 1000 are all clean rows;
            # dropping them keeps every anomaly window at a smaller size
            row_id = F.regexp_extract("clip_id", r"(\d+)$", 1).cast("long")
            table = table.where(row_id % 1000 >= self.keep_from)
        table.write.mode("overwrite").option("compression", "none").parquet(self.clips_path)
        transcript_index(
            spark,
            self.n,
            seed=self.seed,
            missing_every=self.missing_every,
            mismatch_every=self.mismatch_every,
            num_partitions=parts,
        ).write.mode("overwrite").parquet(self.index_path)

    def first_read(self, spark) -> None:
        spark.read.parquet(self.clips_path).select("clip_id").count()
        spark.read.parquet(self.index_path).count()

    def unit(self, spark, out: str, tracer) -> dict:
        from anzlic_validator_spark.run import run_validation

        with tracer.span(spark, "run.run_validation"):
            return run_validation(
                spark,
                spark.read.parquet(self.clips_path),
                catalog_path=self.catalog_path,
                output=out,
                key_col="clip_id",
                refs={"transcript_index": spark.read.parquet(self.index_path)},
                n_buckets=self.n_buckets,
                input_paths=[self.clips_path],
            )

    def driver_layers(self, spark) -> dict[str, float]:
        """Driver-side timings of single layers on this workload's input."""
        from anzlic_validator_spark.engine import validate
        from anzlic_validator_spark.manifest import input_snapshot, input_snapshots_per_bucket
        from anzlic_validator_spark.rules import load_catalog

        out = {}
        t = time.perf_counter()
        result = validate(
            spark.read.parquet(self.clips_path),
            load_catalog(self.catalog_path),
            key_col="clip_id",
            refs={"transcript_index": spark.read.parquet(self.index_path)},
        )
        result.verdicts._jdf.queryExecution().executedPlan()
        out["engine.plan_build_s"] = time.perf_counter() - t
        t = time.perf_counter()
        input_snapshots_per_bucket([self.clips_path], self.n_buckets, spark=spark)
        input_snapshot([self.clips_path])
        out["manifest.snapshot_s"] = time.perf_counter() - t
        if self.audio:
            out.update(self._decode_layers())
        return out

    def _decode_layers(self, sample: int = 100) -> dict[str, float]:
        """The decode kernel and the decode-check UDF body, single-threaded
        on the first ``sample`` staged clips."""
        import pandas as pd
        import pyarrow.dataset as ds
        from anzlic_validator_spark.functions.audio import decode, make_decode_check_udf

        cols = ["bytes", "codec", "sr_hz", "clip_id"]
        pdf = ds.dataset(self.clips_path, format="parquet").head(sample, columns=cols).to_pandas()
        t = time.perf_counter()
        for b, codec in zip(pdf["bytes"], pdf["codec"]):
            decode(b, codec)
        kernel = time.perf_counter() - t
        body = make_decode_check_udf(self.seed).func
        t = time.perf_counter()
        body(pdf["bytes"], pdf["codec"], pdf["sr_hz"], pdf["clip_id"])
        udf = time.perf_counter() - t
        n = len(pdf)
        return {
            "functions.audio.kernel_ms_per_clip": 1000.0 * kernel / n,
            "functions.audio.udf_body_ms_per_clip": 1000.0 * udf / n,
        }

    def check(self, result: dict, out: str) -> list[str]:
        import pyarrow.dataset as ds

        exp = self.expected
        bad = [
            f"{k}: {result.get(k)} != {exp[k]}"
            for k in ("rows", "failed_rows", "violations")
            if result.get(k) != exp[k]
        ]
        table = ds.dataset(
            os.path.join(out, "violations"), format="parquet", partitioning="hive"
        ).to_table(columns=["rule_id"])
        got: dict[str, int] = {}
        for rid in table.column("rule_id").to_pylist():
            got[rid] = got.get(rid, 0) + 1
        if got != exp["rules"]:
            bad.append(f"per-rule counts {sorted(got.items())} != {sorted(exp['rules'].items())}")
        return bad

    def output_bytes(self, out: str) -> tuple[int, int]:
        return dir_bytes(out)


def clips_decode(seed: int, work: str, smoke: bool = False) -> ClipsWorkload:
    return ClipsWorkload(seed, work, n=1_000, keep_from=900 if smoke else 500, audio=True)


def clips_catalog(seed: int, work: str, smoke: bool = False) -> ClipsWorkload:
    return ClipsWorkload(seed, work, n=2_000 if smoke else 100_000, keep_from=0, audio=False)


def _write_parquet(rows: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(rows), path)


class DedupWorkload:
    """``incremental_minhash_pairs`` over ``batches`` successive batches
    into a fresh store, then ``compact_store``.

    Docs are 40 words drawn from a 20 000-word vocabulary, so two distinct
    docs share essentially no 3-shingles. From the second batch on,
    ``COPY_RATE`` of each batch are verbatim copies (new id) of docs from
    earlier batches, each original copied at most once: the expected pair
    set is exactly {(original, copy)} with signature agreement 1.0. The rate
    stays low on purpose: a generator that gave every doc several twins
    overloaded the pinned candidate broadcast of the verify join ("Not
    enough memory to build and broadcast the table"); heavy duplication is
    a robustness case, not this benchmark.
    """

    COPY_RATE = 0.10
    WORDS_PER_DOC = 40
    VOCAB = 20_000

    def __init__(self, seed: int, work: str, batches: int, batch_docs: int):
        self.seed = seed
        self.work = work
        self.batches = batches
        self.batch_docs = batch_docs
        self.batch_paths = [os.path.join(work, f"batch_{k}.parquet") for k in range(batches)]
        self.expected: set[tuple[int, int]] = set()

    @property
    def rows(self) -> int:
        return self.batches * self.batch_docs

    def prepare(self) -> None:
        rng = random.Random(self.seed)
        texts: dict[int, str] = {}
        uncopied: list[int] = []
        for k, path in enumerate(self.batch_paths):
            ids, docs = [], []
            n_copies = int(self.batch_docs * self.COPY_RATE) if k else 0
            originals = rng.sample(uncopied, n_copies)
            for i in range(self.batch_docs):
                doc_id = k * self.batch_docs + i
                if i < n_copies:
                    text = texts[originals[i]]
                    self.expected.add((originals[i], doc_id))
                else:
                    words = (rng.randrange(self.VOCAB) for _ in range(self.WORDS_PER_DOC))
                    text = " ".join(f"w{w}" for w in words)
                    texts[doc_id] = text
                ids.append(doc_id)
                docs.append(text)
            taken = set(originals)
            uncopied = [d for d in uncopied if d not in taken]
            uncopied.extend(d for d in ids if d in texts)
            _write_parquet({"id": ids, "text": docs}, path)

    def unit(self, spark, out: str, tracer) -> dict:
        from anzlic_validator_spark.operators.dedup_state import (
            compact_store,
            incremental_minhash_pairs,
            store_live_inputs,
        )

        pairs = []
        for path in self.batch_paths:
            # the call commits the batch's signatures; the pairs stay lazy
            with tracer.span(spark, "dedup_state.sig"):
                found = incremental_minhash_pairs(spark.read.parquet(path), out, "text", "id")
            with tracer.span(spark, "dedup.pairs"):
                pairs.extend(found.collect())
        tracer.note("store.live_dirs", len(store_live_inputs(out)[0]))
        with tracer.span(spark, "store.compact"):
            compact_store(spark, out)
        tracer.note("store.bytes", dir_bytes(out)[0])
        tracer.note("dedup.verified_pairs", len(pairs))
        return {"pairs": [(r.a_id, r.b_id, r.sig_sim) for r in pairs]}

    def check(self, result: dict, out: str) -> list[str]:
        import pyarrow.dataset as ds
        from anzlic_validator_spark.operators.dedup_state import store_live_inputs

        bad = []
        got = {(a, b) for a, b, _ in result["pairs"]}
        if len(got) != len(result["pairs"]):
            bad.append(f"{len(result['pairs']) - len(got)} duplicate pair rows")
        if got != self.expected:
            bad.append(
                f"pairs: {len(got - self.expected)} unexpected, "
                f"{len(self.expected - got)} missing of {len(self.expected)}"
            )
        if any(sim != 1.0 for _, _, sim in result["pairs"]):
            bad.append("a verbatim copy scored sig_sim below 1.0")
        live, _ = store_live_inputs(out)
        if len(live) != 1:
            bad.append(f"{len(live)} live store dirs after compaction")
        else:
            n = ds.dataset(live[0], format="parquet").count_rows()
            if n != self.rows:
                bad.append(f"compacted store holds {n} rows, not {self.rows}")
        return bad

    def output_bytes(self, out: str) -> tuple[int, int]:
        return dir_bytes(out)


class StreamWorkload:
    """``validate_stream`` over ``epochs`` parquet files, one per micro-batch.

    Rows follow the clips schema without audio. From the second epoch on,
    ``DUP_RATE`` of each epoch repeat a clip_id first seen in an earlier
    epoch (each at most once), which only the seen-keys log can catch; a few
    rows also break the codec vocabulary or the duration range. The log
    folds once ``FOLD_AFTER`` prior epochs exist, so two epochs cover
    append and fold (the deferred delete of folded partitions needs a
    third epoch, which would cost a quarter of the unit).
    """

    DUP_RATE = 0.05
    FOLD_AFTER = 1

    def __init__(self, seed: int, work: str, epochs: int, epoch_rows: int):
        self.seed = seed
        self.work = work
        self.epochs = epochs
        self.epoch_rows = epoch_rows
        self.input_dir = os.path.join(work, "epochs")
        self.catalog_path = os.path.join(HERE, "rules_stream.yaml")
        self.expected: dict = {}

    @property
    def rows(self) -> int:
        return self.epochs * self.epoch_rows

    def prepare(self) -> None:
        from collections import Counter

        import pyarrow as pa

        rng = random.Random(self.seed)
        base = rng.randrange(10**9)
        rules: Counter = Counter()
        seen: dict[str, int] = {}
        unrepeated: list[str] = []
        cross: set[tuple[str, str]] = set()
        for e in range(self.epochs):
            rows: dict[str, list] = {c: [] for c in ("clip_id", "sr_hz", "dur_ms", "codec", "transcript")}
            n_dups = int(self.epoch_rows * self.DUP_RATE) if e else 0
            repeats = rng.sample(unrepeated, n_dups)
            for i in range(self.epoch_rows):
                if i < n_dups:
                    cid = repeats[i]
                    cross.add((cid, f"seen_in_epoch={seen[cid]}"))
                else:
                    cid = f"clip-{base + e * self.epoch_rows + i:012d}"
                    seen[cid] = e
                    unrepeated.append(cid)
                codec = census.CODECS[i % 3]
                dur = 200 + (i * 37) % 1801
                if rng.random() < 0.02:
                    codec = "mp3"
                    rules["codec.in_set.incorrect"] += 1
                if rng.random() < 0.01:
                    dur = 50
                    rules["dur_ms.range.incorrect"] += 1
                rows["clip_id"].append(cid)
                rows["sr_hz"].append(16000)
                rows["dur_ms"].append(dur)
                rows["codec"].append(codec)
                rows["transcript"].append(f"epoch {e} row {i}")
            taken = set(repeats)
            unrepeated = [c for c in unrepeated if c not in taken]
            path = os.path.join(self.input_dir, f"epoch_{e:03d}.parquet")
            _write_parquet(
                {
                    "clip_id": rows["clip_id"],
                    "bytes": pa.nulls(self.epoch_rows, pa.binary()),
                    "sr_hz": pa.array(rows["sr_hz"], pa.int32()),
                    "dur_ms": pa.array(rows["dur_ms"], pa.int32()),
                    "codec": rows["codec"],
                    "transcript": rows["transcript"],
                },
                path,
            )
            # the file source admits files oldest first
            os.utime(path, (1_000_000 + e, 1_000_000 + e))
        rules["clip_id.unique.incorrect"] = len(cross)
        self.expected = {"rules": dict(rules), "cross": cross}

    def first_read(self, spark) -> None:
        spark.read.parquet(self.input_dir).count()

    def unit(self, spark, out: str, tracer) -> dict:
        from anzlic_validator_spark.rules import load_catalog
        from anzlic_validator_spark.streaming.incremental import validate_stream

        with tracer.span(spark, "streaming.validate_stream"):
            return self._stream(spark, out, load_catalog, validate_stream, tracer)

    def _stream(self, spark, out, load_catalog, validate_stream, tracer) -> dict:
        q = validate_stream(
            spark,
            self.input_dir,
            load_catalog(self.catalog_path),
            os.path.join(out, "sink"),
            os.path.join(out, "checkpoint"),
            key_col="clip_id",
            max_files_per_trigger=1,
            seen_log_max_partitions=self.FOLD_AFTER,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        epochs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in q.recentProgress]
        if epochs:
            tracer.note("stream.epoch_s", statistics.median(epochs))
        return {"progress": q.recentProgress}

    def driver_layers(self, spark) -> dict[str, float]:
        from anzlic_validator_spark.engine import validate
        from anzlic_validator_spark.rules import load_catalog

        t = time.perf_counter()
        first = os.path.join(self.input_dir, sorted(os.listdir(self.input_dir))[0])
        result = validate(spark.read.parquet(first), load_catalog(self.catalog_path), key_col="clip_id")
        result.verdicts._jdf.queryExecution().executedPlan()
        return {"engine.plan_build_s": time.perf_counter() - t}

    def check(self, result: dict, out: str) -> list[str]:
        import pyarrow.dataset as ds

        bad = []
        batches = len(result["progress"])
        if batches != self.epochs:
            bad.append(f"{batches} micro-batches for {self.epochs} epochs")
        t = ds.dataset(
            os.path.join(out, "sink", "violations"), format="parquet", partitioning="hive"
        ).to_table(columns=["key", "rule_id", "observed"])
        got: dict[str, int] = {}
        cross = set()
        for key, rid, obs in zip(*(t.column(c).to_pylist() for c in ("key", "rule_id", "observed"))):
            got[rid] = got.get(rid, 0) + 1
            if rid == "clip_id.unique.incorrect":
                cross.add((key, obs))
        if got != self.expected["rules"]:
            bad.append(f"per-rule counts {sorted(got.items())} != {sorted(self.expected['rules'].items())}")
        if cross != self.expected["cross"]:
            bad.append("cross-epoch duplicate keys or first epochs differ from the planted ones")
        return bad

    def output_bytes(self, out: str) -> tuple[int, int]:
        return dir_bytes(os.path.join(out, "sink"))


class StateWorkload:
    """The two stateful incremental paths in one unit: a ``StreamWorkload``
    pass, then a ``DedupWorkload`` pass. Both keep a log that grows per
    epoch or batch and fold it (the seen-keys log, the fingerprint store),
    so a change to either state protocol moves this workload and neither
    clips workload."""

    audio = False
    warm_up_units = 1

    def __init__(self, seed: int, work: str, smoke: bool):
        self.stream = StreamWorkload(
            seed, os.path.join(work, "stream"), epochs=2, epoch_rows=50 if smoke else 300
        )
        self.dedup = DedupWorkload(
            seed, os.path.join(work, "dedup"), batches=2, batch_docs=100 if smoke else 200
        )
        self.parts = (self.stream, self.dedup)

    @property
    def rows(self) -> int:
        return self.stream.rows + self.dedup.rows

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def stage(self, spark) -> None:
        pass

    def first_read(self, spark) -> None:
        self.stream.first_read(spark)

    def unit(self, spark, out: str, tracer) -> dict:
        return {
            "stream": self.stream.unit(spark, os.path.join(out, "stream"), tracer),
            "dedup": self.dedup.unit(spark, os.path.join(out, "store"), tracer),
        }

    def driver_layers(self, spark) -> dict[str, float]:
        return self.stream.driver_layers(spark)

    def check(self, result: dict, out: str) -> list[str]:
        return self.stream.check(result["stream"], os.path.join(out, "stream")) + self.dedup.check(
            result["dedup"], os.path.join(out, "store")
        )

    def output_bytes(self, out: str) -> tuple[int, int]:
        a = self.stream.output_bytes(os.path.join(out, "stream"))
        b = self.dedup.output_bytes(os.path.join(out, "store"))
        return a[0] + b[0], a[1] + b[1]


def state_incremental(seed: int, work: str, smoke: bool = False) -> StateWorkload:
    return StateWorkload(seed, work, smoke)


WORKLOADS = {
    "clips_decode": clips_decode,
    "clips_catalog": clips_catalog,
    "state_incremental": state_incremental,
}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
