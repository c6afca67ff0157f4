"""The state-on-disk protocol (anzlic_validator_spark/state_log.py) under
its three users: the checkpoint manifest, the fingerprint store and the
streaming seen-keys log.

- a crash between the protocol's steps (after the data write, after the
  rename, before the marker), followed by the caller's retry, ends in the
  same pairs, violations, manifest and state listing as an uninterrupted
  run;
- every user works on a state dir given as a ``file://`` URI with the
  POSIX shortcuts (``os.replace`` and friends) unusable from the modules
  that own state.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import anzlic_validator_spark.manifest as manifest_mod
import anzlic_validator_spark.operators.dedup_state as dedup_state_mod
import anzlic_validator_spark.run as run_mod
import anzlic_validator_spark.state_log as state_log_mod
import anzlic_validator_spark.streaming.incremental as incremental_mod
from anzlic_validator_spark.operators.dedup_state import compact_store, incremental_minhash_pairs
from anzlic_validator_spark.rules import parse_catalog
from anzlic_validator_spark.run import read_violations, run_validation
from anzlic_validator_spark.state_log import StateLog
from anzlic_validator_spark.streaming.incremental import validate_stream
from anzlic_validator_spark.synth import clips


class Crash(Exception):
    """The injected fault."""


class Fault:
    """Make the ``nth`` state_log step at ``point`` raise ``Crash``, once."""

    def __init__(self, monkeypatch, point: str, nth: int):
        self.fired = False
        calls = [0]

        def fire():
            calls[0] += 1
            if calls[0] == nth:
                self.fired = True
                raise Crash(point)

        rename, touch = StateLog._rename, StateLog._touch
        if point == "after_write":

            def _rename(log, *a, **k):
                fire()
                rename(log, *a, **k)

            monkeypatch.setattr(StateLog, "_rename", _rename)
        elif point == "after_rename":

            def _rename(log, *a, **k):
                rename(log, *a, **k)
                fire()

            monkeypatch.setattr(StateLog, "_rename", _rename)
        else:

            def _touch(log, *a, **k):
                fire()
                touch(log, *a, **k)

            monkeypatch.setattr(StateLog, "_touch", _touch)

    def retry(self, step):
        """Run ``step``; when the fault interrupted it, run it once more."""
        try:
            return step()
        except Exception:
            if not self.fired:
                raise
            return step()


class NoFault:
    fired = True

    @staticmethod
    def retry(step):
        return step()


def _listing(path: str) -> list[str]:
    return sorted(os.listdir(path))


# -- the three users ---------------------------------------------------------

_RULES = (
    "version: 1\n"
    "rules:\n"
    "  - {id: clip_id.format, type: format, column: clip_id, pattern: '^clip-0*[0-9]*[1-9]$'}\n"
    "  - {id: codec.in_set, type: in_set, column: codec, values: [wav, flac]}\n"
)


def run_manifest(spark, base: str, fault) -> dict:
    """One run_validation sweep, retried once if interrupted."""
    local = base.replace("file://", "")
    inp, out, rules = f"{base}/clips", f"{base}/out", os.path.join(local, "rules.yaml")
    clips(spark, 160, seed=7, with_audio=False, num_partitions=2).write.parquet(inp)
    with open(rules, "w", encoding="utf-8") as fh:
        fh.write(_RULES)

    def step():
        return run_validation(
            spark, spark.read.parquet(inp), catalog_path=rules, output=out,
            n_buckets=4, input_paths=[inp],
        )

    fault.retry(step)
    doc = StateLog(out, spark).read_json("manifest.json")
    # fingerprints hold paths and mtimes: compare them with the input's own
    snaps = manifest_mod.input_snapshots_per_bucket([inp], 4, spark)
    for b, e in doc["buckets"].items():
        e.pop("run_id"), e.pop("completed_at")
        e["snapshot_id"] = e["snapshot_id"] == snaps[int(b)]
        e["files"] = [f.rsplit("/", 1)[-1] for f in e["files"]]
    runs = [
        {k: v for k, v in r.items() if k not in ("run_id", "wall_clock_s", "snapshot_id")}
        for r in doc["runs"]
    ]
    violations = sorted(
        map(tuple, read_violations(spark, out).select("key", "rule_id", "observed").collect())
    )
    return {"buckets": doc["buckets"], "runs": runs, "violations": violations}


def _doc(d: int) -> str:
    return " ".join(f"t{d * 100 + j}" for j in range(20))


def run_store(spark, base: str, fault) -> dict:
    """Two epoch-keyed batches into one store, then a compaction."""
    store = f"{base}/store"
    batches = [
        [(d, _doc(d)) for d in range(6)],
        [(100, _doc(100)), (103, _doc(3)), (104, _doc(4))],
    ]
    pairs = []
    for run_id, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs.append(fault.retry(lambda: sorted(
            (r.a_id, r.b_id) for r in incremental_minhash_pairs(
                df, store, "text", "doc_id", run_id=run_id
            ).collect()
        )))
    fault.retry(lambda: compact_store(spark, store))
    live, _ = dedup_state_mod.store_live_inputs(store)
    rows = sorted(r.id for r in spark.read.parquet(*live).collect())
    return {"pairs": pairs, "rows": rows, "listing": _listing(store.replace("file://", ""))}


def run_seen_log(spark, base: str, fault) -> dict:
    """Three epochs through validate_stream: a run, then two folds."""
    local = base.replace("file://", "")
    inp = os.path.join(local, "in")
    os.makedirs(inp, exist_ok=True)
    epochs = [["a", "b"], ["c", "a"], ["d", "b", "c"]]
    now = time.time()
    for e, keys in enumerate(epochs):
        p = os.path.join(inp, f"epoch{e}.parquet")
        pq.write_table(
            pa.table({
                "clip_id": keys, "bytes": pa.nulls(len(keys), pa.binary()),
                "sr_hz": pa.array([16000] * len(keys), pa.int32()),
                "dur_ms": pa.array([500] * len(keys), pa.int32()),
                "codec": ["wav"] * len(keys), "transcript": keys,
            }),
            p,
        )
        os.utime(p, (now - 600 + e * 60,) * 2)
    cat = parse_catalog({"rules": [{"id": "clip_id.unique", "type": "unique", "columns": ["clip_id"]}]})
    out, ckpt = f"{base}/out", f"{base}/ckpt"

    def step():
        q = validate_stream(
            spark, inp, cat, out, ckpt, max_files_per_trigger=1, seen_log_max_partitions=1
        )
        q.awaitTermination(300)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    fault.retry(step)
    v = spark.read.parquet(f"{out}/violations").select("key", "rule_id", "observed", "epoch")
    return {
        "violations": sorted(map(tuple, v.collect())),
        "listing": _listing(os.path.join(local, "out", "_seen_keys")),
    }


USERS = {"manifest": run_manifest, "store": run_store, "seen_log": run_seen_log}


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    cache: dict[str, dict] = {}

    def get(user: str) -> dict:
        if user not in cache:
            cache[user] = USERS[user](spark, str(tmp_path_factory.mktemp(user)), NoFault)
        return cache[user]

    return get


# (user, point, nth): nth counts the point's steps in the user's sequence.
#   manifest: rename 1 = manifest.json
#   store:    rename 1 = meta.json, 2 = run_0, 3 = run_1, 4 = fold; marker 1 = fold
#   seen_log: rename 1 = run_0, 2 = fold_1, 3 = fold_2; marker 1 = fold_1
CASES = [
    ("manifest", "after_write", 1),
    ("manifest", "after_rename", 1),
    ("store", "after_write", 3),
    ("store", "after_rename", 3),
    ("store", "after_write", 4),
    ("store", "after_rename", 4),
    ("store", "before_marker", 1),
    ("seen_log", "after_write", 1),
    ("seen_log", "after_rename", 2),
    ("seen_log", "before_marker", 1),
    ("seen_log", "after_rename", 3),
]


@pytest.mark.parametrize("user,point,nth", CASES, ids=[f"{u}-{p}-{n}" for u, p, n in CASES])
def test_crash_then_retry_matches_uninterrupted(spark, tmp_path, monkeypatch, uninterrupted, user, point, nth):
    fault = Fault(monkeypatch, point, nth)
    got = USERS[user](spark, str(tmp_path), fault)
    assert fault.fired, "the injected crash never happened"
    monkeypatch.undo()
    assert got == uninterrupted(user)


_FORBIDDEN = {
    os: ("replace", "listdir", "makedirs"),
    shutil: ("rmtree",),
    tempfile: ("mkstemp",),
}
_OWNERS = {m.__name__ for m in (manifest_mod, dedup_state_mod, incremental_mod, run_mod, state_log_mod)}


def _forbid_for_owners(monkeypatch) -> None:
    """Make each forbidden call raise when made from a module that owns
    state, wherever it imported it from; other callers (Spark, pyarrow,
    this test) still reach the real function."""
    for module, names in _FORBIDDEN.items():
        for name in names:
            real = getattr(module, name)

            def guarded(*a, _real=real, _name=f"{module.__name__}.{name}", **k):
                caller = sys._getframe(1).f_globals.get("__name__")
                if caller in _OWNERS:
                    raise AssertionError(f"{caller} used the POSIX shortcut {_name}")
                return _real(*a, **k)

            monkeypatch.setattr(module, name, guarded)


def test_users_run_on_a_uri_state_dir_without_posix_calls(spark, tmp_path, monkeypatch, uninterrupted):
    """Every user works with its state dir given as a ``file://`` URI while
    ``os.replace``, ``os.listdir``, ``os.makedirs``, ``shutil.rmtree`` and
    ``tempfile.mkstemp`` raise for the modules that own state."""
    base = tmp_path.as_uri()
    _forbid_for_owners(monkeypatch)
    got = {user: USERS[user](spark, f"{base}/{user}", NoFault) for user in USERS}
    monkeypatch.undo()
    for user, res in got.items():
        assert res == uninterrupted(user), user


def test_json_replace_falls_back_to_an_overwriting_rename(spark, tmp_path):
    """Where a plain rename refuses an existing target (HDFS semantics),
    ``write_json`` replaces the document through FileContext's overwriting
    rename instead of failing."""
    log = StateLog(str(tmp_path), spark)
    log.write_json("doc.json", {"v": 1})

    class RefusingRename:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            return False if self._fs.exists(dst) else self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    log.fs = RefusingRename(log.fs)
    log.write_json("doc.json", {"v": 2})
    assert log.read_json("doc.json") == {"v": 2}
    assert json.loads((tmp_path / "doc.json").read_text()) == {"v": 2}
    assert _listing(str(tmp_path)) == ["doc.json"]
