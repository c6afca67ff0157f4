"""State on disk: the one protocol behind the checkpoint manifest, the
fingerprint stores and the streaming seen-keys log.

Every list, write, rename, marker and delete of persisted state goes
through Hadoop ``FileSystem``, so a state dir may be a plain path or any
Hadoop URI (``file://``, ``hdfs://``).

Layout under a state root::

    root/
      meta.json, manifest.json   # small JSON documents, replaced atomically
      run_00000/ run_00001/      # one committed unit each (a batch, an epoch)
      fold_00001/_FOLDED         # every unit up to and including 1, merged

Ids are zero-padded to five digits but not capped there, so every listing
sorts numerically ('run_100000' after 'run_99999').

The protocol:

- a unit is written to a hidden temp dir in the root and published by a
  checked rename (Hadoop's ``rename`` may fail by returning False);
- a fold stamps its ``_FOLDED`` marker inside the temp dir, after checking
  that data files landed, and is published by the same rename. A fold dir
  without its marker is ignored;
- the units a fold supersedes are deleted later, by ``prune``, so a crash
  at any point leaves either the old units or a complete fold over them.

This needs an atomic directory rename: the local filesystem and HDFS have
one, S3A does not.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable

from py4j.java_gateway import is_instance_of
from pyspark.sql import SparkSession

MARKER = "_FOLDED"
_UNIT_RE = re.compile(r"^(run|fold)_(\d{5,})$")


def _session(spark: SparkSession | None) -> SparkSession:
    return spark or SparkSession.builder.getOrCreate()


def _filesystem(spark: SparkSession, path: str):
    """(FileSystem, Path class) for ``path``. A checksummed local FS is
    unwrapped to its raw FS, so small state files carry no ``.crc``
    sidecar."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    if is_instance_of(spark.sparkContext._gateway, fs, "org.apache.hadoop.fs.ChecksumFileSystem"):
        fs = fs.getRawFileSystem()
    return fs, hpath


def file_stats(path: str, spark: SparkSession | None = None) -> list[tuple[str, int, int]]:
    """(path, length, mtime in s) of each file under ``path``, or of
    ``path`` itself, sorted by path. Like Spark's file index it skips
    names starting with ``_`` or ``.`` (markers, checksums, staging dirs);
    a missing path lists nothing."""
    fs, hpath = _filesystem(_session(spark), path)
    root = hpath(path)
    if not fs.exists(root):
        return []
    out, todo = [], [root]
    while todo:
        # listStatus, not listFiles: the latter fetches block locations
        for st in fs.listStatus(todo.pop()):
            p = st.getPath()
            full = p.toString()
            if full.rsplit("/", 1)[-1].startswith(("_", ".")):
                continue
            if st.isDirectory():
                todo.append(p)
            else:
                out.append((full, st.getLen(), st.getModificationTime() // 1000))
    return sorted(out)


class StateLog:
    """The state under one root dir. Child paths keep the form of
    ``root`` (a plain path stays plain), so callers may open them with
    non-Hadoop readers."""

    def __init__(self, root: str, spark: SparkSession | None = None):
        spark = _session(spark)
        self.root = root.rstrip("/")
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self.fs, self._hpath = _filesystem(spark, self.root)

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def _p(self, name: str):
        return self._hpath(self.path(name))

    # -- small JSON documents ------------------------------------------------

    def read_json(self, name: str) -> dict | None:
        p = self._p(name)
        if not self.fs.exists(p):
            return None
        stream = self.fs.open(p)
        try:
            return json.loads(bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)))
        finally:
            stream.close()

    def write_json(self, name: str, doc: dict) -> None:
        """Write ``name`` whole or not at all: a temp file, then a rename
        over the old document."""
        tmp = f".{name}.tmp"
        out = self.fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(json.dumps(doc, indent=2, sort_keys=True).encode("utf-8")))
        finally:
            out.close()
        self._rename(tmp, name, replace=True)

    # -- runs and folds ------------------------------------------------------

    def _units(self) -> tuple[list[int], list[int]]:
        """(run ids, fold ids), each ascending."""
        runs, folds = [], []
        if self.fs.exists(self._hpath(self.root)):
            for st in self.fs.listStatus(self._hpath(self.root)):
                m = _UNIT_RE.match(st.getPath().getName())
                if m and st.isDirectory():
                    (runs if m.group(1) == "run" else folds).append(int(m.group(2)))
        return sorted(runs), sorted(folds)

    def _newest(self, folds: list[int], before: int | None) -> int | None:
        for f in reversed(folds):
            if (before is None or f < before) and self.fs.exists(self._p(f"fold_{f:05d}/{MARKER}")):
                return f
        return None

    def runs(self) -> list[int]:
        return self._units()[0]

    def newest_fold(self, before: int | None = None) -> int | None:
        """Coverage of the newest fold below ``before`` that has its marker."""
        return self._newest(self._units()[1], before)

    def next_id(self) -> int:
        runs, folds = self._units()
        covers = self._newest(folds, None)
        return max([-1 if covers is None else covers] + runs) + 1

    def live_inputs(self, before: int | None = None) -> list[str]:
        """The dirs holding every unit below ``before``: the newest valid
        fold below it, then the runs after that fold and below it."""
        runs, folds = self._units()
        covers = self._newest(folds, before)
        floor = -1 if covers is None else covers
        return ([self.path(f"fold_{covers:05d}")] if covers is not None else []) + [
            self.path(f"run_{i:05d}") for i in runs if i > floor and (before is None or i < before)
        ]

    def check_horizon(self, run_id: int) -> None:
        """Raise when ``run_id`` is at or below a fold's coverage: the
        units before it are merged into the fold and cannot be told apart."""
        covers = self.newest_fold()
        if covers is not None and run_id <= covers:
            raise ValueError(
                f"run_id {run_id} is at or below the compaction horizon of "
                f"{self.root} (fold covers <= {covers}); a retry of a folded "
                "run cannot be served exactly"
            )

    def commit(self, run_id: int, write: Callable[[str], None]) -> str:
        """Publish ``run_<run_id>``: ``write(tmp)`` fills a temp dir, which
        then replaces any earlier attempt at the same id. Returns its path."""
        self.check_horizon(run_id)
        return self._publish(f"run_{run_id:05d}", write, marker=False)

    def fold(self, covers: int, write: Callable[[str], None]) -> str:
        """Publish ``fold_<covers>``: ``write(tmp)`` fills a temp dir with
        the merged units; the marker is stamped only after data files
        landed. Raises IOError, publishing nothing, when none did."""
        return self._publish(f"fold_{covers:05d}", write, marker=True)

    def _publish(self, name: str, write: Callable[[str], None], marker: bool) -> str:
        tmp = f".tmp_{name}"
        write(self.path(tmp))
        if marker:
            if not self._has_data(tmp):
                self.fs.delete(self._p(tmp), True)
                raise IOError(f"{self.path(tmp)} landed no data files; refusing to stamp {MARKER}")
            self._touch(f"{tmp}/{MARKER}")
        self.fs.delete(self._p(name), True)  # a retry replaces its own earlier attempt
        self._rename(tmp, name)
        return self.path(name)

    def prune(self, before: int | None = None) -> None:
        """Delete the runs and older folds that the newest valid fold below
        ``before`` supersedes."""
        runs, folds = self._units()
        covers = self._newest(folds, before)
        if covers is None:
            return
        self.delete(
            *[f"run_{i:05d}" for i in runs if i <= covers],
            *[f"fold_{f:05d}" for f in folds if f < covers],
        )

    def delete(self, *names: str) -> None:
        """Delete each child (a dir recursively); a missing one is no error."""
        for name in names:
            self.fs.delete(self._p(name), True)

    # -- the single steps a crash can fall between ---------------------------

    def _has_data(self, name: str) -> bool:
        p = self._p(name)
        return self.fs.exists(p) and any(
            not st.getPath().getName().startswith(("_", ".")) for st in self.fs.listStatus(p)
        )

    def _touch(self, name: str) -> None:
        self.fs.create(self._p(name), True).close()

    def _rename(self, src: str, dst: str, replace: bool = False) -> None:
        s, d = self._p(src), self._p(dst)
        # some FileSystems throw where others return False: both fail here
        try:
            ok = self.fs.rename(s, d)
            if not ok and replace and self.fs.exists(d):
                # HDFS refuses a plain rename onto an existing file (a local
                # rename replaces it); its overwriting rename is atomic too
                fs_pkg = self._jvm.org.apache.hadoop.fs
                opt = getattr(fs_pkg, "Options$Rename")
                opts = self._gateway.new_array(opt, 1)
                opts[0] = opt.OVERWRITE
                fs_pkg.FileContext.getFileContext(d.toUri(), self.fs.getConf()).rename(s, d, opts)
                ok = True
        except Exception as e:
            raise IOError(f"rename {self.path(src)} -> {self.path(dst)} failed") from e
        if not ok:
            raise IOError(f"rename {self.path(src)} -> {self.path(dst)} failed")
