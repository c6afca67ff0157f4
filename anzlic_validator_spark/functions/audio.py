"""Audio codecs + vectorized decode checks (R18 analog).

Reference analog: XSD schema validation of the whole record
(SCHMD.validate, scripts/validate.py:127-134) — "is this record structurally
decodable and internally consistent" — re-expressed for audio rows per
BASELINE.json input_hint: decode ``bytes`` per ``codec``, assert the decoded
PCM is allclose to the reference signal at SNR ≥ 30 dB, and that ``sr_hz`` /
``dur_ms`` agree with the decoded stream.

Codecs (this container has no audio libraries — everything is implemented
from the public format specs in numpy):
- ``pcm_s16le``  raw 16-bit little-endian mono PCM (numpy-only)
- ``wav``        RIFF/WAVE PCM mono 16-bit with a standard 44-byte header
                 (handcrafted per the public RIFF spec)
- ``flac``       REAL FLAC bitstream (functions/flac.py): fixed-predictor
                 subframes + rice residuals + CRC-8/16 + stream MD5 per
                 RFC 9639 — a vectorized-numpy encoder/decoder subset
                 (16-bit mono; LPC/stereo rejected with explicit errors).

All checks run as ONE Arrow-vectorized ``pandas_udf`` returning a struct —
batch transfer via Arrow, numpy kernels inside, no per-row Python at the
Spark row level (input_hint: "vectorized pandas/Arrow UDFs, no per-row
Python").  The SNR reference signal is a pure function of (clip index,
sr, n_samples, seed) so fixtures are reproducible (FIXTURES.md §1).
"""

from __future__ import annotations

import re
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anzlic_validator_spark.compile import _case, _ident, _lit, _viol
from anzlic_validator_spark.rules import Rule

from anzlic_validator_spark.functions.flac import FlacError, decode_flac, encode_flac

KNOWN_CODECS = ("pcm_s16le", "wav", "flac")

_WAV_HDR = struct.Struct("<4sI4s4sIHHIIHH4sI")

# ------------------------------------------------------ codec registry
# Extension point: a container with real codec libraries
# registers opus/mp3/etc. here and the whole engine — encode-side fixtures
# and the Arrow decode UDF alike — picks them up without editing decode().
# decode_fn: (bytes) -> (pcm float32 ndarray, sr_embedded int | None);
#            raise ValueError/whatever on corrupt input — decode() converts
#            any exception into a per-row violation string, never a task
#            failure.
# encode_fn: (pcm float32 ndarray, sr int) -> bytes
_CODEC_REGISTRY: dict[str, tuple] = {}


def register_codec(name: str, encode_fn, decode_fn) -> None:
    """Register (or override) a codec. See _CODEC_REGISTRY notes."""
    _CODEC_REGISTRY[str(name)] = (encode_fn, decode_fn)


def registered_codecs() -> tuple[str, ...]:
    return tuple(_CODEC_REGISTRY)


# ---------------------------------------------------------------- encode

def encode_pcm_s16le(pcm: np.ndarray) -> bytes:
    return _to_s16(pcm).tobytes()


def encode_wav(pcm: np.ndarray, sr: int) -> bytes:
    data = _to_s16(pcm).tobytes()
    # standard 44-byte RIFF/WAVE header: PCM(1), mono, 16-bit
    hdr = _WAV_HDR.pack(
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16, 1, 1,
        sr, sr * 2, 2, 16, b"data", len(data),
    )
    return hdr + data


def encode(pcm: np.ndarray, sr: int, codec: str) -> bytes:
    # registry FIRST: register_codec("flac", ...) must actually override the
    # built-in (e.g. a container swapping in libFLAC), per its contract
    if codec in _CODEC_REGISTRY:
        return _CODEC_REGISTRY[codec][0](pcm, sr)
    if codec == "pcm_s16le":
        return encode_pcm_s16le(pcm)
    if codec == "wav":
        return encode_wav(pcm, sr)
    if codec == "flac":
        return encode_flac(_to_s16(pcm), sr)
    raise NotImplementedError(
        f"codec {codec!r}: opus/mp3 encoders are not available in this "
        "container — only pcm_s16le/wav/flac are built in; a full container "
        "adds them via register_codec()"
    )


def _to_s16(pcm: np.ndarray) -> np.ndarray:
    scaled = np.asarray(pcm, dtype=np.float32) * np.float32(32767.0)
    return np.clip(np.rint(scaled), -32768, 32767).astype("<i2")


# ---------------------------------------------------------------- decode

def decode(b: bytes | None, codec: str | None, registry: dict | None = None):
    """→ (pcm float32 | None, sr_embedded int | None, err str | None).

    sr_embedded is None for headerless codecs (pcm_s16le). ``registry``
    overrides the module registry — the Arrow UDF passes a driver-side
    snapshot so codecs registered before UDF creation reach the Python
    workers (a module-global would be re-imported empty there).
    """
    if b is None or len(b) == 0:
        return None, None, "empty bytes"
    reg = _CODEC_REGISTRY if registry is None else registry
    if codec in reg:  # registry first: registered codecs override built-ins
        try:
            pcm, sr_emb = reg[codec][1](b)
        except Exception as exc:  # registry contract: exceptions → violation
            return None, None, f"{codec} decode failed: {exc}"
        return np.asarray(pcm, dtype=np.float32), sr_emb, None
    if codec == "pcm_s16le":
        if len(b) % 2:
            return None, None, "odd byte length for s16le"
        return np.frombuffer(b, dtype="<i2").astype(np.float32) / 32767.0, None, None
    if codec == "wav":
        if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            return None, None, "bad RIFF header"
        try:
            fields = _WAV_HDR.unpack(b[:44])
        except struct.error:
            return None, None, "short WAV header"
        audio_fmt, channels, sr, bits = fields[5], fields[6], fields[7], fields[10]
        data_len = fields[12]
        if audio_fmt != 1 or channels != 1 or bits != 16:
            return None, sr, f"unsupported WAV layout fmt={audio_fmt} ch={channels} bits={bits}"
        data = b[44 : 44 + data_len]
        if len(data) < data_len or len(data) % 2:
            return None, sr, "truncated WAV data"
        return np.frombuffer(data, dtype="<i2").astype(np.float32) / 32767.0, sr, None
    if codec == "flac":
        sr = None
        if len(b) >= 28 and b[:4] == b"fLaC":
            # STREAMINFO sample rate (bits 80-99 of the 34-byte block) —
            # report it even when frame decode fails, like the WAV path
            hi = int.from_bytes(b[18:21], "big")
            sr = hi >> 4
        try:
            s16, sr_dec = decode_flac(b)
        except (FlacError, ValueError, IndexError, OverflowError) as exc:
            # non-FlacError: corrupt structure driving a numpy/bit-reader
            # fault — must surface as a per-row violation, never escape the
            # Arrow UDF and fail the whole Spark task
            return None, sr, f"FLAC decode failed: {exc}"
        return s16.astype(np.float32) / 32767.0, sr_dec, None
    return None, None, f"unknown codec {codec!r}"


# ------------------------------------------------------- reference signal

def ref_signal(i: int, sr: int, n: int, seed: int) -> np.ndarray:
    """Deterministic seeded sine+noise reference for clip index ``i``.

    Counter-based Philox keyed by (seed, i): any executor regenerates the
    exact signal without coordination — the distributed-safe analog of the
    reference's golden fixture record (tests/testAllCorrect.xml).

    All-float32 on purpose: (a) half the memory traffic, (b) typical 1-2 s
    clip buffers stay under glibc's 128 KiB mmap threshold — float64 temps
    made every allocation an mmap/munmap pair, and at 32 concurrent Python
    workers the TLB-shootdown storm pushed the UDF stage to ~90% kernel
    time. Determinism is unaffected: generator and validator run the
    identical float32 ops.
    """
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed) ^ np.uint64(i)))
    t = np.arange(n, dtype=np.float32)
    t *= np.float32(2.0 * np.pi * (110.0 + (i % 40) * 13.0) / sr)
    x = np.sin(t, out=t)
    x *= np.float32(0.5)
    x += np.float32(0.05) * rng.standard_normal(n, dtype=np.float32)
    return np.clip(x, -1.0, 1.0, out=x)


def snr_db(ref: np.ndarray, dec: np.ndarray) -> float:
    n = min(ref.size, dec.size)
    if n == 0:
        return float("-inf")
    r, d = ref[:n], dec[:n]
    e = r - d
    noise = float(np.dot(e, e))
    sig = float(np.dot(r, r))
    if noise == 0.0:
        return float("inf")
    if sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(sig / noise)


_CLIP_ID_NUM = re.compile(r"(\d+)$")

_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("err", T.StringType(), True),
        T.StructField("sr_stream", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("snr_db", T.DoubleType(), True),
    ]
)


def make_decode_check_udf(ref_seed: int | None):
    """Arrow pandas UDF: (bytes, codec, sr_hz, clip_id) → check struct.

    ref_seed=None skips the SNR-vs-reference computation (production mode
    where no golden signal exists; decode + consistency checks still run).
    """
    # snapshot at UDF-creation time: cloudpickle ships the registered codec
    # functions to the Python workers inside the closure (the module global
    # would re-import empty there)
    registry = dict(_CODEC_REGISTRY)

    @F.pandas_udf(_CHECK_SCHEMA)
    def decode_check(
        b: pd.Series, codec: pd.Series, sr_hz: pd.Series, clip_id: pd.Series
    ) -> pd.DataFrame:
        n_rows = len(b)
        errs: list[str | None] = [None] * n_rows
        srs: list[int | None] = [None] * n_rows
        counts: list[int | None] = [None] * n_rows
        snrs: list[float | None] = [None] * n_rows
        # zip over the series (values iteration): per-element .iloc would
        # pay a pandas positional-indexing call 4x per row
        for j, (bb, cc, ss, cid) in enumerate(zip(b, codec, sr_hz, clip_id)):
            pcm, sr_emb, err = decode(bb, cc, registry)
            errs[j], srs[j] = err, sr_emb
            if pcm is None:
                continue
            counts[j] = int(pcm.size)
            if ref_seed is not None:
                m = _CLIP_ID_NUM.search(str(cid) or "")
                row_sr = sr_emb if sr_emb else ss
                if m and row_sr and not pd.isna(row_sr):
                    ref = ref_signal(int(m.group(1)), int(row_sr), pcm.size, ref_seed)
                    snrs[j] = snr_db(ref, pcm)
        return pd.DataFrame(
            {"err": errs, "sr_stream": srs, "n_samples": counts, "snr_db": snrs}
        )

    return decode_check


# ------------------------------------------------------------- violations

# the column keys of an audio_decode rule and their defaults
AUDIO_COLUMNS = {
    "bytes_column": "bytes",
    "codec_column": "codec",
    "sr_column": "sr_hz",
    "dur_column": "dur_ms",
}


def augment_audio(df: DataFrame, rule: Rule, key_col: str) -> tuple[DataFrame, list[str]]:
    """Attach the decode-check struct column and return nullable violation
    struct expressions (SQL text), so the audio pass rides the SAME single
    scan as every other row rule — ``bytes`` is read exactly once per job
    (the 100 TB requirement; a second pass over a petabyte-scale binary
    column is the difference between one day and two).

    Classes (each rides the same Arrow batch — one UDF invocation per batch):
      <id>.decode  bytes not decodable under codec
      <id>.sr      embedded stream rate ≠ sr_hz column
      <id>.dur     decoded duration ≠ dur_ms column (± dur_tol_ms)
      <id>.snr     decoded PCM vs seeded reference below snr_db_min
    """
    bytes_col, codec_col, sr_col, dur_col = (str(rule.get(k, d)) for k, d in AUDIO_COLUMNS.items())
    snr_min = rule.get("snr_db_min", 30.0)
    tol = float(rule.get("dur_tol_ms", 2.0))
    ref_seed = rule.get("ref_seed")
    udf = make_decode_check_udf(int(ref_seed) if ref_seed is not None else None)

    cname = f"__audio_{rule.order}"
    aug = df.withColumn(cname, udf(bytes_col, codec_col, sr_col, key_col))
    c, sr, dur = _ident(cname), _ident(sr_col), _ident(dur_col)
    dur_dec = f"(({c}.n_samples * 1000.0D) / coalesce({c}.sr_stream, {sr}))"

    def check(cond: str, cls: str, observed: str, expected: str) -> str:
        return _case([(cond, _viol(rule, cls, observed, expected))])

    checks = [
        check(f"{c}.err IS NOT NULL", "decode", f"{c}.err", "decodable per codec column"),
        check(
            f"({c}.sr_stream IS NOT NULL AND {c}.sr_stream != {sr})",
            "sr",
            f"{c}.sr_stream",
            "sr_hz column matches stream",
        ),
        check(
            f"({c}.n_samples IS NOT NULL AND {dur} IS NOT NULL"
            f" AND abs({dur_dec} - {dur}) > {_lit(tol)})",
            "dur",
            f"round({dur_dec}, 1)",
            f"dur_ms column ±{tol}ms of decoded",
        ),
    ]
    if ref_seed is not None and snr_min is not None:
        checks.append(
            check(
                f"({c}.snr_db IS NOT NULL AND {c}.snr_db < {_lit(float(snr_min))})",
                "snr",
                f"round({c}.snr_db, 2)",
                f"SNR>={snr_min}dB vs reference",
            )
        )
    return aug, checks
