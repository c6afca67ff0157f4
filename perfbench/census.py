"""Expected outputs of each workload, computed from the generators' planted
structure alone: no Spark, no engine code path.

The clips census mirrors the anomaly layout of ``synth.clips`` (one
category window per 1000 ids, duplicates copying id ``base + 939``) and the
hole-punching of ``synth.transcript_index``; it generalizes the n=1040
DuckDB census of the oracle queries to any n and any index spacing.
"""

from __future__ import annotations

from collections import Counter

CODECS = ("pcm_s16le", "wav", "flac")

# (first, last) of each category window in id % 1000
_WINDOWS = (
    ("dup", 940, 949),
    ("null_t", 950, 954),
    ("empty_t", 955, 959),
    ("bad_codec", 960, 964),
    ("sr_mis", 965, 969),
    ("dur_mis", 970, 974),
    ("corrupt", 975, 979),
    ("low_snr", 980, 989),
    ("bad_id", 990, 994),
    ("short_dur", 995, 999),
)


def _category(j: int) -> str:
    m = j % 1000
    for name, lo, hi in _WINDOWS:
        if lo <= m <= hi:
            return name
    return "correct"


def _row_rules(j: int, cat: str, missing_every: int, mismatch_every: int, audio: bool) -> list[str]:
    missing = j % missing_every == missing_every - 1
    joined = not missing and cat != "bad_id"
    out = []
    if cat == "bad_id":
        out.append("clip_id.format.incorrect")
    if cat == "bad_codec":
        out.append("codec.in_set.incorrect")
    if cat == "short_dur":
        out.append("dur_ms.range.incorrect")
    if cat == "null_t":
        out.append("transcript.exists.missing")
    if cat == "empty_t":
        out.append("transcript.exists.empty")
    if cat == "bad_id" or missing:
        out.append("transcript.referential.missing_ref")
    if joined and (cat in ("null_t", "empty_t") or j % mismatch_every == mismatch_every - 1):
        out.append("transcript.referential.incorrect")
    sr_codec = "wav" if j % 2 else "flac"
    if joined and (cat == "bad_codec" or (cat == "sr_mis" and sr_codec != CODECS[j % 3])):
        out.append("codec.referential_mapped.incorrect")
    if audio:
        if cat in ("bad_codec", "corrupt"):
            out.append("clips.audio.decode")
        if cat == "sr_mis":
            out.append("clips.audio.sr")
        if cat in ("dur_mis", "sr_mis"):
            out.append("clips.audio.dur")
        if cat in ("low_snr", "sr_mis"):
            out.append("clips.audio.snr")
    return out


def clips_census(
    n: int, keep_from: int, missing_every: int, mismatch_every: int, audio: bool
) -> dict:
    """Census of the first ``n`` synthetic clips, keeping ids with
    ``id % 1000 >= keep_from`` → {"rules": {rule_id: violation rows},
    "rows": distinct keys, "failed_rows": keys with a violation,
    "violations": violation rows}."""
    rules: Counter = Counter()
    rows = failed = 0
    for j in range(n):
        if j % 1000 < keep_from:
            continue
        cat = _category(j)
        if cat == "dup":
            continue  # the row copies base + 939 and is counted there
        mult = 1
        if j % 1000 == 939:
            mult += max(0, min(n, j + 11) - (j + 1))
        hit = _row_rules(j, cat, missing_every, mismatch_every, audio)
        if mult > 1:
            hit.append("clip_id.unique.incorrect")
        rows += 1
        failed += bool(hit)
        for r in hit:
            rules[r] += mult
    return {
        "rules": dict(rules),
        "rows": rows,
        "failed_rows": failed,
        "violations": sum(rules.values()),
    }
