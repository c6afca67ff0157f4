"""Test-set decontamination: flag/drop documents sharing long token
n-grams with an evaluation corpus — the standard final filter of an
LLM-training data pipeline, absent from naive dedup
because an eval QUESTION embedded inside an otherwise-unique document
duplicates nothing.

Semantics (the n-gram overlap rule used by GPT-3/PaLM/Llama data cards):
a document is CONTAMINATED iff it contains at least one k-token gram
(whitespace tokens, document order, duplicates irrelevant) that also
occurs anywhere in the eval corpus. k is the contract boundary — k-1
shared tokens never flag (pinned by test).

Spark shape, built from the engine's existing primitives (the
candidates-then-verify discipline of the dedup family):

- Eval side: distinct (gram_hash, gram) pairs — ``kgram_hashes``-style
  16-hex-char md5 prefixes over a MATERIALIZED token array (the no-CSE
  rule). An eval suite is tiny next to the corpus (10^3-10^6 grams), so it
  broadcasts; the corpus side then joins map-side with ZERO shuffle of
  document grams.
- Corpus side: distinct grams per doc, exploded to (doc_id, hash, gram)
  rows. The join key is the fixed-width hash; equality on the gram STRING
  rides the same join as the exact verify (a 64-bit hash at 10^12 x 10^5
  grams expects birthday collisions; the verify makes them irrelevant).
- One map-side-combined groupBy tallies distinct contaminated grams per
  doc; ``decontaminate`` finishes with a left-anti join, so document
  payloads cross no shuffle (the ``deduplicate`` shape).

Reference analog: vocabulary-membership checks feeding in-set rules
(/root/reference/scripts/codeList.py:26-29 -> scripts/errorChecker.py:383-388),
lifted from single-field codelists to corpus-scale gram sets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(col: Column, normalize: bool) -> Column:
    """Token array for gram matching. ``normalize=True`` applies the
    standard decontamination canonicalization (GPT-3/PaLM data-card style):
    lowercase, punctuation stripped to spaces, whitespace-run split with
    empties dropped — so `"Hello,  WORLD!"` and `"hello world"` share
    grams. Unicode-aware: ``\\p{L}\\p{N}`` keeps letters/digits of EVERY
    script ('café', 'Über', CJK) — an ASCII-only class would delete
    accented characters mid-word and both miss real contamination and
    manufacture colliding short tokens. All built-ins; both
    sides of the match must use the same setting (threaded by callers)."""
    if not normalize:
        return F.split(col, " ")
    cleaned = F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}\s]", " ")
    return F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != "")


def _gram_pairs(toks: Column, k: int) -> Column:
    """DISTINCT k-gram (hash, gram) structs from a materialized token-array
    column; empty array for docs shorter than k tokens (such docs cannot
    contain a k-gram — no whole-doc fallback here, unlike kgram_hashes)."""
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    pairs = F.transform(
        F.array_distinct(grams),
        lambda g: F.struct(F.substring(F.md5(g), 1, 16).alias("h"), g.alias("gram")),
    )
    return F.when(n >= k, pairs).otherwise(
        F.array().cast("array<struct<h:string,gram:string>>")
    )


def eval_gram_set(
    eval_docs: DataFrame, text_col: str, k: int = 8, normalize: bool = False
) -> DataFrame:
    """The eval corpus' distinct (h, gram) table — build once per eval
    suite and reuse across corpus runs (it is snapshot-cacheable parquet)."""
    return (
        eval_docs.select(_tokens(F.col(text_col), normalize).alias("__toks"))
        .select(F.explode(_gram_pairs(F.col("__toks"), k)).alias("__g"))
        .select("__g.h", "__g.gram")
        .distinct()
    )


def contamination_hits(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str,
    id_col: str,
    eval_text_col: str | None = None,
    k: int = 8,
    broadcast_eval: bool = True,
    normalize: bool = False,
) -> DataFrame:
    """→ (id_col, n_contaminated): one row per CONTAMINATED document, with
    the count of its distinct k-grams that occur in the eval corpus.

    ``broadcast_eval=True`` (default) pins a broadcast-hash join — the
    right plan whenever the eval gram set fits an executor (every real
    eval suite); set False for a pathological eval corpus and let AQE
    choose the join. ``normalize=True`` canonicalizes BOTH sides (case /
    punctuation / whitespace-run insensitive matching — see _tokens)."""
    ev = eval_gram_set(eval_docs, eval_text_col or text_col, k, normalize)
    if broadcast_eval:
        ev = F.broadcast(ev)
    dg = (
        docs.select(F.col(id_col), _tokens(F.col(text_col), normalize).alias("__toks"))
        .select(F.col(id_col), F.explode(_gram_pairs(F.col("__toks"), k)).alias("__g"))
        .select(F.col(id_col), F.col("__g.h").alias("h"), F.col("__g.gram").alias("gram"))
    )
    # hash-keyed join + exact gram verify in one pass; doc grams are
    # distinct per doc, so count(*) == count of distinct shared grams
    return (
        dg.join(ev, ["h", "gram"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str,
    id_col: str,
    eval_text_col: str | None = None,
    k: int = 8,
    broadcast_eval: bool = True,
    normalize: bool = False,
) -> DataFrame:
    """Drop contaminated documents: ``docs`` minus every row flagged by
    ``contamination_hits``. The document payload crosses no shuffle — the
    flagged-id list is tiny and the final step is a (broadcastable)
    left-anti join, as in clusters.deduplicate."""
    hits = contamination_hits(
        docs, eval_docs, text_col, id_col, eval_text_col, k, broadcast_eval,
        normalize,
    ).select(id_col)
    return docs.join(hits, id_col, "left_anti")
