"""Text-analysis operators: token stats, language ID, quality scoring,
content fingerprinting.

All pure Catalyst (split/filter/aggregate lambdas run in codegen) — these
feed the rule catalog (e.g. quality-score range rules) and the profile pass
over a documents table at training-data scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anzlic_validator_spark.operators.dedup import text_fingerprint

# tiny built-in stopword lists for the n-gram/stopword language heuristic;
# extend per deployment (kept deliberately small + deterministic)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
}


def tokens(col: Column) -> Column:
    return F.split(col, " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column) -> Column:
    return F.size(F.array_distinct(tokens(col)))


# BPE-style pre-tokenization: alphanumeric runs or single non-space symbols —
# the regex stage every BPE tokenizer applies before merges, so the count
# tracks (and upper-bounds proportionally) real tokenizer token counts
BPE_PRETOKEN_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def subword_count(col: Column) -> Column:
    """BPE-ish token count via regexp_count — JVM-side, codegen'd."""
    return F.regexp_count(col, F.lit(BPE_PRETOKEN_PATTERN))


def predict_language_from_tokens(toks: Column, threshold: float = 0.05) -> Column:
    """Pick the language whose stopword ratio is highest (and above the
    threshold); 'unk' otherwise.

    ``toks`` should be a MATERIALIZED token-array column: each language's
    ratio filters the array once, and the chained ``when``s reference every
    ratio — with an inline ``split()`` Catalyst re-inlines the split into
    each reference (no CSE across the chain), costing one split per language
    per row (bounded by 3 languages today, not at 30)."""
    n = F.size(toks).cast("double")
    ratios = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang]))).cast("double") / n
        for lang in STOPWORDS
    }
    best_lang = F.lit("unk")
    best_ratio = F.lit(float(threshold))
    # deterministic order: iterate sorted lang codes
    for lang in sorted(ratios):
        better = ratios[lang] > best_ratio
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_ratio = F.when(better, ratios[lang]).otherwise(best_ratio)
    return best_lang


def predict_language(col: Column, threshold: float = 0.05) -> Column:
    """Convenience wrapper over a raw text column; hot paths should split
    into a materialized token column and use predict_language_from_tokens."""
    return predict_language_from_tokens(tokens(col), threshold)


def kgram_hashes(toks: Column, k: int = 3) -> Column:
    """Positional k-word-gram hashes (duplicates kept, document order) from
    a PRE-SPLIT token array column.

    Hash = first 16 hex chars of md5(gram) — the vectorized stand-in for a
    rolling Rabin-Karp hash: Catalyst computes every gram hash in one
    codegen pass, so the incremental-update trick a rolling hash exists for
    buys nothing in a columnar engine, while md5 keeps the values exactly
    reproducible in the DuckDB oracle. Documents shorter than k tokens get
    the single whole-document hash.

    ``toks`` must be a materialized column, not an inline split — the gram
    lambda references it per element and Catalyst inlines non-column
    subexpressions into every lambda element (see word_shingles_from_tokens).
    """
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.when(
        n >= k, F.transform(grams, lambda g: F.substring(F.md5(g), 1, 16))
    ).otherwise(F.array(F.substring(F.md5(F.array_join(toks, " ")), 1, 16)))


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): the min k-gram hash of every window of ``w`` consecutive
    grams, distinct per document → (doc_id, fp) rows.

    Guarantee: any shared token run of length >= w + k - 1 between two
    documents yields at least one shared fingerprint, while only ~2/(w+1)
    of gram hashes are kept. Pure Catalyst — sequence/slice/array_min in
    one codegen projection, zero shuffle before the explode.
    """
    # SEPARATE projections on purpose: building this as one nested
    # expression inlines the whole k-gram-hash computation into EVERY
    # window element's lambda (no common-subexpression elimination across
    # lambda bodies) — measured ~25x slower. As a distinct aliased column,
    # CollapseProject keeps the non-cheap, multiply-referenced array
    # materialized once per row.
    hs_df = df.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("__toks")
    ).select("doc_id", kgram_hashes(F.col("__toks"), k).alias("__hs"))
    hs = F.col("__hs")
    m = F.size(hs)
    wins = F.when(
        m >= w,
        F.transform(F.sequence(F.lit(1), m - (w - 1)), lambda i: F.array_min(F.slice(hs, i, w))),
    ).otherwise(F.array(F.array_min(hs)))
    return hs_df.select(
        "doc_id", F.explode(F.array_distinct(wins)).alias("fp")
    )


def winnow_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints →
    (a_id, b_id, n_shared), a_id < b_id, n_shared >= min_shared.

    Same scale shape as the LSH dedups: fingerprints are the buckets, the
    one shuffle is the per-fingerprint grouping (lsh_candidate_pairs), and
    ``max_bucket_size`` caps pathological fingerprints (boilerplate); the
    call logs the census of what the cap drops before it returns.
    """
    from anzlic_validator_spark.operators.dedup import lsh_candidate_pairs

    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w).select(
        F.col("doc_id").alias("id"), "fp"
    )
    pairs = lsh_candidate_pairs(fps, ["fp"], ["id"], max_bucket_size, "winnow", counts=True)
    return (
        pairs.where(F.col("n_shared") >= min_shared)
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"), "n_shared")
    )


def repetition_features(
    df: DataFrame, text_col: str, id_col: str, strategy: str = "catalyst"
) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document — the filters
    a pretraining pipeline runs next to langid (Rae et al. 2021 §A1.1):

    (id, dup_line_frac, dup_2gram_frac, dup_3gram_frac, top_2gram_share,
     char_entropy)

    - dup_line_frac: fraction of newline-separated lines that repeat an
      earlier line (1 - distinct/total).
    - dup_{2,3}gram_frac: same over token n-grams (whitespace tokens, so a
      multi-line doc tokenizes across line breaks consistently).
    - top_2gram_share: occurrence share of the single most frequent bigram.
    - char_entropy: Shannon entropy (bits) of the character distribution —
      boilerplate/degenerate docs sit far below natural text (~4.1 for
      English).

    Two physical strategies producing IDENTICAL values (pinned by test):

    - ``strategy="catalyst"`` (default): zero shuffle, zero Python; every
      array (tokens, lines, chars, gram lists) is materialized as its own
      projection BEFORE the counting lambdas reference it (the no-CSE rule
      — an inline split inside a lambda re-evaluates per element). The
      occurrence counts behind top_2gram_share / char_entropy are
      O(distinct · total) array scans per row in codegen — fine up to
      ~2·10³ tokens per doc (~10⁶–10⁷ comparisons/row), QUADRATIC beyond.
    - ``strategy="shuffle"`` (use for Gopher/C4-length docs,
      10⁴–10⁵ tokens): occurrence counts via explode + two-level groupBy —
      per-row cost drops to O(total), at the price of two shuffles of
      small (id, gram)/(id, char) rows joined back to the per-row metrics.
      At pretraining doc lengths the catalyst path would spend ~10⁸–10¹⁰
      comparisons on a single row, so the shuffle is the 100 TB plan.
    """
    if strategy not in ("catalyst", "shuffle"):
        raise ValueError(f"unknown strategy {strategy!r}")
    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        F.split(t, r"\s+").alias("__toks"),
        F.split(t, "\n").alias("__lines"),
        # (?s). matches every char including newlines; split(text, "") has
        # engine-dependent boundary behavior, this is oracle-reproducible
        F.regexp_extract_all(t, F.lit("(?s)."), 0).alias("__chars"),
    )

    def grams(n: int) -> Column:
        toks = F.col("__toks")
        nn = F.size(toks)
        return F.when(
            nn >= n,
            F.transform(
                F.sequence(F.lit(1), nn - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    g = base.select(
        F.col(id_col), "__lines", "__chars", grams(2).alias("__g2"), grams(3).alias("__g3")
    )

    def dup_frac(col: Column) -> Column:
        n = F.size(col)
        return F.when(
            n > 0,
            F.lit(1.0) - F.size(F.array_distinct(col)).cast("double") / n.cast("double"),
        ).otherwise(F.lit(0.0))

    g2 = F.col("__g2")

    if strategy == "shuffle":
        from pyspark import StorageLevel

        # three consumers (light metrics + two explode aggregates) —
        # without the persist each is an independent subtree re-reading the
        # source and re-tokenizing every document (two extra full passes
        # at corpus scale). Same ownership contract as
        # minhash_near_duplicates' shingle persist: the result is lazy, so
        # long-lived sessions unpersist after consuming.
        g = g.persist(StorageLevel.MEMORY_AND_DISK)
        light = g.select(
            F.col(id_col),
            F.round(dup_frac(F.col("__lines")), 4).alias("dup_line_frac"),
            F.round(dup_frac(F.col("__g3")), 4).alias("dup_3gram_frac"),
        )
        # occurrence counts as rows: the inner groupBy is map-side combined
        # on (id, gram), so a doc with 10^5 tokens contributes ~distinct
        # rows to the exchange, not total; empty docs drop out of the
        # explode and coalesce back to 0.0 after the left joins. The
        # bigram counts serve BOTH top_2gram_share and dup_2gram_frac
        # (distinct = row count, total = sum of counts) — no second scan.
        g2_agg = (
            g.select(F.col(id_col), F.explode("__g2").alias("__gram"))
            .groupBy(id_col, "__gram")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy(id_col)
            .agg(
                (F.max("__c").cast("double") / F.sum("__c").cast("double")).alias(
                    "__top2"
                ),
                (
                    F.lit(1.0)
                    - F.count(F.lit(1)).cast("double") / F.sum("__c").cast("double")
                ).alias("__dup2"),
            )
        )
        # -Σ p·log2 p  ==  log2 N − (Σ c·log2 c)/N  (p = c/N)
        ent_agg = (
            g.select(F.col(id_col), F.explode("__chars").alias("__ch"))
            .groupBy(id_col, "__ch")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy(id_col)
            .agg(
                (
                    F.log2(F.sum("__c"))
                    - F.sum(F.col("__c") * F.log2("__c")) / F.sum("__c")
                ).alias("__ent")
            )
        )
        return (
            light.join(g2_agg, id_col, "left")
            .join(ent_agg, id_col, "left")
            .select(
                F.col(id_col),
                "dup_line_frac",
                F.round(F.coalesce("__dup2", F.lit(0.0)), 4).alias("dup_2gram_frac"),
                "dup_3gram_frac",
                F.round(F.coalesce("__top2", F.lit(0.0)), 4).alias("top_2gram_share"),
                F.round(F.coalesce("__ent", F.lit(0.0)), 4).alias("char_entropy"),
            )
        )

    top2 = F.when(
        F.size(g2) > 0,
        F.array_max(
            F.transform(
                F.array_distinct(g2), lambda x: F.size(F.filter(g2, lambda y: y == x))
            )
        ).cast("double")
        / F.size(g2).cast("double"),
    ).otherwise(F.lit(0.0))
    chars = F.col("__chars")
    n_chars = F.size(chars).cast("double")  # array-length lookup: cheap per ref
    p = lambda c: c.cast("double") / n_chars  # noqa: E731
    entropy = F.when(
        F.size(chars) > 0,
        -F.aggregate(
            F.transform(
                F.array_distinct(chars),
                lambda x: F.size(F.filter(chars, lambda y: y == x)),
            ),
            F.lit(0.0),
            lambda acc, c: acc + p(c) * F.log2(p(c)),
        ),
    ).otherwise(F.lit(0.0))
    return g.select(
        F.col(id_col),
        F.round(dup_frac(F.col("__lines")), 4).alias("dup_line_frac"),
        F.round(dup_frac(g2), 4).alias("dup_2gram_frac"),
        F.round(dup_frac(F.col("__g3")), 4).alias("dup_3gram_frac"),
        F.round(top2, 4).alias("top_2gram_share"),
        F.round(entropy, 4).alias("char_entropy"),
    )


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality features → one row per doc.

    (id, n_tokens, n_subtokens, n_distinct, distinct_ratio, avg_tok_len,
     fingerprint) — n_tokens is whitespace tokenization, n_subtokens the
    BPE-ish pre-token count (both required training-pipeline variants).
    """
    t = F.col(text_col)
    n_tok = token_count(t)
    n_dis = distinct_token_count(t)
    chars = F.length(F.regexp_replace(t, " ", ""))
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        subword_count(t).cast("int").alias("n_subtokens"),
        n_dis.alias("n_distinct"),
        F.round(n_dis.cast("double") / n_tok.cast("double"), 4).alias("distinct_ratio"),
        F.round(chars.cast("double") / n_tok.cast("double"), 4).alias("avg_tok_len"),
        text_fingerprint(t).alias("fingerprint"),
    )
