"""Dedup / similarity / text operators + the driver-contract demo queries."""

import math
import os

import pytest
from pyspark.sql import Row, functions as F

from anzlic_validator_spark.operators.dedup import (
    exact_duplicates,
    jaccard,
    minhash_near_duplicates,
    simhash_near_duplicates,
    word_shingles,
)
from anzlic_validator_spark.operators.similarity import brute_force_topk, lsh_topk
from anzlic_validator_spark.operators.text import quality_features, predict_language

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [Row(id=1, t="a b c"), Row(id=2, t="a b c"), Row(id=3, t="x y"), Row(id=4, t="a b c")]
    )
    rows = exact_duplicates(df, "t", "id").collect()
    assert len(rows) == 1 and rows[0].n_docs == 3 and rows[0].canonical_id == 1


def test_exact_duplicates_verify_rejects_fingerprint_collisions(spark):
    # force a degenerate fingerprint (length only) so distinct texts collide:
    # without verify they'd be reported as duplicates; the verify pass
    # re-groups candidate rows by the text itself and must reject them
    df = spark.createDataFrame(
        [Row(id=1, t="a b c"), Row(id=2, t="x y z"),  # collide on length
         Row(id=3, t="same doc"), Row(id=4, t="same doc")]
    )
    weak = F.struct(F.length(F.col("t")).alias("len"))
    false_pairs = exact_duplicates(df, "t", "id", fingerprint=weak).collect()
    assert any(r.n_docs == 2 and r.canonical_id == 1 for r in false_pairs)  # the hazard
    verified = exact_duplicates(df, "t", "id", fingerprint=weak, verify=True).collect()
    assert len(verified) == 1
    assert verified[0].canonical_id == 3 and verified[0].n_docs == 2


def test_lsh_bucket_cap_prevents_quadratic_blowup(spark):
    # 10^4 byte-identical docs: every LSH bucket they land in holds 10^4 rows
    # → uncapped, the within-bucket self-join is ~10^8 candidate pairs; with
    # the cap those buckets are dropped (logged) and the job stays linear.
    # (Exact dedup is the right tool for identical docs — see dedup.py notes.)
    n = 10_000
    df = spark.range(n).select(
        F.col("id"), F.lit("boilerplate header lorem ipsum dolor sit amet").alias("t")
    )
    mh = minhash_near_duplicates(df, "t", "id", threshold=0.6, max_bucket_size=100)
    assert mh.count() == 0
    sh = simhash_near_duplicates(df, "t", "id", max_hamming=3, max_bucket_size=100)
    assert sh.count() == 0


def test_simhash_lsh_parameter_validation(spark):
    df = spark.createDataFrame([Row(id=1, t="a")])
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_duplicates(df, "t", "id", max_hamming=4, n_tables=4)
    with pytest.raises(ValueError, match="fit in 64 bits"):
        simhash_near_duplicates(df, "t", "id", n_tables=8, subkey_bits=16)


def test_simhash_subkey_width_recall_invariant(spark, dup_corpus):
    # pigeonhole holds for any subkey width with n_tables > max_hamming:
    # narrower sub-keys (more candidates) must return the SAME verified pairs
    a = {(r.a_id, r.b_id, r.hamming) for r in
         simhash_near_duplicates(dup_corpus, "t", "id", max_hamming=8,
                                 n_tables=9, subkey_bits=7).collect()}
    b = {(r.a_id, r.b_id, r.hamming) for r in
         simhash_near_duplicates(dup_corpus, "t", "id", max_hamming=8,
                                 n_tables=12, subkey_bits=5).collect()}
    assert a == b and a


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([Row(a="w1 w2 w3 w4", b="w1 w2 w3 w5")])
    out = df.select(
        word_shingles(F.col("a")).alias("sa"), word_shingles(F.col("b")).alias("sb")
    ).withColumn("j", jaccard(F.col("sa"), F.col("sb"))).collect()[0]
    # shingles a: {w1 w2 w3, w2 w3 w4}; b: {w1 w2 w3, w2 w3 w5} → jac 1/3
    assert sorted(out.sa) == ["w1 w2 w3", "w2 w3 w4"]
    assert out.j == pytest.approx(1 / 3)


def test_short_text_shingles(spark):
    df = spark.createDataFrame([Row(a="w1 w2")])
    out = df.select(word_shingles(F.col("a")).alias("s")).collect()[0]
    assert out.s == ["w1 w2"]


@pytest.fixture(scope="module")
def dup_corpus(spark):
    # 30 distinct docs + near-dup copies of 5 of them (drop last word)
    words = [f"tok{i}" for i in range(40)]
    rows = []
    for d in range(30):
        toks = [words[(d * 7 + j) % 40] for j in range(20)]
        rows.append(Row(id=d, t=" ".join(toks)))
        if d % 6 == 0:
            rows.append(Row(id=1000 + d, t=" ".join(toks[:-1])))
    return spark.createDataFrame(rows)


def test_minhash_finds_planted_pairs(spark, dup_corpus):
    pairs = {(r.a_id, r.b_id) for r in
             minhash_near_duplicates(dup_corpus, "t", "id", threshold=0.6).collect()}
    planted = {(d, 1000 + d) for d in range(30) if d % 6 == 0}
    assert planted <= pairs
    # every reported pair must genuinely clear the threshold
    for r in minhash_near_duplicates(dup_corpus, "t", "id", threshold=0.6).collect():
        assert r.jac >= 0.6


def test_simhash_finds_planted_pairs(spark, dup_corpus):
    # n_tables must exceed max_hamming for exact candidate recall (the
    # round-1 default of 4 tables silently voided the guarantee at radius 8)
    pairs = {(r.a_id, r.b_id) for r in
             simhash_near_duplicates(dup_corpus, "t", "id",
                                     max_hamming=8, n_tables=9).collect()}
    planted = {(d, 1000 + d) for d in range(30) if d % 6 == 0}
    assert planted <= pairs


def test_brute_force_topk_exact(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 8)).astype("float32")
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(40)]
    )
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    got = [r.neighbor_id for r in brute_force_topk(df, q, k=3).orderBy("rank").collect()]
    # numpy oracle
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    order = [int(i) for i in np.argsort(-sims) if i != 0][:3]
    assert got == order


def test_lsh_topk_high_recall(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((60, 16)).astype("float32")
    # plant a near-identical neighbor for query 0
    vecs[1] = vecs[0] + 0.01 * rng.standard_normal(16).astype("float32")
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(60)]
    )
    q = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    got = {r.neighbor_id for r in lsh_topk(df, q, dim=16, k=3, bits=4, n_tables=8).collect()}
    assert 1 in got  # the planted near-duplicate must be found


def test_embedding_near_duplicates(spark):
    import numpy as np

    from anzlic_validator_spark.operators.similarity import (
        cosine_verify_pairs,
        embedding_near_duplicates,
    )

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((50, 16)).astype("float64")
    rows = [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(50)]
    # planted duplicates: scaled copies (identical direction → cosine 1)
    rows += [Row(vec_id=1000 + i, embedding=[float(x * 1.01) for x in vecs[i]])
             for i in range(0, 50, 10)]
    df = spark.createDataFrame(rows)
    got = {(r.a_id, r.b_id): r.cos for r in
           embedding_near_duplicates(df, dim=16, threshold=0.99, bits=6, n_tables=6).collect()}
    planted = {(i, 1000 + i) for i in range(0, 50, 10)}
    assert planted == set(got)          # all planted found, nothing spurious
    assert all(c == 1.0 for c in got.values())

    # the threshold compares the UNROUNDED cosine: 0.98997 rounds to 0.99
    # but is below threshold 0.99, so the pair is rejected; a lower bar
    # admits it, rounded for output only
    c = 0.98997
    vectors = spark.createDataFrame(
        [(1, [1.0, 0.0], 1.0), (2, [c, math.sqrt(1 - c * c)], 1.0)],
        "id long, v array<double>, nrm double",
    )
    cand = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    assert cosine_verify_pairs(cand, vectors, 0.99).collect() == []
    got = cosine_verify_pairs(cand, vectors, 0.9899).collect()
    assert len(got) == 1 and got[0].cos == 0.99


def test_quality_and_langid(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat on the mat", lang="en"),
            Row(doc_id=2, text="der hund und die katze", lang="de"),
            Row(doc_id=3, text="zzz qqq www", lang="en"),
        ]
    )
    q = {r.doc_id: r for r in quality_features(df, "text", "doc_id").collect()}
    assert q[1].n_tokens == 6 and q[1].n_distinct == 5
    assert q[1].distinct_ratio == pytest.approx(5 / 6, abs=1e-4)
    preds = {
        r.doc_id: r.p
        for r in df.select("doc_id", predict_language(F.col("text")).alias("p")).collect()
    }
    assert preds[1] == "en" and preds[2] == "de" and preds[3] == "unk"


def test_entry_contract(spark, sf_dir):
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["key", "rule_id", "observed", "expected"]
    qs, oracles = e.queries(), e.oracle_sql()
    # full parity since r04: every query carries an oracle — a new queries()
    # entry without its oracle_sql() twin must fail fast here
    assert set(oracles) == set(qs)
    # every query runs at the smoke SF and returns a DataFrame
    for name, fn in qs.items():
        out = fn(spark, sf_dir)
        assert out.columns, name


def test_bucket_cap_census_is_logged_before_the_call_returns(spark, caplog):
    """A capped call collects its hot list while it builds the plan and
    logs the exact census before it returns: 2000 identical docs put all
    21 band buckets over the cap, 2000 rows each."""
    import logging

    df = spark.range(2000).select(
        F.col("id"), F.lit("boilerplate header lorem ipsum dolor sit amet").alias("t")
    )
    with caplog.at_level(logging.WARNING, logger="anzlic_validator_spark.operators.dedup"):
        plan = minhash_near_duplicates(df, "t", "id", threshold=0.6, max_bucket_size=100)
        census = [r.message for r in caplog.records if "hot buckets" in r.message]
    assert census == [
        "minhash_lsh: dropped 21 hot buckets (> 100 rows each, 42000 bucket-rows "
        "in total) from candidate generation; pairs found only in those buckets "
        "are not reported"
    ]
    assert plan.count() == 0


def test_bucket_cap_with_nothing_hot_plans_no_anti_join(spark, caplog):
    """With no bucket over the cap, the capped call logs nothing and its
    plan holds no anti join."""
    import logging

    from anzlic_validator_spark.operators.dedup import lsh_candidate_pairs

    df = spark.createDataFrame(
        [(i, 0, i % 50) for i in range(100)], "id long, tbl int, bkt long"
    )
    with caplog.at_level(logging.WARNING, logger="anzlic_validator_spark.operators.dedup"):
        pairs = lsh_candidate_pairs(df, ["tbl", "bkt"], ["id"], 10, "t")
    assert not [r for r in caplog.records if "hot buckets" in r.message]
    assert "LeftAnti" not in pairs._jdf.queryExecution().executedPlan().toString()
    assert pairs.count() == 50


def test_lsh_candidate_pairs_edges(spark):
    from anzlic_validator_spark.operators.dedup import lsh_candidate_pairs

    rows = [(1, 0, 10), (2, 0, 10), (3, 0, 10), (4, 1, 20), (9, 2, 99)]
    df = spark.createDataFrame(rows, "id long, tbl int, bkt long")
    pairs = lsh_candidate_pairs(df, ["tbl", "bkt"], ["id"], None, "t").collect()
    got = sorted((r.a.id, r.b.id) for r in pairs)
    assert got == [(1, 2), (1, 3), (2, 3)]  # singleton buckets yield nothing

    # cap boundary: bucket of size exactly max_bucket_size is KEPT
    capped = lsh_candidate_pairs(df, ["tbl", "bkt"], ["id"], 3, "t").collect()
    assert sorted((r.a.id, r.b.id) for r in capped) == [(1, 2), (1, 3), (2, 3)]
    dropped = lsh_candidate_pairs(df, ["tbl", "bkt"], ["id"], 2, "t").collect()
    assert dropped == []

    # same pair via two tables appears once; payload fields survive
    rows2 = [(1, 0, 5, "s1"), (2, 0, 5, "s2"), (1, 1, 7, "s1"), (2, 1, 7, "s2")]
    df2 = spark.createDataFrame(rows2, "id long, tbl int, bkt long, sig string")
    out = lsh_candidate_pairs(df2, ["tbl", "bkt"], ["id", "sig"], None, "t").collect()
    assert len(out) == 1 and out[0].a.sig == "s1" and out[0].b.sig == "s2"

    # empty input
    assert lsh_candidate_pairs(
        spark.createDataFrame([], "id long, tbl int, bkt long"),
        ["tbl", "bkt"], ["id"], 5, "t",
    ).count() == 0

    # duplicate ids inside one bucket never self-pair
    df3 = spark.createDataFrame([(1, 0, 3), (1, 0, 3)], "id long, tbl int, bkt long")
    assert lsh_candidate_pairs(df3, ["tbl", "bkt"], ["id"], None, "t").count() == 0

    # a NULL bucket key is in no bucket: it pairs on neither path, and no
    # cap counts it
    df4 = spark.createDataFrame(
        [(1, 0, None), (2, 0, None), (3, 0, None), (4, 0, 7), (5, 0, 7)],
        "id long, tbl int, bkt long",
    )
    for cap in (None, 10, 2):
        out = lsh_candidate_pairs(df4, ["tbl", "bkt"], ["id"], cap, "t").collect()
        assert sorted((r.a.id, r.b.id) for r in out) == [(4, 5)], cap


def test_lsh_capped_incremental_expansion_matches_self_join(spark):
    """ADVICE r03: the capped path expands pairs incrementally (posexplode +
    pair-against-remainder) instead of materializing O(s²) structs in one
    aggregation row. Pin exact pair-set equality (and counts mode) against
    the uncapped self-join strategy on a mid-sized bucket."""
    from anzlic_validator_spark.operators.dedup import lsh_candidate_pairs

    rows = [(i, 0, int(i % 2)) for i in range(80)]  # two buckets of 40
    df = spark.createDataFrame(rows, "id long, tbl int, bkt long")
    want = sorted(
        (r.a.id, r.b.id)
        for r in lsh_candidate_pairs(df, ["tbl", "bkt"], ["id"], None, "t").collect()
    )
    got = sorted(
        (r.a.id, r.b.id)
        for r in lsh_candidate_pairs(df, ["tbl", "bkt"], ["id"], 40, "t").collect()
    )
    assert got == want and len(got) == 2 * (40 * 39) // 2
    # counts mode: a pair sharing two buckets tallies n_shared=2 on both paths
    df2 = spark.createDataFrame(
        [(1, 0, 5), (2, 0, 5), (1, 1, 7), (2, 1, 7)], "id long, tbl int, bkt long"
    )
    for cap in (None, 10):
        out = lsh_candidate_pairs(df2, ["tbl", "bkt"], ["id"], cap, "t", counts=True).collect()
        assert len(out) == 1 and out[0].n_shared == 2


def test_repetition_features(spark):
    """Gopher/C4 repetition metrics, hand-computed fixture."""
    import math

    from anzlic_validator_spark.operators.text import repetition_features

    rows = [(1, "a b\na b\nc d"), (2, "x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_features(df, "text", "doc_id").collect()}
    r1 = out[1]
    assert r1.dup_line_frac == round(1 - 2 / 3, 4)  # lines: [a b, a b, c d]
    # tokens a,b,a,b,c,d -> bigrams [a b, b a, a b, b c, c d]: 4 distinct of 5
    assert r1.dup_2gram_frac == round(1 - 4 / 5, 4)
    assert r1.top_2gram_share == 0.4  # 'a b' twice of 5
    assert r1.dup_3gram_frac == 0.0  # all four trigrams distinct
    cs = list("a b\na b\nc d")
    n = len(cs)
    ent = -sum((cs.count(c) / n) * math.log2(cs.count(c) / n) for c in set(cs))
    assert abs(r1.char_entropy - ent) < 1e-3
    r2 = out[2]
    assert (r2.dup_line_frac, r2.dup_2gram_frac, r2.dup_3gram_frac) == (0.0, 0.0, 0.0)
    assert r2.top_2gram_share == 1.0  # single bigram 'x y'
    assert abs(r2.char_entropy - 1.5849) < 1e-3  # 3 chars, uniform


def test_repetition_features_shuffle_strategy_identical(spark):
    """ADVICE r04: the explode+groupBy strategy (the long-doc scale path for
    the quadratic top-share/entropy counts) must produce IDENTICAL values to
    the pure-Catalyst default on every edge case — repeated content, single
    token, uniform chars, and a genuinely long repetitive doc."""
    from anzlic_validator_spark.operators.text import repetition_features

    rows = [
        (1, "a b\na b\nc d"),
        (2, "x y"),
        (3, "z"),                       # no bigrams -> coalesced 0.0 metrics
        (4, "aaaa"),                    # single repeated char: entropy 0
        (5, " ".join(["tok%d" % (i % 7) for i in range(400)])),  # long + repetitive
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cat = {r.doc_id: r for r in repetition_features(df, "text", "doc_id").collect()}
    shf = {
        r.doc_id: r
        for r in repetition_features(df, "text", "doc_id", strategy="shuffle").collect()
    }
    assert set(cat) == set(shf)
    for k in cat:
        assert cat[k] == shf[k], f"doc {k}: {cat[k]} != {shf[k]}"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        repetition_features(df, "text", "doc_id", strategy="bogus")


def test_decontaminate_k_boundary(spark):
    """VERDICT r04 #1 'done' bar: the k-gram contamination boundary is
    EXACT — k-1 shared contiguous tokens must NOT flag, k must; count is
    distinct shared grams; decontaminate() drops exactly the flagged docs.
    Also pins the broadcast plan on the default path."""
    from anzlic_validator_spark.operators.decontaminate import (
        contamination_hits,
        decontaminate,
    )

    ev = spark.createDataFrame(
        [("e1 e2 e3 e4 e5 e6 e7 e8",)], "text string"
    )
    docs = spark.createDataFrame(
        [
            # full 8-gram embedded -> flagged, exactly one shared gram
            (1, "x1 e1 e2 e3 e4 e5 e6 e7 e8 x2"),
            # only 7 contiguous shared tokens (e8 separated) -> clean at k=8
            (2, "x1 e1 e2 e3 e4 e5 e6 e7 y e8"),
            # shorter than k tokens -> can never flag
            (3, "e1 e2 e3 e4 e5 e6 e7"),
            (4, "completely unrelated words only nothing shared here at all"),
            # the gram appearing twice still counts ONCE (distinct grams)
            (5, "e1 e2 e3 e4 e5 e6 e7 e8 z e1 e2 e3 e4 e5 e6 e7 e8"),
        ],
        "doc_id long, text string",
    )
    hits = {
        r.doc_id: r.n_contaminated
        for r in contamination_hits(docs, ev, "text", "doc_id", k=8).collect()
    }
    assert hits == {1: 1, 5: 1}
    # at k=7 the 7-token runs become grams: docs 2 and 3 now flag too
    hits7 = {
        r.doc_id: r.n_contaminated
        for r in contamination_hits(docs, ev, "text", "doc_id", k=7).collect()
    }
    assert set(hits7) == {1, 2, 3, 5} and hits7[1] == 2  # e1..e7 and e2..e8
    kept = sorted(
        r.doc_id for r in decontaminate(docs, ev, "text", "doc_id", k=8).collect()
    )
    assert kept == [2, 3, 4]
    # the default plan broadcasts the eval gram set (scale posture)
    plan = (
        contamination_hits(docs, ev, "text", "doc_id", k=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # normalize=True: case/punctuation/whitespace-insensitive matching on
    # BOTH sides; without it the cased doc stays clean
    cased = spark.createDataFrame(
        [(9, "pre E1  e2, E3 e4 e5 e6 e7 e8! post")], "doc_id long, text string"
    )
    assert contamination_hits(cased, ev, "text", "doc_id", k=8).count() == 0
    norm = {
        r.doc_id: r.n_contaminated
        for r in contamination_hits(
            cased, ev, "text", "doc_id", k=8, normalize=True
        ).collect()
    }
    assert norm == {9: 1}
    # normalization is Unicode-aware (review r05): accented letters are
    # KEPT ('Café' ~ 'café'), not deleted to a colliding 'caf'
    uev = spark.createDataFrame([("café au lait noir",)], "text string")
    udocs = spark.createDataFrame(
        [
            (1, "le Café, au LAIT noir!"),   # matches with normalize
            (2, "le cafe au lait noir"),     # accent-stripped variant: no match
        ],
        "doc_id long, text string",
    )
    uhits = {
        r.doc_id
        for r in contamination_hits(
            udocs, uev, "text", "doc_id", k=4, normalize=True
        ).collect()
    }
    assert uhits == {1}


def test_winnow_fingerprints_and_near_dups(spark):
    """Winnowing (MOSS): shared token runs >= w+k-1 guarantee a shared
    fingerprint; unrelated docs share none; short docs degrade to a single
    whole-document hash."""
    from anzlic_validator_spark.operators.text import winnow_fingerprints, winnow_near_duplicates

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different words here nothing matches at all"),
        (4, "tiny doc"),
        (5, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "text", "doc_id")
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]            # long shared run -> shared fp
    assert not (by_doc[1] & by_doc[3])      # unrelated -> disjoint
    assert by_doc[4] == by_doc[5] and len(by_doc[4]) == 1  # short-doc fallback

    pairs = {(r.a_id, r.b_id): r.n_shared
             for r in winnow_near_duplicates(df, "text", "doc_id", min_shared=2).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(a != 3 and b != 3 for a, b in pairs)


def test_ivf_topk_recall(spark, sf_dir):
    """IVF coarse-quantizer ANN: same schema as brute force, high recall at
    generous probe fractions, exact when probing every centroid."""
    from anzlic_validator_spark.operators.similarity import brute_force_topk, ivf_topk
    from anzlic_validator_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    bf = {(r.q_id, r.rank): r.neighbor_id for r in brute_force_topk(emb, qs, k=3).collect()}
    # probing ALL centroids must reproduce brute force exactly
    full = ivf_topk(emb, qs, dim=64, k=3, n_centroids=8, n_probe=8)
    assert {(r.q_id, r.rank): r.neighbor_id for r in full.collect()} == bf
    # partial probing: valid schema, correct per-query row count, sims sane
    part = ivf_topk(emb, qs, dim=64, k=3, n_centroids=8, n_probe=4).collect()
    assert all(-1.0 <= r.sim <= 1.0 and 1 <= r.rank <= 3 for r in part)
    hits = sum(1 for r in part if bf.get((r.q_id, r.rank)) == r.neighbor_id)
    assert hits >= len(part) // 2  # loose floor; the oracle pins the real contract
