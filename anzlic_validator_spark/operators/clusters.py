"""Near-duplicate cluster resolution: connected components + survivor
selection over candidate-pair graphs.

All four pair-emitting near-dup operators (minhash / simhash / winnow /
embedding) stop at ``(a_id, b_id)`` pairs; a training pipeline drops
duplicates by CLUSTER — A–B and B–C imply {A, B, C} keep ONE survivor.
Reference analog: the duplicate-field sweep collapses whole groups, not
pairs (testing-dublin-core.py:72-83); ``exact_duplicates`` already names a
per-group ``canonical_id`` (operators/dedup.py) — this extends that to the
transitive case.

Algorithm: hash-min label propagation WITH pointer jumping. Plain hash-min
needs O(diameter) rounds (a length-d chain takes d rounds to flood); adding
the pointer-jump step — each vertex adopts the label OF ITS LABEL — halves
surviving chain depth per round, giving O(log d) rounds, the same asymptotic
round count as large-star/small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond") with a simpler two-join round body. Dedup cluster
graphs are overwhelmingly dense (LSH emits most intra-cluster pairs), so
real corpora converge in 2–4 rounds.

Scale shape per round: one shuffle join edges⋈labels + groupBy (min
neighbor label), one self-join of the label table (pointer jump), one
single-row convergence aggregate. The label table is O(V) rows of two ids —
tiny next to the corpus — and is eagerly ``localCheckpoint``ed each round to
truncate lineage (iterative plans otherwise grow exponentially). On a real
cluster with executor churn, set ``spark.checkpoint.dir`` and swap
``localCheckpoint`` for reliable ``checkpoint`` at the same call sites;
local mode has no executor loss, so the cheaper variant is correct here.

Labels are monotonically non-increasing and bounded below by the component
minimum (the minimum vertex's label is itself and can never decrease), and
each round counts exactly the rows whose label changed — a zero count is an
exact fixpoint test: at a fixpoint every edge has label(u) ≤ label(v) in
both directions, hence labels are constant per component and equal to the
component min id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the block-manager storage behind a superseded eager
    ``localCheckpoint`` DataFrame (without this, every round's
    O(V) label table stays cached until the nondeterministic ContextCleaner
    pass). ``df`` must be the checkpointed DataFrame itself — its analyzed
    plan is the ``LogicalRDD`` holding the checkpointed RDD. Best-effort by
    design (reaches through the JVM plan; correctness never depends on it),
    and only ever called on checkpoints whose successors are already
    materialized, so the "cannot be recomputed" warning it logs is accurate
    but harmless."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - internal API shape changed
        pass


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iterations: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Undirected connected components of a pair graph →
    ``(id, cluster_id)`` with ``cluster_id`` = min id in the component.

    Every vertex appearing in ``pairs`` gets a row (singletons never appear
    — a vertex with no pair is its own trivial cluster and needs no row).
    Ids may be any orderable type (numeric, string). Raises RuntimeError if
    the fixpoint is not reached within ``max_iterations`` rounds — with
    pointer jumping that bound covers graphs of diameter ~2^max_iterations,
    so hitting it means something is wrong, not that the graph is big.

    ``stats``: pass a dict to receive ``{"rounds": n}`` — the measured
    round count, the quantity the O(log d) claim is pinned on (see
    tests/test_clusters.py giant-component fixture).

    SKEW POSTURE — a giant component makes two
    keys hot, each absorbed differently:

    - ``groupBy("src")`` min-label agg: a high-degree vertex owns millions
      of edge rows, but min() is combiner-friendly — partial aggregation
      collapses each map partition to one row per src BEFORE the exchange,
      so the hot key ships O(#partitions) rows, not O(degree).
    - the edges⋈labels join on ``dst`` and the pointer-jump self-join on
      ``label``: once a giant component's label floods, one join key owns
      most probe rows. Partial agg cannot help a join; AQE's skew-join
      (enabled per the engine's config posture) splits the oversized
      partition into per-split tasks against a replicated build side —
      the standard mitigation, no salting needed because the SMALL side of
      both joins is one row per key (labels), which AQE replicates
      cheaply. At test scale the partitions sit far below
      ``spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes``, so
      the split never fires locally; the giant-component fixture instead
      pins the properties that HOLD at any scale: correct labels and the
      O(log d) round count (each extra round re-pays every shuffle).
    """
    from pyspark import StorageLevel

    a, b = F.col(a_col), F.col(b_col)
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)  # reused every round
    )
    # initialization folds the FIRST hash-min half-round in (guide
    # §2.4): with identity labels, round 1's neighbour-min is just
    # min(neighbour ids), so label₀ = least(id, min(dst)) comes out of the
    # same single aggregation that used to compute the bare distinct id
    # set — one round's joins/checkpoints saved on the dense clique/star
    # graphs dedup produces (they reach the fixpoint at initialization and
    # the loop's first round is the convergence proof).
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__md"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("__md")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    # the previous round's checkpointed label table, freed as soon as the
    # next round's checkpoint is materialized; the FINAL
    # round's checkpoint is never freed — the returned DataFrame reads it
    prev_ckpt = labels
    try:
        for rounds in range(1, max_iterations + 1):
            if stats is not None:
                stats["rounds"] = rounds
            # 1) min over neighbours' labels (the one edge-sized shuffle).
            # The round threads the OLD label through as __old so convergence
            # is an exact changed-row count — type-agnostic (string ids too),
            # no probabilistic hash fingerprint.
            nbr = (
                edges.join(labels.withColumnRenamed("id", "dst"), "dst")
                .groupBy("src")
                .agg(F.min("label").alias("nlabel"))
                .withColumnRenamed("src", "id")
            )
            merged = (
                labels.join(nbr, "id", "left")
                .select(
                    "id",
                    F.col("label").alias("__old"),
                    F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias(
                        "label"
                    ),
                )
                # checkpoint BEFORE the self-join: an uncheckpointed self-join
                # would recompute the neighbour join for both sides
                .localCheckpoint(eager=True)
            )
            # 2) pointer jump: adopt the label of one's label — label values
            # are always vertex ids, so the join hits (left + coalesce only
            # defends the invariant, it never fires on well-formed input)
            m2 = merged.select(
                F.col("id").alias("__lid"), F.col("label").alias("__llabel")
            )
            stepped = (
                merged.join(m2, merged["label"] == m2["__lid"], "left")
                .select(
                    merged["id"],
                    merged["__old"],
                    F.least(
                        merged["label"], F.coalesce(m2["__llabel"], merged["label"])
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            # stepped is materialized: everything it was derived from is
            # superseded — free this round's intermediate and the previous
            # round's label table (each an O(V) cached block set)
            _free_local_checkpoint(merged)
            _free_local_checkpoint(prev_ckpt)
            prev_ckpt = stepped
            changed = stepped.agg(
                F.sum((F.col("__old") != F.col("label")).cast("long")).alias("c")
            ).first()["c"]
            labels = stepped.select("id", "label")
            if not changed:  # None (empty graph) or 0 -> fixpoint
                return labels.select("id", F.col("label").alias("cluster_id"))
    finally:
        edges.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def select_survivors(
    members: DataFrame,
    cluster_col: str = "cluster_id",
    id_col: str = "id",
    quality_col: str | None = None,
) -> DataFrame:
    """Keep-one-per-cluster policy → ``(cluster_id, n_members, survivor_id)``.

    ``quality_col=None``: survivor = min id (the ``exact_duplicates``
    canonical_id convention). With a NUMERIC ``quality_col``: survivor =
    highest quality, ties broken by min id — e.g. keep the longest document
    of a near-dup cluster. NULL qualities rank BELOW every real quality
    (struct-min would otherwise rank a NULL negated quality smallest and
    crown the degenerate member); a cluster whose members are all NULL
    falls back to min id. One map-side-combined groupBy; no window, no
    second shuffle.
    """
    if quality_col is None:
        return members.groupBy(cluster_col).agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(id_col).alias("survivor_id"),
        )
    best = F.min(
        F.struct(
            F.coalesce(
                (-F.col(quality_col)).cast("double"), F.lit(float("inf"))
            ).alias("__nq"),
            F.col(id_col).alias("__sid"),
        )
    )
    return (
        members.groupBy(cluster_col)
        .agg(F.count(F.lit(1)).alias("n_members"), best.alias("__b"))
        .select(cluster_col, "n_members", F.col("__b.__sid").alias("survivor_id"))
    )


def deduplicate(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a_col: str = "a_id",
    b_col: str = "b_id",
    quality_col: str | None = None,
) -> DataFrame:
    """End-to-end keep-one dedup: drop every row of ``df`` that belongs to a
    near-dup cluster but is not its survivor. Composes
    ``connected_components`` + ``select_survivors``; rows never appearing in
    ``pairs`` pass through untouched (their trivial cluster is themselves).

    ``quality_col``: a numeric column of ``df`` ranking survivors (see
    select_survivors); None keeps the min id.

    Scale shape: the component iteration runs over the O(V) pair-vertex set
    only; the final step is one left-anti join of ``df`` against the
    non-survivor id list — broadcast by AQE when duplicates are scarce (the
    common case), shuffle-hash otherwise. The document payload crosses no
    other shuffle.
    """
    clusters = connected_components(pairs, a_col, b_col)
    members = clusters.join(
        df.select(F.col(id_col).alias("id"), *([quality_col] if quality_col else [])),
        "id",
    )
    surv = select_survivors(members, quality_col=quality_col)
    losers = members.join(
        surv.select(F.col("survivor_id").alias("id")), "id", "left_anti"
    ).select("id")
    return df.join(losers.withColumnRenamed("id", id_col), id_col, "left_anti")
