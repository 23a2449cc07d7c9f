"""Connected components — turning near-duplicate PAIRS into dedup CLUSTERS.

Every dedup pipeline ends by grouping its pair graph (exact / Jaccard /
MinHash / SimHash / embedding pairs, operators/dedup.py + similarity.py)
into components and keeping one representative per component. The reference
has no analog (its registrar dedups at (file, offset) granularity);
this is the corpus-scale completion of that never-twice contract.

Implementation: iterative min-label propagation, pure DataFrame joins —
label(v) ← min(label(v), min over neighbors' labels), repeated to a
fixpoint. Each round is one shuffle join + one groupBy; rounds needed =
graph diameter. Near-dup clusters are dense and shallow (diameter ≲ 4
in practice), so propagation beats the O(log n)-round star-contraction
algorithms (Kiveris et al., "Connected Components in MapReduce"), which
win only on adversarially long chains — ``connected_components_star``
below implements exactly that alternative for graphs whose diameter is
unknown or hostile. ``localCheckpoint`` after every round truncates the plan
lineage — without it, iteration k re-plans all k−1 predecessor joins and
the driver's optimizer time grows quadratically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _release_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint's storage blocks. ``DataFrame.unpersist()``
    only talks to the SQL cache manager and does NOT release them; the
    persisted RDD sits in the checkpointed plan's LogicalRDD node (verified:
    getRDDStorageInfo 1 → 0 after this call). The released DataFrame is
    DEAD — localCheckpoint truncates lineage, so there is nothing to
    recompute from — only superseded round state may be released."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # best effort: the ContextCleaner reclaims on GC eventually


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """(node, cluster) for every node in ``edges``; cluster = component min.

    Deterministic for any edge order / parallelism (min is commutative).
    Raises if the fixpoint is not reached in ``max_iter`` rounds — for the
    pair graphs this serves, hitting that means the input is not a dedup
    graph (e.g. a path of 2^30 nodes) — use ``connected_components_star``.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # every superseded checkpoint is released as soon as its successor
    # materializes (and sym on every exit path) — over many rounds and many
    # queries in one session the blocks otherwise accumulate in storage
    prev = labels
    try:
        for _ in range(max_iter):
            nbr_min = (
                sym.join(labels, sym.a == labels.node)
                .groupBy(F.col("b").alias("node2"))
                .agg(F.min("label").alias("nbr_label"))
            )
            # the convergence signal rides the SAME join that builds the new
            # labels (_chg marks rows whose label shrinks) — a separate
            # new⋈old comparison join would add one shuffle join and one
            # action per round for information this pass already has
            new_labels = (
                labels.join(nbr_min, labels.node == nbr_min.node2, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                    (F.coalesce("nbr_label", F.col("label")) < F.col("label"))
                    .cast("int")
                    .alias("_chg"),
                )
                .localCheckpoint(eager=True)  # eager: prev is safe to free
            )
            _release_checkpoint(prev)
            prev = new_labels
            changed = int(
                new_labels.agg(F.coalesce(F.sum("_chg"), F.lit(0))).first()[0]
            )
            labels = new_labels.drop("_chg")
            if changed == 0:
                return labels.select("node", F.col("label").alias("cluster"))
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "graph diameter exceeds the dedup-cluster regime this operator "
            "targets; use star-contraction for long-chain graphs"
        )
    except Exception:
        _release_checkpoint(prev)  # error exit: the result is not returned
        raise
    finally:
        _release_checkpoint(sym)


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, cluster) via alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    long-chain escape hatch ``connected_components``'s docstring names:
    propagation needs diameter rounds (a 2^30-node path = 2^30 rounds);
    star contraction halves chain height per round, converging in
    O(log² n) rounds regardless of diameter.

    Per round: large-star hangs every node's larger neighbors off the
    minimum of its neighborhood; small-star re-hangs the smaller ones.
    Each operation is one groupBy + one self-join on the node key — the
    same shuffle shape as a propagation round — and the edge set only
    shrinks toward the final stars (v → component-min). Fixpoint test:
    the canonical (larger, smaller) edge set is unchanged over a full
    round, compared by count + xor of per-edge xxhash64 (order-independent
    over the distinct set; collision odds ~2⁻⁶⁴ — and the union-find
    equality tests in tests/test_graph.py pin the semantics).

    Output matches ``connected_components`` exactly: every node incident
    to an edge, cluster = component minimum. Same checkpoint hygiene:
    superseded rounds are released as soon as their successor
    materializes.
    """
    def _sig(df) -> tuple:
        # order-independent signature of a distinct edge set: (count,
        # xor of per-edge hashes) — collision odds ~2^-64, and the exact
        # exceptAll confirm below removes even those before returning
        return tuple(
            df.agg(
                F.count(F.lit(1)),
                F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)),
            ).first()
        )

    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    live = [e]  # checkpoints to release on an error exit
    try:
        sig_in = _sig(e)
        for _ in range(max_iter):
            # large-star: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u),
            # v > u. Checkpointed: it feeds TWO branches below and Spark
            # recomputes a reused DataFrame per DAG branch (no cross-branch
            # CSE — measured in round 2).
            sym = e.union(
                e.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            mins = sym.groupBy("a").agg(
                F.least(F.min("b"), F.first("a")).alias("m")
            )
            large = (
                sym.join(mins, "a")
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            live.append(large)
            # small-star on the min-oriented (a > b) edges: re-hang every
            # smaller neighbor (and u itself) on the neighborhood minimum
            smins = large.groupBy("a").agg(F.min("b").alias("m"))
            e_next = (
                large.join(smins, "a")
                .filter(F.col("b") != F.col("m"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .union(smins.select("a", F.col("m").alias("b")))
                .filter(F.col("a") != F.col("b"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            live.append(e_next)
            sig_l, sig_s = _sig(large), _sig(e_next)
            # per-operation fixpoint (the paper's termination): BOTH stars
            # left the set unchanged; confirm exactly before returning
            if (
                sig_l == sig_in
                and sig_s == sig_l
                and e_next.exceptAll(e).count() == 0
            ):
                labels = (
                    e_next.select(
                        F.col("a").alias("node"), F.col("b").alias("cluster")
                    )
                    .union(
                        e_next.select(
                            F.col("b").alias("node"),
                            F.col("b").alias("cluster"),
                        )
                    )
                    .distinct()
                )
                for df in live[:-1]:
                    _release_checkpoint(df)
                return labels
            for df in live[:-1]:
                _release_checkpoint(df)
            live = [e_next]
            e, sig_in = e_next, sig_s
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    except Exception:
        for df in live:
            _release_checkpoint(df)
        raise
