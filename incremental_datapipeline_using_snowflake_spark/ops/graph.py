"""Graph operators: connected components over candidate-pair edges.

Deduplication produces *pairs* (exact, MinHash, SimHash, embedding); an
actual dedup pass needs *clusters* — the transitive closure of the pair
relation — so that one canonical document survives per component and
every other member is dropped. This module closes that gap.

Algorithm: iterative **min-label propagation with pointer jumping**.
Every node starts labeled with its own id; each round a node adopts the
minimum label among itself and its neighbors (one shuffle join + one
groupBy), then labels are compressed through the label table itself
(``comp(v) <- comp(comp(v))`` — a self-join), which halves label-chain
depth per round. Convergence is O(log d) rounds for diameter-d
components instead of O(d) for plain propagation; near-dup clusters are
near-cliques (d <= 3 typically), so 2-3 rounds end-to-end is the norm.

Scale notes (100 TB bar):

- each round is a bounded number of hash-partition shuffles keyed on the
  node id — never a collect, never a driver-side graph;
- ``localCheckpoint`` truncates lineage every round; without it the plan
  doubles per iteration and stage retries re-run the whole history (the
  classic iterative-Spark failure mode);
- the edge table is persisted once and reused every round;
- the convergence check is ``limit(1)`` on the changed-label set — it
  short-circuits after the first differing row rather than counting all.

Reference parity: the reference pipeline has no graph operator — this is
part of the LLM-training-data extension surface (SURVEY.md "beyond the
reference" items), turning pair generators in ops.dedup into usable
keep/drop decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin

MAX_CC_ITERS = 50


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = MAX_CC_ITERS,
) -> DataFrame:
    """(id, comp) for every node appearing in ``edges``; ``comp`` is the
    minimum node id reachable from ``id`` (a canonical, deterministic
    component label).

    Nodes with no edges never appear in the output — callers wanting
    singleton rows should left-join this result onto their node table and
    ``coalesce(comp, id)``.

    Raises ``RuntimeError`` if labels have not stabilized after
    ``max_iters`` rounds (pointer jumping makes that ~2^max_iters of
    effective diameter — unreachable for any real dedup graph; the guard
    exists so a logic regression fails loudly instead of looping).
    """
    from pyspark.sql import Observation

    # pin the edge list once (symmetrizing reads it twice); each count rides
    # its pin's own job
    n_e, n_sym = Observation(), Observation()
    e = pin(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .observe(n_e, F.count(F.lit(1)).alias("n"))
    )
    if n_e.get["n"] == 0:
        # no edges, no nodes: skip symmetrizing, the labels pin and the loop
        return e.select(F.col("src").alias("id"), F.col("dst").alias("comp"))
    sym = pin(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .observe(n_sym, F.count(F.lit(1)).alias("n"))
    )
    n_edges = n_sym.get["n"]

    # Scale-adaptive loop partitioning (r14, guide §2.1/§2.2): every
    # iteration runs 3 tiny shuffles over the SAME frames, and the
    # checkpointed RDDs freeze whatever partition count the session
    # default gave them — on local[32] a few-thousand-edge dedup graph ran
    # 3 x 32-task stages per round, pure scheduling overhead (the r13
    # driver measured leakage_safe_split FASTER on 8 cores than 32, ratio
    # 0.58). Size the loop's shuffles from the measured edge count
    # (~100k edges/partition) and CAP at the session default, so at
    # warehouse scale the behavior is unchanged — this only coalesces
    # when the graph is small relative to the configured parallelism.
    spark = edges.sparkSession
    default_p = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    loop_p = max(1, min(default_p, n_edges // 100_000 + 1))
    sym = sym.coalesce(loop_p)

    old_p = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_p))
    try:
        labels = sym.select(F.col("src").alias("id")).distinct().select(
            "id", F.col("id").alias("comp")
        )
        labels = pin(labels)
        return _cc_loop(sym, labels, max_iters)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_p)


def _cc_loop(sym: DataFrame, labels: DataFrame, max_iters: int) -> DataFrame:
    for _ in range(max_iters):
        # 1. neighbor-min: adopt the smallest label in the closed
        #    neighborhood. One shuffle (join on dst) + one groupBy(id).
        nbr = sym.join(labels.withColumnRenamed("id", "dst"), "dst").select(
            F.col("src").alias("id"), "comp"
        )
        new = nbr.union(labels).groupBy("id").agg(F.min("comp").alias("comp"))
        # 2. pointer jumping: follow the label one hop through the label
        #    table (comp values are themselves node ids, so the lookup
        #    always resolves). Halves chain depth each round.
        lookup = new.select(F.col("id").alias("comp"), F.col("comp").alias("_jump"))
        # Lazy checkpoint: the convergence probe below is the round's one
        # action and materializes the truncated-lineage RDD as it runs —
        # eager=True here would spend a second job per round doing the
        # same materialization before the probe.
        new = (
            new.join(lookup, "comp", "left")
            .select("id", F.coalesce("_jump", "comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new.join(labels.withColumnRenamed("comp", "_old"), "id")
            .filter(F.col("comp") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iters} rounds")


PR_SCALE = 10**12  # fixed-point grid: 1.0 of PageRank mass = 1e12
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact rational


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Integer-exact PageRank: ``(id, score)`` after ``iters`` power
    iterations, where ``score`` is fixed-point mass on the 1e-12 grid.

    Every quantity is int64 and every division is integer floor division,
    so the result is bit-for-bit reproducible in any engine (the same
    discipline as the k-means oracle): uniform init ``floor(SCALE/n)``,
    per-edge contribution ``floor(score/outdeg)``, update ``base +
    floor(85*incoming/100)`` with ``base = floor(15*SCALE/(100*n))``.
    Mass from dangling nodes (no out-edges) is dropped, not redistributed
    — the standard simplification, documented so the oracle matches.

    Scale shape: per iteration one join keyed on ``src`` (contribution
    lookup) + one groupBy(``dst``) shuffle; ``localCheckpoint`` truncates
    the iterative lineage. int64 never overflows at ANY corpus size:
    total mass is conserved at <= SCALE, so ``85 * incoming`` is bounded
    by 85e12 regardless of node count.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    e = pin(e)
    nodes = pin(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = nodes.count()
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * n)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))

    scores = nodes.select("id", F.lit(PR_SCALE // n).cast("long").alias("score"))
    for i in range(iters):
        contrib = (
            scores.join(deg, scores["id"] == deg["src"])
            .select("src", F.expr("score div outdeg").alias("share"))
        )
        incoming = (
            e.join(contrib, "src")
            .groupBy("dst")
            .agg(F.sum("share").alias("acc"))
        )
        scores = (
            nodes.join(incoming, nodes["id"] == incoming["dst"], "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(acc, 0L)) div {PR_DAMP_DEN}"
                    )
                ).cast("long").alias("score"),
            )
            .localCheckpoint(eager=i == iters - 1)
        )
    return scores


def dedup_keep_decisions(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """Per-document keep/drop verdicts from near-dup pairs.

    Resolves ``pairs`` into connected components, then keeps exactly one
    document (the minimum id) per component; documents outside any pair
    are kept unconditionally. Output: ``(id_col, cluster_id, keep)`` —
    the materializable allow-list a dedup pass joins back onto the corpus
    (a broadcast-friendly anti-join at scale: the drop-list is tiny
    relative to the corpus).

    ``components`` lets callers that resolve several decisions over the
    same pair set (cluster listing, keep summary, best-member selection)
    pass one precomputed ``(id, comp)`` table instead of re-running CC.
    """
    comp = (
        components
        if components is not None
        else connected_components(pairs, src_col=src_col, dst_col=dst_col)
    )
    return (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("comp", F.col(id_col)).alias("cluster_id"),
            (F.coalesce("comp", F.col(id_col)) == F.col(id_col)).alias("keep"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """Quality-aware variant of :func:`dedup_keep_decisions`: per connected
    component, keep the member with the highest ``score_col`` (id as
    tiebreak) instead of the smallest id — the production heuristic
    (keep the longest / highest-quality copy, drop the rest).

    One extra window over the cluster key on top of the component labels;
    singletons keep themselves. Output: (id_col, cluster_id, score, keep).
    """
    from pyspark.sql import Window as W

    comp = (
        components
        if components is not None
        else connected_components(pairs, src_col=src_col, dst_col=dst_col)
    )
    labeled = (
        df.select(F.col(id_col), F.col(score_col).alias("score"))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("comp", F.col(id_col)).alias("cluster_id"),
            "score",
        )
    )
    w = W.partitionBy("cluster_id").orderBy(F.desc("score"), F.asc(id_col))
    return labeled.withColumn("keep", F.row_number().over(w) == 1)


def triangle_counts(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Per-node triangle counts over an undirected edge set (pairs with
    ``a < b``, already deduplicated — exactly what every ops.dedup pair
    generator emits).

    Triangles measure how clique-like a near-dup neighborhood is: a pair
    component rich in triangles is a true duplicate cluster (every member
    matches every other), while a triangle-poor chain is the transitive-
    closure artifact (A~B~C but A!~C) that over-merges clusters — the
    standard diagnostic for choosing between keep-one-per-component and
    pairwise-verified pruning.

    Plan shape (standard distributed node-iterator): each triangle
    (a < b < c) is enumerated exactly once by joining wedges (a-b, b-c)
    against the closing edge (a-c) — two hash-partition equi-joins on
    node keys, never an all-pairs product; per-join fan-out is bounded by
    per-node degree, which the upstream blocked pair generators already
    bound. Output: (id, n_triangles) for every node in at least one
    triangle.
    """
    e = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    ab = e.withColumnsRenamed({"a": "t_a", "b": "t_b"})
    bc = e.withColumnsRenamed({"a": "t_b2", "b": "t_c"})
    ac = e.withColumnsRenamed({"a": "t_a2", "b": "t_c2"})
    tri = (
        ab.join(bc, F.col("t_b") == F.col("t_b2"))
        .join(
            ac,
            (F.col("t_a") == F.col("t_a2")) & (F.col("t_c") == F.col("t_c2")),
            "left_semi",
        )
        .select("t_a", "t_b", "t_c")
    )
    members = (
        tri.select(F.col("t_a").alias("id"))
        .unionAll(tri.select(F.col("t_b").alias("id")))
        .unionAll(tri.select(F.col("t_c").alias("id")))
    )
    return members.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def clustering_coefficients(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Per-node local clustering coefficient over an undirected deduped
    edge set: ``cc = 2·T / (deg·(deg−1))`` — the continuous refinement of
    the triangle diagnostic (:func:`triangle_counts`): cc ≈ 1 marks a node
    inside a true duplicate clique, cc ≈ 0 a chain/star artifact of
    transitive closure.

    Plan: degree is one node-keyed count over the exploded endpoints;
    triangles reuse the wedge+closing-edge joins; one left join stitches
    them (nodes in no triangle score 0). Exchanges carry (id, count) pairs
    only. The coefficient is emitted as parts-per-million BIGINT (the
    int-grid idiom), never a raw double.

    Output: ``id, degree, n_triangles, cc_ppm`` for nodes with degree ≥ 2
    (cc is undefined below that).
    """
    e = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(pairs, a_col, b_col)
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.floor(
                F.coalesce(F.col("n_triangles"), F.lit(0))
                * 2.0
                / (F.col("degree") * (F.col("degree") - 1))
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cc_ppm"),
        )
    )
