"""Distributed graph operators.

`connected_components`: alternating large-star / small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public algorithm, reimplemented here on the DataFrame API). Each round is
two (agg + equi-join + distinct) passes over the edge set; the edge set
contracts toward one star per component in O(log d) rounds, versus
min-label propagation's O(d) rounds on a diameter-d component. At 100 TB
the round count — each round is a full shuffle of the edge set — is the
dominant cost, so the exponent matters: a 1M-long chain converges in ~20
rounds instead of 1M.

No driver-side state beyond the loop counter; per-round lineage is cut
with an eager localCheckpoint so round N's plan does not replay rounds
1..N-1 (at cluster scale this would be `checkpoint()` to durable storage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T


def connected_components(
    edges: DataFrame, max_rounds: int = 50, _prenormalized: bool = False
) -> tuple[DataFrame, int]:
    """Connected components of the undirected graph given by `edges`
    (columns `u`, `v`; either orientation, self-loops ignored).

    Returns `(labels, rounds)` where `labels` has one row per non-isolated
    node: (`doc_id`, `label` = the component's minimum node id).

    Algorithm per round (edge set E oriented hi→lo between rounds):
    - large-star: for each center u over the SYMMETRIC view,
      m = min(N(u) ∪ {u}); emit (v, m) for every neighbor v > u. Every
      edge survives via its smaller endpoint's perspective, and large
      nodes hook directly onto component minima.
    - small-star: for each center u over smaller neighbors N(u),
      m = min(N(u)); emit (v, m) for v ∈ N(u)\\{m} plus (u, m) —
      re-pointing u's smaller fringe at the local minimum.
    Fixpoint when the oriented edge set stops changing; the final edge set
    is exactly one star per component, rooted at the component minimum.
    """
    # `_prenormalized`: the caller already oriented/deduped/checkpointed
    # the edge set (connected_components_adaptive's fallback) — repeating
    # the projection + distinct + eager checkpoint would re-materialize
    # the full edge set precisely on the large-graph path where that is
    # most expensive (ADVICE r13).
    e = edges if _prenormalized else (
        edges.selectExpr("greatest(u, v) AS u", "least(u, v) AS v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sig(df: DataFrame) -> tuple[int, int]:
        """(edge count, order-independent checksum) in ONE job — the
        fixpoint probe. bit_xor of per-edge xxhash64 over a DISTINCT edge
        set: equal (count, checksum) ⇒ equal sets up to a ~2^-64 xor
        collision (vs. the extra exceptAll job per round this replaces)."""
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        ).first()
        return int(r["n"]), (0 if r["x"] is None else int(r["x"]))

    prev_cnt, prev_sum = _sig(e)
    if prev_cnt == 0:
        return e.selectExpr("u AS doc_id", "v AS label"), 0
    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cnt, csum = _sig(ss)
        converged = cnt == prev_cnt and csum == prev_sum
        e, prev_cnt, prev_sum = ss, cnt, csum
        if converged:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")
    # converged edge set = one star per component: (member, root)
    return (
        e.select(F.col("u").alias("doc_id"), F.col("v").alias("label"))
        .union(e.select(F.col("v").alias("doc_id"), F.col("v").alias("label")))
        .distinct(),
        rounds,
    )


def connected_components_adaptive(
    edges: DataFrame, local_max: int = 100_000
) -> tuple[DataFrame, int]:
    """Adaptive components: one count of the deduped oriented edge set;
    at or under `local_max` edges the set is collected and solved with a
    driver-side union-find (ONE job, zero contraction shuffle rounds),
    above it the distributed star-contraction runs unchanged.

    This is the inline-tuples-vs-mask-file adaptivity the COW planner
    already applies (`write.cow.scope-cap`), applied to graph state: the
    incremental cluster folds' touched subgraphs are O(batch) by
    construction (edges = the batch's banded candidate pairs, members =
    the components those pairs touch), so the bounded fast path is the
    steady-state case at fixture AND production batch sizes, while a
    pathological mega-batch falls back to the O(log d)-round contraction
    instead of overflowing the driver. 100k edges ≈ a few MB collected —
    the same driver-state class as the capped COW partition planning."""
    e = (
        edges.selectExpr("greatest(u, v) AS u", "least(u, v) AS v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = e.count()
    if n == 0:
        return e.selectExpr("u AS doc_id", "v AS label"), 0
    if n > local_max:
        return connected_components(e, _prenormalized=True)
    rows = e.collect()
    out = union_find_labels((r["u"], r["v"]) for r in rows)
    return labels_df(e.sparkSession, out), 0


def union_find_labels(pairs) -> dict:
    """Driver-side union-find over an iterable of (u, v) edges; returns
    {node: component_min_id} for every node that appears in an edge.
    Union by MIN id so every root IS its component's label. Shared by
    `connected_components_adaptive` and the bounded cluster-fold fast
    path (plans/dedup.py) — driver state is O(nodes), callers cap the
    edge count before collecting."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for u, v in pairs:
        nodes.add(u)
        nodes.add(v)
        if u == v:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    # every touched node appears exactly once: non-roots via `parent`,
    # self-loop-only nodes and roots via the `nodes` sweep (find() is
    # idempotent post-compression)
    return {node: find(node) for node in nodes}


def local_frame(spark, columns: dict, schema) -> DataFrame:
    """{column name: values} → a one-partition DataFrame over ONE Arrow
    batch.

    Arrow-batched driver→JVM transfer instead of row-at-a-time Py4J
    pickling — at the 100k-edge cap the pickled path measured ~1.5s per
    call, the Arrow path ~50ms. The batch is a pyarrow Table, not a
    pandas frame: PySpark sends an EMPTY pandas frame down the pickled
    path, whose plan is a LogicalRDD, while an Arrow table of any size
    becomes a LocalRelation (which `tables._is_local` reads by value
    instead of checkpointing). Spark slices a LocalRelation into one task
    per core (`leafNodeDefaultParallelism`), so a write of a few dozen
    driver-held rows ran as many tasks and files as the session has
    cores; callers hold at most `plans.dedup._CLUSTER_LOCAL_MAX` rows, so
    the frame is coalesced to one partition."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.table([pa.array(columns[f.name], f.type) for f in arrow], schema=arrow)
    return spark.createDataFrame(table, schema).coalesce(1)


_LABELS_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("label", T.LongType())]
)


def labels_df(spark, labels: dict) -> DataFrame:
    """{node: label} → (doc_id, label) DataFrame via ONE Arrow batch
    (`local_frame`)."""
    items = sorted(labels.items())
    return local_frame(
        spark,
        {"doc_id": [k for k, _ in items], "label": [v for _, v in items]},
        _LABELS_SCHEMA,
    )
