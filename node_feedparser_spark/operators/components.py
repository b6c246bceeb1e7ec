"""Connected components on DataFrames — iterative large-star / small-star.

Implements the alternating large-star/small-star algorithm ("Connected
Components in MapReduce and Beyond", Kiveris et al., SoCC'14 — public
literature; see PAPERS.md) purely with DataFrame groupBy/join, as required
by the north rule (SURVEY.md A8).  Properties that matter at scale:

- each round is one groupBy(min) + one join: O(|E|) shuffle, no O(n^2) step;
- converges in O(log^2 n) rounds; alias graphs here have tiny diameter so
  3-5 rounds in practice;
- `localCheckpoint` every round cuts lineage growth (without it the plan
  doubles per iteration and the driver OOMs on plan size long before data
  size matters);
- component label = MIN node id, so with node_id = sha1-hash of the entity
  key the final label matches the pure-Python oracle exactly.

The driver-side loop is job design, not a Catalyst extension (SURVEY.md §4):
the fixpoint test is a cheap count+hash aggregate per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient every edge (u < v), drop self-loops and duplicates."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges (u >= v); connect all smaller neighbors and u to the min."""
    d = e.select(F.col("v").alias("u"), F.col("u").alias("v"))  # now u > v
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    moved = d.join(mins, "u").select(F.col("v").alias("src"), F.col("m").alias("dst"))
    self_edges = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return moved.union(self_edges)


def union_find_labels(pairs) -> "pd.DataFrame":
    """(u, v) node-id pairs -> pandas (node, component) for every node in
    some pair, component = min member id: the driver-side union-find both
    _local_cc and canonicalize's driver path run."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        u, v = int(u), int(v)
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the root IS the component label
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return pd.DataFrame(
        {
            "node": pd.Series(list(parent), dtype="int64"),
            "component": pd.Series([find(n) for n in parent], dtype="int64"),
        }
    )


def _local_cc(e: DataFrame) -> DataFrame:
    """Driver-side union-find for small edge sets.  Identical contract to
    the distributed loop (component = min member id); used below the size
    cutoff where a distributed iteration would spend 10x the work in stage
    scheduling.  A 1000-executor cluster deduping a 10^12-turn corpus still
    ends up here whenever the distinct-alias graph is modest — the cutoff,
    not the cluster, decides."""
    # Arrow in BOTH directions: toPandas() streams the edge list as Arrow
    # batches and the result goes back as one pandas frame (arrow-enabled
    # createDataFrame) — at the 1M-edge cutoff this moves ~2M (node,
    # component) rows in a handful of Arrow buffers instead of ~2M pickled
    # Py4J tuples (measured ~8x on the round-trip).
    pdf = e.toPandas()
    return e.sparkSession.createDataFrame(
        union_find_labels(zip(pdf["u"], pdf["v"])), "node long, component long"
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    checkpoint: bool = True,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """edges(src long, dst long) -> labels(node long, component long).

    component = min node id of the component.  Nodes that appear in no edge
    are absent (callers coalesce to the node's own id).

    Hybrid execution: if the deduped edge set is within `local_threshold`
    (default 1M edges ~ 16 MB of longs), solve on the driver in one pass;
    otherwise run the distributed large-star/small-star loop.  Both paths
    produce identical labels.
    """
    e = _canonical(edges)
    if checkpoint:
        e = e.localCheckpoint()
    if local_threshold > 0 and e.count() <= local_threshold:
        return _local_cc(e)
    prev_sig = None
    for _ in range(max_iter):
        e = _canonical(_large_star(e))
        e = _canonical(_small_star(e))
        if checkpoint:
            e = e.localCheckpoint()
        sig_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent, overflow-free under ANSI mode
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # At fixpoint the edge set is a star forest: (root=u) -> (member=v).
    members = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node"), F.col("u").alias("component")).distinct()
    return members.union(roots).distinct()


def incremental_components(
    assign: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 25,
    checkpoint: bool = True,
) -> DataFrame:
    """Fold a batch of NEW edges into an existing component assignment
    without recomputing over old edges — the canonicalization-merge step
    of an append-only KG build (each incremental build_kg snapshot adds
    alias links; re-running CC over 10^12 accumulated edges per batch
    would dominate the job).

    ``assign``(node, component) is any valid assignment with component =
    min node id (what connected_components emits); ``new_edges``(src, dst)
    is the delta.  Correctness rests on the quotient-graph property: an
    assignment preserves exactly the connectivity classes of the edges it
    came from, so running CC on the edges REWRITTEN INTO COMPONENT SPACE
    (src -> comp(src), dst -> comp(dst); unseen nodes are their own
    component) merges precisely the classes the new edges connect.  The
    input to that CC is at most |delta| edges over component ids — tiny
    next to the accumulated graph — and because old labels are min node
    ids and new nodes label themselves, min-over-merged-labels is again
    the global min node id: the result is IDENTICAL to full recompute
    (pinned by randomized test).

    Plan: two broadcast-or-shuffle joins of the delta against ``assign``
    keyed on node (at scale ``assign`` is the bucketed vertices table, so
    these are bucket-local), one small CC, one join to remap ``assign``.

    Returns the updated (node, component) covering old nodes plus any new
    nodes introduced by the delta.
    """
    a_src = assign.select(
        F.col("node").alias("src"), F.col("component").alias("csrc")
    )
    a_dst = assign.select(
        F.col("node").alias("dst"), F.col("component").alias("cdst")
    )
    delta = (
        new_edges.select("src", "dst")
        .join(a_src, "src", "left")
        .join(a_dst, "dst", "left")
        .select(
            F.coalesce("csrc", "src").alias("src"),
            F.coalesce("cdst", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    merged = connected_components(
        delta, max_iter=max_iter, checkpoint=checkpoint
    ).select(
        F.col("node").alias("component"), F.col("component").alias("new_comp")
    )
    # new nodes from the delta (absent from assign) enter as themselves
    new_nodes = (
        new_edges.select(F.col("src").alias("node"))
        .union(new_edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(assign.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return (
        assign.unionByName(new_nodes)
        .join(merged, "component", "left")
        .select(
            "node",
            F.coalesce("new_comp", "component").alias("component"),
        )
    )
