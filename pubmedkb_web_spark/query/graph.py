"""Graph queries: MeSH subgraph BFS, chem–disease retrieval, CGD 2-hop.

- MeSH ontology traversal (/query_mesh_disease subgraph BFS,
  /root/reference/server.py:2369-2467 over the node rows of
  kb_utils.py:2196-2252): iterative frontier-expansion self-joins on the
  edge table, depth-bounded, visited-set anti-join per level.
- chem_disease three access paths (by pair / by c / by d,
  server.py:2892-2908): one table, three filter shapes (SURVEY.md J11).
- CGD 2-hop drug discovery (kb_utils.py:2862-2909): the paths table is
  materialized at build (materialize.build_cgd_paths); query = filter +
  top-k (SURVEY.md J10/T2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bound

_VISITED = T.StructType(
    [T.StructField("node", T.StringType()), T.StructField("depth", T.IntegerType())]
)
_MESH = T.StructType([T.StructField("mesh", T.StringType())])


def bfs_subgraph(
    edges: DataFrame, roots: list[str], max_depth: int = 3, direction: str = "out"
) -> DataFrame:
    """(node, depth) reachable from roots within max_depth.

    Per level: frontier ⋈ edges → next frontier, minus visited (left_anti).
    localCheckpoint per level cuts the growing lineage. Depth is the
    *minimum* distance (first time a node is reached wins).

    r7 note: a fully declarative variant (union of distinct k-hop
    frontiers, min(depth) per node, one Spark job) was built and MEASURED
    — same-session A/B came out EQUAL-to-slightly-slower at sf1.0 (1.66 s
    vs 1.53 s), and without the visited anti-join it re-evaluates level
    k's lineage depth−k times (O(depth²) join work, worse on cyclic
    graphs). The eager loop is the scale-correct algorithm; the one
    change kept from that experiment is checkpointing the edge relation
    ONCE so each level joins materialized edges instead of re-running the
    upstream edge plan per level (guide §2.4).
    """
    spark = edges.sparkSession
    src, dst = ("src", "dst") if direction == "out" else ("dst", "src")
    edges = edges.localCheckpoint(eager=True)
    visited = bound.local_relation(spark, [(r, 0) for r in roots], _VISITED).localCheckpoint(
        eager=True
    )
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges[src])
            .select(edges[dst].alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(depth))
        )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


# label_to_level gate for supplemental expansion (kb_utils.py:2338)
_MESH_LABEL_LEVEL = {"query": 1, "sub-category": 2, "super-category": 3, "sibling": 4}


def mesh_subgraph(
    nodes: DataFrame,
    query_meshes: list[str],
    super_level: int = 3,
    sub_level: int = 1,
    sibling_level: int = 1,
    supplemental_level: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """The /query_mesh_disease subgraph (kb_utils.py:2264-2352) over a MeSH
    node table ``nodes(mesh, display_name, parent_list, child_list,
    supplemental_list, descriptor_list, is_supplemental)`` — the MESHNode
    row model (kb_utils.py:2196-2228) keyed by mesh id instead of row index.

    Phases exactly as the reference: query → ancestors (super_level
    frontier hops) → descendants (sub_level hops) → siblings (parents of
    query + their children, iff sibling_level == 1) → supplementals of
    every node whose first label passes the label_to_level gate →
    descriptors of query nodes. A node keeps its FIRST label
    (chronological == priority order). Each hop is one distributed
    explode-join on the adjacency arrays; levels are small constants
    (defaults ≤3), so the driver loop is bounded like any BFS.

    Returns (nodes_with_label, edges(src, dst)); edges point parent→child,
    node→supplemental, descriptor→query, deduplicated.
    """
    spark = nodes.sparkSession
    # materialize the node table ONCE: every hop (≈10 with the default
    # levels) joins the frontier against ``nodes``, and the final labeled
    # join reads it again — without this each of those re-runs the full
    # upstream node-derivation plan (guide §2.4). The MeSH forest is small
    # by construction (~10⁴-10⁵ rows at any corpus scale).
    nodes = nodes.localCheckpoint(eager=True)
    clean = [m[len("MESH:"):] if m.startswith("MESH:") else m for m in query_meshes]
    # r7: the traversal below is fully declarative — no per-hop
    # localCheckpoint/isEmpty. Unlike BFS there is no visited-set
    # dependence between phases (labels resolve by min_by(prio) at the
    # end), so eager per-hop materialization bought nothing semantically
    # and cost 2 driver-synchronous jobs per hop (~15 jobs for the default
    # levels — the measured bulk of this operator's wall time). A hop over
    # an empty frontier yields an empty batch, which the resolve ignores;
    # the level bounds are small constants so the lazy plan stays shallow
    # (guide §1.2: the serial job chain WAS the algorithm problem).
    qdf = (
        bound.local_relation(spark, [(m,) for m in clean], _MESH)
        .join(nodes.select("mesh"), "mesh")  # drop unknown ids (l.2277-2281)
        .localCheckpoint(eager=True)
    )

    # each batch's prio literal is the reference's chronological add order:
    # add_and_get_node keeps a node's FIRST label (kb_utils.py:2255-2262),
    # so resolve() takes the label of the lowest prio
    label_batches = [qdf.select("mesh", F.lit("query").alias("label"), F.lit(0).alias("prio"))]
    edge_batches = []

    def hop(frontier: DataFrame, list_col: str, parent_side: bool):
        """frontier ⋈ nodes → explode adjacency; returns (edges, next)."""
        exp = frontier.join(nodes.select("mesh", list_col), "mesh").select(
            F.col("mesh").alias("_n"), F.explode(list_col).alias("_m")
        )
        if parent_side:  # _m is the parent: edge (parent, node)
            e = exp.select(F.col("_m").alias("src"), F.col("_n").alias("dst"))
        else:  # _m is the child/supplemental: edge (node, _m)
            e = exp.select(F.col("_n").alias("src"), F.col("_m").alias("dst"))
        # per-hop distinct kept deliberately: it is semantically redundant
        # (labels groupBy by mesh, edges dedupe at the end) but removing it
        # was MEASURED 5x slower at sf1.0 — the exchange acts as a plan
        # barrier that keeps Catalyst from re-optimizing the ever-growing
        # join tree per hop (guide §1.1: the "ideal" shuffle-free plan lost
        # to the gotcha; empirical loop wins).
        nxt = exp.select(F.col("_m").alias("mesh")).distinct()
        return e, nxt

    frontier = qdf
    first_parent_hop = None
    for lvl in range(super_level):
        e, frontier = hop(frontier, "parent_list", parent_side=True)
        if lvl == 0:
            first_parent_hop = (e, frontier)
        edge_batches.append(e)
        label_batches.append(
            frontier.select("mesh", F.lit("super-category").alias("label"), F.lit(1).alias("prio"))
        )

    frontier = qdf
    for _ in range(sub_level):
        e, frontier = hop(frontier, "child_list", parent_side=False)
        edge_batches.append(e)
        label_batches.append(
            frontier.select("mesh", F.lit("sub-category").alias("label"), F.lit(2).alias("prio"))
        )

    if sibling_level == 1:
        # the parents-of-query hop is IDENTICAL to the first ancestor hop —
        # reuse its DataFrames instead of re-deriving the join+explode
        # subtree (one less hop in the plan; the duplicate edge batch it
        # used to produce was deduplicated away at the end anyway)
        e, parents = (
            first_parent_hop
            if first_parent_hop is not None
            else hop(qdf, "parent_list", parent_side=True)
        )
        edge_batches.append(e)
        label_batches.append(
            parents.select("mesh", F.lit("super-category").alias("label"), F.lit(3).alias("prio"))
        )
        e2, siblings = hop(parents, "child_list", parent_side=False)
        edge_batches.append(e2)
        label_batches.append(
            siblings.select("mesh", F.lit("sibling").alias("label"), F.lit(4).alias("prio"))
        )

    def resolve(batches: list[DataFrame]) -> DataFrame:
        allb = batches[0]
        for b in batches[1:]:
            allb = allb.unionByName(b)
        return allb.groupBy("mesh").agg(F.min_by("label", "prio").alias("label"))

    pre_supp = resolve(label_batches)

    # supplementals for every node whose first label clears the gate
    gate = F.create_map(*[F.lit(x) for kv in _MESH_LABEL_LEVEL.items() for x in kv])
    eligible = pre_supp.filter(gate[F.col("label")] <= F.lit(supplemental_level))
    e_supp, supp = hop(eligible.select("mesh"), "supplemental_list", parent_side=False)
    edge_batches.append(e_supp)
    label_batches.append(
        supp.select("mesh", F.lit("supplemental").alias("label"), F.lit(5).alias("prio"))
    )

    # descriptors of query nodes: edge (descriptor, query) (l.2347-2351)
    e_desc, desc = hop(qdf, "descriptor_list", parent_side=True)
    edge_batches.append(e_desc)
    label_batches.append(
        desc.select("mesh", F.lit("descriptor").alias("label"), F.lit(6).alias("prio"))
    )

    final_labels = resolve(label_batches)
    nodes_out = nodes.join(final_labels, "mesh")
    edges_out = edge_batches[0]
    for e in edge_batches[1:]:
        edges_out = edges_out.unionByName(e)
    return nodes_out, edges_out.distinct()


def mesh_name_lookup(mesh_names: DataFrame, meshes: list[str]) -> DataFrame:
    """mesh → ordered name list (MESHNameKB.get_mesh_name_by_mesh_id,
    kb_utils.py:2172-2176): names table (mesh, name, rank) rolled up."""
    hits = mesh_names.filter(F.col("mesh").isin(meshes))
    return hits.groupBy("mesh").agg(
        F.sort_array(F.collect_list(F.struct("rank", "name"))).alias("_names")
    ).select("mesh", F.col("_names.name").alias("names"))


def chem_disease_lookup(
    chem_disease: DataFrame,
    c: str | None = None,
    d: str | None = None,
    level: str = "paper",
) -> DataFrame:
    """Evidence counts for (c, d) / by chemical / by disease — the three
    access paths are the same relation with different pushdown filters.
    ``n_docs`` is the size of the distinct ``doc_ids`` set, so the lookup
    plans one hash aggregation, not the second one ``count(distinct)``
    adds."""
    df = chem_disease.filter(F.col("level") == level)
    if c is not None:
        df = df.filter(F.col("c") == c)
    if d is not None:
        df = df.filter(F.col("d") == d)
    docs = F.sort_array(F.collect_set("doc_id")).alias("doc_ids")
    return df.groupBy("c", "d").agg(docs).select(
        "c", "d", F.size("doc_ids").cast("bigint").alias("n_docs"), "doc_ids"
    )


def cgd_drug_discovery(
    cgd_paths: DataFrame, d: str, top_k: int = 10
) -> DataFrame:
    """Chemicals 2 hops from a disease, ranked by summed path score
    (kb_utils.py:2862-2909): per chemical, total score over gene paths +
    the per-gene breakdown, top-k (adaptive heap in the reference →
    TakeOrderedAndProject here, SURVEY.md T2)."""
    paths = cgd_paths.filter(F.col("d") == d)
    per_chem = paths.groupBy("c").agg(
        F.round(F.sum("cgd_score"), 6).alias("cd_score"),
        F.sort_array(
            F.collect_list(F.struct((-F.col("cgd_score")).alias("ns"), "g", "cgd_score"))
        ).alias("_genes"),
    )
    return (
        per_chem.select(
            "c",
            "cd_score",
            F.col("_genes.g").alias("genes"),
            F.col("_genes.cgd_score").alias("gene_scores"),
        )
        .orderBy(F.col("cd_score").desc(), F.col("c").asc())
        .limit(top_k)
    )
