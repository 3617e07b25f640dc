package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Graph operator over (nodes, edges) DataFrames: the reference's entity
 * merge, Spark-first (the query surface's q38 calls it).
 * Nodes: (id, ...attrs); edges: (src, dst, ...attrs).
 */
object GraphOps {

  /** Entity merge with edge redirect (reference mergeEntities,
    * createFlowRAG.ts:51-119): the nodes whose id is in `sources` collapse
    * into one node `target` that keeps the LONGEST description (A6
    * max-by-description, createFlowRAG.ts:73-75; ties break
    * lexicographically — the distributed analog of the reference's
    * first-in-list) and the union of chunk_ids (A5 set union, sorted for
    * determinism); edges incident to any merged node are redirected to
    * `target`, self-loops skipped, and ONLY those re-added edges deduped on
    * the natural key (src, type?, dst) — against each other and against the
    * untouched edges they collide with (createFlowRAG.ts:108-118); edges
    * between unrelated nodes pass through verbatim, pre-existing duplicates
    * included. The node's `type` comes
    * from the target node when it is among the merged set, else from the
    * smallest merged id (the reference's `find(name==target) ??
    * sourceEntities[0]`). Optional columns (`type`, `description`,
    * `chunk_ids` on nodes; `type` + attrs on edges) participate only when
    * present.
    *
    * Scale: one groupBy over the (tiny) merged-node set, and for edges a
    * literal-isin split + natural-key dedup over the TOUCHED slice only —
    * the dedup groupBy + anti-join shuffle scales with the merged nodes'
    * degree, not the whole edge population (which passes through with no
    * exchange at all). */
  def mergeNodes(nodes: DataFrame, edges: DataFrame, sources: Seq[String],
      target: String): (DataFrame, DataFrame) = {
    val srcSet = sources.map(lit(_))
    val inSources = (c: org.apache.spark.sql.Column) => c.isin(srcSet: _*)
    val has = (df: DataFrame, c: String) => df.columns.contains(c)

    // Merged node row: aggregates over the source-node set only. An EMPTY
    // source set must be a full no-op (the reference returns early) — in
    // particular it must NOT delete a pre-existing target node, so check
    // emptiness up front (a LIMIT-1 job on the id-filtered nodes).
    val merged0 = nodes.filter(inSources(col("id")))
    if (merged0.isEmpty) return (nodes, edges)
    val aggs: Seq[org.apache.spark.sql.Column] =
      nodes.columns.toSeq.filterNot(_ == "id").map {
        case "type" => coalesce(
          max(when(col("id") === target, col("type"))),
          min_by(col("type"), col("id"))).as("type")
        case "description" => max_by(col("description"),
          struct(length(col("description")), col("description"))).as("description")
        case "chunk_ids" =>
          array_sort(array_distinct(flatten(collect_list(col("chunk_ids")))))
            .as("chunk_ids")
        case other => min_by(col(other), col("id")).as(other)
      }
    val mergedNode = merged0.groupBy(lit(target).as("id"))
      .agg(count(lit(1)).as("__cnt"), aggs: _*)
      .select(nodes.columns.toIndexedSeq.map(col): _*)
    // Null-safe keep-filter: a NULL-id node is neither a source nor the
    // target and must survive (the plain isin predicate evaluates to NULL
    // and a bare filter would silently drop the row).
    val outNodes = nodes.filter(!(coalesce(inSources(col("id")), lit(false)) ||
        col("id") <=> lit(target)))
      .unionByName(mergedNode)

    // Edge redirect + self-loop skip + SCOPED natural-key dedup: only the
    // redirected edges (an endpoint in the merged set) dedup — against each
    // other, then against the untouched edges they now collide with (the
    // existing edge wins; the redirected copy is the duplicate the reference
    // skips re-adding, createFlowRAG.ts:108-118). The untouched population
    // passes through VERBATIM — a global dedup would silently collapse
    // pre-existing duplicate edges between nodes unrelated to the merge.
    // Scale: the dedup shuffle now covers only the touched slice, not the
    // whole edge population.
    val attrCols = edges.columns.filterNot(c => c == "src" || c == "dst").toSeq
    val keyCols = Seq("src", "dst") ++ (if (has(edges, "type")) Seq("type") else Nil)
    // coalesce: a NULL endpoint is not in the merged set (isin yields NULL
    // there) — such edges are untouched, not dropped from both branches.
    val touched = coalesce(inSources(col("src")) || inSources(col("dst")), lit(false))
    val untouched = edges.filter(!touched)
    val redirected = edges.filter(touched)
      .withColumn("src", when(inSources(col("src")), target).otherwise(col("src")))
      .withColumn("dst", when(inSources(col("dst")), target).otherwise(col("dst")))
      // Null-safe: a dangling redirected edge (NULL far endpoint) is not a
      // self-loop.
      .filter(!(col("src") <=> col("dst")))
    val carried = attrCols.filterNot(keyCols.contains)
    val newEdges =
      if (carried.isEmpty) redirected.select(keyCols.map(col): _*).distinct()
      else redirected
        .groupBy(keyCols.map(col): _*)
        // Smallest attr tuple wins — deterministic where the reference's
        // first-seen depended on iteration order.
        .agg(min_by(struct(carried.map(col): _*),
          struct(carried.map(col): _*)).as("__a"))
        .select((keyCols.map(col) ++ carried.map(c => col(s"__a.$c"))): _*)
    // NULL-SAFE anti-join (<=>): groupBy above treats NULL keys as equal
    // (a redirected dangling edge dedups against its twin), so the
    // existing-edge check must too — a plain equi-anti-join would let a
    // redirected (target, NULL, t) duplicate an identical untouched edge.
    val ut = untouched.select(keyCols.map(c => col(c).as(s"__u_$c")): _*).distinct()
    val dedupedNew = newEdges
      .join(ut, keyCols.map(c => newEdges(c) <=> ut(s"__u_$c")).reduce(_ && _),
        "left_anti")
      .select(edges.columns.toIndexedSeq.map(col): _*)
    (outNodes, untouched.unionByName(dedupedNew))
  }
}
