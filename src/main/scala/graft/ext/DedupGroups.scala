package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Turning near-duplicate PAIRS into dedup GROUPS: connected components
  * over the similarity graph, then keep-one-per-component.
  *
  * Algorithm: iterative label propagation ("hash-to-min") — every node
  * starts labeled with its own id; each round, every node adopts the
  * minimum label in its neighborhood; converged when no label changes.
  * Each round is one join + one aggregate (both shuffles on node id).
  * Plain propagation moves labels one hop per round, so rounds are
  * O(component diameter) — fine for near-dup graphs, which are
  * overwhelmingly small cliques and short chains. Non-convergence within
  * `maxIter` THROWS rather than silently returning partial components
  * (silent under-merge would mean silent under-deduplication). This is
  * the standard scalable formulation — no driver-side union-find, no
  * graph library dependency.
  */
object DedupGroups {

  /** Connected components of an undirected pair list (doc_a, doc_b).
    * Returns (doc_id, component) where component = min doc_id reachable.
    *
    * RETENTION: the returned DataFrame is the final round's checkpoint,
    * one label table pinned per call until the caller frees it
    * ([[Checkpoints]]); the scope frees every earlier round.
    *
    * @throws IllegalStateException if labels have not stabilized after
    *         maxIter rounds (pathologically long chains — raise maxIter).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    Checkpoints.scoped(componentLabels(_, pairs, maxIter))

  /** [[connectedComponents]]' loop, run in the caller's scope: the
    * returned labels are that scope's last checkpoint.
    */
  private def componentLabels(scope: Checkpoints.Scope, pairs: DataFrame,
                              maxIter: Int): DataFrame = {
    // symmetric edge list so propagation works in both directions.
    // Round-19 (§2.4, the Graph.scala loop layout): hash-partitioned by
    // the per-round join key ONCE at persist time, so every round's
    // label join streams the edge table from cache with no exchange and
    // no sort (shuffled-hash, labels build); only the O(V) label table
    // and the partial-aggregated neighbor-min move per round.
    val edges = scope.cache(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"),
          col("doc_a").as("dst")))
        .distinct())
    // seed with the one-hop minimum (own id vs direct neighbors) — one
    // aggregate instead of a full propagation round; saves an iteration
    // of join+checkpoint+convergence-check on every call
    var labels = scope.cache(edges.groupBy("src")
      .agg(min("dst").as("mn"))
      .select(col("src").as("id"),
        least(col("mn"), col("src")).as("component")))
    // convergence probe: labels are monotonically non-increasing (every
    // round takes least(own, neighborhood min)), so "no label changed"
    // ⟺ "sum of labels unchanged" — one aggregate pass per round
    // instead of a join+filter+count. Decimal accumulation keeps the
    // sum exact at any node count / id magnitude. Only valid for
    // numeric ids; other id types (monotonicity is in ORDERING, not
    // arithmetic) fall back to the join-based change count.
    val numericIds = labels.schema("component").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def labelSum(df: DataFrame): java.math.BigDecimal =
      // sum over zero rows is null — an EMPTY pair set (nothing to
      // dedup) must converge, not NPE
      Option(df.agg(sum(col("component").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    def changedVsJoin(next: DataFrame, prev: DataFrame): Boolean =
      next.join(prev.withColumnRenamed("component", "old"), "id")
        .filter(col("component") =!= col("old")).limit(1).count() > 0
    var prevSum = if (numericIds) labelSum(labels) else null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // each node adopts min(own label, neighbors' labels)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("component").as("n_component"))
      // checkpoint: caps the lineage, which otherwise doubles per round
      // and eventually dominates planning time
      val next = scope.checkpoint(
        labels.join(viaNeighbors, Seq("id"), "left")
          .select(col("id"),
            least(col("component"),
              coalesce(col("n_component"), col("component")))
              .as("component")))
      if (numericIds) {
        val curSum = labelSum(next)
        converged = curSum.compareTo(prevSum) == 0
        prevSum = curSum
      } else {
        converged = !changedVsJoin(next, labels)
      }
      // rotate: the first round drops the persisted seed labels, every
      // later one the previous generation
      scope.release(labels)
      labels = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds maxIter; raise maxIter")
    labels
  }

  /** Quality-aware representative selection: per near-dup component, the
    * member with the HIGHEST score (ties to the lowest doc_id) plus the
    * component size — the curation policy that keeps the best (longest,
    * cleanest, highest-quality) copy instead of an arbitrary min-id one.
    * `scores` needs (doc_id, score: long) — integer scores keep the
    * argmax hash-exact.
    *
    * The argmax is `min(struct(-score, doc_id))` — combinable aggregate,
    * no per-component window (the q129/q138 discipline; components are
    * as zipf-skewed as any key). One CC run + one join + one aggregate.
    *
    * RETENTION: the result is checkpointed here (one row per component
    * — far smaller than the O(nodes) label table, which this operator
    * builds and frees in its own scope). The returned frame therefore
    * pins ONE small checkpoint, the [[connectedComponents]] contract at
    * component granularity instead of node granularity.
    */
  def keepBestPerComponent(pairs: DataFrame, scores: DataFrame): DataFrame =
    Checkpoints.scoped { scope =>
      val labels = componentLabels(scope, pairs, maxIter = 50)
      // eager checkpoint materializes the per-component rows NOW, so the
      // scope frees the O(nodes) labels on return instead of pinning one
      // label table per call for the rest of the session
      scope.checkpoint(labels.join(scores, labels("id") === scores("doc_id"))
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"),
          min(struct((-col("score")).as("ns"), col("doc_id").as("id")))
            .as("best"))
        .select(col("component"), col("n_members"),
          col("best").getField("id").as("kept_doc_id"),
          (-col("best").getField("ns")).as("kept_score")))
    }

  /** Keep-one-per-group: given docs and near-dup pairs, return docs minus
    * every non-representative member of each component (representative =
    * min doc_id, matching q37's keep-first policy).
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
  }
}
