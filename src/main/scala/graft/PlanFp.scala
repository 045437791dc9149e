package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Executed-plan fingerprint, recorded per query in [[Bench]]'s artifact.
  *
  * Canonical form (the round-15/16 normalization, moved here verbatim):
  * md5 (first 12 hex) over the SORTED multiset of executed-plan node
  * names, descending through AQE wrappers and materialized query stages,
  * with BOTH spellings of AQE's exchange-reuse race normalized at once:
  * (a) each DISTINCT exchange subtree is counted once — a second
  * textually-identical exchange collapses to an `ExchangeReuse` marker,
  * exactly what AQE's dedup would have produced; (b) the stage-plumbing
  * wrappers whose multiplicity depends on where AQE happened to cut
  * stages (QueryStage wrappers, AQEShuffleRead, InputAdapter,
  * WholeStageCodegen) are dropped. Real plan changes stay visible through
  * what remains: operator nodes (joins by strategy name, aggregates,
  * sorts, scans) and the multiset of distinct exchange subtrees. The
  * exchange-identity KEY is the RAW canonical subtree (no dedup markers),
  * so two copies of the same work key identically even when their EMITTED
  * forms diverge (a copy whose inner exchange deduped to a marker would
  * otherwise evade the outer dedup).
  */
object PlanFp {

  private val noise = Set("InputAdapter", "AQEShuffleRead")
  private def isNoise(p: SparkPlan): Boolean =
    noise.contains(p.nodeName) || p.nodeName.startsWith("WholeStageCodegen")

  /** Sorted canonical node-name multiset of an EXECUTED plan. */
  def canon(df: DataFrame): Seq[String] = {
    val seenEx = scala.collection.mutable.Set.empty[String]
    def raw(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => raw(a.executedPlan)
      case q: QueryStageExec => raw(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        raw(r.child)
      case other if isNoise(other) => other.children.flatMap(raw)
      case other => other.nodeName +: other.children.flatMap(raw)
    }
    def names(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => names(a.executedPlan)
      case q: QueryStageExec => names(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        names(r.child)
      case e: org.apache.spark.sql.execution.exchange.Exchange =>
        val key = (e.nodeName +: e.children.flatMap(raw))
          .sorted.mkString("|")
        if (seenEx.add(key)) e.nodeName +: e.children.flatMap(names)
        else Seq("ExchangeReuse")
      case other if isNoise(other) => other.children.flatMap(names)
      case other => other.nodeName +: other.children.flatMap(names)
    }
    names(df.queryExecution.executedPlan).sorted
  }

  def md5Hex12(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  /** Fingerprint of the executed plan; "unavailable" if it can't be walked. */
  def fp(df: DataFrame): String =
    try md5Hex12(canon(df).mkString(","))
    catch { case _: Throwable => "unavailable" }
}
