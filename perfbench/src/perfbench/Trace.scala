package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval. `root` is the request or query execution the span
  * belongs to (the id of its outermost span); times are monotonic
  * nanoseconds on the [[Tracer]]'s clock.
  */
final case class Span(id: Long, parent: Long, root: Long, name: String,
                      startNs: Long, endNs: Long, tag: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. With `on = false` every call is a plain
  * pass-through, so the untraced run pays one branch per call.
  *
  * Spans nest per thread: [[span]] pushes itself as the current parent and
  * publishes its id as the Spark local property [[Tracer.Prop]], so jobs
  * submitted from inside it can be attached to it by [[Probe]].
  */
final class Tracer(val on: Boolean,
                   sc: Option[org.apache.spark.SparkContext]) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  // (span id, root id) of the innermost open span on this thread
  private val current = new ThreadLocal[(Long, Long)]
  // epoch-ms -> tracer-ns anchor for listener timestamps
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  def msToNs(epochMs: Long): Long = anchorNs + (epochMs - anchorMs) * 1000000L

  def nextId(): Long = ids.incrementAndGet()

  /** Time `body` as span `name`; `tag` labels the root (query name or
    * request route). Returns the body's value.
    */
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = nextId()
      val outer = current.get()
      val (parent, root) = if (outer == null) (0L, id) else (outer._1, outer._2)
      current.set((id, root))
      sc.foreach(_.setLocalProperty(Tracer.Prop, s"$id:$root"))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, parent, root, name, t0, t1,
          if (tag.nonEmpty || outer == null) tag else ""))
        current.set(outer)
        sc.foreach(_.setLocalProperty(Tracer.Prop,
          if (outer == null) null else s"${outer._1}:${outer._2}"))
      }
    }

  /** Record an interval observed elsewhere (listener events, planner
    * phase timestamps) under an existing span.
    */
  def record(parent: Long, root: Long, name: String,
             startNs: Long, endNs: Long): Unit =
    if (on && root != 0L)
      spans.add(Span(nextId(), parent, root, name, startNs,
        math.max(startNs, endNs), ""))

  /** The innermost open span on the calling thread, as (id, root). */
  def here: Option[(Long, Long)] = Option(current.get())

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  val Prop = "perfbench.span"

  def parseProp(v: String): Option[(Long, Long)] =
    Option(v).flatMap { s =>
      s.split(':') match {
        case Array(a, b) => scala.util.Try((a.toLong, b.toLong)).toOption
        case _ => None
      }
    }

  /** Exclusive ("self") time per span name over the roots in `roots`.
    *
    * Every instant inside a root's interval is given to exactly one span
    * of that root: the innermost span active at that instant, meaning the
    * one that started last (ties split evenly). Spans are clipped to
    * their root. Per root, the self times therefore add up to the root's
    * duration, which is what the reconciliation check relies on.
    */
  def selfTimes(spans: Seq[Span], roots: Set[Long]): Map[String, Double] = {
    val out = scala.collection.mutable.Map.empty[String, Double]
    spans.filter(s => roots.contains(s.root)).groupBy(_.root).foreach {
      case (rootId, group) =>
        group.find(_.id == rootId).foreach { root =>
          val clipped = group.flatMap { s =>
            val a = math.max(s.startNs, root.startNs)
            val b = math.min(s.endNs, root.endNs)
            if (b > a || s.id == rootId) Some(s.copy(startNs = a, endNs = b))
            else None
          }
          val cuts = clipped.flatMap(s => Seq(s.startNs, s.endNs))
            .distinct.sorted
          // sweep the elementary intervals between consecutive cut points
          val byStart = clipped.sortBy(s => (s.startNs, s.id))
          cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
            val active = byStart.filter(s => s.startNs <= a && s.endNs >= b)
            if (active.nonEmpty) {
              val latest = active.map(_.startNs).max
              val owners = active.filter(_.startNs == latest)
              // among spans that start together the child (higher id when
              // recorded later, or deeper parent chain) wins: prefer
              // non-root, then the one opened last
              val inner = owners.filterNot(_.id == rootId)
              val winners = if (inner.nonEmpty) inner else owners
              val share = (b - a).toDouble / 1e9 / winners.size
              winners.foreach(w => out(w.name) = out.getOrElse(w.name, 0.0) + share)
            }
          }
        }
    }
    out.toMap
  }
}

/** Per-layer figures derived from spans and listener counters. */
object Layers {
  def counters(k: Counters): Seq[(String, Double)] = Seq(
    "scheduler.jobs" -> k.jobs.toDouble,
    "scheduler.stages" -> k.stages.toDouble,
    "scheduler.tasks" -> k.tasks.toDouble,
    "scheduler.task_queue_s" -> k.taskQueueNs / 1e9,
    "aqe.replans" -> k.aqeUpdates.toDouble,
    "executor.cpu_s" -> k.cpuNs / 1e9,
    "executor.gc_s" -> k.gcMs / 1e3,
    "scan.input_bytes" -> k.inputBytes.toDouble,
    "shuffle.write_bytes" -> k.shuffleWrite.toDouble,
    "shuffle.read_bytes" -> k.shuffleRead.toDouble,
    "shuffle.fetch_wait_s" -> k.fetchWaitMs / 1e3,
    "spill.disk_bytes" -> k.spillDisk.toDouble)

  /** Union length of intervals, in ns. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Wall time of the roots not covered by any running job. */
  def driverGap(spans: Seq[Span], roots: Set[Long]): Double =
    spans.filter(s => roots.contains(s.root)).groupBy(_.root).map { case (r, g) =>
      g.find(_.id == r).map { root =>
        val jobs = g.filter(_.name == "scheduler.job").map(s =>
          (math.max(s.startNs, root.startNs), math.min(s.endNs, root.endNs)))
          .filter { case (a, b) => b > a }
        (root.durNs - union(jobs)) / 1e9
      }.getOrElse(0.0)
    }.sum

  /** `self.<layer>_s` per span name, the roots' total wall, and the
    * relative difference between the two (0 when every instant of every
    * root is attributed once).
    */
  def selfAndReconcile(spans: Seq[Span], roots: Set[Long]): Seq[(String, Double)] = {
    val self = Tracer.selfTimes(spans, roots)
    val wall = spans.filter(s => s.id == s.root && roots.contains(s.id)).map(_.durNs).sum / 1e9
    val sum = self.values.sum
    self.toSeq.sortBy(_._1).map { case (k, v) => s"self.${k}_s" -> v } ++ Seq(
      "trace.wall_s" -> wall,
      "trace.reconcile_err" -> (if (wall > 0) math.abs(sum - wall) / wall else 0.0))
  }
}
