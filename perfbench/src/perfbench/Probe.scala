package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Per-root counters summed from task, stage and job events. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskQueueNs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var fetchWaitMs = 0L; var spillDisk = 0L; var outputBytes = 0L
  var aqeUpdates = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskQueueNs += o.taskQueueNs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spillDisk += o.spillDisk; outputBytes += o.outputBytes
    aqeUpdates += o.aqeUpdates
  }
}

/** A SQL execution seen by the listener, attributed to a root span. */
final case class Execution(id: Long, root: Long, parent: Long,
                           startNs: Long, endNs: Long, plan: String)

/** The benchmark's own SparkListener. Registered only for the traced run.
  *
  * Jobs carry the submitting span in the [[Tracer.Prop]] local property;
  * stages and tasks are attributed through their job, SQL executions
  * through the `spark.sql.execution.id` of their jobs. Job and execution
  * intervals become spans under the submitting span.
  */
final class Probe(tracer: Tracer) extends SparkListener {
  private val jobOwner = new ConcurrentHashMap[Int, (Long, Long)]()
  private val jobStartNs = new ConcurrentHashMap[Int, Long]()
  private val stageOwner = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val execOwner = new ConcurrentHashMap[Long, (Long, Long)]()
  private val execStart = new ConcurrentHashMap[Long, (Long, String)]()
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val execs = new java.util.concurrent.ConcurrentLinkedQueue[Execution]()

  private def c(root: Long): Counters =
    counters.computeIfAbsent(root, _ => new Counters)

  def countersOf(root: Long): Counters =
    Option(counters.get(root)).getOrElse(new Counters)

  def executions: Seq[Execution] = execs.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    Tracer.parseProp(props.map(_.getProperty(Tracer.Prop)).orNull).foreach {
      owner =>
        jobOwner.put(e.jobId, owner)
        jobStartNs.put(e.jobId, tracer.msToNs(e.time))
        e.stageIds.foreach(stageOwner.put(_, owner))
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(s => scala.util.Try(s.toLong).toOption)
          .foreach(x => execOwner.putIfAbsent(x, owner))
        c(owner._2).synchronized { c(owner._2).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOwner.get(e.jobId)).foreach { case (parent, root) =>
      tracer.record(parent, root, "scheduler.job",
        jobStartNs.getOrDefault(e.jobId, tracer.msToNs(e.time)),
        tracer.msToNs(e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(stageSubmitMs.put(e.stageInfo.stageId, _))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (_, root) =>
      val k = c(root)
      k.synchronized { k.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { case (_, root) =>
      val k = c(root)
      val m = e.taskMetrics
      k.synchronized {
        k.tasks += 1
        val submit = stageSubmitMs.getOrDefault(e.stageId, -1L)
        if (submit >= 0)
          k.taskQueueNs += math.max(0L, e.taskInfo.launchTime - submit) * 1000000L
        if (m != null) {
          k.cpuNs += m.executorCpuTime
          k.gcMs += m.jvmGCTime
          k.inputBytes += m.inputMetrics.bytesRead
          k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          k.spillDisk += m.diskBytesSpilled
          k.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId, (tracer.msToNs(s.time), s.physicalPlanDescription))
    case s: SparkListenerSQLExecutionEnd =>
      val start = execStart.remove(s.executionId)
      val owner = execOwner.remove(s.executionId)
      if (start != null && owner != null) {
        execs.add(Execution(s.executionId, owner._2, owner._1, start._1,
          tracer.msToNs(s.time), start._2))
      }
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      Option(execOwner.get(u.executionId)).foreach { case (_, root) =>
        val k = c(root)
        k.synchronized { k.aqeUpdates += 1 }
      }
    case _ => ()
  }
}

/** Heap in use after collections, two ways:
  *  - [[livePeakMb]]: the highest reading taken right after an explicit
  *    full collection at a quiescent point of the workload (after each
  *    query pass, after the service loops). Outside every timed span, and
  *    steady run to run: this is the end-to-end `live_heap_peak_mb`;
  *  - [[gcPeakMb]]: the highest heap in use just after any collection, from
  *    GC notifications. It includes old-generation garbage a young
  *    collection leaves, so it moves with collection timing; it is kept as
  *    a per-layer figure.
  */
object HeapWatch {
  @volatile private var peak = 0L
  @volatile private var livePeak = 0L
  @volatile private var installed = false

  /** Collect fully and record the live heap. Call only between timed spans.
    * The first collection hands Spark's ContextCleaner the shuffles and
    * broadcasts nothing references any more; the pause lets it drop them,
    * and the second collection frees what they held. With one collection
    * the reading depended on the cleaner's timing (a third of the median
    * apart over ten runs of one sample).
    */
  def sample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > livePeak) livePeak = used
  }

  def livePeakMb: Double = livePeak / 1048576.0

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      val listener = new NotificationListener {
        override def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == "com.sun.management.gc.notification") {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
              .map(_.getUsed).sum
            if (used > peak) peak = used
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case em: NotificationEmitter => em.addNotificationListener(listener, null, null)
        case _ => ()
      }
    }
  }

  /** Collect now and start both peaks afresh. */
  def reset(): Unit = { System.gc(); peak = 0L; livePeak = 0L }

  def gcPeakMb: Double = peak / 1048576.0
}

/** Process-wide counters of the codegen layer. */
object Codegen {
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
