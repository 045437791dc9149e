package graft

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.BusDrain
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funspec.AnyFunSpec
import graft.engine.{GraftSession, Pipeline}

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSpec with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  import scala.language.implicitConversions

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh dir under `java.io.tmpdir`, removed with everything in it
    * after this suite's last test.
    */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  /** Spark jobs started while `body` runs, counted by a listener; the
    * bus is drained on both sides, so no job of an earlier step counts.
    */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    BusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      BusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Relations in the CacheManager (`numCachedEntries` is `private[sql]`
    * in Scala but public in the bytecode).
    */
  def cachedEntries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(d => Pipeline.deleteRecursively(d))
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", 4)
}
