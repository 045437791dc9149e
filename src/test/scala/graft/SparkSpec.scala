package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
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

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(d => Pipeline.deleteRecursively(d))
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", 4)
}
