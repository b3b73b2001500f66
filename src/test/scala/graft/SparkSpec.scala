package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001  = "/root/testdata/sf0.01"
  val sf01   = Paths.get(sf001).resolveSibling("sf0.1").toString

  /** A fresh temp directory, deleted when the suite JVM exits. */
  def tempDir(prefix: String): Path = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  @volatile private var started = false

  lazy val session: SparkSession = {
    val s = Sessions.local(4)
    s.sparkContext.setLogLevel("WARN")
    started = true
    s
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh temp directory, deleted when the suite JVM exits. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  // At exit, before Spark's own shutdown hook stops the context: release
  // the shared session's PlanCache entries (its layout directories
  // included), then delete every directory tempDir handed out.
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
    if (started) {
      try PlanCache.clear(session)
      catch { case _: Exception => () }
    }
    tempDirs.forEach { d =>
      try PlanCache.deleteTree(d)
      catch { case _: java.io.IOException => () }
    }
  }, 100)
}
