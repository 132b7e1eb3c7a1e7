package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (sf0.001 testdata). */
trait SparkSpec extends AnyFunSuite with TempDirs {
  val Sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session
}

/** Temporary directories that live as long as one spec: each [[tempDir]]
  * is recorded and deleted, with everything under it, after the spec's
  * last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = mutable.ArrayBuffer.empty[Path]

  /** A new directory under the system temp dir, named `prefix` + a
    * random suffix. */
  def tempDir(prefix: String): Path = made.synchronized {
    val dir = Files.createTempDirectory(prefix)
    made += dir
    dir
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.synchronized(made.foreach(d => FileUtils.deleteQuietly(d.toFile)))
}

object SparkSpec {
  /** The session's warehouse: a fresh directory per test JVM, deleted when
    * the JVM exits. The in-memory catalog forgets its tables at exit
    * anyway, so nothing a later run could reuse is lost. */
  private lazy val warehouse: Path = {
    val dir = Files.createTempDirectory("graft_warehouse")
    sys.addShutdownHook(FileUtils.deleteQuietly(dir.toFile): Unit)
    dir
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
