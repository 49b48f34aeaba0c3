package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (spark_guide.md: lazy val, forked
  * JVM carries the JDK17 add-opens from build.sbt), and one temp root
  * per suite, deleted after the suite.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  private var tmpRoot: Option[Path] = None

  /** A fresh directory under this suite's temp root. */
  def tempDir(prefix: String): String = synchronized {
    val root = tmpRoot.getOrElse {
      val r = Files.createTempDirectory(s"${getClass.getSimpleName}-")
      tmpRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix).toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      tmpRoot.foreach(r => org.apache.hadoop.fs.FileUtil.fullyDelete(r.toFile))
      tmpRoot = None
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the whole test suite runs through the installed extension
      // library, so the injectFunction wiring (names, arity checks,
      // literal extraction) is exercised end-to-end, not just the
      // expression classes
      .withExtensions(new graft.expr.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
