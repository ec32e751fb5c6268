package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh temp directory, deleted with its contents at JVM exit. */
  def tempDir(prefix: String): String = graft.sources.Formats.scratchDir(prefix)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.get(cores = 8)
}
