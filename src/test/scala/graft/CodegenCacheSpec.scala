package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Spark's codegen cache is sized once per JVM, at the first code
  * generation, so the lazy path is tested in a fresh child JVM
  * ([[CodegenCacheProbe]]) rather than in the suite's shared one. */
class CodegenCacheSpec extends AnyFunSuite {

  /** Runs the probe in a child JVM with this JVM's classpath and
    * `--add-opens` flags plus `props`, passing it `mode`; returns its
    * second-round compile count. */
  private def secondRoundCompiles(mode: String, props: String*): Long = {
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toIndexedSeq
    val opens = args.indices.flatMap { i =>
      if (args(i) == "--add-opens") Seq(args(i), args(i + 1))
      else if (args(i).startsWith("--add-opens=")) Seq(args(i))
      else Nil
    }
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ opens ++ props ++
      Seq("-cp", sys.props("java.class.path"), "graft.CodegenCacheProbe", mode)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, out.takeRight(3000))
    val line = out.linesIterator.find(_.startsWith(CodegenCacheProbe.Prefix))
    assert(line.nonEmpty, out.takeRight(3000))
    val n = line.get.stripPrefix(CodegenCacheProbe.Prefix).trim.toLong
    info(s"second round compiled $n classes")
    n
  }

  test("Native.install sizes the codegen cache: 150 distinct projections compile once") {
    val n = secondRoundCompiles("install")
    assert(n <= 5, s"second round recompiled $n classes")
  }

  test("a session built with GraftExtensions gets the same codegen cache size") {
    val n = secondRoundCompiles("extensions")
    assert(n <= 5, s"second round recompiled $n classes")
  }

  test("an explicit spark.sql.codegen.cache.maxEntries wins over graft's size") {
    val n = secondRoundCompiles("install", "-Dspark.sql.codegen.cache.maxEntries=50")
    assert(n >= 100, s"second round recompiled only $n classes at 50 entries")
  }

  test("an explicit maxEntries set only in the session's conf wins over graft's size") {
    val n = secondRoundCompiles("session-conf")
    assert(n >= 100, s"second round recompiled only $n classes at 50 entries")
  }
}

/** A `local[2]` session that installs graft's functions (mode `install`)
  * or is built with [[GraftExtensions]] (mode `extensions`), with no
  * codegen conf beyond the JVM's properties; or (mode `session-conf`) one
  * built over an already running SparkContext with
  * `spark.sql.codegen.cache.maxEntries` = 50 as a builder option, which
  * reaches only the session's conf, that then installs graft's functions.
  * It runs 150 projections that differ only by an inlined literal (each
  * generates its own classes), twice, and prints how many classes the
  * second round compiled. */
object CodegenCacheProbe {
  val Prefix = "second-round compiles:"

  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
    val spark = args(0) match {
      case "install" =>
        val s = builder.getOrCreate()
        graft.functions.Native.install(s)
        s
      case "extensions" => builder.withExtensions(new GraftExtensions).getOrCreate()
      case "session-conf" =>
        org.apache.spark.SparkContext.getOrCreate(new org.apache.spark.SparkConf()
          .setMaster("local[2]").setAppName("codegen-cache-probe").set("spark.ui.enabled", "false"))
        val s = builder.config("spark.sql.codegen.cache.maxEntries", "50").getOrCreate()
        graft.functions.Native.install(s)
        s
    }
    def round(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until 150).foreach(i => spark.range(4).select(col("id") + i).queryExecution.toRdd.count())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    round()
    println(s"$Prefix ${round()}")
    spark.stop()
  }
}
