package graft

import graft.cdc.Cdc
import graft.sinks.{JdbcUpsert, ParquetUpsert}
import graft.streaming.{ChangeRow, Streams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** Delivery-independence of the latest-wins rule: a random c/u/d
  * history, with byte-identical redeliveries, shuffled and split into
  * random micro-batches, must give the SAME snapshot from all four
  * materializers — the batch [[Cdc.materialize]], the keyed-state
  * [[Streams.materializeStream]] collapsed sink-side, the
  * [[ParquetUpsert]] lake and the [[JdbcUpsert]] table. */
class MaterializerAgreementSpec extends SparkSpec {

  /** One OLR-style envelope; a delete carries the before-image. */
  private def envelope(scn: Long, key: Long, op: String, cents: Long): String = {
    val image = if (op == "d") "before" else "after"
    s"""{"scn":$scn,"tm":$scn,"xid":"$key.$scn","op":"$op","key":$key,""" +
      s""""$image":{"id":$key,"cents":$cents,"type":"t${cents % 3}"}}"""
  }

  /** Micro-batches of envelopes: a history over 1–4 keys with a unique
    * scn per event, some events delivered twice, the whole delivery
    * shuffled and cut into 1–3 non-empty batches. */
  private val deliveries: Gen[Seq[Seq[String]]] = for {
    keys <- Gen.choose(1L, 4L)
    n <- Gen.choose(1, 14)
    scns <- Gen.pick(n, 1L to 200L)
    ops <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, keys), Gen.oneOf("c", "u", "d"),
      Gen.choose(0L, 999L)))
    events = scns.zip(ops).map { case (scn, (key, op, cents)) => envelope(scn, key, op, cents) }
    again <- Gen.someOf(events)
    seed <- Gen.long
    batches <- Gen.choose(1, 3)
  } yield {
    val rnd = new scala.util.Random(seed)
    val delivered = rnd.shuffle((events ++ again).toVector)
    val cuts = (Seq(0, delivered.size) ++
      Seq.fill(batches - 1)(rnd.nextInt(delivered.size + 1))).sorted
    cuts.sliding(2).map { case Seq(a, b) => delivered.slice(a, b) }
      .filter(_.nonEmpty).toSeq
  }

  private def snapshot(df: DataFrame): Set[(Long, Long, Long, String, Long)] =
    df.select("key", "id", "cents", "type", "last_scn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .toSet

  private val cases = new java.util.concurrent.atomic.AtomicInteger(0)

  private def agree(batches: Seq[Seq[String]]): Prop = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def parsed(events: Seq[String]) = Cdc.parse(events.toDF("value"), col("value"))
    val expected = snapshot(Cdc.materialize(parsed(batches.flatten)))

    val sink = s"agree_${cases.incrementAndGet()}"
    val in = MemoryStream[String]
    val q = Streams.materializeStream(
        Cdc.changeRows(Cdc.parse(in.toDF(), col("value"))).as[ChangeRow])
      .writeStream.format("memory").queryName(sink).outputMode("update").start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    val stream = snapshot(Streams.collapseSnapshots(spark.table(sink)))

    val lake = tempDir("graft_agree") + "/tbl"
    val url = JdbcUpsert.memUrl()
    JdbcUpsert.ensureTable(url, "snapshot")
    batches.foreach { b =>
      val rows = Cdc.changeRows(parsed(b))
      ParquetUpsert.applyBatch(rows, lake)
      JdbcUpsert.applyBatch(rows, url, "snapshot")
    }
    val parquet = snapshot(spark.read.parquet(lake).filter(col("op") =!= "d")
      .select(col("key"), col("id"), col("cents"), col("typ").as("type"),
        col("scn").as("last_scn")))
    val jdbc = snapshot(JdbcUpsert.readBack(spark, url, "snapshot"))

    ((stream == expected) :| s"stream $stream != batch $expected") &&
      ((parquet == expected) :| s"parquet lake $parquet != batch $expected") &&
      ((jdbc == expected) :| s"jdbc $jdbc != batch $expected")
  }

  test("duplicated, shuffled, batch-split delivery: batch, stream, lake and JDBC materializers agree") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(25)
      .withWorkers(1)
      .withInitialSeed(Seed(20261017L))
    val result = Test.check(params, Prop.forAllNoShrink(deliveries)(agree))
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
