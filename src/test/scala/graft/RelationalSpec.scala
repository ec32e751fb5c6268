package graft

import graft.operators.Relational
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("every registered query runs and has a stable schema") {
    SparkEntry.registry.foreach { q =>
      val df = q.run(spark, sfDir)
      assert(df.columns.nonEmpty, s"${q.name}: no columns")
      assert(df.count() >= 0, s"${q.name}: failed to execute")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1_agg groups are exhaustive and counts add up") {
    val df = Relational.q1Agg.run(spark, sfDir)
    val total = df.agg(sum("count_order")).first().getLong(0)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("2000-09-01").cast("timestamp")).count()
    assert(total == li)
  }

  test("q_window_rank returns at most 3 per priority, correctly ordered") {
    val rows = Relational.qWindowRank.run(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(g.length <= 3)
      val prices = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(prices.sameElements(prices.sortBy(-_)), "not descending by price")
    }
  }

  test("q_sessionize: session gaps never exceed 30 minutes inside a session") {
    val sess = Relational.qSessionize.run(spark, sfDir)
    // sessions are disjoint and ordered: end >= start, and per user
    // session ids are 1..n
    val bad = sess.filter(col("end_us") < col("start_us")).count()
    assert(bad == 0)
    import spark.implicits._
    val perUser = sess.groupBy("user_id")
      .agg(min("session_id").as("mn"), max("session_id").as("mx"),
        count(lit(1)).as("n"))
      .filter(col("mn") =!= 1 || col("mx") =!= col("n"))
    assert(perUser.count() == 0, "session ids not contiguous from 1")
  }

  test("broadcast joins are used for dimension tables in q5") {
    val plan = Relational.q5MultiJoin.run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins in q5")
  }

  test("q_percentiles interpolates in integer cents and rounds half-cent ties up") {
    // Each group's exact interpolated quantile lands on a half cent
    // (e.g. p50 of 108122.87 and 113387.42 is 110755.145); float
    // interpolation lands an ulp below it and rounds to the cent under.
    import spark.implicits._
    val prices = Map(
      "1-URGENT" -> Seq(108122.87, 113387.42),
      "2-HIGH" -> Seq(51454.84, 336793.61),
      "3-MEDIUM" -> Seq(301321.80, 445942.63, 12.5),
      "4-LOW" -> Seq(4242.42))
    val dir = tempDir("q_percentiles")
    prices.toSeq.flatMap { case (k, ps) => ps.map(k -> _) }
      .toDF("o_orderpriority", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    def exact(ps: Seq[Double], q: BigDecimal): Double = {
      val v = ps.map(BigDecimal(_)).sorted
      val pos = (v.size - 1) * q
      val lo = pos.toInt
      val hi = math.min(lo + 1, v.size - 1)
      (v(lo) + (v(hi) - v(lo)) * (pos - lo)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = prices.toSeq.sortBy(_._1).map { case (k, ps) =>
      (k, exact(ps, BigDecimal("0.5")), exact(ps, BigDecimal("0.9")))
    }
    val got = Relational.qPercentiles.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == expected)
    assert(expected.head == (("1-URGENT", 110755.15, 112860.97)))
  }

  test("filter pushdown reaches parquet scan in q6") {
    val plan = Relational.q6FilterAgg.run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"expected pushed filters, got:\n$plan")
  }
}
