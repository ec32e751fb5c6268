package graft

import graft.plans.{AsOf, AsOfMode}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native as-of operator (logical node + strategy + merge-scan
  * exec) must match the composed union+window formulation exactly, and
  * must plan as two key exchanges + sorts with NO window. */
class AsOfJoinSpec extends AnyFunSuite with SparkSpec {

  test("native as-of equals the composed q_asof_join on real data") {
    val native = SparkEntry.queries("q_asof_native")(spark, sfDir).collect()
    val composed = SparkEntry.queries("q_asof_join")(spark, sfDir)
      .select("event_id", "user_id", "as_of_key", "as_of_us").collect()
    assert(native.nonEmpty)
    assert(native.map(_.toSeq).toSeq == composed.map(_.toSeq).toSeq)
  }

  test("boundary semantics: equal time matches, later rows don't, empty keys null-extend") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L),
        (3L, 7L, 103L))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 10L, 900L), (1L, 15L, 901L), (1L, 25L, 902L),
        (2L, 6L, 903L))
      .toDF("rk", "rt", "state")
    val out = AsOf.join(left, right, left("k"), left("t"),
        right("rk"), right("rt"))
      .select(col("ev"), coalesce(col("state"), lit(-1L)).as("state"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // ev 100: right at EXACTLY t=10 matches; ev 101: t=20 -> latest is
    // 15 (901), the t=25 row must NOT match; ev 102: right only at 6 >
    // 5 -> null; ev 103: key 3 has no right rows -> null
    assert(out == Seq((100L, 900L), (101L, 901L), (102L, -1L), (103L, -1L)))
  }

  test("delete/reinsert shape: candidate resets when the key advances") {
    import spark.implicits._
    // right has rows only for keys 1 and 3; key 2 between them must not
    // inherit key 1's buffered candidate
    val left = Seq((1L, 10L, 1L), (2L, 10L, 2L), (3L, 10L, 3L))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 1L, 11L), (3L, 2L, 33L)).toDF("rk", "rt", "state")
    val out = AsOf.join(left, right, left("k"), left("t"),
        right("rk"), right("rt"))
      .select(col("ev"), coalesce(col("state"), lit(-1L)).as("state"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(out == Seq((1L, 11L), (2L, -1L), (3L, 33L)))
  }

  test("forward direction: equal time matches, earlier rows don't, shared head serves many lefts") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 12L, 101L), (1L, 15L, 102L),
        (1L, 30L, 103L), (2L, 5L, 104L), (3L, 7L, 105L))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 8L, 900L), (1L, 15L, 901L), (1L, 25L, 902L),
        (2L, 3L, 903L))
      .toDF("rk", "rt", "state")
    val out = AsOf.join(left, right, left("k"), left("t"),
        right("rk"), right("rt"), AsOfMode.Forward)
      .select(col("ev"), coalesce(col("state"), lit(-1L)).as("state"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // ev 100 (t=10): earliest rt >= 10 is 15 (901) — rt=8 must NOT match;
    // ev 101 (t=12): same head 901 serves a second left row;
    // ev 102 (t=15): EQUAL time matches (901);
    // ev 103 (t=30): nothing at/after 30 -> null;
    // ev 104 (k=2, t=5): only rt=3 < 5 -> null;
    // ev 105 (k=3): no right rows -> null
    assert(out == Seq((100L, 901L), (101L, 901L), (102L, 901L),
      (103L, -1L), (104L, -1L), (105L, -1L)))
  }

  test("nearest direction: distance arbitration, tie to backward, one-sided fallbacks") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 14L, 101L), (1L, 20L, 102L),
        (1L, 3L, 103L), (1L, 99L, 104L), (2L, 5L, 105L), (3L, 7L, 106L))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 8L, 900L), (1L, 16L, 901L), (1L, 40L, 902L),
        (2L, 50L, 903L))
      .toDF("rk", "rt", "state")
    val out = AsOf.join(left, right, left("k"), left("t"),
        right("rk"), right("rt"), AsOfMode.Nearest)
      .select(col("ev"), coalesce(col("state"), lit(-1L)).as("state"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // ev 100 (t=10): |10-8|=2 vs |16-10|=6 -> backward 900;
    // ev 101 (t=14): |14-8|=6 vs |16-14|=2 -> forward 901;
    // ev 102 (t=20): |20-16|=4 vs |40-20|=20 -> backward 901;
    // ev 103 (t=3): nothing before -> forward 900;
    // ev 104 (t=99): nothing after -> backward 902;
    // ev 105 (k=2, t=5): only rt=50 after -> forward 903;
    // ev 106 (k=3): no right rows -> null
    assert(out == Seq((100L, 900L), (101L, 901L), (102L, 901L),
      (103L, 900L), (104L, 902L), (105L, 903L), (106L, -1L)))
  }

  test("nearest direction: exact tie goes to the backward row") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L)).toDF("k", "t", "ev")
    val right = Seq((1L, 7L, 900L), (1L, 13L, 901L)).toDF("rk", "rt", "state")
    val out = AsOf.join(left, right, left("k"), left("t"),
        right("rk"), right("rt"), AsOfMode.Nearest)
      .select(col("state")).collect().map(_.getLong(0)).toSeq
    assert(out == Seq(900L), "|10-7| == |13-10| must pick the earlier row")
  }

  test("nearest direction fails loud on a non-integral time column") {
    import spark.implicits._
    val left = Seq((1L, "a", 1L)).toDF("k", "t", "ev")
    val right = Seq((1L, "b", 2L)).toDF("rk", "rt", "state")
    val ex = intercept[Exception] {
      AsOf.join(left, right, left("k"), left("t"),
        right("rk"), right("rt"), AsOfMode.Nearest).collect()
    }
    def msgs(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(msgs).getOrElse("")
    assert(msgs(ex).contains("integral or instant"), msgs(ex))
  }

  test("tolerance bound: stale matches null-extend in every direction") {
    import spark.implicits._
    val left = Seq((1L, 100L, 100L), (1L, 200L, 101L), (1L, 310L, 102L))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 95L, 900L), (1L, 205L, 901L)).toDF("rk", "rt", "state")
    def run(mode: AsOfMode, tol: Long): Seq[(Long, Long)] =
      AsOf.join(left, right, left("k"), left("t"),
          right("rk"), right("rt"), mode, Some(tol))
        .select(col("ev"), coalesce(col("state"), lit(-1L)).as("state"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // backward, tol=10: ev100 matches rt=95 (gap 5); ev200's latest is
    // 95 (gap 105 > 10) -> null; ev310's latest is 205 (gap 105) -> null
    assert(run(AsOfMode.Backward, 10L) ==
      Seq((100L, 900L), (101L, -1L), (102L, -1L)))
    // forward, tol=10: ev200's next is 205 (gap 5); ev100's next is 205
    // (gap 105) -> null; ev310 has nothing after -> null
    assert(run(AsOfMode.Forward, 10L) ==
      Seq((100L, -1L), (101L, 901L), (102L, -1L)))
    // nearest, tol=10: ev100 -> 95, ev200 -> 205, ev310 nearest is 205
    // at gap 105 -> null
    assert(run(AsOfMode.Nearest, 10L) ==
      Seq((100L, 900L), (101L, 901L), (102L, -1L)))
    // a huge tolerance degenerates to the unbounded join
    assert(run(AsOfMode.Backward, 1000000L) ==
      Seq((100L, 900L), (101L, 900L), (102L, 901L)))
  }

  test("forward direction agrees with a window-composed formulation on real data") {
    val native = SparkEntry.queries("q_asof_forward")(spark, sfDir)
    // independent composition: min-by (rtu, order_key) over all
    // at-or-after orders per event, via a plain join + aggregation
    val (ev, ord) = graft.operators.Relational.asOfInputs(spark, sfDir)
    val composed = ev.join(ord,
        ev("user_id") === ord("rk") && ev("tu") <= ord("rtu"), "left")
      .groupBy("event_id", "user_id")
      .agg(min_by(struct(col("order_key"), col("rtu")), col("rtu")).as("w"))
      .select(col("event_id"), col("user_id"),
        coalesce(col("w.order_key"), lit(-1L)).as("next_key"),
        coalesce(col("w.rtu"), lit(-1L)).as("next_us"))
      .orderBy("event_id")
    assert(native.collect().map(_.toSeq).toSeq ==
      composed.collect().map(_.toSeq).toSeq)
  }

  test("buffer-backed (string) keys: candidate key survives scan-buffer reuse") {
    import spark.implicits._
    // Many keys per partition forces the merge scan to advance through
    // key groups; with UTF8String keys a candidateKey aliased to the
    // scan's reused row would mutate and invalidate earlier matches.
    val n = 2000
    val left = (1 to n).map(i => (s"k${i % 50}", i.toLong, i.toLong))
      .toDF("k", "t", "ev")
    val right = (0 until 50).map(i => (s"k$i", 0L, 1000L + i))
      .toDF("k", "t", "state")
    val out = AsOf.join(left, right, "k", "t")
      .select("ev", "state")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == n)
    // every left row must match its key's single right row
    assert(out.forall { case (ev, st) => st == 1000L + (ev % 50) })
  }

  test("mismatched key/time types fail loud, not mid-scan") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1, 5L)).toDF("k", "t") // Int key vs Long key
    val ex = intercept[Exception] {
      AsOf.join(left, right, "k", "t").collect()
    }
    assert(ex.getMessage.contains("as-of join key types differ"), ex.getMessage)
  }

  test("AsOf.install is a no-op on a GraftExtensions session (no duplicate strategy)") {
    import org.apache.spark.sql.SparkSession
    val old = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      AsOf.install(s2)
      assert(s2.sessionState.planner.strategies
        .count(_ == graft.plans.AsOfJoinStrategy) == 1)
      assert(s2.experimental.extraStrategies.isEmpty)
    } finally old.foreach { o =>
      SparkSession.setDefaultSession(o)
      SparkSession.setActiveSession(o)
    }
  }

  test("GraftExtensions injects the planner strategy at session build time") {
    import org.apache.spark.sql.SparkSession
    val old = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s2.sessionState.planner.strategies
        .contains(graft.plans.AsOfJoinStrategy))
    } finally old.foreach { o =>
      SparkSession.setDefaultSession(o)
      SparkSession.setActiveSession(o)
    }
  }

  test("plan: AsOfJoinExec with two key exchanges, sorted children, no Window") {
    val p = SparkEntry.queries("q_asof_native")(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("Window"), p)
    // EnsureRequirements inserted the declared sorts
    assert("(?m)^\\s*\\+- Sort".r.findAllIn(p).size >= 2, p)
  }
}
