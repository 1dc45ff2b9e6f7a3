package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GroupedTopK

/** The custom Catalyst operator (LogicalPlan + SparkStrategy + two-phase
  * SparkPlan): result parity against the window-function form it
  * replaces, plan shape (partial below the exchange, final above, no
  * sort/window nodes, partitioning a consumer reuses), and edge behavior
  * (k >= group size, ties, k = 1, null keys and null order values across
  * shuffle widths and AQE, a fresh session).
  */
class GroupedTopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // range-backed (not LocalRelation: ConvertToLocalRelation would fold
  // the plan before our strategy ever sees a shuffle): 7 groups, values
  // engineered so every group has distinct top rows plus one tie pair
  private def input = {
    import spark.implicits._
    spark.range(500).select(
      (col("id") % 7).as("g"),
      col("id").as("rid"),
      ((col("id") * 37) % 101).cast("double").as("v"))
  }

  private def windowTopK(k: Int) = {
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("rid"))
    input.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  private def collectSorted(df: DataFrame) =
    df.orderBy("g", "rid").collect().map(_.toSeq).toSeq

  test("matches the row_number window form (k=3, desc with tiebreak)") {
    val df = input
    val got = GroupedTopK(df, Seq("g"), Seq(df("v").desc, df("rid")), 3)
    assert(collectSorted(got) == collectSorted(windowTopK(3)))
  }

  test("k = 1 and k >= group size") {
    val df = input
    val one = GroupedTopK(df, Seq("g"), Seq(df("v").desc, df("rid")), 1)
    assert(collectSorted(one) == collectSorted(windowTopK(1)))
    // every group has ~71 rows; k=500 must return the whole input
    val all = GroupedTopK(df, Seq("g"), Seq(df("v").desc, df("rid")), 500)
    assert(all.count() == 500)
  }

  test("ascending order and multi-column grouping") {
    val df = input.withColumn("g2", col("rid") % 2)
    val got = GroupedTopK(df, Seq("g", "g2"), Seq(df("v"), df("rid")), 2)
    val w = Window.partitionBy("g", "g2").orderBy(col("v"), col("rid"))
    val want = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn")
    assert(collectSorted(got) == collectSorted(want))
  }

  test("plan: partial below exchange, final above, no sort or window") {
    val in = input
    val df = GroupedTopK(in, Seq("g"), Seq(in("v").desc, in("rid")), 3)
    df.queryExecution.toRdd.count() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GroupedTopKPartial"), p.take(800))
    assert(p.contains("GroupedTopKFinal"), p.take(800))
    assert(p.contains("Exchange hashpartitioning(g"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("Sort "), p.take(800))
    // partial must be BELOW the exchange (runs before the shuffle)
    val iPartial = p.indexOf("GroupedTopKPartial")
    val iFinal = p.indexOf("GroupedTopKFinal")
    val iExchange = p.indexOf("Exchange")
    assert(iFinal < iExchange && iExchange < iPartial,
      s"final<exchange<partial expected:\n${p.take(800)}")
  }

  test("a fresh session plans GroupedTopKFinal through self-registration") {
    // newSession: shared SparkContext, its own session state, so its
    // experimental.extraStrategies starts empty
    val s2 = spark.newSession()
    assert(GraftSqlBridge.experimental(s2).extraStrategies.isEmpty)
    val df = s2.range(100).select((col("id") % 3).as("g"), col("id").as("rid"))
    val out = GroupedTopK(df, Seq("g"), Seq(df("rid").desc), 2)
    assert(out.count() == 6)
    assert(out.queryExecution.executedPlan.toString.contains("GroupedTopKFinal"))
    GroupedTopK.ensureRegistered(s2)
    assert(GraftSqlBridge.experimental(s2).extraStrategies ==
      Seq(graft.plans.GroupedTopKStrategy))
  }

  test("null group key is its own group; null order values rank last under DESC") {
    // 500 rows in 5 groups plus every 11th row in the null group, v null
    // on every 3rd row; group 100 has only 2 non-null v values, so its
    // 3rd row must be a null-v row (DESC NULLS LAST, then rid)
    def data(s: SparkSession) = s.range(500).select(
      when(col("id") % 11 =!= 0, col("id") % 5).as("g"),
      col("id").as("rid"),
      when(col("id") % 3 =!= 0, ((col("id") * 37) % 101).cast("double")).as("v"))
      .union(s.range(500, 504).select(lit(100L).as("g"), col("id").as("rid"),
        when(col("id") >= 502, col("id").cast("double")).as("v")))
    def window(df: DataFrame) =
      df.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("v").desc, col("rid"))))
        .filter(col("rn") <= 3).drop("rn")
    for (parts <- Seq("1", "4"); aqe <- Seq("true", "false")) {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", parts)
      s2.conf.set("spark.sql.adaptive.enabled", aqe)
      val df = data(s2)
      val got = collectSorted(
        GroupedTopK(df, Seq("g"), Seq(df("v").desc, df("rid")), 3))
      assert(got == collectSorted(window(df)), s"partitions=$parts aqe=$aqe")
      assert(got.count(_.head == null) == 3, s"partitions=$parts aqe=$aqe")
      assert(got.filter(_.head == 100L).map(r => (r(1), r(2))) ==
        Seq((500L, null), (502L, 502.0), (503L, 503.0)),
        s"partitions=$parts aqe=$aqe")
    }
  }

  test("plan: a join on the group keys reuses the final phase's exchange") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val df = s2.range(1000).select(
      (col("id") % 50).as("user_id"), col("id").as("event_id"),
      ((col("id") * 37) % 101).as("value"))
    val top = GroupedTopK(df, Seq("user_id"),
      Seq(df("value").desc, df("event_id")), 1)
    val joined = top.join(
      df.groupBy("user_id").agg(count(lit(1)).as("n")), "user_id")
    val exchanges = joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.size == 2, joined.queryExecution.executedPlan)
    assert(joined.count() == 50)
  }
}
