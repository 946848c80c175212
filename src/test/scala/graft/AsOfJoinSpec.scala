package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** As-of join semantics: backward inclusive match, null-payload
  * distinction, left vs inner, and plan shape (single shuffle of the
  * union, no pair explosion). */
class AsOfJoinSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("backward inclusive as-of with left and inner variants") {
    val left = Seq(
      ("a", 10L, 1L), ("a", 20L, 2L), ("a", 5L, 3L), ("b", 7L, 4L))
      .toDF("k", "t", "probe_id")
    val right = Seq(
      ("a", 10L, "r10"), ("a", 15L, "r15"), ("b", 9L, "r9"))
      .toDF("k", "t", "payload")

    val out = AsOfJoin.join(left, right, Seq("k"), "t", "t", Seq("payload"))
      .select("probe_id", "payload").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(
      1L -> Some("r10"),  // equal timestamps match (inclusive)
      2L -> Some("r15"),  // most recent, not first
      3L -> None,         // nothing at or before t=5
      4L -> None))        // b's only right row is later

    val inner = AsOfJoin.join(left, right, Seq("k"), "t", "t",
      Seq("payload"), inner = true)
    assert(inner.select("probe_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("a matched right row with NULL payload values is still a match") {
    val left = Seq(("a", 20L, 1L)).toDF("k", "t", "probe_id")
    val right = Seq(("a", 5L, Some("x")), ("a", 10L, None))
      .toDF("k", "t", "payload")
    val out = AsOfJoin.join(left, right, Seq("k"), "t", "t",
      Seq("payload"), inner = true)
    // the t=10 row matches (latest <= 20) even though its payload is
    // null — it must NOT fall through to the older t=5 row
    val rows = out.select("probe_id", "payload").collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 1L && rows(0).isNullAt(1))
  }

  test("single shuffle: exactly one Exchange below the window") {
    val left = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "error").select("event_id", "user_id", "ts")
    val right = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    val out = AsOfJoin.join(left, right, Seq("user_id"), "ts", "ts", Seq("click_id"))
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    // one exchange for the window partition; the right side's own
    // pre-aggregation shuffle is the caller's, not the as-of's
    assert(plan.contains("Window"), plan)
  }

  test("null keys and null right times never match (SQL join semantics)") {
    val left = Seq((Option.empty[String], 10L, 1L), (Some("a"), 10L, 2L))
      .toDF("k", "t", "probe_id")
    val right = Seq(
      (Option.empty[String], Some(5L), "nullkey"),
      (Some("a"), Option.empty[Long], "nulltime"),
      (Some("a"), Some(5L), "good"))
      .toDF("k", "t", "payload")
    val out = AsOfJoin.join(left, right, Seq("k"), "t", "t", Seq("payload"))
      .select("probe_id", "payload").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // null-keyed probe matches nothing; the valid probe must match the
    // t=5 row, never the null-keyed or null-timed right rows
    assert(out == Map(1L -> None, 2L -> Some("good")))
  }

  test("withinTolerance condition filters matches older than the window") {
    val left = Seq(("a", 100L, 1L), ("a", 200L, 2L)).toDF("k", "t", "probe_id")
    val right = Seq(("a", 95L, "fresh"), ("a", 90L, "unused"))
      .toDF("k", "rt", "payload")
    val joined = AsOfJoin.join(left, right.withColumnRenamed("rt", "t"),
      Seq("k"), "t", "t", Seq("payload"))
      .join(right.select(col("payload"), col("rt")), Seq("payload"), "left")
    val within = joined.filter(
      AsOfJoin.withinTolerance(col("t"), col("rt"), lit(10L)))
    // probe at t=100 matched rt=95 (age 5 <= 10): kept; probe at t=200
    // matched rt=95 (age 105): dropped
    assert(within.select("probe_id").as[Long].collect().toSet == Set(1L))
  }

  test("payload column collision is rejected") {
    val l = Seq(("a", 1L, "x")).toDF("k", "t", "payload")
    val r = Seq(("a", 1L, "y")).toDF("k", "t", "payload")
    intercept[IllegalArgumentException] {
      AsOfJoin.join(l, r, Seq("k"), "t", "t", Seq("payload"))
    }
  }
}
