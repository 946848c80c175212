package graft

import graft.build.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing removes the shuffle from co-located joins — the plan-level
  * proof of the 100 TB join strategy (pre-partition once, join many
  * times shuffle-free). */
class BucketingSpec extends AnyFunSuite with SparkSpec {

  /** Broadcast joins off: the plans below must answer the join
    * strategy question. */
  private def noBroadcast(body: => Unit): Unit =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  test("join of two bucketed tables runs without an Exchange") {
    noBroadcast(bucketedJoinBody())
  }

  private val bEvents = "b_events"
  private val bUsers = "b_users"

  private def bucketedJoinBody(): Unit = {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "value")
    val users = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    Layout.writeBucketed(events, bEvents, "user_id", 4)
    Layout.writeBucketed(users, bUsers, "user_id", 4)

    val joined = Layout.read(spark, bEvents)
      .join(Layout.read(spark, bUsers), "user_id")
    joined.count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle:\n$plan")

    // same data, unbucketed: the join shuffles both sides
    val plainPlan = events.join(users, "user_id")
      .queryExecution.executedPlan.toString
    assert(plainPlan.contains("Exchange"), plainPlan)

    // aggregation on the bucket key is also exchange-free
    val aggPlan = Layout.read(spark, bEvents)
      .groupBy("user_id").agg(sum("value"))
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), aggPlan)
  }

  test("the bucketed cluster map joins a doc_id-co-bucketed table exchange-free") {
    // the v12 accessor claim: DedupArtifacts.clusters is served from a
    // doc_id-bucketed catalog table, so a join against any other
    // doc_id-co-bucketed table (here the persisted shingle index; at
    // 100 TB, the corpus itself) plans no Exchange on either side —
    // the "exchange-free joins from every report" docstring is a plan
    // assert, not prose
    noBroadcast {
      val sfDir = "/root/testdata/sf0.001"
      val clusters = graft.dedup.DedupArtifacts.clusters(spark, sfDir)
      val shingles = graft.dedup.DedupArtifacts.shingles(spark, sfDir)
      val j = clusters.join(shingles, "doc_id")
      j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"cluster-map join against a co-bucketed table must not shuffle:\n$plan")
    }
  }

  test("re-declaring a bucketed table over existing files keeps content and bucketing") {
    // the ensureBucketed cross-session path: a new JVM's catalog has
    // forgotten the table but the directory survives — CREATE TABLE ...
    // CLUSTERED BY ... LOCATION re-attaches it, trusting the bucket ids
    // Spark encoded in the file names. Simulated here by declaring a
    // second catalog entry over the first table's location.
    noBroadcast {
      val src = "b_src"
      val redecl = "b_redecl"
      val events = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "event_type", "value")
      Layout.writeBucketed(events, src, "user_id", 4)
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), src.toLowerCase)
      spark.sql(
        s"""CREATE TABLE `$redecl` (${events.schema.toDDL})
           |USING PARQUET
           |CLUSTERED BY (`user_id`) SORTED BY (`user_id`)
           |INTO 4 BUCKETS
           |LOCATION '$loc'""".stripMargin)
      import spark.implicits._
      val a = Layout.read(spark, src)
        .as[(Long, Long, String, Double)].collect().toSet
      val b = Layout.read(spark, redecl)
        .as[(Long, Long, String, Double)].collect().toSet
      assert(a == b, "re-declared table content diverged")
      // and the re-declared entry still joins exchange-free
      val users = Layout.read(spark, redecl).groupBy("user_id")
        .agg(count(lit(1)).as("n"))
      Layout.writeBucketed(users, s"${redecl}_u", "user_id", 4)
      val j = Layout.read(spark, redecl)
        .join(Layout.read(spark, s"${redecl}_u"), "user_id")
      j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"re-declared bucketed join must not shuffle:\n$plan")
    }
  }
}
