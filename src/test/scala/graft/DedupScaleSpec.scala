package graft

import graft.dedup.Dedup
import graft.operators.DedupQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Minutes, Span}

/** Scale canaries for the dedup family: the round-4 q63 bug (94.9M join
  * rows at sf0.1 vs 966K at sf0.01 — 98× rows for 10× data, a hung
  * bench) is the class of failure a COUNTER catches long before a
  * timeout does. Each near-dup family asserts ITS OWN scale invariant —
  * a blunt growth cap misfires both ways (first run of this suite:
  * q53's join rows grew 89.6× for 10× data NOT because the cut broke
  * but because the df distribution saturates toward the cut as the
  * corpus grows — the guarantee was intact):
  *
  *  - frequency-cut inverted joins (q53 shingles, q63 winnow): the cut
  *    is the guarantee — join rows = Σ df·(df−1)/2 over keys with
  *    df <= F is bounded by F·|cut table|/2, LINEAR in corpus size with
  *    F constant. Asserted exactly, at both sfs.
  *  - banded candidate generation (q25 minhash): candidate PAIRS are
  *    what the bucket join emits; growth for 10× data must stay far
  *    from quadratic (100×).
  *  - banded simhash (q27): candidate pairs are quadratic BY DESIGN on
  *    a template-heavy corpus — pigeonhole recall for hamming <= 10
  *    fixes 11 bands of 5-6 bits (~50 bucket values), so bucket
  *    occupancy, and with it streamed pair count, scales O(n²/50); the
  *    standard simhash deployments (hamming <= 3) get tight buckets
  *    from the same code. What must stay LINEAR is what the plan
  *    shuffles and materializes: the banded table (n × 11 rows) — the
  *    16M candidate pairs at sf0.1 stream through one fused
  *    codegen join+bit_count loop (the round-4 measured lesson:
  *    4× fewer candidates via multi-probe ran 1.4× SLOWER because it
  *    materialized its probe table).
  *
  * q26 (uncut exact Jaccard) is the one intentionally-quadratic oracle
  * anchor and is excluded by design.
  */
class DedupScaleSpec extends AnyFunSuite with TimeLimits with SparkSpec {

  /** The canary must never become the hang it guards against (round 6:
    * this spec embedded q63's interpreted-HOF plan and stalled `sbt
    * test` for hours). ThreadSignaler interrupts the stuck test thread;
    * Spark tasks honor interrupts between rows. */
  private implicit val signaler: Signaler = ThreadSignaler
  private val PerTestCap = Span(5, Minutes)

  /** 10× data × a 3× polylog/skew allowance — far from quadratic's 100×. */
  private val MaxGrowth = 30.0

  private def docs(sf: String): DataFrame =
    Tables.documents(spark, s"/root/testdata/$sf")

  /** (join rows, table rows) for a frequency-cut (doc_id, key) table:
    * Σ df·(df−1)/2 over the surviving keys, plus the surviving row
    * count the bound is stated against. df·(df−1) is even, so DIV 2 is
    * exact and keeps the sum LongType (bigint `/` yields DoubleType in
    * Spark, whose Row accessor is getDouble, not getDecimal). */
  private def cutJoinRows(keyed: DataFrame, key: String, maxFreq: Long): (Long, Long) = {
    val r = keyed.groupBy(key).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxFreq)
      .agg(sum(expr("df * (df - 1) DIV 2")).as("jr"), sum(col("df")).as("rows"))
      .first()
    (r.getLong(0), r.getLong(1))
  }

  private val cutFamilies: Seq[(String, Long, String => DataFrame)] = Seq(
    ("q53 shingle-cut", DedupQueries.MaxShingleFreq,
      sf => Dedup.shingleTable(docs(sf), "doc_id", "text", 3).withColumnRenamed("sh", "k")),
    ("q63 winnow-cut", DedupQueries.MaxFpFreq,
      sf => Dedup.winnowFingerprints(docs(sf), "doc_id", "text", 8, 4)
        .withColumnRenamed("fp", "k")))

  for ((name, maxFreq, keyed) <- cutFamilies; sf <- Seq("sf0.01", "sf0.1")) {
    test(s"$name join rows respect the F·|table|/2 linear bound at $sf") {
      val (jr, rows) = failAfter(PerTestCap) { cutJoinRows(keyed(sf), "k", maxFreq) }
      assert(jr > 0, s"$name: empty at $sf — counter not counting")
      val bound = maxFreq * rows / 2
      info(f"$name $sf: joinRows=$jr rows=$rows bound=$bound (${jr.toDouble / bound}%.2f of bound)")
      assert(jr <= bound,
        s"$name at $sf: $jr join rows exceed the cut's F*|table|/2 bound $bound — " +
          "the frequency cut is not bounding the inverted-index join")
    }
  }

  private val growthFamilies: Seq[(String, String => Long)] = Seq(
    "q25 minhash candidate pairs" -> { sf =>
      val sh = Dedup.shingleTable(docs(sf), "doc_id", "text", 3)
      Dedup.lshCandidates(Dedup.minHashSignatures(sh, 32), 16, 2).count()
    },
    "q27 simhash banded-table rows" -> { sf =>
      Dedup.simHash(docs(sf), "doc_id", "text").count() * 11 // 11 bands/doc
    })

  for ((name, count) <- growthFamilies) {
    test(s"$name grow sub-quadratically sf0.01 -> sf0.1") {
      val (small, big) = failAfter(PerTestCap) { (count("sf0.01"), count("sf0.1")) }
      assert(small > 0, s"$name: empty at sf0.01 — counter not counting")
      val growth = big.toDouble / small
      info(f"$name: sf0.01=$small sf0.1=$big growth=$growth%.1fx")
      assert(growth <= MaxGrowth,
        f"$name grows $growth%.1fx for 10x data (cap $MaxGrowth) — " +
          "quadratic candidate generation, would hang at scale")
    }
  }
}
