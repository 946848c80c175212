package graft

import graft.operators.Skew
import graft.streaming.{EventRow, EventStreams}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming windowed aggregation (watermark), stateful sessionization,
  * and skew-salting equivalence. */
class StreamingOpsSpec extends AnyFunSuite with SparkSpec {

  private val work = tempDir("test_stream_ops")

  test("windowed counts over a file stream match the batch computation") {
    import spark.implicits._
    val src = s"$work/events"
    Tables.events(spark, "/root/testdata/sf0.001").write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("win_out")
      .select("win_start", "event_type", "n", "sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = EventStreams.windowedCounts(spark.read.parquet(src))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    // append mode only emits windows the watermark has closed; all
    // emitted windows must match the batch result, and most windows
    // should have been emitted (only the trailing ones stay open)
    assert(streamed.nonEmpty && streamed.subsetOf(batch))
    assert(streamed.size >= batch.size - 25,
      s"too few closed windows: ${streamed.size} of ${batch.size}")
  }

  test("stream-static enrichment broadcasts the dimension and keeps unmatched events") {
    import spark.implicits._
    val src = s"$work/enrich_events"
    Tables.events(spark, "/root/testdata/sf0.001").write.parquet(src)
    val dim = Seq(("view", 1.0), ("click", 2.0), ("purchase", 10.0))
      .toDF("event_type", "weight") // signup/error deliberately absent
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
    val q = EventStreams.enrich(stream, dim, "event_type")
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .option("checkpointLocation", s"$work/enrich_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("enrich_out")
    val total = spark.read.parquet(src).count()
    assert(out.count() == total,
      "left enrichment must keep every event, matched or not")
    assert(out.filter(col("weight").isNull)
      .select("event_type").distinct().as[String].collect().toSet ==
      Set("signup", "error"),
      "exactly the dimension-less types surface as NULL weight")
  }

  test("sessionization accumulates per-user state and emits on timeout") {
    import spark.implicits._
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventRow]
    // batch semantics of flatMapGroupsWithState: one invocation per key,
    // no timeout fires -> state absorbed, nothing emitted in Append.
    // Run it through a stream where AvailableNow closes the query:
    val src = s"$work/sess"
    events.write.parquet(src)
    val stream = spark.readStream.schema(events.schema).parquet(src).as[EventRow]
    val q = EventStreams.sessionize(stream, timeoutMs = 1)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .option("checkpointLocation", s"$work/sess_ckpt")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    // wait until the timeout batch has flushed the sessions
    val deadline = System.currentTimeMillis() + 60000
    var done = false
    while (!done && System.currentTimeMillis() < deadline) {
      Thread.sleep(1000)
      done = spark.table("sess_out").count() >= 15
    }
    q.stop()
    val sessions = spark.table("sess_out").as[UserSessionRow].collect()
    assert(sessions.length >= 15, s"expected >=15 user sessions, got ${sessions.length}")
    val byUser = sessions.groupBy(_.user_id)
    assert(byUser.values.forall(_.length == 1))
    // spot-check one user against batch truth
    val u = sessions.head.user_id
    val truth = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") === u).agg(count(lit(1)), sum("value"))
      .as[(Long, Double)].head()
    val s = byUser(u).head
    assert(s.n_events == truth._1)
    assert(math.abs(s.total_value - truth._2) < 1e-6)
  }

  test("salted join equals plain join; salted agg equals plain agg") {
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    val users = e.select(col("user_id")).distinct()
      .withColumn("tier", (col("user_id") % 3).cast("int"))
    import spark.implicits._
    val plain = e.join(users, "user_id").groupBy("tier")
      .agg(count(lit(1)).as("n")).as[(Int, Long)].collect().toSet
    val salted = Skew.saltedJoin(e, users, "user_id", salts = 8)
      .groupBy("tier").agg(count(lit(1)).as("n")).as[(Int, Long)].collect().toSet
    assert(salted == plain)

    val plainAgg = e.groupBy("user_id").agg(count(lit(1)).as("value_agg"))
      .as[(Long, Long)].collect().toSet
    val saltedAgg = Skew.saltedAgg(e, "user_id", "value", 8, count, sum)
      .as[(Long, Long)].collect().toSet
    assert(saltedAgg == plainAgg)
  }

  test("streaming tumbling counts equal q138's batch grid for closed windows") {
    import spark.implicits._
    val src = s"$work/tumbling"
    Tables.events(spark, "/root/testdata/sf0.001").write.parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
    val q = EventStreams.tumblingCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("tumbling_out")
      .option("checkpointLocation", s"$work/tumbling_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("tumbling_out")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    // the batch twin is the REGISTERED q138 — stream vs the exact
    // oracle-gated operator, not a re-statement of it
    val batch = SparkEntry.queries("q138_tumbling_window")(
        spark, "/root/testdata/sf0.001")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed.subsetOf(batch),
      s"streamed windows disagree with batch: ${(streamed -- batch).take(3)}")
    // only windows still open at end-of-stream may be missing
    assert(streamed.size >= batch.size - 15,
      s"too few closed windows: ${streamed.size} of ${batch.size}")
  }

  test("streaming debounce keeps exactly the events q131's batch rule keeps") {
    import spark.implicits._
    val src = s"$work/debounce"
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    events.write.parquet(src)
    val horizonUs = 3600L * 1000000L // q131's 1-hour horizon
    val stream = spark.readStream.schema(events.schema).parquet(src)
      .as[EventRow]
    val q = EventStreams.debounce(stream, horizonUs)
      .writeStream.outputMode("append")
      .format("memory").queryName("debounce_out")
      .option("checkpointLocation", s"$work/debounce_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // per-type kept counts from the stream vs the REGISTERED q131
    val streamed = spark.table("debounce_out")
      .groupBy("event_type").agg(count(lit(1)).as("n_kept"))
      .as[(String, Long)].collect().toMap
    val batch = SparkEntry.queries("q131_horizon_dedup")(
        spark, "/root/testdata/sf0.001")
      .select("event_type", "n_kept")
      .as[(String, Long)].collect().toMap
    assert(streamed == batch,
      s"stream/batch debounce disagree: stream=$streamed batch=$batch")
    // and the row-level identity, not just counts: streamed kept ids ==
    // the batch LAG rule applied to the same data
    val keptIds = spark.table("debounce_out")
      .select("event_id").as[Long].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val batchIds = events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNull ||
        unix_micros(col("ts")) - col("prev_us") > horizonUs)
      .select("event_id").as[Long].collect().toSet
    assert(keptIds == batchIds)
  }

  test("streaming dedup keeps one row per digest within the watermark") {
    import spark.implicits._
    val src = s"$work/dedup_docs"
    // duplicate every document once (same text, different id)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000))
      .write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
    val q = EventStreams.dedupStream(stream, "ts", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", s"$work/dedup_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("dedup_out")
    val distinctTexts = spark.read.parquet(src).select("text").distinct().count()
    assert(out.count() == distinctTexts,
      "exactly one surviving row per distinct content digest")
    assert(out.select("text").distinct().count() == distinctTexts)
  }

  test("streaming near-dup vs persisted base equals the batch cross-pair set") {
    import graft.dedup.{Dedup, DedupArtifacts}
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val isDelta =
      col("doc_id") % DedupArtifacts.DeltaMod === DedupArtifacts.DeltaRem
    // static sides: the persisted base index (banded + verification sets)
    val banded = DedupArtifacts.banded(spark, sfDir)
    val baseBanded = banded.filter(!isDelta)
    val baseSets = DedupArtifacts.docSets(spark, sfDir)
      .filter(!isDelta)
    // today's batch streams in
    val src = s"$work/neardup_docs"
    Tables.documents(spark, sfDir).filter(isDelta)
      .select("doc_id", "text").write.parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = EventStreams.nearDupAgainstBase(
        stream, baseBanded, baseSets, "doc_id", "text",
        DedupArtifacts.N, DedupArtifacts.Threshold,
        DedupArtifacts.K, DedupArtifacts.Bands)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out")
      .option("checkpointLocation", s"$work/neardup_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("neardup_out")
      .select(least(col("new_id"), col("base_id")),
        greatest(col("new_id"), col("base_id")))
      .as[(Long, Long)].collect().toSet
    // batch truth: the q142 cross-pair machinery over the same artifacts
    val batch = Dedup.verifyPairsWithSets(
        Dedup.crossCandidatesFromBanded(banded, isDelta),
        DedupArtifacts.docSets(spark, sfDir), DedupArtifacts.Threshold)
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream/batch diverged: only_stream=${(streamed -- batch).take(3)} " +
        s"only_batch=${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty, "the sf0.001 delta has planted near-dups in the base")
  }

  test("streaming media near-dup vs persisted phashes equals the brute-force hamming set") {
    import graft.dedup.DedupArtifacts
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val h = DedupArtifacts.PHashMaxHamming
    val isDelta =
      col("media_id") % DedupArtifacts.DeltaMod === DedupArtifacts.DeltaRem
    val basePh = DedupArtifacts.phashes(spark, sfDir).filter(!isDelta)
    // today's media batch streams in (text payloads — the same stand-in
    // the phash artifact was built from, so stream-side hashes must
    // equal the artifact's for the delta ids)
    val src = s"$work/media_neardup_docs"
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % DedupArtifacts.DeltaMod === DedupArtifacts.DeltaRem &&
        length(col("text")) > 0)
      .select("doc_id", "text").write.parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = EventStreams.mediaNearDupAgainstBase(
        stream, basePh, "doc_id", "text", "image", h)
      .writeStream.outputMode("append")
      .format("memory").queryName("media_neardup_out")
      .option("checkpointLocation", s"$work/media_neardup_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("media_neardup_out")
      .as[(Long, Long)].collect().toSet
    // brute-force truth from the persisted phashes: every (delta, base)
    // pair within h bits
    val all = DedupArtifacts.phashes(spark, sfDir)
      .as[(Long, Long)].collect()
    val d = DedupArtifacts.DeltaMod
    val r = DedupArtifacts.DeltaRem
    val expected = (for {
      (i, hi) <- all if i % d == r
      (j, hj) <- all if j % d != r
      if java.lang.Long.bitCount(hi ^ hj) <= h
    } yield (i, j)).toSet
    assert(streamed == expected,
      s"stream/brute diverged: only_stream=${(streamed -- expected).take(3)} " +
        s"only_brute=${(expected -- streamed).take(3)}")
    assert(streamed.nonEmpty, "the sf0.001 delta has media near-dups in the base")
  }

  test("foreachBatch media kernel prunes the v13 band table per batch and equals the brute-force set") {
    import graft.dedup.DedupArtifacts
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val h = DedupArtifacts.PHashMaxHamming
    val d = DedupArtifacts.DeltaMod
    val r = DedupArtifacts.DeltaRem
    val baseBanded = DedupArtifacts.phashBanded(spark, sfDir)
      .filter(col("doc_id") % d =!= r)
    // a SMALL micro-batch's bucket neighborhoods must cut the artifact
    // scan to a strict subset of the pb directories
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.toString.contains("phash_banded") =>
          f.metrics("numFiles").value
      }.sum
    }
    val allFiles = filesRead(baseBanded)
    val smallProbe = graft.dedup.Dedup.simHashBands(
      DedupArtifacts.phashes(spark, sfDir)
        .filter(col("media_id") % d === r).limit(3)
        .select(col("media_id").as("doc_id"), col("phash").as("simhash")), h)
    val prunedFiles = filesRead(
      graft.build.Layout.pruneToProbe(baseBanded, smallProbe))
    assert(prunedFiles < allFiles,
      s"media batch probe must prune pb dirs: $prunedFiles of $allFiles")
    // the full-delta foreachBatch run equals the brute-force hamming set
    val src = s"$work/media_fb_docs"
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % d === r && length(col("text")) > 0)
      .select("doc_id", "text").write.parquet(src)
    val outDir = s"$work/media_fb_out"
    val q = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        EventStreams.mediaNearDupBatch(b, baseBanded, "doc_id", "text", "image", h)
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", s"$work/media_fb_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(outDir).as[(Long, Long)].collect().toSet
    val all = DedupArtifacts.phashes(spark, sfDir).as[(Long, Long)].collect()
    val expected = (for {
      (i, hi) <- all if i % d == r
      (j, hj) <- all if j % d != r
      if java.lang.Long.bitCount(hi ^ hj) <= h
    } yield (i, j)).toSet
    assert(streamed == expected,
      s"foreachBatch/brute diverged: only_stream=${(streamed -- expected).take(3)} " +
        s"only_brute=${(expected -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("streaming banded semantic near-dup vs persisted base equals the exact batch cross-pair set") {
    import graft.dedup.DedupArtifacts
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    // the PRODUCTION regime (q51/q161's): planted corpus at
    // SemProdThreshold, where the banding pigeonhole budget covers every
    // qualifying pair — so the banded stream must equal not just the
    // banded batch twin but the EXACT cross kernel, the strongest
    // stream ≡ batch statement available
    val t = DedupArtifacts.SemProdThreshold
    val isDelta =
      col("vec_id") % DedupArtifacts.DeltaMod === DedupArtifacts.DeltaRem
    val emb = DedupArtifacts.plantedEmbeddings(spark, sfDir)
    val base = emb.filter(!isDelta)
    val baseBanded = DedupArtifacts.semBanded(spark, sfDir).filter(!isDelta)
    // today's embedding batch streams in
    val src = s"$work/sem_neardup_vecs"
    emb.filter(isDelta).write.parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = EventStreams.semNearDupAgainstBase(
        stream, base, baseBanded, "vec_id", "embedding", t)
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_neardup_out")
      .option("checkpointLocation", s"$work/sem_neardup_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sem_neardup_out")
      .select(least(col("new_id"), col("base_id")),
        greatest(col("new_id"), col("base_id")))
      .as[(Long, Long)].collect().toSet
    // batch truth #1: the q161 banded cross path over the same split
    val banded = DedupArtifacts.semBanded(spark, sfDir)
    val bandedBatch = graft.similarity.Ann.verifyCosinePairs(
        graft.similarity.Ann.crossCandidatesFromBanded(banded, isDelta),
        emb, t, broadcastCand = true)
      .as[(Long, Long)].collect().toSet
    // batch truth #2: the EXACT cross kernel (q157's) — recall 1.0 by
    // the pigeonhole guarantee at this threshold
    val exact = graft.similarity.Ann.cosineCrossPairs(
        base, emb.filter(isDelta), t)
      .as[(Long, Long)].collect().toSet
    assert(streamed == bandedBatch,
      s"stream/banded-batch diverged: only_stream=${(streamed -- bandedBatch).take(3)} " +
        s"only_batch=${(bandedBatch -- streamed).take(3)}")
    assert(streamed == exact,
      s"stream/exact diverged: only_stream=${(streamed -- exact).take(3)} " +
        s"only_exact=${(exact -- streamed).take(3)}")
    assert(streamed.nonEmpty, "the planted delta has semantic near-dups in the base")
  }

  test("foreachBatch semantic kernel prunes the banded scan per batch and equals the exact set") {
    import graft.dedup.DedupArtifacts
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val t = DedupArtifacts.SemProdThreshold
    val isDelta =
      col("vec_id") % DedupArtifacts.DeltaMod === DedupArtifacts.DeltaRem
    val emb = DedupArtifacts.plantedEmbeddings(spark, sfDir)
    val base = emb.filter(!isDelta)
    val baseBanded = DedupArtifacts.semBanded(spark, sfDir).filter(!isDelta)
    // a SMALL micro-batch: its bucket neighborhoods must cut the
    // banded-artifact scan to a strict subset of the pb directories
    val batch = emb.filter(isDelta).limit(5)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.toString.contains("sem_banded") =>
          f.metrics("numFiles").value
      }.sum
    }
    val allFiles = filesRead(baseBanded)
    // measure on the pruned base directly (the kernel's own plan is
    // AQE-wrapped, hiding its leaves) — same pruneToProbe call the
    // kernel makes, same probe
    val pruned = graft.build.Layout.pruneToProbe(baseBanded,
      graft.similarity.Ann.bandedRows(
        batch.select(col("vec_id").cast("long").as("new_id"),
          col("embedding").as("vb")),
        "new_id", "vb",
        graft.similarity.Ann.hyperplanes(DedupArtifacts.SemPlanes,
          base.select(size(col("embedding"))).head().getInt(0),
          DedupArtifacts.SemSeed),
        DedupArtifacts.SemBands))
    assert(filesRead(pruned) < allFiles,
      s"per-batch probe must prune pb dirs: ${filesRead(pruned)} of $allFiles")
    // and the full-delta foreachBatch run equals the exact cross kernel
    val src = s"$work/sem_neardup_fb_vecs"
    emb.filter(isDelta).write.parquet(src)
    val outDir = s"$work/sem_neardup_fb_out"
    val q = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        EventStreams.semNearDupBatch(
            b, base, baseBanded, "vec_id", "embedding", t)
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", s"$work/sem_neardup_fb_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(outDir)
      .select(least(col("new_id"), col("base_id")),
        greatest(col("new_id"), col("base_id")))
      .as[(Long, Long)].collect().toSet
    val exact = graft.similarity.Ann.cosineCrossPairs(
        base, emb.filter(isDelta), t)
      .as[(Long, Long)].collect().toSet
    assert(streamed == exact,
      s"foreachBatch/exact diverged: only_stream=${(streamed -- exact).take(3)} " +
        s"only_exact=${(exact -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("watermarked semantic near-dup overload equals the unbounded-state form") {
    import graft.dedup.DedupArtifacts
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val t = DedupArtifacts.SemProdThreshold
    val isDelta =
      col("vec_id") % DedupArtifacts.DeltaMod === DedupArtifacts.DeltaRem
    val emb = DedupArtifacts.plantedEmbeddings(spark, sfDir)
    val base = emb.filter(!isDelta)
    val baseBanded = DedupArtifacts.semBanded(spark, sfDir).filter(!isDelta)
    // the delta batch with an ingest event time — the column the
    // production overload bounds its dedup state on
    val src = s"$work/sem_neardup_wm_vecs"
    emb.filter(isDelta)
      .withColumn("ingest_ts", lit("2024-01-15 12:00:00").cast("timestamp"))
      .write.parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = EventStreams.semNearDupAgainstBaseWithinWatermark(
        stream, base, baseBanded, "vec_id", "embedding",
        tsCol = "ingest_ts", delay = "1 hour", threshold = t)
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_neardup_wm_out")
      .option("checkpointLocation", s"$work/sem_neardup_wm_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sem_neardup_wm_out")
      .select(least(col("new_id"), col("base_id")),
        greatest(col("new_id"), col("base_id")))
      .as[(Long, Long)].collect().toSet
    // must equal the exact cross kernel like the plain overload (same
    // hit stream; only the dedup-state bound differs)
    val exact = graft.similarity.Ann.cosineCrossPairs(
        base, emb.filter(isDelta), t)
      .as[(Long, Long)].collect().toSet
    assert(streamed == exact,
      s"watermarked stream/exact diverged: only_stream=${(streamed -- exact).take(3)} " +
        s"only_exact=${(exact -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }
}

final case class UserSessionRow(user_id: Long, n_events: Long,
    total_value: Double, first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)
