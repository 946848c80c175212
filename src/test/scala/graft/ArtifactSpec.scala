package graft

import graft.build.Artifact
import graft.dedup.DedupArtifacts
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Per-corpus artifacts are a function of the corpus's full path and of
  * its source files' fingerprint ([[Artifact]]): two corpora with the
  * same directory name, an in-place source rewrite, or a crashed copy
  * never serve stale rows, and one table's change rebuilds only the
  * trees derived from it. */
class ArtifactSpec extends AnyFunSuite with SparkSpec {

  private val testdata = "/root/testdata"

  private lazy val work = tempDir("artifact")

  /** A corpus at `dir` holding `tables` copied from `testdata/<sf>`. */
  private def corpus(dir: String, sf: String, tables: String*): String = {
    Files.createDirectories(Paths.get(dir))
    tables.foreach(t => copyTable(s"$testdata/$sf", t, dir))
    dir
  }

  private def copyTable(from: String, table: String, to: String): JPath =
    Files.copy(Paths.get(s"$from/$table.parquet"), Paths.get(s"$to/$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def q16(dir: String): Seq[String] =
    rows(SparkEntry.queries("q16_idx_eq")(spark, dir))

  private def q16FullScan(dir: String): Seq[String] =
    rows(Tables.events(spark, dir).filter(col("event_type") === "error")
      .select("event_id", "user_id", "event_type"))

  test("two corpora with the same directory name each serve their own rows") {
    val a = corpus(s"$work/a/sfX", "sf0.001", "events", "documents")
    val b = corpus(s"$work/b/sfX", "sf0.01", "events", "documents")
    for (d <- Seq(a, b)) {
      assert(q16(d) == q16FullScan(d), s"q16 on $d")
      val blockScan = rows(SparkEntry.queries("q38_text_block_scan")(spark, d))
      val fullScan = rows(Tables.documents(spark, d)
        .filter(array_contains(split(trim(lower(col("text"))), "\\s+"), "dup"))
        .select("doc_id", "lang"))
      assert(blockScan == fullScan, s"q38 on $d")
    }
    assert(q16(a).size == 201 && q16(b).size == 2014)
  }

  test("an in-place rewrite of events.parquet serves the new rows") {
    val c = corpus(s"$work/c/sfX", "sf0.001", "events")
    assert(q16(c).size == 201)
    copyTable(s"$testdata/sf0.01", "events", c)
    assert(q16(c) == q16FullScan(c))
    assert(q16(c).size == 2014)
  }

  test("a leftover events_data directory with no marker is rebuilt, not trusted") {
    val d = corpus(s"$work/d/sfX", "sf0.001", "events")
    // a copy that crashed after writing part of its rows
    Tables.events(spark, d).limit(50).write.parquet(s"${Artifact.root(d)}/events_data")
    assert(q16(d) == q16FullScan(d))
    assert(q16(d).size == 201)
  }

  test("a documents-only change rebuilds the dedup tree and leaves the sem tree untouched") {
    val e = corpus(s"$work/e/sfX", "sf0.001", "documents", "embeddings")
    DedupArtifacts.prepareAll(spark, e)
    val root = Paths.get(Artifact.root(e))
    def listing(tree: String): Seq[(String, Long)] = {
      val st = Files.walk(root.resolve(tree))
      try st.iterator().asScala.map(p =>
        root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis).toSeq.sorted
      finally st.close()
    }
    def marker(tree: String): (String, Long) = {
      val m = root.resolve(s"_META_$tree")
      Files.readString(m) -> Files.getLastModifiedTime(m).toMillis
    }
    val (semMarker, semFiles, docMarker) =
      (marker("dedup_sem"), listing("dedup_sem"), marker("dedup"))
    // drop every tenth document: the documents table changes, the
    // embeddings table does not
    val kept = s"$work/e_docs"
    Tables.documents(spark, e).filter(col("doc_id") % 10 =!= 0).write.parquet(kept)
    Files.delete(Paths.get(s"$e/documents.parquet"))
    Files.move(Paths.get(kept), Paths.get(s"$e/documents.parquet"))
    DedupArtifacts.prepareAll(spark, e)
    assert(marker("dedup")._1 != docMarker._1, "the dedup tree must rebuild")
    assert(rows(DedupArtifacts.minHashPairs(spark, e)) ==
      rows(graft.dedup.Dedup.minHashDedupPairs(Tables.documents(spark, e), "doc_id",
        "text", DedupArtifacts.N, DedupArtifacts.Threshold, DedupArtifacts.K,
        DedupArtifacts.Bands)), "the rebuilt pairs must be the new corpus's")
    assert(marker("dedup_sem") == semMarker, "the sem marker must stay")
    assert(listing("dedup_sem") == semFiles, "the sem tree's files must stay")
  }

  test("fingerprint and ensure serve a corpus under a filesystem registered only in the session conf") {
    val local = corpus(s"$work/f/sfX", "sf0.001", "documents")
    val f = s"artfs://$local"
    withConf("fs.artfs.impl" -> classOf[ArtifactSessionFs].getName,
        "fs.artfs.impl.disable.cache" -> "true") {
      try {
        val fp = Artifact.fingerprint(spark, s"$f/documents.parquet")
        assert(fp == Artifact.fingerprint(spark, s"$local/documents.parquet"))
        var builds = 0
        def copy(): String = Artifact.ensure(spark, f, "docs_copy", fp) { d =>
          builds += 1
          Tables.documents(spark, f).write.parquet(d)
        }
        val dir = copy()
        assert(copy() == dir && builds == 1, "an unchanged fingerprint must reuse the copy")
        assert(rows(spark.read.parquet(dir)) == rows(Tables.documents(spark, local)))
      }
      // keyed by the artfs path, so outside every temporary directory
      finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(Artifact.root(f)))
    }
  }

  test("a corpus key is a function of the qualified path, never of the working directory") {
    val dir = s"$work/g/sfX"
    assert(Artifact.corpusKey(s"file://$dir") == Artifact.corpusKey(dir))
    assert(Artifact.corpusKey(s"file://$dir").startsWith("sfX_"))
    withConf("fs.artfs.impl" -> classOf[ArtifactSessionFs].getName,
        "fs.artfs.impl.disable.cache" -> "true") {
      // the working directory joined with the scheme-qualified spelling
      // is another (local) corpus, not this one
      val cwd = System.getProperty("user.dir")
      assert(Artifact.corpusKey(s"artfs://$dir") != Artifact.corpusKey(s"$cwd/artfs:$dir"))
      assert(Artifact.corpusKey(s"artfs://$dir") != Artifact.corpusKey(dir))
    }
  }
}

/** [[graft.query.RaceFs]] under the `artfs` scheme, which only the
  * artifact session-conf spec registers. */
class ArtifactSessionFs extends graft.query.RaceFs {
  override def getUri: java.net.URI = java.net.URI.create("artfs:///")
}
