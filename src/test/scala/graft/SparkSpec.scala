package graft

import graft.build.Artifact
import graft.plans.GraftPruneRule
import java.io.File
import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import scala.jdk.CollectionConverters._

/** The one session and temp-dir fixture of every spec. All specs run in
  * one test JVM, where a session builder only takes effect the first
  * time; so no spec builds its own: each takes [[spark]], the mains'
  * [[Session]] (the confs floors and plan digests are measured with)
  * over a per-JVM warehouse. A spec that needs another runtime conf
  * sets it for one body with [[withConf]]; every directory it writes
  * comes from [[tempDir]], and when the spec ends those directories,
  * the artifact trees keyed by any corpus inside them and the index
  * registries it wrote are gone. */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>

  protected final lazy val spark: SparkSession = SparkSpec.session

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[String]

  /** A fresh directory, deleted with its artifact trees after the spec. */
  protected def tempDir(prefix: String): String = synchronized {
    val d = Files.createTempDirectory(prefix).toString
    dirs += d
    d
  }

  /** Runs `body` with the runtime `confs` set, then restores each
    * key's previous value (or unsets it). */
  protected def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally {
      Seq(GraftPruneRule.IndexesConf, GraftPruneRule.BloomIndexesConf).foreach(spark.conf.unset)
      dirs.filter(new File(_).isDirectory).foreach { d =>
        val st = Files.walk(new File(d).toPath)
        val corpora = try st.iterator().asScala.filter(Files.isDirectory(_)).toList finally st.close()
        corpora.foreach(c => FileUtils.deleteQuietly(new File(Artifact.root(c.toString))))
        FileUtils.deleteQuietly(new File(d))
      }
    }
}

object SparkSpec {
  private lazy val session: SparkSession = {
    val warehouse = Files.createTempDirectory("spark_warehouse").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(warehouse))
    Session.builder("4").config("spark.sql.warehouse.dir", warehouse.toString).getOrCreate()
  }
}
