package perfbench

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every value is a pure function of the seed and
  * a position, so the same seed gives the same files, rows, key stream and
  * corpus. It writes only under the directory it is handed.
  *
  * Events: one parquet file per slot, ordered by `event_id`. Users come in
  * runs of [[RunLen]] consecutive events and every user owns two runs at
  * random places, so a user's rows sit in about two files — the layout a
  * sparse file index exists for.
  */
object Gen {
  val RunLen = 20
  val EventTypes: Vector[String] =
    Vector("view", "click", "search", "login", "purchase", "share", "logout", "error")
  private val TypeCdf: Array[Double] = cdf(Array(30.0, 20, 12, 12, 8, 8, 6, 4))

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", LongType, nullable = false),
    StructField("props", StringType, nullable = false)))

  /** SplitMix64 finaliser: the per-position hash every generated value
    * derives from. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(seed: Long, salt: Long, i: Long): Long = mix(mix(seed * 0x632BE59BD9B4E019L + salt) + i)
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private def cdf(w: Array[Double]): Array[Double] = {
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private def pick(c: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(c, u)
    math.min(c.length - 1, if (i >= 0) i else -i - 1)
  }

  /** Fisher-Yates with a seeded stream. */
  def shuffle(a: Array[Int], seed: Long, salt: Long): Array[Int] = {
    var i = a.length - 1
    while (i > 0) {
      val j = (unit(mix(seed, salt, i)) * (i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Which user owns each run of [[RunLen]] events: `users` ids starting at
    * `firstUser`, each owning two runs, shuffled. */
  def runOwners(runs: Int, firstUser: Long, seed: Long, salt: Long): Array[Long] = {
    val users = math.max(1, runs / 2)
    shuffle(Array.tabulate(runs)(r => r % users), seed, salt).map(_ + firstUser)
  }

  /** One event row. `owner` is the user of the row's run; `salt`
    * separates a rewrite of a file from its first version. */
  def event(seed: Long, salt: Long, eventId: Long, owner: Long): Row = {
    val h = mix(seed, 1000 + salt, eventId)
    val t = EventTypes(pick(TypeCdf, unit(h)))
    val v = (mix(h) >>> 1) % 1000
    val props = f"""{"src":"${(h >>> 40) % 7}","ref":"${h & 0xffffffL}%06x"}"""
    Row(eventId, owner, t, new Timestamp(1700000000000L + eventId * 1000L), v, props)
  }

  /** A file's rows: events `firstEvent until firstEvent + rows`, run owners
    * read from `owners` (indexed by run number relative to the file). */
  final case class FileSpec(name: String, firstEvent: Long, rows: Int, owners: Array[Long], salt: Long)

  /** Write each spec as exactly one parquet file `dir/<name>.parquet`
    * (one Spark job for the whole set). An existing file of that name is
    * replaced, which is how the workloads rewrite a file in place. */
  def writeFiles(spark: SparkSession, seed: Long, dir: String, specs: Seq[FileSpec]): Unit = {
    val staging = s"$dir/_staging"
    val rdd = spark.sparkContext.parallelize(specs, specs.size).flatMap { s =>
      (0 until s.rows).iterator.map { i =>
        event(seed, s.salt, s.firstEvent + i, s.owners(i / RunLen))
      }
    }
    spark.createDataFrame(rdd, EventSchema).write.mode("overwrite").parquet(staging)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(staging)).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    require(parts.length == specs.size, s"expected ${specs.size} part files, got ${parts.length}")
    parts.zip(specs).foreach { case (p, s) =>
      val target = new Path(s"$dir/${s.name}.parquet")
      val old = if (fs.exists(target)) Some(fs.getFileStatus(target).getModificationTime) else None
      fs.delete(target, false)
      require(fs.rename(p, target), s"cannot move $p to $target")
      // a rewrite must look changed to a length+mtime fingerprint even
      // when it lands within the filesystem's mtime granularity
      old.foreach(t => fs.setTimes(target, math.max(t + 1000, System.currentTimeMillis()), -1))
    }
    fs.delete(new Path(staging), true)
    dropCrc(fs, dir)
  }

  private def dropCrc(fs: FileSystem, dir: String): Unit =
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".crc")).foreach(fs.delete(_, false))

  /** The base events dataset: `files` files of `rowsPerFile` rows. */
  def baseSpecs(seed: Long, files: Int, rowsPerFile: Int): Seq[FileSpec] = {
    require(rowsPerFile % RunLen == 0, "rowsPerFile must be a multiple of the run length")
    val runsPerFile = rowsPerFile / RunLen
    val owners = runOwners(files * runsPerFile, 0L, seed, 1)
    (0 until files).map { f =>
      FileSpec(f"f$f%05d", f.toLong * rowsPerFile, rowsPerFile,
        owners.slice(f * runsPerFile, (f + 1) * runsPerFile), 0)
    }
  }

  def users(files: Int, rowsPerFile: Int): Int = math.max(1, files * rowsPerFile / RunLen / 2)

  /** Zipf(s) sampler over ranks 0 until n; rank r maps to a key through a
    * seeded permutation so the hot keys are spread over the keyspace. */
  final class Zipf(n: Int, s: Double, seed: Long, salt: Long) {
    private val c = cdf(Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s)))
    private val perm = shuffle(Array.tabulate(n)(identity), seed, salt)
    def apply(i: Long): Int = perm(pick(c, unit(mix(seed, salt + 1, i))))
    /** The key of rank `r` (0 = most frequent). */
    def ofRank(r: Int): Int = perm(r)
  }

  // ------------------------------------------------------------ text corpus

  /** Vocabulary word for a rank: short, lowercase, unique. */
  def word(rank: Int): String = "w" + Integer.toString(rank, 36)

  final case class Doc(id: Long, tokens: Array[String]) {
    def text: String = tokens.mkString(" ")
  }

  /** `n` documents with ids from `firstId`, each of `len ± len/4` tokens
    * drawn Zipf(1.0) from a `vocab`-word vocabulary. */
  def docs(seed: Long, salt: Long, firstId: Long, n: Int, len: Int, vocab: Zipf): Vector[Doc] =
    Vector.tabulate(n) { i =>
      val id = firstId + i
      val h = mix(seed, salt, id)
      val l = len - len / 4 + (((h >>> 1) % (len / 2 + 1)).toInt)
      Doc(id, Array.tabulate(l)(p => word(vocab(id * 4096 + p))))
    }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def writeDocs(spark: SparkSession, docs: Seq[Doc], dir: String, files: Int): Unit = {
    val rows = docs.map(d => Row(d.id, d.text))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), DocSchema)
      .write.mode("overwrite").parquet(dir)
  }
}
