package perfbench

import scala.collection.mutable

import graft.build.IndexBuilder
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The order-insensitive answer every events op reduces its rows to: row
  * count, the sum of Spark's 32-bit row hash over all columns, and the
  * sum of `value`. Summing 32-bit hashes as longs cannot overflow at any
  * size this benchmark generates. */
final case class Answer(rows: Long, hash: Long, valueSum: Long) {
  def +(o: Answer): Answer = Answer(rows + o.rows, hash + o.hash, valueSum + o.valueSum)
}

object Answer {
  val Zero: Answer = Answer(0, 0, 0)
  private def rowHash: Column =
    hash(Gen.EventSchema.fieldNames.map(col).toIndexedSeq: _*).cast("long")
  def aggCols: Seq[Column] = Seq(
    count(lit(1)), coalesce(sum(rowHash), lit(0L)), coalesce(sum(col("value")), lit(0L)))

  def agg(df: DataFrame): DataFrame = df.agg(aggCols.head, aggCols.tail: _*)

  /** Run the aggregate built by [[agg]] (one Spark action). `collect`
    * runs `q`'s own query execution, so a plan forced before is reused;
    * `head` would plan a new limit query, and prune again. */
  def collect(q: DataFrame): Answer = {
    val r = q.collect().head
    Answer(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** Expected answers for events ops, from an unindexed plain-Spark full
  * read of the data files, taken outside the timed window. The read keeps
  * per (file, user, event_type) aggregates, so an op's expected answer is
  * the sum over its keys, and the same table says which files truly hold
  * a match (for `query.file_precision`). `refresh` re-reads only the files
  * a batch changed. */
final class EventOracle(spark: SparkSession) {
  /** file -> user -> event_type -> answer */
  private val byFile = mutable.Map.empty[String, Map[Long, Map[String, Answer]]]
  private val byUser = mutable.Map.empty[Long, mutable.Map[String, Map[String, Answer]]]

  def refresh(files: Seq[String]): Unit = if (files.nonEmpty) {
    val canon = files.map(IndexBuilder.canonicalPath)
    canon.foreach(drop)
    val rows = spark.read.schema(Gen.EventSchema).parquet(canon: _*)
      .select(col("_metadata.file_path").as("file"), col("*"))
      .groupBy("file", "user_id", "event_type")
      .agg(Answer.aggCols.head, Answer.aggCols.tail: _*)
      .collect()
    rows.groupBy(r => IndexBuilder.canonicalPath(r.getString(0))).foreach { case (f, rs) =>
      val m = rs.groupBy(_.getLong(1)).map { case (u, us) =>
        u -> us.map(r => r.getString(2) -> Answer(r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      }
      byFile(f) = m
      m.foreach { case (u, types) => byUser.getOrElseUpdate(u, mutable.Map.empty)(f) = types }
    }
  }

  private def drop(file: String): Unit =
    byFile.remove(file).foreach(_.keys.foreach { u =>
      byUser.get(u).foreach { m => m.remove(file); if (m.isEmpty) byUser.remove(u) }
    })

  /** Expected answer and files holding a match, for rows whose user is in
    * `users` and whose type passes `typeOk`. */
  def expect(users: Iterable[Long], typeOk: String => Boolean): (Answer, Set[String]) = {
    var a = Answer.Zero
    val files = mutable.Set.empty[String]
    users.foreach(u => byUser.get(u).foreach(_.foreach { case (f, types) =>
      types.foreach { case (t, x) => if (typeOk(t)) { a = a + x; files += f } }
    }))
    (a, files.toSet)
  }

  def usersOf(file: String): Seq[Long] =
    byFile.get(IndexBuilder.canonicalPath(file)).map(_.keys.toSeq.sorted).getOrElse(Nil)
}

/** Expected answers for text ops, computed in plain Scala from the live
  * generated documents — an unindexed reference for the search semantics
  * of `TextIndex` and `QueryLang`. */
final class TextOracle(docs: Iterable[Gen.Doc]) {
  /** term -> doc -> positions */
  private val inv: Map[String, Map[Long, Array[Int]]] = {
    val m = mutable.HashMap.empty[String, mutable.HashMap[Long, mutable.ArrayBuffer[Int]]]
    docs.foreach(d => d.tokens.zipWithIndex.foreach { case (t, p) =>
      m.getOrElseUpdate(t, mutable.HashMap.empty).getOrElseUpdate(d.id, mutable.ArrayBuffer.empty) += p
    })
    m.map { case (t, ds) => t -> ds.map { case (d, ps) => d -> ps.toArray }.toMap }.toMap
  }
  private val docLen: Map[Long, Int] = docs.map(d => d.id -> d.tokens.length).toMap
  val nDocs: Int = docLen.size

  private def postings(t: String): Map[Long, Array[Int]] = inv.getOrElse(t, Map.empty)

  /** doc -> summed tf over the distinct terms it contains */
  def anyOf(terms: Seq[String]): Map[Long, Long] = {
    val acc = mutable.HashMap.empty[Long, Long]
    terms.distinct.foreach(t => postings(t).foreach { case (d, ps) =>
      acc(d) = acc.getOrElse(d, 0L) + ps.length })
    acc.toMap
  }

  def topK(terms: Seq[String], k: Int): Seq[(Long, Long)] =
    anyOf(terms).toSeq.sortBy { case (d, s) => (-s, d) }.take(k)

  def allOf(terms: Seq[String]): Map[Long, Long] = {
    val qs = terms.distinct
    anyOf(qs).filter { case (d, _) => qs.forall(t => postings(t).contains(d)) }
  }

  def phrase(words: Seq[String]): Map[Long, Long] = {
    val first = postings(words.head)
    first.flatMap { case (d, ps) =>
      val occ = ps.count(p => words.indices.forall(i => postings(words(i)).get(d).exists(_.contains(p + i))))
      if (occ > 0) Some(d -> occ.toLong) else None
    }
  }

  def bm25(terms: Seq[String]): Map[Long, Double] = {
    val k1 = 1.2
    val b = 0.75
    val avg = docLen.values.map(_.toLong).sum.toDouble / nDocs
    val acc = mutable.HashMap.empty[Long, Double]
    terms.distinct.foreach { t =>
      val ps = postings(t)
      val df = ps.size.toLong
      val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
      ps.foreach { case (d, pos) =>
        val tf = pos.length.toDouble
        acc(d) = acc.getOrElse(d, 0.0) +
          idf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * docLen(d) / avg))
      }
    }
    acc.toMap
  }

  def docsWith(t: String): Set[Long] = postings(t).keySet
}
