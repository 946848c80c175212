package graft.build

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** How one generation's rows are laid out inside its `gen=N` directory. */
private[graft] sealed trait GenLayout

/** Hash directories: `partitionBy(dir)` inside each generation, so a
  * probe on `dir`'s values prunes statically to their subdirectories
  * (IVF cells). `derive` computes the directory column from the key
  * when it is not stored (the vector store's `pb = pmod(id,
  * ProbePartitions)`) — a key-derived layout also prunes the dead-row
  * count of an append to the batch's directories; `parts` fixes the
  * write's fan-out and `sortBy` orders each file. */
private[graft] final case class HashDirs(dir: String,
    derive: Option[Column] = None, parts: Option[Int] = None,
    sortBy: Seq[String] = Nil) extends GenLayout

/** Range clustering: `repartitionByRange` on `by` plus `sortBy`-sorted
  * files, so a probe's IN-list skips whole files and row groups by
  * parquet min-max stats (banded buckets, postings terms). A build fans
  * out to the session width; an append passes its batch size and
  * writes ceil(rows / rowsPerFile) files, capped at that width, so a
  * micro-batch lands in one file. The partition count is explicit
  * either way: an AQE-coalesced range shuffle would collapse a small
  * generation into one wide-range file and erase the min-max
  * selectivity the probes prune against. */
private[graft] final case class RangeClustered(by: Seq[String],
    sortBy: Seq[String], rowsPerFile: Long) extends GenLayout

/** The descriptor of one maintained store — everything [[GenStore]]
  * needs to derive the lifecycle verbs (generation writer, raw reader,
  * live view, dead count, delete, horizon compact, retired ids,
  * staleness) once for every structure. A structure is a descriptor
  * plus its kernel (the model it assigns rows under, and its probes).
  *
  *  - `marker`: the `_INDEX_META` key that names the structure;
  *  - `subdir`/`key`: the gen-stamped data directory under the store's
  *    version root (also the table's name in the meta's file list) and
  *    the key that latest-generation resolution groups by; `id` names
  *    the key in the retired sidecar and in [[GenStore.retiredIds]];
  *  - `multiRow`: whether a key has many rows (banded signatures,
  *    postings) — its latest generation wins as a whole;
  *  - `cols`: the stored row in read order (gen excluded);
  *  - `serving`: false exactly on tombstone rows — the views drop them
  *    after resolution and the staleness counters weigh them 0;
  *  - `tombRow`: the literal columns of a delete's tombstone row (the
  *    key fills its own column, every other column is null);
  *  - `tombCount`: the meta param holding the exact count of physical
  *    tombstone rows (the text store's `sent`, whose 0 licenses the
  *    flat read); stores without one keep the `del` flag, set while any
  *    tombstone row exists, and drop tombstones in their views only
  *    then;
  *  - `derived`: sidecar tables written from each generation just
  *    written (the text store's norms). */
private[graft] final case class GenTable(
    marker: String, subdir: String, key: String, multiRow: Boolean,
    layout: GenLayout, cols: Seq[String], serving: Column,
    tombRow: Map[String, Column], tombCount: Option[String] = None,
    derived: Seq[(GenTable, DataFrame => DataFrame)] = Nil,
    id: Option[String] = None) {

  def idCol: String = id.getOrElse(key)

  /** The table's directory under version root `root`. */
  def path(root: String): String = s"$root/$subdir"

  def subdirs: Seq[String] = subdir +: derived.map(_._1.subdir)

  def holds(m: GenStore.Meta): Boolean = m.params.contains(marker)

  /** Whether a tree holding this structure stores table `t` (its own
    * table or a derived sidecar — IVF and PQ rows share one table). */
  def stores(t: GenTable): Boolean =
    (this +: derived.map(_._1)).exists(x => x.subdir == t.subdir && x.key == t.key)

  /** A tombstone row, and the 0/1 weight the counters give a row. */
  def tomb: Column = !serving
  def weight: Column = when(tomb, 0L).otherwise(1L)

  /** A hash-directory column derived from the key (not stored), with
    * its expression. */
  def keyDirs: Option[(String, Column)] = layout match {
    case HashDirs(d, Some(f), _, _) => Some(d -> f)
    case _ => None
  }

  /** Column `c` as the raw reader serves it: a stored hash-directory
    * column is discovered as an int partition value and normalized to
    * long. */
  def readCol(c: String): Column = layout match {
    case HashDirs(d, None, _, _) if d == c => col(c).cast("long").as(c)
    case _ => col(c)
  }

  /** Whether a tombstone row may physically exist. */
  def tombsPresent(m: GenStore.Meta): Boolean =
    tombCount.fold(m.params.contains("del"))(k => !m.params.get(k).contains("0"))

  /** Whether the views drop tombstones after resolution: always for a
    * counted store, only while `del` is set otherwise (delete-free
    * stores keep their exact pre-delete plans). */
  def dropsTombs(m: GenStore.Meta): Boolean =
    tombCount.isDefined || m.params.contains("del")

  /** The meta after `n` more tombstone rows were written. */
  def addTombs(m: GenStore.Meta, n: Long): GenStore.Meta = tombCount match {
    case Some(k) => m.copy(params = m.params + (k -> (m.params(k).toLong + n).toString))
    case None => if (n > 0) m.copy(params = m.params + ("del" -> "1")) else m
  }

  /** The meta after a horizon squash left `n` physical tombstone rows. */
  def recountTombs(m: GenStore.Meta, n: Long): GenStore.Meta = tombCount match {
    case Some(k) => m.copy(params = m.params + (k -> n.toString))
    case None => if (n == 0) m.copy(params = m.params - "del") else m
  }
}

private[graft] object GenTable {

  /** IVF assignments `(vec_id, v, cell)`, partitioned by cell; a legacy
    * tree from before vector-carrying rows stores `(vec_id, cell)`.
    * Tombstone: `cell = -1` with a null vector. */
  val Ivf: GenTable = GenTable("nlist", "assignments", "vec_id",
    multiRow = false, HashDirs("cell"), Seq("vec_id", "v", "cell"),
    serving = col("cell") >= 0L, tombRow = Map("cell" -> lit(-1L)))

  /** IVF-PQ code rows `(vec_id, codes, cell)`: the IVF table with the
    * PQ codes as payload. */
  val Pq: GenTable = Ivf.copy(marker = "pq", cols = Seq("vec_id", "codes", "cell"))

  /** The point-fetch vector store `(bucket = vec_id, v)` in key-derived
    * `pb` directories, id-sorted. Tombstone: a null vector. */
  val Vecs: GenTable = GenTable("pfetch", "data", "bucket", multiRow = false,
    HashDirs("pb",
      Some(pmod(col("bucket"), lit(Layout.ProbePartitions)).cast("int")),
      Some(Layout.ProbePartitions), Seq("bucket")),
    Seq("bucket", "v"), serving = col("v").isNotNull, tombRow = Map.empty,
    id = Some("vec_id"))

  /** Banded LSH signatures, `bands` rows per vector, range-clustered by
    * bucket. Tombstone: `band = -1`. */
  val Banded: GenTable = GenTable("np", "banded", "vec_id", multiRow = true,
    RangeClustered(Seq("bucket"), Seq("bucket", "band"), 4096L),
    Seq("vec_id", "band", "bucket"), serving = col("band") >= 0,
    tombRow = Map("band" -> lit(-1), "bucket" -> lit(0)))

  /** The text store's norms sidecar `(doc_id, dl)`: one row per doc of
    * each generation, derived from its postings; an emptied or deleted
    * doc has `dl = 0`. Its range write uses the postings' per-file
    * target, so both tables of a generation fan out alike. */
  val Norms: GenTable = GenTable("text", "norms", "doc_id", multiRow = false,
    RangeClustered(Seq("doc_id"), Seq("doc_id"), 256L), Seq("doc_id", "dl"),
    serving = col("dl") > 0, tombRow = Map.empty, tombCount = Some("sent"))

  /** Text postings `(field, term, doc_id, tf, positions)`, range-
    * clustered by (field, term); rows per file counts docs. Tombstone:
    * the sentinel `term = ""` (also written for a re-ingested doc with
    * no tokens, so the doc still supersedes its older rows). */
  val Postings: GenTable = GenTable("text", "data", "doc_id", multiRow = true,
    RangeClustered(Seq("field", "term"), Seq("field", "term", "doc_id"), 256L),
    Seq("field", "term", "doc_id", "tf", "positions"),
    serving = col("term") =!= "",
    tombRow = Map("field" -> lit(""), "term" -> lit(""), "tf" -> lit(0L),
      "positions" -> typedLit(Seq.empty[Int])),
    tombCount = Some("sent"),
    derived = Seq(Norms -> (_.groupBy("doc_id").agg(sum("tf").as("dl")))))

  /** The structure a tree holds, named by its meta — the one place that
    * decides it. A meta with no structure marker is an IVF tree from
    * before the markers; one without `vecs` stores `(vec_id, cell)`. */
  def of(m: GenStore.Meta): GenTable =
    Seq(Postings, Vecs, Banded, Pq).find(_.holds(m)).getOrElse(
      if (m.params.contains("vecs")) Ivf else Ivf.copy(cols = Seq("vec_id", "cell")))
}
