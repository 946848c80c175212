package graft.build

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}

/** THE commit protocol of every persisted index in the engine: the
  * maintained stores ([[GenStore]]) and the postings and bloom roots
  * ([[IndexBuilder]], [[BloomIndex]]). The `_INDEX_META` commit is a
  * root's only source of truth — the reference's index descriptor names
  * the files it covers, and readers trust that marker, never the
  * directory's shape:
  *  - LAYOUT: a root's data files live under a VERSION root `<dir>/v=K/`;
  *  - COMMIT: one atomic [[MetaIO.write]] of `<dir>/_INDEX_META`: a
  *    `key=value;…` control line that leads with `ver=K`, the caller's
  *    own lines, and the FILE LIST — per table a `<name>\t<schema json>`
  *    line, then one `<gen>\t<len>\t<mtime>\t<path>` line per committed
  *    file, its path relative to `<dir>`. Then every entry of `<dir>`
  *    except the meta and the live version is deleted — and the version
  *    before it when the caller keeps one;
  *  - WRITES go where no committed meta points (a new version, or a new
  *    generation or batch directory of the live one) and then commit:
  *    nothing is renamed, and a crash before the commit leaves the last
  *    committed root as it was;
  *  - READS take their files from the meta's list ([[relation]]): no
  *    directory listing, no schema walk. A meta without a version reads
  *    as absent.
  * Hadoop access goes through the session's conf, so a filesystem
  * registered only with `spark.conf.set` serves every root.
  */
private[graft] object Commit {

  /** One committed data file: its generation (a store's generation, an
    * index root's batch), its path relative to the root, its length and
    * its modification time. */
  final case class StoreFile(gen: Long, path: String, len: Long, mtime: Long)

  /** One table's committed state: its data schema (partition columns
    * excluded) and its files. */
  final case class Table(schema: StructType, files: Seq[StoreFile])

  val MetaName = "_INDEX_META"

  def metaPath(dir: String): String = s"$dir/$MetaName"

  /** The name of version root `v` under a root. */
  def version(v: Long): String = s"v=$v"

  def conf(s: SparkSession): Configuration = s.sessionState.newHadoopConf()

  def fsOf(s: SparkSession, dir: String): FileSystem = new Path(dir).getFileSystem(conf(s))

  /** The meta committed at `dir`: its version, its control keys and the
    * lines after the control line. None without a meta, or when the
    * control line has no version (a pre-version tree). */
  def read(s: SparkSession, dir: String): Option[(Long, Map[String, String], Seq[String])] =
    MetaIO.read(conf(s), new Path(metaPath(dir))).flatMap { content =>
      val lines = content.split('\n').toSeq
      val kv = lines.head.split(';').flatMap { f =>
        f.split('=') match { case Array(k, v) => Some(k -> v); case _ => None }
      }.toMap
      kv.get("ver").flatMap(_.toLongOption).map((_, kv, lines.tail))
    }

  /** The file list of `tables` as meta lines. */
  def fileLines(tables: Map[String, Table]): Seq[String] =
    tables.toSeq.sortBy(_._1).flatMap { case (name, t) =>
      s"$name\t${t.schema.json}" +:
        t.files.map(f => s"${f.gen}\t${f.len}\t${f.mtime}\t${f.path}")
    }

  /** Parse the lines [[fileLines]] wrote. */
  def tablesOf(lines: Seq[String]): Map[String, Table] =
    lines.foldLeft(List.empty[(String, Table)]) { (acc, line) =>
      line.split('\t') match {
        case Array(name, json) =>
          (name -> Table(DataType.fromJson(json).asInstanceOf[StructType], Vector.empty)) :: acc
        case Array(g, len, mtime, path) =>
          val (name, t) = acc.head
          (name -> t.copy(files = t.files :+
            StoreFile(g.toLong, path, len.toLong, mtime.toLong))) :: acc.tail
      }
    }.toMap

  /** The COMMIT of version `ver` at `dir`: one ATOMIC meta write
    * ([[MetaIO.write]]: an in-place create would truncate the old
    * marker before the new bytes land) of the control line (`ver` first,
    * then `control`) and `lines`, then the cleanup: every entry of `dir`
    * except the meta and `v=ver` is deleted — and `v=ver-1` when
    * `keepPrevious`, so a read that started on it survives this commit.
    * Hidden entries are the filesystem's own. */
  def write(s: SparkSession, dir: String, ver: Long, control: Seq[String],
      lines: Seq[String], keepPrevious: Boolean): Unit = {
    MetaIO.write(conf(s), new Path(metaPath(dir)),
      ((s"ver=$ver" +: control).mkString(";") +: lines).mkString("\n"))
    val keep = Set(MetaName, version(ver)) ++ Option.when(keepPrevious)(version(ver - 1))
    val fs = fsOf(s, dir)
    for (st <- fs.listStatus(new Path(dir)); n = st.getPath.getName
         if !keep(n) && !n.startsWith("."))
      fs.delete(st.getPath, true)
  }

  /** Start version `ver` at `dir`: clear whatever a crashed write left at
    * its root (never committed, so no reader can hold it). Returns the
    * version root. */
  def startVersion(s: SparkSession, dir: String, ver: Long): String = {
    fsOf(s, dir).delete(new Path(dir, version(ver)), true)
    s"$dir/${version(ver)}"
  }

  private def qualified(s: SparkSession, dir: String): Path =
    fsOf(s, dir).makeQualified(new Path(dir))

  /** `files` under `tableRoot` (both relative to the root `dir`) as one
    * parquet relation with `schema` as its data schema: Spark's file
    * index over `tableRoot`, whose status cache is the given list, so
    * it lists nothing, and partition columns are discovered from the
    * paths as a listed read would. */
  def relation(s: SparkSession, dir: String, tableRoot: String,
      schema: StructType, files: Seq[StoreFile]): DataFrame = {
    val base = qualified(s, dir)
    val rootPath = new Path(base, tableRoot)
    val statuses = files.map(f =>
      new FileStatus(f.len, false, 1, 0L, f.mtime, new Path(base, f.path))).toArray
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        if (p == rootPath) Some(statuses) else None
      def putLeafFiles(p: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(s, Seq(rootPath), Map.empty, Some(schema), cache)
    s.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, schema,
      None, new ParquetFileFormat, Map("path" -> rootPath.toString))(s))
  }

  /** Record the data files Spark just wrote under `out` (relative to the
    * root `dir`) as generation `gen` of table `name` in `tables`
    * (replacing any earlier record of that generation — a replayed write
    * overwrites its own output), and re-read them: the one writer-side
    * listing. The table's schema is the first file's footer when the
    * table has none yet. No relation when the write left no data file
    * (an empty write leaves only `_SUCCESS`). */
  def record(s: SparkSession, dir: String, tables: Map[String, Table], name: String,
      gen: Long, out: String): (Map[String, Table], Option[DataFrame]) = {
    val base = qualified(s, dir).toUri.getPath.stripSuffix("/") + "/"
    val fs = fsOf(s, dir)
    def leaves(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .flatMap(st => if (st.isDirectory) leaves(st.getPath) else Seq(st))
    val written = leaves(new Path(dir, out)).sortBy(_.getPath.toString)
    if (written.isEmpty) (tables, None)
    else {
      val prev = tables.get(name)
      val schema = prev.fold(IndexBuilder.footerSchema(s, conf(s), written.head))(_.schema)
      val files = written.map(st => StoreFile(gen,
        st.getPath.toUri.getPath.stripPrefix(base), st.getLen, st.getModificationTime))
      val kept = prev.fold(Seq.empty[StoreFile])(_.files.filterNot(_.gen == gen))
      (tables + (name -> Table(schema, kept ++ files)), Some(relation(s, dir, out, schema, files)))
    }
  }
}
