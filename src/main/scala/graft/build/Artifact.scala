package graft.build

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The ONE home of every per-corpus artifact: the dedup and semantic
  * pair trees, the maintained ANN histories, the text postings stores,
  * the multi-file demo copies the index queries scan, the small cached
  * models and the scaled probe corpora. The reference trusts a built
  * index only while the source's recorded fingerprint still matches
  * (`FileIndexDescriptor`, `BlockIndexedFileInputFormat.java:338-386`);
  * here that rule, the layout and the crash discipline live once:
  *
  * {{{
  * <base>/<corpusKey>/<name>          the artifact tree
  * <base>/<corpusKey>/_META_<name>    its fingerprint marker
  * }}}
  *
  * An artifact is a function of its corpus's full path and of the
  * fingerprint its caller composes: the source files' [[fingerprint]]
  * plus every epoch and parameter the tree depends on (never the path —
  * a bumped epoch rebuilds in place). Single-writer assumption:
  * [[ensure]] is synchronized within one JVM; two JVMs building the same
  * artifact concurrently would race the wipe. A production deployment
  * writes to a job-scoped staging dir and publishes with an atomic
  * rename, under the same marker-last protocol.
  */
object Artifact {

  /** The root of every persisted artifact (and of the bench history) —
    * `SPARK_GRAFT_ARTIFACT_DIR` relocates all of it (a production
    * deployment points it next to the corpus on the distributed
    * filesystem); the default is `target/` under the working directory,
    * so a run from a copy of the repo writes into that copy. */
  def base: String =
    sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_DIR",
      java.nio.file.Paths.get("target").toAbsolutePath.toString)

  /** Corpus key: readable basename + a hash of the FULL qualified path
    * (its filesystem's `makeQualified`, under the active session's conf),
    * so two corpora that share a directory name (e.g. staging copies)
    * get distinct artifact trees, and one corpus gets one key whatever
    * its spelling (`/x`, `file:///x`) or the directory a job starts in. */
  def corpusKey(sfDir: String): String = {
    val p = new Path(sfDir)
    val qualified = p.getFileSystem(Commit.conf(SparkSession.active)).makeQualified(p).toUri
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(qualified.toString))
    s"${p.getName}_$h"
  }

  /** The directory holding `sfDir`'s artifact trees and their markers. */
  def root(sfDir: String): String = s"$base/${corpusKey(sfDir)}"

  /** length:mtime fingerprint of source paths. Directories fingerprint
    * every FILE in the tree recursively (relative-path:len:mtime, hashed
    * to one token): a directory's own stat is filesystem-dependent
    * (length often 0/4096, mtime moves only on child add/remove) — and
    * for partitioned/nested layouts the direct children are themselves
    * directories with the same problem, so an in-place rewrite of a part
    * file inside a partition subdir must still flip the fingerprint.
    * Metadata-only — one recursive listing per path, never a content
    * read. */
  def fingerprint(s: SparkSession, paths: String*): String =
    paths.map { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(Commit.conf(s))
      val st = fs.getFileStatus(hp)
      val detail =
        if (st.isDirectory) recursiveListingDetail(fs, hp) else ""
      s"${st.getLen}:${st.getModificationTime}:" +
        Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(detail))
    }.mkString(",")

  /** Every FILE in the tree recursively as sorted
    * "relative-path:len:mtime" entries. */
  private def recursiveListingDetail(
      fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val base = p.toUri.getPath
    val it = fs.listFiles(p, true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val c = it.next()
      val rel = c.getPath.toUri.getPath.stripPrefix(base)
      entries += s"$rel:${c.getLen}:${c.getModificationTime}"
    }
    entries.sorted.mkString(",")
  }

  /** Build-or-reuse `sfDir`'s artifact `name`: rebuild iff its marker
    * doesn't carry `fp` or its tree is gone. Wipe-then-build-then-mark,
    * the one crash discipline: the stale tree AND its marker go before
    * the rebuild (a crash mid-build must not leave a fresh-looking marker
    * over a partial tree), `build` writes the tree at the directory it is
    * handed, and the marker lands LAST and atomically ([[MetaIO]]). A
    * bare `fs.exists` probe instead would serve stale rows after an
    * in-place source rewrite, and a crashed build's partial tree
    * forever. Returns the tree's directory. */
  def ensure(s: SparkSession, sfDir: String, name: String, fp: String)(
      build: String => Unit): String = synchronized {
    val conf = Commit.conf(s)
    val dir = new Path(s"${root(sfDir)}/$name")
    val marker = new Path(s"${root(sfDir)}/_META_$name")
    val fs = marker.getFileSystem(conf)
    if (!MetaIO.read(conf, marker).contains(fp) || !fs.exists(dir)) {
      fs.delete(marker, false)
      fs.delete(dir, true)
      build(dir.toString)
      MetaIO.write(conf, marker, fp)
    }
    dir.toString
  }
}
