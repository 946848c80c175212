package graft.build

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}

/** The ONE small-marker read/write protocol shared by every artifact
  * meta in the engine (the `_INDEX_META` [[Commit]] of every maintained
  * store and of every postings and bloom root, the `_META_<name>` marker
  * of every [[Artifact]], `Layout._GRAFT_LAYOUT`): writes are ATOMIC
  * via temp file + overwrite-rename. An in-place `fs.create` truncates
  * the old marker before the new bytes land, so a crash mid-write
  * destroys the completion marker of a perfectly intact artifact — and
  * the next maintenance pass treats it as partial and rebuilds from
  * scratch (or, for an index meta, from one micro-batch). One helper so
  * the protocol cannot drift between artifact families (the r15 advisor
  * found exactly that drift: `AnnIndex.writeMeta` atomic, its sibling
  * one file over plain-create).
  *
  * Reference analog: the sidecar index-meta convention of
  * `BlockIndexedFileInputFormat.java` — the marker names the complete
  * artifact; readers trust its presence, never directory shape.
  */
object MetaIO {

  /** Atomically replace `path` with `content` (temp + rename-overwrite;
    * rename is atomic on HDFS and local posix filesystems). */
  def write(conf: Configuration, path: Path, content: String): Unit = {
    val fs = path.getFileSystem(conf)
    val tmp = new Path(path.toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, path, Options.Rename.OVERWRITE)
  }

  /** The marker's content, or None when absent (absent IS the partial-
    * artifact signal — a truncated write cannot exist under [[write]]'s
    * rename protocol, so no content validation is needed here; callers
    * still fingerprint-compare). */
  def read(conf: Configuration, path: Path): Option[String] = {
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim)
      finally in.close()
    }
  }
}
