package graft.model

import graft.intervals.Block

/** One sparse-index posting: for `column == value` in base data `file`,
  * the sorted non-overlapping byte ranges (`ranges`) of the file that
  * contain at least one matching row.
  *
  * Ports the MapFile layout `Text(value) -> ListLongPair` per base file
  * per column (reference `retrieval/BlockIndexedFileInputFormat.java:419-431`,
  * `io/ListLongPair.java:29-93`) into one first-class Parquet table —
  * point lookups become Parquet predicate pushdown instead of
  * hash-partitioned MapFile gets. Index keys are strings, as in the
  * reference (`retrieval/Expression.java:213-221` rejects non-String
  * constants); callers stringify other types with a stable format.
  */
final case class IndexEntry(
    file: String,
    column: String,
    value: String,
    ranges: Seq[Block])

/** Which flavor of document a dense (text) index holds — RECORD (one doc
  * per record) or BLOCK (one doc per split/block, "a cheater's
  * block-level index"). Ports the thrift enum `DocType`
  * (`src/main/thrift/.../elephanttwin.thrift:6-9`).
  */
object DocType {
  val Record = "RECORD"
  val Block = "BLOCK"
}

object IndexType {
  /** Sparse value->ranges posting lists stored as Parquet (ours; the
    * reference's MAPFILE). */
  val PostingsParquet = "POSTINGS_PARQUET"
  /** Dense text postings stored as Parquet (the reference's LUCENE). */
  val TextPostings = "TEXT_POSTINGS"
  /** Per-file bloom filters (membership-only skipping; extension — no
    * reference analog, the modern lakehouse data-skipping shape). */
  val BloomParquet = "BLOOM_PARQUET"
}

/** Freshness fingerprint of a base data file at index-build time.
  * Ports the checksum in `FileIndexDescriptor` — the reference verifies
  * it at query time and silently falls back to a full scan on mismatch
  * (`BlockIndexedFileInputFormat.java:338-386`). We fingerprint with
  * (length, modificationTime), which HDFS/parquet immutability makes
  * sufficient; `algorithm` records that choice.
  */
final case class FileChecksum(algorithm: String, hex: String, length: Long)

final case class IndexedField(
    fieldName: String,
    stored: Boolean,
    indexed: Boolean,
    analyzed: Boolean)

/** Sidecar metadata written next to each index, one per indexed base
  * file. Ports thrift `FileIndexDescriptor`
  * (`src/main/thrift/.../elephanttwin.thrift:39-50`); serialized as JSON
  * lines instead of `ThriftWritable` blobs.
  */
final case class FileIndexDescriptor(
    docType: String,
    indexType: String,
    indexVersion: Int,
    sourcePath: String,
    checksum: FileChecksum,
    indexedFields: Seq[IndexedField])

object FileIndexDescriptor {
  /** 2: rows name their file by the id of the meta's file table. A root
    * of another version reads as no index and is rebuilt. */
  val CurrentVersion = 2
}
