package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Distributed WARC ARCHIVE SINK — the write side of [[Warc]]: a crawler's
  * fetch stage lands (uri, payload) rows and must persist them in the
  * container format the ecosystem exchanges (ISO 28500, one gzip member
  * per record — the Common Crawl layout [[Warc.read]] consumes). A DSv2
  * batch write: each input partition streams its rows into ONE
  * `.warc(.gz)` file — the same one-file-per-task distribution unit the
  * reader uses, so write parallelism is the frame's partitioning and no
  * driver funnel exists at any corpus size. Task attempts write to a
  * job-scoped temp directory and the files move into place only in the
  * driver-side job commit (speculative/retried attempts are discarded by
  * Spark's commit coordination + our rename-on-commit), so readers never
  * observe a half-written archive.
  *
  * Input schema: `target_uri STRING` + `payload BINARY` (the record
  * block — for response records, HTTP status line + headers + body),
  * optional `warc_date STRING` and `content_type STRING`, plus the
  * derivative-record columns `warc_type STRING` (overrides the record
  * type — `conversion` for WET text extracts, `metadata` for WAT — the
  * default stays `response`) and `refers_to STRING` (emits a
  * `WARC-Refers-To` header linking a derivative to its source
  * response's record id). Records write
  * as `WARC-Type: response` with the same `Content-Length` framing as
  * [[Warc.render]], plus the two headers ISO 28500 makes MANDATORY for
  * every record (r17 advice — their absence made archives rejectable by
  * strict ecosystem validators): a deterministic `WARC-Record-ID`
  * (`urn:uuid` derived by hashing uri + date + payload digest +
  * partition + row — retry-stable, no wall-clock or RNG, and distinct
  * across crawl cycles whenever the capture differs) and a `WARC-Date`
  * (the row's `warc_date`, or
  * the epoch placeholder `1970-01-01T00:00:00Z` when absent/null — a
  * VALID ISO 8601 instant rather than an empty value, and obviously a
  * placeholder). Header values are CR/LF-sanitized — a hostile URI
  * cannot inject header lines or break record framing.
  *
  * Each archive also commits with a CDX(J) companion INDEX —
  * `part-<qid>-NNNNN.cdxj` beside `part-<qid>-NNNNN.warc(.gz)` — the
  * web-archive ecosystem's random-access index: one line per record,
  * `urlkey timestamp {json}`, urlkey the SURT key
  * ([[graft.pipeline.Urls.surtKeyString]]), json carrying url / mime /
  * sha1 digest (base32) / compressed member offset + length / filename.
  * Lines sort by (urlkey, timestamp) within each file (the CDX
  * convention; the in-memory sort buffer is bounded by one archive's
  * record COUNT — index lines are ~200 B — the same per-file bound the
  * one-file-per-task layout already implies). Because the gzip layout is
  * one member per record, `(offset, length)` slice exactly one
  * decodable member out of the archive: [[WarcCdx.readRecordAt]] reads
  * `length` bytes at `offset` and parses one record without touching
  * the rest of the file, and [[WarcCdx.fetch]] does the same
  * distributed.
  *
  * `SaveMode.Overwrite` (via `SupportsTruncate`) removes previous
  * `part-*` archives (and their indexes) in the commit that installs the
  * new ones; `Append` adds files under a fresh query id (names never
  * collide).
  */
object WarcSink {

  /** Write `df` as WARC files under `path`, one file per partition.
    *
    * `dedupPayloads` enables the WARC ecosystem's ARCHIVE-TIME dedup: a
    * payload whose sha1 digest already appeared in the same task's
    * archive stores as a ~300 B `revisit` record (identical-payload-
    * digest profile: `WARC-Refers-To` the first copy's record id +
    * `WARC-Payload-Digest`, zero-length block) instead of a second full
    * copy; [[Warc.resolveRevisits]] reconstructs the full view on read.
    * The dedup unit is the TASK (digest map bounded by one archive's
    * distinct payloads — the same per-file bound as the CDX buffer); for
    * corpus-global storage dedup, co-locate copies first (repartition by
    * a content hash) or run the content-dedup operators upstream.
    * `dedupMinBytes` skips payloads below the threshold (default 256):
    * a revisit record's ~300 header bytes cost MORE than storing a tiny
    * block — the same economics crawler dedup modules apply — and the
    * read-back view is IDENTICAL either way (resolveRevisits output is
    * invariant to the storage decision).
    *
    * `cdxFilenamePrefix` writes the CDX `filename` field as
    * `prefix/part-….warc[.gz]` instead of the bare archive name — the
    * MULTI-DIRECTORY layout hook: a continuous crawl that lands each
    * cycle's archives in its own directory (`root/c1`, `root/c2`, …)
    * indexes cycle N with prefix `cN`, merges the per-cycle indexes into
    * ONE corpus index, and [[WarcCdx.fetch]] over that index with
    * `dir = root` replays across every cycle without moving a file (the
    * Common Crawl convention: index filename fields are paths under the
    * collection root). The prefix must be a safe relative subpath —
    * no leading `/`, no scheme, no `.`/`..` segments.
    */
  def write(
      df: DataFrame,
      path: String,
      gzipMembers: Boolean = true,
      overwrite: Boolean = true,
      dedupPayloads: Boolean = false,
      dedupMinBytes: Int = 256,
      cdxFilenamePrefix: String = ""): Unit = {
    require(validCdxPrefix(cdxFilenamePrefix),
      s"WarcSink cdxFilenamePrefix must be a relative subpath (no leading '/', " +
        s"no scheme, no '.'/'..' segments), got '$cdxFilenamePrefix'")
    df.write.format(classOf[WarcSinkSource].getName)
      .option("gzip", gzipMembers.toString)
      .option("dedup", dedupPayloads.toString)
      .option("dedupMin", dedupMinBytes.toString)
      .option("cdxPrefix", cdxFilenamePrefix)
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .save(path)
  }

  /** The traversal-safety gate [[write]] and the DSv2 option path share:
    * a prefix lands VERBATIM inside the index's `filename` JSON field,
    * which [[WarcCdx.fetch]] resolves against its root — so it must not
    * be able to climb out of it, smuggle a scheme in, or carry JSON/CDX
    * metacharacters (quote, backslash, space) that would corrupt the
    * line it embeds in. Each `/`-separated segment is limited to the
    * conservative `[A-Za-z0-9][A-Za-z0-9._-]*` set the sink's own part
    * names use — which also excludes `.`/`..` segments by construction.
    */
  private[sources] def validCdxPrefix(p: String): Boolean =
    p.isEmpty ||
      p.split("/", -1).forall(_.matches("[A-Za-z0-9][A-Za-z0-9._-]*"))

  /** Resolved column positions; -1 for an absent optional column. The
    * `revisitOf*` trio is the CROSS-ARCHIVE dedup input ([[markRevisits]]
    * fills it from a prior crawl's CDX): a row with a non-null
    * `revisit_of_id` writes as a revisit record referencing THAT
    * external record instead of storing its payload.
    *
    * `wtype`/`refersTo` are the DERIVATIVE-RECORD inputs ([[Warc.toWet]]
    * / [[Warc.toWat]] fill them): an optional `warc_type` column
    * overrides the record's `WARC-Type` (default `response` — WET
    * `conversion` and WAT `metadata` records are the ecosystem's other
    * stored types), and an optional `refers_to` column emits a
    * `WARC-Refers-To` header linking the derivative back to the source
    * response's record id (ISO 28500's cross-record link — the same
    * header the revisit branch writes for dedup referents).
    */
  private[sources] final case class Cols(
      uri: Int, payload: Int, date: Int, ctype: Int,
      revisitOfId: Int, revisitOfUri: Int, revisitOfDate: Int,
      wtype: Int, refersTo: Int)

  private[sources] def validate(schema: StructType): Cols = {
    def idxOf(name: String, tpe: org.apache.spark.sql.types.DataType): Int = {
      val i = schema.fieldNames.indexOf(name)
      require(i < 0 || schema(i).dataType == tpe,
        s"WarcSink column '$name' must be $tpe, got ${schema(i).dataType}")
      i
    }
    val uri = idxOf("target_uri", StringType)
    val payload = idxOf("payload", BinaryType)
    require(uri >= 0 && payload >= 0,
      s"WarcSink needs 'target_uri' STRING and 'payload' BINARY columns, " +
        s"got [${schema.fieldNames.mkString(", ")}]")
    Cols(uri, payload, idxOf("warc_date", StringType), idxOf("content_type", StringType),
      idxOf("revisit_of_id", StringType), idxOf("revisit_of_uri", StringType),
      idxOf("revisit_of_date", StringType),
      idxOf("warc_type", StringType), idxOf("refers_to", StringType))
  }

  /** CROSS-ARCHIVE dedup marker — the persistent-dedup-database pattern
    * continuous crawls use: join the batch's payload digests against a
    * PRIOR crawl's CDX index (`historyCdx`, the [[WarcCdx.read]] /
    * [[WarcCdx.readCompacted]] schema) and fill the `revisit_of_id /
    * revisit_of_uri / revisit_of_date` columns for every payload already
    * archived somewhere. [[write]] turns marked rows into revisit
    * records referencing the EXTERNAL first copy (no payload stored),
    * and [[Warc.resolveRevisits]] over both crawls' records
    * reconstructs everything — the referent join crosses archives by
    * record id, which is why the index carries `rid`.
    *
    * Distribution: one join of the batch against index ROWS (~200 B per
    * historical record — the index, never the archives); only STORED
    * copies are eligible referents (revisit index rows are filtered
    * out: a revisit cannot be dereferenced for bytes), one referent per
    * digest. Compose with `dedupPayloads = true` to also dedup within
    * the batch itself.
    */
  def markRevisits(df: DataFrame, historyCdx: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val reserved =
      Set("revisit_of_id", "revisit_of_uri", "revisit_of_date", "__digest", "__h_digest")
    require(!df.columns.exists(reserved),
      "input columns collide with markRevisits' output/scratch names: " +
        df.columns.filter(reserved).mkString(", "))
    // native codegen digest — the batch side is a corpus-wide map pass,
    // so no scala-UDF boxing on it (null payloads digest as empty, the
    // writer's own convention)
    def digestOf(c: org.apache.spark.sql.Column) =
      graft.functions.TextFunctions.sha1Base32Digest(
        coalesce(c, lit(Array.empty[Byte])))
    // CDX timestamp (14 digits) back to the ISO instant the revisit
    // record's WARC-Refers-To-Date header wants
    val ts = col("timestamp")
    val isoDate = concat(
      substring(ts, 1, 4), lit("-"), substring(ts, 5, 2), lit("-"),
      substring(ts, 7, 2), lit("T"), substring(ts, 9, 2), lit(":"),
      substring(ts, 11, 2), lit(":"), substring(ts, 13, 2), lit("Z"))
    // one referent per digest, chosen DETERMINISTICALLY (min (rid, url,
    // date) struct): a task retry or replay must cite the same referent,
    // the repo-wide retry-stability rule — dropDuplicates would pick
    // whichever copy a partition ordering happened to surface
    val referents = historyCdx
      .filter(col("mime") =!= "warc/revisit" && col("rid").isNotNull)
      .select(col("digest").as("__h_digest"),
        struct(col("rid"), col("url"), isoDate.as("d")).as("__ref"))
      .groupBy(col("__h_digest"))
      .agg(min(col("__ref")).as("__ref"))
      .select(col("__h_digest"), col("__ref.rid").as("revisit_of_id"),
        col("__ref.url").as("revisit_of_uri"), col("__ref.d").as("revisit_of_date"))
    df.withColumn("__digest", digestOf(col("payload")))
      .join(referents, col("__digest") === col("__h_digest"), "left")
      .drop("__digest", "__h_digest")
  }

  /** Header values are single-line by format: CR/LF (header injection /
    * framing break) are replaced with spaces, and so is NUL — it is a
    * control byte no header value legitimately carries, and keeping it
    * out makes [[recordId]]'s NUL-joined hash input UNAMBIGUOUS (a
    * hostile URI embedding NUL could otherwise shift components and
    * collide two distinct captures onto one id — r19 review catch).
    */
  private[sources] def sanitize(v: String): String =
    if (v.indexOf('\r') < 0 && v.indexOf('\n') < 0 && v.indexOf('\u0000') < 0) v
    else v.replace('\r', ' ').replace('\n', ' ').replace('\u0000', ' ')

  /** Deterministic `urn:uuid` record id: the md5 of
    * `uri NUL date NUL digest NUL partition NUL row` (joined with the
    * escaped separator "\u0000" — a code point no sanitized header value
    * contains, so the join is unambiguous) formatted as a (fixed-width
    * 36-char) UUID.
    * Pure function of content + position — identical across task retries
    * and replays, never wall-clock or RNG (the repo-wide retry-stability
    * rule). Uniqueness has TWO layers: (partition, row) separates records
    * within one write, and (date, payload digest) separates CAPTURES
    * across writes — two crawl cycles that fetch the same URI into the
    * same (partition, row) slot (likely under the deterministic SURT
    * schedule) still mint distinct ids whenever the capture time or the
    * content differs, which is what ISO 28500's global-uniqueness rule
    * (and [[Warc.resolveRevisits]]'s referent join by id) needs. Only a
    * byte-identical payload fetched at the identical date into the
    * identical slot repeats an id — i.e. an indistinguishable capture.
    */
  private[graft] def recordId(
      uri: String, date: String, digest: String, partitionId: Int, row: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest((uri + "\u0000" + date + "\u0000" + digest + "\u0000" + partitionId + "\u0000" + row)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bb = java.nio.ByteBuffer.wrap(md)
    new java.util.UUID(bb.getLong, bb.getLong).toString
  }

  /** SHA-1 of the payload in RFC 4648 base32 — the digest form the CDX /
    * WARC ecosystem exchanges (`sha1:` + 32 chars for 160 bits). Public:
    * readers recompute it to verify a fetched record against its index row.
    */
  def sha1Base32(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new java.lang.StringBuilder(32)
    var buf = 0L
    var bits = 0
    var i = 0
    while (i < d.length) {
      buf = (buf << 8) | (d(i) & 0xffL)
      bits += 8
      while (bits >= 5) {
        bits -= 5
        sb.append(alphabet(((buf >> bits) & 31).toInt))
      }
      i += 1
    }
    sb.toString // 160 bits = exactly 32 chars, no padding
  }

  /** The CDX 14-digit timestamp of a WARC-Date: its digits, truncated to
    * 14 (`2026-01-01T00:00:00Z` → `20260101000000`), zero-padded when a
    * malformed date yields fewer — always exactly 14 digits so the line's
    * `urlkey timestamp json` split stays parseable.
    */
  private[sources] def cdxTimestamp(date: String): String = {
    val digits = date.filter(_.isDigit)
    (if (digits.length >= 14) digits.substring(0, 14)
     else digits + "0" * (14 - digits.length))
  }

  /** Minimal JSON string escape for CDXJ values (quote, backslash,
    * control chars).
    */
  private[sources] def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.toString
  }
}

class WarcSinkSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType().add("target_uri", StringType).add("payload", BinaryType)
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WarcSinkTable(schema, properties.get("path"),
      !"false".equalsIgnoreCase(properties.getOrDefault("gzip", "true")),
      if ("true".equalsIgnoreCase(properties.getOrDefault("dedup", "false")))
        math.max(0, properties.getOrDefault("dedupMin", "256").toInt)
      else -1,
      properties.getOrDefault("cdxPrefix", ""))
}

class WarcSinkTable(
    writeSchema: StructType, path: String, gzip: Boolean, dedupMin: Int,
    cdxPrefix: String = "")
    extends Table with SupportsWrite {
  require(path != null && path.nonEmpty, "WarcSink needs a path")
  require(WarcSink.validCdxPrefix(cdxPrefix),
    s"WarcSink cdxPrefix must be a relative subpath, got '$cdxPrefix'")
  override def name(): String = s"warc-sink($path)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    WarcSink.validate(info.schema())
    new WarcWriteBuilder(info.schema(), path, gzip, dedupMin, cdxPrefix,
      info.queryId())
  }
}

class WarcWriteBuilder(
    schema: StructType, path: String, gzip: Boolean, dedupMin: Int,
    cdxPrefix: String, queryId: String)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = {
    // hadoop conf props captured on the driver (Configuration itself is
    // not serializable); executors rebuild from the list
    val props = WarcCdx.hadoopProps(org.apache.spark.sql.SparkSession.active)
    val doTruncate = truncateFirst
    new Write {
      override def toBatch: BatchWrite =
        new WarcBatchWrite(schema, path, gzip, dedupMin, cdxPrefix, queryId,
          doTruncate, props)
    }
  }
}

case class WarcCommit(partitionId: Int, tempPath: String, cdxTempPath: String = "")
    extends WriterCommitMessage

class WarcBatchWrite(
    schema: StructType, path: String, gzip: Boolean, dedupMin: Int,
    cdxPrefix: String, queryId: String, truncateFirst: Boolean,
    hadoopProps: Array[(String, String)]) extends BatchWrite {

  private def conf: Configuration = {
    val c = new Configuration(false)
    hadoopProps.foreach { case (k, v) => c.set(k, v) }
    c
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    WarcWriterFactory(schema, path, gzip, dedupMin, cdxPrefix, queryId,
      hadoopProps)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, conf)
    fs.mkdirs(dir)
    def renameOrThrow(src: Path, dest: Path): Unit =
      // Hadoop rename reports many failures by RETURNING false — a
      // dropped file must fail the job, not silently truncate the archive
      if (!fs.rename(src, dest))
        throw new java.io.IOException(s"WarcSink commit: rename $src -> $dest failed")
    // Overwrite moves the previous archive ASIDE first (underscore dir —
    // hidden from readers), never delete-then-install: a failure at any
    // point leaves either the old archive recoverable in the aside dir or
    // the new one fully installed, and a concurrent reader never sees an
    // old/new mix
    val aside = new Path(dir, s"_graft_warc_old_$queryId")
    if (truncateFirst) {
      val old = fs.globStatus(new Path(dir, "part-*"))
      if (old != null && old.nonEmpty) {
        fs.mkdirs(aside)
        old.foreach(st => renameOrThrow(st.getPath, new Path(aside, st.getPath.getName)))
      }
    }
    val ext = if (gzip) ".warc.gz" else ".warc"
    // empty partitions commit no file (lazy creation) — nothing to move;
    // an archive and its CDX index move in the SAME commit, so readers
    // never see one without the other
    messages.collect { case m: WarcCommit if m.tempPath.nonEmpty => m }.foreach { m =>
      renameOrThrow(new Path(m.tempPath), new Path(dir, f"part-$queryId-${m.partitionId}%05d$ext"))
      if (m.cdxTempPath.nonEmpty)
        renameOrThrow(new Path(m.cdxTempPath),
          new Path(dir, f"part-$queryId-${m.partitionId}%05d.cdxj"))
    }
    fs.delete(aside, true)
    fs.delete(WarcWriterFactory.tempDir(path, queryId), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // Spark calls this when commit() throws mid-way: roll back precisely —
    // new files carry this query's id in their names, so any partial
    // install deletes cleanly, and an overwrite's moved-aside old archive
    // restores to where readers expect it (no stranded hidden copy, no
    // committed-looking partial archive)
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, conf)
    val mine = fs.globStatus(new Path(dir, s"part-$queryId-*"))
    if (mine != null) mine.foreach(st => fs.delete(st.getPath, false))
    val aside = new Path(dir, s"_graft_warc_old_$queryId")
    if (fs.exists(aside)) {
      val old = fs.globStatus(new Path(aside, "*"))
      if (old != null)
        old.foreach(st => fs.rename(st.getPath, new Path(dir, st.getPath.getName)))
      fs.delete(aside, true)
    }
    fs.delete(WarcWriterFactory.tempDir(path, queryId), true)
  }
}

object WarcWriterFactory {
  private[sources] def tempDir(path: String, queryId: String): Path =
    new Path(path, s"_graft_warc_tmp_$queryId")
}

case class WarcWriterFactory(
    schema: StructType, path: String, gzip: Boolean, dedupMin: Int,
    cdxPrefix: String, queryId: String,
    hadoopProps: Array[(String, String)]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new WarcDataWriter(schema, path, gzip, dedupMin, cdxPrefix, queryId,
      partitionId, taskId, hadoopProps)
}

object WarcDataWriter {
  /** Close-shield: lets a per-record GZIPOutputStream be close()d — which
    * ends its native Deflater — without closing the underlying archive
    * stream. Bulk writes delegate (FilterOutputStream's default is
    * byte-at-a-time).
    */
  private[sources] final class NoClose(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
    override def close(): Unit = flush()
  }
}

/** One task's writer: streams records into one temp WARC file (created
  * lazily — an empty partition contributes no file), each record its own
  * gzip member when `gzip`; buffers one ~200 B CDXJ index
  * line per record (bounded by the file's record count) and commits the
  * (urlkey, timestamp)-sorted index beside the archive.
  */
class WarcDataWriter(
    schema: StructType, path: String, gzip: Boolean, dedupMin: Int,
    cdxPrefix: String, queryId: String, partitionId: Int, taskId: Long,
    hadoopProps: Array[(String, String)])
    extends DataWriter[InternalRow] {

  private val cols = WarcSink.validate(schema)
  private val uriIdx = cols.uri
  private val payloadIdx = cols.payload
  private val dateIdx = cols.date
  private val ctypeIdx = cols.ctype
  private var out: org.apache.hadoop.fs.FSDataOutputStream = _
  private var tempPath: Path = _
  // exact archive byte position, counted on OUR side of the FS stream
  // (getPos semantics vary by FS wrapper; a counter over the bytes we
  // push is unambiguous): offset = counter before a record, length =
  // growth after it — with one gzip member per record, exactly the
  // member's compressed extent
  private var pos: Long = 0L
  private var rowIdx: Long = 0L
  private val cdxLines = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]

  private final class Counting(o: java.io.OutputStream) extends java.io.FilterOutputStream(o) {
    override def write(b: Int): Unit = { o.write(b); pos += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      o.write(b, off, len); pos += len
    }
    override def close(): Unit = o.close()
  }
  private var counted: java.io.OutputStream = _

  private def ensureOpen(): Unit = if (out == null) {
    val c = new Configuration(false)
    hadoopProps.foreach { case (k, v) => c.set(k, v) }
    tempPath = new Path(WarcWriterFactory.tempDir(path, queryId), s"t-$partitionId-$taskId")
    val fs = FileSystem.get(tempPath.toUri, c)
    out = fs.create(tempPath, true)
    counted = new Counting(out)
  }

  // archive-time dedup state: digest → (record id, uri, date) of the
  // FIRST copy in this task's archive — one small entry per distinct
  // payload of one file, the same per-file bound as the CDX buffer
  private def dedup: Boolean = dedupMin >= 0
  private val seenDigests =
    if (dedupMin >= 0) scala.collection.mutable.Map.empty[String, (String, String, String)]
    else null

  override def write(row: InternalRow): Unit = {
    ensureOpen()
    def str(i: Int, default: String): String =
      if (i < 0 || row.isNullAt(i)) default else WarcSink.sanitize(row.getUTF8String(i).toString)
    val payload = if (row.isNullAt(payloadIdx)) Array.empty[Byte] else row.getBinary(payloadIdx)
    val uri = str(uriIdx, "")
    val date = str(dateIdx, "1970-01-01T00:00:00Z")
    val ctype = str(ctypeIdx, "application/http; msgtype=response")
    val digest = "sha1:" + WarcSink.sha1Base32(payload)
    val rid = s"urn:uuid:${WarcSink.recordId(uri, date, digest, partitionId, rowIdx)}"
    // below the threshold, a ~300 B revisit record would cost MORE than
    // storing the block — store, and do not register tiny digests either
    val dedupThis = dedup && payload.length >= dedupMin
    // an EXTERNAL referent (markRevisits against a prior crawl's CDX)
    // wins over the task-local digest map: the caller already knows
    // where the first copy lives — possibly in another archive entirely
    val extRef =
      if (cols.revisitOfId >= 0 && !row.isNullAt(cols.revisitOfId))
        Some((str(cols.revisitOfId, ""), str(cols.revisitOfUri, ""),
          str(cols.revisitOfDate, "1970-01-01T00:00:00Z")))
      else None
    val referent = extRef.orElse(if (dedupThis) seenDigests.get(digest) else None)
    val header = referent match {
      case Some((refId0, refUri, refDate)) =>
        // identical-payload-digest revisit: the dedup record the web-
        // archive ecosystem exchanges — zero-length block, the referent
        // linked by record id (Content-Type omitted: nothing in the block)
        val refId = refId0.stripPrefix("<").stripSuffix(">")
        s"WARC/1.0\r\nWARC-Type: revisit\r\nWARC-Target-URI: $uri\r\n" +
          s"WARC-Record-ID: <$rid>\r\n" +
          s"WARC-Date: $date\r\n" +
          s"WARC-Payload-Digest: $digest\r\n" +
          "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest\r\n" +
          s"WARC-Refers-To: <$refId>\r\n" +
          s"WARC-Refers-To-Target-URI: $refUri\r\n" +
          s"WARC-Refers-To-Date: $refDate\r\n" +
          "Content-Length: 0\r\n\r\n"
      case None =>
        if (dedupThis) seenDigests(digest) = (rid, uri, date)
        // derivative records (WET `conversion` / WAT `metadata`) override
        // the type and link their source response via WARC-Refers-To;
        // with neither column present this renders byte-identically to
        // the pre-derivative layout (the CDX byte-arithmetic oracle
        // depends on that stability)
        val wtype = str(cols.wtype, "response")
        val refers =
          if (cols.refersTo < 0 || row.isNullAt(cols.refersTo)) ""
          else {
            val r = str(cols.refersTo, "").stripPrefix("<").stripSuffix(">")
            if (r.isEmpty) "" else s"WARC-Refers-To: <$r>\r\n"
          }
        s"WARC/1.0\r\nWARC-Type: $wtype\r\nWARC-Target-URI: $uri\r\n" +
          s"WARC-Record-ID: <$rid>\r\n" +
          s"WARC-Date: $date\r\n" +
          s"WARC-Payload-Digest: $digest\r\n" +
          refers +
          s"Content-Type: $ctype\r\n" +
          s"Content-Length: ${payload.length}\r\n\r\n"
    }
    val isRevisit = referent.isDefined
    val rec = new java.io.ByteArrayOutputStream(
      header.length + (if (isRevisit) 0 else payload.length) + 4)
    rec.write(header.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    if (!isRevisit) rec.write(payload)
    rec.write("\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val offset = pos
    if (gzip) {
      // one gzip member per record (the Common Crawl layout Warc.read
      // sniffs and streams through), written through a close-shield so
      // gz.close() can END the member's native Deflater without closing
      // the archive file — finish() alone would leak one off-heap zlib
      // context per record until GC notices
      val gz = new java.util.zip.GZIPOutputStream(new WarcDataWriter.NoClose(counted))
      gz.write(rec.toByteArray)
      gz.close()
    } else counted.write(rec.toByteArray)
    // CDX urlkey encodes spaces (the line format is space-delimited);
    // filename is this partition's final committed name, known here
    // because names are (queryId, partitionId)-deterministic. A revisit
    // row indexes with mime `warc/revisit` (the pywb convention) and
    // the PAYLOAD's digest, so index-level copy analysis sees through
    // the dedup.
    val ext = if (gzip) ".warc.gz" else ".warc"
    val urlkey = graft.pipeline.Urls.surtKeyString(uri).replace(" ", "%20")
    val ts = WarcSink.cdxTimestamp(date)
    val json = "{\"url\":\"" + WarcSink.jsonEscape(uri) + "\"," +
      "\"mime\":\"" + (if (isRevisit) "warc/revisit" else WarcSink.jsonEscape(ctype)) + "\"," +
      "\"digest\":\"" + digest + "\",\"rid\":\"" + rid + "\"," +
      "\"offset\":\"" + offset + "\",\"length\":\"" + (pos - offset) + "\"," +
      "\"filename\":\"" +
      (if (cdxPrefix.isEmpty) "" else cdxPrefix + "/") +
      f"part-$queryId-$partitionId%05d$ext" + "\"}"
    cdxLines += ((urlkey, ts, json))
    rowIdx += 1
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    val cdxTemp =
      if (cdxLines.nonEmpty) {
        val c = new Configuration(false)
        hadoopProps.foreach { case (k, v) => c.set(k, v) }
        val p = new Path(WarcWriterFactory.tempDir(path, queryId), s"c-$partitionId-$taskId")
        val fs = FileSystem.get(p.toUri, c)
        val w = fs.create(p, true)
        try cdxLines.sortBy(l => (l._1, l._2)).foreach { case (k, t, j) =>
          w.write(s"$k $t $j\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        finally w.close()
        p.toString
      } else ""
    WarcCommit(partitionId, if (tempPath == null) "" else tempPath.toString, cdxTemp)
  }

  override def abort(): Unit = if (out != null) {
    out.close()
    val c = new Configuration(false)
    hadoopProps.foreach { case (k, v) => c.set(k, v) }
    FileSystem.get(tempPath.toUri, c).delete(tempPath, false)
  }

  override def close(): Unit = ()
}
