package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** CDX(J) archive-index reader + random-access record fetch — the read
  * side of [[WarcSink]]'s companion index. The web-archive ecosystem
  * pairs every WARC with a SURT-ordered index (one line per record:
  * `urlkey timestamp {json}` with the record's compressed offset/length)
  * so a single page can be replayed WITHOUT scanning the archive —
  * Common Crawl's URL index is exactly this layout at the 100 TB scale.
  * Because the sink writes one gzip member per record, `(offset,
  * length)` slice one self-contained decodable member: a point read
  * touches `length` bytes of one file, never the archive.
  *
  * Scale shape: the index is ~200 B/record — 1/1000th of a typical
  * archive — so index scans are cheap by construction; [[fetch]]
  * partitions lookups by filename and sorts by offset inside each task,
  * so each archive opens once per task and reads advance monotonically
  * (sequential-friendly on object stores and disks alike). No driver
  * funnel: [[readRecordAt]] is the single-record (driver or executor)
  * primitive, [[fetch]] the distributed plan over any number of hits.
  */
object WarcCdx {

  /** Read every CDXJ index line under `dir` (`*.cdxj`, the
    * [[WarcSink]] naming) as typed columns: urlkey, timestamp, url,
    * mime, digest, offset, length, filename.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    parseLines(spark.read.text(s"$dir/*.cdxj"))

  /** The `urlkey ts {json}` line parse [[read]], [[readCompacted]] and
    * [[lookupPrefix]] share. A malformed line parses to an empty urlkey
    * and/or null fields (filterable), never an error — a damaged file
    * must not fail a 100k-file index scan.
    *
    * Mechanics: ONE bounded split on the two delimiting spaces + cheap
    * shape checks, instead of running an anchored regex three times per
    * line (Catalyst does not CSE regexp_extract calls that differ only
    * in group index — on a corpus-wide index scan that tripled the
    * dominant per-line cost).
    */
  private def parseLines(lines: DataFrame): DataFrame = {
    val jsonSchema = "url STRING, mime STRING, digest STRING, rid STRING, " +
      "offset STRING, length STRING, filename STRING"
    val p = split(col("value"), " ", 3)
    // the EXACT acceptance the old ^(\S+) (\d{14}) (\{.*)$ regex
    // enforced: non-empty whitespace-free key (split only separates on
    // the space character, so tab / vertical-tab / form-feed inside the first token must
    // be rejected explicitly to keep \S+ parity — a tab-keyed line is
    // malformed per the CDXJ convention and must stay dropped),
    // exactly-14-digit timestamp, json object (CdxParseSpec pins
    // row-for-row equivalence against the regex reference)
    val k = p.getItem(0)
    val ok = size(p) === 3 && k =!= "" &&
      !k.contains("\t") && !k.contains("\u000B") && !k.contains("\f") &&
      p.getItem(1).rlike("^\\d{14}$") && p.getItem(2).startsWith("{")
    lines
      .select(
        when(ok, p.getItem(0)).otherwise("").as("urlkey"),
        when(ok, p.getItem(1)).otherwise("").as("timestamp"),
        from_json(
          when(ok, p.getItem(2)),
          jsonSchema, java.util.Collections.emptyMap[String, String]()).as("j"))
      .select(col("urlkey"), col("timestamp"),
        col("j.url").as("url"), col("j.mime").as("mime"),
        col("j.digest").as("digest"),
        // the record's own WARC-Record-ID — what a cross-archive revisit
        // referent must cite ([[WarcSink.markRevisits]])
        col("j.rid").as("rid"),
        // try_cast, NOT cast: under ANSI mode a damaged line carrying a
        // non-numeric offset/length would otherwise THROW and fail the
        // whole index scan — the tolerance contract says null-and-filter
        // (CdxParseSpec drives exactly this line shape)
        expr("try_cast(j.offset AS BIGINT)").as("offset"),
        expr("try_cast(j.length AS BIGINT)").as("length"),
        col("j.filename").as("filename"))
  }

  /** COMPACT many per-archive `.cdxj` files into one GLOBALLY SURT-ORDERED
    * index under `outDir` — the zipnum/cluster layout Common Crawl serves
    * its petabyte URL index from: `nParts` range-partitioned,
    * internally-sorted line files, plus ONE small `cluster.idx` secondary
    * index (`firstKey TAB filename` per part, in range order) that
    * [[lookupPrefix]] prunes reads with.
    *
    * Cost shape: one range shuffle over index LINES (~1/1000 of the
    * archive bytes — compacting the index of a 100 TB crawl shuffles
    * ~100 GB), lexicographic line order ≡ (urlkey, timestamp) order
    * because the key is the line's prefix. The secondary index is bounded
    * by `nParts` (driver reads ONE line per part file), never by record
    * count.
    */
  def compact(spark: SparkSession, dir: String, outDir: String, nParts: Int = 16): Unit = {
    require(nParts >= 1, s"nParts must be >= 1, got $nParts")
    val conf = spark.sessionState.newHadoopConf()
    val out = new org.apache.hadoop.fs.Path(outDir)
    val fs = out.getFileSystem(conf)
    // overwrite-mode output DELETES outDir recursively before the (lazy)
    // read job runs — compacting into the input dir OR any ANCESTOR of
    // it would destroy the input mid-read (the r19 review catch: equality
    // alone missed the ancestor case). Compare fully-qualified paths.
    val qOut = fs.makeQualified(out).toString
    val qIn = fs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString
    require(qOut != qIn && !qIn.startsWith(qOut + "/"),
      s"WarcCdx.compact: outDir ($outDir) must not be the input dir or an ancestor " +
        s"of it ($dir) — overwrite-mode output deletes outDir recursively before " +
        "reading the input")
    // recompacting an EXISTING layout is a (destructive) write like merge
    // and vacuum — take the same writer lock so a compact racing an
    // in-flight merge fails fast instead of deleting its files; a fresh
    // outDir has no layout (and no lock) to protect. The overwrite write
    // deletes the lock file along with the dir, so the lock is
    // RE-ASSERTED (same holder token, create-exclusive) immediately after
    // the write: without that, the rest of the compact ran unlocked — a
    // merge acquiring a fresh lock in the window interleaved with the
    // in-flight renames, and compact's finally-delete then removed the
    // merge's live lock, re-admitting a third writer (ADVICE r20). The
    // token-checked delete in [[withWriterLock]] closes the second half.
    def doCompact(relockToken: Option[String]): Unit = {
    spark.read.text(s"$dir/*.cdxj")
      .repartitionByRange(nParts, col("value"))
      .sortWithinPartitions(col("value"))
      .write.mode("overwrite").text(outDir)
    relockToken.foreach { token =>
      try writeLockFile(fs, lockPath(out), token)
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"WarcCdx.compact: another writer acquired ${lockPath(out)} while the " +
            "overwrite write had the directory (and lock) deleted — the layout " +
            "may be interleaved; re-run compact once the other writer finishes", e)
      }
    }
    // canonicalize to GAP-NUMBERED part names (part-%012d, numbers
    // NameGap apart): [[mergeCompact]]'s split policy inserts new parts
    // BETWEEN existing ones by picking an unused number in the gap — a
    // B-tree-style naming that keeps (name order ≡ range order) while
    // untouched files keep their names across any number of merge
    // cycles. Renames only — no data moves.
    val sparkParts = fs.globStatus(new org.apache.hadoop.fs.Path(out, "part-*"))
      .sortBy(_.getPath.getName)
    var n = 0L
    sparkParts.foreach { st =>
      if (st.getLen == 0) fs.delete(st.getPath, false) // empty range slice
      else {
        val dest = new org.apache.hadoop.fs.Path(out, partName(n))
        if (!fs.rename(st.getPath, dest))
          throw new java.io.IOException(s"WarcCdx.compact: rename to $dest failed")
        n += NameGap
      }
    }
    writeClusterIdx(fs, out)
    }
    if (fs.exists(out))
      withWriterLockToken(fs, out, "compact")(token => doCompact(Some(token)))
    else doCompact(None)
  }

  /** Gap between canonical part numbers — the headroom [[mergeCompact]]
    * subdivides when a split inserts parts. 2^20 gap ÷ a-few-chunks-per-
    * split sustains ~20 split generations inside one gap before a (cheap,
    * rename-only) renumber is forced.
    */
  private[graft] val NameGap: Long = 1L << 20

  private[graft] def partName(n: Long): String = f"part-$n%012d"

  /** The canonical part number, or None for a foreign/legacy name. */
  private[graft] def partNum(name: String): Option[Long] =
    if (name.length == 17 && name.startsWith("part-") &&
      name.substring(5).forall(_.isDigit)) Some(name.substring(5).toLong)
    else None

  /** Rename every live part to the canonical gap numbering (two-phase —
    * via temp names — so an old name colliding with a new one is safe).
    * Content never moves; only names change. Returns old→new name map.
    */
  private def renumber(
      fs: org.apache.hadoop.fs.FileSystem,
      out: org.apache.hadoop.fs.Path): Map[String, String] = {
    def rn(src: org.apache.hadoop.fs.Path, dest: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(src, dest))
        throw new java.io.IOException(s"WarcCdx.renumber: rename $src -> $dest failed")
    val parts = fs.globStatus(new org.apache.hadoop.fs.Path(out, "part-*"))
      .map(_.getPath.getName).sorted
    val mapping = parts.zipWithIndex
      .map { case (old, i) => old -> partName(i * NameGap) }.toMap
    parts.foreach(p =>
      rn(new org.apache.hadoop.fs.Path(out, p),
        new org.apache.hadoop.fs.Path(out, s"_rn_$p")))
    parts.foreach(p =>
      rn(new org.apache.hadoop.fs.Path(out, s"_rn_$p"),
        new org.apache.hadoop.fs.Path(out, mapping(p))))
    mapping
  }

  /** The manifest file holding generation `v`: generation 0 is the legacy
    * un-versioned `cluster.idx` (layouts written before versioning read
    * as generation 0); every generation since publishes as
    * `cluster.idx.v{N}` under a FRESH name.
    */
  private[graft] def manifestName(v: Long): String =
    if (v == 0L) "cluster.idx" else s"cluster.idx.v$v"

  /** The generation a manifest filename carries; None for a foreign name.
    * The digit run is capped at 18 (below Long.MaxValue's 19 digits) so a
    * foreign file squatting on the pattern with an overflowing number is
    * IGNORED like any other foreign name instead of crashing every
    * reader's resolution with a NumberFormatException.
    */
  private[graft] def manifestVersionOf(name: String): Option[Long] =
    if (name == "cluster.idx") Some(0L)
    else if (name.startsWith("cluster.idx.v") && name.length > 13 &&
      name.length <= 13 + 18 &&
      name.substring(13).forall(_.isDigit)) {
      // round-trip canonicality (r21, ADVICE r20): accept only names that
      // manifestName would itself produce — rejects 'cluster.idx.v0'
      // (aliasing the legacy generation-0 'cluster.idx') and leading-zero
      // forms like 'cluster.idx.v01' (duplicating v1), either of which
      // would skew vacuum's takeRight(retain) and reader resolution with
      // versions whose canonical file may not exist
      val v = name.substring(13).toLong
      if (manifestName(v) == name) Some(v) else None
    }
    else None

  private def manifestVersions(
      fs: org.apache.hadoop.fs.FileSystem, out: org.apache.hadoop.fs.Path): Seq[Long] = {
    val st = fs.globStatus(new org.apache.hadoop.fs.Path(out, "cluster.idx*"))
    (if (st == null) Array.empty[org.apache.hadoop.fs.FileStatus] else st)
      .flatMap(s => manifestVersionOf(s.getPath.getName)).toSeq.sorted
  }

  /** Every manifest generation currently published under `outDir`, oldest
    * first — the NAMED snapshots a reader can pin via the versioned
    * `readCompacted(spark, outDir, version)` / `clusterEntries` forms.
    * A generation survives (and its listed files with it) until a
    * [[vacuum]] whose `retain` drops it.
    */
  def manifestVersions(spark: SparkSession, outDir: String): Seq[Long] = {
    val out = new org.apache.hadoop.fs.Path(outDir)
    manifestVersions(out.getFileSystem(spark.sessionState.newHadoopConf()), out)
  }

  /** (Re)derive the manifest from the part files under `out` and publish
    * it as the NEXT generation. Driver-side cost is one first-line read
    * per part — bounded by nParts, never by record count. Returns the
    * published generation.
    */
  private[graft] def writeClusterIdx(
      fs: org.apache.hadoop.fs.FileSystem, out: org.apache.hadoop.fs.Path): Long =
    writeClusterIdx(fs, out,
      fs.globStatus(new org.apache.hadoop.fs.Path(out, "part-*"))
        .map(_.getPath.getName).toSeq)

  /** The MANIFEST variant: publish a new `cluster.idx.v{N}` generation
    * listing exactly `names` (sorted — fixed-width canonical names make
    * string order numeric order ≡ range order). [[mergeCompact]] publishes
    * through this form so files a merge RETIRED (left in place, unlisted,
    * for pinned readers — see [[vacuum]]) can never be resurrected into
    * the live layout by a directory glob.
    *
    * The publish is CRASH-ATOMIC with NO reader window (the r19 verdict's
    * one defect was the old delete-then-rename swap): the entries render
    * to a temp name, then RENAME to a FRESH versioned name — no existing
    * manifest is ever touched, so a reader resolving the highest complete
    * generation either sees the old one or the new one, never a gap or a
    * torn file; a crash before the rename leaves the prior generation
    * live and only an orphan temp ([[vacuum]] fodder). Returns the
    * published generation.
    */
  private[graft] def writeClusterIdx(
      fs: org.apache.hadoop.fs.FileSystem, out: org.apache.hadoop.fs.Path,
      names: Seq[String]): Long = {
    val entries = names.sorted.flatMap { n =>
      val p = new org.apache.hadoop.fs.Path(out, n)
      if (fs.getFileStatus(p).getLen == 0) None // empty slice: no entry
      else Some(s"${firstKey(fs, p)}\t$n")
    }
    val tmp = new org.apache.hadoop.fs.Path(out, "_cluster.idx.tmp")
    val w = fs.create(tmp, true)
    try w.write((entries.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally w.close()
    val next = manifestVersions(fs, out).lastOption.getOrElse(0L) + 1
    val dest = new org.apache.hadoop.fs.Path(out, manifestName(next))
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"WarcCdx: rename $tmp -> $dest failed")
    next
  }

  /** Delete every manifest generation BELOW `v` — the retirement step
    * after a [[renumber]] staled their file lists (renumber renames
    * published files in place — the one reader-barrier operation) and
    * [[vacuum]]'s retention cut. Deleting an already-superseded manifest
    * never races a highest-generation reader.
    */
  private def retireManifestsBelow(
      fs: org.apache.hadoop.fs.FileSystem, out: org.apache.hadoop.fs.Path,
      v: Long): Unit =
    manifestVersions(fs, out).filter(_ < v).foreach(old =>
      fs.delete(new org.apache.hadoop.fs.Path(out, manifestName(old)), false))

  /** Delete what no RETAINED snapshot can need once its pinned readers
    * are done: manifest generations older than the newest `retain`, then
    * every top-level `part-*` file no retained manifest lists (parts a
    * [[mergeCompact]] replaced, plus orphans of a crashed merge), plus
    * leftover merge temp files. This is the layout's GC barrier — a merge
    * itself never deletes or renames a published file, so a reader pinned
    * to any retained generation keeps a complete immutable snapshot
    * through any number of merges; run vacuum when no reader predates the
    * oldest generation you keep. `retain = 1` (the default) keeps only
    * the live manifest — the pre-retention behavior; a larger `retain` is
    * the time-travel window (each kept generation stays independently
    * readable via `readCompacted(spark, outDir, version)`).
    *
    * Vacuum is a WRITER in the single-writer protocol and takes the
    * create-exclusive writer lock: an in-flight merge's freshly-renamed
    * chunks are unlisted until its manifest publishes, so a concurrent
    * vacuum would delete them — the lock makes that sequencing enforced,
    * not conventional. Returns the deleted part names.
    */
  def vacuum(spark: SparkSession, outDir: String, retain: Int = 1): Seq[String] = {
    require(retain >= 1, s"vacuum retain must be >= 1, got $retain")
    val out = new org.apache.hadoop.fs.Path(outDir)
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    withWriterLock(fs, out, "vacuum") {
      val vs = manifestVersions(fs, out)
      if (vs.isEmpty) throw new java.io.FileNotFoundException(
        s"WarcCdx.vacuum: no cluster.idx manifest under $outDir")
      val kept = vs.takeRight(retain)
      val listed = kept.flatMap(v => readManifest(fs, out, v).map(_._2)).toSet
      // retire dropped GENERATIONS before their exclusive parts: a crash
      // mid-vacuum must never leave a manifest file listing deleted parts
      // (a retired manifest over still-present parts is just unreclaimed
      // space until the retry)
      retireManifestsBelow(fs, out, kept.head)
      val gone = deleteUnlisted(fs, out, listed)
      fs.delete(new org.apache.hadoop.fs.Path(out, "_graft_cdx_merge_tmp"), true)
      fs.delete(new org.apache.hadoop.fs.Path(out, "_cluster.idx.tmp"), false)
      gone
    }
  }

  /** Run `body` holding the layout's CREATE-EXCLUSIVE writer lock —
    * [[mergeCompact]] and [[vacuum]] are single-writer by design (a
    * vacuum racing a merge would GC the merge's not-yet-published
    * chunks), and r19 shipped that rule as a docstring convention; the
    * lock turns the silent-data-loss race into a fast, named failure.
    * The lock file records who holds it; a crashed writer leaves it
    * behind, so the error says exactly what to delete after confirming
    * the holder is dead. Atomic on HDFS/object-store creates; local-FS
    * create-exclusive is check-then-create, which is race-prone only
    * under the very concurrent-writer misuse the lock exists to reject.
    */
  private def withWriterLock[T](
      fs: org.apache.hadoop.fs.FileSystem, out: org.apache.hadoop.fs.Path,
      op: String)(body: => T): T =
    withWriterLockToken(fs, out, op)(_ => body)

  private[graft] def lockPath(out: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(out, "_graft_cdx_writer.lock")

  /** Create-exclusive write of the holder token into `lock` — throws
    * IOException when the lock already exists (someone else holds it).
    */
  private def writeLockFile(
      fs: org.apache.hadoop.fs.FileSystem, lock: org.apache.hadoop.fs.Path,
      token: String): Unit = {
    val w = fs.create(lock, false)
    try w.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally w.close()
  }

  /** [[withWriterLock]] with the holder token exposed to `body` — for
    * bodies that destroy and re-create the layout directory (compact's
    * overwrite write) and must re-assert the SAME lock mid-flight. The
    * final delete is token-checked: the lock is removed only while its
    * contents still name this writer, so a racer's live lock (acquired in
    * a window where ours was destroyed) is never deleted out from under
    * it (ADVICE r20).
    */
  private def withWriterLockToken[T](
      fs: org.apache.hadoop.fs.FileSystem, out: org.apache.hadoop.fs.Path,
      op: String)(body: String => T): T = {
    val lock = lockPath(out)
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.net.UnknownHostException => "unknown-host" }
    val token = s"$op pid=${ProcessHandle.current().pid()} host=$host " +
      s"since=${java.time.Instant.now()} nonce=${java.util.UUID.randomUUID()}"
    try writeLockFile(fs, lock, token)
    catch {
      case e: java.io.IOException =>
        val holder = try {
          val in = fs.open(lock)
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
        } catch { case _: java.io.IOException => "unknown holder" }
        throw new IllegalStateException(
          s"WarcCdx.$op: another writer holds $lock ($holder) — merge/vacuum are " +
            "single-writer; if that writer crashed, delete the lock file and retry", e)
    }
    try body(token)
    finally {
      val mine = try {
        val in = fs.open(lock)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) == token
        finally in.close()
      } catch { case _: java.io.IOException => false }
      if (mine) fs.delete(lock, false)
    }
  }

  private def deleteUnlisted(
      fs: org.apache.hadoop.fs.FileSystem, out: org.apache.hadoop.fs.Path,
      listed: Set[String]): Seq[String] = {
    val all = fs.globStatus(new org.apache.hadoop.fs.Path(out, "part-*"))
      .map(_.getPath.getName)
    val gone = all.filterNot(listed).sorted
    gone.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(out, n), false))
    gone.toSeq
  }

  /** The urlkey opening a part file: the first line's first
    * space-delimited token, read in bounded chunks UNTIL the newline —
    * never truncated (a truncated key below the next part's true first
    * key would flip [[selectParts]]' upper-bound test and wrongly prune
    * the PREVIOUS part, r18 advice). IO is one chunk in the normal case;
    * a pathological multi-chunk first line still stops at its newline,
    * and a no-space line (foreign file) keys as the whole line. The
    * accumulation is CAPPED at 4 MiB: a delimiter-free multi-GB foreign
    * file must fail loudly, not truncate the key (the pruning hazard) or
    * slurp itself into driver memory (the r19 review catch).
    */
  private[graft] def firstKey(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val acc = new java.io.ByteArrayOutputStream(1 << 10)
      var done = false
      while (!done) {
        if (acc.size() > (4 << 20))
          throw new java.io.IOException(
            s"WarcCdx.firstKey: no key delimiter in the first 4 MiB of $p — " +
              "not a CDX part file")
        val buf = in.readNBytes(1 << 16)
        if (buf.isEmpty) done = true // EOF before a newline: whole file is the line
        else {
          val nl = buf.indexOf('\n'.toByte)
          // the key precedes the first SPACE, so we can also stop early
          // once a space lands in the accumulator
          val sp = buf.indexOf(' '.toByte)
          val stop = Seq(nl, sp).filter(_ >= 0).sorted.headOption
          stop match {
            case Some(i) => acc.write(buf, 0, i); done = true
            case None => acc.write(buf, 0, buf.length)
          }
        }
      }
      val line = acc.toString(java.nio.charset.StandardCharsets.UTF_8)
      line.takeWhile(c => c != ' ' && c != '\n')
    } finally in.close()
  }

  /** Every row of a compacted index, typed like [[read]] — reading the
    * parts the manifest LISTS, not a directory glob: the manifest is
    * the layout's commit point ([[mergeCompact]] publishes a merge by
    * publishing a new generation of it), so a reader that resolves its
    * file list here sees one consistent snapshot even while a merge is
    * writing new part files next to the listed ones.
    */
  def readCompacted(spark: SparkSession, outDir: String): DataFrame =
    readCompactedEntries(spark, outDir, clusterEntries(spark, outDir))

  /** [[readCompacted]] PINNED to a named manifest generation — the
    * time-travel read: any generation a [[vacuum]] retained serves its
    * exact historical snapshot (merges never rewrite a published file),
    * whatever has merged since.
    */
  def readCompacted(spark: SparkSession, outDir: String, version: Long): DataFrame =
    readCompactedEntries(spark, outDir, clusterEntries(spark, outDir, version))

  private def readCompactedEntries(
      spark: SparkSession, outDir: String, entries: Seq[(String, String)]): DataFrame =
    if (entries.isEmpty) parseLines(spark.read.text(s"$outDir/part-*")).limit(0)
    else parseLines(
      spark.read.text(entries.map(e => s"$outDir/${e._2}").distinct: _*))

  /** INCREMENTALLY MERGE a new crawl segment's `.cdxj` files into an
    * existing compacted layout at `outDir` — the continuous-crawl answer
    * to [[compact]] being a full rebuild: a crawl that adds a segment per
    * cycle (the [[WarcSink.markRevisits]] workflow) must not re-shuffle
    * the WHOLE corpus index per cycle. Common Crawl maintains its
    * petabyte URL index exactly this way: new captures merge into the
    * affected zipnum blocks, untouched blocks are not rewritten.
    *
    * Mechanics: each new line's urlkey routes to its covering part via
    * the `cluster.idx` ranges (a when-chain over the nParts boundaries —
    * driver state is the boundary list, bounded by nParts); ONLY the
    * affected parts are re-read, k-way-merged with their new lines
    * (one sort of |affected parts| + |segment| lines — NOT the corpus),
    * and their replacements PUBLISH under fresh part names through a new
    * manifest generation (no published file is ever renamed or deleted);
    * every untouched part keeps its file byte-for-byte (names and mtimes
    * stable — the incremental contract the spec pins). The manifest
    * re-derives afterwards (one bounded first-line read per part) and
    * publishes as the next `cluster.idx.v{N}` generation. Keys below the
    * first part's first key fold into part 0 (its manifest entry updates
    * to the new minimum).
    *
    * Cost shape at 100 TB: a daily segment of S index lines against an
    * N-part corpus index shuffles O(S + touched-part bytes), vs
    * [[compact]]'s O(corpus). A segment touching every range (rare —
    * SURT locality concentrates a crawl wave's keys) degrades to a full
    * rewrite of part CONTENT but still skips nothing-new parts.
    *
    * Crash safety AND reader isolation come from the same move: the
    * merge is PUBLISH-ONLY. It writes replacement chunks under FRESH
    * names (a published part's name is never reused while its file
    * exists), never renames or deletes a published file, and commits by
    * publishing a NEW GENERATION of the manifest (`cluster.idx.v{N}` —
    * written temp + renamed to the fresh name, prior generations
    * untouched), which every read path (including [[readCompacted]])
    * resolves its file list from at the highest complete generation. So
    * a crash at any point leaves either the old manifest over the old
    * files or the new manifest over old+new (a half-merged orphan chunk
    * is unlisted and invisible); and a CONCURRENT READER holding any
    * manifest generation keeps a complete immutable snapshot while
    * merges land next to it. Replaced originals (and superseded manifest
    * generations) stay at their paths until an explicit [[vacuum]] — the
    * one deletion barrier, whose `retain` decides how many generations
    * stay pinnable. Single WRITER at a time, as with any LSM
    * maintenance — enforced by the create-exclusive writer lock, not
    * convention. The rare gap-exhausted renumber (~20 split generations)
    * is the one reader-barrier rewrite: it vacuums and renames in place.
    *
    * `maxPartLines` is the SPLIT policy: without one, a hot key range
    * (one domain crawled every cycle) grows its part without bound until
    * "read ~one part" lookups read a giant file. A rewritten part whose
    * merged line count exceeds the bound splits into `ceil(n/max)`
    * consecutive parts. New parts take unused numbers in the gap between
    * their predecessor and successor (the B-tree trick behind the
    * [[NameGap]] canonical naming), so a split renames files — it never
    * rewrites a neighbor; if a gap is exhausted (~20 split generations),
    * one rename-only renumber pass restores headroom.
    *
    * Ordering contract after merges: strict line order holds WITHIN each
    * part and KEY ranges stay disjoint-ordered across parts at key
    * granularity — but one urlkey's captures may interleave across a
    * part boundary (routing is by key, and a split can cut inside a
    * capture run), so cross-part order is guaranteed per KEY, not per
    * line. Every reader honors this: [[selectParts]]' inclusive upper
    * bound and [[lookupClosestBatch]]'s predecessor widening read ALL
    * parts that can hold a key. A full [[compact]] restores strict line
    * order.
    */
  def mergeCompact(
      spark: SparkSession, segDir: String, outDir: String,
      maxPartLines: Long = Long.MaxValue): Unit = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val out = new org.apache.hadoop.fs.Path(outDir)
    val fs = out.getFileSystem(conf)
    require(fs.makeQualified(out) !=
      fs.makeQualified(new org.apache.hadoop.fs.Path(segDir)),
      s"WarcCdx.mergeCompact: outDir must differ from the segment dir ($segDir) — " +
        "the merge rewrites parts under outDir while reading segment files")
    require(maxPartLines >= 1, s"maxPartLines must be >= 1, got $maxPartLines")
    withWriterLock(fs, out, "mergeCompact") {
    // a crashed RENUMBER leaves parts under `_rn_*` temp names
    // that no `part-*` glob sees — merging over that debris would publish
    // an index silently missing their rows; refuse with the recovery hint
    val rnDebris = fs.globStatus(new org.apache.hadoop.fs.Path(out, "_rn_*"))
    require(rnDebris == null || rnDebris.isEmpty,
      s"WarcCdx.mergeCompact: $out holds ${if (rnDebris == null) 0 else rnDebris.length} " +
        "_rn_* file(s) from a crashed renumber — strip the _rn_ prefix to restore " +
        "them as parts before merging again")
    // a foreign/legacy layout (non-canonical part names) renumbers up
    // front so the split arithmetic below can always parse its numbers
    val entries = {
      val e0 = clusterEntries(spark, outDir)
      require(e0.nonEmpty,
        s"WarcCdx.mergeCompact: no cluster.idx entries under $outDir — run compact first")
      if (e0.forall(e => partNum(e._2).isDefined)) e0
      else {
        // legacy-name migration renumbers from the directory, so retired
        // (unlisted) files must go first or the glob would resurrect them
        // into the manifest — this renumber is a reader barrier anyway,
        // and every earlier manifest generation (listing the renamed-away
        // names) retires with it
        deleteUnlisted(fs, out, e0.map(_._2).toSet)
        renumber(fs, out)
        retireManifestsBelow(fs, out, writeClusterIdx(fs, out))
        clusterEntries(spark, outDir)
      }
    }
    // route each new line to its covering part ([[coveringPart]]) —
    // codegen over the SEGMENT lines only
    val key = substring_index(col("value"), " ", 1) // urlkeys never contain spaces
    val target = coveringPart(entries, key)
    // persisted: the segment is consumed twice (affected-part collect +
    // the merge union) — one read of the files, and the routing the
    // commit relies on cannot drift between the two passes. Unpersisted
    // before return: the merge job materializes inside this call.
    val newLines = spark.read.text(s"$segDir/*.cdxj")
      .select(col("value"), target.as("__part")).persist()
    // the finally releases the cached segment on EVERY exit — success,
    // empty-segment return, or a commit-phase IOException mid-merge
    try {
    val affected = newLines.select("__part").distinct()
      .collect().map(_.getString(0)).sorted // bounded by nParts
    if (affected.isEmpty) return // empty segment: no-op
    // existing lines of ONLY the affected parts, each tagged with its
    // own part name (input_file_name basename — part names are plain)
    val existing = spark.read.text(affected.map(f => s"$outDir/$f").toIndexedSeq: _*)
      .select(col("value"),
        element_at(split(input_file_name(), "/"), -1).as("__part"))
    val props = hadoopProps(spark)
    val tmpDir = new org.apache.hadoop.fs.Path(out, "_graft_cdx_merge_tmp").toString
    // one hash partition per affected part (collisions just co-locate two
    // parts in one task — runs stay contiguous under the sort); each task
    // streams its sorted lines into one temp file per part-name run —
    // ROLLING to a fresh chunk at maxPartLines — and reports (partName,
    // chunkIdx, tempPath); the collect is bounded by |affected| + chunks
    val maxLines = maxPartLines
    val written = existing.unionByName(newLines)
      .repartition(affected.length, col("__part"))
      .sortWithinPartitions(col("__part"), col("value"))
      .select(col("__part"), col("value")).as[(String, String)]
      .mapPartitions { rows =>
        val c = new org.apache.hadoop.conf.Configuration(false)
        props.foreach { case (k, v) => c.set(k, v) }
        val tfs = new org.apache.hadoop.fs.Path(tmpDir)
          .getFileSystem(c)
        // task-attempt-unique temp names: a speculative twin writes its
        // own files; Spark's result arbitration keeps one attempt's rows
        val attempt = org.apache.spark.TaskContext.get() match {
          case null => "d0"
          case tc => s"${tc.partitionId()}-${tc.taskAttemptId()}"
        }
        var cur: String = null
        var chunk = 0
        var lines = 0L
        var nFiles = 0
        var w: java.io.BufferedOutputStream = null
        val outTriples =
          scala.collection.mutable.ArrayBuffer.empty[(String, Int, String)]
        def close(): Unit = if (w != null) { w.close(); w = null }
        def open(part: String): Unit = {
          close()
          val p = new org.apache.hadoop.fs.Path(tmpDir, s"m-$attempt-$nFiles")
          nFiles += 1
          w = new java.io.BufferedOutputStream(tfs.create(p, true), 1 << 16)
          outTriples += ((part, chunk, p.toString))
          lines = 0L
        }
        val nlByte = '\n'.toByte
        rows.foreach { case (part, line) =>
          if (part != cur) { cur = part; chunk = 0; open(part) }
          else if (lines >= maxLines) { chunk += 1; open(part) }
          w.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          w.write(nlByte)
          lines += 1
        }
        close()
        outTriples.iterator
      }.collect()
    def renameOrThrow(src: org.apache.hadoop.fs.Path, dest: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(src, dest))
        throw new java.io.IOException(s"WarcCdx.mergeCompact: rename $src -> $dest failed")
    // PUBLISH-ONLY COMMIT: a merge NEVER renames or deletes a published
    // part — every replacement chunk takes a FRESH number in the gap
    // between the replaced part and its listed successor, the new
    // manifest (cluster.idx) swaps in atomically, and the replaced
    // originals stay at their paths UNLISTED until [[vacuum]]. A reader
    // that resolved any manifest keeps a complete, immutable snapshot; a
    // crash at any point leaves either the old manifest over the old
    // files or the new manifest over old+new (orphan chunks of an
    // unpublished merge are unlisted and invisible — vacuum fodder).
    // An exhausted gap forces one rename-only renumber of the layout —
    // the ONE reader-barrier operation, so it first deletes what only
    // pinned readers could need (retired parts), exactly vacuum's
    // contract.
    val chunksByPart = written.groupBy(_._1)
    var listed = entries.map(_._2)
    def globNums(): Set[Long] =
      fs.globStatus(new org.apache.hadoop.fs.Path(out, "part-*"))
        .flatMap(st => partNum(st.getPath.getName)).toSet
    var usedNums = globNums()
    var renamed = Map.empty[String, String]
    def window(ls: Seq[String], p: String): (Long, Long) = {
      val i = ls.indexOf(p)
      val cur = partNum(p).get
      (cur, if (i + 1 < ls.length) partNum(ls(i + 1)).get else cur + NameGap)
    }
    def gapOk(ls: Seq[String], used: Set[Long]): Boolean =
      chunksByPart.forall { case (p0, cs) =>
        val (cur, next) = window(ls, renamed.getOrElse(p0, p0))
        (next - cur - 1) - used.count(n => n > cur && n < next) >= cs.length
      }
    if (!gapOk(listed, usedNums)) {
      deleteUnlisted(fs, out, listed.toSet) // the renumber reader barrier
      renamed = renumber(fs, out)
      listed = listed.map(n => renamed.getOrElse(n, n))
      // publish an INTERIM manifest over the renamed set immediately and
      // retire the staled generations (their lists name renamed-away
      // files): a crash between here and the merge's final publish now
      // leaves a live, correct manifest instead of the highest generation
      // citing files that no longer exist with no guard tripping — the
      // unguarded window shrinks to the _rn_-protected renumber itself
      // (r19 advice)
      retireManifestsBelow(fs, out, writeClusterIdx(fs, out, listed))
      usedNums = globNums()
      require(gapOk(listed, usedNums), // NameGap/chunks >= 1 unless one
        // merge splits a part 2^20 ways
        "WarcCdx.mergeCompact: a single merge produced more chunks than NameGap — " +
          "raise maxPartLines")
    }
    // fresh numbers per replaced part: evenly spaced through the gap for
    // future split headroom, first-free fallback when spacing collides
    // with a retired/orphan number
    val taken = scala.collection.mutable.Set.empty[Long]
    def pick(cur: Long, next: Long, k: Int): Seq[Long] = {
      val step = (next - cur) / (k + 1)
      val even =
        if (step >= 1) (1 to k).map(i => cur + i * step) else Seq.empty[Long]
      if (even.nonEmpty && even.forall(n => !usedNums(n) && !taken(n))) even
      else {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        var n = cur + 1
        while (buf.length < k && n < next) {
          if (!usedNums(n) && !taken(n)) buf += n
          n += 1
        }
        require(buf.length == k, // unreachable: gapOk counted the free slots
          s"WarcCdx.mergeCompact: no room for $k chunks in ($cur, $next)")
        buf.toSeq
      }
    }
    val newNames = chunksByPart.toSeq.flatMap { case (p0, cs0) =>
      val (cur, next) = window(listed, renamed.getOrElse(p0, p0))
      val cs = cs0.sortBy(_._2)
      val nums = pick(cur, next, cs.length)
      taken ++= nums
      cs.zip(nums).map { case ((_, _, tmp), num) =>
        val name = partName(num)
        renameOrThrow(new org.apache.hadoop.fs.Path(tmp),
          new org.apache.hadoop.fs.Path(out, name))
        name
      }
    }
    val replaced = chunksByPart.keySet.map(p => renamed.getOrElse(p, p))
    writeClusterIdx(fs, out, // the commit: one fresh manifest generation
      listed.filterNot(replaced) ++ newNames)
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    } finally newLines.unpersist()
    }
  }

  /** The part file COVERING a key column: part i owns
    * [firstKey(i), firstKey(i+1)); keys below firstKey(0) fold into
    * part 0. A when-chain over the boundary list — depth bounded by
    * nParts, pure codegen, no shuffle: the routing [[mergeCompact]] and
    * [[lookupClosestBatch]] share.
    */
  private def coveringPart(
      entries: Seq[(String, String)],
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (entries.length == 1) lit(entries.head._2)
    else {
      var c: org.apache.spark.sql.Column = null
      var i = 0
      while (i < entries.length - 1) {
        val cond = key < lit(entries(i + 1)._1)
        val file = lit(entries(i)._2)
        c = if (c == null) when(cond, file) else c.when(cond, file)
        i += 1
      }
      c.otherwise(lit(entries.last._2))
    }

  /** The driver-captured hadoop conf props executors rebuild a
    * Configuration from (it is not serializable) — the [[WarcSink]] /
    * [[fetch]] idiom, shared.
    */
  private[sources] def hadoopProps(spark: SparkSession): Array[(String, String)] = {
    val conf = spark.sessionState.newHadoopConf()
    val it = conf.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
    buf.toArray
  }

  /** The manifest entries of a compacted index, in range order: (first
    * urlkey of part, part filename). Resolution is HIGHEST COMPLETE
    * GENERATION: any `cluster.idx.v{N}` present is complete by
    * construction (publication is a rename to that fresh name), so a
    * reader racing a publish sees either the old generation or the new
    * one — never a torn file, never a missing-manifest window — and a
    * writer crash before its rename leaves the prior generation live.
    * Driver-side — the file is `nParts` lines.
    */
  private[graft] def clusterEntries(
      spark: SparkSession, outDir: String): Seq[(String, String)] = {
    val out = new org.apache.hadoop.fs.Path(outDir)
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    val vs = manifestVersions(fs, out)
    if (vs.isEmpty) throw new java.io.FileNotFoundException(
      s"WarcCdx: no cluster.idx manifest under $outDir — run compact first")
    readManifest(fs, out, vs.last)
  }

  /** The entries of a PINNED manifest generation (see [[manifestVersions]]
    * / [[vacuum]]'s `retain`) — fails loudly when that generation was
    * retired rather than silently serving a different snapshot.
    */
  private[graft] def clusterEntries(
      spark: SparkSession, outDir: String, version: Long): Seq[(String, String)] = {
    val out = new org.apache.hadoop.fs.Path(outDir)
    readManifest(out.getFileSystem(spark.sessionState.newHadoopConf()), out, version)
  }

  private def readManifest(
      fs: org.apache.hadoop.fs.FileSystem, out: org.apache.hadoop.fs.Path,
      version: Long): Seq[(String, String)] = {
    val in = fs.open(new org.apache.hadoop.fs.Path(out, manifestName(version)))
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    text.split("\n").toIndexedSeq.filter(_.nonEmpty).map { l =>
      val tab = l.indexOf('\t')
      (l.substring(0, tab), l.substring(tab + 1))
    }
  }

  /** Which part files can hold keys with `prefix`: part i holds LINES
    * strictly below part i+1's first line, so its KEY range is
    * [firstKey(i), firstKey(i+1)] INCLUSIVE at the top \u2014 when a part
    * boundary falls inside one urlkey's multi-capture run (routine after
    * a [[mergeCompact]] split cuts every N lines), earlier captures of
    * firstKey(i+1) live in part i. Hence the upper-bound test is `>=`,
    * not `>` (the r19 review catch: `>` silently lost those captures
    * from every lookup). Intersection with [prefix, prefix+U+FFFF):
    * firstKey(i) at or below the range top AND firstKey(i+1) at or above
    * its bottom. Pure function for the pruning spec.
    */
  private[graft] def selectParts(
      entries: Seq[(String, String)], prefix: String): Seq[String] = {
    val high = prefix + '\uffff'
    entries.zipWithIndex.collect {
      case ((firstKey, file), i)
        if firstKey <= high &&
          (i + 1 >= entries.length || entries(i + 1)._1 >= prefix) => file
    }
  }

  /** PREFIX LOOKUP against a compacted index, reading ONLY the part
    * files whose key range intersects the prefix (via `cluster.idx`) —
    * the query shape the zipnum layout exists for: "every archived copy
    * under this SURT key / domain prefix" touches ~one part file of a
    * corpus-wide index, never the whole index. Returns [[read]]-typed
    * rows filtered to `urlkey` prefix matches.
    */
  def lookupPrefix(spark: SparkSession, outDir: String, prefix: String): DataFrame =
    lookupPrefixEntries(spark, outDir, clusterEntries(spark, outDir), prefix)

  /** [[lookupPrefix]] PINNED to a manifest generation (see
    * [[manifestVersions]]) — the pruned lookup against a retained
    * historical snapshot, same part-level pruning.
    */
  def lookupPrefix(
      spark: SparkSession, outDir: String, prefix: String, version: Long): DataFrame =
    lookupPrefixEntries(spark, outDir, clusterEntries(spark, outDir, version), prefix)

  private def lookupPrefixEntries(
      spark: SparkSession, outDir: String, entries: Seq[(String, String)],
      prefix: String): DataFrame = {
    val picked = selectParts(entries, prefix)
    if (picked.isEmpty) return parseLines(
      spark.read.text(s"$outDir/part-*")).limit(0)
    val paths = picked.map(f => s"$outDir/$f")
    parseLines(spark.read.text(paths: _*))
      .filter(col("urlkey").startsWith(prefix))
  }

  /** TIMESTAMP-CLOSEST LOOKUP — the wayback replay point query the
    * zipnum layout's OTHER read path serves: "the capture of `urlkey`
    * nearest `timestamp`". Part pruning is [[selectParts]] with the full
    * key (captures of one key are CONTIGUOUS in the SURT order, so this
    * reads ~one part of a corpus-wide index); nearness is the absolute
    * difference of the 14-digit timestamps AS INTEGERS (the pywb/
    * OpenWayback convention — replayable arithmetic, no calendar math),
    * ties resolved to the EARLIER capture. The plan is a
    * TakeOrderedAndProject over the pruned part scan — top-1, no full
    * sort. Returns one [[read]]-typed row (empty when the key was never
    * archived).
    */
  def lookupClosest(
      spark: SparkSession, outDir: String, urlkey: String, timestamp: String): DataFrame =
    lookupClosestEntries(spark, outDir, clusterEntries(spark, outDir),
      urlkey, timestamp)

  /** [[lookupClosest]] PINNED to a manifest generation — "the capture of
    * `urlkey` nearest `timestamp`, as the index stood at generation N":
    * the wayback replay point over a retained snapshot.
    */
  def lookupClosest(
      spark: SparkSession, outDir: String, urlkey: String, timestamp: String,
      version: Long): DataFrame =
    lookupClosestEntries(spark, outDir, clusterEntries(spark, outDir, version),
      urlkey, timestamp)

  private def lookupClosestEntries(
      spark: SparkSession, outDir: String, entries: Seq[(String, String)],
      urlkey: String, timestamp: String): DataFrame = {
    require(timestamp.length == 14 && timestamp.forall(_.isDigit),
      s"lookupClosest needs a 14-digit CDX timestamp, got '$timestamp'")
    // "" is the urlkey DAMAGED index lines parse to — matching it would
    // order by cast('' AS BIGINT), an ANSI-mode job failure (and an empty
    // key is never a real capture key anyway)
    require(urlkey.nonEmpty, "lookupClosest needs a non-empty urlkey")
    val picked = selectParts(entries, urlkey)
    val base =
      if (picked.isEmpty) parseLines(spark.read.text(s"$outDir/part-*")).limit(0)
      else parseLines(spark.read.text(picked.map(f => s"$outDir/$f"): _*))
    base
      .filter(col("urlkey") === urlkey)
      .orderBy(abs(col("timestamp").cast("long") - lit(timestamp.toLong)).asc,
        col("timestamp").asc)
      .limit(1)
  }

  /** BATCH closest lookup — [[lookupClosest]] for MILLIONS of requests
    * at once: replaying a whole access log / rebuilding a derived corpus
    * "as of" per-document times is one distributed pass, not a driver
    * loop of point queries. `requests` needs `urlkey STRING` +
    * `timestamp STRING` (14-digit) columns; rows with further columns
    * pass through (they key the caller's downstream join).
    *
    * Plan shape: each request routes to its covering part via the
    * `cluster.idx` boundaries ([[coveringPart]] — pure codegen), the
    * scan reads ONLY parts some request targets (driver-side part list,
    * bounded by nParts — a skewed request set touches few files of a
    * corpus-wide index), then one shuffle co-partitions requests and
    * pruned index rows by urlkey and a per-(request) window keeps the
    * nearest capture (ties → earlier, the [[lookupClosest]] rule).
    * Requests whose key was never archived produce no row (the pywb
    * convention: nothing to replay).
    *
    * Contract: `requests` is evaluated twice (part routing, then the
    * join) and is NOT cached here — repeated batch calls must not
    * accumulate session-pooled frames. A nondeterministic request frame
    * must be materialized by the caller first, or the two passes can
    * disagree on which parts to read.
    */
  def lookupClosestBatch(spark: SparkSession, outDir: String, requests: DataFrame): DataFrame =
    lookupClosestBatchEntries(spark, outDir, clusterEntries(spark, outDir), requests)

  /** [[lookupClosestBatch]] PINNED to a manifest generation — the whole
    * access-log replay "as of" a retained snapshot, one distributed pass.
    */
  def lookupClosestBatch(
      spark: SparkSession, outDir: String, requests: DataFrame,
      version: Long): DataFrame =
    lookupClosestBatchEntries(spark, outDir, clusterEntries(spark, outDir, version),
      requests)

  private def lookupClosestBatchEntries(
      spark: SparkSession, outDir: String, entries: Seq[(String, String)],
      requests: DataFrame): DataFrame = {
    require(requests.columns.contains("urlkey") && requests.columns.contains("timestamp"),
      s"lookupClosestBatch needs urlkey + timestamp request columns, " +
        s"got [${requests.columns.mkString(", ")}] — note the requests frame is " +
        "evaluated more than once (part routing, then the join): materialize a " +
        "nondeterministic request source first or lookups can silently miss")
    // pass-through request columns must not shadow the index schema the
    // join contributes (the markRevisits reserved-name rule)
    val reserved = Set("url", "mime", "digest", "rid", "offset", "length",
      "filename", "req_ts", "__req_ts", "__rk", "__part")
    require(!requests.columns.exists(reserved),
      "lookupClosestBatch request columns collide with the index schema / " +
        "scratch names: " + requests.columns.filter(reserved).mkString(", "))
    require(entries.nonEmpty,
      s"WarcCdx.lookupClosestBatch: no cluster.idx entries under $outDir — run compact first")
    // malformed request timestamps drop (the damaged-line tolerance
    // convention); exact duplicate request rows collapse to one answer.
    // The frame is consumed twice (part routing + the join) with NO cache
    // in between — caching here leaked one session-pooled frame per call
    // on the advertised repeated-batch workload (r19 advice). The price
    // is the determinism contract: a NONDETERMINISTIC request source
    // (e.g. a fresh sample per evaluation) could route to parts the scan
    // never read and silently miss answers — such callers must
    // materialize their requests first (write + re-read, or persist and
    // unpersist around the call).
    // the urlkey =!= "" leg is load-bearing, not cosmetic: "" is what a
    // DAMAGED index line's urlkey parses to, and its timestamp is "" too —
    // an empty-key request joining one would order by cast('' AS BIGINT),
    // an ANSI-mode error that fails the WHOLE batch over one bad row
    val reqs = requests.withColumnRenamed("timestamp", "__req_ts")
      .filter(col("__req_ts").rlike("^\\d{14}$") &&
        col("urlkey").isNotNull && col("urlkey") =!= "")
    val routed = reqs
      .select(coveringPart(entries, col("urlkey")).as("__part")).distinct()
      .collect().map(_.getString(0)).toSet // bounded by nParts
    // widen each routed part LEFT across its equal-firstKey run plus one:
    // a request key EQUAL to the routed part's first key may have earlier
    // captures in every preceding part sharing that first key (a capture
    // run longer than maxPartLines splits across 3+ parts, all but the
    // first opening with the key) AND in the one part before the run
    // (where the run began mid-part). Derivable from entries alone —
    // parts j..i can hold key K only when firstKey(j+1..i) all equal K.
    // The join's urlkey equality keeps correctness however lines fall.
    val affected = entries.indices.flatMap { i =>
      if (!routed.contains(entries(i)._2)) Nil
      else {
        var j = i
        while (j > 0 && entries(j)._1 == entries(i)._1) j -= 1
        (j to i).map(entries(_)._2)
      }
    }.distinct.sorted
    if (affected.isEmpty)
      return reqs.limit(0).withColumnRenamed("__req_ts", "req_ts").crossJoin(
        parseLines(spark.read.text(s"$outDir/part-*")).limit(0).drop("urlkey"))
    val idx = parseLines(
      spark.read.text(affected.map(f => s"$outDir/$f").toIndexedSeq: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(reqs.columns.map(col).toIndexedSeq: _*)
      .orderBy(abs(col("timestamp").cast("long") - col("__req_ts").cast("long")).asc,
        col("timestamp").asc)
    reqs.join(idx, Seq("urlkey"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
      .withColumnRenamed("__req_ts", "req_ts")
  }

  /** Random-access one record: read exactly `length` bytes at `offset`
    * of `file` and parse the single member there (gzip-sniffed, the
    * [[Warc.parseRecords]] rules). None when the slice holds no whole
    * record (wrong coordinates, foreign file). This is the replay
    * primitive — `length` bytes of IO regardless of archive size.
    */
  def readRecordAt(
      conf: org.apache.hadoop.conf.Configuration,
      file: String,
      offset: Long,
      length: Long): Option[Warc.WarcRecord] = {
    require(length <= Int.MaxValue, s"member length $length exceeds 2 GiB")
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      in.seek(offset)
      val buf = new Array[Byte](length.toInt)
      in.readFully(buf)
      Warc.parseRecords(file, buf, Warc.MaxRecordBytes)
        .headOption.filter(_.warc_type != "graft:truncated")
    } finally in.close()
  }

  /** Convenience session form of [[readRecordAt]]. */
  def readRecordAt(
      spark: SparkSession, file: String, offset: Long, length: Long): Option[Warc.WarcRecord] =
    readRecordAt(spark.sessionState.newHadoopConf(), file, offset, length)

  /** Distributed point-read of many index hits: for each cdx row
    * (filename, offset, length — the [[read]] schema, any other columns
    * ignored), fetch its record. Lookups hash-partition by filename and
    * sort by offset within each task, so every archive opens ONCE per
    * task and its reads advance front-to-back; total IO is the sum of
    * member lengths, not of archive sizes. `dir` prefixes the index's
    * relative filenames — which may carry RELATIVE SUBPATHS
    * (`c2/part-….warc.gz`, the [[WarcSink]] `cdxFilenamePrefix` option),
    * so one fetch over a merged corpus index spans per-cycle archive
    * directories without moving a file (the Common Crawl convention:
    * index filename fields are paths under the collection root). A
    * filename that ESCAPES the root — absolute, scheme-qualified, or
    * containing a `..` segment — is hostile-index territory and DROPS
    * like any other damaged row: one poisoned line must neither fail the
    * job nor read outside `dir`.
    *
    * `verifyDigest = true` turns the index's sha1 into an integrity
    * check: each fetched record's payload digest is recomputed and a
    * mismatched record DROPS (the damaged-line tolerance convention —
    * at 100 TB, silent bit-rot in cold archive storage is an
    * expected-case event, and a flipped payload byte must not flow into
    * a derived corpus as if archived). Scope of the check: only index
    * digests in THIS sink's convention (`sha1:` + base32 over the stored
    * block) verify — a foreign index's bare-base32 body digest is a
    * different function of different bytes and passes UNVERIFIED rather
    * than mass-dropping every record; revisit RECORDS are exempt at the
    * record level (their index digest describes the REFERENT's payload,
    * the stored block is empty by design — no `mime` column needed);
    * rows without a digest (or the column absent) pass unverified.
    */
  def fetch(
      cdx: DataFrame, dir: String, verifyDigest: Boolean = false,
      maxRecordBytes: Int = Warc.MaxRecordBytes): Dataset[Warc.WarcRecord] = {
    val spark = cdx.sparkSession
    import spark.implicits._
    val props = hadoopProps(spark)
    val cols = cdx.columns.toSet
    val nullStr = lit(null).cast("string")
    val expected =
      if (verifyDigest && cols.contains("digest"))
        when(col("digest").startsWith("sha1:"), col("digest")).otherwise(nullStr)
      else nullStr
    cdx.select(col("filename"), col("offset"), col("length"), expected.as("__digest"))
      // [[parseLines]] deliberately maps a damaged index line to null
      // fields instead of failing the scan — honor the same contract
      // here: a null coordinate cannot be fetched, and feeding it to the
      // non-nullable tuple encoder below would fail the whole job over
      // one bad line
      .filter(col("filename").isNotNull && col("offset").isNotNull &&
        col("length").isNotNull)
      // traversal safety for the subpath feature: a filename that is
      // absolute, scheme-qualified ("file:", "s3a:", a drive letter), or
      // climbs out via a ".." segment must never resolve outside `dir` —
      // drop the row (damage convention), don't trust the index
      .filter(!col("filename").startsWith("/") &&
        !col("filename").contains(":") &&
        !col("filename").rlike("(^|/)\\.\\.(/|$)"))
      .repartition(col("filename"))
      .sortWithinPartitions(col("filename"), col("offset"))
      .as[(String, Long, Long, Option[String])]
      .mapPartitions { rows =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        props.foreach { case (k, v) => conf.set(k, v) }
        var openFile: String = null
        var in: org.apache.hadoop.fs.FSDataInputStream = null
        // a downstream limit/take can abandon the iterator mid-partition —
        // the task-completion hook closes whatever is still open so a
        // bounded fetch never leaks one stream per task
        org.apache.spark.TaskContext.get() match {
          case null => ()
          case tc => tc.addTaskCompletionListener[Unit] { _ =>
            if (in != null) { in.close(); in = null }
          }
        }
        def ensure(f: String): org.apache.hadoop.fs.FSDataInputStream = {
          if (f != openFile) {
            if (in != null) { in.close(); in = null }
            openFile = f
            val p = new org.apache.hadoop.fs.Path(dir, f)
            // a filename no archive has is damaged-line territory too —
            // null marks it so every row citing it drops (and only
            // per-damaged-row open attempts repeat, never per clean row)
            in = try p.getFileSystem(conf).open(p)
            catch { case _: java.io.FileNotFoundException => null }
          }
          in
        }
        val it = rows.flatMap { case (f, off, len, want) =>
          // out-of-range coordinates are DAMAGED-LINE territory like the
          // null case above — drop the row, never fail the job over one
          // corrupt index line (r19 review: this was a require)
          if (len < 0 || len > Int.MaxValue || off < 0) Iterator.empty
          else ensure(f) match {
            case null => Iterator.empty // archive file does not exist
            case s => try {
            s.seek(off)
            val buf = new Array[Byte](len.toInt)
            s.readFully(buf)
            Warc.parseRecords(s"$dir/$f", buf, maxRecordBytes)
              .headOption.filter(_.warc_type != "graft:truncated")
              // integrity gate: recompute the payload sha1 against the
              // index's digest (None = unverifiable row, passes through;
              // revisit records exempt — their stored block is empty by
              // design while the index digest describes the referent —
              // and so are parse-cap-TRUNCATED records, whose recomputed
              // digest covers only the kept prefix: dropping them would
              // turn every oversized archived record into silent loss)
              .filter(r => r.warc_type == "revisit" || r.truncated ||
                want.forall(d =>
                  d == "sha1:" + WarcSink.sha1Base32(
                    if (r.payload == null) Array.empty[Byte] else r.payload)))
            } catch {
              // numerically-plausible coordinates can still lie past the
              // archive's end (bit-rot in the digits, an index for a
              // truncated file): EOF mid-read is the damaged-line drop,
              // NOT a job failure. Only EOF — genuine IO trouble still
              // propagates to Spark's task retry. The next row's seek
              // re-positions the stream, so state stays consistent.
              case _: java.io.EOFException => Iterator.empty
            }
          }
        }
        // close the last open stream when the iterator drains
        new Iterator[Warc.WarcRecord] {
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h && in != null) { in.close(); in = null }
            h
          }
          def next(): Warc.WarcRecord = it.next()
        }
      }
  }
}
