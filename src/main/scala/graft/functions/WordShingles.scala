package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graft.ColumnBridge.{colOf, exprOf}

/** Custom table-generating function (UDTF): word n-gram shingles of a text
  * column, one output row per shingle. The custom-`Generator` analog of the
  * reference's UDTF registry snapshot
  * (`/root/reference/datafusion-dynamic-filter/src/parameterized_statement.rs:30-49`) —
  * planned through Spark's `Generate` node exactly like built-in `explode`,
  * so the fan-out runs partition-local with no shuffle.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {
  require(n >= 1, "shingle size must be >= 1")

  override def elementSchema: StructType =
    StructType(StructField("shingle", StringType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) Nil
    else {
      val tokens = s.toString.toLowerCase.split(" ")
      if (tokens.length < n) Nil
      else (0 to tokens.length - n).map { i =>
        InternalRow(UTF8String.fromString(tokens.slice(i, i + n).mkString(" ")))
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordShinglesFunction {
  def wordShingles(text: Column, n: Int = 3): Column = colOf(WordShingles(exprOf(text), n))
}

/** Word n-gram shingles with their xxhash64, one row per shingle — the
  * hot-path form behind [[graft.pipeline.TextAnalysis.duplicatedSpans]]'s
  * hash-first span mining. Semantics are BIT-EXACT with the declarative
  * chain `explode(transform(sequence(...), i => array_join(slice(
  * split(lower(text), " "), i, n), " ")))` + `xxhash64(span)`:
  * tokenization is UTF8String.toLowerCase + regex-split on " " with
  * limit -1 (trailing empties kept, matching Spark's `split`), spans are
  * concatWs(" ") over token slices (matching `array_join`), and the hash
  * is XXH64 over the span's UTF8 bytes with Spark's seed 42 (matching
  * `xxhash64`) — so a downstream pass may interchangeably key on
  * `xxhash64(col("span"))`. The point of existing at all: the transform/
  * slice HOF chain is interpreted per ELEMENT (the r12 lesson — no
  * codegen, per-slice lambda projection overhead), while this generator
  * tokenizes each document once at JVM speed inside the same
  * partition-local `Generate` fan-out as built-in `explode`.
  *
  * '''Malformed UTF-8 (ADVICE r21, resolved):''' the bit-equality holds
  * even for documents containing INVALID UTF-8. Both forms lower-case
  * first with the same `UTF8String.toLowerCase`, and any invalid sequence
  * forces its non-ASCII slow path (a UTF-16 round trip that replaces
  * invalid bytes with U+FFFD) — so the byte scan below only ever sees the
  * SAME normalized bytes the declarative `split(lower(text))` sees.
  * Probe-verified and spec-pinned (CurationSpec's parity fixture includes
  * raw 0xFF / lone-continuation bytes via a binary→string cast).
  */
case class WordShingleHashes(
    child: Expression, n: Int, withHashes: Boolean = true, withPos: Boolean = false,
    withSpans: Boolean = true, withCounts: Boolean = false)
    extends UnaryExpression with Generator with CodegenFallback {
  require(n >= 1, "shingle size must be >= 1")
  require(withHashes || withSpans, "at least one of __h/span must be emitted")
  require(!(withCounts && withPos), "withCounts dedups shingles per row — pos is meaningless")

  override def elementSchema: StructType = {
    val base =
      (if (withHashes)
        StructField("__h", org.apache.spark.sql.types.LongType, nullable = false) :: Nil
      else Nil) :::
        (if (withSpans) StructField("span", StringType, nullable = false) :: Nil else Nil) :::
        (if (withCounts)
          StructField("__c", org.apache.spark.sql.types.LongType, nullable = false) :: Nil
        else Nil)
    StructType(
      if (withPos)
        StructField("pos", org.apache.spark.sql.types.IntegerType, nullable = false) :: base
      else base)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) Nil
    else {
      // r21 hot-path form: ONE lowered byte copy per document, token
      // boundaries from a byte scan — 0x20 never occurs inside a
      // multi-byte UTF-8 sequence, so splitting on the space BYTE is
      // bit-equal to the regex-split on " " with limit -1 (consecutive
      // spaces yield empty tokens, the trailing empty is kept, "" is one
      // empty token). Because the separators are single spaces, the span
      // tokens[i..i+n) joined with " " is EXACTLY the byte range from
      // token i's first byte to token i+n-1's last — so hashes come from
      // the range with no per-shingle allocation at all, and span strings
      // (when asked for) are zero-copy views over the document's bytes.
      // The pre-r21 form allocated copyOfRange + concatWs per shingle.
      val bytes = s.toLowerCase.getBytes
      var nTokens = 1
      var i = 0
      while (i < bytes.length) { if (bytes(i) == ' ') nTokens += 1; i += 1 }
      if (nTokens < n) Nil
      else {
        // starts(t) = first byte of token t; token t ends where separator
        // t begins (ends(t) == starts(t+1) - 1; the last ends at length)
        val starts = new Array[Int](nTokens + 1)
        starts(0) = 0
        var t = 1
        i = 0
        while (i < bytes.length) {
          if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
          i += 1
        }
        starts(nTokens) = bytes.length + 1
        def endOf(tok: Int): Int = starts(tok + 1) - 1
        @inline def hashOf(from: Int, len: Int): Long =
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, len, 42L)
        if (!withCounts) {
          (0 to nTokens - n).map { w =>
            val from = starts(w)
            val len = endOf(w + n - 1) - from
            val base: Seq[Any] = {
              val hashPart = if (withHashes) hashOf(from, len) :: Nil else Nil
              val spanPart =
                if (withSpans) UTF8String.fromBytes(bytes, from, len) :: Nil else Nil
              hashPart ::: spanPart
            }
            // pos is the shingle's 0-BASED first-word index — what a masking
            // consumer needs to address the words the span covers
            InternalRow.fromSeq(if (withPos) w +: base else base)
          }
        } else {
          // withCounts (r22): ONE row per distinct shingle OF THIS INPUT ROW
          // with its multiplicity — the per-document half of a downstream
          // (shingle, doc)-keyed count done here, map-side, inside the
          // generator (the [[CharGramCounts]] pattern). A consumer that
          // previously ran groupBy(key, doc_id).count → groupBy(key) now
          // groups by `key` alone: sum(__c) replays the total occurrences
          // and count(1) the carrier-row count, so the whole intermediate
          // (key, doc)-keyed EXCHANGE disappears (guide §2.3/§2.4). NOTE the
          // row-identity semantics: multiplicity is per input ROW — for the
          // replay to be bit-equal the caller's id column must be unique
          // per row (every pipeline caller feeds one row per document).
          // Distinctness key: the span BYTES when spans are emitted, the
          // 64-bit hash otherwise — exactly the key the replaced per-doc
          // groupBy used in each mode. Emission order is first-occurrence
          // (order-insensitive consumers only). With both spans and hashes
          // requested the hash is computed ONCE per distinct span.
          val counts = new java.util.LinkedHashMap[Any, Array[Long]]()
          var w = 0
          while (w <= nTokens - n) {
            val from = starts(w)
            val len = endOf(w + n - 1) - from
            val key: Any =
              if (withSpans) UTF8String.fromBytes(bytes, from, len)
              else java.lang.Long.valueOf(hashOf(from, len))
            val slot = counts.get(key)
            if (slot == null) {
              // slot = [count, hash] — hash filled lazily only when needed
              val fresh = new Array[Long](if (withHashes && withSpans) 2 else 1)
              fresh(0) = 1L
              if (withHashes && withSpans) fresh(1) = hashOf(from, len)
              counts.put(key, fresh)
            } else slot(0) += 1L
            w += 1
          }
          val out = new scala.collection.mutable.ArrayBuffer[InternalRow](counts.size)
          counts.forEach { (key, slot) =>
            val base: Seq[Any] =
              if (withHashes && withSpans) slot(1) :: key :: slot(0) :: Nil
              else if (withHashes) key.asInstanceOf[java.lang.Long].longValue :: slot(0) :: Nil
              else key :: slot(0) :: Nil
            out += InternalRow.fromSeq(base)
          }
          out
        }
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordShingleHashesFunction {
  /** `withHashes = false` emits the span column alone and skips the XXH64
    * pass entirely — for string-keyed consumers (ADVICE r15: the unhashed
    * decontamination paths were paying a per-shingle hash whose column was
    * discarded on the corpus-wide fan-out).
    */
  def wordShingleHashes(
      text: Column, n: Int, withHashes: Boolean = true, withPos: Boolean = false,
      withSpans: Boolean = true, withCounts: Boolean = false): Column =
    colOf(WordShingleHashes(exprOf(text), n, withHashes, withPos, withSpans, withCounts))
}

/** Adjacent CHARACTER pairs of each lowercased word, one row per pair — the
  * BPE merge-statistic fan-out ([[graft.pipeline.TextAnalysis.bpeMergePairs]]).
  * Bit-equal to the declarative nested-HOF chain
  * `explode(flatten(transform(split(lower(text), " "), w ->
  * transform(sequence(1, length(w) - 1), i -> substr(w, i, 2)))))`:
  * tokenization is the same byte-scan-on-0x20 as [[WordShingleHashes]]
  * (≡ regex split with limit -1), `length`/`substr` are CODE-POINT based in
  * Spark, so pairs step one code point at a time via
  * `UTF8String.numBytesForFirstByte` — exactly what `substringSQL` walks.
  * The point: the HOF chain interprets two nested lambdas per element and
  * allocates an array-of-arrays per document (the r12 lesson); this
  * generator emits zero-copy views over one lowered byte copy per doc.
  */
case class CharBigrams(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("pair", StringType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) Nil
    else {
      val bytes = s.toLowerCase.getBytes
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var tokStart = 0
      var i = 0
      while (i <= bytes.length) {
        if (i == bytes.length || bytes(i) == ' ') {
          // token = bytes[tokStart, i): walk its code points; each one
          // after the first closes a two-code-point window starting at the
          // previous code point's first byte
          var prevStart = -1
          var p = tokStart
          while (p < i) {
            val next = math.min(p + UTF8String.numBytesForFirstByte(bytes(p)), i)
            if (prevStart >= 0)
              out += InternalRow(UTF8String.fromBytes(bytes, prevStart, next - prevStart))
            prevStart = p
            p = next
          }
          tokStart = i + 1
        }
        i += 1
      }
      out
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CharBigramsFunction {
  def charBigrams(text: Column): Column = colOf(CharBigrams(exprOf(text)))
}

/** Character q-gram MULTIPLICITIES of a string, one row per distinct gram —
  * the [[graft.operators.FuzzyJoin]] candidate fan-out. Bit-equal to
  * `explode(transform(sequence(1, len - n + 1), i -> substring(s, i, n)))`
  * followed by a per-(row, gram) count: grams step one CODE POINT at a
  * time (Spark's `substring` semantics), values are zero-copy views over
  * the row's bytes, and counting happens inside the generator — so the
  * per-gram hash-aggregate EXCHANGE the declarative form paid (keyed on
  * (id, full string, gram)!) disappears along with the interpreted
  * per-element lambda (r21; the r12 HOF lesson).
  */
case class CharGramCounts(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {
  require(n >= 1, "gram size must be >= 1")

  override def elementSchema: StructType =
    StructType(StructField("__g", StringType, nullable = false) ::
      StructField("__c", org.apache.spark.sql.types.LongType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) Nil
    else {
      val bytes = s.getBytes
      val starts = FuzzyGrams.codePointStarts(bytes)
      val nChars = starts.length - 1
      if (nChars < n) Nil
      else {
        val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
        var i = 0
        while (i <= nChars - n) {
          val g = UTF8String.fromBytes(bytes, starts(i), starts(i + n) - starts(i))
          val c = counts.get(g)
          counts.put(g, java.lang.Long.valueOf(if (c == null) 1L else c.longValue + 1L))
          i += 1
        }
        val out = new scala.collection.mutable.ArrayBuffer[InternalRow](counts.size)
        counts.forEach((g, c) => out += InternalRow(g, c.longValue))
        out
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

private[functions] object FuzzyGrams {
  /** Byte offsets of each code point start, with the end offset appended
    * (clamped at the buffer edge for truncated trailing sequences, like
    * `substringSQL`'s walk).
    */
  def codePointStarts(bytes: Array[Byte]): Array[Int] = {
    val buf = new scala.collection.mutable.ArrayBuffer[Int](bytes.length + 1)
    var p = 0
    while (p < bytes.length) {
      buf += p
      p += math.max(1, math.min(UTF8String.numBytesForFirstByte(bytes(p)), bytes.length - p))
    }
    buf += bytes.length
    buf.toArray
  }
}

object FuzzyGramFunctions {
  def charGramCounts(s: Column, n: Int): Column = colOf(CharGramCounts(exprOf(s), n))
}
