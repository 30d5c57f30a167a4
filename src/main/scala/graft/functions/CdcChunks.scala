package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: FastCDC-at-token-granularity chunking
  * of a document, in ONE map-side pass.
  *
  * t60/d64's chunking was first declared as posexplode(tokens) → a
  * boundary flag per token → a (doc_id)-partitioned prefix-sum window
  * → a (doc_id, chunk_idx) hash-aggregate. Correct, but the window
  * forces an EXCHANGE OF EVERY TOKEN ROW on doc_id — at 100 TB that
  * shuffle (tokens × (pos, token, doc, source)) dwarfs every later
  * stage, and all of it reconstructs per-doc state that was available
  * where the doc was read. This expression computes the identical
  * chunk table with zero pre-chunk shuffle: per document, one pass
  * over the tokens, emitting `array<struct<ctokens, chunk_md5>>` in
  * chunk order; consumers posexplode the ~tokens/8 chunk rows (the
  * position IS the old chunk_idx) and proceed straight to the
  * chunk-hash / source stages.
  *
  * Semantics are replicated EXACTLY from the declarative form (same
  * results, same oracles — only the evaluation strategy changes):
  *  - tokenization ≡ `split(trim(text), "[ \t\n\f\r]+")` with Spark's
  *    space-only trim and Java split semantics at limit -1 (a leading
  *    separator yields a leading empty token; an all-space text
  *    yields no tokens at all, rendered here as an empty array —
  *    callers filter `size(...) > 0` exactly as they filtered
  *    `size(tokens) > 0`);
  *  - a chunk boundary falls AFTER any token whose
  *    [[graft.queries.SamplingOps.bucket]] ≡ 0 (mod 8); the bucket is
  *    the first 6 hex nibbles of md5(token), so bucket % 8 depends
  *    only on the digest's third byte (& 7) — computed here without
  *    rendering the hex;
  *  - chunk_md5 ≡ md5 hex of the chunk's tokens joined by a single
  *    space (the q124 array_sort discipline's rendered form);
  *  - ctokens ≡ the chunk's token count.
  *
  * Codegen'd via a static one-call kernel (the whole-stage pipeline
  * keeps a single virtual call per row; the kernel itself is a tight
  * JVM loop with a thread-local MessageDigest).
  */
case class CdcChunks(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks expects string, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ctokens", LongType, nullable = false),
      StructField("chunk_md5", StringType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcChunks.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = graft.functions.CdcChunks$$.MODULE$$.compute($in);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: m51's payload-tile CDC in ONE linear
  * map-side pass over the raw BINARY asset.
  *
  * m51 was first declared as an aggregate() HOF fold over 32-hex
  * tiles — map-side and shuffle-free, but the fold's
  * `array_append(acc.done, …)` copies the accumulated chunk array at
  * every boundary: O(chunks²) per document, a real hazard on GiB
  * assets (an 18 MiB payload is ~140k chunks → ~10¹⁰ copied slots).
  * This kernel is the linear form: walk the payload 16 bytes at a
  * time, render each tile's lowercase hex, cut after any tile whose
  * md5 bucket ≡ 0 (mod 8) (the digest's third byte & 7 — identical to
  * `conv(substring(md5(tile),1,6),16,10) % 8`), and digest each
  * chunk's accumulated hex rendering. Output and oracle are unchanged
  * from the HOF form: array<struct<cbytes, chunk_md5>> in chunk
  * order, chunk_md5 = md5 of the chunk's hex string (what the DuckDB
  * oracle's ordered string_agg digests). */
case class CdcPayloadChunks(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cdc_payload_chunks expects binary, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cbytes", LongType, nullable = false),
      StructField("chunk_md5", StringType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "cdc_payload_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcChunks.computePayload(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} =
         |  graft.functions.CdcChunks$$.MODULE$$.computePayload($in);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: TRUE byte-rolling content-defined
  * chunking of a raw BINARY payload (the gear-hash CDC primitive),
  * in ONE linear map-side pass.
  *
  * m51's tile CDC judges boundaries on FIXED 16-byte tiles, so a
  * single inserted byte shifts every later tile and no chunk after
  * the edit survives — fixed tiles cannot re-anchor. This kernel
  * rolls a gear-style hash BYTE AT A TIME:
  *
  *   gear(b) = (b · 2654435761) mod 2³²    (Knuth multiplicative)
  *   h_i     = (16·h_{i−1} + gear(b_i)) mod 2³²
  *
  * and cuts AFTER any byte where the TOP SIX BITS of h are zero
  * (h < 2²⁶ — expected chunk ≈ 64 bytes; the high bits mix all
  * window bytes, unlike the low bits which a single byte dominates).
  * The 4-bit shift bounds the window to the trailing EIGHT bytes
  * (16⁸ ≡ 0 mod 2³²), and the state is deliberately NOT reset at a
  * boundary, so the cut decision at any position is a pure function
  * of its trailing 8 bytes. That choice buys two properties the
  * reset form loses:
  *  - RE-ANCHORING: after any insert/delete, boundaries realign as
  *    soon as 8 clean bytes pass — shared content beyond the edit
  *    region chunks identically across documents (the property the
  *    planted-suffix spec pins, and the reason m52 finds near-clone
  *    storage savings m51 structurally cannot);
  *  - a STATELESS boundary predicate, independently evaluable at
  *    every position — which is also what makes the DuckDB oracle
  *    expressible as an 8-term lag window instead of a recursive
  *    scan.
  * A production store would add FastCDC's min/max chunk clamps;
  * those make boundaries stateful (each depends on the previous
  * cut), so this operator ships the pure content-defined rule and
  * documents the trade — the pipeline shape (chunk → hash → global
  * first-occurrence accounting) is identical. The gear table is the
  * Knuth multiplicative map rather than 256 random constants so the
  * oracle can derive it; a deployment would swap in a seeded table
  * without touching the plan.
  *
  * Output: array<struct<cbytes, chunk_md5>> in chunk order;
  * chunk_md5 = md5 hex of the chunk's LOWERCASE-HEX rendering (the
  * m51 digest discipline, what the oracle's ordered string_agg
  * digests). O(payload) time, O(1) memory per chunk
  * (the chunk digest rolls — no chunk buffer is ever materialized). */
case class GearChunks(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gear_chunks expects binary, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cbytes", LongType, nullable = false),
      StructField("chunk_md5", StringType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "gear_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcChunks.computeGear(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} =
         |  graft.functions.CdcChunks$$.MODULE$$.computeGear($in);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: the PRODUCTION gear-CDC tier —
  * [[GearChunks]]' byte-rolling boundary rule with FastCDC's min/max
  * chunk clamps (boundaries suppressed until ≥ minChunk bytes since
  * the last cut; a cut forced at maxChunk bytes). See
  * [[CdcChunks.computeGearClamped]] for the full contract and the
  * zero-run degeneracy the clamp exists to kill. The clamp makes cuts
  * stateful (each depends on the previous), so the DuckDB oracle is a
  * recursive cut-walk rather than the stateless 8-term lag window —
  * both are shipped, both oracle-gated. */
case class GearChunksClamped(child: Expression, minChunk: Int,
    maxChunk: Int) extends UnaryExpression {
  require(minChunk >= 1 && maxChunk >= minChunk,
    s"gear_chunks_clamped needs 1 <= minChunk <= maxChunk, " +
      s"got ($minChunk, $maxChunk)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gear_chunks_clamped expects binary, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cbytes", LongType, nullable = false),
      StructField("chunk_md5", StringType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "gear_chunks_clamped"

  override def nullSafeEval(input: Any): Any =
    CdcChunks.computeGearClamped(input.asInstanceOf[Array[Byte]],
      minChunk, maxChunk)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} =
         |  graft.functions.CdcChunks$$.MODULE$$.computeGearClamped(
         |    $in, $minChunk, $maxChunk);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcChunks {

  private val splitter = java.util.regex.Pattern.compile("[ \\t\\n\\f\\r]+")

  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  // second thread-local digest so a kernel can roll a CHUNK digest
  // incrementally while the first instance hashes per-token/per-tile
  // boundary probes — the streaming that keeps chunk emission O(1)
  // memory regardless of chunk size
  private val md2 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private def digestHex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private val spaceByte = Array[Byte](' ')

  /** The one-pass kernel (called from generated code). The chunk
    * digest ROLLS incrementally (token bytes + the joining spaces fed
    * straight into a second MessageDigest) instead of materializing
    * the chunk text — identical digests, O(1) memory per chunk even
    * when a boundary-free token stream makes one chunk span the whole
    * document. */
  def compute(text: UTF8String): ArrayData = {
    // Spark's trim() removes 0x20 only — NOT Java's trim — so the
    // tokenization matches split(trim(text), ...) byte for byte.
    val trimmed = text.trim().toString
    if (trimmed.isEmpty) return new GenericArrayData(Array.empty[Any])
    val tokens = splitter.split(trimmed, -1)
    val digest = md.get()
    val chunkDigest = md2.get()
    chunkDigest.reset()
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Any]
    var ctokens = 0L
    var i = 0
    while (i < tokens.length) {
      val tb = tokens(i).getBytes("UTF-8")
      if (ctokens > 0L) chunkDigest.update(spaceByte)
      chunkDigest.update(tb)
      ctokens += 1L
      // boundary AFTER any token whose md5 bucket ≡ 0 (mod 8): the
      // bucket is the first 6 hex nibbles (= first 3 digest bytes),
      // so % 8 is the third byte's low 3 bits
      val d = digest.digest(tb)
      if ((d(2) & 7) == 0) {
        chunks += new GenericInternalRow(Array[Any](ctokens,
          UTF8String.fromString(digestHex(chunkDigest.digest()))))
        ctokens = 0L
      }
      i += 1
    }
    if (ctokens > 0L) {
      chunks += new GenericInternalRow(Array[Any](ctokens,
        UTF8String.fromString(digestHex(chunkDigest.digest()))))
    }
    new GenericArrayData(chunks.toArray)
  }

  private val hexBytes = "0123456789abcdef".getBytes("US-ASCII")

  /** The linear payload-tile kernel (called from generated code):
    * 16-byte tiles rendered to lowercase hex, cut after any tile
    * whose md5's third byte has low-3 bits zero, chunk digest over
    * the accumulated hex bytes. O(payload) time, O(1) memory per chunk
  * (the chunk digest rolls — no chunk buffer is ever materialized). */
  def computePayload(payload: Array[Byte]): ArrayData = {
    if (payload.isEmpty) return new GenericArrayData(Array.empty[Any])
    val digest = md.get()
    val chunkDigest = md2.get()
    chunkDigest.reset()
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Any]
    // the chunk digest ROLLS per tile instead of accumulating the hex
    // in a buffer: identical digests, O(1) memory per chunk — a
    // boundary-free (adversarially repetitive) payload used to grow a
    // ByteArrayOutputStream to 2x the payload with a hard ~1 GiB
    // single-chunk ceiling; now any chunk size streams
    var hexLen = 0L
    val tileHex = new Array[Byte](32)
    var off = 0
    while (off < payload.length) {
      val n = math.min(16, payload.length - off)
      var i = 0
      while (i < n) {
        val b = payload(off + i) & 0xff
        tileHex(2 * i) = hexBytes(b >>> 4)
        tileHex(2 * i + 1) = hexBytes(b & 0xf)
        i += 1
      }
      chunkDigest.update(tileHex, 0, 2 * n)
      hexLen += 2 * n
      digest.reset()
      digest.update(tileHex, 0, 2 * n)
      val d = digest.digest()
      if ((d(2) & 7) == 0) {
        chunks += new GenericInternalRow(Array[Any](hexLen / 2L,
          UTF8String.fromString(digestHex(chunkDigest.digest()))))
        hexLen = 0L
      }
      off += n
    }
    if (hexLen > 0L) {
      chunks += new GenericInternalRow(Array[Any](hexLen / 2L,
        UTF8String.fromString(digestHex(chunkDigest.digest()))))
    }
    new GenericArrayData(chunks.toArray)
  }

  /** Hex-render payload[start, start+len) and emit one chunk row:
    * (len, md5 of the hex rendering). The hex is STREAMED into the
    * MessageDigest in fixed 32 KiB blocks rather than materialized as
    * one 2·len array — so chunk emission is O(1) extra memory no
    * matter how large a boundary-free chunk grows, and the 2·len Int
    * overflow a >1 GiB single-chunk payload would have hit
    * (NegativeArraySizeException) cannot occur. Digest value is
    * byte-identical to digesting the full rendering at once. */
  private def emitGearChunk(digest: MessageDigest, payload: Array[Byte],
      start: Int, len: Int): GenericInternalRow = {
    // sized to the chunk, capped at one 32 KiB digest block — the
    // common ~64-byte chunk allocates ~128 B, not a fixed 64 KiB
    val block = new Array[Byte](2 * math.min(32768, len))
    digest.reset()
    var done = 0
    while (done < len) {
      val n = math.min(32768, len - done)
      var i = 0
      while (i < n) {
        val b = payload(start + done + i) & 0xff
        block(2 * i) = hexBytes(b >>> 4)
        block(2 * i + 1) = hexBytes(b & 0xf)
        i += 1
      }
      digest.update(block, 0, 2 * n)
      done += n
    }
    val d = digest.digest()
    val out = new Array[Char](32)
    var j = 0
    while (j < 16) {
      out(2 * j) = hexChars((d(j) >> 4) & 0xf)
      out(2 * j + 1) = hexChars(d(j) & 0xf)
      j += 1
    }
    new GenericInternalRow(Array[Any](len.toLong,
      UTF8String.fromString(new String(out))))
  }

  /** The byte-rolling gear kernel (called from generated code):
    * h = (16h + b·2654435761) mod 2³², cut after any byte with
    * h < 2²⁶, NO state reset at boundaries (see [[GearChunks]] for
    * why that statelessness is load-bearing). */
  def computeGear(payload: Array[Byte]): ArrayData = {
    if (payload.isEmpty) return new GenericArrayData(Array.empty[Any])
    val digest = md.get()
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Any]
    var h = 0L
    var start = 0
    var i = 0
    while (i < payload.length) {
      h = ((h << 4) + (payload(i) & 0xffL) * 2654435761L) & 0xFFFFFFFFL
      if (h < 67108864L) {
        chunks += emitGearChunk(digest, payload, start, i + 1 - start)
        start = i + 1
      }
      i += 1
    }
    if (start < payload.length) {
      chunks += emitGearChunk(digest, payload, start, payload.length - start)
    }
    new GenericArrayData(chunks.toArray)
  }

  /** The FastCDC-clamped gear kernel (called from generated code):
    * same rolling h as [[computeGear]], but a boundary candidate is
    * HONORED only once ≥ minChunk bytes have accumulated since the
    * last cut, and a cut is FORCED at maxChunk bytes regardless of
    * content. The gear state itself keeps rolling uninterrupted, so
    * re-anchoring survives: after an edit, the first honored boundary
    * ≥ minChunk past the realignment point puts every later cut back
    * in lockstep with the unedited twin.
    *
    * Why the clamp exists (the m52 r15 hazard): gear(0) = 0, so a run
    * of ≥ 8 zero bytes drives h to 0 permanently and EVERY subsequent
    * zero byte satisfies h < 2²⁶ — zero/padding-heavy payloads (sparse
    * files, uncompressed media, disk images) degenerate to 1-byte
    * chunks, ~64× the designed row volume and an md5 per byte. The
    * min clamp caps that worst case at bytes/minChunk rows; the max
    * clamp bounds single-chunk memory AND makes pathological
    * boundary-free payloads (high-entropy runs that never hit the
    * mask) emit bounded chunks. Cuts become a function of the previous
    * cut (stateful), which is why the stateless [[computeGear]] rule
    * is kept for the lag-window-oracle-gated query and this variant
    * ships as the production tier. */
  def computeGearClamped(payload: Array[Byte], minChunk: Int,
      maxChunk: Int): ArrayData = {
    if (payload.isEmpty) return new GenericArrayData(Array.empty[Any])
    val digest = md.get()
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Any]
    var h = 0L
    var start = 0
    var i = 0
    while (i < payload.length) {
      h = ((h << 4) + (payload(i) & 0xffL) * 2654435761L) & 0xFFFFFFFFL
      val len = i + 1 - start
      if ((h < 67108864L && len >= minChunk) || len >= maxChunk) {
        chunks += emitGearChunk(digest, payload, start, len)
        start = i + 1
      }
      i += 1
    }
    if (start < payload.length) {
      chunks += emitGearChunk(digest, payload, start, payload.length - start)
    }
    new GenericArrayData(chunks.toArray)
  }
}
