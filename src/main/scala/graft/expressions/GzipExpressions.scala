package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Native Catalyst expressions for gzip compress/decompress (F5).
  *
  * The reference requires gzip in two hot paths (payload compression before
  * HTTP/broker publish — Source/Helpers/Gzip.cs:9-18, MessageQueueService.cs
  * :142-151). A Scala UDF works but pays per-row serialization and blocks
  * whole-stage codegen around the call; these expressions generate a direct
  * static call inside the produced code, so the surrounding projection stays
  * in one codegen span — the "(b) custom Catalyst Expression beats a UDF"
  * rung of the extension ladder.
  */
object GzipCodec {
  // r20 MEASURED: the streaming JDK path allocates a NATIVE zlib stream
  // (Deflater/Inflater) per row; the native memory is only released by each
  // object's Cleaner at GC time, so a corpus-scale pass piles up tens of
  // thousands of un-ended zlib streams and the query's cost GROWS with JVM
  // age (same-JVM reps at sf1.0: exec 1.45 -> 11.9 -> 6.8 s on identical
  // plans; the full-run artifact read 8.0 s vs 0.5-2.5 s isolated;
  // BENCHNOTES "Comment-only A/Bs"). Task/driver threads are long-lived,
  // so one ThreadLocal Deflater/Inflater with reset() per call removes
  // the native churn entirely. Output stays BYTE-IDENTICAL to
  // GZIPOutputStream: same fixed 10-byte header (no MTIME, XFL=0,
  // OS=0xff — the JDK's defaults, which the reference's Gzip.cs relies on
  // for determinism), same Deflater(DEFAULT_COMPRESSION, nowrap=true)
  // deflate stream (the byte sequence depends only on input + deflater
  // params, not on how the caller chunks the output reads), same
  // CRC32+ISIZE little-endian trailer. GzipSpec pins codec == fresh JDK
  // stream bytes.
  private val deflaterTL = ThreadLocal.withInitial[java.util.zip.Deflater](
    () => new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true))
  private val inflaterTL = ThreadLocal.withInitial[java.util.zip.Inflater](
    () => new java.util.zip.Inflater(true))
  private val crcTL = ThreadLocal.withInitial[java.util.zip.CRC32](
    () => new java.util.zip.CRC32())
  private val bufTL = ThreadLocal.withInitial[Array[Byte]](
    () => new Array[Byte](8192))

  // OS byte derived from a one-time GZIPOutputStream probe at class init
  // (r20 advice): Java 16+ writes 0xff ("unknown", JDK-8244706), older
  // JREs wrote 0 — deriving it from the RUNNING JVM's encoder enforces
  // the byte-identity contract at class load, not only when the pinning
  // spec happens to run on the deploy JVM.
  private val osByte: Byte = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos); g.close()
    bos.toByteArray()(9)
  }
  private val header =
    Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, osByte)

  private def writeIntLE(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
    out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
  }

  def compress(input: Array[Byte]): Array[Byte] = {
    val d = deflaterTL.get(); d.reset()
    val c = crcTL.get(); c.reset(); c.update(input, 0, input.length)
    val out = new java.io.ByteArrayOutputStream(input.length / 2 + 32)
    out.write(header, 0, header.length)
    d.setInput(input); d.finish()
    val buf = bufTL.get()
    while (!d.finished()) {
      val n = d.deflate(buf)
      if (n > 0) out.write(buf, 0, n)
    }
    writeIntLE(out, c.getValue); writeIntLE(out, input.length.toLong)
    out.toByteArray
  }

  def decompress(input: Array[Byte]): Array[Byte] = {
    // Fast path: the plain single-member stream our compressor emits
    // (FLG=0, CM=deflate). Anything else — extra header fields, header
    // CRC, multi-member concatenation — falls back to GZIPInputStream,
    // which handles the full format.
    if (input.length < 18 || input(0) != 0x1f || input(1) != 0x8b.toByte ||
        input(2) != 8 || input(3) != 0)
      return decompressStreaming(input)
    val inf = inflaterTL.get(); inf.reset()
    inf.setInput(input, 10, input.length - 10)
    val out = new java.io.ByteArrayOutputStream(math.max(64, input.length * 3))
    val buf = bufTL.get()
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (inf.needsInput() || inf.needsDictionary())
          // Truncated/abnormal stream — re-run through the streaming path
          // so the caller sees the JDK's error, not an infinite loop.
          return decompressStreaming(input)
      }
    } catch {
      case _: java.util.zip.DataFormatException =>
        // Corrupt deflate data: let GZIPInputStream produce its ZipException
        // so error semantics match the pre-r20 implementation.
        return decompressStreaming(input)
    }
    // A well-formed single member leaves exactly the 8 trailer bytes;
    // more remaining input means a concatenated multi-member stream.
    if (inf.getRemaining != 8) return decompressStreaming(input)
    val res = out.toByteArray
    val c = crcTL.get(); c.reset(); c.update(res, 0, res.length)
    val t = input.length - 8
    def le(i: Int): Long =
      (input(i) & 0xffL) | ((input(i + 1) & 0xffL) << 8) |
        ((input(i + 2) & 0xffL) << 16) | ((input(i + 3) & 0xffL) << 24)
    if (le(t) != c.getValue || le(t + 4) != (res.length & 0xffffffffL))
      throw new java.util.zip.ZipException("Corrupt GZIP trailer")
    res
  }

  private def decompressStreaming(input: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(input))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }
}

case class GzipCompress(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"gzip expects BINARY, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    GzipCodec.compress(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.GzipCodec.compress($c)")

  override protected def withNewChildInternal(newChild: Expression): GzipCompress =
    copy(child = newChild)
}

case class GzipDecompress(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"gunzip expects BINARY, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    GzipCodec.decompress(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.GzipCodec.decompress($c)")

  override protected def withNewChildInternal(newChild: Expression): GzipDecompress =
    copy(child = newChild)
}
