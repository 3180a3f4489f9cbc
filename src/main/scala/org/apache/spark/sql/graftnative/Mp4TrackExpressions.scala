package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MP4 per-track SAMPLE TABLES — one level deeper than [[Mp4Meta]]'s
  * mvhd fields, and the level a video ingestion pipeline actually
  * needs: which codecs a file carries, how many samples, and how many
  * media bytes, per track. The walk is the real ISO BMFF box
  * hierarchy: `moov → trak → mdia → { mdhd (per-track timescale +
  * duration, v0 AND v1 layouts), hdlr (handler fourcc: vide/soun),
  * minf → stbl → { stsd (first sample-entry fourcc = the codec),
  * stsz (BOTH modes: fixed sample_size, or per-sample u32 entries
  * summed), stts (n_samples = Σ counts; decode duration = Σ count ×
  * delta) } }` — unknown sibling boxes are skipped by length, torn
  * boxes reject the file, and the stts sample count must AGREE with
  * stsz's (the classic inconsistent-file gate). This is the inventory
  * pass that decides WHETHER to fetch mdat bytes; per-sample byte
  * RANGES (stsc/stco/co64 resolution) live in [[Mp4Samples]].
  */
case class Mp4Tracks(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = Mp4Tracks.schema
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    Mp4Tracks.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.Mp4Tracks.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Mp4Tracks {
  val schema: StructType = StructType(Seq(
    StructField("brand", StringType, nullable = false),
    StructField("tracks", ArrayType(StructType(Seq(
      StructField("handler", StringType, nullable = true),
      StructField("codec", StringType, nullable = true),
      StructField("timescale", LongType, nullable = true),
      StructField("duration", LongType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("total_bytes", LongType, nullable = true))),
      containsNull = false), nullable = false)))

  private[graftnative] def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private[graftnative] def beU32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1).toLong << 16) |
      (u8(b, i + 2).toLong << 8) | u8(b, i + 3).toLong
  private[graftnative] def beU64(b: Array[Byte], i: Int): Long =
    (beU32(b, i) << 32) | beU32(b, i + 4)
  private[graftnative] def is4cc(b: Array[Byte], i: Int, s: String): Boolean =
    b(i) == s.charAt(0) && b(i + 1) == s.charAt(1) &&
      b(i + 2) == s.charAt(2) && b(i + 3) == s.charAt(3)

  private[graftnative] def boxLen(b: Array[Byte], i: Int, limit: Int): Long = {
    if (i + 8 > limit) return -1
    val s = beU32(b, i)
    val len = if (s == 0) (limit - i).toLong
      else if (s == 1) { if (i + 16 > limit) return -1; beU64(b, i + 8) }
      else s
    if (len < 8 || i + len > limit) -1 else len
  }

  /** Find the first child box `name` inside `[from, limit)`; returns
    * (payloadStart, payloadEnd) or null.
    */
  private[graftnative] def child(b: Array[Byte], from: Int, limit: Int,
      name: String): (Int, Int) = {
    var i = from
    // bounded by byte progress alone: boxLen ≥ 8 guarantees termination,
    // and a fixed sibling cap would reject well-formed files with many
    // boxes (not a format rule)
    while (i + 8 <= limit) {
      val len = boxLen(b, i, limit)
      if (len < 0) return null
      if (is4cc(b, i + 4, name)) {
        val hdr = if (beU32(b, i) == 1) 16 else 8
        return ((i + hdr, (i + len).toInt))
      }
      i += len.toInt
    }
    null
  }

  private def track(b: Array[Byte], from: Int, limit: Int): InternalRow = {
    val mdia = child(b, from, limit, "mdia")
    if (mdia == null) return null
    // mdhd
    var timescale: Any = null
    var duration: Any = null
    val mdhd = child(b, mdia._1, mdia._2, "mdhd")
    if (mdhd != null) {
      val p = mdhd._1
      val v = u8(b, p)
      if (v == 0 && p + 20 <= mdhd._2) {
        timescale = beU32(b, p + 12)
        duration = beU32(b, p + 16)
      } else if (v == 1 && p + 32 <= mdhd._2) {
        timescale = beU32(b, p + 20)
        duration = beU64(b, p + 24)
      } else return null
    }
    // hdlr: version/flags(4) pre_defined(4) handler(4)
    var handler: UTF8String = null
    val hdlr = child(b, mdia._1, mdia._2, "hdlr")
    if (hdlr != null && hdlr._1 + 12 <= hdlr._2)
      handler = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(b, hdlr._1 + 8, hdlr._1 + 12))
    val minf = child(b, mdia._1, mdia._2, "minf")
    if (minf == null) return null
    val stbl = child(b, minf._1, minf._2, "stbl")
    if (stbl == null) return null
    // stsd: version/flags(4) entry_count(4) [size(4) fourcc(4) ...]
    var codec: UTF8String = null
    val stsd = child(b, stbl._1, stbl._2, "stsd")
    if (stsd != null && stsd._1 + 16 <= stsd._2 && beU32(b, stsd._1 + 4) >= 1)
      codec = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(b, stsd._1 + 12, stsd._1 + 16))
    // stsz: version/flags(4) sample_size(4) sample_count(4) [sizes...]
    var nSamples = -1L
    var totalBytes = -1L
    val stsz = child(b, stbl._1, stbl._2, "stsz")
    if (stsz != null && stsz._1 + 12 <= stsz._2) {
      val fixed = beU32(b, stsz._1 + 4)
      val count = beU32(b, stsz._1 + 8)
      if (count > (1 << 22)) return null
      nSamples = count
      if (fixed != 0) totalBytes = fixed * count
      else {
        if (stsz._1 + 12 + 4 * count > stsz._2) return null
        var s = 0L
        var k = 0
        while (k < count) { s += beU32(b, stsz._1 + 12 + 4 * k); k += 1 }
        totalBytes = s
      }
    }
    // stts: version/flags(4) entry_count(4) [(count, delta)...]
    val stts = child(b, stbl._1, stbl._2, "stts")
    if (stts != null && stts._1 + 8 <= stts._2) {
      val nEnt = beU32(b, stts._1 + 4)
      if (nEnt > (1 << 20) || stts._1 + 8 + 8 * nEnt > stts._2) return null
      var cnt = 0L
      var dur = 0L
      var k = 0
      while (k < nEnt) {
        val c = beU32(b, stts._1 + 8 + 8 * k)
        val d = beU32(b, stts._1 + 12 + 8 * k)
        cnt += c
        dur += c * d
        k += 1
      }
      // consistency gate: stts and stsz must agree on the sample count
      if (nSamples >= 0 && cnt != nSamples) return null
      if (nSamples < 0) nSamples = cnt
      if (duration == null) duration = dur
    }
    new GenericInternalRow(Array[Any](handler, codec, timescale, duration,
      if (nSamples < 0) null else nSamples,
      if (totalBytes < 0) null else totalBytes))
  }

  def compute(b: Array[Byte]): InternalRow = {
    if (b.length < 16 || boxLen(b, 0, b.length) < 0 || !is4cc(b, 4, "ftyp"))
      return null
    val brand = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, 8, 12))
    var i = 0
    while (i + 8 <= b.length) { // byte-progress bounded (boxLen ≥ 8)
      val len = boxLen(b, i, b.length)
      if (len < 0) return null
      if (is4cc(b, i + 4, "moov")) {
        val limit = (i + len).toInt
        val from = i + (if (beU32(b, i) == 1) 16 else 8)
        val tracks = new java.util.ArrayList[InternalRow]()
        var j = from
        while (j + 8 <= limit) { // byte-progress bounded (boxLen ≥ 8)
          val clen = boxLen(b, j, limit)
          if (clen < 0) return null
          if (is4cc(b, j + 4, "trak")) {
            val hdr = if (beU32(b, j) == 1) 16 else 8
            val t = track(b, j + hdr, (j + clen).toInt)
            if (t == null) return null
            tracks.add(t)
          }
          j += clen.toInt
        }
        val arr = new Array[Any](tracks.size())
        var k = 0
        while (k < arr.length) { arr(k) = tracks.get(k); k += 1 }
        return new GenericInternalRow(
          Array[Any](brand, new GenericArrayData(arr)))
      }
      i += len.toInt
    }
    null
  }
}

/** MP4 per-sample BYTE RANGES — the step past [[Mp4Tracks]]'s
  * inventory: stsc (sample-to-chunk runs) and stco/co64 (chunk
  * offsets) resolved against stsz into one `(offset, size)` per
  * sample, which is exactly what a fetch layer needs to pull media
  * bytes without parsing codecs. The resolution is the real ISO BMFF
  * algorithm: stsc entries `(first_chunk, samples_per_chunk, desc)`
  * are runs over 1-based chunks; a chunk's samples are contiguous from
  * its stco/co64 offset; the walk must land EXACTLY on stsz's sample
  * count (the cross-table consistency gate), and every resolved range
  * must lie inside the file. Tracks without the full stbl triple
  * reject the file — an inventory pass that silently dropped a track's
  * ranges would be indistinguishable from an empty track.
  */
case class Mp4Samples(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = Mp4Samples.schema
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    Mp4Samples.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.Mp4Samples.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Mp4Samples {
  val schema: StructType = StructType(Seq(
    StructField("brand", StringType, nullable = false),
    StructField("tracks", ArrayType(StructType(Seq(
      StructField("handler", StringType, nullable = true),
      StructField("codec", StringType, nullable = true),
      StructField("offsets", ArrayType(LongType, containsNull = false),
        nullable = false),
      StructField("sizes", ArrayType(LongType, containsNull = false),
        nullable = false))), containsNull = false), nullable = false)))

  private val MaxSamples = 1 << 16

  import Mp4Tracks.{beU32, beU64, is4cc, boxLen, child}

  /** Resolve one trak's stbl into parallel (offsets, sizes); null on
    * any missing table, cross-table disagreement, or out-of-file range.
    */
  private[graftnative] def resolve(b: Array[Byte], stblFrom: Int,
      stblEnd: Int): (Array[Long], Array[Long]) = {
    // stsz: sizes
    val stsz = child(b, stblFrom, stblEnd, "stsz")
    if (stsz == null || stsz._1 + 12 > stsz._2) return null
    val fixed = beU32(b, stsz._1 + 4)
    val count = beU32(b, stsz._1 + 8)
    if (count > MaxSamples) return null
    val n = count.toInt
    val sizes = new Array[Long](n)
    if (fixed != 0) java.util.Arrays.fill(sizes, fixed)
    else {
      if (stsz._1 + 12 + 4L * n > stsz._2) return null
      var k = 0
      while (k < n) { sizes(k) = beU32(b, stsz._1 + 12 + 4 * k); k += 1 }
    }
    // stco (u32) or co64 (u64): chunk offsets
    var nChunks = 0
    var chunkAt: Int = -1
    var co64 = false
    val stco = child(b, stblFrom, stblEnd, "stco")
    val c64 = if (stco == null) child(b, stblFrom, stblEnd, "co64") else null
    if (stco != null) {
      if (stco._1 + 8 > stco._2) return null
      nChunks = beU32(b, stco._1 + 4).toInt
      if (stco._1 + 8 + 4L * nChunks > stco._2) return null
      chunkAt = stco._1 + 8
    } else if (c64 != null) {
      if (c64._1 + 8 > c64._2) return null
      nChunks = beU32(b, c64._1 + 4).toInt
      if (c64._1 + 8 + 8L * nChunks > c64._2) return null
      chunkAt = c64._1 + 8
      co64 = true
    } else return null
    def chunkOffset(c: Int): Long =
      if (co64) beU64(b, chunkAt + 8 * c) else beU32(b, chunkAt + 4 * c)
    // stsc: (first_chunk, samples_per_chunk, desc) runs, 1-based
    val stsc = child(b, stblFrom, stblEnd, "stsc")
    if (stsc == null || stsc._1 + 8 > stsc._2) return null
    val nRuns = beU32(b, stsc._1 + 4).toInt
    if (nRuns < 1 || stsc._1 + 8 + 12L * nRuns > stsc._2) return null
    def runFirst(r: Int): Long = beU32(b, stsc._1 + 8 + 12 * r)
    def runSpc(r: Int): Long = beU32(b, stsc._1 + 8 + 12 * r + 4)
    if (runFirst(0) != 1) return null
    val offsets = new Array[Long](n)
    var sample = 0
    var run = 0
    var c = 1 // 1-based chunk index
    while (c <= nChunks && sample < n) {
      while (run + 1 < nRuns && runFirst(run + 1) <= c) run += 1
      val spc = runSpc(run)
      if (spc < 1 || spc > n) return null
      var off = chunkOffset(c - 1)
      var k = 0L
      while (k < spc && sample < n) {
        if (off < 0 || off + sizes(sample) > b.length) return null
        offsets(sample) = off
        off += sizes(sample)
        sample += 1
        k += 1
      }
      // a chunk whose run says more samples than stsz has left is a
      // cross-table disagreement — unless it was the final chunk
      if (k < spc && c < nChunks) return null
      c += 1
    }
    if (sample != n) return null // stco/stsc walk must land on stsz count
    (offsets, sizes)
  }

  def compute(b: Array[Byte]): InternalRow = {
    if (b.length < 16 || boxLen(b, 0, b.length) < 0 || !is4cc(b, 4, "ftyp"))
      return null
    val brand = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, 8, 12))
    var i = 0
    while (i + 8 <= b.length) {
      val len = boxLen(b, i, b.length)
      if (len < 0) return null
      if (is4cc(b, i + 4, "moov")) {
        val limit = (i + len).toInt
        val from = i + (if (beU32(b, i) == 1) 16 else 8)
        val tracks = new java.util.ArrayList[InternalRow]()
        var j = from
        while (j + 8 <= limit) {
          val clen = boxLen(b, j, limit)
          if (clen < 0) return null
          if (is4cc(b, j + 4, "trak")) {
            val hdr = if (beU32(b, j) == 1) 16 else 8
            val mdia = child(b, j + hdr, (j + clen).toInt, "mdia")
            if (mdia == null) return null
            var handler: UTF8String = null
            val hdlr = child(b, mdia._1, mdia._2, "hdlr")
            if (hdlr != null && hdlr._1 + 12 <= hdlr._2)
              handler = UTF8String.fromBytes(
                java.util.Arrays.copyOfRange(b, hdlr._1 + 8, hdlr._1 + 12))
            val minf = child(b, mdia._1, mdia._2, "minf")
            if (minf == null) return null
            val stbl = child(b, minf._1, minf._2, "stbl")
            if (stbl == null) return null
            var codec: UTF8String = null
            val stsd = child(b, stbl._1, stbl._2, "stsd")
            if (stsd != null && stsd._1 + 16 <= stsd._2 &&
                beU32(b, stsd._1 + 4) >= 1)
              codec = UTF8String.fromBytes(
                java.util.Arrays.copyOfRange(b, stsd._1 + 12, stsd._1 + 16))
            val r = resolve(b, stbl._1, stbl._2)
            if (r == null) return null
            tracks.add(new GenericInternalRow(Array[Any](handler, codec,
              new GenericArrayData(r._1), new GenericArrayData(r._2))))
          }
          j += clen.toInt
        }
        val arr = new Array[Any](tracks.size())
        var k = 0
        while (k < arr.length) { arr(k) = tracks.get(k); k += 1 }
        return new GenericInternalRow(
          Array[Any](brand, new GenericArrayData(arr)))
      }
      i += len.toInt
    }
    null
  }
}

/** MJPEG-in-MP4 frame sampling — the MP4 twin of [[AviMjpegFrames]]:
  * the video track's samples (resolved through the REAL
  * stsc/stco/stsz machinery in [[Mp4Samples]]) are complete baseline
  * JPEGs decoded through the same [[JpegCodec]], with the same
  * stride-sampling contract (skipped samples cost their byte range,
  * never a decode) and the SAME output row shape — on identical frame
  * payloads the two containers must produce byte-identical statistics
  * (spec-pinned). Accepted stsd codecs: `mjpa` / `jpeg` (the QuickTime
  * and ISO MJPEG sample-entry names).
  */
case class Mp4MjpegFrames(child: Expression, stride: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(stride > 0, s"stride must be positive, got $stride")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = AviMjpegFrames.schema

  override def nullSafeEval(v: Any): Any =
    Mp4MjpegFrames.compute(v.asInstanceOf[Array[Byte]], stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.Mp4MjpegFrames.compute($c, $stride)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Mp4MjpegFrames {
  private val CodecMjpg = UTF8String.fromString("mjpg")

  private def bad: InternalRow = new GenericInternalRow(
    Array[Any](null, null, null, null, null, null, null, null))

  def compute(b: Array[Byte], stride: Int): InternalRow = {
    val all = Mp4Samples.compute(b)
    if (all == null) return bad
    val tracks = all.getArray(1)
    var ti = 0
    while (ti < tracks.numElements()) {
      val t = tracks.getStruct(ti, 4)
      val codec = if (t.isNullAt(1)) null else t.getUTF8String(1).toString
      if (codec == "mjpa" || codec == "jpeg") {
        val offs = t.getArray(2).toLongArray()
        val sizes = t.getArray(3).toLongArray()
        val idx = new java.util.ArrayList[Integer]()
        val rs = new java.util.ArrayList[java.lang.Long]()
        val gs = new java.util.ArrayList[java.lang.Long]()
        val bs = new java.util.ArrayList[java.lang.Long]()
        var w = -1
        var h = -1
        var n = 0
        while (n < offs.length) {
          if (n % stride == 0) {
            val off = offs(n).toInt
            val sz = sizes(n).toInt
            if (sz < 2 || (b(off) & 0xFF) != 0xFF ||
                (b(off + 1) & 0xFF) != 0xD8) return bad
            val fb = java.util.Arrays.copyOfRange(b, off, off + sz)
            val r = JpegCodec.decode(fb)
            if (r.isNullAt(1)) return bad
            val fw = r.getInt(1); val fh = r.getInt(2); val ch = r.getInt(3)
            if (w < 0) { w = fw; h = fh }
            else if (w != fw || h != fh) return bad
            val px = r.getBinary(4)
            var rr = 0L; var gg = 0L; var bb = 0L
            if (ch == 3) {
              var p = 0
              while (p < px.length) {
                rr += px(p) & 0xFF; gg += px(p + 1) & 0xFF; bb += px(p + 2) & 0xFF
                p += 3
              }
            } else {
              var p = 0
              while (p < px.length) { rr += px(p) & 0xFF; p += 1 }
              gg = rr; bb = rr
            }
            idx.add(n); rs.add(rr); gs.add(gg); bs.add(bb)
          }
          n += 1
        }
        if (n == 0 || idx.isEmpty) return bad
        val m = idx.size()
        val ia = new Array[Int](m)
        val ra = new Array[Long](m)
        val ga = new Array[Long](m)
        val ba = new Array[Long](m)
        var k = 0
        while (k < m) {
          ia(k) = idx.get(k); ra(k) = rs.get(k); ga(k) = gs.get(k)
          ba(k) = bs.get(k)
          k += 1
        }
        return new GenericInternalRow(Array[Any](w, h, CodecMjpg, n,
          new GenericArrayData(ia), new GenericArrayData(ra),
          new GenericArrayData(ga), new GenericArrayData(ba)))
      }
      ti += 1
    }
    bad
  }
}

/** Fixture: a complete `ftyp` + `moov` with real sample tables. Track
  * 0 is always video (`vide`/`avc1`, timescale 30000, delta 1001,
  * PER-SAMPLE stsz whose sizes are seed formulas); odd seeds add an
  * audio track (`soun`/`mp4a`, timescale 48000, delta 1024, FIXED
  * stsz — both stsz modes on the oracle path). mdhd durations equal
  * the stts sums by construction.
  */
object Mp4TracksSynth {
  private def fm(a: Long, m: Long): Int = java.lang.Math.floorMod(a, m).toInt

  def nVideo(seed: Long): Int = 10 + fm(seed, 20)
  def videoSize(seed: Long, i: Int): Long = 100 + fm(seed * 7 + i * 13, 900)
  def nAudio(seed: Long): Int = 20 + fm(seed, 30)
  def audioSize(seed: Long): Long = 64 + fm(seed, 64)
  def hasAudio(seed: Long): Boolean = fm(seed, 2) == 1

  private final class Box(val name: String) {
    val out = new java.io.ByteArrayOutputStream()
    def u8v(v: Int): Unit = out.write(v & 0xFF)
    def u32(v: Long): Unit = {
      out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    def ascii(s: String): Unit = {
      var i = 0
      while (i < s.length) { out.write(s.charAt(i)); i += 1 }
    }
    def raw(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    def bytes: Array[Byte] = {
      val body = out.toByteArray
      val full = new java.io.ByteArrayOutputStream()
      val len = body.length + 8
      full.write((len >> 24) & 0xFF); full.write((len >> 16) & 0xFF)
      full.write((len >> 8) & 0xFF); full.write(len & 0xFF)
      var i = 0
      while (i < 4) { full.write(name.charAt(i)); i += 1 }
      full.write(body, 0, body.length)
      full.toByteArray
    }
  }

  private def trak(seed: Long, video: Boolean): Array[Byte] = {
    val n = if (video) nVideo(seed) else nAudio(seed)
    val delta = if (video) 1001L else 1024L
    val timescale = if (video) 30000L else 48000L
    val mdhd = new Box("mdhd")
    mdhd.u32(0) // version/flags
    mdhd.u32(0); mdhd.u32(0) // times
    mdhd.u32(timescale)
    mdhd.u32(n * delta)
    mdhd.u32(0x55C40000L) // language + pre_defined
    val hdlr = new Box("hdlr")
    hdlr.u32(0); hdlr.u32(0)
    hdlr.ascii(if (video) "vide" else "soun")
    hdlr.u32(0); hdlr.u32(0); hdlr.u32(0)
    hdlr.u8v(0) // empty name
    val stsd = new Box("stsd")
    stsd.u32(0); stsd.u32(1)
    stsd.u32(16); stsd.ascii(if (video) "avc1" else "mp4a")
    stsd.u32(0); stsd.u32(0) // stub sample-entry tail
    val stts = new Box("stts")
    stts.u32(0); stts.u32(1)
    stts.u32(n); stts.u32(delta)
    val stsz = new Box("stsz")
    stsz.u32(0)
    if (video) {
      stsz.u32(0); stsz.u32(n)
      var i = 0
      while (i < n) { stsz.u32(videoSize(seed, i)); i += 1 }
    } else {
      stsz.u32(audioSize(seed)); stsz.u32(n)
    }
    val stbl = new Box("stbl")
    stbl.raw(stsd.bytes); stbl.raw(stts.bytes); stbl.raw(stsz.bytes)
    val minf = new Box("minf")
    minf.raw(stbl.bytes)
    val mdia = new Box("mdia")
    mdia.raw(mdhd.bytes); mdia.raw(hdlr.bytes); mdia.raw(minf.bytes)
    val t = new Box("trak")
    t.raw(mdia.bytes)
    t.bytes
  }

  def mp4Bytes(seed: Long): Array[Byte] = {
    if (seed < 0) return null
    val ftyp = new Box("ftyp")
    ftyp.ascii("isom"); ftyp.u32(512); ftyp.ascii("isom"); ftyp.ascii("mp41")
    val mvhd = new Box("mvhd")
    mvhd.u32(0); mvhd.u32(0); mvhd.u32(0)
    mvhd.u32(1000); mvhd.u32(60000)
    var k = 0
    while (k < 20) { mvhd.u32(0); k += 1 }
    val moov = new Box("moov")
    moov.raw(mvhd.bytes)
    moov.raw(trak(seed, video = true))
    if (hasAudio(seed)) moov.raw(trak(seed, video = false))
    val out = new java.io.ByteArrayOutputStream()
    val f = ftyp.bytes
    val m = moov.bytes
    out.write(f, 0, f.length)
    out.write(m, 0, m.length)
    out.toByteArray
  }
}

/** Fixture with REAL chunked sample layout: the [[Mp4TracksSynth]]
  * track shapes extended with stsc/stco and an mdat whose byte ranges
  * the tables really address. Layout contract (what the oracle
  * replays): a `free` box pads the header region to absolute offset
  * 4096, mdat's payload starts at 4104; video samples sit in chunks of
  * 4 (stsc runs `[(1,4)] (+ [(last,rem)])`) with a 16-byte gap BEFORE
  * each chunk, so video sample j starts at
  * `4104 + 16·(j/4 + 1) − 16 ... ` — concretely
  * `offset(j) = 4104 + 16·(j div 4) + Σ sizes(0..j−1)`; the audio
  * track (odd seeds) is ONE chunk (fixed-size samples) at
  * `4104 + 16·ceil(nv/4) + Σ video sizes`. Even seeds carry the chunk
  * offsets as stco (u32), odd seeds as co64 (u64) — both offset-box
  * forms sit on the oracle path.
  */
object Mp4SamplesSynth {
  import Mp4TracksSynth.{nVideo, videoSize, nAudio, audioSize, hasAudio}

  def videoChunks(seed: Long): Int = (nVideo(seed) + 3) / 4
  def videoOffset(seed: Long, j: Int): Long = {
    var s = 0L
    var k = 0
    while (k < j) { s += videoSize(seed, k); k += 1 }
    4104L + 16L * (j / 4) + s
  }
  def audioBase(seed: Long): Long = {
    var s = 0L
    var k = 0
    while (k < nVideo(seed)) { s += videoSize(seed, k); k += 1 }
    4104L + 16L * videoChunks(seed) + s
  }

  private final class Box(val name: String) {
    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = {
      out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    def u64(v: Long): Unit = { u32(v >>> 32); u32(v & 0xFFFFFFFFL) }
    def ascii(s: String): Unit = {
      var i = 0
      while (i < s.length) { out.write(s.charAt(i)); i += 1 }
    }
    def raw(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    def bytes: Array[Byte] = {
      val body = out.toByteArray
      val full = new java.io.ByteArrayOutputStream()
      val len = body.length + 8
      full.write((len >> 24) & 0xFF); full.write((len >> 16) & 0xFF)
      full.write((len >> 8) & 0xFF); full.write(len & 0xFF)
      var i = 0
      while (i < 4) { full.write(name.charAt(i)); i += 1 }
      full.write(body, 0, body.length)
      full.toByteArray
    }
  }

  /** One trak with the full stbl: stsd/stts/stsz/stsc/stco-or-co64. */
  private[graftnative] def trakChunked(handler: String, codec: String,
      timescale: Long, delta: Long, sizes: Array[Long], fixedSize: Long,
      chunkOffsets: Array[Long], stscRuns: Array[(Long, Long)],
      useCo64: Boolean): Array[Byte] = {
    val n = sizes.length
    val mdhd = new Box("mdhd")
    mdhd.u32(0); mdhd.u32(0); mdhd.u32(0)
    mdhd.u32(timescale); mdhd.u32(n * delta); mdhd.u32(0x55C40000L)
    val hdlr = new Box("hdlr")
    hdlr.u32(0); hdlr.u32(0); hdlr.ascii(handler)
    hdlr.u32(0); hdlr.u32(0); hdlr.u32(0); hdlr.out.write(0)
    val stsd = new Box("stsd")
    stsd.u32(0); stsd.u32(1)
    stsd.u32(16); stsd.ascii(codec); stsd.u32(0); stsd.u32(0)
    val stts = new Box("stts")
    stts.u32(0); stts.u32(1); stts.u32(n); stts.u32(delta)
    val stsz = new Box("stsz")
    stsz.u32(0)
    if (fixedSize != 0) { stsz.u32(fixedSize); stsz.u32(n) }
    else {
      stsz.u32(0); stsz.u32(n)
      var i = 0
      while (i < n) { stsz.u32(sizes(i)); i += 1 }
    }
    val stsc = new Box("stsc")
    stsc.u32(0); stsc.u32(stscRuns.length)
    stscRuns.foreach { case (first, spc) =>
      stsc.u32(first); stsc.u32(spc); stsc.u32(1)
    }
    val co = new Box(if (useCo64) "co64" else "stco")
    co.u32(0); co.u32(chunkOffsets.length)
    chunkOffsets.foreach(o => if (useCo64) co.u64(o) else co.u32(o))
    val stbl = new Box("stbl")
    stbl.raw(stsd.bytes); stbl.raw(stts.bytes); stbl.raw(stsz.bytes)
    stbl.raw(stsc.bytes); stbl.raw(co.bytes)
    val minf = new Box("minf")
    minf.raw(stbl.bytes)
    val mdia = new Box("mdia")
    mdia.raw(mdhd.bytes); mdia.raw(hdlr.bytes); mdia.raw(minf.bytes)
    val t = new Box("trak")
    t.raw(mdia.bytes)
    t.bytes
  }

  /** Assemble ftyp + moov + free-pad-to-4096 + mdat covering `end`. */
  private[graftnative] def assemble(traks: Seq[Array[Byte]],
      payload: Seq[(Long, Array[Byte])], end: Long): Array[Byte] = {
    val ftyp = new Box("ftyp")
    ftyp.ascii("isom"); ftyp.u32(512); ftyp.ascii("isom"); ftyp.ascii("mp41")
    val mvhd = new Box("mvhd")
    mvhd.u32(0); mvhd.u32(0); mvhd.u32(0); mvhd.u32(1000); mvhd.u32(60000)
    var k = 0
    while (k < 20) { mvhd.u32(0); k += 1 }
    val moov = new Box("moov")
    moov.raw(mvhd.bytes)
    traks.foreach(moov.raw)
    val f = ftyp.bytes
    val m = moov.bytes
    val headLen = f.length + m.length
    if (headLen + 8 > 4096) return null // fixture envelope
    val out = new java.io.ByteArrayOutputStream()
    out.write(f, 0, f.length)
    out.write(m, 0, m.length)
    // free box padding to absolute 4096
    val freeLen = 4096 - headLen
    out.write((freeLen >> 24) & 0xFF); out.write((freeLen >> 16) & 0xFF)
    out.write((freeLen >> 8) & 0xFF); out.write(freeLen & 0xFF)
    out.write('f'); out.write('r'); out.write('e'); out.write('e')
    var z = 8
    while (z < freeLen) { out.write(0); z += 1 }
    // mdat from 4096 covering [4104, end)
    val mdatLen = 8 + (end - 4104)
    out.write(((mdatLen >> 24) & 0xFF).toInt); out.write(((mdatLen >> 16) & 0xFF).toInt)
    out.write(((mdatLen >> 8) & 0xFF).toInt); out.write((mdatLen & 0xFF).toInt)
    out.write('m'); out.write('d'); out.write('a'); out.write('t')
    val body = new Array[Byte]((end - 4104).toInt)
    payload.foreach { case (off, bytes) =>
      System.arraycopy(bytes, 0, body, (off - 4104).toInt, bytes.length)
    }
    out.write(body, 0, body.length)
    out.toByteArray
  }

  def mp4SamplesBytes(seed: Long): Array[Byte] = {
    if (seed < 0) return null
    val nv = nVideo(seed)
    val vSizes = Array.tabulate(nv)(i => videoSize(seed, i))
    val vChunks = videoChunks(seed)
    val vOffsets = Array.tabulate(vChunks)(c => videoOffset(seed, 4 * c))
    val rem = nv % 4
    val vRuns =
      if (rem == 0 || vChunks == 1) Array((1L, math.min(nv, 4).toLong))
      else Array((1L, 4L), (vChunks.toLong, rem.toLong))
    val useCo64 = java.lang.Math.floorMod(seed, 2L) == 1L
    val traks = scala.collection.mutable.ArrayBuffer(
      trakChunked("vide", "avc1", 30000L, 1001L, vSizes, 0L, vOffsets,
        vRuns, useCo64))
    var end = {
      val lastStart = videoOffset(seed, nv - 1)
      lastStart + vSizes(nv - 1)
    }
    if (hasAudio(seed)) {
      val na = nAudio(seed)
      val asz = audioSize(seed)
      val base = audioBase(seed)
      traks += trakChunked("soun", "mp4a", 48000L, 1024L,
        Array.fill(na)(asz), asz, Array(base), Array((1L, na.toLong)),
        useCo64)
      end = base + na * asz
    }
    // deterministic payload bytes (unchecked by the key, but the ranges
    // must be real file bytes)
    assemble(traks.toSeq, Seq.empty, end)
  }

  /** MJPEG-in-MP4: the SAME JpegSynth frames the AVI twin packs, in
    * chunks of 2 with contiguous layout from 4104.
    */
  def mp4MjpegBytes(wL: Long, hL: Long, framesL: Long, seed: Long): Array[Byte] = {
    if (wL < 16 || hL < 16 || wL > 1024 || hL > 1024 ||
        wL % 16 != 0 || hL % 16 != 0 || framesL < 1 || framesL > 64)
      return null
    val frames = framesL.toInt
    val jpegs = new Array[Array[Byte]](frames)
    var f = 0
    while (f < frames) {
      jpegs(f) = JpegSynth.jpegBytes(wL, hL, seed + 131L * f, mode = 1)
      if (jpegs(f) == null) return null
      f += 1
    }
    val sizes = jpegs.map(_.length.toLong)
    val offsets = new Array[Long](frames)
    var off = 4104L
    f = 0
    while (f < frames) { offsets(f) = off; off += sizes(f); f += 1 }
    val nChunks = (frames + 1) / 2
    val chunkOffsets = Array.tabulate(nChunks)(c => offsets(2 * c))
    val runs =
      if (frames % 2 == 0 || nChunks == 1)
        Array((1L, math.min(frames, 2).toLong))
      else Array((1L, 2L), (nChunks.toLong, 1L))
    val trak = trakChunked("vide", "mjpa", 30000L, 1001L, sizes, 0L,
      chunkOffsets, runs, useCo64 = false)
    assemble(Seq(trak), offsets.zip(jpegs).toSeq, off)
  }
}

/** Expression wrapping [[Mp4TracksSynth.mp4Bytes]]. */
case class SynthMp4Tracks(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    Mp4TracksSynth.mp4Bytes(doc.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.Mp4TracksSynth.mp4Bytes($d);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Expression wrapping [[Mp4SamplesSynth.mp4SamplesBytes]]. */
case class SynthMp4Samples(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(doc: Any): Any =
    Mp4SamplesSynth.mp4SamplesBytes(doc.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.Mp4SamplesSynth.mp4SamplesBytes($d);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Expression wrapping [[Mp4SamplesSynth.mp4MjpegBytes]]. */
case class SynthMp4Mjpeg(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, LongType, LongType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(w: Any, h: Any, fr: Any, seed: Any): Any =
    Mp4SamplesSynth.mp4MjpegBytes(w.asInstanceOf[Long], h.asInstanceOf[Long],
      fr.asInstanceOf[Long], seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, fr, s) => s"""
      ${ev.value} = org.apache.spark.sql.graftnative.Mp4SamplesSynth.mp4MjpegBytes($w, $h, $fr, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object Mp4TrackFunctions {
  /** Column API: MP4 per-track sample tables (stsd/stsz/stts walk) (see
    * [[Mp4Tracks]]).
    */
  def mp4_tracks(payload: Column): Column =
    ExpressionUtils.column(Mp4Tracks(ExpressionUtils.expression(payload)))

  /** Column API: ftyp+moov fixture with real sample tables from a doc seed
    * (see [[Mp4TracksSynth]]).
    */
  def synth_mp4_tracks(doc: Column): Column =
    ExpressionUtils.column(SynthMp4Tracks(ExpressionUtils.expression(doc)))

  /** Column API: MP4 per-sample byte ranges: stsc/stco/co64 resolved
    * against stsz (see [[Mp4Samples]]).
    */
  def mp4_samples(payload: Column): Column =
    ExpressionUtils.column(Mp4Samples(ExpressionUtils.expression(payload)))

  /** Column API: chunk-layout MP4 fixture with a real mdat from a doc seed
    * (see [[Mp4SamplesSynth]]).
    */
  def synth_mp4_samples(doc: Column): Column =
    ExpressionUtils.column(SynthMp4Samples(ExpressionUtils.expression(doc)))

  /** Column API: MJPEG-in-MP4 stride-sampled frame statistics, the MP4 twin
    * of `AviFunctions.avi_mjpeg_frames` (see [[Mp4MjpegFrames]]).
    */
  def mp4_mjpeg_frames(payload: Column, stride: Int): Column =
    ExpressionUtils.column(
      Mp4MjpegFrames(ExpressionUtils.expression(payload), stride))

  /** Column API: MJPEG-in-MP4 fixture carrying the same JpegSynth frames as
    * `AviFunctions.synth_avi`.
    */
  def synth_mp4_mjpeg(w: Column, h: Column, frames: Column,
      seed: Column): Column =
    ExpressionUtils.column(SynthMp4Mjpeg(ExpressionUtils.expression(w),
      ExpressionUtils.expression(h), ExpressionUtils.expression(frames),
      ExpressionUtils.expression(seed)))
}
