package graft.codec

import com.github.luben.zstd.{Zstd, ZstdCompressCtx, ZstdDecompressCtx}
import scala.collection.mutable

/** Column-vector model + the lightweight codec suite with deterministic
  * auto-selection (BASELINE.json north_rule: dict, RLE, FSST, bit-pack,
  * frame-of-reference).
  *
  * Design notes vs the reference (esheldon/pycolumns):
  *  - pycolumns compresses whole chunks with blosc (zstd-5 + bitshuffle,
  *    /root/reference/pycolumns/defaults.py:12-23, chunks.py:371-389). We
  *    replace that with per-chunk lightweight encodings that exploit value
  *    structure, plus an optional outer zstd layer (zstd-jni ships with
  *    Spark) and a byte-shuffle transform for float data.
  *  - Selection is a pure function of the chunk content (stats computed on
  *    the chunk only), so runs at different parallelism pick identical
  *    codecs for identical chunks (SURVEY.md §7.5(3)).
  *
  * All codecs are pure JVM (no Spark imports) and are invoked from
  * `mapPartitions` in the store layer — the fastest path (no codegen
  * boundary, no serialization of intermediate vectors).
  */
sealed trait ColVec { def n: Int }
final case class LongVec(a: Array[Long]) extends ColVec { def n: Int = a.length }
final case class IntVec(a: Array[Int]) extends ColVec { def n: Int = a.length }
final case class ShortVec(a: Array[Short]) extends ColVec { def n: Int = a.length }
final case class DoubleVec(a: Array[Double]) extends ColVec { def n: Int = a.length }
final case class FloatVec(a: Array[Float]) extends ColVec { def n: Int = a.length }
final case class BoolVec(a: Array[Boolean]) extends ColVec { def n: Int = a.length }
final case class StrVec(a: Array[String]) extends ColVec { def n: Int = a.length }
final case class BinVec(a: Array[Array[Byte]]) extends ColVec { def n: Int = a.length }
/** STR values as raw UTF-8 byte arrays — the DECODE-side representation.
  * The vectorized reader (putByteArray) and UTF8String.fromBytes both
  * consume bytes, so decoding to java String and re-encoding per row would
  * transcode every value twice on the hot scan path. Encode accepts it
  * interchangeably with StrVec (UTF-8 byte order == codepoint order).
  */
final case class Utf8Vec(bytes: Array[Array[Byte]]) extends ColVec { def n: Int = bytes.length }
/** A chunk of an array<int32> column: row i holds values
  * [offsets(i), offsets(i+1)). Flattened-list encoding (SURVEY.md §1.2).
  */
final case class IntListVec(lengths: Array[Int], values: Array[Int]) extends ColVec {
  def n: Int = lengths.length
}

/** Physical column type, persisted in the table schema and in every chunk
  * header (mirrors pycolumns dtype strings, schema.py:250).
  */
object PType extends Enumeration {
  type PType = Value
  val I64, I32, I16, F64, F32, BOOL, STR, BIN, I32LIST = Value

  def width(t: PType): Int = t match {
    case I64 | F64 => 8
    case I32 | F32 => 4
    case I16       => 2
    case BOOL      => 1
    case _         => -1 // variable
  }

  def of(v: ColVec): PType = v match {
    case _: LongVec    => I64
    case _: IntVec     => I32
    case _: ShortVec   => I16
    case _: DoubleVec  => F64
    case _: FloatVec   => F32
    case _: BoolVec    => BOOL
    case _: StrVec     => STR
    case _: Utf8Vec    => STR
    case _: BinVec     => BIN
    case _: IntListVec => I32LIST
  }
}

object CodecId {
  final val Plain: Int = 0
  final val Rle: Int = 1
  final val Dict: Int = 2
  final val BitPack: Int = 3
  final val For: Int = 4
  final val Fsst: Int = 5
  final val Shuffle: Int = 6
  final val BoolPack: Int = 7
  final val List: Int = 8
  final val ForShuf: Int = 9

  def name(id: Int): String = id match {
    case Plain => "plain"; case Rle => "rle"; case Dict => "dict"
    case BitPack => "bitpack"; case For => "for"; case Fsst => "fsst"
    case Shuffle => "shuffle"; case BoolPack => "boolpack"; case List => "list"
    case ForShuf => "forshuf"
  }
}

final case class CodecConfig(
    outerLevel: Int = 3,      // zstd level for the outer layer
    minOuterSize: Int = 64,   // don't bother zstd-ing tiny payloads
    distinctCap: Int = 1 << 14, // stop exact distinct counting past this
    fsstSampleBytes: Int = 1 << 16,
    fsstGenerations: Int = 5,
    forceCodec: Int = -1,     // pin the inner codec (-1 = auto-select)
    outerMode: Int = 0)       // 0 = trial, 1 = never zstd, 2 = prefer zstd

object CodecConfig {
  val default: CodecConfig = CodecConfig()

  /** Resolve a per-column compression hint onto a base config (the
    * pycolumns schema compression-resolution analogue,
    * /root/reference/pycolumns/schema.py:264-325):
    *  - None / "auto"  → content-driven auto-selection (default)
    *  - "none"/"plain" → stored uncompressed (plain payload, no outer zstd)
    *  - "zstd"[:level] → plain payload + outer zstd at the given level
    *  - a codec name ("rle","dict","bitpack","for","forshuf","fsst",
    *    "shuffle","boolpack") → pin that inner codec, outer zstd trialed
    */
  def forColumn(base: CodecConfig, compression: Option[String]): CodecConfig =
    compression.map(_.trim.toLowerCase) match {
      case None | Some("") | Some("auto") => base
      case Some("none") | Some("plain") =>
        base.copy(forceCodec = CodecId.Plain, outerMode = 1)
      case Some(z) if z == "zstd" || z.startsWith("zstd:") =>
        val lvl = if (z.contains(':')) z.split(':')(1).toInt else base.outerLevel
        base.copy(forceCodec = CodecId.Plain, outerMode = 2, outerLevel = lvl)
      case Some(name) =>
        val id = name match {
          case "rle" => CodecId.Rle
          case "dict" => CodecId.Dict
          case "bitpack" => CodecId.BitPack
          case "for" => CodecId.For
          case "forshuf" => CodecId.ForShuf
          case "fsst" => CodecId.Fsst
          case "shuffle" => CodecId.Shuffle
          case "boolpack" => CodecId.BoolPack
          case other => throw new IllegalArgumentException(
            s"unknown compression '$other'")
        }
        base.copy(forceCodec = id)
    }
}

/** UTF-8 byte-lexicographic ordering helpers for the string zone map.
  * Code-point comparison equals UTF-8 byte order (unlike raw UTF-16
  * `String.compareTo`, which misorders supplementary characters vs the
  * U+E000..U+FFFF range).
  */
object Utf8Order {
  def compareStrings(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return java.lang.Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    java.lang.Integer.compare(a.length - i, b.length - j)
  }

  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** First 8 bytes big-endian, zero-padded — unsigned compare of two
    * prefixes equals byte-lexicographic compare of the prefixes.
    */
  def prefix8Bytes(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < b.length) (b(i) & 0xffL) else 0L)
      i += 1
    }
    v
  }

  def prefix8(s: String): Long =
    prefix8Bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Prefix padded with 0xff: upper bound (in prefix space) of every string
    * that STARTS WITH `s` — the hi end of a starts-with interval.
    */
  def prefix8Upper(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < b.length) (b(i) & 0xffL) else 0xffL)
      i += 1
    }
    v
  }
}

/** Per-chunk encode result metadata (feeds the manifest).
  * statsKind: 0 none, 1 integer min/max, 2 float min/max as raw IEEE bits.
  * sumKind: 0 none, 1 exact integer sum in sumBits — floats are deliberately
  * excluded (a metadata SUM would reassociate the additions, producing a
  * bitwise-different double than a scan).
  */
final case class EncodeInfo(codec: Int, outer: Int, nrows: Int, rawBytes: Long,
    encodedBytes: Long, statsKind: Int = 0, minBits: Long = 0L, maxBits: Long = 0L,
    sumKind: Int = 0, sumBits: Long = 0L)

object Chunk {
  final val Version = 1

  // ---------------------------------------------------------------- public

  def encode(vec: ColVec, cfg: CodecConfig = CodecConfig.default): Array[Byte] =
    encodeWithInfo(vec, cfg)._1

  def encodeWithInfo(vec: ColVec, cfg: CodecConfig = CodecConfig.default)
      : (Array[Byte], EncodeInfo) = {
    val pt = PType.of(vec)
    vec match {
      case IntListVec(lengths, values) =>
        // list chunk = two nested blobs: lengths (i32) + flat values (i32)
        val (lenBlob, li) = encodeWithInfo(IntVec(lengths), cfg)
        val (valBlob, vi) = encodeWithInfo(IntVec(values), cfg)
        val w = new Bytes.Writer(lenBlob.length + valBlob.length + 24)
        w.writeByte(Version); w.writeByte(pt.id); w.writeByte(CodecId.List)
        w.writeByte(0)
        w.writeVar(vec.n.toLong)
        w.writeVar((lenBlob.length + valBlob.length).toLong) // rawLen slot
        w.writeVar(lenBlob.length.toLong)
        w.writeBytes(lenBlob)
        w.writeBytes(valBlob)
        val blob = w.result()
        (blob, EncodeInfo(CodecId.List, 0, vec.n,
          li.rawBytes + vi.rawBytes, blob.length.toLong))
      case _ =>
        val cands0 = candidatePayloads(vec, cfg)
        // per-column pinned codec: keep only it (Plain fallback when the
        // pinned codec is inapplicable to this chunk's content/type)
        val cands =
          if (cfg.forceCodec >= 0) {
            val f = cands0.filter(_._1 == cfg.forceCodec)
            val plain = cands0.filter(_._1 == CodecId.Plain)
            if (f.nonEmpty) f else if (plain.nonEmpty) plain else cands0
          } else cands0
        // outer-zstd trials are the expensive part of selection; only trial
        // candidates whose raw payload is within 25% of the smallest raw —
        // a clearly-larger raw payload essentially never wins post-zstd.
        // Deterministic: a pure function of the candidate sizes.
        val minRaw = cands.iterator.map(_._2.length).min
        val trial = cands.filter { case (_, p) =>
          p.length.toLong <= minRaw.toLong + minRaw.toLong / 4
        }
        // deterministic pick: smallest final blob, ties -> lowest codec id
        var best: (Int, Array[Byte], Int) = null // (codec, payload, outer)
        var bestLen = Int.MaxValue
        trial.foreach { case (codec, payload) =>
          val (outer, outBytes) = maybeOuter(payload, cfg)
          val len = outBytes.length
          if (len < bestLen || (len == bestLen && (best == null || codec < best._1))) {
            best = (codec, outBytes, outer); bestLen = len
          }
        }
        val (codec, payload, outer) = best
        val raw = rawSize(vec)
        val (sk, mn, mx) = valueStats(vec)
        val (smk, sm) = valueSum(vec)
        val w = new Bytes.Writer(payload.length + 24)
        w.writeByte(Version); w.writeByte(pt.id); w.writeByte(codec)
        w.writeByte(outer)
        w.writeVar(vec.n.toLong)
        w.writeVar(rawPayloadLen(cands, codec).toLong)
        w.writeBytes(payload)
        val blob = w.result()
        (blob, EncodeInfo(codec, outer, vec.n, raw, blob.length.toLong,
          sk, mn, mx, smk, sm))
    }
  }

  /** Chunk zone-map stats: (kind, minBits, maxBits). Pure per-chunk pass.
    * Kind 3 (strings/binary): min/max 8-byte big-endian prefixes of the
    * UTF-8 bytes — compared UNSIGNED. Truncation keeps pruning
    * conservative: a chunk is dropped only when prefix(max) < prefix(lo)
    * or prefix(min) > prefix(hi) STRICTLY, which byte-lexicographic order
    * guarantees implies max < lo / min > hi for the full values.
    */
  def valueStats(vec: ColVec): (Int, Long, Long) = vec match {
    case v if v.n == 0 => (0, 0L, 0L)
    case LongVec(a) => (1, a.min, a.max)
    case IntVec(a) => (1, a.min.toLong, a.max.toLong)
    case ShortVec(a) => (1, a.min.toLong, a.max.toLong)
    case BoolVec(a) =>
      (1, if (a.forall(identity)) 1L else 0L, if (a.exists(identity)) 1L else 0L)
    case DoubleVec(a) => floatStats(a.length, a(_))
    case FloatVec(a) => floatStats(a.length, i => a(i).toDouble)
    case StrVec(a) =>
      var mn = a(0)
      var mx = a(0)
      var i = 1
      while (i < a.length) {
        val s = a(i)
        if (Utf8Order.compareStrings(s, mn) < 0) mn = s
        if (Utf8Order.compareStrings(s, mx) > 0) mx = s
        i += 1
      }
      (3, Utf8Order.prefix8(mn), Utf8Order.prefix8(mx))
    case Utf8Vec(a) =>
      var mn = a(0)
      var mx = a(0)
      var i = 1
      while (i < a.length) {
        val s = a(i)
        if (java.util.Arrays.compareUnsigned(s, mn) < 0) mn = s
        if (java.util.Arrays.compareUnsigned(s, mx) > 0) mx = s
        i += 1
      }
      (3, Utf8Order.prefix8Bytes(mn), Utf8Order.prefix8Bytes(mx))
    case BinVec(a) =>
      var mn = a(0)
      var mx = a(0)
      var i = 1
      while (i < a.length) {
        val b = a(i)
        if (Utf8Order.compareBytes(b, mn) < 0) mn = b
        if (Utf8Order.compareBytes(b, mx) > 0) mx = b
        i += 1
      }
      (3, Utf8Order.prefix8Bytes(mn), Utf8Order.prefix8Bytes(mx))
    case _ => (0, 0L, 0L)
  }

  /** Exact integer chunk sum: (kind, sum) with kind 1 = valid Long sum,
    * 0 = none (non-integer type, empty chunk, or Long overflow). Feeds the
    * manifest so an unfiltered SUM over an integer column can answer from
    * metadata alone — the chunk-sum grid composes under appends, updates
    * (the rewritten chunk recomputes), and vacuum (blobs copied verbatim).
    */
  def valueSum(vec: ColVec): (Int, Long) = {
    def sumOf(n: Int, get: Int => Long): (Int, Long) = {
      var s = 0L
      var i = 0
      try {
        while (i < n) { s = Math.addExact(s, get(i)); i += 1 }
        (1, s)
      } catch { case _: ArithmeticException => (0, 0L) }
    }
    vec match {
      case v if v.n == 0 => (0, 0L)
      case LongVec(a) => sumOf(a.length, a(_))
      case IntVec(a) => sumOf(a.length, a(_).toLong)
      case ShortVec(a) => sumOf(a.length, a(_).toLong)
      case _ => (0, 0L)
    }
  }

  /** Float min/max, but NO stats for a NaN-bearing chunk. Scala's
    * total-order min/max would record NaN as max and make `cMax >= lo`
    * false for every predicate — silently pruning the chunk's real
    * matches. And skipping NaN is not enough: Spark SQL (and DuckDB) order
    * NaN ABOVE +Inf, so `v >= lo` matches NaN rows — a non-NaN envelope
    * would prune those. statsKind 0 → the chunk is never pruned.
    */
  private def floatStats(n: Int, get: Int => Double): (Int, Long, Long) = {
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val x = get(i)
      if (java.lang.Double.isNaN(x)) return (0, 0L, 0L)
      // Double.compare, not '<': primitive compare treats -0.0 == 0.0, so a
      // chunk seeing 0.0 before -0.0 would record min=+0.0 — bitwise wrong
      // under Spark's nanSafeCompareDoubles ordering (-0.0 < 0.0), and a
      // Complete min() pushdown answered from stats would differ from a scan.
      if (java.lang.Double.compare(x, mn) < 0) mn = x
      if (java.lang.Double.compare(x, mx) > 0) mx = x
      i += 1
    }
    if (n == 0) (0, 0L, 0L)
    else (2, java.lang.Double.doubleToLongBits(mn), java.lang.Double.doubleToLongBits(mx))
  }

  def decode(blob: Array[Byte]): ColVec = {
    val r = new Bytes.Reader(blob)
    val ver = r.readByte()
    require(ver == Version, s"bad chunk version $ver")
    val pt = PType(r.readByte())
    val codec = r.readByte()
    val outer = r.readByte()
    val n = r.readVar().toInt
    val rawLen = r.readVar().toInt
    if (pt == PType.I32LIST) {
      val lenBlobLen = r.readVar().toInt
      val lengths = decode(r.readBytes(lenBlobLen)).asInstanceOf[IntVec].a
      val values = decode(r.readBytes(r.remaining)).asInstanceOf[IntVec].a
      return IntListVec(lengths, values)
    }
    val payload =
      if (outer == 1) {
        val comp = r.readBytes(r.remaining)
        zstdDecompress(comp, rawLen)
      } else r.readBytes(r.remaining)
    decodePayload(pt, codec, n, payload)
  }

  /** Raw (uncompressed, reference-layout) size of a vector: fixed width ×
    * n for scalars, data + 4-byte offsets for var-width (pycolumns stores
    * fixed-width records only; list/string raw model per SURVEY.md §1.2).
    */
  def rawSize(vec: ColVec): Long = vec match {
    case v: LongVec    => 8L * v.n
    case v: IntVec     => 4L * v.n
    case v: ShortVec   => 2L * v.n
    case v: DoubleVec  => 8L * v.n
    case v: FloatVec   => 4L * v.n
    case v: BoolVec    => 1L * v.n
    case v: StrVec     => v.a.foldLeft(0L)((s, x) => s + utf8Len(x)) + 4L * v.n
    case v: Utf8Vec    => v.bytes.foldLeft(0L)((s, x) => s + x.length) + 4L * v.n
    case v: BinVec     => v.a.foldLeft(0L)((s, x) => s + x.length) + 4L * v.n
    case v: IntListVec => 4L * v.values.length + 4L * v.n
  }

  // ------------------------------------------------------------ internals

  // per-thread reusable zstd contexts: the static Zstd.compress allocates
  // a native context per call, measurable in the 32-way encode hot path
  private val zc = ThreadLocal.withInitial[ZstdCompressCtx](() => new ZstdCompressCtx())
  private val zd = ThreadLocal.withInitial[ZstdDecompressCtx](() => new ZstdDecompressCtx())

  private[codec] def zstdCompress(b: Array[Byte], level: Int): Array[Byte] = {
    val c = zc.get()
    c.setLevel(level)
    c.compress(b)
  }

  private[codec] def zstdDecompress(b: Array[Byte], rawLen: Int): Array[Byte] =
    zd.get().decompress(b, rawLen)

  private def maybeOuter(payload: Array[Byte], cfg: CodecConfig): (Int, Array[Byte]) = {
    if (cfg.outerMode == 1) return (0, payload)
    if (cfg.outerMode != 2 && payload.length < cfg.minOuterSize) return (0, payload)
    val z = zstdCompress(payload, cfg.outerLevel)
    if (z.length < payload.length) (1, z) else (0, payload)
  }

  // each candidate's raw payload length: the header records the pre-outer
  // length (needed for zstd decompress sizing)
  private def rawPayloadLen(cands: Seq[(Int, Array[Byte])], codec: Int): Int =
    cands.find(_._1 == codec).get._2.length

  private def utf8Len(s: String): Int =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length

  // --- integer family normalization -------------------------------------

  private def toLongs(vec: ColVec): Array[Long] = vec match {
    case LongVec(a)   => a
    case IntVec(a)    => { val o = new Array[Long](a.length); var i = 0; while (i < a.length) { o(i) = a(i).toLong; i += 1 }; o }
    case ShortVec(a)  => { val o = new Array[Long](a.length); var i = 0; while (i < a.length) { o(i) = a(i).toLong; i += 1 }; o }
    case DoubleVec(a) => { val o = new Array[Long](a.length); var i = 0; while (i < a.length) { o(i) = java.lang.Double.doubleToRawLongBits(a(i)); i += 1 }; o }
    case FloatVec(a)  => { val o = new Array[Long](a.length); var i = 0; while (i < a.length) { o(i) = java.lang.Float.floatToRawIntBits(a(i)).toLong; i += 1 }; o }
    case BoolVec(a)   => { val o = new Array[Long](a.length); var i = 0; while (i < a.length) { o(i) = if (a(i)) 1L else 0L; i += 1 }; o }
    case _ => throw new IllegalArgumentException("not an integer-family vec")
  }

  private def fromLongs(pt: PType.PType, vals: Array[Long]): ColVec = pt match {
    case PType.I64 => LongVec(vals)
    case PType.I32 => { val o = new Array[Int](vals.length); var i = 0; while (i < vals.length) { o(i) = vals(i).toInt; i += 1 }; IntVec(o) }
    case PType.I16 => { val o = new Array[Short](vals.length); var i = 0; while (i < vals.length) { o(i) = vals(i).toShort; i += 1 }; ShortVec(o) }
    case PType.F64 => { val o = new Array[Double](vals.length); var i = 0; while (i < vals.length) { o(i) = java.lang.Double.longBitsToDouble(vals(i)); i += 1 }; DoubleVec(o) }
    case PType.F32 => { val o = new Array[Float](vals.length); var i = 0; while (i < vals.length) { o(i) = java.lang.Float.intBitsToFloat(vals(i).toInt); i += 1 }; FloatVec(o) }
    case PType.BOOL => { val o = new Array[Boolean](vals.length); var i = 0; while (i < vals.length) { o(i) = vals(i) != 0L; i += 1 }; BoolVec(o) }
    case _ => throw new IllegalArgumentException(s"$pt not integer-family")
  }

  // --- candidate generation ---------------------------------------------

  /** Stats over an integer-family chunk; pure function of content. */
  final case class IntStats(n: Int, min: Long, max: Long, nRuns: Int,
      distinct: Int, distinctExact: Boolean)

  /** Open-addressing long set with a count cap — replaces the boxed
    * java.util.HashSet in the distinct-counting hot path (one boxed Long
    * per value scanned was measurable at encode bandwidth).
    */
  private final class CappedLongSet(cap: Int, sizeHint: Int) {
    // distinct count can exceed neither cap nor the value count, so size
    // the table from the smaller (a 64-row chunk must not allocate a
    // distinctCap-sized table)
    private val capacity =
      Integer.highestOneBit(math.max(64, math.min(cap, sizeHint) * 2)) * 2
    private val mask = capacity - 1
    private val keys = new Array[Long](capacity)
    private val used = new Array[Boolean](capacity)
    var size = 0

    /** Add; returns false once size would exceed cap (caller stops). */
    def add(v: Long): Boolean = {
      var h = v * -7046029254386353131L
      h ^= h >>> 32
      var s = h.toInt & mask
      while (used(s) && keys(s) != v) s = (s + 1) & mask
      if (!used(s)) {
        if (size == cap) return false
        used(s) = true
        keys(s) = v
        size += 1
      }
      true
    }
  }

  def intStats(vals: Array[Long], cap: Int): IntStats = {
    if (vals.isEmpty) return IntStats(0, 0L, 0L, 0, 0, distinctExact = true)
    var mn = vals(0); var mx = vals(0); var runs = 1
    val seen = new CappedLongSet(cap, vals.length)
    var exact = true
    var i = 0
    while (i < vals.length) {
      val v = vals(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (i > 0 && v != vals(i - 1)) runs += 1
      if (exact && !seen.add(v)) exact = false
      i += 1
    }
    IntStats(vals.length, mn, mx, runs, if (exact) seen.size else cap + 1, exact)
  }

  /** Int-array twin of [[intStats]] — same counts for the same values. */
  def intStatsI(vals: Array[Int], cap: Int): IntStats = {
    if (vals.isEmpty) return IntStats(0, 0L, 0L, 0, 0, distinctExact = true)
    var mn = vals(0); var mx = vals(0); var runs = 1
    val seen = new CappedLongSet(cap, vals.length)
    var exact = true
    var i = 0
    while (i < vals.length) {
      val v = vals(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (i > 0 && v != vals(i - 1)) runs += 1
      if (exact && !seen.add(v.toLong)) exact = false
      i += 1
    }
    IntStats(vals.length, mn.toLong, mx.toLong, runs,
      if (exact) seen.size else cap + 1, exact)
  }

  private def candidatePayloads(vec: ColVec, cfg: CodecConfig)
      : Seq[(Int, Array[Byte])] = vec match {
    case v: StrVec => strCandidates(v.a.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)), cfg, isStr = true)
    case v: Utf8Vec => strCandidates(v.bytes, cfg, isStr = true)
    case v: BinVec => strCandidates(v.a, cfg, isStr = false)
    case v: IntVec if cfg.forceCodec < 0 =>
      // int-specialized auto-select path: same candidate set, same payload
      // bytes as the generic path over toLongs(v), without widening every
      // value to a Long array first — the token column's values and lengths
      // both land here, and encode is memory-bandwidth-bound (BENCH.md)
      intCandidates(v.a, cfg)
    case v: BoolVec =>
      val longs = toLongs(v)
      val st = intStats(longs, cfg.distinctCap)
      val out = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      out += CodecId.BoolPack -> boolPackPayload(v.a)
      if (st.nRuns <= v.n / 8 + 1) out += CodecId.Rle -> rlePayload(longs)
      out.toSeq
    case _ =>
      val pt = PType.of(vec)
      val width = PType.width(pt)
      val longs = toLongs(vec)
      val st = intStats(longs, cfg.distinctCap)
      val out = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      out += CodecId.Plain -> plainPayload(longs, width)
      val isFloat = pt == PType.F32 || pt == PType.F64
      if ((isFloat && longs.length >= 16) || cfg.forceCodec == CodecId.Shuffle)
        out += CodecId.Shuffle -> Bytes.Shuffle.forward(plainPayload(longs, width), width)
      if (st.nRuns <= st.n / 2 + 1 || cfg.forceCodec == CodecId.Rle)
        out += CodecId.Rle -> rlePayload(longs)
      if (st.distinctExact && (st.distinct <= math.max(2, st.n / 2) ||
          cfg.forceCodec == CodecId.Dict))
        out += CodecId.Dict -> dictPayload(longs, cfg)
      if (!isFloat) {
        // FOR: guard subtraction overflow (min<0, max>0 with huge spread)
        val rangeOk = (st.min >= 0) || (st.max <= st.min + Long.MaxValue)
        val forOk = rangeOk && Bytes.BitPack.width(st.max - st.min) < 8 * width
        // same width-equality gate as the int path: BitPack is For with an
        // implied min of 0, so at equal widths the second zstd trial buys
        // nothing (deterministic — a pure function of min/max)
        if (st.min >= 0 && Bytes.BitPack.width(st.max) < 8 * width &&
            (cfg.forceCodec == CodecId.BitPack ||
              !(forOk && Bytes.BitPack.width(st.max) == Bytes.BitPack.width(st.max - st.min))))
          out += CodecId.BitPack -> bitPackPayload(longs, st.max)
        if (forOk) {
          out += CodecId.For -> forPayload(longs, st.min, st.max)
          // byte-aligned FOR + byte transposition: the blosc-shuffle insight
          // applied after frame-of-reference — same-significance bytes group
          // together, which the outer zstd then entropy-codes much harder
          if (longs.length >= 64 || cfg.forceCodec == CodecId.ForShuf)
            out += CodecId.ForShuf -> forShufPayload(longs, st.min, st.max)
        }
      }
      out.toSeq
  }

  // --- int-specialized candidate generation (byte-identical payloads) ----

  private def intCandidates(vals: Array[Int], cfg: CodecConfig)
      : Seq[(Int, Array[Byte])] = {
    val st = intStatsI(vals, cfg.distinctCap)
    val out = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    out += CodecId.Plain -> plainPayloadI(vals)
    if (st.nRuns <= st.n / 2 + 1)
      out += CodecId.Rle -> rlePayloadI(vals)
    if (st.distinctExact && st.distinct <= math.max(2, st.n / 2))
      out += CodecId.Dict -> dictPayloadI(vals)
    // int range always fits a Long — no overflow guard needed (cf. generic)
    val forOk = Bytes.BitPack.width(st.max - st.min) < 32
    // BitPack is For with an implied min of 0: when both apply at the SAME
    // bit width the payloads differ only by For's few header bytes, so
    // trialing both buys nothing but a second outer-zstd pass over ~the
    // same bytes (zstd trials are ~2/3 of an int chunk's encode cost).
    // Deterministic: a pure function of the chunk's min/max.
    if (st.min >= 0 && Bytes.BitPack.width(st.max) < 32 &&
        !(forOk && Bytes.BitPack.width(st.max) == Bytes.BitPack.width(st.max - st.min)))
      out += CodecId.BitPack -> bitPackPayloadI(vals, st.max)
    if (forOk) {
      out += CodecId.For -> forPayloadI(vals, st.min, st.max)
      if (vals.length >= 64)
        out += CodecId.ForShuf -> forShufPayloadI(vals, st.min, st.max)
    }
    out.toSeq
  }

  private def plainPayloadI(vals: Array[Int]): Array[Byte] = {
    val w = new Bytes.Writer(vals.length * 4 + 8)
    var i = 0
    while (i < vals.length) { w.writeLE32(vals(i)); i += 1 }
    w.result()
  }

  private def rlePayloadI(vals: Array[Int]): Array[Byte] = {
    val w = new Bytes.Writer()
    var i = 0
    var runs = 0
    val runW = new Bytes.Writer()
    while (i < vals.length) {
      val v = vals(i)
      var j = i + 1
      while (j < vals.length && vals(j) == v) j += 1
      runW.writeZig(v.toLong)
      runW.writeVar((j - i).toLong)
      runs += 1
      i = j
    }
    w.writeVar(runs.toLong)
    w.writeBytes(runW.result())
    w.result()
  }

  private def dictPayloadI(vals: Array[Int]): Array[Byte] = {
    // sorted distinct via sort+dedup (primitive; same dict as the boxed
    // distinct.sorted of the generic path)
    val sorted = vals.clone()
    java.util.Arrays.sort(sorted)
    val dict = new Array[Int](sorted.length)
    var dlen = 0
    var i = 0
    while (i < sorted.length) {
      if (i == 0 || sorted(i) != sorted(i - 1)) { dict(dlen) = sorted(i); dlen += 1 }
      i += 1
    }
    val w = new Bytes.Writer()
    w.writeVar(dlen.toLong)
    var prev = 0L
    i = 0
    while (i < dlen) {
      if (i == 0) w.writeZig(dict(0).toLong) else w.writeVar(dict(i).toLong - prev)
      prev = dict(i).toLong
      i += 1
    }
    val width = Bytes.BitPack.width(math.max(0, dlen - 1).toLong)
    w.writeByte(width)
    // code of v = rank of v in dict (binary search — dict is sorted)
    val codes = new Array[Int](vals.length)
    i = 0
    while (i < vals.length) {
      var lo = 0
      var hi = dlen
      val v = vals(i)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (dict(mid) < v) lo = mid + 1 else hi = mid
      }
      codes(i) = lo
      i += 1
    }
    Bytes.BitPack.packInts(codes, width, w)
    w.result()
  }

  private def bitPackPayloadI(vals: Array[Int], max: Long): Array[Byte] = {
    val width = Bytes.BitPack.width(max)
    val w = new Bytes.Writer(vals.length * width / 8 + 16)
    w.writeByte(width)
    Bytes.BitPack.packInts(vals, width, w)
    w.result()
  }

  private def forPayloadI(vals: Array[Int], min: Long, max: Long): Array[Byte] = {
    val width = Bytes.BitPack.width(max - min)
    val w = new Bytes.Writer(vals.length * width / 8 + 24)
    w.writeZig(min)
    w.writeByte(width)
    val deltas = new Array[Int](vals.length)
    val m = min.toInt
    var i = 0
    while (i < vals.length) { deltas(i) = vals(i) - m; i += 1 }
    Bytes.BitPack.packInts(deltas, width, w)
    w.result()
  }

  private def forShufPayloadI(vals: Array[Int], min: Long, max: Long): Array[Byte] = {
    val bits = Bytes.BitPack.width(max - min)
    val wb = if (bits <= 8) 1 else if (bits <= 16) 2 else if (bits <= 24) 3
      else if (bits <= 32) 4 else 8
    val w = new Bytes.Writer(vals.length * wb + 24)
    w.writeZig(min)
    w.writeByte(wb)
    val raw = new Array[Byte](vals.length * wb)
    val m = min.toInt
    var i = 0
    while (i < vals.length) {
      var d = vals(i) - m
      var b = 0
      while (b < wb) { raw(i * wb + b) = (d & 0xff).toByte; d >>>= 8; b += 1 }
      i += 1
    }
    w.writeBytes(Bytes.Shuffle.forward(raw, wb))
    w.result()
  }

  // --- integer payloads --------------------------------------------------

  private def plainPayload(vals: Array[Long], width: Int): Array[Byte] = {
    val w = new Bytes.Writer(vals.length * width + 8)
    var i = 0
    width match {
      case 8 => while (i < vals.length) { w.writeLE64(vals(i)); i += 1 }
      case 4 => while (i < vals.length) { w.writeLE32(vals(i).toInt); i += 1 }
      case 2 => while (i < vals.length) { w.writeLE16(vals(i).toInt); i += 1 }
      case 1 => while (i < vals.length) { w.writeByte(vals(i).toInt); i += 1 }
    }
    w.result()
  }

  private def readPlain(r: Bytes.Reader, n: Int, width: Int): Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    width match {
      case 8 => while (i < n) { out(i) = r.readLE64(); i += 1 }
      case 4 => while (i < n) { out(i) = r.readLE32().toLong; i += 1 }
      case 2 => while (i < n) { out(i) = r.readLE16().toShort.toLong; i += 1 }
      case 1 => while (i < n) { out(i) = r.readByte().toByte.toLong; i += 1 }
    }
    out
  }

  private def rlePayload(vals: Array[Long]): Array[Byte] = {
    val w = new Bytes.Writer()
    var i = 0
    var runs = 0
    val runW = new Bytes.Writer()
    while (i < vals.length) {
      val v = vals(i)
      var j = i + 1
      while (j < vals.length && vals(j) == v) j += 1
      runW.writeZig(v)
      runW.writeVar((j - i).toLong)
      runs += 1
      i = j
    }
    w.writeVar(runs.toLong)
    w.writeBytes(runW.result())
    w.result()
  }

  private def readRle(r: Bytes.Reader, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    val runs = r.readVar().toInt
    var pos = 0
    var k = 0
    while (k < runs) {
      val v = r.readZig()
      val len = r.readVar().toInt
      java.util.Arrays.fill(out, pos, pos + len, v)
      pos += len
      k += 1
    }
    require(pos == n, s"RLE decoded $pos rows, expected $n")
    out
  }

  private def dictPayload(vals: Array[Long], cfg: CodecConfig): Array[Byte] = {
    val dict = vals.distinct.sorted
    val idx = new java.util.HashMap[java.lang.Long, Integer](dict.length * 2)
    var i = 0
    while (i < dict.length) { idx.put(dict(i), i); i += 1 }
    val w = new Bytes.Writer()
    w.writeVar(dict.length.toLong)
    var prev = 0L
    i = 0
    while (i < dict.length) {
      if (i == 0) w.writeZig(dict(0)) else w.writeVar(dict(i) - prev)
      prev = dict(i)
      i += 1
    }
    val width = Bytes.BitPack.width(math.max(0, dict.length - 1).toLong)
    w.writeByte(width)
    val codes = new Array[Long](vals.length)
    i = 0
    while (i < vals.length) { codes(i) = idx.get(vals(i)).toLong; i += 1 }
    Bytes.BitPack.pack(codes, width, w)
    w.result()
  }

  private def readDict(r: Bytes.Reader, n: Int): Array[Long] = {
    val dlen = r.readVar().toInt
    val dict = new Array[Long](dlen)
    var prev = 0L
    var i = 0
    while (i < dlen) {
      prev = if (i == 0) r.readZig() else prev + r.readVar()
      dict(i) = prev
      i += 1
    }
    val width = r.readByte()
    val codes = Bytes.BitPack.unpack(r, n, width)
    val out = new Array[Long](n)
    i = 0
    while (i < n) { out(i) = dict(codes(i).toInt); i += 1 }
    out
  }

  private def bitPackPayload(vals: Array[Long], max: Long): Array[Byte] = {
    val width = Bytes.BitPack.width(max)
    val w = new Bytes.Writer(vals.length * width / 8 + 16)
    w.writeByte(width)
    Bytes.BitPack.pack(vals, width, w)
    w.result()
  }

  private def readBitPack(r: Bytes.Reader, n: Int): Array[Long] = {
    val width = r.readByte()
    Bytes.BitPack.unpack(r, n, width)
  }

  private def forPayload(vals: Array[Long], min: Long, max: Long): Array[Byte] = {
    val width = Bytes.BitPack.width(max - min)
    val w = new Bytes.Writer(vals.length * width / 8 + 24)
    w.writeZig(min)
    w.writeByte(width)
    val deltas = new Array[Long](vals.length)
    var i = 0
    while (i < vals.length) { deltas(i) = vals(i) - min; i += 1 }
    Bytes.BitPack.pack(deltas, width, w)
    w.result()
  }

  private def readFor(r: Bytes.Reader, n: Int): Array[Long] = {
    val min = r.readZig()
    val width = r.readByte()
    val deltas = Bytes.BitPack.unpack(r, n, width)
    var i = 0
    while (i < n) { deltas(i) += min; i += 1 }
    deltas
  }

  /** FOR with deltas stored byte-aligned (1/2/3/4/8 bytes) then
    * byte-transposed. Larger than bit-packed FOR before the outer zstd,
    * but usually much smaller after it.
    */
  private def forShufPayload(vals: Array[Long], min: Long, max: Long): Array[Byte] = {
    val bits = Bytes.BitPack.width(max - min)
    val wb = if (bits <= 8) 1 else if (bits <= 16) 2 else if (bits <= 24) 3
      else if (bits <= 32) 4 else 8
    val w = new Bytes.Writer(vals.length * wb + 24)
    w.writeZig(min)
    w.writeByte(wb)
    val raw = new Array[Byte](vals.length * wb)
    var i = 0
    while (i < vals.length) {
      var d = vals(i) - min
      var b = 0
      while (b < wb) { raw(i * wb + b) = (d & 0xff).toByte; d >>>= 8; b += 1 }
      i += 1
    }
    w.writeBytes(Bytes.Shuffle.forward(raw, wb))
    w.result()
  }

  private def readForShuf(r: Bytes.Reader, n: Int): Array[Long] = {
    val min = r.readZig()
    val wb = r.readByte()
    val raw = Bytes.Shuffle.backward(r.readBytes(n * wb), wb)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var d = 0L
      var b = 0
      while (b < wb) { d |= (raw(i * wb + b) & 0xffL) << (8 * b); b += 1 }
      out(i) = d + min
      i += 1
    }
    out
  }

  private def boolPackPayload(vals: Array[Boolean]): Array[Byte] = {
    val w = new Bytes.Writer(vals.length / 8 + 4)
    var acc = 0
    var bits = 0
    var i = 0
    while (i < vals.length) {
      if (vals(i)) acc |= 1 << bits
      bits += 1
      if (bits == 8) { w.writeByte(acc); acc = 0; bits = 0 }
      i += 1
    }
    if (bits > 0) w.writeByte(acc)
    w.result()
  }

  private def readBoolPack(r: Bytes.Reader, n: Int): Array[Boolean] = {
    val out = new Array[Boolean](n)
    var acc = 0
    var bits = 0
    var i = 0
    while (i < n) {
      if (bits == 0) { acc = r.readByte(); bits = 8 }
      out(i) = (acc & 1) != 0
      acc = acc >>> 1
      bits -= 1
      i += 1
    }
    out
  }

  // --- string/binary payloads -------------------------------------------

  private def strCandidates(bs: Array[Array[Byte]], cfg: CodecConfig,
      isStr: Boolean): Seq[(Int, Array[Byte])] = {
    val out = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    out += CodecId.Plain -> strPlainPayload(bs)
    // runs
    var runs = if (bs.isEmpty) 0 else 1
    var i = 1
    while (i < bs.length) {
      if (!java.util.Arrays.equals(bs(i), bs(i - 1))) runs += 1
      i += 1
    }
    if (bs.nonEmpty && (runs <= bs.length / 2 + 1 || cfg.forceCodec == CodecId.Rle))
      out += CodecId.Rle -> strRlePayload(bs)
    // distinct (capped)
    val seen = new java.util.HashSet[String]()
    var exact = true
    i = 0
    while (exact && i < bs.length) {
      seen.add(new String(bs(i), java.nio.charset.StandardCharsets.ISO_8859_1))
      if (seen.size > cfg.distinctCap) exact = false
      i += 1
    }
    if (bs.nonEmpty && exact && (seen.size <= math.max(2, bs.length / 2) ||
        cfg.forceCodec == CodecId.Dict))
      out += CodecId.Dict -> strDictPayload(bs)
    val totalBytes = bs.foldLeft(0L)(_ + _.length)
    if (totalBytes > 512 || cfg.forceCodec == CodecId.Fsst)
      out += CodecId.Fsst -> fsstPayload(bs, cfg)
    out.toSeq
  }

  private def strPlainPayload(bs: Array[Array[Byte]]): Array[Byte] = {
    val w = new Bytes.Writer()
    var i = 0
    while (i < bs.length) { w.writeVar(bs(i).length.toLong); i += 1 }
    i = 0
    while (i < bs.length) { w.writeBytes(bs(i)); i += 1 }
    w.result()
  }

  private def readStrPlain(r: Bytes.Reader, n: Int): Array[Array[Byte]] = {
    val lens = new Array[Int](n)
    var i = 0
    while (i < n) { lens(i) = r.readVar().toInt; i += 1 }
    val out = new Array[Array[Byte]](n)
    i = 0
    while (i < n) { out(i) = r.readBytes(lens(i)); i += 1 }
    out
  }

  private def strRlePayload(bs: Array[Array[Byte]]): Array[Byte] = {
    val w = new Bytes.Writer()
    val runW = new Bytes.Writer()
    var runs = 0
    var i = 0
    while (i < bs.length) {
      var j = i + 1
      while (j < bs.length && java.util.Arrays.equals(bs(j), bs(i))) j += 1
      runW.writeVar((j - i).toLong)
      runW.writeVar(bs(i).length.toLong)
      runW.writeBytes(bs(i))
      runs += 1
      i = j
    }
    w.writeVar(runs.toLong)
    w.writeBytes(runW.result())
    w.result()
  }

  private def readStrRle(r: Bytes.Reader, n: Int): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](n)
    val runs = r.readVar().toInt
    var pos = 0
    var k = 0
    while (k < runs) {
      val rl = r.readVar().toInt
      val len = r.readVar().toInt
      val v = r.readBytes(len)
      var i = 0
      while (i < rl) { out(pos) = v; pos += 1; i += 1 }
      k += 1
    }
    require(pos == n)
    out
  }

  private def strDictPayload(bs: Array[Array[Byte]]): Array[Byte] = {
    implicit val ord: Ordering[Array[Byte]] = (x: Array[Byte], y: Array[Byte]) => {
      java.util.Arrays.compareUnsigned(x, y)
    }
    val dict = bs.map(b => new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))
      .distinct
      .map(_.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      .sorted
    val idx = new java.util.HashMap[String, Integer](dict.length * 2)
    var i = 0
    while (i < dict.length) {
      idx.put(new String(dict(i), java.nio.charset.StandardCharsets.ISO_8859_1), i)
      i += 1
    }
    val w = new Bytes.Writer()
    w.writeVar(dict.length.toLong)
    i = 0
    while (i < dict.length) {
      w.writeVar(dict(i).length.toLong)
      w.writeBytes(dict(i))
      i += 1
    }
    val width = Bytes.BitPack.width(math.max(0, dict.length - 1).toLong)
    w.writeByte(width)
    val codes = new Array[Long](bs.length)
    i = 0
    while (i < bs.length) {
      codes(i) = idx.get(new String(bs(i), java.nio.charset.StandardCharsets.ISO_8859_1)).toLong
      i += 1
    }
    Bytes.BitPack.pack(codes, width, w)
    w.result()
  }

  private def readStrDict(r: Bytes.Reader, n: Int): Array[Array[Byte]] = {
    val dlen = r.readVar().toInt
    val dict = new Array[Array[Byte]](dlen)
    var i = 0
    while (i < dlen) { dict(i) = r.readBytes(r.readVar().toInt); i += 1 }
    val width = r.readByte()
    val codes = Bytes.BitPack.unpack(r, n, width)
    val out = new Array[Array[Byte]](n)
    i = 0
    while (i < n) { out(i) = dict(codes(i).toInt); i += 1 }
    out
  }

  private def fsstPayload(bs: Array[Array[Byte]], cfg: CodecConfig): Array[Byte] = {
    // sample = prefix of corpus up to fsstSampleBytes (content-deterministic)
    val sampleW = new Bytes.Writer(math.min(cfg.fsstSampleBytes, 1 << 16))
    var i = 0
    while (i < bs.length && sampleW.size < cfg.fsstSampleBytes) {
      sampleW.writeBytes(bs(i), 0, math.min(bs(i).length, cfg.fsstSampleBytes - sampleW.size))
      i += 1
    }
    val table = Fsst.buildTable(sampleW.result(), cfg.fsstGenerations)
    val w = new Bytes.Writer()
    table.serialize(w)
    val enc = new Bytes.Writer()
    val encLens = new Array[Int](bs.length)
    i = 0
    while (i < bs.length) {
      val before = enc.size
      table.encode(bs(i), 0, bs(i).length, enc)
      encLens(i) = enc.size - before
      i += 1
    }
    i = 0
    while (i < bs.length) { w.writeVar(encLens(i).toLong); i += 1 }
    w.writeBytes(enc.result())
    w.result()
  }

  private def readFsst(r: Bytes.Reader, n: Int): Array[Array[Byte]] = {
    val table = Fsst.SymbolTable.deserialize(r)
    val lens = new Array[Int](n)
    var i = 0
    while (i < n) { lens(i) = r.readVar().toInt; i += 1 }
    val out = new Array[Array[Byte]](n)
    i = 0
    while (i < n) {
      val w = new Bytes.Writer(lens(i) * 2)
      val start = r.pos
      table.decode(r.buf, start, start + lens(i), w)
      r.pos = start + lens(i)
      out(i) = w.result()
      i += 1
    }
    out
  }

  // --- dispatch ----------------------------------------------------------

  private def decodePayload(pt: PType.PType, codec: Int, n: Int,
      payload: Array[Byte]): ColVec = {
    val r = new Bytes.Reader(payload)
    pt match {
      case PType.STR =>
        val bs = codec match {
          case CodecId.Plain => readStrPlain(r, n)
          case CodecId.Rle   => readStrRle(r, n)
          case CodecId.Dict  => readStrDict(r, n)
          case CodecId.Fsst  => readFsst(r, n)
        }
        Utf8Vec(bs) // raw bytes: consumers transcode only where they must
      case PType.BIN =>
        val bs = codec match {
          case CodecId.Plain => readStrPlain(r, n)
          case CodecId.Rle   => readStrRle(r, n)
          case CodecId.Dict  => readStrDict(r, n)
          case CodecId.Fsst  => readFsst(r, n)
        }
        BinVec(bs)
      case PType.BOOL =>
        codec match {
          case CodecId.BoolPack => BoolVec(readBoolPack(r, n))
          case CodecId.Rle      => fromLongs(PType.BOOL, readRle(r, n))
        }
      case _ =>
        val width = PType.width(pt)
        val longs = codec match {
          case CodecId.Plain   => readPlain(r, n, width)
          case CodecId.Shuffle =>
            val un = Bytes.Shuffle.backward(payload, width)
            readPlain(new Bytes.Reader(un), n, width)
          case CodecId.Rle     => readRle(r, n)
          case CodecId.Dict    => readDict(r, n)
          case CodecId.BitPack => readBitPack(r, n)
          case CodecId.For     => readFor(r, n)
          case CodecId.ForShuf => readForShuf(r, n)
        }
        fromLongs(pt, longs)
    }
  }
}
