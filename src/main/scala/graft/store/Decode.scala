package graft.store

import graft.codec._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Executor-side chunk decode for one (segment, partition) unit.
  * Mirrors the reference read path (pycolumns chunks.py:633-669: histogram
  * rows per chunk, decompress each touched chunk once, slice rows out) —
  * here each unit decodes its pruned chunk list sequentially into columnar
  * batches (ColumnarUnitReader), the one decoder behind every read path
  * except the ordered scan's scatter-back (decodeUnitSlotted).
  */
object Decode {

  /** Diagnostic counters, JVM-local (exact under local[*], per-executor on
    * a cluster): chunk payloads read+decoded, and chunks skipped by a
    * membership-filter probe. Tests and the driver correctness queries use
    * them to assert that pruning actually engaged.
    */
  val chunksRead = new java.util.concurrent.atomic.AtomicLong()
  val chunksFilterSkipped = new java.util.concurrent.atomic.AtomicLong()

  /** Read one chunk blob and reject it unless its CRC32C equals the
    * manifest entry — the one integrity check behind every chunk read
    * (decode, COW update, vacuum), on every filesystem. A bit flip inside
    * an RLE or FOR payload would otherwise decode silently into wrong data.
    */
  private[store] def readChunk(in: FsIO.RangeReader, cm: ChunkMeta): Array[Byte] = {
    val blob = in.read(cm.offset, cm.nbytes.toInt)
    val crc = FsIO.crc32c(blob)
    if (crc != cm.crc) throw new java.io.IOException(
      s"chunk CRC mismatch in ${cm.file} @${cm.offset}: " +
        f"manifest ${cm.crc}%08x, read $crc%08x (corruption or torn write)")
    blob
  }

  /** Per-unit file handle cache: a unit decodes many chunks from the same
    * column file — open it ONCE and issue positioned reads.
    */
  private final class BlobReader(root: String, segment: Long) {
    private val dir = Format.segDir(root, segment)
    private val open = mutable.HashMap.empty[String, FsIO.RangeReader]

    def read(cm: ChunkMeta): Array[Byte] = {
      chunksRead.incrementAndGet()
      readChunk(open.getOrElseUpdate(cm.file, new FsIO.RangeReader(s"$dir/${cm.file}")), cm)
    }

    def close(): Unit = {
      open.valuesIterator.foreach(in => try in.close() catch { case _: Exception => })
      open.clear()
    }
  }

  // ------------------------------------------- membership-filter pruning

  /** Refine a unit against equality/IN probe hashes (manifest-v4 chunk
    * membership filters) BEFORE any chunk decode. Executor-side by design:
    * the filter blobs live next to their chunks (few KB each) and are
    * never shipped through planning metadata, so at 10^5 partitions the
    * driver plan stays O(chunks) while each task trades a chunk decode for
    * a small ranged read. Returns None when every row of the unit is
    * provably excluded (the task emits nothing and reads no chunk).
    *
    * Sound because pushed filters are top-level conjuncts and every probe
    * hash is canonical (see GraftScan.filterProbes): a chunk whose filter
    * excludes ALL probe values of some conjunct can satisfy none of the
    * unit's rows in that chunk's row range. Chunks without filters (bool/
    * binary/list kinds) and unreadable/corrupt filters survive
    * conservatively; Spark re-applies every filter as residual.
    */
  def refineUnit(u: DecodeUnit,
      probes: Seq[(String, Array[Long])]): Option[DecodeUnit] = {
    if (probes.isEmpty) return Some(u)
    u.sel match {
      case SelIds(_, _) => return Some(u) // id-gather paths keep their contract
      case SelRange(_, _, step) if step != 1L => return Some(u) // keep the step grid
      case _ => ()
    }
    val dir = Format.segDir(u.root, u.segment)
    val unitSpan = (u.globalOffset, u.globalOffset + u.partRows)
    var ranges: Seq[(Long, Long)] = u.sel match {
      case SelAll => Seq(unitSpan)
      case SelRange(a, b, _) =>
        Seq((math.max(a, unitSpan._1), math.min(b, unitSpan._2))).filter(r => r._1 < r._2)
      case SelRanges(as, bs) =>
        Ranges.merge(as.indices.map(i => (math.max(as(i), unitSpan._1),
          math.min(bs(i), unitSpan._2))).filter(r => r._1 < r._2))
      case _ => Seq(unitSpan)
    }
    var pruned = false
    // conjuncts grouped per column so each chunk's filter blob is read ONCE
    // and tested against every probe set (a pushed IN plus a runtime join
    // filter on the same key must not double the ranged reads)
    probes.groupBy(_._1).foreach { case (colName, entries) =>
      val probeSets = entries.map(_._2)
      if (ranges.nonEmpty) u.colChunks.get(colName).filter(_.nonEmpty).foreach { chunks =>
        val surviving = chunks.filter { cm =>
          val keep =
            if (cm.filterKind != 1 || cm.filterBytes <= 0) true
            else try {
              val f = FsIO.readRange(s"$dir/${cm.file}", cm.filterOffset,
                cm.filterBytes.toInt)
              // chunk survives iff EVERY conjunct finds some probe present
              probeSets.forall(MemberFilter.mightContainAny(f, _))
            } catch { case _: Exception => true } // unreadable -> conservative
          if (!keep) { pruned = true; chunksFilterSkipped.incrementAndGet() }
          keep
        }
        val survRanges = Ranges.merge(surviving.map(cm =>
          (u.globalOffset + cm.rowStartLocal,
            u.globalOffset + cm.rowStartLocal + cm.nrows)))
        ranges = Ranges.intersect(ranges, survRanges)
      }
    }
    if (!pruned) return Some(u)
    if (ranges.isEmpty) return None
    val newSel: Selection =
      if (ranges.size == 1) SelRange(ranges.head._1, ranges.head._2, 1L)
      else SelRanges(ranges.map(_._1).toArray, ranges.map(_._2).toArray)
    val newCols = u.colChunks.map { case (cn, chunks) =>
      cn -> chunks.filter { cm =>
        val lo = u.globalOffset + cm.rowStartLocal
        val hi = lo + cm.nrows
        ranges.exists(r => r._1 < hi && r._2 > lo)
      }
    }
    Some(u.copy(colChunks = newCols, sel = newSel))
  }

  /** Catalyst-value accessor over a decoded chunk: strings as UTF8String,
    * token lists as UnsafeArrayData (one bulk copy, no per-int boxing).
    */
  private final class VecView(vec: ColVec) {
    private val listOffsets: Array[Int] = vec match {
      case IntListVec(lengths, _) =>
        val o = new Array[Int](lengths.length + 1)
        var i = 0
        while (i < lengths.length) { o(i + 1) = o(i) + lengths(i); i += 1 }
        o
      case _ => null
    }

    def get(i: Int): Any = vec match {
      case LongVec(a) => a(i)
      case IntVec(a) => a(i)
      case ShortVec(a) => a(i)
      case DoubleVec(a) => a(i)
      case FloatVec(a) => a(i)
      case BoolVec(a) => a(i)
      case StrVec(a) => UTF8String.fromString(a(i))
      case Utf8Vec(b) => UTF8String.fromBytes(b(i)) // zero transcode
      case BinVec(a) => a(i)
      case l: IntListVec =>
        val from = listOffsets(i)
        val until = listOffsets(i + 1)
        val out = new Array[Int](until - from)
        System.arraycopy(l.values, from, out, 0, out.length)
        UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** Default/parsed fill value for columns added after this segment
    * (pycolumns backfill: 0 / '' / fill_value, column.py:312-344).
    */
  def fillValue(cs: ColumnSpec): Any = {
    val f = cs.fill
    cs.ptype match {
      case PType.I64 => f.map(_.toLong).getOrElse(0L)
      case PType.I32 => f.map(_.toInt).getOrElse(0)
      case PType.I16 => f.map(_.toShort).getOrElse(0.toShort)
      case PType.F64 => f.map(_.toDouble).getOrElse(0.0)
      case PType.F32 => f.map(_.toFloat).getOrElse(0.0f)
      case PType.BOOL => f.exists(_.toBoolean)
      case PType.STR => f.getOrElse("")
      case PType.BIN => f.map(_.getBytes("UTF-8")).getOrElse(Array.empty[Byte])
      case PType.I32LIST => Seq.empty[Int]
    }
  }

  /** Selected local row indices for a unit, ascending, with output
    * positions (for SelIds request-order reconstruction).
    */
  private def selectedLocals(u: DecodeUnit): (Array[Long], Array[Long]) = u.sel match {
    case SelAll =>
      val n = u.partRows.toInt
      val loc = new Array[Long](n)
      var i = 0
      while (i < n) { loc(i) = i; i += 1 }
      (loc, null)
    case SelRange(start, stop, step) =>
      val lo = math.max(start, u.globalOffset)
      val hi = math.min(stop, u.globalOffset + u.partRows)
      val out = mutable.ArrayBuilder.make[Long]
      // first gid >= lo on the step grid anchored at start
      val k0 = if (lo <= start) 0L else (lo - start + step - 1) / step
      var gid = start + k0 * step
      while (gid < hi) {
        out += gid - u.globalOffset
        gid += step
      }
      (out.result(), null)
    case SelRanges(starts, stops) =>
      val out = mutable.ArrayBuilder.make[Long]
      var i = 0
      while (i < starts.length) {
        var gid = math.max(starts(i), u.globalOffset)
        val hi = math.min(stops(i), u.globalOffset + u.partRows)
        while (gid < hi) {
          out += gid - u.globalOffset
          gid += 1
        }
        i += 1
      }
      (out.result(), null)
    case SelIds(ids, pos) =>
      // sorted disk order (the reference's sortind gather,
      // _column_pywrap.c:616-668); positions scatter results back
      val order = ids.indices.sortBy(ids(_))
      val loc = new Array[Long](ids.length)
      val p = new Array[Long](ids.length)
      var i = 0
      order.foreach { oi =>
        loc(i) = ids(oi) - u.globalOffset
        p(i) = pos(oi)
        i += 1
      }
      (loc, p)
  }

  // ------------------------------------------------------- columnar batch

  /** Vectorized DSv2 read path: decoded chunk arrays are bulk-copied into
    * OnHeapColumnVectors (putLongs/putInts/... — no per-value boxing, no
    * per-row object), emitted as ColumnarBatches of ≤ `batchRows` rows.
    * Chunks spanning a batch boundary stay decoded in a one-chunk cache
    * per column, so each chunk is decompressed exactly once per scan.
    */
  final class ColumnarUnitReader(u: DecodeUnit, spec: TableSpec,
      outFields: Seq[String], batchRows: Int = 1 << 16)
      extends Iterator[ColumnarBatch] with AutoCloseable {
    import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
    import org.apache.spark.sql.types.LongType

    private val (locals, positions) = selectedLocals(u)
    private val n = locals.length
    // a row-id list may repeat ids: the contiguous-run bulk copies below
    // then need the per-row path
    private val repeats = positions != null &&
      (1 until n).exists(i => locals(i) == locals(i - 1))
    private val reader = new BlobReader(u.root, u.segment)
    private var pos = 0
    private var lastBatch: ColumnarBatch = _

    private final class ColCursor(val cs: ColumnSpec, chunks: Seq[ChunkMeta]) {
      val sorted: IndexedSeq[ChunkMeta] = chunks.sortBy(_.rowStartLocal).toIndexedSeq
      var ci = 0
      var cached: ColVec = _
      var cachedIdx: Int = -1
      var cachedOffsets: Array[Int] = _ // list columns: prefix offsets

      def chunkFor(local: Long): (ChunkMeta, ColVec) = {
        while (ci < sorted.length &&
          local >= sorted(ci).rowStartLocal + sorted(ci).nrows) ci += 1
        require(ci < sorted.length && local >= sorted(ci).rowStartLocal,
          s"selection not covered by chunks for column ${cs.name} in " +
            s"seg=${u.segment} part=${u.part}")
        if (cachedIdx != ci) {
          cached = Chunk.decode(reader.read(sorted(ci)))
          cachedIdx = ci
          cachedOffsets = cached match {
            case IntListVec(lengths, _) =>
              val o = new Array[Int](lengths.length + 1)
              var i = 0
              while (i < lengths.length) { o(i + 1) = o(i) + lengths(i); i += 1 }
              o
            case _ => null
          }
        }
        (sorted(ci), cached)
      }
    }

    private def isId(f: String) = f == "_row_id" || f == "_pos"

    private val cursors: Array[ColCursor] = outFields.map { f =>
      if (isId(f)) null else new ColCursor(spec.col(f), u.colChunks(f))
    }.toArray

    override def hasNext: Boolean = pos < n

    override def next(): ColumnarBatch = {
      val from = pos
      val until = math.min(n, pos + batchRows)
      val cnt = until - from
      val vectors = outFields.zipWithIndex.map { case (f, vi) =>
        val dt = if (isId(f)) LongType
          else ColumnStore.sparkType(cursors(vi).cs.ptype)
        val vec = new OnHeapColumnVector(cnt, dt)
        if (f == "_row_id") {
          var i = 0
          while (i < cnt) { vec.putLong(i, u.globalOffset + locals(from + i)); i += 1 }
        } else if (f == "_pos") vec.putLongs(0, cnt, positions, from)
        else fill(cursors(vi), vec, from, until)
        vec: org.apache.spark.sql.vectorized.ColumnVector
      }.toArray
      pos = until
      lastBatch = new ColumnarBatch(vectors, cnt)
      lastBatch
    }

    private def fill(cur: ColCursor, vec: WritableColumnVector,
        from: Int, until: Int): Unit = {
      if (cur.sorted.isEmpty) { fillConstant(cur.cs, vec, until - from); return }
      var k = from
      while (k < until) {
        val (cm, cv) = cur.chunkFor(locals(k))
        val lo = cm.rowStartLocal
        val hi = lo + cm.nrows
        // span of this batch covered by the current chunk
        var j = k
        while (j < until && locals(j) < hi) j += 1
        val cnt = j - k
        val off = (locals(k) - lo).toInt
        // bulk path when the selected span is a contiguous run of rows
        val contiguous = !repeats && locals(j - 1) - locals(k) == (j - 1 - k).toLong
        cv match {
          case LongVec(a) =>
            if (contiguous) vec.putLongs(k - from, cnt, a, off)
            else { var t = k; while (t < j) { vec.putLong(t - from, a((locals(t) - lo).toInt)); t += 1 } }
          case IntVec(a) =>
            if (contiguous) vec.putInts(k - from, cnt, a, off)
            else { var t = k; while (t < j) { vec.putInt(t - from, a((locals(t) - lo).toInt)); t += 1 } }
          case ShortVec(a) =>
            if (contiguous) vec.putShorts(k - from, cnt, a, off)
            else { var t = k; while (t < j) { vec.putShort(t - from, a((locals(t) - lo).toInt)); t += 1 } }
          case DoubleVec(a) =>
            if (contiguous) vec.putDoubles(k - from, cnt, a, off)
            else { var t = k; while (t < j) { vec.putDouble(t - from, a((locals(t) - lo).toInt)); t += 1 } }
          case FloatVec(a) =>
            if (contiguous) vec.putFloats(k - from, cnt, a, off)
            else { var t = k; while (t < j) { vec.putFloat(t - from, a((locals(t) - lo).toInt)); t += 1 } }
          case BoolVec(a) =>
            var t = k
            while (t < j) { vec.putBoolean(t - from, a((locals(t) - lo).toInt)); t += 1 }
          case StrVec(a) =>
            var t = k
            while (t < j) {
              vec.putByteArray(t - from,
                a((locals(t) - lo).toInt).getBytes(java.nio.charset.StandardCharsets.UTF_8))
              t += 1
            }
          case Utf8Vec(b) => // raw decode-side bytes: no per-row transcode
            var t = k
            while (t < j) { vec.putByteArray(t - from, b((locals(t) - lo).toInt)); t += 1 }
          case BinVec(a) =>
            var t = k
            while (t < j) { vec.putByteArray(t - from, a((locals(t) - lo).toInt)); t += 1 }
          case l: IntListVec =>
            val child = vec.arrayData()
            var t = k
            while (t < j) {
              val r = (locals(t) - lo).toInt
              val start = child.appendInts(l.lengths(r), l.values, cur.cachedOffsets(r))
              vec.putArray(t - from, start, l.lengths(r))
              t += 1
            }
        }
        k = j
      }
    }

    private def fillConstant(cs: ColumnSpec, vec: WritableColumnVector, cnt: Int): Unit =
      fillValue(cs) match {
        case v: Long => vec.putLongs(0, cnt, v)
        case v: Int => vec.putInts(0, cnt, v)
        case v: Short => vec.putShorts(0, cnt, v)
        case v: Double => vec.putDoubles(0, cnt, v)
        case v: Float => vec.putFloats(0, cnt, v)
        case v: Boolean => vec.putBooleans(0, cnt, v)
        case v: String =>
          val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          while (i < cnt) { vec.putByteArray(i, b); i += 1 }
        case v: Array[Byte] =>
          var i = 0
          while (i < cnt) { vec.putByteArray(i, v); i += 1 }
        case _: Seq[_] => // empty token list fill
          var i = 0
          while (i < cnt) { vec.putArray(i, 0, 0); i += 1 }
        case other => throw new IllegalStateException(s"fill $other")
      }

    override def close(): Unit = {
      reader.close()
      if (lastBatch != null) lastBatch.close()
    }
  }

  /** Per-column streaming cursor for the ordered scan's scatter-back:
    * serves catalyst values for ASCENDING local row ids holding at most ONE
    * decoded chunk at a time — the same memory contract as
    * ColumnarUnitReader and as the reference (chunks.py:633-669
    * decompresses one chunk at a time).
    */
  private final class StreamCursor(u: DecodeUnit, cs: ColumnSpec,
      chunks: Seq[ChunkMeta], reader: BlobReader) {
    private val sorted = chunks.sortBy(_.rowStartLocal).toIndexedSeq
    private val fillV: Any =
      if (sorted.nonEmpty) null
      else fillValue(cs) match { // catalyst representation for InternalRows
        case s: String => UTF8String.fromString(s)
        case seq: Seq[_] => UnsafeArrayData.fromPrimitiveArray(
          seq.map(_.asInstanceOf[Number].intValue).toArray)
        case other => other
      }
    private var ci = 0
    private var view: VecView = _
    private var lo = 0L
    private var hi = -1L // current chunk's covered local range [lo, hi)

    private def advance(local: Long): Unit = {
      while (ci < sorted.length &&
        local >= sorted(ci).rowStartLocal + sorted(ci).nrows) ci += 1
      // a planning gap must fail loudly, not surface as NPEs downstream
      require(ci < sorted.length && local >= sorted(ci).rowStartLocal,
        s"selection not covered by chunks for column ${cs.name} in " +
          s"seg=${u.segment} part=${u.part}")
      view = new VecView(Chunk.decode(reader.read(sorted(ci))))
      lo = sorted(ci).rowStartLocal
      hi = lo + sorted(ci).nrows
    }

    def get(local: Long): Any = {
      if (sorted.isEmpty) return fillV // backfilled column: constant fill
      if (local >= hi || local < lo) advance(local)
      view.get((local - lo).toInt)
    }
  }

  /** Decode a SelIds unit, writing each output row into `slots` at its
    * selection POSITION (the SelIds `pos` contract) — the ordered-scan
    * reader's scatter-back: ids arrive in value order with pos = 0..B-1,
    * chunks decode once in disk order, rows land value-ordered. Row layout
    * follows `outFields` exactly (no leading id/pos fields).
    */
  def decodeUnitSlotted(u: DecodeUnit, spec: TableSpec, wanted: Seq[String],
      outFields: Seq[String], slots: Array[InternalRow]): Unit = {
    val (locals, positions) = selectedLocals(u)
    if (locals.isEmpty) return
    require(positions != null, "decodeUnitSlotted requires a SelIds selection")
    val reader = new BlobReader(u.root, u.segment)
    try {
      val cursors = wanted.map(cn =>
        new StreamCursor(u, spec.col(cn), u.colChunks(cn), reader)).toArray
      val srcIdx = outFields.map {
        case "_row_id" => -1
        case cn =>
          val i = wanted.indexOf(cn)
          require(i >= 0, s"outField $cn not among wanted columns $wanted")
          i
      }.toArray
      var i = 0
      while (i < locals.length) {
        val arr = new Array[Any](srcIdx.length)
        var f = 0
        while (f < srcIdx.length) {
          arr(f) = if (srcIdx(f) < 0) u.globalOffset + locals(i)
            else cursors(srcIdx(f)).get(locals(i))
          f += 1
        }
        slots(positions(i).toInt) = new GenericInternalRow(arr)
        i += 1
      }
    } finally reader.close()
  }
}
