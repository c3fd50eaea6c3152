package graft.sources

import graft.store.FsIO
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** FITS binary-table (BINTABLE) ingestion — the reference's `from_fits`
  * surface (/root/reference/pycolumns/convenience.py:7-127), re-expressed
  * Spark-first: instead of a driver loop appending cache_mem-sized slices,
  * the reader partitions the table's fixed-width record region by ROW
  * RANGES and each task decodes its slice directly from the file — the
  * byteswap the reference does per slice (FITS is big-endian) happens
  * inside the per-field decode.
  *
  * Implemented from the public FITS 4.0 standard: 2880-byte header blocks
  * of 80-char cards; BINTABLE extensions with TFORM codes L (logical),
  * B (unsigned byte), I/J/K (16/32/64-bit big-endian two's complement),
  * E/D (IEEE 754 big-endian), rA (fixed-width byte strings), and rJ
  * (fixed-length int32 arrays). Heap-based variable arrays (P/Q) are not
  * supported — the reference's numpy path rejects those too.
  */
object Fits {

  final case class ColDef(name: String, code: Char, repeat: Int,
      offset: Int, width: Int)
  final case class BinTable(dataStart: Long, rowBytes: Int, nrows: Long,
      cols: Seq[ColDef]) extends Serializable

  private val BlockSize = 2880
  private val CardSize = 80

  private def codeWidth(code: Char): Int = code match {
    case 'L' | 'B' | 'A' => 1
    case 'I' => 2
    case 'J' | 'E' => 4
    case 'K' | 'D' => 8
    case other => throw new IllegalArgumentException(
      s"unsupported TFORM code '$other' (supported: L B I J K E D A)")
  }

  private def pad(n: Long): Long = ((n + BlockSize - 1) / BlockSize) * BlockSize

  /** Read one header (2880-blocks until the END card) as keyword→value. */
  private def readHeader(in: FsIO.RangeReader,
      start: Long): (Map[String, String], Long) = {
    val cards = mutable.LinkedHashMap.empty[String, String]
    var pos = start
    var done = false
    val block = new Array[Byte](BlockSize)
    while (!done) {
      in.readFully(pos, block)
      var c = 0
      while (c < BlockSize / CardSize && !done) {
        val card = new String(block, c * CardSize, CardSize, "US-ASCII")
        val key = card.take(8).trim
        if (key == "END") done = true
        else if (key.nonEmpty && card.length > 9 && card.charAt(8) == '=') {
          val raw = card.substring(10)
          val v = raw.trim match {
            case s if s.startsWith("'") =>
              // FITS string value: '' inside the quotes is an ESCAPED quote
              // (FITS 4.0 §4.2.1) — scan for the first quote NOT followed by
              // another; a card with no closing quote is malformed and must
              // raise, not silently decode as an empty value.
              val inner = s.drop(1)
              val sb = new StringBuilder
              var i = 0
              var closed = false
              while (i < inner.length && !closed) {
                if (inner.charAt(i) == '\'') {
                  if (i + 1 < inner.length && inner.charAt(i + 1) == '\'') {
                    sb.append('\''); i += 2
                  } else closed = true
                } else { sb.append(inner.charAt(i)); i += 1 }
              }
              if (!closed) throw new IllegalArgumentException(
                s"unterminated FITS string value in card: ${card.trim}")
              sb.result().trim
            case s => // numeric / logical: strip the comment
              val slash = s.indexOf('/')
              (if (slash >= 0) s.take(slash) else s).trim
          }
          cards(key) = v
        }
        c += 1
      }
      pos += BlockSize
    }
    (cards.toMap, pos)
  }

  private def dataBytes(h: Map[String, String]): Long = {
    val naxis = h.getOrElse("NAXIS", "0").toInt
    if (naxis == 0) return 0L
    val elem = math.abs(h("BITPIX").toLong) / 8
    val counts = (1 to naxis).map(i => h(s"NAXIS$i").toLong)
    elem * counts.product + h.getOrElse("PCOUNT", "0").toLong
  }

  /** Parse headers up to extension `ext` (1-based, like the reference's
    * default ext=1) and describe its binary table.
    */
  def describe(path: String, ext: Int = 1): BinTable = {
    val in = new FsIO.RangeReader(path)
    try {
      var (h, dataStart) = readHeader(in, 0L)
      require(h.getOrElse("SIMPLE", "F") == "T", s"$path is not a FITS file")
      var hduIdx = 0
      var pos = dataStart + pad(dataBytes(h))
      while (hduIdx < ext) {
        val (eh, ds) = readHeader(in, pos)
        h = eh
        dataStart = ds
        pos = ds + pad(dataBytes(eh))
        hduIdx += 1
      }
      require(h.getOrElse("XTENSION", "") == "BINTABLE",
        s"extension $ext of $path is ${h.getOrElse("XTENSION", "?")}, not BINTABLE")
      val rowBytes = h("NAXIS1").toInt
      val nrows = h("NAXIS2").toLong
      val nf = h("TFIELDS").toInt
      var offset = 0
      val cols = (1 to nf).map { i =>
        val name = h.getOrElse(s"TTYPE$i", s"col$i")
        val tform = h(s"TFORM$i")
        val m = """^(\d*)([A-Z])""".r.findFirstMatchIn(tform).getOrElse(
          throw new IllegalArgumentException(s"bad TFORM$i '$tform'"))
        val repeat = if (m.group(1).isEmpty) 1 else m.group(1).toInt
        val code = m.group(2).charAt(0)
        require(repeat == 1 || code == 'A' || code == 'J',
          s"TFORM$i '$tform': repeat counts supported for A (strings) and J (int32 arrays) only")
        val w = codeWidth(code) * repeat
        val col = ColDef(name, code, repeat, offset, w)
        offset += w
        col
      }
      require(offset == rowBytes,
        s"TFORM widths sum to $offset but NAXIS1=$rowBytes")
      BinTable(dataStart, rowBytes, nrows, cols)
    } finally in.close()
  }

  private def sparkType(c: ColDef): DataType = c.code match {
    case 'L' => BooleanType
    case 'B' | 'I' => ShortType
    case 'J' => if (c.repeat > 1) ArrayType(IntegerType, containsNull = false) else IntegerType
    case 'K' => LongType
    case 'E' => FloatType
    case 'D' => DoubleType
    case 'A' => StringType
    case other => throw new IllegalArgumentException(s"TFORM '$other'")
  }

  def schemaOf(t: BinTable): StructType =
    StructType(t.cols.map(c => StructField(c.name, sparkType(c), nullable = false)))

  /** Distributed read: the record region splits into row ranges, one task
    * per range; each task positions reads on its slice only. Scale shape
    * matches any fixed-width binary source (no driver loop, no full-file
    * buffering, ~targetSplitBytes of input per task).
    */
  def load(spark: SparkSession, path: String, ext: Int = 1,
      targetSplitBytes: Long = 64L << 20): DataFrame = {
    val t = describe(path, ext)
    val schema = schemaOf(t)
    val rowsPerSplit = math.max(1L, targetSplitBytes / math.max(1, t.rowBytes))
    val splits = (0L until t.nrows by rowsPerSplit)
      .map(s => (s, math.min(t.nrows, s + rowsPerSplit)))
    val tb = t
    val pathB = path
    val rdd = spark.sparkContext
      .parallelize(splits, math.max(1, splits.size))
      .flatMap { case (from, until) => readRange(pathB, tb, from, until) }
    spark.createDataFrame(rdd, schema)
  }

  private def readRange(path: String, t: BinTable, from: Long,
      until: Long): Iterator[Row] = {
    val in = new FsIO.RangeReader(path)
    var closed = false
    def close(): Unit = if (!closed) { closed = true; try in.close() catch { case _: Exception => } }
    // short-circuited consumption (limit/take) and task death must not leak
    // the handle: close on exhaustion, and on task completion as a backstop
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => close())
    val buf = new Array[Byte](t.rowBytes)
    var r = from
    new Iterator[Row] {
      override def hasNext: Boolean = {
        val h = r < until
        if (!h) close()
        h
      }
      override def next(): Row = {
        in.readFully(t.dataStart + r * t.rowBytes, buf)
        r += 1
        Row.fromSeq(t.cols.map(decodeField(buf, _)))
      }
    }
  }

  private def be16(b: Array[Byte], o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
  private def be64(b: Array[Byte], o: Int): Long =
    ((be32(b, o).toLong) << 32) | (be32(b, o + 4).toLong & 0xffffffffL)

  private def decodeField(buf: Array[Byte], c: ColDef): Any = c.code match {
    case 'L' => buf(c.offset) == 'T'.toByte
    case 'B' => (buf(c.offset) & 0xff).toShort // FITS B is unsigned
    case 'I' => be16(buf, c.offset).toShort
    case 'J' =>
      if (c.repeat == 1) be32(buf, c.offset)
      else (0 until c.repeat).map(k => be32(buf, c.offset + 4 * k))
    case 'K' => be64(buf, c.offset)
    case 'E' => java.lang.Float.intBitsToFloat(be32(buf, c.offset))
    case 'D' => java.lang.Double.longBitsToDouble(be64(buf, c.offset))
    case 'A' =>
      // FITS pads A fields with spaces/NULs; trailing pad is not data
      var end = c.offset + c.width
      while (end > c.offset && (buf(end - 1) == ' '.toByte || buf(end - 1) == 0)) end -= 1
      new String(buf, c.offset, end - c.offset, "UTF-8")
  }

  /** `from_fits` parity: ingest a FITS binary table into a graft store
    * (create + append, distributed).
    */
  def fromFits(spark: SparkSession, coldir: String, path: String,
      ext: Int = 1, order: graft.store.OrderMode = graft.store.AsIs): graft.api.Columns =
    graft.api.Columns.fromDataFrame(spark, coldir, load(spark, path, ext), order,
      lineage = s"fits:$path[$ext]")

  // -------------------------------------------------------------- writer

  private def card(key: String, value: String, quote: Boolean): Array[Byte] = {
    val v = if (quote) "'" + value.padTo(8, ' ') + "'" else value.reverse.padTo(20, ' ').reverse
    s"${key.padTo(8, ' ')}= $v".padTo(CardSize, ' ').getBytes("US-ASCII")
  }

  /** Write a DataFrame as a minimal FITS file (empty primary HDU + one
    * BINTABLE). STREAMED export: a first tiny aggregate job computes the
    * header geometry (row count, max byte width per string column, max
    * length per int-array column), then partitions stream serially through
    * the driver via `toLocalIterator` — driver memory is bounded by ONE
    * partition, never the table (the single-file FITS layout forces a
    * serial writer; the READER remains the distributed path). The source
    * must be deterministic between the two passes (a graft/parquet scan
    * is); a row exceeding its declared fixed width raises rather than
    * silently corrupting the fixed-stride records.
    */
  def writeBinTable(path: String, df: DataFrame): Unit = {
    // positioned writes need every task AND the driver to see ONE file: a
    // file:// scheme only proves that in local mode (same JVM/host). On a
    // multi-node cluster each executor's RandomAccessFile would write its
    // own node's local disk and the driver would publish its pre-sized
    // zero-filled copy — a structurally valid FITS full of wrong rows. So
    // the parallel path requires local mode, or the explicit assertion
    // that the path is a SHARED POSIX mount (NFS/Lustre):
    //   -Dgraft.fits.sharedFs=true
    val uri = new Path(path).toUri
    val localFile = uri.getScheme == null || uri.getScheme == "file"
    writeBinTable(path, df, distributed = localFile &&
      (df.sparkSession.sparkContext.isLocal ||
        sys.props.get("graft.fits.sharedFs").contains("true")))
  }

  /** The serial driver-stream writer, whatever the filesystem (the
    * bit-identity test compares it against the distributed one).
    */
  private[graft] def writeBinTableSerial(path: String, df: DataFrame): Unit =
    writeBinTable(path, df, distributed = false)

  private def writeBinTable(path: String, df: DataFrame, distributed: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col => fcol, count, lit, max => fmax,
      octet_length, size => fsize}
    val schema = df.schema
    // pass 1: O(columns) aggregate — count + fixed widths
    val widthAggs = schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case StringType => Some(fmax(octet_length(fcol(f.name))).as(s"w_${f.name}"))
        case ArrayType(IntegerType, _) => Some(fmax(fsize(fcol(f.name))).as(s"w_${f.name}"))
        case _ => None
      }
    }
    val head = df.agg(count(lit(1)).as("n"), widthAggs: _*).collect()(0)
    val nrows = head.getLong(0)
    val widths = schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case StringType | ArrayType(IntegerType, _) =>
          Some(f.name -> (if (head.isNullAt(head.fieldIndex(s"w_${f.name}"))) 1
            else math.max(1, head.getInt(head.fieldIndex(s"w_${f.name}")))))
        case _ => None
      }
    }.toMap
    val defs = schema.fields.map { f =>
      f.dataType match {
        case BooleanType => (f.name, "L", 1, 1)
        case ShortType => (f.name, "I", 1, 2)
        case IntegerType => (f.name, "J", 1, 4)
        case LongType => (f.name, "K", 1, 8)
        case FloatType => (f.name, "E", 1, 4)
        case DoubleType => (f.name, "D", 1, 8)
        case StringType => val w = widths(f.name); (f.name, s"${w}A", w, w)
        case ArrayType(IntegerType, _) =>
          val n = widths(f.name); (f.name, s"${n}J", n, 4 * n)
        case other => throw new IllegalArgumentException(s"cannot write $other to FITS")
      }
    }
    val rowBytes = defs.map(_._4).sum
    val header = new java.io.ByteArrayOutputStream()
    def writeHeader(cards: Seq[Array[Byte]]): Unit = {
      cards.foreach(header.write)
      header.write("END".padTo(CardSize, ' ').getBytes("US-ASCII"))
      while (header.size() % BlockSize != 0) header.write(' ')
    }
    writeHeader(Seq(
      card("SIMPLE", "T", quote = false),
      card("BITPIX", "8", quote = false),
      card("NAXIS", "0", quote = false),
      card("EXTEND", "T", quote = false)))
    writeHeader(Seq(
      card("XTENSION", "BINTABLE", quote = true),
      card("BITPIX", "8", quote = false),
      card("NAXIS", "2", quote = false),
      card("NAXIS1", rowBytes.toString, quote = false),
      card("NAXIS2", nrows.toString, quote = false),
      card("PCOUNT", "0", quote = false),
      card("GCOUNT", "1", quote = false),
      card("TFIELDS", defs.length.toString, quote = false)) ++
      defs.zipWithIndex.flatMap { case ((name, tform, _, _), i) =>
        Seq(card(s"TTYPE${i + 1}", name, quote = true),
          card(s"TFORM${i + 1}", tform, quote = true))
      })
    // pass 2: records are FIXED-WIDTH, so every partition's byte offset is
    // computable from the earlier partitions' row counts — on filesystems
    // with positioned writes (file://) the export is DISTRIBUTED: a count
    // job fixes the offsets, then every partition task writes its own
    // stride in parallel. Append-only filesystems (HDFS et al.) fall back
    // to the serial driver stream. Both paths write into a TEMP file and
    // rename over the destination only on success: a mid-stream failure
    // (width drift, task loss) must leave any pre-existing export intact,
    // never a truncated file whose header promises more rows than its data
    // holds.
    val tmpPath = path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
    var committed = false
    try {
      if (distributed)
        writeDistributed(tmpPath, df, schema, defs, header.toByteArray, nrows, rowBytes)
      else
        writeSerial(tmpPath, df, schema, defs, header.toByteArray, nrows, rowBytes)
      committed = true
    } finally {
      if (committed) {
        FsIO.delete(path)
        FsIO.rename(tmpPath, path)
      } else FsIO.delete(tmpPath)
    }
  }

  /** Encode one row into the fixed-stride record buffer. Shared by the
    * serial and distributed writers so the two paths are bit-identical.
    */
  private def encodeRecord(schema: StructType, defs: Array[(String, String, Int, Int)],
      row: Row, rec: Array[Byte], rowTag: Long): Unit = {
    var o = 0
    var i = 0
    while (i < defs.length) {
      val (name, _, rep, w) = defs(i)
      schema.fields(i).dataType match {
        case BooleanType => rec(o) = (if (row.getBoolean(i)) 'T' else 'F').toByte
        case ShortType =>
          val v = row.getShort(i); rec(o) = (v >> 8).toByte; rec(o + 1) = v.toByte
        case IntegerType => putBe32(rec, o, row.getInt(i))
        case LongType => putBe64(rec, o, row.getLong(i))
        case FloatType => putBe32(rec, o, java.lang.Float.floatToIntBits(row.getFloat(i)))
        case DoubleType => putBe64(rec, o, java.lang.Double.doubleToLongBits(row.getDouble(i)))
        case StringType =>
          java.util.Arrays.fill(rec, o, o + w, ' '.toByte)
          val b = row.getString(i).getBytes("UTF-8")
          require(b.length <= w,
            s"row $rowTag: column $name value (${b.length} B) exceeds the " +
              s"declared ${w}A width — source changed between export passes")
          System.arraycopy(b, 0, rec, o, b.length)
        case ArrayType(IntegerType, _) =>
          val a = row.getSeq[Int](i)
          require(a.length <= rep,
            s"row $rowTag: column $name array (${a.length}) exceeds the " +
              s"declared ${rep}J repeat — source changed between export passes")
          var k = 0
          while (k < rep) { putBe32(rec, o + 4 * k, if (k < a.length) a(k) else 0); k += 1 }
        case _ =>
      }
      o += w
      i += 1
    }
  }

  private def writeSerial(tmpPath: String, df: DataFrame, schema: StructType,
      defs: Array[(String, String, Int, Int)], header: Array[Byte],
      nrows: Long, rowBytes: Int): Unit = {
    val os = FsIO.createOut(tmpPath)
    try {
      os.write(header)
      var dataBytes = 0L
      var streamed = 0L
      val rec = new Array[Byte](rowBytes)
      val it = df.toLocalIterator()
      while (it.hasNext) {
        encodeRecord(schema, defs, it.next(), rec, streamed)
        os.write(rec)
        dataBytes += rowBytes
        streamed += 1
      }
      require(streamed == nrows,
        s"streamed $streamed rows but the header promised $nrows — " +
          "source changed between export passes")
      while (dataBytes % BlockSize != 0) { os.write(0); dataBytes += 1 }
    } finally os.close()
  }

  /** Parallel positioned-write export (local filesystems): the driver
    * pre-sizes the file (zero fill = valid FITS data padding), a count job
    * fixes each partition's byte offset, then every partition writes its
    * own stride concurrently. Export bandwidth scales with cores instead
    * of a single driver stream; the source must be deterministic between
    * the count and write jobs (same contract as the two header passes).
    */
  private def writeDistributed(tmpPath: String, df: DataFrame, schema: StructType,
      defs: Array[(String, String, Int, Int)], header: Array[Byte],
      nrows: Long, rowBytes: Int): Unit = {
    val localPath = new Path(tmpPath).toUri.getPath
    val counts = df.rdd.mapPartitionsWithIndex { case (i, it) =>
      Iterator.single((i, it.size.toLong))
    }.collect().sortBy(_._1).map(_._2)
    require(counts.sum == nrows,
      s"count job saw ${counts.sum} rows but the header promised $nrows — " +
        "source changed between export passes")
    val offsets = counts.scanLeft(0L)(_ + _)
    val headerLen = header.length.toLong
    val dataBytes = nrows * rowBytes
    val padded = (dataBytes + BlockSize - 1) / BlockSize * BlockSize
    locally {
      val parent = java.nio.file.Paths.get(localPath).getParent
      if (parent != null) java.nio.file.Files.createDirectories(parent)
      val raf = new java.io.RandomAccessFile(localPath, "rw")
      try { raf.setLength(headerLen + padded); raf.write(header) }
      finally raf.close()
    }
    val written = df.rdd.mapPartitionsWithIndex { case (i, it) =>
      val raf = new java.io.RandomAccessFile(localPath, "rw")
      try {
        raf.seek(headerLen + offsets(i) * rowBytes)
        // buffered: one syscall per ~1 MiB, not per record
        val batchRecs = math.max(1, (1 << 20) / rowBytes)
        val buf = new Array[Byte](batchRecs * rowBytes)
        val rec = new Array[Byte](rowBytes)
        var inBuf = 0
        var n = 0L
        while (it.hasNext) {
          encodeRecord(schema, defs, it.next(), rec, n)
          System.arraycopy(rec, 0, buf, inBuf * rowBytes, rowBytes)
          n += 1
          inBuf += 1
          if (inBuf == batchRecs) { raf.write(buf, 0, inBuf * rowBytes); inBuf = 0 }
        }
        if (inBuf > 0) raf.write(buf, 0, inBuf * rowBytes)
        Iterator.single((i, n))
      } finally raf.close()
    }.collect().sortBy(_._1).map(_._2)
    written.indices.foreach(i => require(written(i) == counts(i),
      s"partition $i wrote ${written(i)} rows but counted ${counts(i)} — " +
        "source changed between export passes"))
  }

  private def putBe32(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v >>> 24).toByte; b(o + 1) = (v >>> 16).toByte
    b(o + 2) = (v >>> 8).toByte; b(o + 3) = v.toByte
  }
  private def putBe64(b: Array[Byte], o: Int, v: Long): Unit = {
    putBe32(b, o, (v >>> 32).toInt); putBe32(b, o + 4, v.toInt)
  }
}
