package graft.store

import graft.codec.{Bytes, PType}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** On-disk format of a graft column store (SURVEY.md §1.3 mapping).
  *
  * ```
  * root/
  *   _schema.bin                 # TableSpec (columns, chunking config)
  *   _meta/<name>.bin            # Meta entries (string map, pycolumns Meta)
  *   segments/seg<N>/            # one segment per create/append (immutable)
  *     p<i>.<col>.bin            # column chunk blobs, partition i, base
  *     p<i>.<col>.c<j>.v<k>.bin  # copy-on-write updated chunk j, version k
  *     p<i>.manifest.bin         # per-partition manifest == resume checkpoint
  *     p<i>.manifest.v<k>.bin    # manifest after update round k
  *     _commit.bin               # segment commit record (global row offsets)
  *   index/<col>/                # sorted index table (parquet) + meta
  *   <name>.cols/                # nested sub-table (own independent store)
  * ```
  *
  * The per-partition manifest is the analogue of pycolumns' chunk descriptor
  * table (offset,nbytes,rowstart,nrows — /root/reference/pycolumns/
  * defaults.py:25-33) and doubles as lineage + metrics + the resume
  * checkpoint required by the north rule: a partition whose manifest exists
  * is complete and is skipped on restart.
  *
  * All metadata uses the same versioned little-endian binary writer as the
  * codecs (graft.codec.Bytes) — no external JSON dependency needed.
  */
object Format {
  final val SchemaFile = "_schema.bin"
  final val MetaDir = "_meta"
  final val SegmentsDir = "segments"
  final val IndexDir = "index"
  /** Consolidated per-segment manifest (all partition manifests, partition
    * order), written at commit so planning does one metadata read per
    * SEGMENT instead of a list+read per partition.
    */
  final val SegManifestFile = "_manifest.bin"
  /** Schema format: columns with per-column compression/chunking config. */
  final val FormatVersion = 2

  /** Loud failure for metadata in a layout this build does not write: an
    * older pre-release format must never be silently misread.
    */
  private[store] def unsupported(kind: String, found: String, reads: String): Nothing =
    throw new IllegalStateException(
      s"unsupported $kind: found $found; this build reads $reads only")

  def segDir(root: String, seg: Long): String = s"$root/$SegmentsDir/seg$seg"
  def colFile(part: Int, col: String): String = s"p$part.$col.bin"
  def cowFile(part: Int, col: String, chunk: Int, ver: Int): String =
    s"p$part.$col.c$chunk.v$ver.bin"
  /** Vacuum GENERATION file: a column's chunks rewritten contiguous. Never
    * overwrites the files the current manifest references — vacuum
    * publishes the new manifest first and GCs the old files after.
    */
  def genFile(part: Int, col: String, ver: Int): String =
    s"p$part.$col.g$ver.bin"
  def partManifestFile(part: Int, ver: Int): String =
    if (ver == 0) s"p$part.manifest.bin" else s"p$part.manifest.v$ver.bin"
}

/** One persisted column's schema (pycolumns ColumnSchema analogue,
  * /root/reference/pycolumns/schema.py:183-261). fixedWidth>0 reproduces
  * numpy 'U<n>'/'S<n>' truncate-on-write semantics; fill backs new columns
  * (columns.py:471-485). addedAtSegment: segments older than this synthesize
  * the fill value on read.
  */
final case class ColumnSpec(
    name: String,
    ptypeId: Int,
    fixedWidth: Int = 0,
    fill: Option[String] = None,
    addedAtSegment: Long = 0L,
    /** Per-column compression hint resolved by CodecConfig.forColumn
      * (pycolumns schema.py:264-325: None/auto, "none", "zstd[:lvl]", or a
      * codec name). None = content-driven auto-selection.
      */
    compression: Option[String] = None,
    /** Per-column chunk size override in bytes (0 = table default). */
    chunkBytes: Long = 0L,
    /** Per-column rows-per-chunk override (0 = derive from bytes). */
    chunkRows: Int = 0) {
  def ptype: PType.PType = PType(ptypeId)
}

final case class TableSpec(
    columns: Seq[ColumnSpec],
    targetChunkBytes: Long = 1L << 20, // reference default '1m', defaults.py:23
    chunkRows: Int = 0) {              // 0 = derive from targetChunkBytes
  def col(name: String): ColumnSpec =
    columns.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no such column: $name"))
  def colNames: Seq[String] = columns.map(_.name)
}

/** One encoded chunk's manifest entry. rowStartLocal is partition-local;
  * global row ids come from the segment commit's per-partition offsets.
  */
/** statsKind: 0 = none, 1 = integer min/max in (minBits, maxBits),
  * 2 = floating min/max stored as raw IEEE bits. These are the chunk-level
  * zone map for VALUE predicates (the base-data analogue of the index's
  * Parquet row-group stats), used by the DSv2 scan for chunk pruning.
  */
final case class ChunkMeta(
    column: String,
    chunkIdx: Int,
    rowStartLocal: Long,
    nrows: Int,
    codec: Int,
    outer: Int,
    file: String,
    offset: Long,
    nbytes: Long,
    rawBytes: Long,
    crc: Long,
    statsKind: Int = 0,
    minBits: Long = 0L,
    maxBits: Long = 0L,
    /** sumKind 1 = exact integer sum of the chunk's values in sumBits
      * (manifest v3) — lets unfiltered SUM answer metadata-only; 0 = none.
      */
    sumKind: Int = 0,
    sumBits: Long = 0L,
    /** filterKind 1 = a MemberFilter (split-block bloom over the chunk's
      * distinct values) lives at [filterOffset, filterOffset+filterBytes)
      * of `file` (manifest v4); 0 = none. Equality/IN probes test it
      * before decoding — the filter blob itself stays OUT of the manifest
      * so planning metadata remains O(chunks), not O(distinct values).
      */
    filterKind: Int = 0,
    filterOffset: Long = 0L,
    filterBytes: Long = 0L)

/** Per-partition manifest: checkpoint + lineage + metrics. */
final case class PartManifest(
    segment: Long,
    part: Int,
    nrows: Long,
    elapsedNanos: Long,
    lineage: String,
    updateVersion: Int,
    chunks: Seq[ChunkMeta])

final case class SegmentCommit(
    segment: Long,
    partRows: Seq[Long], // rows per partition, ordered by partition id
    lineage: String) {
  def totalRows: Long = partRows.sum
}

object BinCodec {
  import Bytes._

  private def wStr(w: Writer, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    w.writeVar(b.length.toLong); w.writeBytes(b)
  }
  private def rStr(r: Reader): String =
    new String(r.readBytes(r.readVar().toInt), java.nio.charset.StandardCharsets.UTF_8)

  def writeTableSpec(t: TableSpec): Array[Byte] = {
    val w = new Writer()
    w.writeVar(Format.FormatVersion.toLong)
    w.writeVar(t.targetChunkBytes)
    w.writeVar(t.chunkRows.toLong)
    w.writeVar(t.columns.size.toLong)
    t.columns.foreach { c =>
      wStr(w, c.name)
      w.writeVar(c.ptypeId.toLong)
      w.writeVar(c.fixedWidth.toLong)
      w.writeByte(if (c.fill.isDefined) 1 else 0)
      c.fill.foreach(wStr(w, _))
      w.writeVar(c.addedAtSegment)
      w.writeByte(if (c.compression.isDefined) 1 else 0)
      c.compression.foreach(wStr(w, _))
      w.writeVar(c.chunkBytes)
      w.writeVar(c.chunkRows.toLong)
    }
    w.result()
  }

  def readTableSpec(b: Array[Byte]): TableSpec = {
    val r = new Reader(b)
    val ver = r.readVar().toInt
    if (ver != Format.FormatVersion)
      Format.unsupported("table schema (_schema.bin)", s"format v$ver",
        s"format v${Format.FormatVersion}")
    val tcb = r.readVar()
    val cr = r.readVar().toInt
    val n = r.readVar().toInt
    val cols = (0 until n).map { _ =>
      val name = rStr(r)
      val pt = r.readVar().toInt
      val fw = r.readVar().toInt
      val fill = if (r.readByte() == 1) Some(rStr(r)) else None
      val seg = r.readVar()
      val comp = if (r.readByte() == 1) Some(rStr(r)) else None
      ColumnSpec(name, pt, fw, fill, seg, comp, r.readVar(), r.readVar().toInt)
    }
    TableSpec(cols, tcb, cr)
  }

  /** Leading sentinel of part manifests and commit records, followed by
    * the format version. Earlier layouts began with the segment number —
    * real segments are small, so this value can never collide.
    */
  private final val ManifestMagic = 0x67726674aaL // "grft" + noise
  private final val ManifestVersion = 4
  private final val CommitVersion = 2

  /** Check the magic and version, or fail naming what was found; layouts
    * before the magic were version `preMagic`.
    */
  private def readVersion(r: Reader, kind: String, expect: Int, preMagic: Int): Unit = {
    if (r.readVar() != ManifestMagic)
      Format.unsupported(kind, s"v$preMagic (no magic)", s"v$expect")
    val ver = r.readVar().toInt
    if (ver != expect) Format.unsupported(kind, s"v$ver", s"v$expect")
  }

  def writePartManifest(m: PartManifest): Array[Byte] = {
    val w = new Writer()
    w.writeVar(ManifestMagic); w.writeVar(ManifestVersion.toLong)
    w.writeVar(m.segment); w.writeVar(m.part.toLong); w.writeVar(m.nrows)
    // fixed width: a varint here would make manifest SIZE depend on timing
    w.writeLE64(m.elapsedNanos); wStr(w, m.lineage)
    w.writeVar(m.updateVersion.toLong)
    w.writeVar(m.chunks.size.toLong)
    m.chunks.foreach { c =>
      wStr(w, c.column); w.writeVar(c.chunkIdx.toLong)
      w.writeVar(c.rowStartLocal); w.writeVar(c.nrows.toLong)
      w.writeVar(c.codec.toLong); w.writeVar(c.outer.toLong)
      wStr(w, c.file); w.writeVar(c.offset); w.writeVar(c.nbytes)
      w.writeVar(c.rawBytes); w.writeLE64(c.crc)
      w.writeVar(c.statsKind.toLong); w.writeLE64(c.minBits); w.writeLE64(c.maxBits)
      w.writeVar(c.sumKind.toLong); w.writeLE64(c.sumBits)
      w.writeVar(c.filterKind.toLong); w.writeVar(c.filterOffset)
      w.writeVar(c.filterBytes)
    }
    w.result()
  }

  def readPartManifest(b: Array[Byte]): PartManifest = {
    val r = new Reader(b)
    readVersion(r, "part manifest", ManifestVersion, preMagic = 2)
    val seg = r.readVar(); val part = r.readVar().toInt; val nrows = r.readVar()
    val el = r.readLE64(); val lin = rStr(r)
    val uv = r.readVar().toInt
    val n = r.readVar().toInt
    val chunks = (0 until n).map { _ =>
      ChunkMeta(rStr(r), r.readVar().toInt, r.readVar(), r.readVar().toInt,
        r.readVar().toInt, r.readVar().toInt, rStr(r), r.readVar(), r.readVar(),
        r.readVar(), r.readLE64(), r.readVar().toInt, r.readLE64(), r.readLE64(),
        r.readVar().toInt, r.readLE64(), r.readVar().toInt, r.readVar(), r.readVar())
    }
    PartManifest(seg, part, nrows, el, lin, uv, chunks)
  }

  /** Consolidated segment manifest: length-prefixed part manifests in
    * partition order.
    */
  def writeSegManifest(ms: Seq[Array[Byte]]): Array[Byte] = {
    val w = new Bytes.Writer(ms.map(_.length + 5).sum + 5)
    w.writeVar(ms.size.toLong)
    ms.foreach { b => w.writeVar(b.length.toLong); w.writeBytes(b) }
    w.result()
  }

  def readSegManifest(b: Array[Byte]): IndexedSeq[PartManifest] = {
    val r = new Reader(b)
    val n = r.readVar().toInt
    (0 until n).map(_ => readPartManifest(r.readBytes(r.readVar().toInt)))
  }

  def writeSegmentCommit(c: SegmentCommit): Array[Byte] = {
    val w = new Writer()
    w.writeVar(ManifestMagic); w.writeVar(CommitVersion.toLong)
    w.writeVar(c.segment)
    w.writeVar(c.partRows.size.toLong)
    c.partRows.foreach(w.writeVar)
    wStr(w, c.lineage)
    // visibility flag: the segment is published by its `.commit-<n>-<seg>`
    // marker (ColumnStore.commitSegment); always set
    w.writeByte(1)
    w.result()
  }

  def readSegmentCommit(b: Array[Byte]): SegmentCommit = {
    val r = new Reader(b)
    readVersion(r, "segment commit record", CommitVersion, preMagic = 1)
    val seg = r.readVar()
    val n = r.readVar().toInt
    val rows = (0 until n).map(_ => r.readVar())
    val lin = rStr(r)
    if (r.readByte() != 1)
      Format.unsupported("segment commit record", "v2 without the marker flag",
        "marker-published v2")
    SegmentCommit(seg, rows, lin)
  }

}

/** Filesystem access through the Hadoop FS API so the same code runs on
  * file://, hdfs:// and s3a:// at cluster scale; local mode uses
  * RawLocalFileSystem semantics.
  */
object FsIO {
  // ONE Configuration per JVM: constructing one parses XML under global
  // JAXP locks — doing that per call serializes 32-way parallel encodes
  @transient private[graft] lazy val conf = new Configuration()

  def fs(path: String): FileSystem =
    new Path(path).getFileSystem(conf) // Hadoop caches FS per (scheme, auth)

  /** Metadata-operation counter (list + whole-file reads), used by tests to
    * assert planning does O(segments), not O(partitions), round-trips.
    */
  val metaOps = new java.util.concurrent.atomic.AtomicLong(0L)

  // ---------------------------------------------------- local nio fast path
  // The Hadoop LOCAL filesystem pays a forked `chmod` per file create when
  // native IO is absent (measured in this sandbox: 7 ms/create, 34 ms per
  // write-and-rename, vs 0.16 ms through java.nio) and a per-entry stat on
  // listings. Metadata traffic (manifests, commit records, claims, index
  // metas) is pure per-operation fixed cost at ANY scale, so on local paths
  // (scheme null or file://) every op — metadata AND chunk data streams —
  // routes through java.nio; hdfs/s3a keep the Hadoop path unchanged. No
  // Hadoop `.crc` sidecars are written or read: every chunk read is checked
  // against its manifest CRC32C (Decode.readChunk) and every membership
  // filter carries its own CRC32C, on every filesystem alike.

  private def localOf(path: String): java.nio.file.Path = {
    val uri = new Path(path).toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      java.nio.file.Paths.get(uri.getPath)
    else null
  }

  /** Hadoop create() makes parent dirs implicitly; the nio writers match that. */
  private def createParents(p: java.nio.file.Path): Unit = {
    val parent = p.getParent
    if (parent != null) java.nio.file.Files.createDirectories(parent)
  }

  def exists(path: String): Boolean = {
    val lp = localOf(path)
    if (lp != null) java.nio.file.Files.exists(lp)
    else fs(path).exists(new Path(path))
  }

  def mkdirs(path: String): Unit = {
    val lp = localOf(path)
    if (lp != null) { java.nio.file.Files.createDirectories(lp); () }
    else { fs(path).mkdirs(new Path(path)); () }
  }

  // FileContext per (scheme, authority): unlike FileSystem.rename, its
  // rename(OVERWRITE) maps to an atomic POSIX rename on local/HDFS
  @transient private lazy val fileContexts =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.hadoop.fs.FileContext]()
  private def fc(path: String): org.apache.hadoop.fs.FileContext = {
    val uri = new Path(path).toUri
    val key = s"${uri.getScheme}|${Option(uri.getAuthority).getOrElse("")}"
    fileContexts.computeIfAbsent(key, _ =>
      org.apache.hadoop.fs.FileContext.getFileContext(
        fs(path).makeQualified(new Path(path)).toUri, conf))
  }

  /** Write-then-ATOMIC-overwrite-rename: at no instant does `path` not
    * exist. The previous delete-then-rename shape had a crash window that
    * could leave the store without its `_schema.bin`/`_commit.bin`/latest
    * manifest. Falls back to delete+rename on filesystems without atomic
    * overwrite rename (object stores — which have no atomic rename at all;
    * documented limitation there).
    */
  def writeAtomic(path: String, bytes: Array[Byte]): Unit = {
    val lp = localOf(path)
    if (lp != null) {
      createParents(lp)
      val tmp = lp.resolveSibling(
        lp.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, lp,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      return
    }
    val f = fs(path)
    val tmp = new Path(path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    try fc(path).rename(tmp, new Path(path),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        if (f.exists(new Path(path))) f.delete(new Path(path), false)
        if (!f.rename(tmp, new Path(path)))
          throw new java.io.IOException(s"rename $tmp -> $path failed")
    }
  }

  def readAll(path: String): Array[Byte] = {
    metaOps.incrementAndGet()
    val lp = localOf(path)
    if (lp != null) return java.nio.file.Files.readAllBytes(lp)
    val f = fs(path)
    val st = f.getFileStatus(new Path(path))
    val buf = new Array[Byte](st.getLen.toInt)
    val in = f.open(new Path(path))
    try in.readFully(0L, buf) finally in.close()
    buf
  }

  /** One open file serving positioned reads: a FileChannel on local paths,
    * an FSDataInputStream elsewhere. A decode unit reads many chunks of the
    * same column file through one handle instead of an open per chunk (on
    * an object store, per-chunk opens dominate the read path).
    */
  final class RangeReader(path: String) extends AutoCloseable {
    private val ch: java.nio.channels.FileChannel = {
      val lp = localOf(path)
      if (lp == null) null
      else java.nio.channels.FileChannel.open(lp, java.nio.file.StandardOpenOption.READ)
    }
    private val in: org.apache.hadoop.fs.FSDataInputStream =
      if (ch == null) fs(path).open(new Path(path)) else null

    /** Fill `buf` with the bytes at [offset, offset + buf.length). */
    def readFully(offset: Long, buf: Array[Byte]): Unit = {
      if (ch == null) { in.readFully(offset, buf); return }
      val bb = java.nio.ByteBuffer.wrap(buf)
      var pos = offset
      while (bb.hasRemaining) {
        val n = ch.read(bb, pos)
        if (n < 0) throw new java.io.EOFException(
          s"EOF at $pos reading [$offset, ${offset + buf.length}) of $path")
        pos += n
      }
    }

    def read(offset: Long, nbytes: Int): Array[Byte] = {
      val buf = new Array[Byte](nbytes)
      readFully(offset, buf)
      buf
    }

    def close(): Unit = if (ch != null) ch.close() else in.close()
  }

  def readRange(path: String, offset: Long, nbytes: Int): Array[Byte] = {
    val r = new RangeReader(path)
    try r.read(offset, nbytes) finally r.close()
  }

  def list(dir: String): Seq[String] = {
    metaOps.incrementAndGet()
    val lp = localOf(dir)
    if (lp != null) {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        val s = java.nio.file.Files.newDirectoryStream(lp)
        try {
          val it = s.iterator()
          while (it.hasNext) out += it.next().getFileName.toString
        } finally s.close()
      } catch { case _: java.nio.file.NoSuchFileException |
                     _: java.nio.file.NotDirectoryException => return Seq.empty }
      return out.toSeq
    }
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  def delete(path: String, recursive: Boolean = false): Unit = {
    val lp = localOf(path)
    if (lp != null) {
      if (recursive && java.nio.file.Files.isDirectory(lp,
          java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        import java.nio.file._
        Files.walkFileTree(lp, new SimpleFileVisitor[java.nio.file.Path] {
          override def visitFile(f: java.nio.file.Path,
              a: attribute.BasicFileAttributes): FileVisitResult = {
            Files.deleteIfExists(f); FileVisitResult.CONTINUE
          }
          override def postVisitDirectory(d: java.nio.file.Path,
              e: java.io.IOException): FileVisitResult = {
            Files.deleteIfExists(d); FileVisitResult.CONTINUE
          }
        })
      } else java.nio.file.Files.deleteIfExists(lp)
      return
    }
    val f = fs(path)
    if (f.exists(new Path(path))) f.delete(new Path(path), recursive)
  }

  def rename(from: String, to: String): Unit = {
    val lf = localOf(from)
    val lt = localOf(to)
    if (lf != null && lt != null) {
      java.nio.file.Files.move(lf, lt, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      return
    }
    if (!fs(from).rename(new Path(from), new Path(to)))
      throw new java.io.IOException(s"rename $from -> $to failed")
  }

  /** Create `path` EXCLUSIVELY (atomic claim): throws if it already exists,
    * and at most one concurrent caller succeeds. java.nio CREATE_NEW on
    * local paths (truly atomic); Hadoop `create(overwrite = false)`
    * elsewhere — atomic on HDFS (namenode-arbitrated), best-effort on
    * object stores without conditional puts.
    *
    * NOT just claim hygiene: the `.commit-<n>-<seg>` publication that fixes
    * GLOBAL ROW-ID ORDER (streaming offsets, incremental index refresh)
    * rides on this primitive. On a store where create-exclusive is
    * best-effort, two writers can both believe they published marker n and
    * readers may disagree on row numbering — a correctness failure, not a
    * hygiene one. Deploy such stores only with a single writer or an
    * external lock (see README "Filesystem requirements").
    */
  def createExclusive(path: String, bytes: Array[Byte]): Unit = {
    val uri = new Path(path).toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      java.nio.file.Files.write(java.nio.file.Paths.get(uri.getPath), bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    } else {
      val out = fs(path).create(new Path(path), false)
      try out.write(bytes) finally out.close()
    }
  }

  def crc32c(b: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32C()
    c.update(b)
    c.getValue
  }

  /** Create an output stream for a DATA file (chunk payloads): the Hadoop
    * filesystem off-local, a buffered java.nio stream on local paths (the
    * Hadoop local create forks a chmod per file when native IO is absent,
    * and a partition encoder opens one stream per column). Integrity comes
    * from the per-chunk CRC32C in the manifest, not from the filesystem.
    */
  def createOut(path: String): java.io.OutputStream = {
    val lp = localOf(path)
    if (lp == null) return fs(path).create(new Path(path), true)
    createParents(lp)
    new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(lp), 1 << 16)
  }
}
