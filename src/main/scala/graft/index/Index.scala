package graft.index

import graft.codec.{Bytes, PType}
import graft.sources.GraftScan
import graft.store.{ColumnStore, FsIO, SelRange}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Secondary index per column — the Spark-native replacement for the
  * reference's `.index`/`.sorted`/`.index1` trio (pycolumns
  * column.py:483-613).
  *
  * Build: `select(value, row_id) → repartitionByRange(value) →
  * sortWithinPartitions(value, row_id)` persisted as Parquet. Spark's
  * Tungsten external shuffle sort subsumes BOTH reference branches
  * (in-memory argsort and the external k-way mergesort, mergesort.py) —
  * SURVEY.md §2.3 I1-I3: do not reimplement.
  *
  * Lookup: because rows are globally value-sorted, Parquet row-group and
  * page min/max statistics are exactly the reference's coarse `index1`
  * zone map (every-10,000th sorted value, column.py:584-613). A narrow
  * predicate is answered on the driver by [[probe]], the analogue of the
  * reference's in-process bisect plus its few `.sorted` probes
  * (column.py:743-839): parquet-mr opens the base and generation files
  * with the predicate pushed, skips row groups by their statistics and
  * pages by the column index, and returns only the matching row ids — no
  * Spark job. A predicate the probe cannot translate exactly, or one that
  * matches more than `ProbeBound` rows, runs as a Spark job over [[table]]
  * instead, so driver memory is bounded by a constant, never by the data.
  * Results are row-id sets in value order (the reference's contract:
  * `Indices`, value-sorted).
  *
  * Tie-break by row_id (documented divergence: numpy argsort tie order is
  * unspecified; reference tests use tie-free data).
  */
object Index extends Logging {

  final val ValueCol = "value"
  final val RowIdCol = "row_id"

  def dir(store: ColumnStore, col: String): String =
    s"${store.root}/index/$col"

  /** Index metadata: rows/stamp the build captured, plus the LIVE delta
    * generations (name, rows) — LSM-style sorted runs stacked on the base
    * sort by incremental refreshes. The meta is the COMMIT POINT: a gen
    * directory not listed here does not exist to readers (crashed refresh
    * attempts leave only invisible orphans, GC'd by the next refresh).
    *
    * CONCURRENCY (CAS commits): metas are EPOCH-NAMED files
    * `_meta-<epoch>-<uuid>.bin`, published by atomic rename; the effective
    * meta is the one with the highest epoch (uuid ascending breaks the
    * rare same-epoch tie deterministically). A writer reads the winner at
    * epoch e, does its work, commits at e+1, then re-lists: if its file is
    * not the winner it LOST the race — it re-reads and retries or no-ops.
    * A losing writer's GEN dirs are left in place (a reader that sampled
    * its meta mid-race keeps every dir it references, protected by the
    * tombstone grace); superseded meta FILES are swept by the winner, and
    * readers re-list on a failed read. Two same-epoch commits are both valid
    * views built from the same parent; picking either is equivalent to one
    * of the two racing writers having committed last.
    *
    * BASE VERSIONING: the base sort lives in a meta-named `_base-<uuid>`
    * subdir (`base`). A full REBUILD writes a NEW
    * base dir and commits it — it never overwrites files another meta
    * references, so an incremental refresh racing a rebuild yields two
    * self-consistent candidate metas (old base + delta vs new base) and
    * the CAS picks one; the loser's dirs age out through the same
    * tombstone-grace GC as generations. (With an overwritten-in-place
    * base, the racing incremental meta would have double-listed the
    * rebuilt rows — new-base ∪ old-delta — a correctness bug, not a leak.)
    */
  private[graft] final case class IdxMeta(rows: Long, stamp: Long,
      gens: Seq[(String, Long)], base: String) {
    def deltaRows: Long = gens.map(_._2).sum
    /** Run directory names: the base sort, then each delta generation. */
    def runs: Seq[String] = base +: gens.map(_._1)
  }

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val MetaName = """_meta-(\d+)-([0-9a-f]+)\.bin""".r

  /** Meta files winner-first: epoch descending, then uuid ascending. */
  private def listMetas(d: String): Seq[(Long, String)] =
    FsIO.list(d).collect { case n @ MetaName(e, u) => (e.toLong, u, n) }
      .sortBy { case (e, u, _) => (-e, u) }
      .map { case (e, _, n) => (e, n) }

  def exists(store: ColumnStore, col: String): Boolean =
    listMetas(dir(store, col)).nonEmpty

  private def parseMeta(bytes: Array[Byte]): IdxMeta = {
    val r = new Bytes.Reader(bytes)
    def str() = new String(r.readBytes(r.readVar().toInt), utf8)
    val rows = r.readVar()
    val stamp = r.readVar()
    val gens = Seq.fill(r.readVar().toInt)((str(), r.readVar()))
    IdxMeta(rows, stamp, gens, str())
  }

  /** Effective meta + its epoch. Retries on a read of a just-GC'd meta
    * file (re-list picks the live winner).
    */
  private[graft] def readMetaEpoch(store: ColumnStore, col: String): (IdxMeta, Long) = {
    val d = dir(store, col)
    var attempt = 0
    while (true) {
      val metas = listMetas(d)
      try {
        return metas.headOption match {
          case Some((e, name)) => (parseMeta(FsIO.readAll(s"$d/$name")), e)
          case None => throw new java.io.FileNotFoundException(s"no index meta in $d")
        }
      } catch {
        case _: java.io.IOException if attempt < 3 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[graft] def readMeta(store: ColumnStore, col: String): IdxMeta =
    readMetaEpoch(store, col)._1

  /** Identity of the effective meta FILE (epoch + uuid name; "none" when
    * there is no index). Every index build/refresh commits a fresh uuid-named
    * meta, so this string changes whenever the index content can change —
    * including a store deleted and rebuilt at the SAME path with the same
    * nrows/stamp. Used as the content-identifying part of planning-cache
    * keys (GraftScan.cachedPlan).
    */
  private[graft] def metaIdent(store: ColumnStore, col: String): String =
    listMetas(dir(store, col)).headOption.map(_._2).getOrElse("none")

  /** CAS commit: publish `m` at `epoch` and return whether we WON (our
    * file is the effective meta). On a win, sweeps every superseded meta
    * file: in-flight readers that already listed re-list on the failed
    * read (readMetaEpoch retries), and readers mid-scan of a superseded
    * meta's GENS are protected by the tombstone grace window, so the meta
    * files themselves need no retention.
    */
  private[graft] def commitMeta(store: ColumnStore, col: String, m: IdxMeta,
      epoch: Long): Boolean = {
    val d = dir(store, col)
    val uuid = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val name = f"_meta-$epoch%019d-$uuid.bin"
    val w = new Bytes.Writer()
    w.writeVar(m.rows)
    w.writeVar(m.stamp)
    w.writeVar(m.gens.size.toLong)
    m.gens.foreach { case (gn, rows) =>
      val b = gn.getBytes(utf8)
      w.writeVar(b.length.toLong); w.writeBytes(b)
      w.writeVar(rows)
    }
    val bb = m.base.getBytes(utf8)
    w.writeVar(bb.length.toLong); w.writeBytes(bb)
    FsIO.writeAtomic(s"$d/$name", w.result())
    val metas = listMetas(d)
    val won = metas.headOption.exists(_._2 == name)
    if (won) {
      metas.drop(1)
        .foreach { case (_, n) => try FsIO.delete(s"$d/$n") catch { case _: Exception => () } }
    }
    won
  }

  /** Rows visible to the index at build time (staleness contract: appends
    * don't appear until rebuild — tests/test_create_index.py:164-185).
    */
  def builtRows(store: ColumnStore, col: String): Long =
    readMeta(store, col).rows

  /** Store update-stamp captured at build time. */
  def builtStamp(store: ColumnStore, col: String): Long =
    readMeta(store, col).stamp

  /** May the DSv2 scan route THROUGH this index? Stricter than the API
    * staleness contract (stale reads are legal inside `updating{}`): scan
    * routing prunes row ranges before residual filtering, so the index must
    * reflect every append AND every in-place update — nrows and the store
    * update-stamp must both match what the build saw. One listing + one
    * read per scan-planning call (the listing picks the CAS winner; it
    * replaced the single fixed-name read when metas became epoch-named).
    */
  def routableFor(store: ColumnStore, col: String): Boolean = {
    val m =
      try readMeta(store, col)
      catch { case _: Exception => return false } // no index
    m.rows == store.nrows && m.stamp == store.updateStamp
  }

  /** Build (or rebuild) the index for a column. One shuffle, fully
    * distributed; partition count scales with data size so a 100× larger
    * table gets proportionally more sort partitions.
    */
  def create(spark: SparkSession, store: ColumnStore, col: String,
      overwrite: Boolean = false): Unit = {
    require(store.spec.col(col).ptypeId != graft.codec.PType.I32LIST.id,
      s"cannot index array column $col")
    if (exists(store, col))
      require(overwrite, s"index on $col exists " +
        "(reference raises unless overwrite=True, column.py:492-497)")
    val nrows = store.nrows
    val df = store.read(spark, Seq(col))
      .select(org.apache.spark.sql.functions.col(col).as(ValueCol),
        org.apache.spark.sql.functions.col("_row_id").as(RowIdCol))
    // ~2M rows per sort partition; bounded so tiny tables get 1 partition
    val parts = math.max(1, math.min(2048, (nrows / (2L << 20)).toInt + 1))
    val d = dir(store, col)
    // NEW versioned base dir — never overwrites files another meta (or an
    // in-flight reader) references; superseded bases age out via the GC
    val base = s"_base-${java.util.UUID.randomUUID().toString.take(12)}"
    df.repartitionByRange(parts, asc(ValueCol), asc(RowIdCol))
      .sortWithinPartitions(asc(ValueCol), asc(RowIdCol))
      .write.mode("overwrite").parquet(s"$d/$base")
    // stamp recorded for DSv2 routing freshness (see routableFor); a full
    // build collapses every delta generation into the new base.
    // Commit-until-win: a rebuild reflects the complete CURRENT table, so
    // it must end up the effective meta even if incremental refreshes race
    // it (their metas reference the OLD base — self-consistent, loser).
    val m = IdxMeta(nrows, store.updateStamp, Seq.empty, base)
    var attempt = 0
    var done = false
    while (!done && attempt < 16) {
      val e = if (exists(store, col)) readMetaEpoch(store, col)._2 else 0L
      done = commitMeta(store, col, m, e + 1)
      attempt += 1
    }
    require(done, s"index build on $col lost ${attempt} meta commit races")
    gcSweep(store, col)
  }

  /** Full path of the meta's base-sort parquet. */
  private[graft] def basePath(store: ColumnStore, col: String): String =
    s"${dir(store, col)}/${readMeta(store, col).base}"

  def drop(store: ColumnStore, col: String): Unit =
    FsIO.delete(dir(store, col), recursive = true)

  /** Re-stamp the index as fresh after a maintenance op that PRESERVES
    * every (value, row_id) pair — vacuum (COW chunk merge) and segment
    * compaction. Those ops bump partition update versions, so the store's
    * update stamp moves past the one the build captured and DSv2 routing
    * would disengage FOREVER despite the index still being exactly right.
    * Callers must verify the index was fresh BEFORE the maintenance op
    * (see Columns.vacuum) — re-stamping a stale index would launder real
    * staleness into routability.
    */
  def restamp(store: ColumnStore, col: String): Unit = {
    if (!exists(store, col)) return
    var attempt = 0
    while (attempt < 4) {
      val (m, e) = readMetaEpoch(store, col)
      if (m.rows != store.nrows) return // a real rebuild is owed
      if (m.stamp == store.updateStamp) return // someone already stamped
      if (commitMeta(store, col, m.copy(stamp = store.updateStamp), e + 1)) return
      attempt += 1 // lost a CAS race — re-read the winner and re-decide
    }
  }

  /** Names of the live delta generations (empty after a full build). */
  private[graft] def deltaGens(store: ColumnStore, col: String): Seq[String] =
    readMeta(store, col).gens.map(_._1)

  /** `part-*.parquet` names in one index run directory (a base sort or a
    * delta generation), in partition order — Spark names output files in
    * partition order, so for a base this is value order. Spark's `_SUCCESS`,
    * Hadoop's `.crc` files and GC tombstones are skipped; a missing
    * directory lists as empty.
    */
  private[graft] def partFiles(runDir: String): Seq[String] =
    FsIO.list(runDir).filter(f => f.startsWith("part-") && f.endsWith(".parquet")).sorted

  /** Full paths of the parquet files of `runs` (run directory names under
    * the index dir, e.g. `IdxMeta.runs`). Every index reader goes through
    * this explicit list —
    * the run directories are underscore-prefixed, which Spark treats as
    * hidden when handed a directory, and unlisted (orphaned) runs stay
    * invisible. A run listed by the meta but missing on disk raises, so a
    * consult against a vanished run fails instead of reading as empty.
    */
  private[graft] def files(store: ColumnStore, col: String, runs: Seq[String]): Seq[String] = {
    val d = dir(store, col)
    runs.flatMap { r =>
      val files = partFiles(s"$d/$r")
      if (files.isEmpty && !FsIO.exists(s"$d/$r"))
        throw new java.io.FileNotFoundException(s"index run $d/$r is missing")
      files.map(f => s"$d/$r/$f")
    }
  }

  /** The index as a DataFrame: base sort plus the meta-listed delta
    * generations. The schema is declared explicitly (it is fixed by
    * construction: `value` = the column's type, `row_id` = long), so the
    * read skips the per-call parquet footer inference.
    */
  def table(spark: SparkSession, store: ColumnStore, col: String): DataFrame =
    readFiles(spark, store, col, files(store, col, readMeta(store, col).runs))

  private def readFiles(spark: SparkSession, store: ColumnStore, col: String,
      paths: Seq[String]): DataFrame = {
    val schema = StructType(Seq(
      StructField(ValueCol, ColumnStore.sparkType(store.spec.col(col).ptype)),
      StructField(RowIdCol, LongType)))
    spark.read.schema(schema).parquet(paths: _*)
  }

  /** Bring the index up to date after APPENDS by sorting only the rows the
    * build has not seen — O(new rows), not a full re-sort (the reference
    * rebuilds from scratch on every append, column.py:615-626; at 100 TB a
    * per-append full re-sort of the whole column is the single most
    * expensive faithful behavior, so this deliberately improves on it).
    *
    * LSM shape: each refresh writes the new rows, value-sorted, as a delta
    * GENERATION (`_gen-*` dir) and commits it by listing it in the meta —
    * the meta write is the atomic commit point, so readers never observe a
    * half-written generation and a crashed attempt leaves only an orphan
    * dir the next refresh GCs. Each generation is itself range-sorted, so
    * Parquet row-group pruning applies per gen.
    *
    * Maintenance is amortized O(delta), NEVER periodically O(table):
    *  - more than `maxDeltaGens` gens → MERGE all gens + the new rows into
    *    one generation (cost = total delta rows, bounding per-scan file
    *    count without touching the base);
    *  - deltas reaching ~1/4 of the table → full rebuild restores one
    *    globally-sorted base (amortized: O(table) work per O(table/4) rows
    *    appended — the LSM compaction trade).
    *
    * Falls back to a full rebuild when rows were updated IN PLACE since
    * the build (the update stamp moved — deltas can't express changed
    * values).
    */
  def refresh(spark: SparkSession, store: ColumnStore, col: String,
      maxDeltaGens: Int = 8): Unit = {
    var attempt = 0
    var done = false
    while (!done && attempt < 4) {
      done = refreshOnce(spark, store, col, maxDeltaGens)
      attempt += 1 // lost a CAS race: re-read the winner — usually the
                   // racing refresh already covered our rows → no-op
    }
    require(done, s"index refresh on $col lost ${attempt} meta commit races")
  }

  /** One refresh attempt against the current meta winner. Returns false
    * IFF the final CAS commit lost to a concurrent writer (the caller
    * re-reads and retries); every other exit is a clean completion.
    */
  private def refreshOnce(spark: SparkSession, store: ColumnStore, col: String,
      maxDeltaGens: Int): Boolean = {
    if (!exists(store, col)) return true
    val (m, epoch) = readMetaEpoch(store, col)
    val n = store.nrows
    if (m.rows == n && m.stamp == store.updateStamp) return true // fresh
    val newRows = n - m.rows
    val incrementalOk = m.stamp == store.updateStamp && newRows > 0
    if (!incrementalOk || (m.deltaRows + newRows) * 4L > n) {
      create(spark, store, col, overwrite = true) // commit-until-win inside
      return true
    }
    val d = dir(store, col)
    val fresh = store.read(spark, Seq(col), SelRange(m.rows, n, 1L))
      .select(org.apache.spark.sql.functions.col(col).as(ValueCol),
        org.apache.spark.sql.functions.col("_row_id").as(RowIdCol))
    val merge = m.gens.size >= maxDeltaGens
    val (df, genRows, newGens) =
      if (merge) {
        // collapse every gen + the new rows into ONE generation — reads
        // only delta data, the base sort is untouched
        val old = readFiles(spark, store, col, files(store, col, m.gens.map(_._1)))
        (old.unionAll(fresh), m.deltaRows + newRows, Seq.empty[(String, Long)])
      } else (fresh, newRows, m.gens)
    val parts = math.max(1, math.min(2048, (genRows / (2L << 20)).toInt + 1))
    val gen = s"_gen-${java.util.UUID.randomUUID().toString.take(12)}"
    df.repartitionByRange(parts, asc(ValueCol), asc(RowIdCol))
      .sortWithinPartitions(asc(ValueCol), asc(RowIdCol))
      .write.mode("overwrite").parquet(s"$d/$gen")
    // COMMIT (CAS): the epoch-named meta makes the new generation (and, on
    // merge, the disappearance of the old ones) visible atomically; losing
    // the race leaves our gen as an unreferenced orphan for the sweep
    // below to tombstone — a reader that sampled our meta mid-race still
    // has every dir it references.
    if (!commitMeta(store, col,
        IdxMeta(n, store.updateStamp, newGens :+ (gen, genRows), m.base), epoch + 1))
      return false
    gcSweep(store, col)
    true
  }

  /** GC: `_gen-*` and `_base-*` dirs no longer referenced — merged-away
    * gens, superseded bases, and orphans of crashed/lost attempts. GRACE
    * PERIOD from DE-LISTING (like table-format snapshot expiry): a reader
    * that loaded a previous meta may still be mid-read on a just-delisted
    * dir, and the dir's own age says nothing about that — so the first
    * sweep that finds a dir unreferenced writes a `_gone` tombstone
    * (starting the clock), and only a LATER sweep deletes it once the
    * tombstone outlives the grace window.
    *
    * live = dirs referenced by ANY meta file still present — NOT just the
    * caller's commit: in a same-epoch CAS tie both writers can transiently
    * believe they won, and sweeping with only one's view would tombstone
    * (then delete) a dir the effective winner references. Lost-race metas
    * are themselves swept by later commits, after which their orphan dirs
    * become unreferenced and age out here.
    */
  private[graft] def gcSweep(store: ColumnStore, col: String): Unit = {
    val d = dir(store, col)
    val grace = sys.props.get("graft.index.gc.graceMs").map(_.toLong)
      .getOrElse(15L * 60 * 1000)
    val now = System.currentTimeMillis()
    val metas = listMetas(d).flatMap { case (_, name) =>
      try Some(parseMeta(FsIO.readAll(s"$d/$name")))
      catch { case _: Exception => None }
    }
    val live: Set[String] = metas.flatMap(_.runs).toSet
    FsIO.list(d)
      .filter(f => f.startsWith("_gen-") || f.startsWith("_base-"))
      .foreach { f =>
        val tomb = s"$d/$f/_gone"
        try {
          if (live(f)) {
            // an IN-FLIGHT dir can be tombstoned by a concurrent sweep
            // before its writer commits; once committed (live) the stale
            // tombstone must go, or a LATER delisting would delete the dir
            // instantly instead of after a fresh grace window
            if (FsIO.exists(tomb)) FsIO.delete(tomb)
          } else if (!FsIO.exists(tomb)) {
            // tombstone now, delete on a LATER sweep once it outlives the
            // grace — never in the same pass: a dir without a meta entry
            // may belong to a writer that simply has not committed yet
            val w = new Bytes.Writer()
            w.writeVar(now)
            FsIO.writeAtomic(tomb, w.result())
          } else if (now - new Bytes.Reader(FsIO.readAll(tomb)).readVar() >= grace) {
            FsIO.delete(s"$d/$f", recursive = true)
          }
        } catch { case _: Exception => () } // GC is best-effort, never fatal
      }
  }

  // ------------------------------------------------------- driver probe

  /** Most row ids [[probe]] materializes on the driver; one more and the
    * caller runs the Spark job instead. Equal to the DSv2 route's bucket
    * cap, so a probed route never yields more buckets than a job would.
    */
  private[graft] final val ProbeBound = 1 << 16

  /** One probe hit: the value's sort key (`bytes` for strings, `key` for
    * integers) and its row id.
    */
  private final case class Hit(key: Long, bytes: Array[Byte], rowId: Long)

  /** Spark's order over (value, row_id): integers signed, strings as
    * unsigned bytes (UTF8String's binary order).
    */
  private val hitOrder: Ordering[Hit] = (a, b) => {
    val c =
      if (a.bytes != null) java.util.Arrays.compareUnsigned(a.bytes, b.bytes)
      else java.lang.Long.compare(a.key, b.key)
    if (c != 0) c else java.lang.Long.compare(a.rowId, b.rowId)
  }

  /** Materializes (value, row_id) records. parquet-mr's record filter asks
    * for the current record only when the row passes the predicate, so only
    * matching rows become [[Hit]]s.
    */
  private object HitReadSupport extends ReadSupport[Hit] {
    override def init(ctx: InitContext): ReadSupport.ReadContext =
      new ReadSupport.ReadContext(ctx.getFileSchema)

    override def prepareForRead(conf: org.apache.hadoop.conf.Configuration,
        meta: java.util.Map[String, String], schema: MessageType,
        ctx: ReadSupport.ReadContext): RecordMaterializer[Hit] =
      new RecordMaterializer[Hit] {
        private var key = 0L
        private var bytes: Array[Byte] = null
        private var rowId = 0L
        private val value = new PrimitiveConverter {
          override def addInt(v: Int): Unit = key = v
          override def addLong(v: Long): Unit = key = v
          override def addBinary(v: Binary): Unit = bytes = v.getBytes
        }
        private val id = new PrimitiveConverter {
          override def addLong(v: Long): Unit = rowId = v
        }
        private val valueAt = schema.getFieldIndex(ValueCol)
        private val root = new GroupConverter {
          override def getConverter(i: Int): Converter = if (i == valueAt) value else id
          override def start(): Unit = bytes = null
          override def end(): Unit = ()
        }
        override def getCurrentRecord: Hit = Hit(key, bytes, rowId)
        override def getRootConverter: GroupConverter = root
      }
  }

  /** The conjunction `filters` as a parquet-mr predicate on column `c`;
    * None unless every filter is a comparison or non-empty IN whose
    * literals `lit` accepts (the column's exact type).
    */
  private def predicate[T <: Comparable[T],
      C <: Operators.Column[T] with Operators.SupportsLtGt](
      c: C, lit: PartialFunction[Any, T], filters: Seq[Filter]): Option[FilterPredicate] = {
    def one(f: Filter): Option[FilterPredicate] = f match {
      case EqualTo(_, v) if lit.isDefinedAt(v) => Some(FilterApi.eq(c, lit(v)))
      case GreaterThan(_, v) if lit.isDefinedAt(v) => Some(FilterApi.gt(c, lit(v)))
      case GreaterThanOrEqual(_, v) if lit.isDefinedAt(v) => Some(FilterApi.gtEq(c, lit(v)))
      case LessThan(_, v) if lit.isDefinedAt(v) => Some(FilterApi.lt(c, lit(v)))
      case LessThanOrEqual(_, v) if lit.isDefinedAt(v) => Some(FilterApi.ltEq(c, lit(v)))
      case In(_, vs) if vs.nonEmpty && vs.forall(lit.isDefinedAt) =>
        Some(FilterApi.in(c, new java.util.HashSet[T](vs.toSeq.map(lit).asJava)))
      case _ => None
    }
    val ps = filters.map(one)
    if (ps.isEmpty || ps.contains(None)) None else Some(ps.flatten.reduce(FilterApi.and))
  }

  /** Answer `filters` (a conjunction over the indexed column `col`) on the
    * driver: read the effective index's parquet files — base plus every
    * delta generation — with parquet-mr through the Hadoop FileSystem (so
    * any filesystem works and Hadoop's checksums are verified), the
    * predicate pushed so row groups are skipped by their statistics and
    * pages by the column index. Returns the matching row ids sorted by
    * (value, row_id).
    *
    * None — the caller then runs the Spark job — when the predicate has no
    * exact translation, or as soon as more than `bound` rows match. Only
    * I16/I32/I64/STR columns with literals of exactly the column's type
    * are probed: Spark's float comparisons (NaN largest, -0.0 == 0.0)
    * differ from parquet-mr's, and a literal of another type would need
    * Spark's casts. BIN/BOOL columns and `!=` (which matches nearly
    * everything) keep the Spark job.
    */
  private[graft] def probe(store: ColumnStore, col: String, filters: Seq[Filter],
      bound: Int = ProbeBound): Option[Array[Long]] = {
    val pred = store.spec.col(col).ptype match {
      case PType.I16 => predicate(FilterApi.intColumn(ValueCol),
        { case v: Short => Int.box(v.toInt) }: PartialFunction[Any, Integer], filters)
      case PType.I32 => predicate(FilterApi.intColumn(ValueCol),
        { case v: Int => Int.box(v) }: PartialFunction[Any, Integer], filters)
      case PType.I64 => predicate(FilterApi.longColumn(ValueCol),
        { case v: Long => Long.box(v) }: PartialFunction[Any, java.lang.Long], filters)
      case PType.STR => predicate(FilterApi.binaryColumn(ValueCol),
        { case v: String => Binary.fromString(v) }: PartialFunction[Any, Binary], filters)
      case _ => None
    }
    if (pred.isEmpty) return None
    val filter = FilterCompat.get(pred.get)
    val hits = scala.collection.mutable.ArrayBuffer.empty[Hit]
    val paths = files(store, col, readMeta(store, col).runs).iterator
    while (paths.hasNext) {
      val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(paths.next()), FsIO.conf)
      val reader = new ParquetReader.Builder[Hit](in) {
        override protected def getReadSupport: ReadSupport[Hit] = HitReadSupport
      }.withFilter(filter).build()
      try {
        var h = reader.read()
        while (h != null) {
          hits += h
          if (hits.length > bound) {
            logWarning(s"index probe on $col matched more than $bound rows; " +
              "answering with a Spark job instead")
            return None
          }
          h = reader.read()
        }
      } finally reader.close()
    }
    Some(hits.sorted(hitOrder).map(_.rowId).toArray)
  }

  // ------------------------------------------------------- query surface
  // All return a DataFrame[row_id: bigint] in value-then-row_id order (the
  // reference returns Indices slices of the value-sorted permutation).
  // Under the probe bound the lookup runs EAGERLY, on the driver, when the
  // function is called, and the frame is a local relation: collecting it
  // starts no job. Above the bound, or for a predicate the probe cannot
  // translate exactly (`!=`, float columns, mistyped literals), the frame
  // is the LAZY Spark job over `table`, as the one fallback path.

  private def requireIndex(store: ColumnStore, col: String): Unit =
    require(exists(store, col),
      s"column $col has no index (reference raises, column.py:476-481)")

  private def ids(df: DataFrame, cond: Column): DataFrame =
    df.where(cond).select(RowIdCol)

  /** The conjunction `filters` over column `c`: the probe's ids as a local
    * frame, or the Spark job when the probe declines. The fallback's
    * condition comes from the same filters through `GraftScan.indexCondition`,
    * the translation DSv2 routing uses.
    */
  private def lookup(spark: SparkSession, s: ColumnStore, c: String,
      filters: Filter*): DataFrame = {
    requireIndex(s, c)
    probe(s, c, filters) match {
      case Some(hits) =>
        spark.createDataFrame(hits.toSeq.map(Row(_)).asJava,
          StructType(Seq(StructField(RowIdCol, LongType, nullable = false))))
      case None =>
        ids(table(spark, s, c), GraftScan.indexCondition(filters))
    }
  }

  def gt(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    lookup(spark, s, c, GreaterThan(c, v))
  def ge(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    lookup(spark, s, c, GreaterThanOrEqual(c, v))
  def lt(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    lookup(spark, s, c, LessThan(c, v))
  def le(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    lookup(spark, s, c, LessThanOrEqual(c, v))
  def eq(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    lookup(spark, s, c, EqualTo(c, v))
  def ne(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame = {
    requireIndex(s, c)
    ids(table(spark, s, c), col(ValueCol) =!= lit(v))
  }

  /** All four interval types (pycolumns between, column.py:841-914):
    * "[]" closed, "[)" half-open right, "(]" half-open left, "()" open.
    */
  def between(spark: SparkSession, s: ColumnStore, c: String, lo: Any, hi: Any,
      interval: String = "[]"): DataFrame = {
    val (l, h) = interval match {
      case "[]" => (GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))
      case "[)" => (GreaterThanOrEqual(c, lo), LessThan(c, hi))
      case "(]" => (GreaterThan(c, lo), LessThanOrEqual(c, hi))
      case "()" => (GreaterThan(c, lo), LessThan(c, hi))
      case other => throw new IllegalArgumentException(s"bad interval '$other'")
    }
    lookup(spark, s, c, l, h)
  }

  /** IN-list (pycolumns match, column.py:688-729). Small lists are probed
    * (or compile to a pushed `isin`); large probe sets should use
    * `matchDf` (broadcast semi join) instead.
    */
  def matchIn(spark: SparkSession, s: ColumnStore, c: String, values: Seq[Any]): DataFrame =
    lookup(spark, s, c, In(c, values.toArray))

  /** IN via join for large probe sets: broadcast left-semi join against the
    * index (SURVEY.md Q4 mapping).
    */
  def matchDf(spark: SparkSession, s: ColumnStore, c: String, probe: DataFrame): DataFrame = {
    val p = probe.toDF(ValueCol).distinct()
    requireIndex(s, c)
    table(spark, s, c)
      .join(broadcast(p), Seq(ValueCol), "left_semi")
      .select(RowIdCol)
  }
}

/** Boolean combination of row-id sets (pycolumns Indices & / |,
  * indices.py:123-139): sorted-unique contract preserved structurally —
  * intersect/union produce distinct ids; ordering applied on materialize.
  */
object RowIds {
  def and(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)
  def or(a: DataFrame, b: DataFrame): DataFrame = a.union(b).distinct()

  /** Materialize as a sorted Array[Long] (Indices are sorted unique int64).
    *
    * DRIVER-MATERIALIZATION CONTRACT: this is an UNBOUNDED `collect()`,
    * provided only to honor the pycolumns `Indices` array surface
    * (indices.py materializes eagerly) — tests and small interactive
    * results. Engine paths must never call it: keep row-id sets as
    * DataFrames and compose them with [[graft.api.Columns.gather]] /
    * `Index.matchDf`, which stay distributed at any cardinality.
    */
  def collectSorted(df: DataFrame): Array[Long] =
    df.distinct().orderBy(Index.RowIdCol).collect().map(_.getLong(0))
}
