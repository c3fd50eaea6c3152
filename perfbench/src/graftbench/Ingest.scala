package graftbench

import graft.api.Columns
import graft.codec.RefFootprint
import graft.gen.{TokenGen, TokenRow}
import graft.index.Index
import graft.store.{FsIO, SelRange}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** `ingest`: equal-size appends through `Columns.append` into a fresh store
  * with an `n_tok` index, each followed by one read-after-write lookup of a
  * row it added; every `MaintainEvery` appends also run `compactSegments` +
  * `vacuum`. The work is codec encode, segment commit, FsIO, index refresh
  * (delta generations, merged at the generation cap and rebuilt when the
  * deltas reach a quarter of the table) and Mutate; little is decoded.
  *
  * The loop runs whole epochs: a fresh store, `EpochAppends` appends, a
  * check of the result, the store dropped. Compaction rewrites the whole
  * table, so in one ever-growing store its cost would grow with the number
  * of appends a run manages, and a faster engine would be charged for the
  * larger store it reached. Epochs keep every run's append mix the same.
  *
  * setup_s is the median of `SetupReps` fresh-store set-ups (create with
  * the first batch, then build the `n_tok` index), measured after a short
  * warm-up epoch.
  */
object Ingest {
  val RowsPerAppend = 1000
  val EpochAppends = 12
  val MaintainEvery = 4
  /** Appends in the untimed warm-up epoch. */
  val WarmupAppends = 4
  val SetupReps = 3
  /** Rows encoded per rep in the encode-scaling phase (traced runs). */
  val ScalingRows = 16000

  def run(ctx: Ctx): Result = {
    import ctx._
    import spark.implicits._
    val per = if (tiny) 100 else RowsPerAppend
    val appends = if (tiny) 6 else EpochAppends
    // every epoch ingests the same seeded rows, generated on the driver once
    // and before any clock starts, so the append clock covers the engine only
    val batches: IndexedSeq[Seq[TokenRow]] = (0 to appends).map(b =>
      (b.toLong * per until (b + 1L) * per).map(TokenGen.row(seed, _)))
    val rows = batches.flatten
    val expectFp = rows.indices.map(i => Fingerprint.of(i, rows(i).tokens)).toArray
    if (corrupt) expectFp(0) = ~expectFp(0)
    val refBytes = batches.map(bt => RefFootprint.int32StreamBytes(bt.flatMap(_.tokens).toArray)).sum

    val plainAppend, tracedAppend, fresh = mutable.ArrayBuffer.empty[Double]
    val filesCreated, deltaGens, rewrittenPerLive = mutable.ArrayBuffer.empty[Double]
    var appendedTokens = 0L
    var appendSeconds = 0.0
    var stored = 0L
    val draws = new Draws(seed)

    def create(root: String): Columns = {
      val c = Columns.fromDataFrame(spark, root, batches(0).toDF())
      c("n_tok").createIndex()
      c
    }

    /** One epoch; `record` false is the warm-up, `traced` traces its ops. */
    def epoch(e: Int, nAppends: Int, record: Boolean, traced: Boolean): Unit = {
      val root = storeDir(s"ingest-$e")
      val c = create(root)
      for (b <- 1 to nAppends) {
        val df = batches(b).toDF()
        val maintain = b % MaintainEvery == 0
        val expectRows = (b + 1L) * per
        val filesBefore = if (traced && !maintain) storeFiles(root) else Set.empty[String]
        var rewritten = 0L
        val ms = op("append", traced) {
          if (traced) {
            // Columns.append split into its two layer calls, so each is timed
            trace.span("store.append")(c.store.append(spark, df))
            trace.span("index.refresh")(Index.refresh(spark, c.store, "n_tok"))
          } else c.append(df)
          if (maintain) {
            val w0 = Proc.io()._2
            trace.span("mutate.compact")(c.compactSegments())
            trace.span("mutate.vacuum")(c.vacuum())
            rewritten = Proc.io()._2 - w0
          }
          () => c.nrows == expectRows
        }
        if (traced) {
          if (maintain) rewrittenPerLive += rewritten.toDouble / c.storageBytes
          else filesCreated += (storeFiles(root) -- filesBefore).size
          deltaGens += liveGens(c, "n_tok")
        }
        if (record) {
          (if (traced) tracedAppend else plainAppend) += ms
          appendSeconds += ms / 1e3
          appendedTokens += batches(b).iterator.map(_.n_tok.toLong).sum
        }
        // read-after-write: the n_tok index routes, the doc_id zone map
        // narrows to the one new row
        val j = b * per + draws.int(per)
        val fm = op("fresh_lookup", traced) {
          val q = spark.read.format("graft").load(root)
            .where(col("n_tok") === rows(j).n_tok && col("doc_id") === rows(j).doc_id)
            .select(col("_row_id"), col("tokens"))
          if (traced) trace.span("store.planUnits") {
            c.store.planUnits(Seq("tokens"), SelRange(j.toLong, j + 1L, 1L))
          }
          val got = Reads.fingerprints(ctx, q)
          () => got.length == 1 && got(0)._1 == j && got(0)._2 == expectFp(j)
        }
        if (record && !traced) fresh += fm
      }
      phase(s"epoch $e checks")
      // final state: one compacted segment, verify() clean, every row's
      // tokens identical to the generator's
      c.compactSegments()
      c.vacuum()
      verify(s"Columns.verify after ingest epoch $e")({ c.verify(); true })
      val total = (nAppends + 1L) * per
      val (n, toks, bad) = Reads.fullPass(ctx, Reads.tokensScan(spark, root), expectFp)
      verify(s"content after ingest epoch $e") {
        n == total && toks == rows.iterator.take(total.toInt).map(_.n_tok.toLong).sum && bad == 0
      }
      if (nAppends == appends) stored = c.storageBytes
      FsIO.delete(root, recursive = true)
    }

    phase("warm-up epoch")
    epoch(0, if (tiny) 2 else WarmupAppends, record = false, traced = false)
    phase("set-ups")
    val setups = (0 until SetupReps).map { k =>
      val root = storeDir(s"ingest-setup-$k")
      val s = timeS(create(root))._2
      FsIO.delete(root, recursive = true)
      s
    }
    val (r0, w0) = Proc.io()
    val deadline = System.nanoTime() + seconds * 1000000000L
    var e = 1
    // whole epochs until the time is up; a traced run needs at least
    // plain, traced, plain
    while (e <= (if (ctx.traced) 3 else 1) || System.nanoTime() < deadline) {
      // traced runs alternate plain and traced epochs, so the tracing
      // overhead compares the same append positions, with plain epochs on
      // both sides of a traced one
      phase(s"epoch $e")
      epoch(e, appends, record = true, traced = ctx.traced && e % 2 == 0)
      e += 1
    }
    val (r1, w1) = Proc.io()
    phase("loop done")

    val tokPerS = appendedTokens / appendSeconds
    val ratio = stored.toDouble / refBytes
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("op_p50_ms", Stats.quantile(plainAppend.toSeq, 0.5), "ms"),
      Metric("op_p90_ms", Stats.quantile(plainAppend.toSeq, 0.9), "ms"),
      Metric("size_vs_reference", ratio, "ratio"))
    val layers =
      if (!ctx.traced) Nil
      else {
        val common = commonLayers()
        val codec = CodecProbe.run(ctx, 40000)
        def med(s: String) = Stats.median(trace.durations(s))
        val totalTokens = rows.iterator.map(_.n_tok.toLong).sum
        val own = Seq(
          Metric("store.append_ms", med("store.append"), "ms"),
          Metric("store.bytes_per_token", stored.toDouble / totalTokens, "B/token"),
          Metric("fsio.wchar_per_token", (w1 - w0).toDouble / appendedTokens, "B/token"),
          Metric("fsio.files_created_per_append", Stats.mean(filesCreated.toSeq), "count"),
          Metric("mutate.compact_ms", med("mutate.compact"), "ms"),
          Metric("mutate.vacuum_ms", med("mutate.vacuum"), "ms"),
          Metric("mutate.bytes_rewritten_per_live_byte", Stats.median(rewrittenPerLive.toSeq), "B/B"),
          Metric("index.refresh_ms", med("index.refresh"), "ms"),
          Metric("index.delta_gens", Stats.mean(deltaGens.toSeq), "count"),
          Metric("trace.overhead_pct",
            100.0 * (Stats.median(tracedAppend.toSeq) / Stats.median(plainAppend.toSeq) - 1.0), "%"),
          Metric("sources.fresh_lookup_p50_ms", Stats.median(fresh.toSeq), "ms"))
        // last: it stops the benchmark's session to encode in fresh ones
        val scaling = Metric("spark.encode_scaling_1v4", encodeScaling(ctx), "ratio")
        common ++ codec ++ own :+ scaling
      }
    val named = Seq(
      Metric("ingest_tok_per_s", tokPerS, "tok/s"),
      Metric("append_p50_ms", Stats.quantile(plainAppend.toSeq, 0.5), "ms"),
      Metric("append_p90_ms", Stats.quantile(plainAppend.toSeq, 0.9), "ms"),
      Metric("fresh_lookup_p50_ms", Stats.median(fresh.toSeq), "ms"),
      Metric("size_vs_reference", ratio, "ratio"),
      Metric("epochs", (e - 1).toDouble, "count"),
      Metric("appends_timed", plainAppend.size.toDouble, "count"),
      Metric("rows_per_append", per.toDouble, "count"),
      Metric("rchar_per_token", (r1 - r0).toDouble / appendedTokens, "B/token"))
    Result(e2e, layers, named)
  }

  /** Every file path under `root`. */
  private def storeFiles(root: String): Set[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      val out = Set.newBuilder[String]
      s.filter(java.nio.file.Files.isRegularFile(_)).forEach(p => out += p.toString)
      out.result()
    } finally s.close()
  }

  /** Delta generations the index serves: `_gen-*` dirs without a GC
    * tombstone.
    */
  private def liveGens(c: Columns, column: String): Double = {
    val d = Index.dir(c.store, column)
    FsIO.list(d).count(g => g.startsWith("_gen-") && !FsIO.exists(s"$d/$g/_gone")).toDouble
  }

  /** (T1 / Tn) / n for one encode of the same seeded input in a fresh
    * local[1] and a fresh local[n] session, median of three reps each.
    * Stops `ctx.spark`.
    */
  private def encodeScaling(ctx: Ctx): Double = {
    ctx.spark.stop()
    val rows = if (ctx.tiny) 2000L else ScalingRows
    def level(cores: Int): Double = {
      val s = Main.session(cores, ctx.workDir)
      try Stats.median((0 until 3).map { k =>
        val root = ctx.storeDir(s"scaling-$cores-$k")
        ctx.timeS(Columns.fromDataFrame(s, root, TokenGen.dataset(s, rows, 16, ctx.seed).toDF()))._2
      }) finally s.stop()
    }
    val t1 = level(1)
    val tn = level(ctx.cpus)
    t1 / tn / ctx.cpus
  }
}
