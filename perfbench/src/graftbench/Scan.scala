package graftbench

import graft.api.{Columns, Slice}
import graft.gen.TokenGen
import graft.store.{FsIO, SelAll, SelRange}
import scala.collection.mutable

/** `scan`: a training loader over a prebuilt store. The loop alternates one
  * full `tokens` scan through the DSv2 source with `SlicesPerScan` random
  * contiguous `Slice` reads (`Columns.read`). The work is bulk chunk decode
  * and the vectorized scan; planning is trivial, and neither encode nor the
  * index is touched.
  */
object Scan {
  val Rows = 50000L
  val SliceRows = 4096
  val SlicesPerScan = 8
  val SetupReps = 3
  /** Encode partitions of the prebuilt store (~3k rows each). */
  val Parts = 16

  /** Builds the store SetupReps times (the median is setup_s) and keeps the
    * last; `extra` runs inside each timed set-up (lookup adds its indexes).
    * Returns the store, the set-up times and the bytes written per set-up.
    */
  def setup(ctx: Ctx, name: String, n: Long)(extra: Columns => Unit)
      : (Columns, Seq[Double], Double) = {
    val roots = (0 until SetupReps).map(k => ctx.storeDir(s"$name-$k"))
    val w0 = Proc.io()._2
    val times = roots.map { root =>
      ctx.timeS {
        extra(Columns.fromDataFrame(ctx.spark, root, TokenGen.dataset(ctx.spark, n, Parts, ctx.seed).toDF()))
      }._2
    }
    val written = (Proc.io()._2 - w0).toDouble / SetupReps
    roots.init.foreach(FsIO.delete(_, recursive = true))
    (Columns.open(ctx.spark, roots.last), times, written)
  }

  def run(ctx: Ctx): Result = {
    import ctx._
    val n = if (tiny) 3000L else Rows
    val slice = if (tiny) 256 else SliceRows
    phase("set-ups")
    val (c, setups, setupWritten) = setup(ctx, "scan", n)(_ => ())
    phase("oracle")
    val oracle = Oracle.build(spark, n, Parts, seed)
    if (corrupt) oracle.fp(0) = ~oracle.fp(0)

    val scanMs, tracedScanMs, sliceMs, tracedSliceMs = mutable.ArrayBuffer.empty[Double]
    var scannedTokens = 0L
    val draws = new Draws(seed)
    var scans, slices = 0
    // warm-up: one full scan and two slices
    loop(3) { (i, record) =>
      if (i % (SlicesPerScan + 1) == 0) {
        val traced = ctx.traced && record && scans % 2 == 1
        var toks = 0L
        val ms = op("full_scan", traced) {
          if (traced) trace.span("store.planUnits")(c.store.planUnits(Seq("tokens"), SelAll))
          val (rows, t, bad) = Reads.fullPass(ctx, Reads.tokensScan(spark, c.root), oracle.fp)
          toks = t
          () => rows == n && t == oracle.tokens && bad == 0
        }
        if (record) {
          if (traced) tracedScanMs += ms else { scanMs += ms; scannedTokens += toks }
        }
        scans += 1
      } else {
        val traced = ctx.traced && record && slices % 2 == 1
        val start = draws.long(n - slice)
        val ms = op("slice", traced) {
          if (traced) trace.span("store.planUnits") {
            c.store.planUnits(Seq("tokens"), SelRange(start, start + slice, 1L))
          }
          val got = Reads.fingerprints(ctx, c.read(Seq("tokens"), Slice(start, start + slice)))
          () => got.length == slice && got.sortBy(_._1).zipWithIndex.forall { case ((id, f, _), k) =>
            id == start + k && f == oracle.fp(id.toInt)
          }
        }
        if (record) { if (traced) tracedSliceMs += ms else sliceMs += ms }
        slices += 1
      }
    }
    val stored = c.storageBytes
    val (rows, toks, bad) = Reads.fullPass(ctx, Reads.tokensScan(spark, c.root), oracle.fp)
    verify("final content of the scanned store")(rows == n && toks == oracle.tokens && bad == 0)

    val tokPerS = scannedTokens / (scanMs.sum / 1e3)
    val ratio = stored.toDouble / oracle.refBytes
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("op_p50_ms", Stats.quantile(sliceMs.toSeq, 0.5), "ms"),
      Metric("op_p90_ms", Stats.quantile(sliceMs.toSeq, 0.9), "ms"),
      Metric("size_vs_reference", ratio, "ratio"))
    val layers =
      if (!ctx.traced) Nil
      else commonLayers() ++ CodecProbe.run(ctx, 40000) ++ Seq(
        Metric("store.bytes_per_token", stored.toDouble / oracle.tokens, "B/token"),
        Metric("fsio.wchar_per_token", setupWritten / oracle.tokens, "B/token"),
        Metric("trace.overhead_pct",
          100.0 * (Stats.median(tracedSliceMs.toSeq) / Stats.median(sliceMs.toSeq) - 1.0), "%"))
    val named = Seq(
      Metric("scan_tok_per_s", tokPerS, "tok/s"),
      Metric("slice_p50_ms", Stats.quantile(sliceMs.toSeq, 0.5), "ms"),
      Metric("slice_p90_ms", Stats.quantile(sliceMs.toSeq, 0.9), "ms"),
      Metric("full_scan_p50_ms", Stats.median(scanMs.toSeq), "ms"),
      Metric("size_vs_reference", ratio, "ratio"),
      Metric("full_scans_timed", scanMs.size.toDouble, "count"),
      Metric("slices_timed", sliceMs.size.toDouble, "count"),
      Metric("rows", n.toDouble, "count"),
      Metric("tokens", oracle.tokens.toDouble, "count"))
    Result(e2e, layers, named)
  }
}
