package graftbench

import graft.store.SelIds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** `lookup`: point and narrow-range queries against the prebuilt store of
  * `scan`, with indexes on `n_tok` and `doc_id`. Each op decodes a few
  * chunks; the time goes to driver planning, index consult and per-job
  * overhead. The ops run round-robin over `Kinds`:
  *  - `ntok_eq` / `ntok_between`: the index functions `===` / `between`
  *    (width `BetweenWidth`), then `Columns.gather` of `tokens`;
  *  - `docid_point`: DSv2 `doc_id = x`, routed through the `doc_id` index;
  *  - `source_in_limit`: DSv2 `source IN ('synth') LIMIT k` — membership
  *    filters on the rarest value of a skewed column;
  *  - `unindexed_point`: the `docid_point` query with `useIndex=false`, so
  *    only zone maps and membership filters prune.
  * Keys are Zipf-drawn from domains far larger than the 256 entries of the
  * DSv2 plan cache, so the routed queries both hit and miss it.
  */
object Lookup {
  val Kinds: Seq[String] =
    Seq("ntok_eq", "ntok_between", "docid_point", "source_in_limit", "unindexed_point")
  val BetweenWidth = 2
  val Limit = 64
  val ZipfExponent = 1.0
  /** n_tok keys are drawn from [NtokKeyLo, 2048]: n_tok is log-uniform over
    * [8, 2048], so a key there matches at most ~18 of 50k rows and the op
    * stays a point lookup; the 1537 keys still far exceed the plan cache.
    */
  val NtokKeyLo = 512

  def run(ctx: Ctx): Result = {
    import ctx._
    import spark.implicits._
    val n = if (tiny) 3000L else Scan.Rows
    phase("set-ups")
    val (c, setups, _) = Scan.setup(ctx, "lookup", n) { c =>
      c("n_tok").createIndex()
      c("doc_id").createIndex()
    }
    phase("oracle")
    val oracle = Oracle.build(spark, n, Scan.Parts, seed)
    if (corrupt) oracle.fp(0) = ~oracle.fp(0)
    val synth = oracle.withSource("synth")
    val synthSet = synth.toSet
    val draws = new Draws(seed)
    val ntokKeys = draws.zipf(2048 - NtokKeyLo + 1, ZipfExponent)
    val docKeys = draws.zipf(n.toInt, ZipfExponent)

    val plain, tracedMs = mutable.ArrayBuffer.empty[Double]
    val byKind, tokensByKind = Kinds.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    var hits = 0L
    var consults = 0L
    val perKind = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val reader = () => spark.read.format("graft")

    /** Rows returned must be exactly `expect` (sorted ids), each with the
      * oracle's tokens.
      */
    def exact(got: Array[(Long, Long, Int)], expect: Array[Long]): Boolean = {
      val s = got.sortBy(_._1)
      s.length == expect.length && s.indices.forall(k =>
        s(k)._1 == expect(k) && s(k)._2 == oracle.fp(expect(k).toInt))
    }

    // warm-up: one op of each kind
    loop(Kinds.size) { (i, record) =>
      val kind = Kinds(i % Kinds.size)
      val traced = ctx.traced && record && perKind(kind) % 2 == 1
      perKind(kind) += 1
      var got: Array[(Long, Long, Int)] = Array.empty
      /** The index consult, split out when traced so it is timed alone. */
      def ids(lookup: => DataFrame): DataFrame =
        if (!traced) lookup
        else {
          val hit = trace.span("index.consult")(lookup.collect().map(_.getLong(0)))
          hits += hit.length; consults += 1
          hit.toSeq.toDF("_row_id")
        }
      def probe(expect: Array[Long]): Unit = if (traced) trace.span("store.planUnits") {
        c.store.planUnits(Seq("tokens"), SelIds(expect, expect.indices.map(_.toLong).toArray))
      }
      val ms = kind match {
        case "ntok_eq" | "ntok_between" =>
          val lo = NtokKeyLo + ntokKeys.draw()
          val hi = if (kind == "ntok_eq") lo else lo + BetweenWidth
          val expect = oracle.ntokBetween(lo, hi)
          op(kind, traced) {
            val idDf = ids(if (lo == hi) c("n_tok") === lo else c("n_tok").between(lo, hi))
            val df = trace.span("api.gather")(c.gather(idDf, Seq("tokens")))
            probe(expect)
            got = Reads.fingerprints(ctx, df)
            () => exact(got, expect)
          }
        case "docid_point" | "unindexed_point" =>
          val id = docKeys.draw().toLong
          op(kind, traced) {
            val src = if (kind == "docid_point") reader() else reader().option("useIndex", "false")
            val df = src.load(c.root).where(col("doc_id") === oracle.docId(id))
              .select(col("_row_id"), col("tokens"))
            probe(Array(id))
            got = Reads.fingerprints(ctx, df)
            () => exact(got, Array(id))
          }
        case "source_in_limit" =>
          op(kind, traced) {
            val df = reader().load(c.root).where(col("source").isin("synth"))
              .select(col("_row_id"), col("tokens")).limit(Limit)
            got = Reads.fingerprints(ctx, df)
            () => got.length == math.min(Limit, synth.length) &&
              got.map(_._1).distinct.length == got.length &&
              got.forall { case (id, f, _) => synthSet(id) && f == oracle.fp(id.toInt) }
          }
      }
      if (record) {
        if (traced) tracedMs += ms
        else {
          plain += ms; byKind(kind) += ms
          tokensByKind(kind) += got.iterator.map(_._3.toDouble).sum
        }
      }
    }
    val stored = c.storageBytes
    val (rows, toks, bad) = Reads.fullPass(ctx, Reads.tokensScan(spark, c.root), oracle.fp)
    verify("final content of the lookup store")(rows == n && toks == oracle.tokens && bad == 0)

    // The five kinds' latencies form separate clusters, so the median of
    // the whole mix falls in a gap between clusters and jumps with small
    // shifts. The p50 and the token throughput are taken per kind and
    // combined with equal weight, as the round-robin issues them; p90 stays
    // over the whole mix.
    val kindP50 = Kinds.map(k => Stats.median(byKind(k).toSeq))
    val opP50 = Stats.mean(kindP50)
    val tokPerS = Kinds.map(k => Stats.median(tokensByKind(k).toSeq)).sum / (kindP50.sum / 1e3)
    val ratio = stored.toDouble / oracle.refBytes
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("op_p50_ms", opP50, "ms"),
      Metric("op_p90_ms", Stats.quantile(plain.toSeq, 0.9), "ms"),
      Metric("size_vs_reference", ratio, "ratio"))
    val layers =
      if (!ctx.traced) Nil
      else commonLayers() ++ CodecProbe.run(ctx, 40000) ++ Seq(
        Metric("store.bytes_per_token", stored.toDouble / oracle.tokens, "B/token"),
        Metric("index.consult_ms", Stats.median(trace.durations("index.consult")), "ms"),
        Metric("index.hits_per_op", hits.toDouble / math.max(1L, consults), "count"),
        Metric("trace.overhead_pct",
          100.0 * (Stats.median(tracedMs.toSeq) / Stats.median(plain.toSeq) - 1.0), "%"))
    val named = Seq(
      Metric("lookup_p50_ms", opP50, "ms"),
      Metric("lookup_mix_p50_ms", Stats.quantile(plain.toSeq, 0.5), "ms"),
      Metric("lookup_tok_per_s", tokPerS, "tok/s"),
      Metric("lookup_p90_ms", Stats.quantile(plain.toSeq, 0.9), "ms"),
      Metric("lookups_timed", plain.size.toDouble, "count")) ++
      Kinds.map(k => Metric(s"${k}_p50_ms", Stats.median(byKind(k).toSeq), "ms"))
    Result(e2e, layers, named)
  }
}
