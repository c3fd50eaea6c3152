package graftbench

import graft.codec.RefFootprint
import graft.gen.TokenGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Expected content of rows [0, n) under one seed, built from
  * `TokenGen.row` by a plain Spark job that never touches the engine: per
  * row its token fingerprint, `n_tok` and source index (into
  * `TokenGen.Sources`), and the reference footprint of all the tokens
  * (`RefFootprint.int32StreamBytes`). Row i of a store written in generation order has
  * `_row_id` i.
  */
final class Oracle(val fp: Array[Long], val ntok: Array[Int], val source: Array[Byte],
    val refBytes: Long) {
  def n: Int = fp.length
  lazy val tokens: Long = ntok.iterator.map(_.toLong).sum
  def docId(i: Long): String = f"doc$i%012d"
  /** Sorted row ids with `lo <= n_tok <= hi` — a plain filter over the rows. */
  def ntokBetween(lo: Int, hi: Int): Array[Long] =
    ntok.indices.filter(i => ntok(i) >= lo && ntok(i) <= hi).map(_.toLong).toArray
  /** Row ids whose source is `s`. */
  def withSource(s: String): Array[Long] = {
    val k = TokenGen.Sources.indexOf(s).toByte
    source.indices.filter(source(_) == k).map(_.toLong).toArray
  }
}

object Oracle {
  /** One plain Spark job over `TokenGen.row`: per row its fingerprint,
    * `n_tok` and source, and per partition the reference footprint of the
    * partition's concatenated token stream (as `graft.Bench` sizes it).
    */
  def build(spark: SparkSession, n: Long, parts: Int, seed: Long): Oracle = {
    val pieces = spark.sparkContext.parallelize(0 until parts, parts).map { p =>
      val lo = n * p / parts
      val hi = n * (p + 1) / parts
      val rows = (lo until hi).map(TokenGen.row(seed, _))
      val ids = lo until hi
      (lo, ids.zip(rows).map { case (i, r) => Fingerprint.of(i, r.tokens) }.toArray,
        rows.map(_.n_tok).toArray,
        rows.map(r => TokenGen.Sources.indexOf(r.source).toByte).toArray,
        RefFootprint.int32StreamBytes(rows.flatMap(_.tokens).toArray))
    }.collect()
    val fp = new Array[Long](n.toInt)
    val ntok = new Array[Int](n.toInt)
    val src = new Array[Byte](n.toInt)
    pieces.foreach { case (lo, f, k, s, _) =>
      System.arraycopy(f, 0, fp, lo.toInt, f.length)
      System.arraycopy(k, 0, ntok, lo.toInt, k.length)
      System.arraycopy(s, 0, src, lo.toInt, s.length)
    }
    new Oracle(fp, ntok, src, pieces.map(_._5).sum)
  }
}

/** Reads that hand each row to a consumer which fingerprints its tokens
  * where the row is decoded, so the check needs no copy of the tokens on the
  * driver. `df` must have `_row_id` first and `tokens` second.
  */
object Reads {
  /** (row id, fingerprint, token count) per returned row. */
  def fingerprints(ctx: Ctx, df: DataFrame): Array[(Long, Long, Int)] = {
    ctx.trace.span("sources.plan")(df.queryExecution.executedPlan)
    ctx.trace.span("sources.exec") {
      df.queryExecution.toRdd.map { r =>
        val id = r.getLong(0)
        val a = r.getArray(1)
        (id, Fingerprint.of(id, a), a.numElements())
      }.collect()
    }
  }

  /** Full-table pass: (rows, tokens, rows whose fingerprint differs from
    * `expected(row id)`), aggregated per partition.
    */
  def fullPass(ctx: Ctx, df: DataFrame, expected: Array[Long]): (Long, Long, Long) = {
    val bc = ctx.spark.sparkContext.broadcast(expected)
    try {
      ctx.trace.span("sources.plan")(df.queryExecution.executedPlan)
      ctx.trace.span("sources.exec") {
        df.queryExecution.toRdd.mapPartitions { it =>
          val exp = bc.value
          var rows, toks, bad = 0L
          it.foreach { r =>
            val id = r.getLong(0)
            val a = r.getArray(1)
            rows += 1; toks += a.numElements()
            if (id < 0 || id >= exp.length || exp(id.toInt) != Fingerprint.of(id, a)) bad += 1
          }
          Iterator.single((rows, toks, bad))
        }.collect().foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
      }
    } finally bc.destroy()
  }

  def tokensScan(spark: SparkSession, root: String): DataFrame =
    spark.read.format("graft").load(root).select(col("_row_id"), col("tokens"))
}
