package graftbench

import graft.codec._
import graft.gen.TokenGen

/** The codec layer measured directly: single-threaded `Chunk.encodeWithInfo`
  * and `Chunk.decode` on chunks cut from the workload's own rows (up to the
  * engine's 1 MiB raw chunk target), one chunk per kind.
  */
object CodecProbe {
  private val ChunkBytes = 1 << 20

  val Kinds: Seq[String] =
    TokenGen.Sources.toSeq.map(s => s"tokens.$s") ++ Seq("doc_id", "n_tok", "source")

  private def chunks(seed: Long, maxRows: Int): Seq[(String, ColVec, Long)] = {
    val perSource = TokenGen.Sources.map(s => s -> scala.collection.mutable.ArrayBuffer.empty[Array[Int]]).toMap
    val perSourceBytes = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val docs = scala.collection.mutable.ArrayBuffer.empty[String]
    val ntoks = scala.collection.mutable.ArrayBuffer.empty[Int]
    val srcs = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0L
    while (i < maxRows && TokenGen.Sources.exists(perSourceBytes(_) < ChunkBytes)) {
      val r = TokenGen.row(seed, i)
      if (perSourceBytes(r.source) < ChunkBytes) {
        perSource(r.source) += r.tokens
        perSourceBytes(r.source) += 4L * r.tokens.length + 4
      }
      if (docs.size * 19L < ChunkBytes) docs += r.doc_id
      if (ntoks.size * 4L < ChunkBytes) ntoks += r.n_tok
      if (srcs.size * 8L < ChunkBytes) srcs += r.source
      i += 1
    }
    TokenGen.Sources.toSeq.filter(perSource(_).nonEmpty).map { s =>
      val rows = perSource(s)
      (s"tokens.$s", IntListVec(rows.map(_.length).toArray, rows.flatten.toArray),
        perSourceBytes(s))
    } ++ Seq(
      ("doc_id", StrVec(docs.toArray), docs.map(_.length + 4L).sum),
      ("n_tok", IntVec(ntoks.toArray), 4L * ntoks.size),
      ("source", StrVec(srcs.toArray), srcs.map(_.length + 4L).sum))
  }

  /** Median seconds of `f` over at least 3 reps and at least 60 ms total. */
  private def timeMedian(f: => Unit): Double = {
    val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (xs.size < 3 || (System.nanoTime() - t0 < 60000000L && xs.size < 200)) {
      val s = System.nanoTime(); f; xs += (System.nanoTime() - s) / 1e9
    }
    Stats.median(xs.toSeq)
  }

  def run(ctx: Ctx, maxRows: Int): Seq[Metric] = {
    val measured = chunks(ctx.seed, maxRows).map { case (kind, vec, raw) =>
      val (blob, info) = Chunk.encodeWithInfo(vec)
      ctx.verify(s"codec round trip of $kind")(same(Chunk.decode(blob), vec))
      val encS = timeMedian(Chunk.encodeWithInfo(vec))
      val decS = timeMedian(Chunk.decode(blob))
      val selected = vec match {
        case IntListVec(_, values) => Chunk.encodeWithInfo(IntVec(values))._2.codec
        case _ => info.codec
      }
      kind -> Seq(
        Metric(s"codec.encode_mb_per_s.$kind", raw / 1e6 / encS, "MB/s"),
        Metric(s"codec.decode_mb_per_s.$kind", raw / 1e6 / decS, "MB/s"),
        Metric(s"codec.ratio.$kind", raw.toDouble / blob.length, "ratio"),
        Metric(s"codec.selected.$kind", selected.toDouble, "codec_id"))
    }.toMap
    // a kind the sample did not reach (tiny runs) reports zeros, so every
    // run prints the same metric names
    Kinds.flatMap(k => measured.getOrElse(k, Seq("encode_mb_per_s", "decode_mb_per_s",
      "ratio", "selected").map(m => Metric(s"codec.$m.$k", 0.0,
        if (m == "ratio") "ratio" else if (m == "selected") "codec_id" else "MB/s"))))
  }

  private def same(decoded: ColVec, original: ColVec): Boolean = (decoded, original) match {
    case (IntListVec(l1, v1), IntListVec(l2, v2)) =>
      java.util.Arrays.equals(l1, l2) && java.util.Arrays.equals(v1, v2)
    case (IntVec(x), IntVec(y)) => java.util.Arrays.equals(x, y)
    case (Utf8Vec(x), StrVec(y)) =>
      x.length == y.length && x.indices.forall(i => new String(x(i), "UTF-8") == y(i))
    case (StrVec(x), StrVec(y)) => x.sameElements(y)
    case _ => false
  }

  /** Selected codec ids as names, for the human-readable lines. */
  def codecName(id: Double): String = CodecId.name(id.toInt)
}
