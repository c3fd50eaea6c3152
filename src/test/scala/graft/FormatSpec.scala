package graft

import graft.store._
import graft.codec.PType
import org.scalatest.funsuite.AnyFunSuite

/** Binary metadata round trips (test_schema.py analogue: construction,
  * defaults, per-column resolution — here exact serialization equality).
  */
class FormatSpec extends AnyFunSuite {

  test("TableSpec round trip with fills, widths, added-at") {
    val spec = TableSpec(Seq(
      ColumnSpec("a", PType.I64.id),
      ColumnSpec("b", PType.STR.id, fixedWidth = 5, fill = Some("-")),
      ColumnSpec("c", PType.F32.id, fill = Some("9.5"), addedAtSegment = 3L),
      ColumnSpec("d", PType.I32LIST.id)),
      targetChunkBytes = 123456L, chunkRows = 789)
    assert(BinCodec.readTableSpec(BinCodec.writeTableSpec(spec)) == spec)
  }

  test("PartManifest round trip incl. chunk stats") {
    val m = PartManifest(2L, 7, 1000L, 123456789L, "parquet:x", 3, Seq(
      ChunkMeta("a", 0, 0L, 500, 4, 1, "p7.a.bin", 0L, 999L, 4000L, 0xdeadL, 1, -5L, 42L),
      ChunkMeta("a", 1, 500L, 500, 9, 0, "p7.a.c1.v3.bin", 0L, 1L, 2L, 3L, 2,
        java.lang.Double.doubleToLongBits(-1.5), java.lang.Double.doubleToLongBits(2.5))))
    assert(BinCodec.readPartManifest(BinCodec.writePartManifest(m)) == m)
  }

  test("PartManifest v4 round trip incl. membership-filter location") {
    val m = PartManifest(1L, 0, 100L, 7L, "x", 0, Seq(
      ChunkMeta("k", 0, 0L, 100, 2, 1, "p0.k.bin", 0L, 50L, 400L, 0x1L,
        3, 11L, 22L, 0, 0L, filterKind = 1, filterOffset = 50L, filterBytes = 130L)))
    assert(BinCodec.readPartManifest(BinCodec.writePartManifest(m)) == m)
  }

  test("writeAtomic creates missing parent directories on local paths") {
    val base = s"/tmp/graft-wa-${java.util.UUID.randomUUID().toString.take(8)}"
    val path = s"$base/sub/dir/f.bin"
    assert(!FsIO.exists(base))
    FsIO.writeAtomic(path, Array[Byte](1, 2, 3))
    assert(FsIO.readAll(path).toSeq == Seq[Byte](1, 2, 3))
    assert(FsIO.list(s"$base/sub/dir") == Seq("f.bin"), "tmp file left behind")
    FsIO.delete(base, recursive = true)
  }

  test("SegmentCommit and Meta round trip") {
    val c = SegmentCommit(5L, Seq(10L, 0L, 33L), "stream-batch:9")
    assert(BinCodec.readSegmentCommit(BinCodec.writeSegmentCommit(c)) == c)
    val meta = JObj("名前" -> JStr("value with\nnewline\"quotes\"bell"),
      "" -> JStr(""), "k" -> Json.arr(Json.num(-12L), Json.num(3.5),
        JNull, JBool(false), JObj("nested" -> Json.num(Long.MaxValue))))
    assert(Json.parse(Json.render(meta)) == meta)
    // numbers round-trip exactly (BigDecimal, no double coercion)
    assert(Json.parse("9223372036854775807") == Json.num(Long.MaxValue))
  }
}
