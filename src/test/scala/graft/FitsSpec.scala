package graft

import graft.sources.Fits
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** FITS BINTABLE ingestion (reference convenience.py:7-127 from_fits). */
class FitsSpec extends AnyFunSuite {
  import SparkTestBase._

  test("BINTABLE round trip: every supported TFORM code, multi-split read") {
    val schema = StructType(Seq(
      StructField("flag", BooleanType, nullable = false),
      StructField("i16", ShortType, nullable = false),
      StructField("i32", IntegerType, nullable = false),
      StructField("i64", LongType, nullable = false),
      StructField("f32", FloatType, nullable = false),
      StructField("f64", DoubleType, nullable = false),
      StructField("s", StringType, nullable = false),
      StructField("arr", ArrayType(IntegerType, containsNull = false), nullable = false)))
    val rows = (0 until 500).map(i => Row(i % 3 == 0, (i - 250).toShort,
      i * 7 - 100, i.toLong * (1L << 40) - 5, i * 0.5f, i * 0.25,
      s"str$i", Seq(i, i + 1, i + 2)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val path = tmpDir("graft-fits") + "/t.fits"
    Fits.writeBinTable(path, df)
    val t = Fits.describe(path)
    assert(t.nrows == 500 && t.cols.map(_.name) == schema.fieldNames.toSeq)
    // tiny split target -> many row-range tasks; values must survive exactly
    val back = Fits.load(spark, path, targetSplitBytes = 4096)
    assert(back.rdd.getNumPartitions > 1)
    val got = back.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toSet
    val want = rows.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toSet
    assert(got == want)
  }

  test("reads unsigned-byte (B) columns from externally-shaped FITS") {
    // hand-built file: B is a code our writer never emits (Spark has no
    // unsigned byte), so shape it exactly as an external tool would
    val bos = new java.io.ByteArrayOutputStream()
    def card(s: String): Unit = bos.write(s.padTo(80, ' ').getBytes("US-ASCII"))
    def num(k: String, v: String): Unit =
      card(s"${k.padTo(8, ' ')}= ${v.reverse.padTo(20, ' ').reverse}")
    def str(k: String, v: String): Unit =
      card(s"${k.padTo(8, ' ')}= '${v.padTo(8, ' ')}'")
    def pad(): Unit = while (bos.size() % 2880 != 0) bos.write(' ')
    num("SIMPLE", "T"); num("BITPIX", "8"); num("NAXIS", "0"); card("END"); pad()
    str("XTENSION", "BINTABLE"); num("BITPIX", "8"); num("NAXIS", "2")
    num("NAXIS1", "1"); num("NAXIS2", "3"); num("PCOUNT", "0"); num("GCOUNT", "1")
    num("TFIELDS", "1"); str("TTYPE1", "v"); str("TFORM1", "B"); card("END"); pad()
    bos.write(Array[Byte](0, 127, -1)) // unsigned 0, 127, 255
    while (bos.size() % 2880 != 0) bos.write(0)
    val path = tmpDir("graft-fits-b") + "/b.fits"
    val os = graft.store.FsIO.fs(path).create(new org.apache.hadoop.fs.Path(path), true)
    os.write(bos.toByteArray); os.close()
    val got = Fits.load(spark, path).collect().map(_.getShort(0)).sorted
    assert(got.toSeq == Seq(0.toShort, 127.toShort, 255.toShort))
  }

  test("streamed export preserves row order across many partitions") {
    // the writer goes header-geometry pass → toLocalIterator stream; rows
    // must land in partition-then-row order, bounded by one partition of
    // driver memory at a time
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    val rows = (0 until 5000).map(i => Row(i.toLong, s"v${i % 97}"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
    val path = tmpDir("graft-fits-stream") + "/s.fits"
    Fits.writeBinTable(path, df)
    assert(Fits.describe(path).nrows == 5000)
    val back = Fits.load(spark, path).collect()
    // FITS row i must be input row i (single-partition read preserves order
    // only if the writer streamed in order)
    val expectIds = df.collect().map(_.getLong(0)).toSeq
    assert(back.sortBy(_.getLong(0)).map(_.getLong(0)).toSeq == expectIds.sorted)
    assert(Fits.load(spark, path, targetSplitBytes = Long.MaxValue)
      .collect().map(_.getLong(0)).toSeq == expectIds)
  }

  test("distributed export is bit-identical to the serial driver stream") {
    // fixed-width records → per-partition byte offsets are computable, so
    // local exports write every partition in parallel (positioned writes);
    // the serial path remains for append-only filesystems. Same df, both
    // paths, byte-for-byte equality.
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = false),
      StructField("arr", ArrayType(IntegerType, containsNull = false), nullable = false)))
    val rows = (0 until 3000).map(i => Row(i.toLong, s"x${i % 89}", Seq(i, -i)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 7), schema)
    val base = tmpDir("graft-fits-dist")
    Fits.writeBinTable(s"$base/par.fits", df)
    Fits.writeBinTableSerial(s"$base/ser.fits", df)
    val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$base/par.fits"))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$base/ser.fits"))
    assert(a.length == b.length, s"sizes differ: ${a.length} vs ${b.length}")
    assert(java.util.Arrays.equals(a, b), "parallel and serial exports diverge")
    // and the parallel file round-trips
    val back = Fits.load(spark, s"$base/par.fits").collect()
    assert(back.length == 3000)
    assert(back.map(_.getLong(0)).sorted.toSeq == (0L until 3000L))
  }

  test("header string values: '' escape honored, unterminated raises") {
    def build(ttypeCard: String): String = {
      val bos = new java.io.ByteArrayOutputStream()
      def card(s: String): Unit = bos.write(s.padTo(80, ' ').getBytes("US-ASCII"))
      def num(k: String, v: String): Unit =
        card(s"${k.padTo(8, ' ')}= ${v.reverse.padTo(20, ' ').reverse}")
      def str(k: String, v: String): Unit =
        card(s"${k.padTo(8, ' ')}= '${v.padTo(8, ' ')}'")
      def pad(): Unit = while (bos.size() % 2880 != 0) bos.write(' ')
      num("SIMPLE", "T"); num("BITPIX", "8"); num("NAXIS", "0"); card("END"); pad()
      str("XTENSION", "BINTABLE"); num("BITPIX", "8"); num("NAXIS", "2")
      num("NAXIS1", "1"); num("NAXIS2", "1"); num("PCOUNT", "0"); num("GCOUNT", "1")
      num("TFIELDS", "1"); card(ttypeCard); str("TFORM1", "B"); card("END"); pad()
      bos.write(Array[Byte](7))
      while (bos.size() % 2880 != 0) bos.write(0)
      val path = tmpDir("graft-fits-q") + "/q.fits"
      val os = graft.store.FsIO.fs(path).create(new org.apache.hadoop.fs.Path(path), true)
      os.write(bos.toByteArray); os.close()
      path
    }
    // FITS 4.0 §4.2.1: '' inside a string is an escaped single quote
    val ok = build("TTYPE1  = 'it''s   '")
    assert(Fits.describe(ok).cols.head.name == "it's")
    // a card whose string value never closes is malformed → raise, not ""
    val bad = build("TTYPE1  = 'oops")
    intercept[IllegalArgumentException] { Fits.describe(bad) }
  }

  test("fromFits ingests a binary table into a graft store (S6)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("x", DoubleType, nullable = false),
      StructField("name", StringType, nullable = false)))
    val rows = (0 until 300).map(i => Row(i.toLong, i * 1.5, s"n$i"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val base = tmpDir("graft-fits-ing")
    Fits.writeBinTable(s"$base/in.fits", df)
    val c = Fits.fromFits(spark, s"$base/store", s"$base/in.fits")
    assert(c.nrows == 300)
    val back = c.read().collect().sortBy(_.getLong(1))
    back.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(1) == i && r.getDouble(2) == i * 1.5 && r.getString(3) == s"n$i")
    }
    c.dropStore()
  }
}
