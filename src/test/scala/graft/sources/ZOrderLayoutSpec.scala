package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** writeZOrdered is the layout twin of the q_zorder audit query: after a
  * z-ordered write, each parquet file's min/max range must be tight on
  * BOTH clustered dimensions (that tightness is precisely what row-group
  * pruning consumes), unlike a hash-layout write of the same file count.
  */
class ZOrderLayoutSpec extends SparkSpec {

  private def avgSpan(path: String): Double = {
    val perFile = spark.read.parquet(path)
      .withColumn("x", expr("CAST(l_partkey % 256 AS INT)"))
      .withColumn("y", expr("CAST(l_suppkey % 256 AS INT)"))
      .groupBy(input_file_name().as("f"))
      .agg(((max("x") - min("x")) + (max("y") - min("y"))).as("span"))
    val rows = perFile.collect()
    assert(rows.length > 4, s"expected multiple output files, got ${rows.length}")
    rows.map(_.getAs[Int]("span").toDouble).sum / rows.length
  }

  test("morton interleave matches a JVM bit model, including negative inputs") {
    // The q_zorder oracle covers fixture values only, which are all
    // positive — this pins the scaladoc's pmod claim (signed % would emit
    // negative remainders and break z-range contiguity) on the corners.
    import spark.implicits._
    def model(x: Long, y: Long): Long = {
      val xm = ((x % 256) + 256) % 256
      val ym = ((y % 256) + 256) % 256
      (0 until 8).map(i =>
        (((xm >> i) & 1L) << (2 * i)) | (((ym >> i) & 1L) << (2 * i + 1))).sum
    }
    val vals = Seq(-1000L, -300L, -256L, -255L, -1L, 0L, 1L, 127L, 255L, 256L, 1000L)
    val rows = vals.flatMap(x => vals.map(y => (x, y))).toDF("x", "y")
      .withColumn("z", expr(graft.Portable.mortonInterleaveSql("x", "y")))
      .collect()
    rows.foreach { r =>
      val (x, y) = (r.getLong(0), r.getLong(1))
      val z = r.getAs[Number](2).longValue
      assert(z == model(x, y), s"morton($x, $y) = $z, model says ${model(x, y)}")
    }
  }

  test("z-ordered layout halves per-file dim ranges vs hash layout") {
    val li = graft.Tables.lineitem(spark, sf("sf0.001"))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val tmp = tempDir("graft-zorder").toFile.getAbsolutePath

    FileSources.writeZOrdered(li, s"$tmp/zordered", "l_partkey", "l_suppkey", nFiles = 16)
    li.repartition(16).write.parquet(s"$tmp/hashed")

    val zSpan = avgSpan(s"$tmp/zordered")
    val hSpan = avgSpan(s"$tmp/hashed")
    // Hash layout spreads every file across the full 0..255 of both dims
    // (span ≈ 510); 16 z-range files each own 1/16 of the 16-bit z space,
    // so both dim ranges shrink together.
    assert(zSpan < hSpan * 0.6,
      s"z-ordered avg span $zSpan not tighter than hash layout $hSpan")
    // Round-trip integrity: layout must not lose or duplicate rows.
    assert(spark.read.parquet(s"$tmp/zordered").count() == li.count())
  }
}
