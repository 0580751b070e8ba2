package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec

/** AvroSource: OCF shard round-trip on the avro core library — value
  * fidelity across codecs, schema evolution (defaults + promotions),
  * and loud refusal of corrupt shards. */
class AvroSourceSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    tempDir(s"graft-avro-$tag").toFile.getAbsolutePath

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("n", IntegerType, nullable = true),
    StructField("score", DoubleType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("blob", BinaryType, nullable = true)))

  // Tricky values on purpose: empty string, multi-byte unicode, a
  // string that LOOKS like the OCF magic, negative ints, nulls in
  // nullable fields, empty and magic-quoting byte payloads.
  private val rows = Seq(
    Row(1L, "", 0, 0.0, true, Array.emptyByteArray),
    Row(2L, "héllo 世界", -7, -1.5, false, Array[Byte](0, 1, 2, -1)),
    Row(3L, "Obj", Int.MaxValue, 2.5, true, "Obj".getBytes("UTF-8")),
    Row(4L, null, null, 3.25, false, null),
    Row(5L, "line1\nline2", Int.MinValue, 1e300, true, Array[Byte](127, -128)))

  private def df = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 2), schema)

  private def normalized(r: Row): (Long, String, Any, Double, Boolean, String) =
    (r.getLong(0), Option(r.getString(1)).orNull,
      if (r.isNullAt(2)) null else r.getLong(2),
      r.getDouble(3), r.getBoolean(4),
      Option(r.getAs[Array[Byte]](5)).map(_.mkString(",")).orNull)

  for (codec <- Seq("null", "deflate", "snappy", "zstandard")) {
    test(s"round-trips values bit-exactly through $codec shards") {
      val dir = tmpDir(codec)
      val paths = AvroSource.writeShards(df, dir, codec = codec, numShards = 2)
      assert(paths.size == 2 && paths.forall(_.endsWith(".avro")))

      val back = AvroSource.read(spark, dir)
      // Read-back types: nullable int stays int without a reader schema.
      val expectByName = rows.map(r => (r.getLong(0),
        (Option(r.getString(1)).orNull,
          if (r.isNullAt(2)) null else r.getInt(2).toLong,
          r.getDouble(3), r.getBoolean(4),
          Option(r.getAs[Array[Byte]](5)).map(_.mkString(",")).orNull))).toMap
      val got = back.collect()
      assert(got.length == rows.length)
      got.foreach { r =>
        val key = r.getLong(0)
        val n: Any = if (r.isNullAt(2)) null else r.getInt(2).toLong
        assert((Option(r.getString(1)).orNull, n, r.getDouble(3), r.getBoolean(4),
          Option(r.getAs[Array[Byte]](5)).map(_.mkString(",")).orNull)
          == expectByName(key), s"row $key mismatched through $codec")
      }
    }
  }

  test("reader schema applies int→long promotion and added-field defaults") {
    val dir = tmpDir("evo")
    AvroSource.writeShards(df.select("id", "name", "n"), dir,
      codec = "deflate", numShards = 2)
    val readerV2 =
      """{"type":"record","name":"GraftRecord","namespace":"graft.avro",
        |"fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"name","type":["null","string"],"default":null},
        |  {"name":"n","type":["null","long"],"default":null},
        |  {"name":"quality","type":"double","default":0.25}
        |]}""".stripMargin
    val back = AvroSource.read(spark, dir, Some(readerV2))
    assert(back.schema("n").dataType == LongType)
    assert(back.schema("quality").dataType == DoubleType)
    val byId = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(3L).getLong(2) == Int.MaxValue.toLong) // promoted, not truncated
    assert(byId(5L).getLong(2) == Int.MinValue.toLong)
    assert(byId(4L).isNullAt(2)) // null survives the union promotion
    assert(rows.forall(r => byId(r.getLong(0)).getDouble(3) == 0.25)) // default fill
  }

  test("a flipped byte inside a compressed block fails loudly, not garbage") {
    val dir = tmpDir("corrupt")
    val Seq(path, _) = AvroSource.writeShards(df, dir, codec = "deflate", numShards = 2)
    val f = java.nio.file.Paths.get(new java.net.URI(path).getPath)
    val bytes = java.nio.file.Files.readAllBytes(f)
    // Flip bytes well past the header/schema JSON, inside block payload.
    val mid = bytes.length - 40
    bytes(mid) = (bytes(mid) ^ 0x5a).toByte
    bytes(mid + 1) = (bytes(mid + 1) ^ 0x5a).toByte
    java.nio.file.Files.write(f, bytes)
    intercept[Exception] { AvroSource.read(spark, dir).collect() }
  }

  test("sink refuses nested/unsupported Spark types instead of mis-encoding") {
    val nested = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, Seq("a", "b")))),
      StructType(Seq(StructField("id", LongType),
        StructField("tags", ArrayType(StringType)))))
    val e = intercept[Exception] {
      AvroSource.writeShards(nested, tmpDir("nested"), numShards = 1)
    }
    assert(e.getMessage.contains("flat primitive"))
  }
}
