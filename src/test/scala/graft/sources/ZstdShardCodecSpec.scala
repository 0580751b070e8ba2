package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ZstdShardCodec — the pure-JVM zstd text codec (Hadoop SPI over
  * zstd-jni streams). Pins the four contracts the roundtrip query
  * (`jsonl_zst_roundtrip`) rests on: extension-suffixed shard files that
  * really ARE zstd frames, lossless write→read through Spark's normal
  * text paths, concatenated-frame continuity, and corrupted-shard
  * refusal (frame checksums on).
  */
class ZstdShardCodecSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    tempDir(s"graft-zst-$tag").toFile.getAbsolutePath

  private def listZst(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles.toSeq
      .filter(f => f.isFile && f.getName.endsWith(".zst")).sortBy(_.getName)

  test("json write suffixes .zst and the bytes are real checksummed zstd frames") {
    val dir = tmpDir("frames")
    import spark.implicits._
    Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
      .coalesce(1)
      .write.mode("overwrite")
      .option("compression", classOf[ZstdShardCodec].getName)
      .json(dir)
    val shards = listZst(dir)
    assert(shards.nonEmpty, s"no .zst shard written in $dir")
    val bytes = Files.readAllBytes(shards.head.toPath)
    // zstd frame magic 0xFD2FB528 little-endian.
    assert((bytes(0) & 0xff) == 0x28 && (bytes(1) & 0xff) == 0xb5 &&
      (bytes(2) & 0xff) == 0x2f && (bytes(3) & 0xff) == 0xfd,
      "shard does not start with the zstd frame magic")
    // Frame header descriptor bit 2 = content-checksum flag (RFC 8878).
    assert(((bytes(4) >> 2) & 1) == 1, "content-checksum flag not set in the frame header")
    // Independent decoder agreement: zstd-jni stream decode of the same
    // bytes (streaming-written frames carry no up-front content size, so
    // the one-shot Zstd.decompress entry point does not apply).
    val zin = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
      new java.io.ByteArrayInputStream(bytes))
    val plain = new String(zin.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    zin.close()
    assert(plain.linesIterator.size == 3 && plain.contains("\"k\":\"a\""))
  }

  test("write -> read round-trip is lossless through the extension-mapped scan") {
    ZstdShardCodec.register(spark)
    val dir = tmpDir("rt")
    import spark.implicits._
    val in = (1 to 500).map(i => (i.toLong, s"row-$i", i * 7L))
    in.toDF("id", "s", "v")
      .repartition(3, col("id"))
      .write.mode("overwrite")
      .option("compression", classOf[ZstdShardCodec].getName)
      .json(dir)
    assert(listZst(dir).size == 3, "expected one .zst shard per partition")
    val back = spark.read.json(dir)
      .select(col("id").cast("long"), col("s"), col("v").cast("long"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(back.toSeq == in.sortBy(_._1))
  }

  test("concatenated frames decode as one logical shard (continuous mode)") {
    ZstdShardCodec.register(spark)
    val dir = tmpDir("cat")
    def frame(lines: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(bos, ZstdShardCodec.Level)
      z.write(lines.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      z.close()
      bos.toByteArray
    }
    // Two frames in ONE file — the `cat a.zst b.zst` shape.
    Files.write(Paths.get(dir, "part-0.json.zst"),
      frame("{\"id\":1}\n{\"id\":2}\n") ++ frame("{\"id\":3}\n"))
    val ids = spark.read.json(dir).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("a corrupted shard fails the read instead of yielding garbage") {
    ZstdShardCodec.register(spark)
    val dir = tmpDir("bad")
    import spark.implicits._
    (1 to 200).map(i => (i, s"text-$i")).toDF("id", "s")
      .coalesce(1)
      .write.mode("overwrite")
      .option("compression", classOf[ZstdShardCodec].getName)
      .json(dir)
    val shard = listZst(dir).head
    val bytes = Files.readAllBytes(shard.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    Files.write(shard.toPath, bytes)
    val ex = intercept[Exception] {
      spark.read.json(shard.getParent).count()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else t.toString :: chain(t.getCause)
    assert(chain(ex).exists(m => m.toLowerCase.contains("zstd") ||
      m.toLowerCase.contains("corrupt") || m.toLowerCase.contains("checksum")),
      s"expected a zstd decode failure, got: ${chain(ex).mkString(" <- ")}")
  }
}
