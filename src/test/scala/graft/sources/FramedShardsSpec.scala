package graft.sources

import graft.SparkSpec

/** The loud-failure text of every framed-shard reader, word for word:
  * each format names its damage, unit and causes, and the shared reader
  * ([[FileSources.framedShards]]) must not blur them. */
class FramedShardsSpec extends SparkSpec {

  private def truncated(name: String, bytes: Array[Byte]): String = {
    val dir = tempDir("graft_framed_")
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, bytes.dropRight(7))
    p.toString
  }

  private def failure(read: => Any): String = {
    val ex = intercept[Exception](read)
    Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalArgumentException => e.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException under $ex"))
  }

  private val Salvage = "; pass tolerateUnclean=true to salvage)"

  test("WARC: records after the parsed prefix, truncated or corrupt WARC") {
    val p = truncated("s.warc", WarcSource.fixtureShard(3))
    val n = WarcSource.parseWarc("s.warc",
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))._1.size
    assert(failure(WarcSource.records(spark, Seq(p)).collect()) ==
      s"$p: unframeable trailing bytes after $n records (truncated or corrupt WARC$Salvage")
  }

  test("tar and tar.gz: members, with gzip corruption named for .tar.gz") {
    val plain = truncated("s.tar", TarSource.fixtureShard(2))
    val n = TarSource.parseTar("s.tar",
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(plain)))._1.size
    val tarMsg = s"$plain: unframeable bytes after $n members (bad checksum, truncation or desync$Salvage"
    assert(failure(TarSource.entries(spark, Seq(plain)).collect()) == tarMsg)
    assert(failure(TarSource.members(spark, Seq(plain)).collect()) == tarMsg)

    val gz = truncated("s.tar.gz", WarcSource.gzipMember(TarSource.fixtureShard(2)))
    val (inflated, _) = WarcSource.gunzipAll(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(gz)))
    val m = TarSource.parseTar("s.tar.gz", inflated)._1.size
    assert(failure(TarSource.entriesGz(spark, Seq(gz)).collect()) ==
      s"$gz: unframeable bytes after $m members (gzip corruption, bad checksum, truncation or desync$Salvage")
  }

  test("zip: unverifiable structure after the verified members") {
    val p = truncated("s.zip", ZipSource.fixtureArchive(1))
    val n = ZipSource.parseZip("s.zip",
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))._1.size
    assert(failure(ZipSource.entries(spark, Seq(p)).collect()) ==
      s"$p: unverifiable ZIP structure after $n members (bad signature/name/size/crc, truncation or ZIP64$Salvage")
  }
}
