package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.multimodal.MediaPipeline
import graft.operators.{DedupQueries, SourceQueries}
import graft.sources._

/** Byte pins for every marker-staged fixture directory. Each digest is a
  * SHA-256 over the sorted (relative path, bytes) of every file a stager
  * leaves in its directory, marker included, staged from a fresh copy of
  * sf0.001. The staging contract these pin: one marker per fixture
  * version, files written before the marker, a rewrite that is byte-
  * identical, and no write at all once the marker exists. */
class StageSpec extends SparkSpec {

  /** Fixture dir name → SHA-256 of its staged files (see [[digest]]). */
  private val Pinned: Map[String, String] = Map(
    "docx" -> "823410b44feab30ce367fb1c2b1119c198c4f703e6ffe626dd60bf73301aba21",
    "odt" -> "83c09fdbc960e0caf8005c018dd3383e6e3ba37c8f2c384753fc31e900b21e85",
    "ods" -> "b771a47756d3738f9aef148ee7dc95f7e12988d367ccf27e68b9697cbcc127a9",
    "xlsx" -> "11fda6660b712bd34ba87b4a3e6d4f9c6dbe481617ad99c14aec9d71c42c8ab3",
    "pptx" -> "a1a955a7c985c5b0bc508108f42aab6ffe8fb231beb70e786ea3343a1d7f6901",
    "epub" -> "e1bfddad9780f4be009e01ea4a4ba12d45853d03b5c841e109be0dcad4b4f606",
    "rtf" -> "0d6b834b56fe6bdc4075477fbff2462ad92f67d888328ecc89fc82ae50567ac4",
    "ipynb" -> "a745fd6594ca001f2a0b89105bb69da62758bb3b44d5d4a0448e3cfb2d4e969b",
    "warc" -> "ff4102d8dbf10235c42210982a0cad63b252ab61a1d8af8f19f1d88cb707343f",
    "warc_gz" -> "1b59ab906df184d9d42e2d1742896d9b07aacd5b03acdd73cefa664a9700a1c0",
    "warc_zst" -> "6172adb6d1b5556f7c3e2c3d408dd35a1ac7e3626a1b4bf3c23764336d1094f9",
    "warc_zstdict" -> "91373cbfd4a8c7cded46b25f35064c80cb34795820b750a5cd1dbc8366cb72ed",
    "warc_http" -> "9b5fb13907de4daba9b1a96125e969ff9c7b6ba149d2a678bec50c78b57ab6dc",
    "warc_crawl" -> "444d5d7ea81a0b8fe720df7fa052ba2de75ddfa6400e215faf558dfea9432923",
    "warc_charset" -> "c528a860cb75613257305555eafd6d9d6b55446cfeee4b0d97241fa4939586b4",
    "tar" -> "c28772ae97a37018ff750613a1e1191806ef2ddc3656a68ad33ec81d4ea15044",
    "tgz" -> "c2f4ec235e1b9c4cfca63e2eb1d704e6f94130115522450eed8fa32dea36c697",
    "zip" -> "47794e1c4fa9cc09826222ff9df48f064468666389fd783605f130ef492b5cfa",
    "wds_media" -> "279055f5c44e16ec15d1422181c5a94978b2fdbb92fb156c214abc8fea6a1cbf",
    "wds_audio" -> "fde09b9e3adcea4cd7130ef0a711136cb0eb310c629851186932fa317b3f771c",
    "cjk" -> "b028cc5fe1c85fcf7a54a547e38608b23f561a3630469952b4dcbb7c707fbc91",
    "mixed" -> "5c4cabaf3ae5511a3bdfc75b5aa87918c9f6ccd7ef24daa2ea11a9ec537bae3b")

  /** A fresh copy of sf0.001, so the data-dir-keyed stages start empty. */
  private def freshData(): String = {
    val src = new File(sf("sf0.001")).toPath
    val copy = Files.createTempDirectory("graft_stagespec_data")
    Files.walk(src).forEach { p =>
      val to = copy.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    copy.toString
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  private val dataDir = freshData()
  private val fixtureRoot = Files.createTempDirectory("graft_stagespec_fix").toFile

  private def fixDir(name: String): String = new File(fixtureRoot, name).getPath

  /** Every marker-staged fixture: its name, the dir it stages into, and
    * the call that stages it (the mixed dir through its declared query,
    * its stager being private). */
  private val sites: Seq[(String, String, () => Any)] = {
    def direct(name: String)(stage: String => Any) =
      (name, fixDir(name), () => stage(fixDir(name)))
    def fromDocs(name: String)(stage: (org.apache.spark.sql.SparkSession, String, String) => Any) =
      direct(name)(d => stage(spark, dataDir, d))
    Seq(
      fromDocs("docx")(DocxSource.stageFixture),
      fromDocs("odt")(OdtSource.stageFixture),
      fromDocs("ods")(OdsSource.stageFixture),
      fromDocs("xlsx")(XlsxSource.stageFixture),
      fromDocs("pptx")(PptxSource.stageFixture),
      fromDocs("epub")(EpubSource.stageFixture),
      fromDocs("rtf")(RtfSource.stageFixture),
      fromDocs("ipynb")(NotebookSource.stageFixture),
      direct("warc")(WarcSource.stageFixture),
      direct("warc_gz")(WarcSource.stageGzFixture),
      direct("warc_zst")(WarcSource.stageZstFixture),
      direct("warc_zstdict")(WarcSource.stageZstDictFixture),
      direct("warc_http")(WarcSource.stageHttpFixture),
      fromDocs("warc_crawl")(WarcSource.stageCrawlFixture),
      direct("warc_charset")(WarcSource.stageCharsetFixture),
      direct("tar")(TarSource.stageFixture),
      direct("tgz")(TarSource.stageGzFixture),
      direct("zip")(ZipSource.stageFixture),
      direct("wds_media")(MediaPipeline.stageWdsFixture),
      direct("wds_audio")(MediaPipeline.stageWdsAudioFixture),
      ("cjk", Stage.dir(dataDir, "cjk"),
        () => DedupQueries.stageCjkCorpus(spark, dataDir)),
      ("mixed", Stage.dir(dataDir, "mixed"),
        () => SourceQueries.queries("pipeline_mixed_extract")(spark, dataDir)))
  }

  private def files(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(files)
    else Seq(dir)

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** What a staged file pins: its bytes, except for Spark-written parquet
    * parts and their checksums. parquet-mr writes each column chunk's
    * encoding set in hash order, which varies between JVMs, so a part
    * pins its rows in file order and its `.crc` pins nothing. */
  private def pinnedContent(f: File): Array[Byte] = f.getName match {
    case n if n.endsWith(".parquet.crc") => Array.emptyByteArray
    case n if n.endsWith(".parquet") =>
      spark.read.parquet(f.getPath).collect().mkString("\n").getBytes(UTF_8)
    case _ => Files.readAllBytes(f.toPath)
  }

  /** SHA-256 over the sorted (relative path, pinned content) of every
    * file under `dir`; the per-job UUID in Spark part names is masked. */
  private def digest(dir: String): String = {
    val root = new File(dir).toPath
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files(new File(dir))
      .map(f => (root.relativize(f.toPath).toString.replaceAll(Uuid, "<uuid>"), f))
      .sortBy(_._1)
      .foreach { case (rel, f) =>
        val bytes = pinnedContent(f)
        md.update(s"$rel\u0000${bytes.length}\u0000".getBytes(UTF_8))
        md.update(bytes)
      }
    md.digest().map("%02x".format(_)).mkString
  }

  private def mtimes(dir: String): Map[String, Long] =
    files(new File(dir)).map(f => f.getPath -> f.lastModified).toMap

  private lazy val staged: Unit = sites.foreach(_._3())

  override def afterAll(): Unit = {
    Seq(fixtureRoot, new File(dataDir), new File(Stage.root(dataDir))).foreach(rm)
    super.afterAll()
  }

  test("every marker-staged fixture dir holds the pinned bytes") {
    assert(sites.map(_._1).toSet == Pinned.keySet)
    staged
    val got = sites.map { case (name, dir, _) => name -> digest(dir) }
    val wrong = got.filter { case (name, d) => Pinned(name) != d }
    assert(wrong.isEmpty, wrong.map { case (n, d) => s"$n -> \"$d\"" }.mkString("\n", "\n", ""))
  }

  test("a second call writes nothing once the marker exists") {
    staged
    // Age every staged file first, so any rewrite shows as a new mtime
    // even on a coarse-grained clock.
    val old = 1000000000000L
    sites.foreach { case (_, dir, _) =>
      files(new File(dir)).foreach(f => assert(f.setLastModified(old))) }
    val before = sites.map { case (_, dir, _) => mtimes(dir) }
    sites.foreach(_._3())
    val after = sites.map { case (_, dir, _) => mtimes(dir) }
    sites.map(_._1).zip(before.zip(after)).foreach { case (name, (b, a)) =>
      assert(a == b, s"$name was rewritten")
    }
  }

  test("a dir holding only a superseded marker is restaged") {
    val data = freshData()
    val crawl = Files.createTempDirectory("graft_stagespec_crawl").toFile
    try {
      // mixed: a V1 staging's files (marker and id%3-routed leftovers)
      // are wiped before the V2 files are written.
      val mixed = new File(Stage.dir(data, "mixed"))
      mixed.mkdirs()
      Seq("_STAGED_MIXED_V1", "doc0.epub", "doc101.docx").foreach(n =>
        Files.write(new File(mixed, n).toPath, "v1".getBytes(UTF_8)))
      SourceQueries.queries("pipeline_mixed_extract")(spark, data)
      assert(digest(mixed.getPath) == Pinned("mixed"))

      // crawl: the retired V1/V2 markers are removed on restage.
      Seq("_STAGED_WARC_CRAWL_V1", "_STAGED_WARC_CRAWL_V2").foreach(n =>
        assert(new File(crawl, n).createNewFile()))
      WarcSource.stageCrawlFixture(spark, data, crawl.getPath)
      assert(digest(crawl.getPath) == Pinned("warc_crawl"))
    } finally Seq(crawl, new File(data), new File(Stage.root(data))).foreach(rm)
  }
}
