package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Value-level sensitivity pins for the round-11 ingest ops:
  * `text_pii_scrub` (PII redaction) and `dedup_incremental` (arriving
  * batch vs existing corpus). The oracle compare (scripts/check.py /
  * driver t2) hash-checks them on the fixtures; these tests pin the
  * SEMANTICS on crafted corpora the fixtures cannot express — exact
  * scrubbed bytes, and an incremental batch where both drop-branches and
  * both keep-branches fire, including a constructed fresh-text collision
  * with the corpus.
  */
class IngestOpsSpec extends SparkSpec {

  /** Write a crafted documents.parquet under a temp dir, return the dir. */
  private def stageDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft_ingest_spec_")
      .toFile.getAbsolutePath
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("text_line_dedup removes exactly the >=3-doc aligned segments") {
    // Segments are positional (non-overlapping 4-token slices): the
    // boilerplate "a b c d" counts only where it is segment-aligned, so
    // doc 6's shifted copy neither matches nor lifts "e f g h" to 3.
    val dir = stageDocs(Seq(
      1L -> "a b c d x1 y1",
      2L -> "a b c d x2 y2 z2 w2",
      3L -> "a b c d",
      4L -> "e f g h i",
      5L -> "e f g h",
      6L -> "z e f g h"))
    val out = TextAnalysis.queries("text_line_dedup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(1L) == ((2L, 1L, 2L, 1L)))  // "a b c d" cut, "x1 y1" kept
    assert(out(2L) == ((2L, 1L, 4L, 1L)))
    assert(out(3L) == ((1L, 0L, 0L, 0L)))  // the whole doc was boilerplate
    assert(out(4L) == ((2L, 2L, 5L, 1L)))  // "e f g h" only 2 docs: kept
    assert(out(5L) == ((1L, 1L, 4L, 0L)))
    assert(out(6L) == ((2L, 2L, 5L, 1L)))  // shifted copy: different segments
  }

  test("text_pii_scrub redacts the exact injected bytes (hash pinned in-test)") {
    val dir = stageDocs(Seq((7L, "plain words here"), (42L, "more text")))
    val out = TextAnalysis.queries("text_pii_scrub")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))

    // Recompute the augmentation + scrub by hand for doc 7: both injected
    // emails, the phone, and the IP must be gone, nothing else touched.
    def expected(id: Long, text: String): String = md5Hex(
      s"$text contact <EMAIL> or <EMAIL> call <PHONE> from <IP>")
    assert(out.toSeq == Seq(
      (7L, 2, 1, 1, expected(7L, "plain words here")),
      (42L, 2, 1, 1, expected(42L, "more text"))))
  }

  test("text_pii_scrub leaves PII-free text intact modulo the injected tail") {
    val dir = stageDocs(Seq((1L, "no pii at all")))
    val row = TextAnalysis.queries("text_pii_scrub")(spark, dir).collect().head
    // Counts come from the injected PII only (the text itself has none).
    assert((row.getInt(1), row.getInt(2), row.getInt(3)) == ((2, 1, 1)))
    assert(row.getString(4) == md5Hex(
      "no pii at all contact <EMAIL> or <EMAIL> call <PHONE> from <IP>"))
  }

  test("dedup_incremental drops exact copies, keeps fresh, catches collisions") {
    // %10==0 rows spawn fresh variants, %10==3 rows spawn re-keyed exact
    // copies. Docs 0 and 10 share a text, so their fresh variants
    // collapse within-batch to one row with n_batch_copies = 2 — and doc
    // 20's text is crafted to EQUAL that variant ("alpha v2 fresh"), so
    // the collapsed row then collides with the corpus and is dropped,
    // exercising within-batch dedup AND the anti-join on the same row.
    val dir = stageDocs(Seq(
      (0L, "alpha"), (3L, "beta"), (10L, "alpha"), (13L, "delta"),
      (20L, "alpha v2 fresh"), (23L, "epsilon"), (30L, "gamma")))
    val out = DedupQueries.queries("dedup_incremental")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // Batch: fresh = {0,10 -> "alpha v2 fresh" (collides with doc 20!),
    //                 20 -> "alpha v2 fresh v2 fresh", 30 -> "gamma v2 fresh"},
    //        copies = {3 -> "beta", 13 -> "delta", 23 -> "epsilon"} (all dropped).
    assert(out == Seq((1000020L, 1L), (1000030L, 1L)))
  }

  test("text_chunks: window/stride boundary math and overlap hashes are exact") {
    // 100 tokens → starts at 0, 48, 96: chunks of 64, 52, 4 tokens. A
    // 64-token doc → ONE start (0..63 < 64? starts 0 and 48: 48 < 64 so
    // TWO chunks: 64 and 16 tokens). A 1-token doc → one 1-token chunk.
    val toks100 = (0 until 100).map(i => s"t$i")
    val dir = stageDocs(Seq(
      (1L, toks100.mkString(" ")),
      (2L, (0 until 64).map(i => s"u$i").mkString(" ")),
      (3L, "solo")))
    val out = TextAnalysis.queries("text_chunks")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val expected = Seq(
      (1L, 0L, 0L, 64L, md5Hex(toks100.slice(0, 64).mkString(" "))),
      (1L, 1L, 48L, 52L, md5Hex(toks100.slice(48, 100).mkString(" "))),
      (1L, 2L, 96L, 4L, md5Hex(toks100.slice(96, 100).mkString(" "))),
      (2L, 0L, 0L, 64L, md5Hex((0 until 64).map(i => s"u$i").mkString(" "))),
      (2L, 1L, 48L, 16L, md5Hex((48 until 64).map(i => s"u$i").mkString(" "))),
      (3L, 0L, 0L, 1L, md5Hex("solo")))
    assert(out.toSeq == expected)
    // Overlap property: consecutive chunks of doc 1 share 16 tokens —
    // tok_start deltas are the stride, n_tokens the window (tail-capped).
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.sliding(2).forall { case Array(a, b) => b._3 - a._3 == 48L })
  }

  test("cleaning funnel: each stage drops exactly its crafted victim") {
    // The parquet fixtures contain only NEAR-dups, so the gated query
    // can't show the exact-dedup stage biting; this crafted corpus makes
    // every stage drop exactly one known doc:
    //   d0 good English        → survives all four stages
    //   d1 EXACT copy of d0    → dropped at dedup (not canonical)
    //   d2 boilerplate         → dropped at repetition (dup trigrams 80%)
    //   d3 good German         → dropped at language (s_de = best, no en)
    //   d4 two tokens          → dropped at repetition (n_toks < 3)
    import spark.implicits._
    val good = "the cat sat on the mat and it is a good day to code in the sun"
    val german = "der hund und die katze ist ein freund im garten unter dem " +
      "baum bei nacht mit mond und stern am himmel ueber der stadt"
    val docs = Seq(
      (0L, good), (11L, good),
      (2L, "the cat the cat the cat the cat the cat the cat"),
      (3L, german), (4L, "zz yy"))
      .toDF("doc_id", "text").withColumn("source", lit("spec"))
    val row = TextAnalysis.cleanCorpusFunnel(docs).head()
    assert(row.getAs[Long]("n_raw") == 5)
    assert(row.getAs[Long]("n_canon") == 4)     // d1 deduped
    assert(row.getAs[Long]("n_dedup_rep") == 2) // d2 (boilerplate) + d4 (short) out
    assert(row.getAs[Long]("n_quality") == 2)   // both survivors clear 0.3
    assert(row.getAs[Long]("n_clean") == 1)     // d3 fails the en filter
    assert(row.getAs[Long]("clean_tokens") == good.split(" ").length.toLong)
  }

  test("dedup_canonical_best keeps the highest-quality cluster member, not the lowest id") {
    // d1 (lowest id) is a repetitive low-quality doc; d2 is a near-dup
    // (appended tail, shingle jac ≈ 0.9) with more distinct tokens and
    // stopwords — strictly higher quality. Min-id canonicalization keeps
    // d1; quality-argmax must keep d2. d9 is unrelated (no cluster).
    val base = (1 to 20).map(i => s"tok$i tok$i").mkString(" ") // 40 toks, 20 distinct
    val better = base + " the of and alpha beta gamma"
    val dir = stageDocs(Seq((1L, base), (2L, better), (9L, "totally different text here")))
    val res = DedupQueries.queries("dedup_canonical_best")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(res.length == 1, s"expected one cluster, got ${res.toSeq}")
    val (clusterId, keepId, keepQ, nMembers) = res.head
    assert(clusterId == 1L && nMembers == 2L)
    assert(keepId == 2L, "keeper must be the higher-quality member, not the min id")
    // Cross-check against the standalone quality scores.
    val q = TextAnalysis.queries("text_quality")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(2L) > q(1L), s"fixture broken: d2 quality ${q(2L)} !> d1 ${q(1L)}")
    assert(keepQ == q(2L))
  }

  test("dq_drift matches a hand-computed L1 numerator on a crafted mix") {
    import spark.implicits._
    // Corpus: srcA/srcB each 2 en + 2 de; srcC 4 fr. N=12, each lang 4.
    // srcA term sum = |2·12−4·4| + |2·12−4·4| + |0−4·4| = 8+8+16 = 32
    //   → ppm = 32e6 / (4·12) = 666666
    // srcC = |0−16| + |0−16| + |4·12−16| = 16+16+32 = 64 → ppm 1333333
    val dir = tempDir("graft_drift_spec_")
      .toFile.getAbsolutePath
    val rows = Seq(
      (1L, "en", "srcA"), (2L, "en", "srcA"), (3L, "de", "srcA"), (4L, "de", "srcA"),
      (5L, "en", "srcB"), (6L, "en", "srcB"), (7L, "de", "srcB"), (8L, "de", "srcB"),
      (9L, "fr", "srcC"), (10L, "fr", "srcC"), (11L, "fr", "srcC"), (12L, "fr", "srcC"))
    rows.toDF("doc_id", "lang", "source")
      .withColumn("text", lit("x")).withColumn("n_chars", lit(1L))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineQueries.queries("dq_drift")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got("srcA") == ((32L, 666666L)), s"srcA: ${got("srcA")}")
    assert(got("srcB") == ((32L, 666666L)))
    assert(got("srcC") == ((64L, 1333333L)), "the single-language source must drift most")
  }

  test("parquet_zstd_roundtrip really writes ZSTD column chunks") {
    val d = sf("sf0.001")
    SourceQueries.queries("parquet_zstd_roundtrip")(spark, d).collect()
    val stage = graft.Stage.dir(d, "parquet_zstd")
    val f = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath),
      spark.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val codecs = reader.getFooter.getBlocks.get(0).getColumns
        .toArray.map(_.asInstanceOf[
          org.apache.parquet.hadoop.metadata.ColumnChunkMetaData].getCodec.name()).toSet
      assert(codecs == Set("ZSTD"), s"expected all-ZSTD chunks, got $codecs")
    } finally reader.close()
  }

  test("parquet_hive_roundtrip: the lang filter prunes directories at the scan") {
    val d = sf("sf0.001")
    // Stage the layout once via the query itself, then re-read with AQE
    // off so the FileSourceScanExec is reachable for the pruning check.
    SourceQueries.queries("parquet_hive_roundtrip")(spark, d).collect()
    val stage = graft.Stage.dir(d, "parquet_hive")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val q = sess.read.parquet(stage).filter(col("lang") =!= "en")
      .groupBy("lang").count()
    q.collect()
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val allDirs = new java.io.File(stage).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang=")).map(_.getName).toSet
    assert(allDirs.contains("lang=en"), "fixture must contain an en partition")
    val expectFiles = sess.read.parquet(stage).inputFiles
      .count(p => !p.contains("lang=en"))
    assert(scan.metrics("numFiles").value == expectFiles,
      s"scan read ${scan.metrics("numFiles").value} files; " +
        s"directory pruning should leave $expectFiles (all non-en)")
  }
}
