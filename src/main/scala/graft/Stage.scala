package graft

/** Per-data-dir staging directories for the file round-trip queries
  * (csv_roundtrip / jsonl_roundtrip / dir_wordcount).
  *
  * Those queries deliberately write real files and read them back through
  * two independent engines (Spark sink+source, then the DuckDB oracle over
  * the very same bytes), so the oracle SQL must NAME the staged path. A
  * fixed literal ("/tmp/graft_csv_stage") made two concurrent sessions
  * running DIFFERENT data dirs clobber each other's staged files between
  * the Spark run and the oracle read (round-4 ADVICE). The path is now a
  * pure function of the data directory: sessions over different dirs can
  * never collide, and the Spark side and the oracle SQL derive the SAME
  * path from the SAME dir string (QueryPack.oracleSqlFor → Verify dumps
  * the rendered SQL). Two sessions over the SAME data dir still share a
  * stage — their staged bytes are identical (deterministic projection of
  * an immutable fixture), so the only hazard is the transient window of
  * `mode("overwrite")` itself; the driver's verify flow is single-runner
  * per dataset, which is the documented contract for that residual case.
  */
object Stage {
  /** The driver's correctness-gate data dir (TESTDATA.md: Verify runs at
    * sf=0.01). `SparkEntry.oracleSql` — the static contract map — is every
    * pack's `oracleSqlFor` rendered at this dir, so even a consumer that
    * bypasses Verify's dump gets SQL that is correct at the gate scale
    * factor, and the oracle pins (`OracleSqlPinSpec`) hash fixed paths. */
  val GateDir = "/root/testdata/sf0.01"

  /** Staging root for `dataDir`: a sanitized, human-readable tail plus an
    * md5 prefix of the absolute path (two dirs differing only in
    * characters the sanitizer folds still get distinct roots). */
  def root(dataDir: String): String = {
    val abs = new java.io.File(dataDir).getAbsolutePath.stripSuffix("/")
    val tail = abs.stripPrefix("/").replaceAll("[^A-Za-z0-9._-]", "_")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    val tmp = System.getProperty("java.io.tmpdir", "/tmp").stripSuffix("/")
    s"$tmp/graft_stage_${key}_$tail"
  }

  /** Stage dir for one query kind under `root(dataDir)`. */
  def dir(dataDir: String, kind: String): String = s"${root(dataDir)}/$kind"

  /** Stage a marker-guarded fixture: runs `write` into `dir` (created
    * first) unless `dir/marker` exists, then creates the marker. Every
    * file fixture the queries read back (the format modules'
    * `stage*Fixture`s, the WebDataset media shards, the CJK corpus, the
    * mixed document dir) stages through here, under one contract:
    *  - the marker is named `_STAGED_<FIXTURE>_V<n>`; a change to a
    *    fixture's bytes takes the next version, so a dir staged by an
    *    older build is restaged rather than reused;
    *  - the marker is written last, so a dir that has it holds the whole
    *    fixture, and a call that finds it writes nothing;
    *  - the bytes are a pure function of the fixture (and of the data dir
    *    for corpus-derived ones), so a rewrite after an interrupted stage
    *    is byte-identical;
    *  - one runner per dir: concurrent first calls on the same dir write
    *    the same bytes but are not atomic against each other, the same
    *    single-runner contract as the overwrite stages under [[root]]. */
  def once(dir: String, marker: String)(write: => Unit): Unit = {
    val d = new java.io.File(dir)
    val m = new java.io.File(d, marker)
    if (!m.exists()) {
      d.mkdirs()
      write
      m.createNewFile(): Unit
    }
  }

  /** [[once]] for a fixture of numbered files: file `i` of `paths` gets
    * `bytes(i)`. Returns `paths`. */
  def files(dir: String, marker: String, paths: Seq[String])(
      bytes: Int => Array[Byte]): Seq[String] = {
    once(dir, marker) {
      paths.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes(i))
      }
    }
    paths
  }

  /** The documents a per-document fixture stages, sorted: doc_id ≡ 0
    * (mod 101), a file count bounded at every scale factor. */
  def keptDocIds(spark: org.apache.spark.sql.SparkSession, dataDir: String): Array[Long] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    Tables.documents(spark, dataDir)
      .select(col("doc_id")).filter(col("doc_id") % 101 === 0)
      .as[Long].collect().sorted
  }

  /** [[once]] for a per-document fixture: one file `<prefix><id><ext>`
    * holding `bytes(id)` per [[keptDocIds]] doc. Returns `dir`. */
  def keptDocs(spark: org.apache.spark.sql.SparkSession, dataDir: String,
               dir: String, marker: String, prefix: String, ext: String)(
      bytes: Long => Array[Byte]): String = {
    once(dir, marker) {
      keptDocIds(spark, dataDir).foreach { id =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/$prefix$id$ext"), bytes(id))
      }
    }
    dir
  }
}
