package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Bucketed-layout co-location: writing both join sides bucketed on the
  * join key means the join and the bucket-key aggregation run with ZERO
  * shuffle exchanges — the write-once-shuffle-never layout a 100 TB fact
  * table wants. Asserted on the physical plan (AQE off so exchange nodes
  * are reachable), with results cross-checked against the plain-parquet
  * plan.
  */
class BucketingSpec extends SparkSpec {

  private lazy val dir = sf("sf0.001")

  test("join and agg on bucketed tables run with zero shuffle exchanges") {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val orders = sess.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = sess.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_name")
    FileSources.writeBucketed(orders, "b_orders", 8, Seq("o_custkey"))
    FileSources.writeBucketed(cust, "b_cust", 8, Seq("c_custkey"))
    try {
      val bo = sess.table("b_orders")
      val bc = sess.table("b_cust")
      // Join on the bucket key, then aggregate BY the bucket key: the
      // join's output partitioning already satisfies the agg's
      // requirement, so the whole pipeline runs shuffle-free.
      // Integer aggregate only: a Double sum would be reduction-order-
      // dependent between the two plans' scan/fetch orders (the repo's
      // own cross-engine determinism rule, applied cross-plan here).
      val aggs = Seq(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice")).cast("long")).as("total_floor"))
      val joined = bo.join(bc, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey").agg(aggs.head, aggs.tail: _*)
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join/agg still shuffles:\n${joined.queryExecution.executedPlan}")
      // Same answer as the unbucketed plan (bucketing is layout, not semantics).
      val plain = orders.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey").agg(aggs.head, aggs.tail: _*)
      val got = joined.orderBy("c_custkey").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = plain.orderBy("c_custkey").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.sameElements(want), "bucketed join result differs from plain join")
    } finally {
      sess.sql("DROP TABLE IF EXISTS b_orders")
      sess.sql("DROP TABLE IF EXISTS b_cust")
    }
  }

  test("ensureBucketed fingerprint governs reuse vs rebuild") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((3L, "z")).toDF("k", "v") // same schema, different content
    try {
      FileSources.ensureBucketed(a, "b_fp", 4, Seq("k"), Some("fpA"))
      // Same fingerprint → reuse: the table still serves the FIRST build
      // even though a different frame was offered (amortization contract).
      FileSources.ensureBucketed(b, "b_fp", 4, Seq("k"), Some("fpA"))
      assert(spark.table("b_fp").count() == 2, "matching fingerprint must reuse")
      // Changed fingerprint (source dir regenerated) → rebuild with the
      // new frame, and the stored property updates.
      FileSources.ensureBucketed(b, "b_fp", 4, Seq("k"), Some("fpB"))
      assert(spark.table("b_fp").count() == 1, "changed fingerprint must rebuild")
      FileSources.ensureBucketed(a, "b_fp", 4, Seq("k"), Some("fpB"))
      assert(spark.table("b_fp").count() == 1, "new fingerprint must be recorded")
    } finally spark.sql("DROP TABLE IF EXISTS b_fp")
  }

  test("dirFingerprint tracks listing changes and ignores walk-order noise") {
    val dir = tempDir("graft_fp").toFile
    val f1 = new java.io.File(dir, "a.parquet")
    java.nio.file.Files.writeString(f1.toPath, "one")
    val fp1 = FileSources.dirFingerprint(dir.getPath)
    assert(fp1 == FileSources.dirFingerprint(dir.getPath), "deterministic")
    val f2 = new java.io.File(dir, "b.parquet")
    java.nio.file.Files.writeString(f2.toPath, "two")
    val fp2 = FileSources.dirFingerprint(dir.getPath)
    assert(fp1 != fp2, "a new file must change the fingerprint")
    // Regenerate a.parquet with different length → changes again.
    java.nio.file.Files.writeString(f1.toPath, "regenerated")
    assert(FileSources.dirFingerprint(dir.getPath) != fp2)
  }

  test("tableFingerprint sees only its tables' files, not staging siblings") {
    val dir = tempDir("graft_tfp").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, "documents.parquet").toPath, "docs-v1")
    val fp1 = FileSources.tableFingerprint(dir.getPath, Seq("documents"))
    assert(fp1 == FileSources.tableFingerprint(dir.getPath, Seq("documents")))
    // Unrelated staging under the same source dir (the in-session
    // fixture case) must NOT invalidate a maintained index.
    val staged = new java.io.File(dir, "staged_fixture")
    staged.mkdir()
    java.nio.file.Files.writeString(
      new java.io.File(staged, "shard00.tar").toPath, "bytes")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "orders.parquet").toPath, "other-table")
    assert(FileSources.tableFingerprint(dir.getPath, Seq("documents")) == fp1,
      "sibling staging must not change a scoped fingerprint")
    // Regenerating the covered table MUST change it.
    java.nio.file.Files.writeString(
      new java.io.File(dir, "documents.parquet").toPath, "docs-v2-longer")
    val fp2 = FileSources.tableFingerprint(dir.getPath, Seq("documents"))
    assert(fp2 != fp1)
    // An absent covered table is a distinct state, not an empty hash.
    val fpAbsent = FileSources.tableFingerprint(dir.getPath, Seq("embeddings"))
    assert(fpAbsent != FileSources.tableFingerprint(dir.getPath, Seq("documents")))
  }
}
