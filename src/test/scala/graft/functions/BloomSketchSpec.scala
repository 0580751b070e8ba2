package graft.functions

import graft.SparkSpec
import graft.functions.expressions.{BloomSketch, GraftFunctions}
import java.nio.ByteBuffer
import org.apache.spark.sql.functions._

class BloomSketchSpec extends SparkSpec {

  test("bloom has zero false negatives under any partitioning") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val keys = (1 to 2000).map(i => s"key-$i")
    for (parts <- Seq(1, 13)) {
      val bloom = keys.toDF("k").repartition(parts)
        .agg(GraftFunctions.bloomAggCol(col("k")).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      val missed = keys.count(k => !BloomSketch.contains(bloom, k))
      assert(missed == 0, s"$missed false negatives at $parts partitions")
    }
  }

  test("bloom artifact is partitioning-invariant (OR-merge is exact)") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val keys = (1 to 500).map(i => s"key-$i")
    val artifacts = Seq(1, 7).map { parts =>
      keys.toDF("k").repartition(parts)
        .agg(GraftFunctions.bloomAggCol(col("k")).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
    }
    assert(java.util.Arrays.equals(artifacts(0), artifacts(1)),
      "bit pattern differs between 1 and 7 partitions")
  }

  test("false-positive rate tracks theory at design load (KM double hashing)") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val members = (1 to 3000).map(i => s"member-$i")
    val bloom = members.toDF("k")
      .agg(GraftFunctions.bloomAggCol(col("k")).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val probes = (1 to 20000).map(i => s"absent-$i")
    val fp = probes.count(k => BloomSketch.contains(bloom, k))
    // Theory: (1-e^(-kn/m))^k ≈ 1.9e-4 → ~4 expected over 20k probes.
    // Bound at 10× theory — loose enough for variance, tight enough to
    // catch the correlated-index regression this replaced (which ran ~38×
    // over theory; see BloomSketch.kmHashes).
    assert(fp <= 40, s"$fp false positives out of ${probes.size} (theory ~4)")
  }

  test("probe expression matches the static helper and handles sizing args") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val df = (1 to 100).map(i => s"v$i").toDF("k")
    df.createOrReplaceTempView("bloom_src")
    // SQL surface with explicit sizing: 128 bits, 2 hashes.
    val bloom = spark.sql(
      "SELECT graft_bloom_agg(k, 128, 2) AS bf FROM bloom_src")
      .collect()(0).getAs[Array[Byte]](0)
    assert(bloom.length == 4 + 128 / 8)
    val viaExpr = spark.sql(
      """SELECT k, graft_bloom_contains((SELECT graft_bloom_agg(k, 128, 2) FROM bloom_src), k) AS hit
         FROM bloom_src""").collect()
    assert(viaExpr.forall(_.getBoolean(1)), "member missed via SQL probe")
    assert((1 to 100).forall(i => BloomSketch.contains(bloom, s"v$i")))
  }

  test("incremental addToArtifact builds the identical bit pattern as the aggregate") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val keys = (1 to 300).map(i => s"inc-$i")
    val viaAgg = keys.toDF("k")
      .agg(GraftFunctions.bloomAggCol(col("k")).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val viaAdd = BloomSketch.emptyArtifact()
    keys.foreach(BloomSketch.addToArtifact(viaAdd, _))
    assert(java.util.Arrays.equals(viaAgg, viaAdd),
      "incremental byte-level adds diverge from the aggregate's long-level sets")
  }

  test("null keys are skipped in the build; null probe inputs yield null") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val bloomWithNulls = Seq(Some("a"), None, Some("b"), None).toDF("k")
      .agg(GraftFunctions.bloomAggCol(col("k")).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val bloomClean = Seq("a", "b").toDF("k")
      .agg(GraftFunctions.bloomAggCol(col("k")).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(bloomWithNulls, bloomClean),
      "null build keys must not set bits")
    val probed = Seq(Some("a"), None).toDF("k")
      .select(GraftFunctions.bloomContainsCol(lit(bloomClean), col("k")).as("hit"))
      .collect()
    assert(probed(0).getBoolean(0))
    assert(probed(1).isNullAt(0), "null probe key must yield null, not false")
  }

  test("misuse is rejected: bad arity and non-literal sizing") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    Seq("a").toDF("k").createOrReplaceTempView("bloom_err_src")
    val wrongArity = intercept[Exception] {
      spark.sql("SELECT graft_bloom_agg(k, 128) FROM bloom_err_src").collect()
    }
    assert(wrongArity.getMessage.contains("1 or 3"))
    val nonLiteral = intercept[Exception] {
      spark.sql("SELECT graft_bloom_agg(k, CAST(length(k) AS INT), 2) FROM bloom_err_src").collect()
    }
    assert(nonLiteral.getMessage.contains("literal"))
  }

  test("graft_bloom_merge unions artifacts; bloomProbe on a grouped build never duplicates rows") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    // Grouped build: one artifact PER GROUP (the multi-row bloom frame the
    // round-4 ADVICE flagged — the old crossJoin duplicated every
    // surviving probe row once per artifact row).
    val build = Seq(("g1", "a"), ("g1", "b"), ("g2", "c")).toDF("g", "k")
    val grouped = build.groupBy("g").agg(GraftFunctions.bloomAggCol(col("k")).as("bloom"))
    assert(grouped.count() == 2L)
    val probe = Seq("a", "b", "c", "zz-absent-1", "zz-absent-2").toDF("k")
    val kept = graft.Graft.bloomProbe(spark, probe, "k", grouped)
      .collect().map(_.getString(0)).toSeq
    // No duplication: each surviving key exactly once…
    assert(kept.length == kept.distinct.length, s"duplicated probe rows: $kept")
    // …and the union keeps no-false-negatives across BOTH groups' keys.
    assert(Set("a", "b", "c").subsetOf(kept.toSet), s"union lost a member: $kept")
    // Merged artifact equals the single-shot build over all keys (OR is
    // exact, so grouping then merging is partitioning-invariant too).
    val merged = grouped.agg(GraftFunctions.bloomMergeCol(col("bloom")))
      .collect()(0).getAs[Array[Byte]](0)
    val oneShot = build.agg(GraftFunctions.bloomAggCol(col("k")))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, oneShot))
    // Zero-row merge: the empty artifact — probes reject every key.
    val empty = grouped.filter(col("g") === "nope")
      .agg(GraftFunctions.bloomMergeCol(col("bloom")))
      .collect()(0).getAs[Array[Byte]](0)
    assert(!BloomSketch.contains(empty, "a"))
    // Mixed-parameter artifacts cannot merge meaningfully → fail fast.
    build.createOrReplaceTempView("bloom_merge_src")
    val mixed = intercept[Exception] {
      spark.sql(
        """SELECT graft_bloom_merge(bf) FROM (
             SELECT graft_bloom_agg(k) AS bf FROM bloom_merge_src
             UNION ALL
             SELECT graft_bloom_agg(k, 128, 2) AS bf FROM bloom_merge_src)""").collect()
    }
    assert(mixed.getMessage.contains("mismatched artifact shapes"),
      s"wrong failure: ${mixed.getMessage}")
  }

  test("graft_bloom_merge rejects non-bloom binaries by header validation") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    // Arbitrary binary whose length is not [int32][8-byte words]: 7 bytes.
    Seq(Array[Byte](1, 2, 3, 4, 5, 6, 7)).toDF("bf")
      .createOrReplaceTempView("bloom_garbage_len")
    val badLen = intercept[Exception] {
      spark.sql("SELECT graft_bloom_merge(bf) FROM bloom_garbage_len").collect()
    }
    assert(badLen.getMessage.contains("not a bloom artifact"),
      s"wrong failure: ${badLen.getMessage}")
    // Shape-plausible binary (4 + 8 bytes) whose header says numHashes=0 —
    // previously two such blobs merged silently; now the header check
    // fails fast even on the FIRST artifact.
    val zeroHashes = new Array[Byte](12) // int32 header = 0
    Seq(zeroHashes).toDF("bf").createOrReplaceTempView("bloom_garbage_hdr")
    val badHdr = intercept[Exception] {
      spark.sql("SELECT graft_bloom_merge(bf) FROM bloom_garbage_hdr").collect()
    }
    assert(badHdr.getMessage.contains("outside [1,16]"),
      s"wrong failure: ${badHdr.getMessage}")
    // The probe has the same hazard in the WORSE direction: numHashes<=0
    // garbage would make contains() vacuously TRUE for every key (probe
    // keeps every row, silently). It must throw instead.
    val probeGarbage = intercept[Exception] {
      BloomSketch.contains(new Array[Byte](12), "k")
    }
    assert(probeGarbage.getMessage.contains("outside [1,16]"),
      s"wrong failure: ${probeGarbage.getMessage}")
    val probeShort = intercept[Exception] {
      BloomSketch.contains(Array[Byte](0, 0, 0, 1), "k")
    }
    assert(probeShort.getMessage.contains("not a bloom artifact"),
      s"wrong failure: ${probeShort.getMessage}")
    // merge and contains enforce the SAME minimum shape: a 4-byte
    // header-only blob (valid numHashes, zero bitset words) used to merge
    // fine and then fail at every probe — the failure must fire at merge.
    val headerOnly = ByteBuffer.allocate(4).putInt(4).array()
    Seq(headerOnly).toDF("bf").createOrReplaceTempView("bloom_header_only")
    val badHeaderOnly = intercept[Exception] {
      spark.sql("SELECT graft_bloom_merge(bf) FROM bloom_header_only").collect()
    }
    assert(badHeaderOnly.getMessage.contains("not a bloom artifact"),
      s"wrong failure: ${badHeaderOnly.getMessage}")
    // addToArtifact shares the artifact-format contract: malformed state in
    // the streaming path must fail fast, not scribble or no-op.
    val addShort = intercept[Exception] {
      BloomSketch.addToArtifact(headerOnly.clone(), "k")
    }
    assert(addShort.getMessage.contains("not a bloom artifact"),
      s"wrong failure: ${addShort.getMessage}")
    val addBadHdr = intercept[Exception] {
      BloomSketch.addToArtifact(new Array[Byte](12), "k") // numHashes=0
    }
    assert(addBadHdr.getMessage.contains("outside [1,16]"),
      s"wrong failure: ${addBadHdr.getMessage}")
  }

  test("graft_bloom_merge refuses a zero-length artifact row") {
    // A truncated artifact is not an empty filter: skipping it would turn
    // every key it held into a false negative at the probe.
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val valid = BloomSketch.emptyArtifact()
    for (arts <- Seq(Seq(Array.emptyByteArray), Seq(valid, Array.emptyByteArray))) {
      val e = intercept[Exception] {
        arts.toDF("bf").agg(GraftFunctions.bloomMergeCol(col("bf"))).collect()
      }
      assert(e.getMessage.contains("graft_bloom_merge: 0 B is not a bloom artifact"),
        s"wrong failure: ${e.getMessage}")
    }
  }
}
