package graft.functions

import graft.SparkSpec
import graft.functions.expressions.{CmsSketch, GraftFunctions}
import org.apache.spark.sql.functions._

/** CmsSketch — the count-min aggregate/probe pair. Pins the hard
  * guarantees the q_cms_freq gate rests on, the partitioning invariance
  * the merge path must provide, and the artifact-validation contract of
  * the SQL-exposed probe.
  */
class CmsSketchSpec extends SparkSpec {

  import spark.implicits._

  private def artifact(keys: Seq[String], parts: Int): Array[Byte] = {
    GraftFunctions.ensureRegistered(spark)
    keys.toDF("k").repartition(parts)
      .agg(GraftFunctions.cmsAggCol(col("k")).as("cms"))
      .collect()(0).getAs[Array[Byte]]("cms")
  }

  // Zipf-ish synthetic stream: key i appears i times (i = 1..60).
  private val stream: Seq[String] = (1 to 60).flatMap(i => Seq.fill(i)(s"key-$i"))

  test("no underestimate, ever — for every key in the stream") {
    val art = artifact(stream, 8)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    exact.foreach { case (k, cnt) =>
      val est = CmsSketch.estimate(art, k)
      assert(est >= cnt, s"$k: est $est < exact $cnt — violates the CMS hard guarantee")
    }
  }

  test("overestimate bounded by eps*N for the default shape on this stream") {
    val art = artifact(stream, 8)
    val n = stream.size.toLong
    val bound = math.ceil(math.E / CmsSketch.DefaultWidth * n).toLong
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // (1/2)^4 failure probability per key; with 60 keys and the stream far
    // below width, collisions are rare — assert the bound holds for ALL
    // keys here (deterministic given the fixed hash family and stream).
    exact.foreach { case (k, cnt) =>
      val est = CmsSketch.estimate(art, k)
      assert(est <= cnt + bound, s"$k: est $est > exact $cnt + eps*N $bound")
    }
  }

  test("merge is partitioning-invariant: 1-partition and 8-partition builds are byte-equal") {
    assert(artifact(stream, 1).toSeq == artifact(stream, 8).toSeq)
  }

  test("an absent key estimates only collision mass (<= eps*N here)") {
    val art = artifact(stream, 4)
    val bound = math.ceil(math.E / CmsSketch.DefaultWidth * stream.size).toLong
    val est = CmsSketch.estimate(art, "never-inserted")
    assert(est >= 0L && est <= bound, s"absent-key estimate $est outside [0, $bound]")
  }

  test("the probe rejects artifacts whose header disagrees with their length") {
    val art = artifact(stream.take(10), 1)
    val truncated = art.take(art.length - 8)
    val garbage = Array.fill[Byte](64)(0x5a)
    for (bad <- Seq(truncated, garbage))
      intercept[IllegalArgumentException](CmsSketch.estimate(bad, "k"))
  }

  test("merging per-group partials is byte-identical to one whole-stream build") {
    GraftFunctions.ensureRegistered(spark)
    val whole = artifact(stream, 4)
    val merged = stream.zipWithIndex.map { case (k, i) => (k, i % 5) }
      .toDF("k", "g").repartition(6)
      .groupBy("g").agg(GraftFunctions.cmsAggCol(col("k")).as("cms"))
      .agg(GraftFunctions.cmsMergeCol(col("cms")).as("cms"))
      .collect()(0).getAs[Array[Byte]]("cms")
    assert(whole.toSeq == merged.toSeq,
      "associative counter sums must make merge-of-partials equal the single build")
  }

  test("merge rejects garbage and mismatched-shape artifacts loudly") {
    GraftFunctions.ensureRegistered(spark)
    def mergeOf(arts: Seq[Array[Byte]]): Array[Byte] =
      arts.toDF("cms").agg(GraftFunctions.cmsMergeCol(col("cms")).as("m"))
        .collect()(0).getAs[Array[Byte]]("m")
    val a = artifact(stream, 2)
    val garbage = Array.fill[Byte](64)(0x5a)
    intercept[Exception](mergeOf(Seq(a, garbage)))
    // A differently-shaped but internally valid artifact must refuse too.
    val other = stream.toDF("k").agg(
        expr("graft_cms_agg(k, 2, 101)").as("cms"))
      .collect()(0).getAs[Array[Byte]]("cms")
    CmsSketch.estimate(other, "key-1") // sanity: valid on its own
    intercept[Exception](mergeOf(Seq(a, other)))
  }

  test("merge refuses a zero-length artifact row") {
    // A truncated artifact is not an empty sketch: skipping it would
    // undercount every key it held.
    GraftFunctions.ensureRegistered(spark)
    val a = artifact(stream, 2)
    for (arts <- Seq(Seq(Array.emptyByteArray), Seq(a, Array.emptyByteArray))) {
      val e = intercept[Exception] {
        arts.toDF("cms").agg(GraftFunctions.cmsMergeCol(col("cms"))).collect()
      }
      assert(e.getMessage.contains("graft_cms_merge: 0 B is not a CMS artifact"),
        s"wrong failure: ${e.getMessage}")
    }
  }

  test("merging an empty input yields the zero sketch (every estimate 0)") {
    GraftFunctions.ensureRegistered(spark)
    val z = Seq.empty[Array[Byte]].toDF("cms")
      .agg(GraftFunctions.cmsMergeCol(col("cms")).as("m"))
      .collect()(0).getAs[Array[Byte]]("m")
    assert(CmsSketch.estimate(z, "anything") == 0L)
  }

  test("probe agrees between interpreted eval and whole-stage codegen") {
    GraftFunctions.ensureRegistered(spark)
    val art = artifact(stream, 4)
    val probes = (1 to 60 by 7).map(i => s"key-$i")
    val viaSql = probes.toDF("k")
      .withColumn("est", GraftFunctions.cmsEstimateCol(lit(art), col("k")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    probes.foreach { k =>
      assert(viaSql(k) == CmsSketch.estimate(art, k),
        s"$k: codegen path ${viaSql(k)} != static ${CmsSketch.estimate(art, k)}")
    }
  }
}
