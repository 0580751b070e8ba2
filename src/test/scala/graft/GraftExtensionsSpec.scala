package graft

import org.apache.spark.sql.SparkSession

import graft.functions.expressions.GraftFunctions

/** The zero-imperative-registration path: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` (here via
  * builder.withExtensions against the shared context) must expose every
  * graft native function to pure SQL — the deployment mode where users
  * never call GraftFunctions.ensureRegistered.
  */
class GraftExtensionsSpec extends SparkSpec {

  private def withExtensionsSession(body: SparkSession => Unit): Unit = {
    spark.version // force the suite's SparkContext up before session juggling
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try body(SparkSession.builder()
      .master("local[4]") // ignored: the suite's context is reused
      .withExtensions(new GraftExtensions())
      .getOrCreate()) // reuses the running SparkContext, fresh sessionState
    finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("an extensions-built session serves graft functions from pure SQL") {
    withExtensionsSession { s2 =>
      val dot = s2.sql(
        "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head().getDouble(0)
      assert(dot == 11.0)
      val sig = s2.sql(
        "SELECT graft_minhash(w) AS sig FROM VALUES ('a'), ('b') AS t(w)")
        .head().getSeq[Long](0)
      assert(sig.length == 32)
      val hit = s2.sql(
        """SELECT graft_bloom_contains(
             (SELECT graft_bloom_agg(CAST(id AS STRING)) FROM range(100)),
             '42') AS hit""").head().getBoolean(0)
      assert(hit)
      val mergedHit = s2.sql(
        """SELECT graft_bloom_contains(
             (SELECT graft_bloom_merge(bf) FROM (
                SELECT graft_bloom_agg(CAST(id AS STRING)) AS bf
                FROM range(100) GROUP BY id % 4)),
             '42') AS hit""").head().getBoolean(0)
      assert(mergedHit)
    }
  }

  test("an extensions-built session resolves every name in the function table") {
    withExtensionsSession { s2 =>
      val missing = GraftFunctions.all.map(_._1)
        .filterNot(s2.sessionState.functionRegistry.functionExists)
      assert(missing.isEmpty, s"unresolved on the extensions path: ${missing.mkString(", ")}")
    }
  }

  test("an extensions-built session runs CMS and KMV round trips from pure SQL") {
    withExtensionsSession { s2 =>
      // Ten keys, ten occurrences each, built per group and merged.
      val est = s2.sql(
        """SELECT graft_cms_estimate(
             (SELECT graft_cms_merge(c) FROM (
                SELECT graft_cms_agg(CAST(id % 10 AS STRING)) AS c
                FROM range(100) GROUP BY id % 4)),
             '3') AS est""").head().getLong(0)
      assert(est == 10L)
      // Below k = 256 a KMV sketch is exact, through the merge too.
      val distinct = s2.sql(
        """SELECT graft_kmv_estimate(
             (SELECT graft_kmv_merge(s) FROM (
                SELECT graft_kmv_agg(CAST(id AS STRING)) AS s
                FROM range(100) GROUP BY id % 4))) AS est""").head().getLong(0)
      assert(distinct == 100L)
      val overlap = s2.sql(
        """SELECT graft_kmv_intersect(
             (SELECT graft_kmv_agg(CAST(id AS STRING)) FROM range(100)),
             (SELECT graft_kmv_agg(CAST(id AS STRING)) FROM range(50, 150))) AS est"""
      ).head().getLong(0)
      assert(overlap == 50L)
    }
  }
}
