package graft.functions

import graft.SparkSpec
import graft.functions.expressions.GraftFunctions

/** Pins the SQL-facing failure texts of graft's 13 native functions:
  * every builder refuses a wrong argument count, and the three sizing
  * forms refuse a non-literal sizing argument (the sizing fixes the
  * aggregation buffer's shape, so it cannot vary per row). Each message
  * is asserted word for word, as a caller sees it from `spark.sql`. */
class GraftFunctionsSpec extends SparkSpec {

  private def failure(sql: String): Seq[String] = {
    GraftFunctions.ensureRegistered(spark)
    val e = intercept[Throwable](spark.sql(sql).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
  }

  private val cases: Seq[(String, String)] = Seq(
    "SELECT graft_dot(array(1.0D))" ->
      "graft_dot expects exactly 2 arguments, got 1",
    "SELECT graft_dot(array(1.0D), array(1.0D), array(1.0D))" ->
      "graft_dot expects exactly 2 arguments, got 3",
    "SELECT graft_minhash()" ->
      "graft_minhash expects exactly 1 argument, got 0",
    "SELECT graft_minhash('a', 'b')" ->
      "graft_minhash expects exactly 1 argument, got 2",
    "SELECT graft_bloom_agg()" ->
      "graft_bloom_agg expects 1 or 3 arguments, got 0",
    "SELECT graft_bloom_agg('a', 64)" ->
      "graft_bloom_agg expects 1 or 3 arguments, got 2",
    "SELECT graft_bloom_contains(X'00')" ->
      "graft_bloom_contains expects exactly 2 arguments, got 1",
    "SELECT graft_bloom_contains(X'00', 'a', 'b')" ->
      "graft_bloom_contains expects exactly 2 arguments, got 3",
    "SELECT graft_bloom_merge()" ->
      "graft_bloom_merge expects exactly 1 argument, got 0",
    "SELECT graft_bloom_merge(X'00', X'00')" ->
      "graft_bloom_merge expects exactly 1 argument, got 2",
    "SELECT graft_robust_stats()" ->
      "graft_robust_stats expects exactly 1 argument, got 0",
    "SELECT graft_robust_stats(1.0D, 2.0D)" ->
      "graft_robust_stats expects exactly 1 argument, got 2",
    "SELECT graft_cms_agg()" ->
      "graft_cms_agg expects 1 or 3 arguments, got 0",
    "SELECT graft_cms_agg('a', 4)" ->
      "graft_cms_agg expects 1 or 3 arguments, got 2",
    "SELECT graft_cms_estimate(X'00')" ->
      "graft_cms_estimate expects exactly 2 arguments, got 1",
    "SELECT graft_cms_estimate(X'00', 'a', 'b')" ->
      "graft_cms_estimate expects exactly 2 arguments, got 3",
    "SELECT graft_cms_merge()" ->
      "graft_cms_merge expects exactly 1 argument, got 0",
    "SELECT graft_cms_merge(X'00', X'00')" ->
      "graft_cms_merge expects exactly 1 argument, got 2",
    "SELECT graft_kmv_agg()" ->
      "graft_kmv_agg expects 1 or 2 arguments, got 0",
    "SELECT graft_kmv_agg('a', 256, 1)" ->
      "graft_kmv_agg expects 1 or 2 arguments, got 3",
    "SELECT graft_kmv_estimate()" ->
      "graft_kmv_estimate expects exactly 1 argument, got 0",
    "SELECT graft_kmv_estimate(X'00', X'00')" ->
      "graft_kmv_estimate expects exactly 1 argument, got 2",
    "SELECT graft_kmv_merge()" ->
      "graft_kmv_merge expects exactly 1 argument, got 0",
    "SELECT graft_kmv_merge(X'00', X'00')" ->
      "graft_kmv_merge expects exactly 1 argument, got 2",
    "SELECT graft_kmv_intersect(X'00')" ->
      "graft_kmv_intersect expects exactly 2 arguments, got 1",
    "SELECT graft_kmv_intersect(X'00', X'00', X'00')" ->
      "graft_kmv_intersect expects exactly 2 arguments, got 3",
    "SELECT graft_bloom_agg('a', 1 + 63, 2)" ->
      "graft_bloom_agg: numBits must be an integer literal, got (1 + 63)",
    "SELECT graft_bloom_agg('a', 64, 1 + 1)" ->
      "graft_bloom_agg: numHashes must be an integer literal, got (1 + 1)",
    "SELECT graft_cms_agg('a', 1 + 3, 509)" ->
      "graft_cms_agg: depth must be an integer literal, got (1 + 3)",
    "SELECT graft_cms_agg('a', 4, 509L)" ->
      "graft_cms_agg: width must be an integer literal, got 509",
    "SELECT graft_kmv_agg('a', 1 + 255)" ->
      "graft_kmv_agg: k must be an integer literal, got (1 + 255)"
  )

  for ((sql, message) <- cases)
    test(s"$sql fails with: $message") {
      val got = failure(sql)
      assert(got.contains(message), s"messages in the cause chain: ${got.mkString(" | ")}")
    }

  test("the table above pins all 13 native functions") {
    assert(cases.map(_._1.stripPrefix("SELECT ").takeWhile(_ != '(')).distinct.size == 13)
  }
}
