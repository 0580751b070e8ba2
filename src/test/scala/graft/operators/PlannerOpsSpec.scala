package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Value-level pins for the planning/mixing ops added in round 12's fourth
  * session: `sample_temperature` (α=0.5 language mixing), `q_compaction_plan`
  * (small-file bin packing) and `graph_pagerank` (fixed-point PageRank over
  * the near-dup graph). The oracle compare hash-checks them on the fixtures;
  * these tests pin the SEMANTICS on crafted corpora against INDEPENDENT
  * models coded here (java md5 + BigInt isqrt, a by-hand bin-fill walk, and
  * a Long power-iteration fold over the asserted pair graph).
  */
class PlannerOpsSpec extends SparkSpec {

  private def stageDocs(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft_planner_spec_")
      .toFile.getAbsolutePath
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Independent md5-hash model (same contract as PortableHash, coded
    * against java.security directly): first 15 hex digits as a Long. */
  private def h60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Exact integer sqrt via BigInt binary search — no doubles anywhere. */
  private def isqrt(x: Long): Long = {
    var lo = 0L; var hi = math.min(x, 3037000499L)
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (mid * mid <= x) lo = mid else hi = mid - 1
    }
    lo
  }

  test("sample_temperature matches an independent isqrt+md5 model and boosts low-resource langs") {
    // 90 / 9 / 1 docs across three langs: plain shares 900000/90000/10000
    // ppm; √-weights flatten that hard.
    val rows =
      (1L to 90L).map(i => (i, s"doc $i body", "aa", "s0")) ++
      (91L to 99L).map(i => (i, s"doc $i body", "bb", "s0")) ++
      Seq((100L, "doc 100 body", "cc", "s0"))
    val dir = stageDocs(rows)
    val out = PipelineQueries.queries("sample_temperature")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))

    // Model: w_l = isqrt(n_l * 1e6); ppm divisions floor; keep via md5.
    val nBy = Map("aa" -> 90L, "bb" -> 9L, "cc" -> 1L)
    val w = nBy.map { case (l, n) => l -> isqrt(n * 1000000L) }
    val sumW = w.values.sum
    val n = nBy.values.sum
    val expected = nBy.keys.toSeq.sorted.map { l =>
      val mix = w(l) * 1000000L / sumW
      val rate = math.min(1000000L, (n / 2) * mix / nBy(l))
      val keptIds = rows.filter(_._3 == l).map(_._1)
        .filter(id => h60(id.toString) % 1000000L < rate)
      (l, nBy(l), w(l), mix, rate,
        keptIds.size.toLong, keptIds.map(id => h60(id.toString) % 1000000007L).sum)
    }
    assert(out.toSeq == expected)

    // The α=0.5 boost: cc's mix share (ppm) must exceed its plain 1% share
    // by a lot, and aa's must fall below its plain 90%.
    val mixOf = out.map(r => r._1 -> r._4).toMap
    assert(mixOf("cc") > 50000L, s"low-resource lang not boosted: ${mixOf("cc")}")
    assert(mixOf("aa") < 800000L, s"high-resource lang not attenuated: ${mixOf("aa")}")
    // Integer mix shares can undershoot 1e6 only by flooring (< 1 ppm per lang).
    assert(mixOf.values.sum > 1000000L - 3 && mixOf.values.sum <= 1000000L)
  }

  test("sample_temperature isqrt weights are exact floors (w² ≤ n·10⁶ < (w+1)²)") {
    // Sweep counts that straddle perfect squares of the scaled value —
    // the CASE correction must repair floor(sqrt(double)) in both
    // directions if the double ever rounds across the boundary.
    val counts = Seq(1L, 2L, 3L, 4L, 9L, 15L, 16L, 17L, 90L, 99L, 100L)
    val langs = counts.zipWithIndex.map { case (c, i) => (f"l$i%02d", c) }
    var id = 0L
    val rows = langs.flatMap { case (l, c) =>
      (1L to c).map { _ => id += 1; (id, s"body $id", l, "s0") }
    }
    val out = PipelineQueries.queries("sample_temperature")(spark, stageDocs(rows))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length == langs.length)
    out.foreach { case (lang, nDocs, w) =>
      val x = nDocs * 1000000L
      assert(w * w <= x && (w + 1) * (w + 1) > x,
        s"$lang: w=$w is not the exact isqrt of $x")
      assert(w == isqrt(x))
    }
  }

  test("Graft.temperatureSample keeps exactly the md5-model rows; guards fire") {
    val rows =
      (1L to 90L).map(i => (i, s"doc $i body", "aa", "s0")) ++
      (91L to 99L).map(i => (i, s"doc $i body", "bb", "s0")) ++
      Seq((100L, "doc 100 body", "cc", "s0"))
    val dir = stageDocs(rows)
    val docs = graft.Tables.documents(spark, dir)
    val kept = graft.Graft.temperatureSample(docs, "doc_id", "lang")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // Independent model: same weights/rates as the sample_temperature
    // test above, keep via java md5.
    val nBy = Map("aa" -> 90L, "bb" -> 9L, "cc" -> 1L)
    val w = nBy.map { case (l, n) => l -> isqrt(n * 1000000L) }
    val sumW = w.values.sum; val n = nBy.values.sum
    val expect = rows.filter { case (id, _, l, _) =>
      val mix = w(l) * 1000000L / sumW
      val rate = math.min(1000000L, (n * 50 / 100) * mix / nBy(l))
      h60(id.toString) % 1000000L < rate
    }.map(_._1).toSet
    assert(kept == expect)
    intercept[IllegalArgumentException] {
      graft.Graft.temperatureSample(docs, "doc_id", "lang", budgetPct = 0)
    }
    // Null strata are real strata: their rows get a rate and are sampled
    // (a null-unsafe join would count them in the budget but never keep
    // any), and a caller's own rate_ppm column survives untouched.
    val withNull = docs
      .withColumn("lang", when(col("doc_id") <= 45, lit(null: String))
        .otherwise(col("lang")))
      .withColumn("rate_ppm", lit(777L))
    val keptNull = graft.Graft.temperatureSample(withNull, "doc_id", "lang")
    assert(keptNull.filter(col("lang").isNull).count() > 0,
      "null-stratum rows were silently dropped")
    assert(keptNull.filter(col("rate_ppm") =!= 777L).count() == 0,
      "caller's rate_ppm column was clobbered")
    intercept[IllegalArgumentException] {
      graft.Graft.pageRank(docs.select(col("doc_id").as("da"), col("doc_id").as("db")), iters = 0)
    }
    intercept[IllegalArgumentException] {
      graft.Graft.compactionPlan(docs.select(col("source").as("file"),
        col("n_chars").as("bytes"), lit(1L).as("n_docs")), nBins = 0)
    }
  }

  test("q_compaction_plan assigns every file once into balanced scaled-fill groups") {
    // Files = (source, lang) groups; sizes are n_chars sums. Build 12
    // files with deliberately skewed sizes via text lengths.
    var id = 0L
    val rows = (0 until 12).flatMap { f =>
      val src = f"src$f%02d"
      // File f gets f+1 docs of (100·(f+1))-char bodies → sizes ramp
      // quadratically, so largest-first ordering differs from name order.
      (0 to f).map { _ => id += 1; (id, "x" * (100 * (f + 1)), "en", src) }
    }
    val dir = stageDocs(rows)
    val out = MaintenanceQueries.queries("q_compaction_plan")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // Independent model: the same sizes, sorted largest-first (name
    // tie-break), walked with a running cumulative fill.
    val sizes = rows.groupBy(r => s"${r._4}/${r._3}")
      .map { case (f, rs) => (f, rs.map(_._2.length.toLong).sum, rs.size.toLong) }.toSeq
    val total = sizes.map(_._2).sum
    var cum = 0L
    val binOf = sizes.sortBy(t => (-t._2, t._1)).map { case (f, sz, nd) =>
      val bin = ((cum * 8) / total).toInt
      cum += sz
      (f, sz, nd, bin)
    }
    val model = binOf.groupBy(_._4).toSeq.sortBy(_._1).map { case (bin, fs) =>
      (bin, fs.size.toLong, fs.map(_._2).sum, fs.map(_._3).sum)
    }
    assert(out.toSeq == model)
    // Conservation: every byte and every file lands in exactly one group.
    assert(out.map(_._2).sum == sizes.size.toLong)
    assert(out.map(_._3).sum == total)
    // Balance bound: a group holds < total/8 plus one member (the file
    // that straddles the boundary), so ≤ total/8 + its largest file.
    val maxFile = sizes.map(_._2).max
    out.foreach { case (bin, _, bytes, _) =>
      assert(bytes <= total / 8 + maxFile, s"bin $bin overfull: $bytes")
    }
  }

  test("q_compaction_plan survives an all-zero-byte manifest (one trivial bin)") {
    // Empty-text docs → every file totals 0 bytes; the scaled-fill
    // divisor is 0 and the ANSI guard must route everything to bin 0
    // instead of throwing DIVIDE_BY_ZERO.
    val dir = stageDocs(Seq((1L, "", "en", "s0"), (2L, "", "en", "s1")))
    val out = MaintenanceQueries.queries("q_compaction_plan")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0, 2L, 0L)))
  }

  test("text_bpe_pairs counts frequency-weighted adjacent char pairs over the vocab") {
    // Corpus: "abab" ×3 (as word freq), "bc" ×2, "a" (too short, dropped).
    val dir = stageDocs(Seq(
      (1L, "abab bc a", "en", "s0"),
      (2L, "abab abab bc", "en", "s0")))
    val out = TextAnalysis.queries("text_bpe_pairs")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // Hand count: "abab" (freq 3) → ab, ba, ab → ab:6, ba:3; "bc"
    // (freq 2) → bc:2. "a" contributes nothing. Rank by (cnt desc, pair).
    assert(out.toSeq == Seq(("ab", 6L), ("ba", 3L), ("bc", 2L)))
  }

  test("dq_outliers flags exactly the rows beyond 3 MAD of a hand-built group") {
    import spark.implicits._
    val dir = tempDir("graft_outlier_spec_")
      .toFile.getAbsolutePath
    // Group A: cents {100, 200, 300, 400, 100000} → med 300.0 = 3.00;
    // adev {200, 100, 0, 100, 99700} → MAD 100.0; threshold 300 →
    // only 100000 (adev 99700) is out. Group B: all equal → MAD 0,
    // any deviation would flag; none exists → 0 outliers.
    val a = Seq(1.0, 2.0, 3.0, 4.0, 1000.0).map(("A", _))
    val b = Seq(5.0, 5.0, 5.0).map(("B", _))
    (a ++ b).toDF("l_returnflag", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = PipelineQueries.queries("dq_outliers")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      ("A", 5L, 300.0, 100.0, 1L, 100000L),
      ("B", 3L, 500.0, 0.0, 0L, -1L)))
  }

  test("dq_outliers median interpolates exactly on even counts (.5 in cents)") {
    import spark.implicits._
    val dir = tempDir("graft_outlier_spec2_")
      .toFile.getAbsolutePath
    // Even count: cents {100, 200, 300, 400} → med 250.0, adev
    // {150, 50, 50, 150} → MAD 100.0 — both land on exact doubles, the
    // cross-engine determinism the integer-cents design guarantees.
    Seq(1.0, 2.0, 3.0, 4.0).map(("E", _)).toDF("l_returnflag", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = PipelineQueries.queries("dq_outliers")(spark, dir).collect().head
    assert((r.getDouble(2), r.getDouble(3), r.getLong(4)) == ((250.0, 100.0, 0L)))
  }

  test("pageRankOf matches an independent Map-fold model on seeded random graphs") {
    import spark.implicits._
    // Independent model: plain Scala Maps, same integer recurrence.
    def model(pairs: Set[(Long, Long)]): Map[Long, (Long, Long)] = {
      val edges = pairs.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val base = if (deg.isEmpty) 0L else 1000000000000L / deg.size
      var r: Map[Long, Long] = deg.map { case (k, _) => k -> base }
      for (_ <- 1 to 3) {
        val incoming = edges.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
        }
        r = deg.map { case (k, _) => k -> ((15 * base) / 100 + (85 * incoming(k)) / 100) }
      }
      deg.map { case (k, d) => k -> ((d, r(k))) }
    }
    val rnd = new scala.util.Random(4242)
    for (round <- 1 to 8) {
      val pairs = (for {
        a <- 1L to 8L; b <- (a + 1) to 8L if rnd.nextBoolean()
      } yield (a, b)).toSet
      if (pairs.nonEmpty) {
        val got = DedupQueries.pageRankOf(pairs.toSeq.toDF("da", "db"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        assert(got == model(pairs), s"round $round: graph $pairs")
      }
    }
  }

  test("graph_pagerank matches the integer power iteration on an asserted path graph") {
    // Three 30-token docs: A/B differ in the last THREE tokens, B/C in the
    // first three → 3-shingle jac(A,B) = jac(B,C) = 25/31 ≈ 0.81 ≥ 0.7,
    // jac(A,C) = 22/34 ≈ 0.65 < 0.7 (a boundary token lives in up to 3
    // shingles, so three changed tokens kill exactly 3 end shingles). The
    // minhash LSH is deterministic, so the pair set is fixed.
    val toks = (1 to 30).map(i => s"tok$i")
    val tailB = Seq("xb28", "xb29", "xb30")
    val a = toks.mkString(" ")
    val b = (toks.take(27) ++ tailB).mkString(" ")
    val c = (Seq("yc1", "yc2", "yc3") ++ toks.slice(3, 27) ++ tailB).mkString(" ")
    val dir = stageDocs(Seq((1L, a, "en", "s0"), (2L, b, "en", "s0"), (3L, c, "en", "s0")))

    // Pin the pair graph first — the rank model below derives from it.
    val pairs = DedupQueries.minhashPairs(spark, dir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)), s"unexpected pair graph: $pairs")

    val out = DedupQueries.queries("graph_pagerank")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // Independent fold: path graph 1–2–3, deg(1)=deg(3)=1, deg(2)=2.
    val base = 1000000000000L / 3
    var r1v = base; var r2v = base; var r3v = base
    for (_ <- 1 to 3) {
      val in1 = r2v / 2
      val in2 = r1v / 1 + r3v / 1
      val in3 = r2v / 2
      val n1 = (15 * base) / 100 + (85 * in1) / 100
      val n2 = (15 * base) / 100 + (85 * in2) / 100
      val n3 = (15 * base) / 100 + (85 * in3) / 100
      r1v = n1; r2v = n2; r3v = n3
    }
    assert(out.toSeq == Seq((1L, 1L, r1v), (2L, 2L, r2v), (3L, 1L, r3v)))
    // The hub outranks the leaves; leaves are symmetric.
    assert(r2v > r1v && r1v == r3v)
  }

  test("text_quality_rules: each rule bites exactly where the crafted corpus says") {
    import spark.implicits._
    // One doc per single-rule failure, one all-pass; word counts and
    // character sums hand-derived so the cross-multiplied thresholds are
    // checked at their boundaries, not just in bulk.
    val okWords = (1 to 28).map(i => s"word$i").mkString(" ") // 28 alpha words, len 5-6
    val docs = Seq(
      // 29 words (28 + the + a = 30? no: 27 + the + a = 29) -> fails ONLY word count.
      (1L, (1 to 27).map(i => s"word$i").mkString(" ") + " the a"),
      // 35 words averaging 2 chars -> fails ONLY mean-word-len (low side):
      // 33*2 + 3 + 1 = 70 chars < 3*35 = 105.
      (2L, Seq.fill(33)("ab").mkString(" ") + " the a"),
      // 30 words averaging > 10 -> fails ONLY mean-word-len (high side):
      // 28*12 + 3 + 1 = 340 chars > 10*30 = 300.
      (3L, Seq.fill(28)("abcdefghijkl").mkString(" ") + " the a"),
      // 10/30 words pure digits -> fails ONLY alpha-frac: 20*5 < 30*4.
      (4L, (Seq.fill(10)("12345") ++ Seq.fill(18)("word")).mkString(" ") + " the a"),
      // 30 words, zero stopwords -> fails ONLY the stopword rule.
      (5L, Seq.fill(30)("zigzag").mkString(" ")),
      // 30 words incl. two distinct stopwords, sane lengths -> keeps.
      (6L, okWords + " the a"))
      .toDF("doc_id", "text")
    val flags = TextAnalysis.qualityRuleFlags(docs)
      .select("doc_id", "r_wc", "r_mwl", "r_alpha", "r_stop", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(flags(1L) == ((false, true, true, true, false)), s"d1: ${flags(1L)}")
    assert(flags(2L) == ((true, false, true, true, false)), s"d2: ${flags(2L)}")
    assert(flags(3L) == ((true, false, true, true, false)), s"d3: ${flags(3L)}")
    assert(flags(4L) == ((true, true, false, true, false)), s"d4: ${flags(4L)}")
    assert(flags(5L) == ((true, true, true, false, false)), s"d5: ${flags(5L)}")
    assert(flags(6L) == ((true, true, true, true, true)), s"d6: ${flags(6L)}")
  }
}
