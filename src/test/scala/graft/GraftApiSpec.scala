package graft

import org.apache.spark.sql.functions._

/** Exercises the user-facing Graft API on hand-built frames (NOT the
  * fixture tables) — proving the operators are a reusable library, not
  * fixture-bound queries. */
class GraftApiSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
      (3L, "entirely different words appear in this one here"),
      (4L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
      (5L, "short text")
    ).toDF("doc_id", "text")
  }

  test("wordCount on a custom frame") {
    val wc = Graft.wordCount(docs).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wc("the") == 6 && wc("cat") == 1)
  }

  test("exactDedup collapses identical content") {
    val out = Graft.exactDedup(docs).collect()
    assert(out.length == 4) // 1&4 merge
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("nearDupPairs finds the engineered near-dup and the exact dup") {
    val pairs = Graft.nearDupPairs(spark, docs, 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
  }

  test("nearDupClusters groups 1,2,4 into one component") {
    val cl = Graft.nearDupClusters(spark, docs, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(1L) == 1L && cl(2L) == 1L && cl(4L) == 1L)
  }

  test("deduplicate keeps canonical docs and untouched docs") {
    val kept = Graft.deduplicate(spark, docs, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("simhash of identical docs is identical; near-dups are close") {
    val sh = Graft.simhash(spark, docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(2L)) < 15)
  }

  test("cosineTopK on a custom embeddings frame") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val top = Graft.cosineTopK(spark, e, 0L, 2).collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 3L))
  }

  test("dedup operators tolerate null text") {
    import spark.implicits._
    val withNulls = docs.union(Seq((9L, null: String)).toDF("doc_id", "text"))
    assert(Graft.nearDupPairs(spark, withNulls, 0.5).count() >= 2)
    assert(Graft.simhash(spark, withNulls).count() == 5) // null-text doc dropped
  }

  test("hashSample is deterministic and repartition-stable") {
    val big = spark.range(0, 2000).select(col("id").as("doc_id"))
    val a = Graft.hashSample(big, "doc_id", 10).collect().map(_.getLong(0)).toSet
    val b = Graft.hashSample(big.repartition(13), "doc_id", 10).collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 400)
  }

  test("contaminated finds cross-split near-dups, ignores within-split ones") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated training material on other topics")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // near-dup of train 1 (id collision on purpose)
      (7L, "novel evaluation content sharing nothing with train")
    ).toDF("doc_id", "text")
    val hits = Graft.contaminated(spark, train, eval, 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L), s"got $hits")
  }

  test("weightedSample applies per-stratum rates; rate-100 strata keep everything") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val out = Graft.weightedSample(df, "doc_id", "lang", Map("en" -> 100), defaultRate = 0)
    val langs = out.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs == Set("en") && out.count() == 500)
    // Stratum subset property: a stratum's sample is the hashSample of it.
    val mixed = Graft.weightedSample(df, "doc_id", "lang", Map("en" -> 30), defaultRate = 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val enOnly = Graft.hashSample(df.filter(col("lang") === "en"), "doc_id", 30)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(mixed.filter(_._2 == "en") == enOnly)
  }

  test("packSequences fills bins in order and never overfills mid-bin") {
    import spark.implicits._
    // 6 docs of 3 tokens each, one lang: bin size 7 → cum boundaries at
    // docs 1-3 (tokens 3,6,9→ bins 0,0,1*)... verify exact assignment:
    // bin = (cum - tok) div 7 with cum = 3,6,9,12,15,18 → (0,3,6,9,12,15)
    // div 7 = 0,0,0,1,1,2.
    val df = (1 to 6).map(i => (i.toLong, "x", "a b c")).toDF("doc_id", "lang", "text")
    val bins = Graft.packSequences(df, tokensPerBin = 7)
      .orderBy("doc_id").collect().map(r => r.getAs[Long]("bin")).toSeq
    assert(bins == Seq(0L, 0L, 0L, 1L, 1L, 2L))
  }

  test("topNgrams counts unigrams and bigrams with deterministic tie-break") {
    import spark.implicits._
    val df = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    val uni = Graft.topNgrams(df, n = 1, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(uni == Seq(("a", 3L), ("b", 3L))) // tie → lexicographic
    val bi = Graft.topNgrams(df, n = 2, k = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(bi == Seq(("a b", 3L)))
  }

  test("vocabEncode assigns frequency-ranked ids in position order, OOV = -1") {
    import spark.implicits._
    // counts: a=3, b=2, x=1, y=1 → vocab(2) = [a→0, b→1]; x,y OOV.
    val df = Seq((1L, "a b a"), (2L, "x a b y")).toDF("doc_id", "text")
    val out = Graft.vocabEncode(df, vocabSize = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Int](3).toSeq))
    assert(out.toSeq == Seq(
      (1L, 3L, 0L, Seq(0, 1, 0)),
      (2L, 4L, 2L, Seq(-1, 0, 1, -1))))
  }

  test("ewma folds in order across keys; funnel flags strictly-ordered steps") {
    import spark.implicits._
    val ev = Seq(
      (7L, 1L, "view", 8.0), (7L, 2L, "click", 4.0), (7L, 3L, "purchase", 2.0),
      (9L, 1L, "click", 6.0), (9L, 2L, "view", 2.0) // click BEFORE view: funnel must not count it
    ).toDF("user_id", "event_id", "event_type", "value")
      .withColumn("ts", expr("timestamp_micros(event_id * 1000000)"))
    val e = Graft.ewma(ev, "user_id", "ts", "event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(e(7L) == 4.0) // 8 -> 6 -> 4
    assert(e(9L) == 4.0) // 6 -> 4
    val f = Graft.funnel(ev, Seq("view", "click", "purchase"), Seq("user_id")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(f(7L) == ((1, 1, 1)), s"user 7 completes the funnel: $f")
    assert(f(9L) == ((1, 0, 0)), s"user 9's click precedes its view: $f")
  }

  test("cdcCompact keeps the newest row per key with original columns") {
    import spark.implicits._
    val log = Seq(
      (1L, 3L, "c", 30.0), (1L, 1L, "a", 10.0), (1L, 2L, "b", 20.0),
      (2L, 5L, "x", 1.5)
    ).toDF("id", "version", "state", "amount")
    val out = Graft.cdcCompact(log, "id", "version").orderBy("id").collect()
    assert(out.map(_.toSeq).toSeq == Seq(
      Seq(1L, 3L, "c", 30.0), Seq(2L, 5L, "x", 1.5)))
    assert(out.head.schema.fieldNames.toSeq == Seq("id", "version", "state", "amount"))
  }

  test("tfidfTopTerms ranks a doc-specific term above corpus-wide ones") {
    val out = Graft.tfidfTopTerms(docs, k = 2).collect()
    // doc 3 is the only one with unique vocabulary; its top term must be
    // one of its own words, scored positive.
    val doc3 = out.filter(_.getLong(0) == 3L).sortBy(_.getInt(1))
    assert(doc3.nonEmpty && doc3.head.getDouble(3) > 0)
    assert("entirely different words appear in this one here".split(" ")
      .contains(doc3.head.getString(2)))
    // exact dups 1 and 4 get identical term rankings.
    val d1 = out.filter(_.getLong(0) == 1L).map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val d4 = out.filter(_.getLong(0) == 4L).map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    assert(d1 == d4)
  }

  test("bloomBuild + bloomProbe prune non-members and keep every member") {
    import spark.implicits._
    val members = (1 to 50).map(i => (i.toLong, s"keep-$i"))
    val small = members.toDF("id", "tag")
    val big = ((1 to 50) ++ (1000 to 1400)).map(i => (i.toLong, i % 7)).toDF("id", "v")
    val bloom = Graft.bloomBuild(spark, small, "id")
    val pruned = Graft.bloomProbe(spark, big, "id", bloom).select("id").collect().map(_.getLong(0)).toSet
    assert((1L to 50L).forall(pruned), "bloom dropped a true member (false negative)")
    // 8 KB filter over 50 keys: essentially zero false positives expected,
    // but the contract only promises a bound — allow a few.
    // ≤4 of the 401 probed non-members may false-positive — this bound
    // also fails if the probe regresses to passing everything through.
    assert(pruned.count(_ >= 1000L) <= 4, s"too many false positives: $pruned")
  }

  test("embedNearDupIvf finds a planted near-dup pair and only true pairs") {
    import spark.implicits._
    // 1 and 2 nearly parallel (cos ≈ 1); 3 orthogonal to both.
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.98f, 0.2f))
    ).toDF("vec_id", "embedding")
    val pairs = Graft.embedNearDupIvf(spark, df, threshold = 0.9, nlist = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"planted near-dup missed: $pairs")
    assert(pairs.contains((3L, 4L)), s"second planted pair missed: $pairs")
    assert(!pairs.exists(p => Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))(p)),
      s"orthogonal pair wrongly emitted: $pairs")
  }

  test("degenerate parameters fail fast instead of silently corrupting output") {
    import spark.implicits._
    val docs = Seq((1L, "a b c", "en")).toDF("doc_id", "text", "lang")
    // tokensPerBin <= 0: `div 0` is NULL in Spark SQL → null bins, silently.
    val badBin = intercept[IllegalArgumentException] {
      Graft.packSequences(docs, tokensPerBin = 0)
    }
    assert(badBin.getMessage.contains("tokensPerBin"))
    // vocabSize <= 0: limit(0) is legal → every token OOV (-1), silently.
    val badVocab = intercept[IllegalArgumentException] {
      Graft.vocabEncode(docs, vocabSize = 0)
    }
    assert(badVocab.getMessage.contains("vocabSize"))
    // alpha outside (0, 1]: alpha = 0 ignores every observation.
    val ev = Seq((1L, 1L, 1L, 2.0)).toDF("user_id", "ts", "event_id", "value")
    val badAlpha = intercept[IllegalArgumentException] {
      Graft.ewma(ev, "user_id", "ts", "event_id", "value", alpha = 0.0)
    }
    assert(badAlpha.getMessage.contains("alpha"))
    // threshold = 7 (meant 0.7): jaccard <= 1 always → zero pairs, and
    // deduplicate() would then silently dedup nothing.
    val badThr = intercept[IllegalArgumentException] {
      Graft.nearDupPairs(spark, docs, threshold = 7)
    }
    assert(badThr.getMessage.contains("threshold"))
    // maxBucket = 1: size > 1 && size <= 1 is never true → zero pairs.
    val badCap = intercept[IllegalArgumentException] {
      Graft.nearDupPairs(spark, docs, maxBucket = 1)
    }
    assert(badCap.getMessage.contains("maxBucket"))
    // percent = 500 (meant 5? 50?): keeps every row, silently.
    val badPct = intercept[IllegalArgumentException] {
      Graft.hashSample(docs, "doc_id", percent = 500)
    }
    assert(badPct.getMessage.contains("percent"))
    val badRate = intercept[IllegalArgumentException] {
      Graft.weightedSample(docs, "doc_id", "lang", Map("en" -> 150), defaultRate = 10)
    }
    assert(badRate.getMessage.contains("rate"))
    // k = 0: limit(0) / rk <= 0 are legal → silently empty results.
    val e = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val badK = intercept[IllegalArgumentException] {
      Graft.cosineTopK(spark, e, 0L, k = 0)
    }
    assert(badK.getMessage.contains("k must be"))
    val badTfidfK = intercept[IllegalArgumentException] {
      Graft.tfidfTopTerms(docs, k = 0)
    }
    assert(badTfidfK.getMessage.contains("k must be"))
    val badNgramK = intercept[IllegalArgumentException] {
      Graft.topNgrams(docs, n = 2, k = 0)
    }
    assert(badNgramK.getMessage.contains("k must be"))
    // nprobe = 0 probes no IVF cell → zero pairs, silently.
    val badProbe = intercept[IllegalArgumentException] {
      Graft.embedNearDupIvf(spark, e, threshold = 0.9, nlist = 4, nprobe = 0)
    }
    assert(badProbe.getMessage.contains("nprobe"))
  }

  test("bm25TopDocs matches a hand-computed reference model on a crafted corpus") {
    import spark.implicits._
    // d1 carries the query term twice in a short doc, d2 once in a long
    // doc, d3 not at all — BM25 must rank d1 > d2 and omit d3.
    val docs = Seq(
      (1L, "apple apple pie"),
      (2L, "apple tart with a very long list of other words here now"),
      (3L, "banana split")
    ).toDF("doc_id", "text")
    val got = Graft.bm25TopDocs(docs, Seq("apple"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def ref(tf: Double, dl: Double): Double = {
      val n = 3.0; val df = 2.0
      val avgdl = (3.0 + 12.0 + 2.0) / 3.0
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
      val raw = idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      math.floor(raw * 1000000 + 0.5) / 1000000
    }
    assert(got.map(_._1).toSeq == Seq(1L, 2L), s"ranking wrong: ${got.toSeq}")
    assert(got(0)._2 == ref(2.0, 3.0))
    assert(got(1)._2 == ref(1.0, 12.0))
  }

  test("bm25TopDocs rejects an empty query") {
    import spark.implicits._
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    val bad = intercept[IllegalArgumentException] {
      Graft.bm25TopDocs(docs, Seq.empty, k = 5)
    }
    assert(bad.getMessage.contains("query term"))
  }

  test("bpeLearn facade: hand-checked merges, degenerate args rejected") {
    import spark.implicits._
    val docs = Seq("abab", "abab", "abc").toDF("text")
    // Pairs: (a,b) 2·2+1 = 5, (b,a) 2, (b,c) 1 → first merge (a,b) cnt 5.
    val got = Graft.bpeLearn(spark, docs, merges = 1)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "a", "b", 5L)))
    val bad = intercept[IllegalArgumentException](Graft.bpeLearn(spark, docs, merges = 0))
    assert(bad.getMessage.contains("merges"))
  }

  test("warcIngestLive facade rejects an empty shard list") {
    val bad = intercept[IllegalArgumentException](Graft.warcIngestLive(spark, Seq.empty))
    assert(bad.getMessage.contains("shard"))
  }

  test("cmsBuild/cmsEstimate: no underestimate on a custom stream; grouped builds merge") {
    import spark.implicits._
    val events = (1 to 40).flatMap(i => Seq.fill(i % 5 + 1)((i.toLong, s"g${i % 3}")))
      .toDF("k", "g")
    val exact = events.groupBy("k").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Whole-stream build.
    val whole = Graft.cmsBuild(spark, events, "k")
    val est1 = Graft.cmsEstimate(spark, events.select("k").distinct(), "k", whole)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("est_cnt")).toMap
    exact.foreach { case (k, c) => assert(est1(k) >= c, s"$k: ${est1(k)} < $c") }
    // Per-group partial builds must estimate IDENTICALLY after the merge.
    val grouped = events.groupBy("g").agg(
      functions.expressions.GraftFunctions.cmsAggCol(col("k").cast("string")).as("cms"))
    val est2 = Graft.cmsEstimate(spark, events.select("k").distinct(), "k", grouped)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("est_cnt")).toMap
    assert(est1 == est2, "merged per-group sketches must equal the single build")
  }

  test("kmvBuild/kmvUnion/kmvIntersect: exact below k, grouped union merges, overlap exact") {
    import spark.implicits._
    val a = (1 to 120).map(i => s"u$i").toDF("k")
    val b = (100 to 180).map(i => s"u$i").toDF("k")
    val ska = Graft.kmvBuild(spark, a, "k")
    val skb = Graft.kmvBuild(spark, b, "k")
    assert(Graft.kmvUnion(spark, ska).collect()(0).getLong(0) == 120L)
    // Union of the two artifacts (both exact, pooled distinct = 180).
    assert(Graft.kmvUnion(spark, ska.unionAll(skb)).collect()(0).getLong(0) == 180L)
    // Both sketches exact -> the theta-rule intersection is exact: 21.
    assert(Graft.kmvIntersect(spark, ska, skb).collect()(0).getLong(0) == 21L)
  }

  test("kmvIntersect reads the kmv column, not the first one") {
    import spark.implicits._
    val ska = Graft.kmvBuild(spark, (1 to 120).map(i => s"u$i").toDF("k"), "k")
    val skb = Graft.kmvBuild(spark, (100 to 180).map(i => s"u$i").toDF("k"), "k")
    val tagged = ska.select(lit("a").as("tag"), col("kmv"))
    assert(Graft.kmvIntersect(spark, tagged, skb).collect()(0).getLong(0) == 21L)
    assert(Graft.kmvIntersect(spark, skb, tagged).collect()(0).getLong(0) == 21L)
    val e = intercept[IllegalArgumentException] {
      Graft.kmvIntersect(spark, ska.select(lit("a").as("tag"), col("kmv").as("sk")), skb)
    }
    assert(e.getMessage.contains("kmv frame needs a 'kmv' column or exactly one column, got tag, sk"))
  }

  test("pqFit/pqEncode/pqTopK: the facade pipeline matches the staged sim_pq_adc gate") {
    // Same input, same deterministic fit → the facade's ADC top-10 for
    // vector 0 must equal the oracle-gated sim_pq_adc output.
    val dir = sf("sf0.001")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cb = Graft.pqFit(spark, emb)
    val codes = Graft.pqEncode(spark, emb, cb)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    val got = Graft.pqTopK(spark, codes.filter(col("vec_id") =!= 0), cb, q, 10)
      .select(col("vec_id"), col("adc")).collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1e6 + 0.5) / 1e6))
    val want = operators.PqQueries.queries("sim_pq_adc")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("pqTopK validates query dims and k") {
    import spark.implicits._
    val cb = Seq((0, 0L, Array.fill(8)(0.0))).toDF("m", "cid", "w")
    val codes = Seq((1L, Array.fill(8)(0))).toDF("vec_id", "codes")
    intercept[IllegalArgumentException](
      Graft.pqTopK(spark, codes, cb, Array.fill(63)(0.0), 10))
    intercept[IllegalArgumentException](
      Graft.pqTopK(spark, codes, cb, Array.fill(64)(0.0), 0))
  }

  test("prefixJaccardPairs facade finds the exact boundary pair") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "x a b c d")).toDF("doc_id", "text")
    val got = Graft.prefixJaccardPairs(spark, docs)
      .select("da", "db", "jac").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 0.5)))
  }

  test("hostRank facade weights edges and validates iters") {
    import spark.implicits._
    val edges = Seq("h" -> "a", "h" -> "a", "h" -> "b", "a" -> "h", "b" -> "h")
      .toDF("src", "dst")
    val r = Graft.hostRank(edges).collect()
      .map(x => x.getString(0) -> x.getLong(2)).toMap
    assert(r("a") > r("b"))
    intercept[IllegalArgumentException](Graft.hostRank(edges, 0))
  }

  test("pdfExtract facade round-trips the staged model and drops junk rows") {
    import spark.implicits._
    val rows = Seq(
      (5L, "s0", sources.PdfSource.pdfBytes(5L)),
      (6L, "s0", Array[Byte](1, 2, 3))) // not a PDF: parse-as-filter drops it
      .toDF("doc_id", "source", "pdf")
    val got = Graft.pdfExtract(spark, rows)
      .select("doc_id", "page", "text").collect()
    assert(got.map(_.getLong(0)).distinct.toSeq == Seq(5L))
    assert(got.map(r => r.getString(2)).toSeq ==
      (0 until sources.PdfSource.pdfPageCount(5L))
        .map(p => sources.PdfSource.pdfPageText(5L, p)))
  }

  test("dsirLogWeights facade reproduces the declared gate's per-lang weight sums") {
    // One kernel, two callers: summing the facade's per-doc λ by lang
    // must reproduce text_dsir_select's weight_sum column exactly.
    val docs = Tables.documents(spark, sf("sf0.001"))
    val facade = Graft.dsirLogWeights(docs, col("lang") === "en")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(org.apache.spark.sql.functions.sum("lam").as("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gate = SparkEntry.queries("text_dsir_select")(spark, sf("sf0.001"))
      .collect().map(r =>
        r.getAs[String]("lang") -> r.getAs[Long]("weight_sum")).toMap
    assert(facade == gate)
  }

  test("docxExtract facade round-trips the staged model and drops junk rows") {
    import spark.implicits._
    val rows = Seq(
      (7L, "s0", sources.DocxSource.docxBytes(7L)),
      (8L, "s0", Array[Byte](9, 9, 9))) // not a ZIP: parse-as-filter drops it
      .toDF("doc_id", "source", "docx")
    val got = Graft.docxExtract(spark, rows).collect()
    assert(got.length == 1 && got(0).getLong(0) == 7L)
    assert(got(0).getString(2) == sources.DocxSource.docxExpected(7L))
    assert(got(0).getInt(3) == sources.DocxSource.ExpectedParas)
  }

  test("odtExtract and rtfExtract facades round-trip the staged models, drop junk") {
    import spark.implicits._
    val odts = Seq(
      (5L, "s0", sources.OdtSource.odtBytes(5L)),
      (6L, "s0", Array[Byte](9, 9, 9))) // not a ZIP: parse-as-filter drops it
      .toDF("doc_id", "source", "odt")
    val oGot = Graft.odtExtract(spark, odts).collect()
    assert(oGot.length == 1 && oGot(0).getLong(0) == 5L)
    assert(oGot(0).getString(2) == sources.OdtSource.odtExpected(5L))
    assert(oGot(0).getInt(3) == sources.OdtSource.ExpectedParas)
    val rtfs = Seq(
      (5L, "s0", sources.RtfSource.rtfDoc(5L)
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)),
      (6L, "s0", "not rtf".getBytes("UTF-8"))) // no magic: drops
      .toDF("doc_id", "source", "rtf")
    val rGot = Graft.rtfExtract(spark, rtfs).collect()
    assert(rGot.length == 1 && rGot(0).getLong(0) == 5L)
    assert(rGot(0).getString(2) == sources.RtfSource.rtfExpected(5L))
    assert(rGot(0).getInt(3) == sources.RtfSource.ExpectedParas)
  }

  test("spanSuffixPairs facade equals the declared dedup_span_suffix gate") {
    val d = sf("sf0.001")
    val facade = Graft.spanSuffixPairs(spark, Tables.documents(spark, d))
      .collect().map(_.toSeq).toSet
    val gate = SparkEntry.queries("dedup_span_suffix")(spark, d)
      .collect().map(_.toSeq).toSet
    assert(facade == gate)
  }

  test("txCommit/txRead facade: append, overwrite, time travel, manifest") {
    import spark.implicits._
    val dir = tempDir("graft_tx_api_").toFile.getPath
    Graft.txCommit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir, 0)
    val f0 = Graft.txActiveFiles(dir, 0)
    Graft.txCommit(Seq((9L, "z")).toDF("k", "s"), dir, 1,
      operation = "overwrite", removes = f0)
    assert(Graft.txRead(spark, dir).as[(Long, String)].collect().toSeq ==
      Seq((9L, "z")))
    assert(Graft.txRead(spark, dir, 0).orderBy("k").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
    assert(Graft.txActiveFiles(dir, 1).forall(_.startsWith("data/v1-")))
    // Vacuum at horizon 1: version 0's file goes, the latest still reads.
    assert(Graft.txVacuum(dir, 1) == f0.sorted)
    assert(Graft.txRead(spark, dir).as[(Long, String)].collect().toSeq ==
      Seq((9L, "z")))
    intercept[Exception] { Graft.txRead(spark, dir, 0).count() }
  }

  test("txCommitStats/txReadWhere facade: stats recorded, disjoint range reads empty") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_txst_api_").toFile.getPath
    Graft.txCommitStats((1L to 40L).map(k => (k, s"r$k")).toDF("k", "s")
      .repartitionByRange(4, col("k")), dir, 0, statsCol = "k")
    assert(Graft.txReadWhere(spark, dir, "k", 5, 8).count() == 4)
    assert(Graft.txReadWhere(spark, dir, "k", 500, 600).count() == 0)
    // The pruned frame equals the filtered full read, row for row.
    assert(Graft.txReadWhere(spark, dir, "k", 11, 30).orderBy("k")
      .as[(Long, String)].collect().toSeq ==
      Graft.txRead(spark, dir).filter(col("k").between(11, 30))
        .orderBy("k").as[(Long, String)].collect().toSeq)
  }

  test("pptxExtract and xlsxExtract facades round-trip the staged models") {
    import spark.implicits._
    val decks = Seq((3L, "s0", sources.PptxSource.pptxBytes(3L)),
      (4L, "s0", Array[Byte](1))).toDF("doc_id", "source", "pptx")
    val pGot = Graft.pptxExtract(spark, decks).collect()
    assert(pGot.length == 1 && pGot(0).getLong(0) == 3L)
    assert(pGot(0).getString(2) == sources.PptxSource.pptxExpected(3L))
    val books = Seq((5L, "s0", sources.XlsxSource.xlsxBytes(5L)),
      (6L, "s0", Array[Byte](2))).toDF("doc_id", "source", "xlsx")
    val xGot = Graft.xlsxExtract(spark, books).collect()
    assert(xGot.map(_.getLong(0)).distinct.toSeq == Seq(5L))
    assert(xGot.length == sources.XlsxSource.expectedCells(5L).size)
  }

  test("epubExtract facade yields spine-ordered stripped chapters") {
    import spark.implicits._
    val books = Seq((9L, "s0", sources.EpubSource.epubBytes(9L)),
      (10L, "s0", Array[Byte](0))).toDF("doc_id", "source", "epub")
    val got = Graft.epubExtract(spark, books)
      .orderBy("chap_idx").select("doc_id", "chap_idx", "text").collect()
    assert(got.map(_.getLong(0)).distinct.toSeq == Seq(9L))
    val want = sources.EpubSource.SpineChapters.zipWithIndex.map {
      case ((_, tag), k) => (k, sources.EpubSource.chapterExpected(9L, tag))
    }
    assert(got.map(r => (r.getInt(1), r.getString(2))).toSeq == want)
  }
}
