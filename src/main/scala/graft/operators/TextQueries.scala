package graft.operators

import graft.{QueryPack, Stage, Tables}
import org.apache.spark.sql.functions._

/** Flagship word-count pipeline — the reference's showcase re-expressed
  * Spark-first.
  *
  * Reference semantics: FileWordCounter.cpp:87-136 (map = per-file
  * word→count, shuffle = group word→[counts], reduce = sum) and
  * README.md:42-53. Here the whole Map→Shuffle→Reduce lifecycle is one
  * declarative plan: scan → flatMap (explode/split) → hash-aggregate
  * (partial map-side combine ≡ the reference's per-thread pre-grouping,
  * MapReduceFramework.cpp:278-287) → shuffle on `word` → final aggregate →
  * sort (≡ the reference's ordered std::map key order, MapReduceClient.h:61).
  *
  * Scale notes: the aggregation is algebraic (count), so Spark performs
  * map-side partial aggregation before the shuffle — shuffle volume is
  * O(distinct words per partition), not O(tokens). At 100 TB this is the
  * right plan: no collect, no skew risk beyond word frequency (AQE handles
  * stragglers), and the parquet scan prunes to the single `text` column.
  */
object TextQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // B1+B2+C2+C4+C5: scan → split/explode → groupBy → count → orderBy.
    "wordcount" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("word")),

    // B2 quirk parity (FileWordCounter.cpp:149-177): splitting on the single
    // ' ' char keeps empty tokens (consecutive/leading/trailing spaces) and
    // does NOT treat \n or \t as delimiters. Spark `split(text, " ", -1)`
    // has exactly those semantics (minus the reference's O(n²) cost, which
    // we do not replicate). Aggregated per token-kind so it oracle-checks.
    "tokenize_quirk" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ", -1)).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("tok")),

    // F: distributed top-k — compiles to TakeOrderedAndProject (a per-
    // partition heap + single reduce of k rows), not a global sort.
    "word_topk" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(10)),

    // A1+A2 end-to-end: the reference's complete PROGRAM (FileWordCounter
    // .cpp main, :234-286 — scan a directory, whole-file read, MapReduce
    // word count) oracle-checked, not just spec-tested. The query stages a
    // deterministic doc-per-file directory from `documents` (doc_id < 40,
    // bytes verbatim, stale files removed) and runs the directoryWordCount
    // facade over it; the DuckDB oracle reads the SAME files via
    // read_text() — so the path under test is the real file-ingest path
    // (FileIndex + wholetext), not the parquet one. Staging is driver-side
    // by construction (it CREATES the input); the MR job itself is
    // distributed. The stage path is derived from the data dir (Stage) so
    // the oracle SQL can name it without concurrent sessions over other
    // dirs clobbering it; the contract is the driver's verify flow
    // (query, then oracle).
    "dir_wordcount" -> ((s, d) => {
      val stage = new java.io.File(Stage.dir(d, "dir_wordcount"))
      stage.mkdirs()
      Option(stage.listFiles()).foreach(_.foreach { f =>
        if (f.getName.endsWith(".txt")) f.delete()
      })
      Tables.documents(s, d).filter(col("doc_id") < 40)
        .select("doc_id", "text").collect().foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(stage.getPath, f"doc_${r.getLong(0)}%05d.txt"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      graft.sources.FileSources.directoryWordCount(s, stage.getPath)
        .select(col("word"), col("count").cast("long").as("cnt"))
        .orderBy("word")
    }),

    // Per-document token statistics (H scalar funcs over arrays) — stays
    // entirely in whole-stage codegen, no UDF.
    "doc_token_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"),
          length(col("text")).as("len"),
          size(array_distinct(split(col("text"), " "))).as("n_distinct"))
        .orderBy("doc_id"))
  )

  def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    "wordcount" ->
      """SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY word""",
    "tokenize_quirk" ->
      """SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         GROUP BY tok ORDER BY tok""",
    "word_topk" ->
      """SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY cnt DESC, word LIMIT 10""",
    "dir_wordcount" ->
      s"""SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM (SELECT unnest(string_split(content, ' ')) AS word
               FROM read_text('${Stage.dir(dataDir, "dir_wordcount")}/*.txt'))
         GROUP BY word ORDER BY word""",
    "doc_token_stats" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                CAST(length(text) AS INT) AS len,
                CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct
         FROM documents ORDER BY doc_id"""
  )
}
