package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Jupyter notebook (`.ipynb`, nbformat 4) extraction — a first-class
  * source of CODE pretraining corpora: notebooks are JSON documents
  * whose `cells` array interleaves markdown and code, with code cells
  * carrying `outputs` a curation pipeline strips (outputs are model
  * leakage and noise; sources are the training text).
  *
  * Reference scope note: the reference reads loose text files
  * (FileWordCounter.cpp:189-226); this is the format that loose "text"
  * actually arrives in for code corpora (GitHub ships millions of
  * notebooks; The Stack and its descendants extract exactly this way).
  *
  * The parse is Spark's own JSON machinery — `from_json` with an
  * explicit nbformat-4 schema, codegen'd, no UDFs — over whole files
  * (a notebook is one JSON document; there is nothing to split inside
  * one). The gate reads the SAME staged bytes with DuckDB's independent
  * JSON parser (`json_transform` over `$.cells`), so the two engines'
  * JSON implementations must agree on every extracted cell — the
  * csv/jsonl round-trip discipline, not a closed-form model.
  *
  * Scale shape: many small files, one task per ~bin of files (Spark's
  * file packing), map-only parse → one aggregate; at 100 TB notebooks
  * arrive inside tar/zip/WARC containers and this parser composes with
  * those readers (the WebDataset path already demonstrates re-pairing).
  */
object NotebookSource {

  /** nbformat-4 essentials: cells (type, source lines, code outputs),
    * kernel language. Extra fields in real notebooks are ignored by
    * BOTH engines' extractions (schema-projected parse). */
  val NbSchema: StructType = StructType(Seq(
    StructField("cells", ArrayType(StructType(Seq(
      StructField("cell_type", StringType),
      StructField("source", ArrayType(StringType)),
      StructField("outputs", ArrayType(StructType(Seq(
        StructField("output_type", StringType))))))))),
    StructField("metadata", StructType(Seq(
      StructField("kernelspec", StructType(Seq(
        StructField("language", StringType)))))))))

  /** Parsed per-cell frame from a directory of `.ipynb` files:
    * (nb_id from the filename, language, cell_idx, cell_type, src —
    * source lines joined, n_outputs). */
  def cells(spark: SparkSession, dir: String): DataFrame =
    FileSources.wholeTextDir(spark, dir)
      .withColumn("nb_id",
        regexp_extract(col("path"), "nb(\\d+)\\.ipynb", 1).cast("long"))
      .withColumn("nb", from_json(col("content"), NbSchema))
      .select(col("nb_id"),
        col("nb.metadata.kernelspec.language").as("language"),
        posexplode(col("nb.cells")).as(Seq("cell_idx", "cell")))
      .select(col("nb_id"), col("language"), col("cell_idx"),
        col("cell.cell_type").as("cell_type"),
        concat_ws("", col("cell.source")).as("src"),
        coalesce(size(col("cell.outputs")), lit(0)).as("n_outputs"))

  // ───────────── deterministic fixture (one notebook per kept doc) ─────────────
  // Doc ids ≡ 0 (mod 101) become notebooks: language python/scala by
  // id%2, 2 + id%4 cells; cell j is markdown when (id + j) % 3 == 0,
  // else code; code cells carry j%2 stream outputs. Source lines quote
  // JSON-hostile characters (backslash, quote, newline) so both
  // engines' JSON string decoding is exercised, not just ASCII.

  def nbLanguage(id: Long): String = if (id % 2 == 0) "python" else "scala"
  def nbCellCount(id: Long): Int = (2 + id % 4).toInt
  def nbIsMarkdown(id: Long, j: Int): Boolean = (id + j) % 3 == 0

  def nbCellSource(id: Long, j: Int): Seq[String] =
    if (nbIsMarkdown(id, j))
      Seq(s"# Doc $id cell $j\n", s"text ${id % 7} \"quoted\" and \\ slash\n")
    else
      Seq(s"x = ${id * 31 + j}\n", s"print(x) # cell $j\n")

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c    => c.toString
    } + "\""

  /** The notebook JSON for doc `id` — built by hand so the staged bytes
    * are engine-neutral ground truth, not a Spark serialization. */
  def nbJson(id: Long): String = {
    val cells = (0 until nbCellCount(id)).map { j =>
      val src = nbCellSource(id, j).map(jsonStr).mkString("[", ",", "]")
      if (nbIsMarkdown(id, j))
        s"""{"cell_type":"markdown","metadata":{},"source":$src}"""
      else {
        val outs = (0 until j % 2).map(_ =>
          s"""{"output_type":"stream","name":"stdout","text":["out ${id + j}\\n"]}""")
          .mkString("[", ",", "]")
        s"""{"cell_type":"code","execution_count":${j + 1},"metadata":{},"outputs":$outs,"source":$src}"""
      }
    }.mkString("[", ",", "]")
    s"""{"cells":$cells,"metadata":{"kernelspec":{"language":"${nbLanguage(id)}","name":"k"}},"nbformat":4,"nbformat_minor":5}"""
  }

  /** Stage one `nb<id>.ipynb` per kept doc. Returns the dir. */
  def stageFixture(spark: SparkSession, dataDir: String, dir: String): String =
    graft.Stage.keptDocs(spark, dataDir, dir, "_STAGED_IPYNB_V1", "nb", ".ipynb")(
      nbJson(_).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
