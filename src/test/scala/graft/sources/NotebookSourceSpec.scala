package graft.sources

import graft.SparkSpec

/** Pins for the notebook extractor: the nbformat-4 parse surface
  * (cell split, output counting, JSON string escapes) and the staged
  * fixture's model identities. */
class NotebookSourceSpec extends SparkSpec {

  private def stageDir(ids: Seq[Long]): String = {
    val dir = tempDir("graft-nb").toFile.getAbsolutePath
    ids.foreach { id =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/nb$id.ipynb"),
        NotebookSource.nbJson(id).getBytes("UTF-8"))
    }
    dir
  }

  test("cells frame reproduces the model: types, sources, output counts") {
    val ids = Seq(0L, 1L, 2L, 3L, 7L)
    val got = NotebookSource.cells(spark, stageDir(ids)).collect()
      .map(r => (r.getLong(0), r.getInt(2)) ->
        (r.getString(1), r.getString(3), r.getString(4), r.getInt(5))).toMap
    for (id <- ids; j <- 0 until NotebookSource.nbCellCount(id)) {
      val (lang, ct, src, nOut) = got((id, j))
      assert(lang == NotebookSource.nbLanguage(id), s"id=$id lang")
      assert(ct == (if (NotebookSource.nbIsMarkdown(id, j)) "markdown" else "code"),
        s"id=$id j=$j type")
      assert(src == NotebookSource.nbCellSource(id, j).mkString, s"id=$id j=$j src")
      assert(nOut == (if (NotebookSource.nbIsMarkdown(id, j)) 0 else j % 2),
        s"id=$id j=$j outputs")
    }
    assert(got.size == ids.map(NotebookSource.nbCellCount).sum)
  }

  test("JSON-hostile characters round-trip through the parse") {
    // Markdown sources carry a quote, a backslash, and newlines — the
    // escaper and from_json must invert each other exactly.
    val dir = stageDir(Seq(3L)) // id 3: cell 0 markdown ((3+0)%3==0)
    val md = NotebookSource.cells(spark, dir)
      .filter(org.apache.spark.sql.functions.col("cell_type") === "markdown")
      .collect()
    assert(md.nonEmpty)
    val src = md.head.getString(4)
    assert(src.contains("\"quoted\"") && src.contains("\\ slash") && src.contains("\n"))
  }

  test("a malformed notebook yields null cells, not garbage rows") {
    val dir = tempDir("graft-nb-bad").toFile.getAbsolutePath
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/nb1.ipynb"),
      "{not json".getBytes("UTF-8"))
    // from_json returns null for unparsable input → posexplode emits
    // nothing: the malformed file contributes zero cells.
    assert(NotebookSource.cells(spark, dir).count() == 0L)
  }
}
