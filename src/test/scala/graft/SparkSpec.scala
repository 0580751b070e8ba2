package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileSources

/** Shared local session for suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(name: String): String = s"/root/testdata/$name"

  private val temps = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp dir. After the suite it is deleted with everything
    * under it, together with the stage root (`Stage.root`) that queries
    * over it as a data dir stage into. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    temps.add(d)
    d
  }

  /** A fresh copy of sf0.001 in a [[tempDir]]: a new data dir, so every
    * data-dir-keyed stage (fixtures, fitted codebooks) starts empty. */
  def sf0001Copy(prefix: String): String = {
    val src = Paths.get(sf("sf0.001"))
    val copy = tempDir(prefix)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val to = copy.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    copy.toString
  }

  override def afterAll(): Unit =
    try temps.forEach { d =>
      FileSources.rmTree(d.toString)
      FileSources.rmTree(Stage.root(d.toString))
    } finally super.afterAll()
}

object SparkSpec {
  private val warehouse = Files.createTempDirectory("graft-wh").toFile.getAbsolutePath
  sys.addShutdownHook(FileSources.rmTree(warehouse))

  /** The mains' session at 4 cores, with a temp warehouse dir. */
  lazy val session: SparkSession = LocalSession(4, "spark.sql.warehouse.dir" -> warehouse)
}
