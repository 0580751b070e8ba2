package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, File, FileInputStream, FileOutputStream,
  ObjectInputStream, ObjectOutputStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** One operation as run: wall interval (epoch ms) and outcome. */
final case class OpRun(name: String, group: String, start: Double, end: Double, ok: Boolean) {
  def seconds: Double = (end - start) / 1000
}

/** One pass: every operation of the workload once, over a fresh data dir. */
final case class PassRun(index: Int, traced: Boolean, start: Double, end: Double, ops: Seq[OpRun],
                         layer: Map[String, Double],
                         cpuS: Double, gcS: Double, storageMb: Double, rdds: Int, heapMb: Double) {
  def seconds: Double = (end - start) / 1000
}

/** The benchmark's JVM side: builds the session, warms up, runs timed
  * passes for the requested seconds, checks the last pass's outputs and
  * writes every metric to `<out>/jvm.json` (spans to `<out>/spans.jsonl`).
  *
  * Usage: Main --workload W --data DIR --out DIR --seconds S --trace 0|1
  * `DIR/base` holds the generated inputs of the timed passes, `DIR/warm`
  * the smaller inputs of the warm-up passes (same generator and shape).
  * Each warm-up and each pass reads its own hard-linked copy under a path
  * the session has not seen, so the program's dir-keyed caches start cold.
  */
object Main {
  /** Set-ups per run, each a session build, listener and extension
    * registration and a warm-up pass (the first in a cold JVM). Two keep
    * a run near a minute on 4 cores. */
  val Setups = 2
  private val MB = 1024.0 * 1024.0
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds = os.getProcessCpuTime / 1e9
  private def gcSeconds = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  def session(nproc: Int, localDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Hard-links every file under `from` into `to` (copies where links fail). */
  def linkTree(from: File, to: File): File = {
    to.mkdirs()
    for (f <- from.listFiles()) {
      val dest = new File(to, f.getName)
      if (f.isDirectory) linkTree(f, dest)
      else try Files.createLink(dest.toPath, f.toPath) catch {
        case NonFatal(_) => Files.copy(f.toPath, dest.toPath)
      }
    }
    to
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def diskFull(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("No space left on device")))

  /** Drops what a pass left in the session: cached plans and every
    * persisted or checkpointed block. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Removes the staging a finished pass wrote beside its data dir and
    * the live gates' temporary stream dirs. */
  def cleanPass(dir: File, tmp: File): Unit = {
    deleteTree(new File(graft.Stage.root(dir.getPath)))
    deleteTree(dir)
    Option(tmp.listFiles()).foreach(_.filter(f => f.getName.startsWith("graft_") && f.getName.contains("live"))
      .foreach(deleteTree))
  }

  /** Runs one pass. Its outputs go to `outputsFile` (Java-serialized; a
    * warm-up pass has none and drops them) and are gone from the heap
    * before `resident_mb` is read, so that figure counts what the session
    * holds, not the benchmark's results. */
  def runPass(spark: SparkSession, wl: Workload, dir: File, index: Int, traced: Boolean,
              probe: Probe, tmp: File, outputsFile: Option[File]): PassRun = {
    probe.traced = traced
    val ops = wl.ops(spark, dir.getPath)
    val layer = mutable.Map.empty[String, Double]
    val outputs = mutable.Map.empty[String, AnyRef]
    val cpu0 = cpuSeconds
    val gc0 = gcSeconds
    val start = nowMs
    val runs = ops.map { op =>
      val t0 = nowMs
      val ok = try { outputs(op.name) = op.call(layer); true } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.name} failed: ${e.getClass.getName}: ${e.getMessage}")
          if (diskFull(e)) {
            // The op's shuffle and spill files are what filled the disk:
            // drop every block and let the context cleaner delete the
            // files of the dead shuffles, so the later ops still run.
            spark.sparkContext.cancelAllJobs()
            release(spark)
            System.gc()
          }
          false
      }
      OpRun(op.name, op.group, t0, nowMs, ok)
    }
    val end = nowMs
    System.err.println(f"[perfbench] pass $index%d: ${(end - start) / 1000}%.2f s; slowest " +
      runs.sortBy(-_.seconds).take(4).map(o => f"${o.name} ${o.seconds}%.2f").mkString(", "))
    val cpu = cpuSeconds - cpu0
    val gc = gcSeconds - gc0
    val storage = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
    val rdds = spark.sparkContext.getPersistentRDDs.size
    outputsFile.foreach { f =>
      val oos = new ObjectOutputStream(new BufferedOutputStream(new FileOutputStream(f)))
      try oos.writeObject(outputs.toMap) finally oos.close()
    }
    outputs.clear()
    // What the session still holds once the pass is over: the heap's live
    // set after a full collection (Spark's memory-store blocks included).
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    PassRun(index, traced, start, end, runs, layer.toMap, cpu, gc, storage, rdds, heap)
  }

  def readOutputs(f: File): Map[String, AnyRef] = {
    val ois = new ObjectInputStream(new BufferedInputStream(new FileInputStream(f)))
    try ois.readObject().asInstanceOf[Map[String, AnyRef]] finally ois.close()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads(opt("workload"))
    val data = new File(opt("data"))
    val out = new File(opt("out"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val nproc = Runtime.getRuntime.availableProcessors
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val localDir = new File(out, "spark-local")
    localDir.mkdirs()
    val outputsFile = new File(out, "outputs.ser")

    // Set-up, several times: session build, listener and extension
    // registration, and a warm-up pass.
    var spark: SparkSession = null
    var probe: Probe = null
    val setupS = (0 until Setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(nproc, localDir)
      probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      val dir = linkTree(new File(data, "warm"), new File(data, s"warm-$i"))
      runPass(spark, wl, dir, -1, traced = false, probe, tmp, None)
      release(spark)
      val s = (System.nanoTime() - t0) / 1e9
      cleanPass(dir, tmp)
      s
    }

    // Timed passes. A traced run alternates untraced and traced passes,
    // so its tracing overhead is measured against untraced passes of the
    // same run. It runs at least three (untraced, traced, untraced): the
    // first pass, the first at full size, runs slower than the later ones.
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val timedStart = System.nanoTime()
    val minPasses = if (trace) 3 else 1
    var prev: Option[File] = None
    while (passes.size < minPasses || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      val i = passes.size
      val dir = linkTree(new File(data, "base"), new File(data, f"pass-$i%03d"))
      val p = runPass(spark, wl, dir, i, traced = trace && i % 2 == 1, probe, tmp, Some(outputsFile))
      if (p.traced) probe.drain()
      passes += p
      release(spark)
      prev.foreach(cleanPass(_, tmp))
      prev = Some(dir)
    }
    probe.drain()

    val checkStart = System.nanoTime()
    val checkLayer = mutable.Map.empty[String, Double]
    val checks = try wl.check(spark, prev.get.getPath, readOutputs(outputsFile), new File(out, "results"), checkLayer)
      catch { case NonFatal(e) => Seq(s"check raised ${e.getClass.getName}: ${e.getMessage}") }
    checks.foreach(c => System.err.println(s"[perfbench] check failed: $c"))
    System.err.println(f"[perfbench] set-ups ${setupS.map(s => f"$s%.2f").mkString(", ")} s; " +
      f"checks ${(System.nanoTime() - checkStart) / 1e9}%.2f s")

    val docs = spark.read.parquet(new File(data, "base/documents.parquet").getPath).count().toDouble
    val m = new Metrics(passes.toSeq, probe, setupS, docs, checkLayer.toMap)
    val metrics = if (trace) m.perLayer else m.endToEnd
    val attempted = passes.map(_.ops.size).sum
    val failed = passes.map(_.ops.count(!_.ok)).sum
    val stamps = Seq(
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "nproc" -> nproc.toString,
      "setups_s" -> setupS.map(Json.num).mkString("[", ", ", "]"),
      "passes" -> passes.size.toString,
      "pass_s" -> passes.map(p => Json.num(p.seconds)).mkString("[", ", ", "]"),
      "failed_ops" -> passes.flatMap(_.ops.filterNot(_.ok).map(o => Json.str(o.name))).mkString("[", ", ", "]"))
    val json = Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "checks" -> checks.map(Json.str).mkString("[", ", ", "]"),
      "data_dir" -> Json.str(prev.get.getPath),
      "metrics" -> Json.obj(metrics.map { case (k, (v, unit)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit))) }),
      "stamps" -> Json.obj(stamps)))
    Files.writeString(Paths.get(out.getPath, "jvm.json"), json)
    Files.writeString(Paths.get(out.getPath, "spans.jsonl"), m.spans.map { s =>
      Json.obj(Seq("kind" -> Json.str(s.kind), "name" -> Json.str(s.name), "start" -> Json.num(s.start),
        "end" -> Json.num(s.end), "parent" -> Json.str(s.parent)))
    }.mkString("", "\n", "\n"))
    spark.stop()
  }
}
