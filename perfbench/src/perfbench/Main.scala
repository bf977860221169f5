package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.model.Catalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: sets up one seeded workload, runs it in a
  * closed loop with one client, checks every output against the
  * generator's ground truth and writes raw samples, counters and spans as
  * JSON for `run.py` to summarize.
  *
  * Each run does a FIXED amount of work proportional to `--seconds`, so
  * counts repeat exactly for a seed; the loop stops early only once it has
  * run four times `--seconds`.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outFile>
  */
object Main {

  /** Per-workload sizes; see perfbench/README.md for how they relate to
    * the program's caches. An item is one image (lake_cycle) or one batch
    * (ingest_batch). The seeded lake's catalog is partitioned on `seedKey`: one manifest
    * entry per image on "ID", at most five on "SECCION". */
  final case class Sizes(layout: Gen.Layout, seedImages: Int, seedKey: String,
      perSecond: Double, batch: Int)

  val Workloads: Map[String, Sizes] = Map(
    "lake_cycle" -> Sizes(Gen.Layout(8, 24), seedImages = 200, seedKey = "ID",
      perSecond = 0.5, batch = 1),
    "ingest_batch" -> Sizes(Gen.Layout(12, 48), seedImages = 30, seedKey = "SECCION",
      perSecond = 0.3, batch = 120))

  val SetupReps = 3
  val BatchMix = Gen.Mix(located = 0.75, gap = 0.12)
  val CycleMix = Gen.Mix(located = 0.85, gap = 0.08)

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable => // a failed run exits at once, never on Spark's threads
        e.printStackTrace()
        sys.exit(1)
    }

  def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, outFile) = args
    val sizes = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = new File(workDir)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 100000, 1, cpus).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val probe = Probe.install(spark)
    val calStart = calibrate(spark)

    val check = new Check
    val budget = math.max(1, math.ceil(seconds * sizes.perSecond).toInt)
    val reps = mutable.ArrayBuffer.empty[Double]
    var state: Option[Run] = None
    for (r <- 0 until SetupReps) {
      val s0 = System.nanoTime()
      state.foreach(s => deleteTree(s.dir))
      state = Some(setup(spark, workload, sizes, seed, budget, new File(work, s"rep$r"), check))
      reps += (System.nanoTime() - s0) / 1e9
    }
    val run = state.get

    val lake = run.lake
    def loop(ks: Range, deadline: Long) = workload match {
      case "lake_cycle" => Loops.lakeCycle(lake, run, ks, deadline)
      case "ingest_batch" => Loops.ingestBatch(lake, run, ks, deadline)
    }

    // the measured phase: tracing on only in the traced run
    val tr = new Tracer(traced, spark.sparkContext)
    lake.tr = tr
    val before = probe.snapshot()
    val gcBefore = gcMs()
    val txnBefore = lake.txn
    val bytesBefore = lake.bytes
    val deadline = System.nanoTime() + 4L * seconds * 1000000000L
    val m0 = System.nanoTime()
    val result = loop(0 until budget, deadline)
    val wallS = (System.nanoTime() - m0) / 1e9
    val after = probe.snapshot()
    val gcAfter = gcMs()
    val storage = Map(
      "txns" -> (lake.txn - txnBefore).toDouble,
      "manifest_entries" -> lake.manifestEntries.toDouble,
      "manifest_bytes" -> lake.manifestBytes.toDouble,
      "bytes_written" -> (lake.bytes - bytesBefore).toDouble,
      "lake_bytes" -> lake.bytes.toDouble,
      "live_rows" -> lake.liveRows.toDouble)
    val exec = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    // traced runs: the work that only measures, outside the timed loop
    if (traced) {
      for (k <- result.opMs.indices)
        lake.layerProbes(run.itemGlob(k),
          if (workload == "lake_cycle") run.items(k).head.name else s"b$k")
      lake.fileTotals()
    }
    lake.verifyAll()
    val calEnd = calibrate(spark)
    probe.drain()
    val spans = tr.spans.map { s =>
      val counts = probe.spanCounts(s.id).map(_.fields.toMap).getOrElse(Map.empty)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs.toMap, "counts" -> counts)
    }
    val out = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cpus" -> cpus,
      "errors" -> check.errors.toSeq, "failed" -> check.failedOps,
      "attempted" -> result.attempted,
      "session_s" -> sessionS, "setup_reps_s" -> reps.toSeq,
      "wall_s" -> wallS, "items" -> result.items,
      "op_ms" -> result.opMs.toSeq, "retrieve_ms" -> result.retrieveMs.toSeq,
      "storage" -> storage, "exec" -> exec,
      "jvm" -> Map("heap_peak_mb" -> heapPeak, "gc_ms" -> (gcAfter - gcBefore)),
      "calibration" -> Map("cpu_ms_start" -> calStart._1, "spark_ms_start" -> calStart._2,
        "cpu_ms_end" -> calEnd._1, "spark_ms_end" -> calEnd._2),
      "spans" -> spans.toSeq)
    java.nio.file.Files.write(new File(outFile).toPath, out.getBytes("UTF-8"))
    spark.stop()
    deleteTree(work)
  }

  /** Inputs and lake of one set-up repetition. */
  final case class Run(dir: File, lake: Lake, parcels: IndexedSeq[Gen.Parcel],
      items: IndexedSeq[IndexedSeq[Gen.Image]], seed: Long) {
    def itemGlob(k: Int): String = new File(dir, s"items/i$k").getAbsolutePath + "/*"
    def artifactGlob(p: Int): String = new File(dir, s"artifacts/p$p").getAbsolutePath + "/*"
  }

  /** The parcels whose model outputs publication `p` publishes. */
  def publicationParcels(run: Run, p: Int): Seq[Gen.Parcel] = {
    val n = run.parcels.size
    Seq(run.parcels(((p * 7 + run.seed) % n).toInt.abs),
      run.parcels(((p * 11 + run.seed + 3) % n).toInt.abs)).distinct
  }

  def setup(spark: SparkSession, workload: String, sizes: Sizes, seed: Long,
      budget: Int, dir: File, check: Check): Run = {
    val layout = sizes.layout
    val parcels = Gen.parcels(seed, layout)
    val predioFile = new File(dir, "predios.json")
    dir.mkdirs()
    java.nio.file.Files.write(predioFile.toPath, Gen.predioJson(parcels).getBytes("UTF-8"))
    val predios = spark.createDataFrame(
      spark.read.schema(Lake.predioSchema).json(predioFile.getAbsolutePath).collectAsList(),
      Lake.predioSchema)
    val lake = new Lake(spark, new File(dir, "lake").getAbsolutePath,
      new Tracer(false, spark.sparkContext), predios, layout.cell, check)

    // the loop's inputs, all generated and written before anything is timed
    val n = budget
    val items = workload match {
      case "ingest_batch" =>
        (0 until n).map(k => Gen.images(seed, s"b$k", sizes.batch, parcels, layout, BatchMix,
          jpegShare = 0.5))
      case _ =>
        Gen.images(seed, "img", n, parcels, layout, CycleMix, jpegShare = 0.7).map(IndexedSeq(_))
    }
    val run = Run(dir, lake, parcels, items, seed)
    for (k <- 0 until n; i <- items(k)) Gen.write(new File(dir, s"items/i$k"), i.name, i.bytes)
    val rnd = new java.util.SplittableRandom(seed)
    for (p <- 0 until n; parcel <- publicationParcels(run, p); name <- Gen.artifactNames(parcel))
      Gen.write(new File(dir, s"artifacts/p$p"), name,
        Array.fill(64 + rnd.nextInt(64))(rnd.nextInt(256).toByte))

    // the seeded lake: run 1 loaded in bulk, run 2 takes the loop's images
    val seedImgs = Gen.images(seed, "seed", sizes.seedImages, parcels, layout,
      if (workload == "ingest_batch") BatchMix else CycleMix, 0.7)
    val seedDir = new File(dir, "seed")
    seedImgs.foreach(i => Gen.write(seedDir, i.name, i.bytes))
    lake.seedLoad(seedImgs, seedDir.getAbsolutePath + "/*", sizes.seedKey)
    // warm-up: every read shape once (the first J1 also pays the seed
    // commit's cold per-txn caches)
    lake.j1(parcels.head.indice, "warm")
    lake.fetchIds(lake.model.cat.keys.toSeq.sorted.take(3), "warm")
    lake.lookup(Gen.Sentinel, "warm")
    run
  }

  /** Host calibration: a fixed pure-JVM CPU loop and one fixed tiny Spark
    * job, in ms; run at the start and at the end of every run so a slow
    * host window labels itself. */
  def calibrate(spark: SparkSession): (Double, Double) = {
    val c0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; i += 1 }
    val cpu = (System.nanoTime() - c0) / 1e6
    if (h == 42L) println("") // keeps the loop live
    val s0 = System.nanoTime()
    spark.range(0, 200000, 1, 4).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    (cpu, (System.nanoTime() - s0) / 1e6)
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }
  def obj(kv: (String, Any)*): String = render(kv.toMap)
}
