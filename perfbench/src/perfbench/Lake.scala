package perfbench

import java.io.File
import scala.collection.mutable
import graft.model.Catalog
import graft.ops.CatalogOps
import graft.pipelines.Pipelines
import graft.sources.{BinarySource, Exif, GeoTiff}
import graft.storage.{GraftLake, TxnCatalog}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What the lake must hold: the benchmark's own model of every catalog
  * row, lineage row and run, kept from the generator's ground truth and
  * the program's documented key rules. */
final class Model {
  final case class Cat(indice: String, ruta: Option[String], tipo: Int, proceso: Int)
  val cat = mutable.Map.empty[Long, Cat]
  val lineage = mutable.Map.empty[Long, Long] // image id -> run id
  val proc = mutable.Map.empty[Long, Int]     // run id -> ID_PROCESO

  def maxId: Long = if (cat.isEmpty) 0L else cat.keys.max

  /** `CatalogAppend` / `assignIds` keys new rows max(ID)+row_number
    * ordered by RUTA_RESULTADO ascending, nulls first; rows with a null
    * key are identical, so their relative order is immaterial. */
  def append(rows: Seq[Cat], run: Option[Long]): Seq[Long] = {
    val base = maxId
    rows.sortBy(r => (r.ruta.isDefined, r.ruta.getOrElse(""))).zipWithIndex.map { case (r, i) =>
      val id = base + 1 + i
      cat(id) = r
      run.foreach(lineage(id) = _)
      id
    }
  }

  /** J1 (`CatalogOps.getUrlList`) over the model. */
  def j1(indice: String, tipos: Set[Int], proceso: Int): Set[(Long, String)] =
    cat.collect {
      case (id, r) if r.indice == indice && tipos(r.tipo) &&
        lineage.get(id).flatMap(proc.get).contains(proceso) => (id, r.ruta.orNull)
    }.toSet
}

object Lake {
  val StatsCols = Seq("ID", "INDICE", "ID_TIPO_IMG", "ID_EJECUCION",
    "ID_IMAGEN_FUENTE", "ID_PROCESO")
  val J1Tipos = Seq(Catalog.TipoImg.RawJpeg, Catalog.TipoImg.GeoTiff)
  val Processed = 1 // ID_TIPO_IMG after the state flip
  val Fecha = "2026-01-15"

  val predioSchema: StructType = StructType(Seq(
    StructField("predioId", LongType),
    StructField("ring", ArrayType(StructType(Seq(
      StructField("x", DoubleType), StructField("y", DoubleType))))),
    StructField("CODIGO", StringType), StructField("NOMBRE", StringType),
    StructField("SECCION", StringType), StructField("TIPOUSO", StringType),
    StructField("APL", StringType)))

  object Scans extends AdaptiveSparkPlanHelper {
    /** Files the executed plan's parquet scans actually opened. */
    def filesRead(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum

    /** Rows the executed plan's nested-loop joins produced. */
    def nestedLoopRows(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case j: BroadcastNestedLoopJoinExec =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
  }

  def tipoOf(jpeg: Boolean): Int =
    if (jpeg) Catalog.TipoImg.RawJpeg else Catalog.TipoImg.GeoTiff

  def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
}

/** One lake under `root` plus the calls the workloads make into the
  * program, each wrapped in a span named after the layer it enters. */
final class Lake(val spark: SparkSession, val root: String, var tr: Tracer,
    val predios: DataFrame, val cell: Double, val check: Check) {
  import Lake._
  val model = new Model
  /** The txn of the benchmark's last commit: every commit returns it, so
    * reads need no extra catalog I/O to know which txn they saw. */
  var txnNow = 0L
  private def committed(txn: Long): Long = { txnNow = txn; txn }

  /** Materialize a small frame once, as a client does before using it
    * twice; the result is a local relation. */
  def local(df: DataFrame): (Array[Row], DataFrame) = {
    val rows = df.collect()
    (rows, spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
  }

  def table(t: String): DataFrame = tr("skip.table_resolve") {
    GraftLake.table(spark, root, t).getOrElse(sys.error(s"table $t missing under $root"))
  }

  def snapshot(): TxnCatalog.Snapshot = tr("storage.snapshot") {
    TxnCatalog.snapshot(spark, root).get
  }

  def commit(parts: Seq[(String, String, DataFrame)]): Long = tr("storage.commit") {
    committed(TxnCatalog.commitPartitions(spark, root, parts, statsColumns = StatsCols))
  }

  /** Traced runs only, after the measured loop: the decode and classify
    * layers on their own over an item's files, so their cost and outcome
    * shares are measured without adding work to the timed items. The
    * 1-NN pair count is the row count of the executed nearest-vertex
    * join, the only nested-loop join in the classification plan. */
  def layerProbes(glob: String, req: String): Unit = if (tr.enabled) {
    val bin = BinarySource.readBinary(spark, glob)
    val (_, pts) = tr("sources.decode", req) {
      val (rows, d) = local(bin
        .select(col("path"), Exif.gpsUdf(col("content")).as("g"),
          GeoTiff.centroidUdf(col("content")).as("t"))
        .select(col("path"), coalesce(col("g.lon"), col("t.lon")).as("cx"),
          coalesce(col("g.lat"), col("t.lat")).as("cy")))
      tr.attr("images", rows.length)
      tr.attr("located", rows.count(!_.isNullAt(1)))
      (rows, d)
    }
    tr("geo.classify", req) {
      val df = graft.geo.SpatialJoin.classify(pts, predios, "path", "cx", "cy",
        "ring", "predioId", cell)
      val out = df.collect()
      val by = out.groupBy(_.getAs[String]("method")).map { case (k, v) => k -> v.length }
      tr.attr("points", out.length)
      tr.attr("contains", by.getOrElse("contains", 0).toDouble)
      tr.attr("nearest", by.getOrElse("nearest", 0).toDouble)
      tr.attr("nn_pairs", Scans.nestedLoopRows(df).toDouble)
    }
  }

  /** `ingestClassify` over the files at `glob`, materialized once and
    * checked image by image against the generator's truth. */
  private def classify(imgs: Seq[Gen.Image], glob: String, req: String): DataFrame = {
    val bin = tr("sources.read_binary", req) { BinarySource.readBinary(spark, glob) }
    val (rows, cls) = tr("pipelines.ingest_classify", req) {
      local(Pipelines.ingestClassify(bin, predios, cell))
    }
    val truth = imgs.map(i => i.name -> i).toMap
    check(rows.length == imgs.size, s"$req: ${rows.length} classified rows for ${imgs.size} images")
    rows.foreach { r =>
      val name = r.getAs[String]("path").split('/').last
      truth.get(name) match {
        case None => check(false, s"$req: unexpected image $name")
        case Some(i) =>
          check(r.getAs[String]("method") == i.method &&
            r.getAs[String]("INDICE") == i.indice &&
            Option(r.getAs[String]("RUTA_RESULTADO")) == i.ruta,
            s"$req: $name classified ${r.getAs[String]("method")}/" +
              s"${r.getAs[String]("INDICE")}, expected ${i.method}/${i.indice}")
      }
    }
    cls
  }

  /** Read → classify → catalogAppend → one commit of catalog + lineage.
    * Each image kind gets its own `catalogAppend` (one ID_TIPO_IMG per
    * call; JPEGs first, each call keyed after the previous one) and its
    * own partition, all in the one commit. Returns the new IDs. */
  def ingest(imgs: Seq[Gen.Image], glob: String, part: String, run: Long,
      req: String): Seq[Long] = {
    val cls = classify(imgs, glob, req)
    val cat0 = table("catalog")
    val lin0 = table("lineage")
    val kinds = imgs.map(_.jpeg).distinct.sorted.reverse // JPEG first
    val appended = tr("pipelines.catalog_append", req) {
      kinds.foldLeft((cat0, Seq.empty[(Int, DataFrame, DataFrame)])) {
        case ((catalog, done), jpeg) =>
          val tipo = tipoOf(jpeg)
          val isJpeg = BinarySource.isJpeg(col("path"))
          val (cat, lin) = Pipelines.catalogAppend(catalog, lin0,
            cls.filter(if (jpeg) isJpeg else !isJpeg), run, tipo, Catalog.Proceso.Ingest)
          (catalog.unionByName(cat), done :+ ((tipo, cat, lin)))
      }._2
    }
    def name(tipo: Int) = if (kinds.size == 1) part else s"$part-tipo$tipo"
    commit(appended.flatMap { case (tipo, cat, lin) =>
      Seq(("catalog", name(tipo), cat), ("lineage", name(tipo), lin)) })
    kinds.flatMap { jpeg =>
      val kind = imgs.filter(_.jpeg == jpeg)
      model.append(kind.map(i => model.Cat(i.indice, i.ruta, tipoOf(jpeg), Catalog.Proceso.Ingest)),
        Some(run))
    }
  }

  /** Set-up load through the same pipeline in ONE bulk commit: one
    * catalog partition per value of `key` (`commitPartitioned`), the
    * run's lineage as one partition, and both run rows. The seed run
    * ingests every image as ID_TIPO_IMG 0. */
  def seedLoad(imgs: Seq[Gen.Image], glob: String, key: String): Unit = {
    val tipo = Catalog.TipoImg.RawJpeg
    val cls = classify(imgs, glob, "seed")
    val (cat, lin) = Pipelines.catalogAppend(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), Catalog.catalogSchema),
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        Catalog.detalleEjecucionSchema),
      cls, 1L, tipo, Catalog.Proceso.Ingest)
    val runs = Seq(1L, 2L).map(r => ("proc", s"run=$r", spark.range(1).select(
      lit(r).as("ID_EJECUCION"), lit(Catalog.Proceso.Ingest).as("ID_PROCESO"),
      to_timestamp(lit(Fecha)).as("FECHA"))))
    committed(TxnCatalog.commitPartitioned(spark, root, "catalog", cat, key,
      statsColumns = StatsCols, extraUpdates = ("lineage", "run=1", lin) +: runs))
    Seq(1L, 2L).foreach(model.proc(_) = Catalog.Proceso.Ingest)
    model.append(imgs.map(i => model.Cat(i.indice, i.ruta, tipo, Catalog.Proceso.Ingest)),
      Some(1L))
  }

  /** E3: artifact files → modelPublication → keyed catalog rows → commit. */
  def publish(parcels: Seq[Gen.Parcel], glob: String, part: String, req: String): Seq[Long] = {
    val arts = tr("sources.read_binary", req) { BinarySource.readBinary(spark, glob).select("path") }
    val (rows, pub) = tr("pipelines.model_publication", req) {
      local(Pipelines.modelPublication(arts, Fecha))
    }
    val expected = parcels.flatMap(p => Gen.artifactNames(p).map(n =>
      (p.indice, s"${p.codigo}/${p.indice}/$Fecha/$n"))).sorted
    check(rows.map(r => (r.getAs[String]("INDICE"), r.getAs[String]("RUTA_RESULTADO")))
      .toSeq.sorted == expected, s"$req: model publication rows differ from the artifacts")
    val cat0 = table("catalog")
    val keyed = CatalogOps.assignIds(cat0, "ID", pub, "RUTA_RESULTADO")
      .select(col("ID"), col("INDICE"), col("CODIGO"), col("NOMBRE_PREDIO"),
        col("SECCION"), col("ESPECIE"), col("APL").cast("double").as("APL"),
        col("ID_TIPO_IMG"), col("ID_PROCESO"), col("RUTA_RESULTADO"),
        current_timestamp().as("FECHA"))
    commit(Seq(("catalog", part, keyed)))
    model.append(expected.map { case (ind, ruta) =>
      model.Cat(ind, Some(ruta), Catalog.TipoImg.ModelArtifact, Catalog.Proceso.ModelPublication)
    }, None)
  }

  /** S12 state flip: ID_TIPO_IMG := processed for exactly `ids`. */
  def flip(ids: Seq[Long], req: String): Unit = {
    tr("storage.update", req) {
      committed(TxnCatalog.updateWhere(spark, root, "catalog", s"ID IN (${ids.mkString(",")})",
        Seq("ID_TIPO_IMG" -> Processed.toString), bounds = Seq(("ID", ids.min, ids.max))))
    }
    ids.foreach(id => model.cat(id) = model.cat(id).copy(tipo = Processed))
  }

  /** J1 over `GraftLake.table` frames, checked against the model. */
  def j1(indice: String, req: String): Int = {
    val rows = tr("ops.get_url_list", req) {
      val df = CatalogOps.getUrlList(table("proc"), table("lineage"), table("catalog"),
        Catalog.Proceso.Ingest, J1Tipos, indice)
      val rows = df.collect()
      if (tr.enabled) scanAttrs(df, rows.length, Seq("proc", "lineage", "catalog"))
      rows
    }
    val got = rows.map(r => (r.getLong(0), r.getString(1))).toSet
    check(got == model.j1(indice, J1Tipos.toSet, Catalog.Proceso.Ingest),
      s"$req: j1($indice) returned ${got.size} rows, model has " +
        s"${model.j1(indice, J1Tipos.toSet, Catalog.Proceso.Ingest).size}")
    rows.length
  }

  /** Files opened and rows returned, on the read's span. The files
    * present at the txn the read saw are counted after the measured loop
    * (`fileTotals`), so the timed reads do no extra listing. */
  private val unresolved = mutable.ArrayBuffer.empty[(Span, Long, Seq[String])]
  private def scanAttrs(df: DataFrame, returned: Int, tables: Seq[String]): Unit = {
    tr.attr("rows_returned", returned)
    tr.attr("files_read", Scans.filesRead(df).toDouble)
    tr.current.foreach(s => unresolved += ((s, txnNow, tables)))
  }

  /** Sets `files_total` on every traced read: the files of the tables it
    * read, at the txn it saw. */
  def fileTotals(): Unit = {
    val snaps = mutable.Map.empty[Long, TxnCatalog.Snapshot]
    for ((span, txn, tables) <- unresolved) {
      val snap = snaps.getOrElseUpdate(txn, TxnCatalog.snapshotAt(spark, root, txn))
      span.attrs("files_total") =
        tables.map(t => GraftLake.index(spark, root, t, snap).inputFiles.length).sum.toDouble
    }
    unresolved.clear()
  }

  /** `Snapshot.readWhereIn` ID fetch, checked against the model. */
  def fetchIds(ids: Seq[Long], req: String): Int = {
    val snap = snapshot()
    val rows = tr("storage.read_where_in", req) {
      val df = snap.readWhereIn("catalog", "ID", ids).get.select("ID", "INDICE", "RUTA_RESULTADO")
      val rows = df.collect()
      if (tr.enabled) scanAttrs(df, rows.length, Seq("catalog"))
      rows
    }
    val got = rows.map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    check(got == ids.map(id => (id, model.cat(id).indice, model.cat(id).ruta)).toSet,
      s"$req: readWhereIn returned ${got.size} rows for ${ids.size} ids")
    rows.length
  }

  /** INDICE point lookup through `GraftLake.table`, checked. */
  def lookup(indice: String, req: String): Int = {
    val rows = tr("ops.indice_lookup", req) {
      val df = table("catalog").where(col("INDICE") === indice).select("ID", "RUTA_RESULTADO")
      val rows = df.collect()
      if (tr.enabled) scanAttrs(df, rows.length, Seq("catalog"))
      rows
    }
    val got = rows.map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    check(got == model.cat.collect { case (id, c) if c.indice == indice => (id, c.ruta) }.toSet,
      s"$req: lookup($indice) returned ${got.size} rows")
    rows.length
  }

  /** Full scans of catalog, lineage and runs against the model: exactly
    * one catalog row per image with its INDICE, RUTA and state, lineage
    * rows matching, nothing else. */
  def verifyAll(): Unit = {
    val snap = TxnCatalog.snapshot(spark, root).get
    val cat = snap.read("catalog").get
      .select("ID", "INDICE", "RUTA_RESULTADO", "ID_TIPO_IMG", "ID_PROCESO").collect()
    check(cat.length == model.cat.size, s"catalog holds ${cat.length} rows, expected ${model.cat.size}")
    cat.foreach { r =>
      val id = r.getLong(0)
      val got = model.Cat(r.getString(1), Option(r.getString(2)), r.getInt(3), r.getInt(4))
      check(model.cat.get(id).contains(got), s"catalog row $id is $got, expected ${model.cat.get(id)}")
    }
    val lin = snap.read("lineage").get.select("ID_IMAGEN_FUENTE", "ID_EJECUCION").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    check(lin.length == model.lineage.size && lin.toMap == model.lineage.toMap,
      s"lineage holds ${lin.length} rows, expected ${model.lineage.size}")
    val runs = snap.read("proc").get.select("ID_EJECUCION", "ID_PROCESO").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    check(runs == model.proc.toMap, "run table differs from the model")
  }

  def liveRows: Long = model.cat.size.toLong
  def bytes: Long = Lake.dirBytes(new File(root))
  def txn: Long = TxnCatalog.currentTxn(spark, root).getOrElse(0L)
  def manifestEntries: Long = {
    val s = TxnCatalog.snapshot(spark, root).get
    s.tables.map(t => s.partitions(t).size.toLong).sum
  }
  def manifestBytes: Long = new File(s"$root/_txns/$txn").length()
}

/** Correctness gate: every mismatch is recorded; any one fails the run. */
final class Check {
  val errors = mutable.ArrayBuffer.empty[String]
  var failedOps = 0
  def apply(ok: Boolean, msg: => String): Unit =
    if (!ok) { if (errors.size < 20) errors += msg; failedOps += 1 }
}
