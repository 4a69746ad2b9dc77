package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, to_date}

import graft.{GraftSession, Registry, Tables}
import graft.etl.{Consolidator, ExtractionPlanner, Merger, Pipeline}
import graft.meta.{MetaStore, SampleCatalog}

/** The JVM side of the graft benchmark: one workload, one closed-loop
  * client thread, in a fresh JVM on `local[cpus]`.
  *
  * It calls graft only through public entry points (plus the two
  * `private[graft]` staging hooks, which is why it lives in a `graft`
  * subpackage), times every iteration, keeps the last result of every
  * op for the correctness check, and writes one JSON document that
  * `perfbench/run.py` turns into metrics. With `trace=1` it also records
  * spans around each module call plus Spark listener counters.
  *
  * Arguments are `key=value`: workload, data, corpus (optional), work,
  * out, cpus, seconds, seed, trace, queries, curation and streams
  * (comma-separated registry op names, any of them empty), docs, warmup,
  * min_iters.
  */
object Main {

  /** Session set-ups per run; setup_s is their median. */
  private val Setups = 3

  final case class Cfg(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k="))
    def int(k: String): Int = {
      val v = apply(k)
      v.toIntOption.getOrElse(sys.error(s"argument $k=$v is not an integer"))
    }
    def list(k: String): Seq[String] = apply(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = Cfg(args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap)
    val cpus = cfg.int("cpus")
    require(cpus >= 1 && cpus <= 256, s"cpus=$cpus out of range")
    val out = new java.util.LinkedHashMap[String, Any]()
    val code = try { run(cfg, cpus, out); 0 }
    catch { case e: Throwable =>
      e.printStackTrace()
      out.put("fatal", s"${e.getClass.getName}: ${e.getMessage}")
      1
    }
    out.put("vm_hwm_kb", vmHwmKb())
    json.writeValue(Paths.get(cfg("out")).toFile, out)
    sys.exit(code)
  }

  private def vmHwmKb(): Long =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L))
      .getOrElse(-1L)

  /** Build the tuned session and read every input footer; returns seconds. */
  private def setup(cpus: Int, dirs: Seq[String], t0Nanos: Long): (SparkSession, Double) = {
    val spark = GraftSession.tune(GraftSession.build(
      appName = "graft-perfbench", master = s"local[$cpus]"))
    for (d <- dirs; t <- Tables.all) spark.read.parquet(s"$d/$t.parquet").schema
    (spark, (System.nanoTime() - t0Nanos) / 1e9)
  }

  private def run(cfg: Cfg, cpus: Int, out: java.util.Map[String, Any]): Unit = {
    val data = cfg("data")
    // the tables the curation and stream ops read (the TPC-H tables if absent)
    val corpus = cfg.kv.getOrElse("corpus", data)
    val dirs = Seq(data, corpus).distinct
    val work = cfg("work")
    val workload = cfg("workload")
    val traced = cfg("trace") == "1"
    // setup 1 runs from JVM start (class loading included); the later
    // ones rebuild the session after a full stop, so work moved into
    // session construction shows in every sample
    val jvmStartNanos = System.nanoTime() -
      (System.currentTimeMillis() - java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime) * 1000000L
    var (spark, first) = setup(cpus, dirs, jvmStartNanos)
    val setups = mutable.ArrayBuffer(first)
    (2 to Setups).foreach { _ =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      val (s, secs) = setup(cpus, dirs, t0)
      spark = s
      setups += secs
    }
    out.put("setup_s", setups.asJava)
    val phases = new java.util.LinkedHashMap[String, Any]()
    def phase(name: String, t0: Long): Unit = phases.put(name, (System.nanoTime() - t0) / 1e9)
    phase("sessions", jvmStartNanos)
    out.put("default_parallelism", spark.sparkContext.defaultParallelism)

    val tracer = new Tracer(spark, workload, cfg("seed").toLong)
    val w: Workload = if (workload == "warehouse_load") new WarehouseLoad(spark, data, work, tracer)
    else {
      // one part per non-empty op list, run in this order in every iteration
      val parts = Seq[(String, () => Workload)](
        "queries" -> (() => new OpLoop(spark, data, cfg, tracer, "queries", "queries")),
        "curation" -> (() => new Curation(spark, corpus, cfg, tracer)),
        "streams" -> (() => new StreamDrain(spark, corpus, cfg, tracer))
      ).collect { case (k, make) if cfg.list(k).nonEmpty => make() }
      require(parts.nonEmpty, s"workload $workload names no ops")
      if (parts.size == 1) parts.head else new Composite(parts)
    }
    var p0 = System.nanoTime()
    w.prepare()
    phase("prepare", p0)
    p0 = System.nanoTime()
    // untimed warm-up iterations: JIT, codegen and the parquet readers
    // settle before the clock starts
    (1 to cfg.int("warmup")).foreach(k => w.iteration(-k, new java.util.HashMap[String, Any]()))
    w.reset()
    phase("warmup", p0)
    val iters = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    val budgetNs = cfg.int("seconds") * 1000000000L
    val minIters = cfg.int("min_iters")
    val t0 = System.nanoTime()
    var i = 0
    // closed loop: the next iteration starts when the previous one ends;
    // in a traced run every other iteration is left untraced, so the
    // tracing overhead is measured in the same JVM
    while (i < minIters || System.nanoTime() - t0 < budgetNs) {
      val on = traced && i % 2 == 0
      tracer.enabled = on
      val rec = new java.util.LinkedHashMap[String, Any]()
      val own0 = tracer.ownNanos
      val s0 = System.nanoTime()
      tracer.span("iteration", i) { w.iteration(i, rec) }
      rec.put("wall_s", (System.nanoTime() - s0) / 1e9)
      rec.put("tracer_s", (tracer.ownNanos - own0) / 1e9)
      rec.put("traced", on)
      w.settle(rec)
      iters += rec
      i += 1
    }
    tracer.enabled = false
    out.put("measured_s", (System.nanoTime() - t0) / 1e9)
    out.put("iterations", iters.asJava)
    // correctness material, written after the timed region
    p0 = System.nanoTime()
    out.put("checks", w.checks(Paths.get(work, "results")))
    phase("checks", p0)
    out.put("phase_s", phases)
    if (traced) out.put("trace", tracer.dump())
    out.put("attempted", w.attemptedOps)
    out.put("failed", w.failedOps.asJava)
    p0 = System.nanoTime()
    spark.stop()
    phase("stop", p0)
  }

  /** Materialize every output column (collect, not count: count lets
    * Catalyst prune the projection) and keep the rows for the check.
    */
  def materialize(df: DataFrame): (org.apache.spark.sql.types.StructType, Array[Row]) =
    (df.schema, df.collect())

  def writeRows(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      rows: Array[Row], path: Path): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path.toString)
}

/** One workload: untimed preparation, one timed iteration, the checks. */
trait Workload {
  var attempted = 0
  val failed = mutable.ArrayBuffer.empty[String]
  /** Forget the warm-up's op counts. */
  def reset(): Unit = { attempted = 0; failed.clear() }
  def attemptedOps: Int = attempted
  def failedOps: Seq[String] = failed.toSeq
  def prepare(): Unit
  def iteration(i: Int, rec: java.util.Map[String, Any]): Unit
  /** Bookkeeping for iteration `rec`, after its clock has stopped. */
  def settle(rec: java.util.Map[String, Any]): Unit = ()
  def checks(dir: Path): java.util.Map[String, Any]
}

/** Run registry ops one at a time (op.run, then materialize), keeping
  * each op's last result for the DuckDB comparison. Iteration i runs
  * every op once, in an order drawn from (seed, i). `layer` names the
  * span family (`queries`, `ops` or `streaming`).
  */
class OpLoop(spark: SparkSession, data: String, cfg: Main.Cfg, tracer: Tracer,
    layer: String, opsKey: String) extends Workload {
  private val ops = cfg.list(opsKey).map(Registry.byName)
  private val seed = cfg("seed").toLong
  private val last = mutable.LinkedHashMap.empty[String,
    (org.apache.spark.sql.types.StructType, Array[Row])]

  def prepare(): Unit = ()

  /** One op: construct (op.run, which may run eager inner jobs), then
    * the materializing action. A failed op counts as +inf latency.
    */
  private def runOp(op: graft.Op, i: Int): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val df = tracer.span(s"$layer.${op.name}.construct", i) { op.run(spark, data) }
      last(op.name) = tracer.span(s"$layer.${op.name}.action", i) { Main.materialize(df) }
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Exception =>
      System.err.println(s"perfbench: ${op.name} failed: $e")
      failed += op.name
      Double.PositiveInfinity
    }
  }

  def iteration(i: Int, rec: java.util.Map[String, Any]): Unit = {
    val order = new scala.util.Random(seed * 1000003L + i).shuffle(ops)
    val lat = new java.util.LinkedHashMap[String, Any]()
    order.foreach(op => lat.put(op.name, runOp(op, i)))
    rec.put("op_latency_s", lat)
    rec.put("items", ops.size)
  }

  def checks(dir: Path): java.util.Map[String, Any] = {
    val res = new java.util.LinkedHashMap[String, Any]()
    // the writes are small jobs: run them side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try last.toSeq.map { case (name, (schema, rows)) =>
      pool.submit[Unit](() => Main.writeRows(spark, schema, rows, dir.resolve(name)))
    }.foreach(_.get())
    finally pool.shutdown()
    last.foreach { case (name, (_, rows)) =>
      val p = dir.resolve(name)
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("path", p.toString)
      m.put("data", data)
      m.put("rows", rows.length)
      Registry.byName(name).oracle.foreach(sql => m.put("oracle", sql))
      res.put(name, m)
    }
    java.util.Map.of("ops", res)
  }
}

/** corpus_curation: a cold staging pass, then every consumer of the
  * staged artifacts.
  */
class Curation(spark: SparkSession, data: String, cfg: Main.Cfg, tracer: Tracer)
    extends OpLoop(spark, data, cfg, tracer, "ops", "curation") {
  private val docs = cfg.int("docs").toLong
  override def iteration(i: Int, rec: java.util.Map[String, Any]): Unit = {
    val staged = tracer.span("ops.stage", i) {
      graft.ops.Dedup.resetPairStage()
      graft.ops.Dedup.stageAllTimed(spark, data)
    }
    rec.put("stage_s", staged.toMap.asJava)
    super.iteration(i, rec)
    rec.put("items", docs)
  }
}

/** stream_drain: re-stage every stream source, then drain the stream ops. */
class StreamDrain(spark: SparkSession, data: String, cfg: Main.Cfg, tracer: Tracer)
    extends OpLoop(spark, data, cfg, tracer, "streaming", "streams") {
  override def iteration(i: Int, rec: java.util.Map[String, Any]): Unit = {
    tracer.span("streaming.stage", i) {
      graft.streaming.StreamStage.reset()
      graft.streaming.StreamStage.stageAllTimed(spark, data)
    }
    rec.put("rows_before", tracer.inputRows.get())
    super.iteration(i, rec)
  }
  /** Streamed input rows, once every progress event has arrived. */
  override def settle(rec: java.util.Map[String, Any]): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    rec.put("items", tracer.inputRows.get() - rec.remove("rows_before").asInstanceOf[Long])
  }
}

/** Several op workloads run one after another in each iteration, in one
  * JVM. An iteration's items are the ops it timed.
  */
class Composite(parts: Seq[Workload]) extends Workload {
  def prepare(): Unit = parts.foreach(_.prepare())
  def iteration(i: Int, rec: java.util.Map[String, Any]): Unit = {
    val lat = new java.util.LinkedHashMap[String, Any]()
    parts.foreach { w =>
      w.iteration(i, rec)
      lat.putAll(rec.get("op_latency_s").asInstanceOf[java.util.Map[String, Any]])
    }
    rec.put("op_latency_s", lat)
  }
  override def settle(rec: java.util.Map[String, Any]): Unit = {
    parts.foreach(_.settle(rec))
    rec.put("items", rec.get("op_latency_s").asInstanceOf[java.util.Map[String, Any]].size)
  }
  override def reset(): Unit = parts.foreach(_.reset())
  override def attemptedOps: Int = parts.map(_.attemptedOps).sum
  override def failedOps: Seq[String] = parts.flatMap(_.failedOps)
  def checks(dir: Path): java.util.Map[String, Any] = {
    val ops = new java.util.LinkedHashMap[String, Any]()
    parts.foreach(w => ops.putAll(w.checks(dir).get("ops").asInstanceOf[java.util.Map[String, Any]]))
    java.util.Map.of("ops", ops)
  }
}

/** warehouse_load: the reference's nightly metadata-driven load. */
class WarehouseLoad(spark: SparkSession, data: String, work: String, tracer: Tracer)
    extends Workload {
  private val metaDir = s"$work/meta"
  private val landing = s"$data/landing/lineitem"
  private val zones = graft.meta.ZoneConfig("BENCH", s"$work/raw", s"$work/staging",
    s"$work/curated", s"$work/logs")
  private val auditUrl = s"jdbc:derby:$work/audit_db;create=true"
  private val keys = Seq("Order_Key", "Line_Number")
  private val consolidated = s"$work/consolidated/lineitem"
  private val scd2Dir = s"$work/curated/lineitem_scd2"
  private var lastResult: Pipeline.Result = _
  private var staged = Map.empty[String, String]

  /** The catalog as saved: the check renders its oracle from this
    * in-memory copy, so a save/load defect cannot hide in both sides.
    */
  private val saved = MetaStore.sample

  def prepare(): Unit = MetaStore.save(spark, saved, metaDir)

  private def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .map(f => Files.size(f)).sum
      finally s.close()
    }
  }

  def iteration(i: Int, rec: java.util.Map[String, Any]): Unit = {
    attempted += 1
    try {
      val catalog = tracer.span("meta.catalog_load", i) { MetaStore.load(spark, metaDir) }
      val result = tracer.span("etl.extract", i) {
        Pipeline.runStagingExtract(spark, data, catalog.activeSpecs, processId = i + 1L,
          processDate = "2024-01-02", zones = Some(zones))
      }
      staged = tracer.span("sources.write_staged", i) { Pipeline.writeStaged(result, zones) }
      val (nUpdates, filesOut) = tracer.span("etl.consolidate", i) {
        Consolidator.consolidate(spark, landing, consolidated, rowsPerFile = 200000L)
      }
      val lineSpec = catalog.specFor(SampleCatalog.lineitem.table.tableId)
      val (current, updates) = tracer.span("etl.map_output", i) {
        (ExtractionPlanner.mapToOutput(spark.read.parquet(staged("lineitem")), catalog.outputColumns)
          .withColumn("version", lit(0)),
          ExtractionPlanner.mapToOutput(
            ExtractionPlanner.extractFrom(spark.read.parquet(consolidated), lineSpec),
            catalog.outputColumns).withColumn("version", lit(1)))
      }
      tracer.span("etl.upsert", i) {
        Merger.upsert(current, updates, keys, Seq(col("version").desc))
          .write.mode("overwrite").parquet(zones.curatedPathFor("lineitem"))
      }
      tracer.span("etl.scd2", i) {
        Merger.scd2(current.unionByName(updates), keys, Seq(col("version")),
          to_date(lit("2024-01-01")) + col("version"))
          .write.mode("overwrite").parquet(scd2Dir)
      }
      tracer.span("sources.audit_write", i) { Pipeline.writeAuditLog(spark, result, auditUrl) }
      val extracted = result.stages.flatMap(_.rowCount).sum
      lastResult = result
      rec.put("items", extracted + nUpdates)
      rec.put("rows_extracted", extracted)
      rec.put("rows_upserted", nUpdates)
      rec.put("files_out", filesOut)
      if (result.master.status != "SUCCESS") {
        failed += s"pipeline status ${result.master.status}"
        rec.put("failed", true)
      }
    } catch { case e: Exception =>
      System.err.println(s"perfbench: warehouse iteration failed: $e")
      failed += s"iteration $i"
      rec.put("items", 0L)
      rec.put("failed", true)
    }
  }

  override def settle(rec: java.util.Map[String, Any]): Unit = if (lastResult != null) {
    rec.put("files_in", new java.io.File(landing).listFiles().count(_.getName.endsWith(".parquet")))
    rec.put("source_bytes", lastResult.extracts.keys.toSeq.map(t => dirBytes(s"$data/$t.parquet")).sum +
      dirBytes(landing))
    rec.put("bytes_written", (staged.values.toSeq ++ Seq(consolidated,
      zones.curatedPathFor("lineitem"), scd2Dir)).map(dirBytes).sum)
  }

  def checks(dir: Path): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    if (lastResult == null) return m
    val catalog = saved
    m.put("curated", zones.curatedPathFor("lineitem"))
    m.put("scd2", scd2Dir)
    m.put("landing", landing)
    m.put("extract_sql", catalog.activeSpecs.map(s =>
      s.table.tableName -> ExtractionPlanner.renderSql(s)).toMap.asJava)
    m.put("output_columns", catalog.outputColumns.sortBy(_.targetPosition).map { oc =>
      Map("name" -> oc.targetColumnName, "type" -> oc.targetDataType,
        "expr" -> oc.additionalTransform.getOrElse(oc.targetColumnName)).asJava
    }.asJava)
    m.put("stage_log", lastResult.stages.map(s =>
      Map[String, Any]("table" -> s.tableName, "rows" -> s.rowCount.getOrElse(-1L),
        "status" -> s.status).asJava).asJava)
    val audit = spark.read.jdbc(auditUrl, "DW_PROCESS_STAGE_DETAIL", new java.util.Properties())
    m.put("audit_log", audit.collect().map(r =>
      Map[String, Any]("table" -> r.getAs[String]("tableName"),
        "rows" -> Option(r.get(r.fieldIndex("rowCount"))).map(_.toString.toLong).getOrElse(-1L),
        "status" -> r.getAs[String]("status")).asJava).toSeq.asJava)
    m
  }
}
