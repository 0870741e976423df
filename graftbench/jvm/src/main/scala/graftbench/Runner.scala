package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.pipeline.Pipeline

/** Runs one workload against the program's public API and writes what it
  * measured to `<work>/result.json`; `run.py` checks the outputs and
  * prints the metrics.
  *
  * Usage: Runner <workload> <dataDir> <warmDataDir> <workDir> <seconds> <trace 0|1>
  *
  * The loop is closed with one client thread: each op starts when the
  * previous one has returned. Set-up runs first (see [[setup]]); the timed
  * region then repeats whole passes until `seconds` have passed.
  */
object Runner {

  /** One op's record. `out` is the directory its output was written to. */
  final case class OpRec(id: Int, name: String, pass: Int, wallS: Double, cpuS: Double,
      error: String, out: String, day: String)

  final class Ctx(val spark: SparkSession, val data: String, val work: String,
      val tracer: Tracer) {
    val out = s"$work/out"
    val loadRoot = s"$work/load"
  }

  /** An op: name and the call it makes for a pass and its day. It returns
    * the directory its checked output lands in. */
  final case class Op(name: String, run: (Ctx, Int, String) => String)

  val etlQueries: Seq[String] = Seq(
    "q_extract_daily", "q_item_master", "q_wip_agg", "q_wip_priority",
    "q_tenant_fanout", "q_cycle_time", "q_equip_util", "q_upsert",
    "q_validate", "q_schema_apply", "q_schema_validate", "q_schema_drift",
    "q_run_durations", "q_step_stats", "q_step_durations_status",
    "q_materializations", "q_partition_listing", "q_part_complete",
    "q_backfill_plan", "q_run_failures", "q_run_metadata", "q_sql_model",
    "q_item_enriched", "q_incr_merge", "q_cdc_apply")
  val corpusQueries: Seq[String] = Seq(
    "q_corpus_prep", "q_corpus_prep_bpe", "q_decontam", "q_text_quality",
    "q_dedup_minhash", "q_dedup_staged")
  /** Stages of graft's recurring close that each build at most one
    * substrate table: the ingest decide against the persisted signature
    * index, the ranking over the bucketed trade-edge table, the two-batch
    * ingest chain (its signature passes overlapped under `Par`) and the
    * `Reconcile` table digest. etl_day runs them after its loads. */
  val closeQueries: Seq[String] = Seq(
    "q_ingest_decide", "q_pagerank", "q_dedup_ingest", "q_table_digest")

  /** Registered query: registry lookup, build, then the final action
    * (a parquet write of the result). */
  def query(name: String): Op = Op(name, (c, pass, _) => {
    val fn = c.tracer.span("registry.lookup")(SparkEntry.queries(name))
    val df = c.tracer.span("op.build")(fn(c.spark, c.data))
    val dst = s"${c.out}/p$pass/$name"
    c.tracer.span("op.action")(df.write.mode(SaveMode.Overwrite).parquet(dst))
    dst
  })

  /** Partition date of a pass: set-up (-1) takes 2024-01-01 and the timed
    * passes advance from 2024-01-02. */
  def dayOf(pass: Int): String =
    java.time.LocalDate.parse("2024-01-01").plusDays((pass + 1) % 30).toString

  /** Dated extract of one day's events, loaded as its daily partition. */
  val extractLoad: Op = Op("load_daily", (c, _, day) => {
    val next = java.time.LocalDate.parse(day).plusDays(1).toString
    val df = c.tracer.span("tables.read")(Tables.eventsDayRange(c.spark, c.data, day, next))
    c.tracer.span("load.write")(Pipeline.writeDaily(df, c.loadRoot, "raw", "events", day))
  })

  /** Merges the day's last event per user into the keyed `user_last`
    * table that persists across passes; a copy of the result is kept,
    * untimed, for the check. */
  val upsertLoad: Op = Op("load_upsert", (c, _, day) => {
    val next = java.time.LocalDate.parse(day).plusDays(1).toString
    val events = c.tracer.span("tables.read")(Tables.events(c.spark, c.data))
    val updates = events
      .where(col("ts") >= lit(java.sql.Timestamp.valueOf(s"$day 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf(s"$next 00:00:00")))
      .groupBy("user_id")
      .agg(max(struct(col("event_id"), col("ts"), col("event_type"), col("value"))).as("e"))
      .select(col("user_id"), col("e.event_id").as("event_id"), col("e.ts").as("ts"),
        col("e.event_type").as("event_type"), col("e.value").as("value"))
    val table = s"${c.loadRoot}/user_last"
    c.tracer.span("load.upsert")(Pipeline.upsertTable(c.spark, table, updates, Seq("user_id")))
    table
  })

  def workload(name: String): Seq[Op] = name match {
    case "etl_day" => (extractLoad +: etlQueries.map(query) :+ upsertLoad) ++ closeQueries.map(query)
    case "corpus_prep" => corpusQueries.map(query)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Untimed set-up after the session starts.
    *
    * etl_day loads the keyed `user_last` table with the previous day, as
    * the deployed daily job finds it; its pass then runs cold, because the
    * daily job starts as a new process each day and its users wait for
    * the JIT and codegen warm-up too. So do the close stages: a new
    * process builds the substrate tables they read lazily, on first use.
    *
    * corpus_prep runs one warm-up pass first, over the small catalog
    * tables in `warm`: cold, its pass takes about twice a warm one, which
    * would hide the per-row work this workload is here to measure. */
  def setup(name: String, c: Ctx, warm: Ctx, runPass: (Int, Ctx) => (Double, Double)): Unit = name match {
    case "etl_day" => upsertLoad.run(c, -1, dayOf(-1))
    case _ =>
      runPass(-1, warm)
      rmTree(new File(s"${c.out}/p-1"))
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new File(dst, f.getName)))
    } else Files.copy(src.toPath, dst.toPath)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this process so far. Unlike wall time it
    * excludes the time the host takes a virtual CPU away (steal). */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after full GCs: the least of three readings, since
    * Spark's cleaner threads release some objects only after a collection. */
  def heapAfterGcMb: Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  def main(args: Array[String]): Unit = {
    val Array(wName, data, warmData, work, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val tracer = new Tracer(traceArg == "1")
    val cores = Runtime.getRuntime.availableProcessors()
    Seq("out", "load", "tmp", "spark-local").foreach { d =>
      rmTree(new File(s"$work/$d")); new File(s"$work/$d").mkdirs()
    }
    require(RelocatingLocalFs.root == s"$work/tmp", "graftbench.tmp must name <work>/tmp")

    // graft.Bench's session settings at local[N]; the extra settings only
    // keep Spark's files inside the work directory
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[RelocatingLocalFs], s"local file system is ${fs.getClass.getName}")
    val listener = new JobListener
    val substrateWrites = new SubstrateWrites
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(substrateWrites)
    }
    val c = new Ctx(spark, data, work, tracer)
    val warm = new Ctx(spark, warmData, work, tracer)
    val ops = workload(wName)

    val opRecs = mutable.ArrayBuffer.empty[OpRec]
    var nextOp = 0
    /** Runs one pass; returns its wall and CPU seconds. */
    def runPass(pass: Int, c: Ctx): (Double, Double) = {
      val day = dayOf(pass)
      val t0 = System.nanoTime()
      val cpu0 = cpuSeconds
      ops.foreach { op =>
        val id = nextOp; nextOp += 1
        if (tracer.enabled) spark.sparkContext.setJobGroup(s"op$id", op.name)
        val s0 = System.nanoTime()
        val c0 = cpuSeconds
        var out = ""
        val err =
          try { out = tracer.span(s"op:${op.name}", id)(op.run(c, pass, day)); "" }
          catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(400) }
        val wall = (System.nanoTime() - s0) / 1e9
        val cpu = cpuSeconds - c0
        if (tracer.enabled) spark.sparkContext.clearJobGroup()
        if (op eq upsertLoad) {
          if (err.isEmpty) copyTree(new File(out), new File(s"${c.out}/p$pass/load_upsert"))
          out = s"${c.out}/p$pass/load_upsert"
        }
        opRecs += OpRec(id, op.name, pass, wall, cpu, err, out, day)
        if (err.nonEmpty) System.err.println(s"[graftbench] ${op.name} pass $pass failed: $err")
      }
      ((System.nanoTime() - t0) / 1e9, cpuSeconds - cpu0)
    }

    setup(wName, c, warm, runPass)
    opRecs.clear()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupCpuS = cpuSeconds

    val gc0 = gcSeconds
    val passes = mutable.ArrayBuffer.empty[Double]
    val passesCpu = mutable.ArrayBuffer.empty[Double]
    val timedT0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - timedT0) / 1e9 < seconds) {
      val (wall, cpu) = runPass(passes.size, c)
      passes += wall
      passesCpu += cpu
    }
    val timedT1 = System.nanoTime()
    val gcS = gcSeconds - gc0
    // the substrate tables under /tmp/graft_graph_* and /tmp/graft_ingestidx*
    val substrateMb = Option(new File(s"$work/tmp").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("graft_graph_") || f.getName.startsWith("graft_ingestidx"))
      .map(dirMb).sum
    val substrateS = substrateWrites.seconds
    val heapMb = heapAfterGcMb

    val res = new StringBuilder
    res ++= s"""{"workload":"$wName","cores":$cores,"setup_s":$setupS,"setup_cpu_s":$setupCpuS,"""
    res ++= s""""setup_day":"${dayOf(-1)}","""
    res ++= s""""substrate_s":$substrateS,"substrate_mb":$substrateMb,"""
    res ++= s""""heap_mb":$heapMb,"jvm_gc_s":$gcS,"timed_s":${(timedT1 - timedT0) / 1e9},"""
    res ++= s""""passes":${passes.mkString("[", ",", "]")},"""
    res ++= s""""passes_cpu":${passesCpu.mkString("[", ",", "]")},"ops":["""
    res ++= opRecs.map { r =>
      s"""{"id":${r.id},"name":"${r.name}","pass":${r.pass},"wall_s":${r.wallS},"cpu_s":${r.cpuS},""" +
        s""""day":"${r.day}","out":${jstr(r.out)},"error":${jstr(r.error)}}"""
    }.mkString(",")
    res ++= "]"
    if (tracer.enabled) {
      val traceJson = TraceReport.write(s"$work/spans.json", tracer, listener,
        opRecs.toSeq, timedT0, timedT1, cores, passes.size)
      res ++= s""","trace":$traceJson"""
    }
    val oracles = SparkEntry.oracleSql
    res ++= ops.map(_.name).distinct.flatMap(n => oracles.get(n).map(q => s"${jstr(n)}:${jstr(q)}"))
      .mkString(""","oracle_sql":{""", ",", "}")
    res ++= "}"
    Files.write(Paths.get(s"$work/result.json"), res.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def dirMb(f: File): Double =
    if (!f.exists()) 0.0
    else {
      val walk = Files.walk(f.toPath)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum / (1024.0 * 1024.0)
      finally walk.close()
    }

  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.toString
  }
}
