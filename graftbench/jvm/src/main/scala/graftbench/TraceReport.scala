package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Turns the traced run's spans and Spark events into per-layer metrics.
  *
  * Spark jobs become child spans of their op through the job group the
  * runner sets; a job is attributed to module M when M's source file is
  * the innermost program frame of its call site, or else of the call
  * site of the SQL execution that started it. */
object TraceReport {

  val modules: Seq[String] = Seq("Tables", "SparkEntry", "Etl", "Observability",
    "Validator", "Pipeline", "Graph", "Ingest", "Reconcile", "Dedup",
    "TextAnalysis", "Contamination", "Bpe", "CorpusPrep")

  /** Module whose file is the innermost program frame of a call site. */
  def moduleOf(callSite: String): Option[String] =
    callSite.split("\n").iterator.flatMap { line =>
      val i = line.lastIndexOf('(')
      val file = if (i < 0) "" else line.substring(i + 1).takeWhile(_ != ':')
      modules.find(m => file == s"$m.scala")
    }.nextOption()

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  def write(path: String, tracer: Tracer, l: JobListener, ops: Seq[Runner.OpRec],
      t0: Long, t1: Long, cores: Int, passes: Int): String = {
    val spans = tracer.all
    val opIds = ops.map(_.id).toSet
    val opSpans = spans.filter(s => s.name.startsWith("op:") && opIds.contains(s.op))
    val jobs = l.jobs.values().asScala.toSeq.filter(j => j.end > 0 &&
      j.group.startsWith("op") && opIds.contains(j.group.drop(2).toInt))
    val jobsByOp = jobs.groupBy(_.group.drop(2).toInt)
    val stageJob = jobs.sortBy(-_.id).flatMap(j => j.stageIds.map(_ -> j)).toMap
    val stages = l.stages.asScala.toSeq.filter(s => stageJob.contains(s.id))
    val stagesByOp = stages.groupBy(s => stageJob(s.id).group.drop(2).toInt)
    val nOps = math.max(1, ops.size).toDouble
    def perOp(f: Int => Double): Double = ops.map(o => f(o.id)).sum / nOps
    def named(n: String) = spans.filter(s => s.name == n && opIds.contains(s.op))
    def meanS(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else ss.map(_.dur).sum / 1e9 / ss.size
    def stageSum(id: Int)(f: StageRec => Double) =
      stagesByOp.getOrElse(id, Nil).map(f).sum
    def isCheckpoint(j: JobRec) =
      j.name.startsWith("localCheckpoint at") || j.name.startsWith("checkpoint at")

    val reads = named("tables.read")
    val readJobs = reads.map(r => jobsByOp.getOrElse(r.op, Nil)
      .count(j => j.start >= r.start && j.start <= r.end)).sum
    // most Spark jobs running at once in the timed region
    val edges = jobs.flatMap(j => Seq((j.start, 1), (j.end, -1))).sortBy(e => (e._1, e._2))
    val maxInFlight = edges.scanLeft(0)(_ + _._2).max
    val opSelf = opSpans.map { o =>
      val kids = spans.filter(_.parent == o.id).map(s => (s.start, s.end))
      o.dur - covered(kids, o.start, o.end)
    }
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m("tables.read_s") = meanS(reads)
    m("tables.read_jobs") = if (reads.isEmpty) 0.0 else readJobs.toDouble / reads.size
    m("registry.lookup_s") = meanS(named("registry.lookup"))
    m("op.build_s") = meanS(named("op.build"))
    m("op.action_s") = meanS(named("op.action"))
    m("spark.jobs") = perOp(id => jobsByOp.getOrElse(id, Nil).size)
    m("spark.stages") = perOp(id => stagesByOp.getOrElse(id, Nil).size)
    m("spark.skipped_stages") = perOp(id => jobsByOp.getOrElse(id, Nil)
      .flatMap(_.stageIds).distinct.count(s => !l.submittedStages.contains(s)))
    m("spark.driver_gap_s") = opSpans.map { o =>
      o.dur - covered(jobsByOp.getOrElse(o.op, Nil).map(j => (j.start, j.end)), o.start, o.end)
    }.sum / 1e9 / nOps
    m("stage.checkpoint_jobs") = perOp(id => jobsByOp.getOrElse(id, Nil).count(isCheckpoint))
    m("stage.checkpoint_s") = perOp(id => jobsByOp.getOrElse(id, Nil)
      .filter(isCheckpoint).map(j => (j.end - j.start) / 1e9).sum)
    m("spark.max_jobs_in_flight") = maxInFlight
    m("spark.util") = stages.map(_.runS).sum / ((t1 - t0) / 1e9 * cores)
    m("load.write_s") = meanS(named("load.write"))
    m("load.upsert_s") = meanS(named("load.upsert"))
    m("spark.tasks") = perOp(id => stageSum(id)(_.tasks))
    m("spark.task_s") = perOp(id => stageSum(id)(_.runS))
    m("spark.scan_tasks") = (0.0 +: stages.filter(_.inputMb > 0).map(_.tasks.toDouble)).max
    m("spark.shuffle_write_mb") = perOp(id => stageSum(id)(_.shuffleWriteMb))
    m("spark.shuffle_read_mb") = perOp(id => stageSum(id)(_.shuffleReadMb))
    m("spark.spill_mb") = perOp(id => stageSum(id)(_.spillMb))
    m("spark.input_mb") = perOp(id => stageSum(id)(_.inputMb))
    m("spark.output_mb") = perOp(id => stageSum(id)(_.outputMb))
    m("spark.task_failures") = stages.map(_.failedTasks).sum
    m("spark.gc_s") = perOp(id => stageSum(id)(_.gcS))
    m("trace.op_self_s") = if (opSelf.isEmpty) 0.0 else opSelf.sum / 1e9 / opSelf.size
    val jobModule = jobs.map(j => j.id ->
      moduleOf(j.callSite).orElse(moduleOf(l.execSite(j.execId)))).toMap
    for (mod <- modules) {
      val mine = jobs.filter(j => jobModule(j.id).contains(mod))
      m(s"mod.$mod.jobs") = mine.size.toDouble / passes
      m(s"mod.$mod.job_s") = mine.map(j => (j.end - j.start) / 1e9).sum / passes
    }

    val sb = new StringBuilder("[")
    def add(s: String): Unit = { if (sb.length > 1) sb ++= ",\n"; sb ++= s }
    spans.foreach { s =>
      add(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Runner.jstr(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    }
    jobs.sortBy(_.id).foreach { j =>
      add(s"""{"job":${j.id},"op":${j.group.drop(2)},"name":${Runner.jstr(j.name)},""" +
        s""""module":${Runner.jstr(jobModule(j.id).getOrElse(""))},""" +
        s""""start_ns":${j.start},"end_ns":${j.end},"stages":${j.stageIds.mkString("[", ",", "]")}}""")
    }
    sb ++= "]\n"
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
    m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }
}
