package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Measures the layers of one traced pass from outside the engine, with
  * public listener APIs only. Spans are kept in memory and written out at
  * the end: op → builder call → planning phases → jobs → stages. Planning
  * phases and jobs that start inside the builder call are its children;
  * the rest are children of the op. Times are epoch milliseconds.
  *
  * Per-op state is reset only after the listener bus has drained, so each
  * op's events land in that op.
  */
final class Tracer(spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var nextId = 0
  private def newId(): Int = { nextId += 1; nextId }

  // per-op state, written by listener threads between opStart and opEnd
  private var op = ""
  private var opSpan: Span = _
  private var builderSpan: Span = _
  private val phases = mutable.ArrayBuffer[(String, Double, Double)]()
  private val jobStart = mutable.Map[Int, Double]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[(Int, String, Double, Double)]()
  private val jobs = mutable.ArrayBuffer[(Int, Double, Double)]()
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())

  // the ms clock of Spark's events, at nanosecond resolution for our spans
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  private def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  private def add(c: String, v: Double): Unit = counters(c) += v

  def opStart(name: String): Unit = {
    Session.drainListenerBus(spark)
    synchronized {
      op = name
      phases.clear(); jobStart.clear(); stageJob.clear(); stages.clear(); jobs.clear()
      seenQe.clear()
      opSpan = Span(newId(), 0, name, "op", name, nowMs, 0)
      builderSpan = null
    }
  }

  def built(): Unit = synchronized {
    builderSpan = Span(newId(), opSpan.id, op, "builder", op, opSpan.start, nowMs)
  }

  def opEnd(): Unit = {
    val end = nowMs
    Session.drainListenerBus(spark)
    synchronized {
      val o = opSpan.copy(end = end)
      val b = Option(builderSpan).getOrElse(o.copy(id = newId(), parent = o.id,
        layer = "builder", end = end))
      def parentOf(start: Double): Int = if (start <= b.end) b.id else o.id
      val mine = mutable.ArrayBuffer[Span](o, b)
      phases.foreach { case (name, s, e) =>
        val cs = math.max(s, o.start); val ce = math.min(e, end)
        if (ce > cs) {
          mine += Span(newId(), parentOf(cs), op, "planning", name, cs, ce)
          add(s"planning.${name}_s", (ce - cs) / 1000)
        }
      }
      val jobIds = mutable.Map[Int, Int]()
      jobs.foreach { case (j, s, e) =>
        val sp = Span(newId(), parentOf(s), op, "job", s"job $j", s, e)
        jobIds(j) = sp.id; mine += sp
      }
      stages.foreach { case (st, name, s, e) =>
        val parent = stageJob.get(st).flatMap(jobIds.get).getOrElse(o.id)
        mine += Span(newId(), parent, op, "stage", name, s, e)
      }
      spans ++= mine
      add("queries.build_s", b.dur / 1000)
      add(s"build.${op}", b.dur / 1000)
      add("wall_s", o.dur / 1000)
    }
  }

  // ---- SparkListener (listener-bus thread) ----
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(stageJob(_) = e.jobId)
    add("exec.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, e.time.toDouble)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    add("exec.stages", 1)
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += ((i.stageId, s"stage ${i.stageId} (${i.numTasks} tasks)", s.toDouble, c.toDouble))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("exec.tasks", 1)
    if (e.taskInfo.failed || e.taskInfo.killed) add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_s", m.executorRunTime / 1e3)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("exec.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }

  // ---- QueryExecutionListener (listener-bus thread) ----
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    query(qe)

  private def query(qe: QueryExecution): Unit = synchronized {
    if (seenQe.add(qe)) {
      val names = Map("analysis" -> "analysis", "optimization" -> "optimization",
        "planning" -> "physical")
      qe.tracker.phases.foreach { case (phase, p) =>
        names.get(phase).foreach { n =>
          phases += ((n, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        }
      }
      scan(qe.executedPlan)
    }
  }

  /** Leaf SQLMetrics of the final (post-AQE) plan, subqueries included. */
  private def scan(plan: SparkPlan): Unit =
    collectWithSubqueries(plan) { case p if allChildren(p).isEmpty => p }.foreach { leaf =>
      def m(k: String) = leaf.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      add("scan.files", m("numFiles"))
      add("scan.bytes", m("filesSize"))
      add("scan.rows_out", m("numOutputRows"))
    }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each layer over the pass: a span's duration minus the
    * part of it its children cover. */
  private def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    Seq("op", "builder", "planning", "job", "stage").map { layer =>
      s"self.${layer}_s" -> spans.filter(_.layer == layer).map { s =>
        s.dur - union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      }.sum / 1000
    }.toMap
  }

  /** The pass's per-layer metrics; `samples` are the traced pass's ops. */
  def metrics(samples: Seq[PerfBench.Sample]): Map[String, Double] = synchronized {
    val c = counters.toMap.withDefaultValue(0.0)
    val wall = c("wall_s")
    val planning = c("planning.analysis_s") + c("planning.optimization_s") +
      c("planning.physical_s")
    val writes = samples.filter(_.write).map(_.op).toSet
    val (wBuild, rBuild) = c.keys.filter(_.startsWith("build."))
      .partition(k => writes(k.stripPrefix("build.")))
    val resultRows = samples.map(_.rows).sum.toDouble
    val keys = Seq("queries.build_s", "planning.analysis_s", "planning.optimization_s",
      "planning.physical_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
      "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_bytes",
      "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.output_bytes",
      "exec.input_rows", "exec.input_bytes", "exec.failed_tasks",
      "scan.files", "scan.bytes", "scan.rows_out")
    val self = selfTimes
    keys.map(k => k -> c(k)).toMap ++ Map(
      "sources.read_build_s" -> rBuild.toSeq.map(c).sum,
      "sources.write_build_s" -> wBuild.toSeq.map(c).sum,
      "planning.share" -> (if (wall > 0) planning / wall else 0.0),
      "exec.core_util" -> (if (wall > 0) c("exec.task_s") / (wall * cores) else 0.0),
      "exec.rows_examined_per_result_row" ->
        (if (resultRows > 0) c("exec.input_rows") / resultRows else 0.0)
    ) ++ self ++ Map(
      // the op's own time: not covered by the builder call, planning or jobs
      "driver.gap_s" -> self("self.op_s"))
  }

  def writeSpans(f: File): Unit = synchronized {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}}"""
    }
    Files.writeString(f.toPath, lines.mkString("[\n", ",\n", "\n]\n"), StandardCharsets.UTF_8)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: String, layer: String,
                        name: String, start: Double, end: Double) {
    def dur: Double = end - start
  }
}
