package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Locale

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, rand}

/** One benchmark run in one JVM: set up a session and the workload's
  * input, warm every op once, then run seeded passes over the ops with a
  * single client in a closed loop.
  *
  * Every op is `SparkEntry.queries(name)(spark, dir).collect()`. Only the
  * builder call and the collect are timed; rendering the result for the
  * correctness check, GC and the cleaner drain happen between ops. Each
  * distinct result of an op is written to `<work>/results` and checked
  * by run.py against the stored expected result.
  *
  * With `--trace 1` the run makes one untraced pass and one traced pass
  * (listeners on, see [[Tracer]]) and times the kernels ([[Kernels]]);
  * end-to-end numbers only ever come from untraced passes.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *          --sf DIR --work DIR --cores N
  * S sets the number of timed passes, one per [[PassSeconds]].
  * Writes `<work>/run.json`; prints nothing the caller parses.
  */
object PerfBench {
  final case class Sample(op: String, write: Boolean, pass: Int, wallS: Double,
                          ok: Boolean, error: String, result: Int, rows: Long)

  /** Untimed passes before the first timed one. */
  val WarmupPasses = 3
  /** `--seconds` buys one timed pass per this many seconds: about what a
    * warm pass over any workload takes, the quiesce between ops included. */
  val PassSeconds = 4.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Roster(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val sfDir = a("sf")
    val work = new File(a("work")).getAbsoluteFile
    val cores = a("cores").toInt
    val results = new File(work, "results")
    results.mkdirs()

    val spark = Session.local(cores, work)
    val input =
      if (workload.split) splitCopy(spark, sfDir, new File(work, "split"), cores, seed)
      else sfDir
    val rng = new Random(seed)
    val runner = new Runner(spark, input, results)
    val samples = mutable.ArrayBuffer[Sample]()
    val orders = mutable.ArrayBuffer[Seq[String]]()
    def pass(i: Int, tracer: Option[Tracer] = None): Seq[Sample] = {
      val order = rng.shuffle(workload.ops)
      orders += order.map(_.name)
      val done = order.map(runner.run(_, i, tracer, quiesce = i >= WarmupPasses))
      samples ++= done
      done
    }

    // The warm-up passes: pass 0 generates the code, reads the file
    // footers and authors the lakehouse fixtures; the JIT keeps compiling
    // through the next passes. Their results are checked like any other;
    // their times are not reported, so they skip the quiesce.
    (0 until WarmupPasses).foreach(pass(_))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // A fixed pass count keeps the sample counts, and so the percentiles,
    // the same in every run. A traced run compares its traced pass with
    // the one untraced pass just before it.
    val untraced = if (traced) 1 else math.max(1, math.round(seconds / PassSeconds).toInt)
    (WarmupPasses until WarmupPasses + untraced).foreach(pass(_))
    // the driver's retained heap only grows over a run (Spark's status
    // store keeps every job up to its retention limits): it peaks here
    val heapPeakMb = RetainedHeap.mb(spark)

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        // generated classes compiled in the traced pass: 0 while the
        // codegen cache holds every class the workload generates
        def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compiledBefore = compiles
        val tracer = new Tracer(spark, cores)
        val tracedSamples = pass(WarmupPasses + untraced, Some(tracer))
        tracer.close()
        val compiled = (compiles - compiledBefore).toDouble
        tracer.writeSpans(new File(work, "spans.json"))
        tracer.metrics(tracedSamples) ++ Kernels.run(spark, seed) +
          ("codegen.compiles" -> compiled)
      }

    val out = new StringBuilder
    out ++= "{"
    out ++= s""""workload":${Json.str(workload.name)},"seed":$seed,"cores":$cores,"""
    out ++= s""""input":${Json.str(input)},"setup_s":${Json.num(setupS)},"""
    out ++= s""""heap_peak_mb":${Json.num(heapPeakMb)},"traced":$traced,"warmup":$WarmupPasses,"""
    out ++= s""""orders":${orders.map(o => o.map(Json.str).mkString("[", ",", "]")).mkString("[", ",", "]")},"""
    out ++= s""""samples":${samples.map(sampleJson).mkString("[", ",\n", "]")},"""
    out ++= s""""layers":${layers.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")}"""
    out ++= "}\n"
    Files.writeString(new File(work, "run.json").toPath, out.toString, StandardCharsets.UTF_8)
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(new File(work, "oracle_sql.json").toPath,
      workload.ops.flatMap(o => oracle.get(o.name).map(q => s"${Json.str(o.name)}:${Json.str(q)}"))
        .mkString("{", ",\n", "}\n"), StandardCharsets.UTF_8)
    spark.stop()
  }

  private def sampleJson(s: Sample): String =
    s"""{"op":${Json.str(s.op)},"write":${s.write},"pass":${s.pass},""" +
      s""""wall_s":${Json.num(s.wallS)},"ok":${s.ok},"error":${Json.str(s.error)},""" +
      s""""result":${s.result},"rows":${s.rows}}"""

  /** Rewrites every table of `sfDir` into `cores` files under `dest` with
    * the same rows in a seeded order, so scans split across the cores.
    * The tables are written by concurrent jobs: one at a time, each small
    * job leaves most cores idle. */
  def splitCopy(spark: SparkSession, sfDir: String, dest: File, cores: Int,
                seed: Long): String = {
    val tables = new File(sfDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    require(tables.nonEmpty, s"no parquet tables under $sfDir")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = tables.map { t =>
      Future {
        spark.read.parquet(s"$sfDir/$t")
          .withColumn("__order", rand(seed))
          .repartition(cores, col("__order"))
          .sortWithinPartitions("__order")
          .drop("__order")
          .write.parquet(new File(dest, t).getPath)
      }
    }
    Await.result(Future.sequence(writes), Duration.Inf)
    dest.getPath
  }
}

/** Times ops and writes each distinct result once for the check. */
final class Runner(spark: SparkSession, dir: String, results: File) {
  import PerfBench.Sample
  private val seen = mutable.Map[(String, String), Int]()

  def run(op: Roster.Op, pass: Int, tracer: Option[Tracer], quiesce: Boolean): Sample = {
    if (quiesce) Session.quiesce(spark)
    tracer.foreach(_.opStart(op.name))
    val t0 = System.nanoTime()
    var t1 = 0L
    val outcome: Either[Throwable, (DataFrame, Array[Row])] =
      try {
        val fn = graft.SparkEntry.queries(op.name)
        val df = fn(spark, dir)
        tracer.foreach(_.built())
        val rows = df.collect()
        t1 = System.nanoTime()
        Right((df, rows))
      } catch { case e: Throwable => t1 = System.nanoTime(); Left(e) }
    tracer.foreach(_.opEnd())
    val wall = (t1 - t0) / 1e9
    outcome match {
      case Left(e) =>
        val msg = (e.getClass.getName + ": " + String.valueOf(e.getMessage))
          .linesIterator.take(3).mkString(" | ")
        System.err.println(s"[perfbench] ${op.name} failed: $msg")
        Sample(op.name, op.write, pass, wall, ok = false, msg, -1, 0)
      case Right((df, rows)) =>
        val text = Canon.render(df.schema, rows)
        val key = (op.name, Canon.digest(text))
        val id = seen.getOrElseUpdate(key, {
          val n = seen.keys.count(_._1 == op.name)
          Files.writeString(new File(results, s"${op.name}.$n.json").toPath,
            text, StandardCharsets.UTF_8)
          n
        })
        Sample(op.name, op.write, pass, wall, ok = true, "", id, rows.length.toLong)
    }
  }
}

/** The one place the benchmark's SparkSession is configured. */
object Session {
  def local(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // blocking cleanup lets quiesce() observe that a finished op's
      // shuffle files and broadcasts are really gone
      .config("spark.cleaner.referenceTracking.blocking", "true")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.ui.enabled", "false")
      // Spark caches 100 generated classes by default, fewer than one
      // pass over a workload generates (about 200-260): each pass would
      // evict and recompile about 100 classes in an order set by the
      // seeded op order, and the JIT would never settle. This holds them all.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** GC, then drain the ContextCleaner (as graft.Bench does): wait until
    * its reference buffer stops shrinking, so no earlier op's cleanup
    * runs inside the next timed region. */
  def quiesce(spark: SparkSession): Unit = {
    System.gc()
    val sc = spark.sparkContext
    // SparkContext.cleaner is private[spark], public in bytecode
    sc.getClass.getMethod("cleaner").invoke(sc).asInstanceOf[Option[AnyRef]]
      .foreach { cl =>
        val f = cl.getClass.getDeclaredField("referenceBuffer")
        f.setAccessible(true)
        val buf = f.get(cl).asInstanceOf[java.util.Set[_]]
        var prev = -1; var stable = 0; var spins = 0
        while (stable < 3 && spins < 200) {
          val n = buf.size()
          if (n == prev) stable += 1 else { stable = 0; prev = n }
          Thread.sleep(10); spins += 1
        }
      }
  }

  /** Blocks until every event posted so far reached every listener. */
  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    // SparkContext.listenerBus is private[spark], public in bytecode
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }
}

/** The driver's retained heap: old-generation occupancy after a full GC.
  * A GC lets the ContextCleaner release a finished op's broadcasts and
  * shuffle state, which only a later GC collects, and that GC frees more
  * for the cleaner; so GC and drain twice, then GC and read. */
object RetainedHeap {
  def mb(spark: SparkSession): Double = {
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    Session.quiesce(spark)
    Session.quiesce(spark)
    System.gc()
    old.map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

/** Minimal JSON text for the run file (Locale.ROOT: the decimal point
  * must not depend on the machine's locale). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else String.format(Locale.ROOT, "%.9g", Double.box(d))
}
