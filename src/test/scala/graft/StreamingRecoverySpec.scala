package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-recovery durability: a stateful streaming aggregation
  * stopped and RESTARTED from its checkpoint must (a) resume the
  * aggregation state (totals include pre-restart data) and (b) process
  * only files that arrived after the stop — the exactly-once contract
  * that makes long-running production streams survive executor or
  * driver loss. */
class StreamingRecoverySpec extends AnyFunSuite {
  import TestSession._

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Write `df` as a single parquet file named `name` inside `dir`. */
  private def addFile(df: org.apache.spark.sql.DataFrame, dir: Path,
                      name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_ckpt_stage")
    graft.sources.LakeFiles.stage(df, "parquet", tmp.toFile,
      dir.resolve(name).toFile)
  }

  test("stateful aggregation restarts from its checkpoint: state " +
    "resumes, already-read files are not reprocessed") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = Files.createTempDirectory("graft_ckpt")
    val input = Files.createDirectories(base.resolve("in"))
    val ckpt = base.resolve("ckpt").toString

    val events = spark.read.schema(eventsSchema)
      .parquet(sf + "/events.parquet")
    val early = events.filter(col("event_id") % 2 === 0)
    val late = events.filter(col("event_id") % 2 =!= 0)
    addFile(early, input, "a.parquet")

    def runOnce(sinkName: String): Map[String, Long] = {
      val agg = spark.readStream.schema(eventsSchema)
        .parquet(input.toString)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val q = agg.writeStream.outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(sinkName).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(sinkName).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    val run1 = runOnce("ckpt_run1")
    val expectEarly = early.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run1 == expectEarly, "first run must aggregate file A")

    addFile(late, input, "b.parquet")
    val run2 = runOnce("ckpt_run2")
    val expectAll = events.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run2 == expectAll,
      "restart must RESUME state: totals include pre-restart data")

    // the checkpoint's file log must show file A was not re-read: the
    // restarted query's input total equals file B's row count
    val lateN = late.count()
    val sourcesLog = Files.list(Paths.get(ckpt, "sources", "0")).count()
    assert(sourcesLog >= 2, "file-source log must record both batches")
    assert(run2.values.sum - run1.values.sum == lateN,
      "restart must process exactly the new file's rows")
  }

  test("q188 boundary-exclusion contract: every purchase older than " +
    "delay+margin finalizes exactly; boundary rows may be absent but " +
    "never spurious") {
    // Run the streaming left-outer join; its memory sink stays
    // registered, so the RAW (pre-exclusion) output is inspectable.
    SparkEntry.queries("q188_stream_stream_outer")(spark, sf).collect()
    val sink = spark.table("q188_sink")
      .select(col("p_id"), unix_micros(col("p_ts")).as("p_us"),
        col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))

    // batch ground truth for the same join
    val ev = Tables.df(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        unix_micros(col("ts")).as("p_us"), col("event_id").as("p_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        unix_micros(col("ts")).as("c_us"), col("event_id").as("c_id"))
    val batch = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_us") >= col("p_us") - 1800000000L &&
          col("c_us") <= col("p_us"), "left_outer")
      .select(col("p_id"), col("p_us"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
    val mx = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val cut = mx - 7200000000L // watermark delay (1h) + margin (1h)

    // (a) the finalized region is EXACT: watermark passage must have
    // emitted every old purchase, matched rows and null-padded alike
    val oldSink = sink.filter(_._2 <= cut).toSet
    val oldBatch = batch.filter(_._2 <= cut).toSet
    assert(oldBatch.nonEmpty, "fixture must populate the old region")
    assert(oldSink == oldBatch,
      s"rows older than delay+margin must finalize: missing=" +
        s"${(oldBatch -- oldSink).take(5)} spurious=" +
        s"${(oldSink -- oldBatch).take(5)}")

    // (b) the boundary region is one-sided: a young row may still sit
    // in state when the stream ends (its absence is legal — that is
    // WHY q188 excludes the region), but anything emitted must agree
    // with the batch join — never a spurious or wrong pair
    val youngSink = sink.filterNot(_._2 <= cut).toSet
    val youngBatch = batch.filterNot(_._2 <= cut).toSet
    assert(youngBatch.nonEmpty,
      "fixture must populate the boundary region (else the exclusion " +
        "window proves nothing)")
    assert((youngSink -- youngBatch).isEmpty,
      s"boundary rows must be a subset of the batch join, spurious=" +
        s"${(youngSink -- youngBatch).take(5)}")
  }
}
