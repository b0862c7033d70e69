package graft.queries

import graft.{QueryModule, Tables}
import graft.functions.TextOps.tokens
import graft.functions.VectorOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over `embeddings` (ArrayType(FloatType), dim=64).
  *
  * q77 is the exact baseline: brute-force cosine top-k for a FIXED-SIZE
  * probe set (broadcast stays O(1) in corpus size) — probes broadcast,
  * corpus scanned once, per-partition top-k via window.
  * q78 is the scale path: sign-LSH bucketing turns the quadratic cross
  * join into an equi-join on bucket id (both sides bucketed once), with
  * the bit-width derived from corpus size so bucket occupancy — and
  * therefore candidates per probe — stays ~constant as the corpus grows;
  * at 100 TB the bucket join + local rerank is the only shape that works.
  *
  * Cosine values are rounded to 6dp on both engines before ranking —
  * Spark and DuckDB disagree at ulp level on float reductions; ranking
  * ties are broken by vec_id so row sets stay deterministic.
  */
object Similarity extends QueryModule {

  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.df(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))

  private val annTables = 4

  /** Fixed-size probe set (first 20 ids): the probe broadcast stays O(1)
    * in corpus size — a `% 50` sample would grow with the corpus and
    * blow the broadcast at 100x. */
  private val annProbeCount = 20

  /** LSH bits for a corpus of n vectors: ~log2(n / 64), so expected
    * bucket occupancy stays ~64 as the corpus grows. Candidates per
    * probe are then O(tables * 64) — constant — instead of growing
    * linearly with n (a fixed bit-width is the classic LSH scale
    * killer). Overridable via spark.graft.ann.bits. */
  private[graft] def lshBits(n: Long): Int =
    math.min(48, math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / 64.0)) /
        math.log(2.0)).toInt))

  /** Candidate (probe_id, vec_id) pairs from multi-table sign-LSH:
    * bucket both sides once, equi-join on (table, bucket) — never a
    * cross join — and dedup on the narrow key. Shared by q78 and the
    * scale-linearity spec (PipelineSpec). */
  /** Corpus row count per dataset dir, computed once per JVM: sizing the
    * LSH bit-width must not cost a full corpus scan per query. The count
    * itself is parquet-footer metadata (no data pages read); production
    * would take it from table statistics or pin bits via
    * spark.graft.ann.bits. */
  private val corpusCount =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  private[graft] def annCandidates(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val bits = s.conf.getOption("spark.graft.ann.bits").map(_.toInt)
      .getOrElse(lshBits(
        corpusCount.computeIfAbsent(dir, _ => c.count()).longValue()))
    val keyed = c.select(col("vec_id"), col("v"),
      explode(array((0 until annTables).map { t =>
        struct(lit(t).as("t"),
          lshBucket(col("v"), hyperplanes(bits, 64, seed = 1000 + t))
            .as("bucket"))
      }: _*)).as("k"))
      .select(col("vec_id"), col("k.t").as("t"), col("k.bucket").as("bucket"))
    val probes = keyed.filter(col("vec_id") < annProbeCount)
      .select(col("vec_id").as("probe_id"), col("t").as("pt"),
        col("bucket").as("pbucket"))
    keyed.join(broadcast(probes),
        col("t") === col("pt") && col("bucket") === col("pbucket") &&
          col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
      .distinct()
  }

  /** The q133 verified edge set: 8-table sign-LSH candidate pairs that
    * survive the exact-cosine ≥ 0.4 verification. Shared by the query
    * and by graft.Scratch, which dumps it at sf0.01 to regenerate the
    * pinned oracle edge list — one definition, so the pins can't drift
    * from the query. 8 tables (vs q78's 4) because the fixture's
    * semantic neighbors sit at cosine ~0.4-0.5, where per-bit sign
    * collision is only ≈ 0.63. */
  private[graft] def semanticVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val tables = 8
    val bits = s.conf.getOption("spark.graft.ann.bits").map(_.toInt)
      .getOrElse(lshBits(
        corpusCount.computeIfAbsent(dir, _ => c.count()).longValue()))
    val keyed = c.select(col("vec_id"), col("v"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"),
          lshBucket(col("v"), hyperplanes(bits, 64, seed = 1000 + t))
            .as("bucket"))
      }: _*)).as("k"))
      .select(col("vec_id"), col("k.t").as("t"), col("k.bucket").as("bucket"))
      .repartition(col("t"), col("bucket")) // ReuseExchange: bucket once
    val pairs = keyed.as("x").hint("shuffle_hash").join(keyed.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    val vecs = c.select(col("vec_id"), col("v"))
    pairs
      .join(vecs.select(col("vec_id").as("a_id"), col("v").as("va")), "a_id")
      .join(vecs.select(col("vec_id").as("b_id"), col("v").as("vb")), "b_id")
      .filter(round(cosine(col("va"), col("vb")), 6) >= 0.4)
      .select(col("a_id"), col("b_id"))
  }

  /** IVF coarse quantizer: k=16 centroids as a fixed deterministic
    * corpus slice (vec_id 100..115) so the DuckDB oracle can replay the
    * identical index; production k-means-samples these, the machinery
    * below is unchanged. */
  private val ivfK = 16

  private[graft] def ivfCentroids(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .filter(col("vec_id") >= 100 && col("vec_id") < 100 + ivfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))

  /** IVF index build: nearest-centroid cell per corpus vector —
    * broadcast the k centroids, one corpus-wide argmax. At scale this is
    * a one-time build written out partitioned by cell. Shared by q111
    * and the cell-balance spec (PipelineSpec). */
  private[graft] def ivfAssigned(s: SparkSession, dir: String): DataFrame = {
    // r20 optimization: nearest-centroid used to explode corpus×k
    // (vector, centroid) rows and window-pick rk=1 — a corpus-sized
    // SHUFFLE for a 16-way argmax. The k centroids now collapse to ONE
    // broadcast array row and the argmax is a map-side array_min over
    // struct(-csim, cent_id) (same (csim desc, cent_id) ordering, so
    // cell assignment is row-identical): the index build has no
    // exchange at all — the shape the 100 TB design note always
    // claimed ("one corpus-wide argmax").
    // k is the private constant ivfK, so the k-vector array row stays
    // small; there is no explode + window fallback.
    //
    // NaN guard: a zero-norm centroid makes cosine NaN. Spark orders
    // NaN GREATEST, so a csim-DESC ranking would put a NaN centroid
    // FIRST while array_min over struct(-csim, ...) ranks it LAST.
    // nanvl pins the semantics: a degenerate centroid scores -Inf and
    // always loses. (No fixture centroid has zero norm — values are
    // unchanged; this removes the latent cliff.)
    def score(cv: Column): Column =
      nanvl(round(cosine(cv, col("v")), 6), lit(Double.NegativeInfinity))
    val centsArr = ivfCentroids(s, dir)
      .agg(array_sort(collect_list(struct(col("cent_id"), col("cv"))))
        .as("cents"))
    corpus(s, dir).crossJoin(broadcast(centsArr))
      .select(col("vec_id"), col("v"),
        array_min(transform(col("cents"),
          c0 => struct(
            (-score(c0.getField("cv"))).as("nsim"),
            c0.getField("cent_id").as("cent_id"))))
          .getField("cent_id").as("cell"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Single-pass covariance (Gram) matrix over the first 6 embedding
    // dimensions — the PCA/whitening precursor every embedding
    // pipeline runs before dimensionality reduction. The d(d+1)/2
    // upper-triangle cells are 21 independent covar_pop accumulators
    // in ONE corpus scan (no self-join, no explode-then-rejoin): at
    // 100 TB this is the only shape that works — the data pass is
    // O(rows·d²) map-side work merging into a d²-sized state, and the
    // matrix itself (what an eigensolver consumes) is driver-sized by
    // construction. The wide agg row is stack()ed to long (i, j, cov)
    // form AFTER aggregation, so the reshape costs nothing.
    "q306_embedding_covariance" -> { (s, dir) =>
      val dims = 1 to 6
      val e = Tables.df(s, dir, "embeddings").select(
        dims.map(i => element_at(col("embedding"), i)
          .cast(DoubleType).as(s"x$i")): _*)
      val pairs = for { i <- dims; j <- dims if j >= i } yield (i, j)
      val aggs = pairs.map { case (i, j) =>
        round(covar_pop(col(s"x$i"), col(s"x$j")), 8).as(s"c_${i}_$j") }
      val stacked = pairs
        .map { case (i, j) => s"$i, $j, c_${i}_$j" }.mkString(", ")
      e.agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${pairs.length}, $stacked) AS (i, j, cov)")
        .orderBy(col("i"), col("j"))
    },

    // K-fold metric stability — the last eval-suite piece: the q284
    // accuracy recomputed in 5 deterministic md5 folds. A metric
    // whose per-fold spread rivals its headline value is noise, not
    // signal — the review gate before anyone ships "accuracy
    // improved". Fold cells are exact integers; per-fold accuracy is
    // one division; the deterministic split makes the fold table
    // reproducible run-over-run and engine-over-engine.
    "q377_cv_folds" -> { (s, dir) =>
      val weights = expr(
        "transform(sequence(0, 63), i -> ((i * 37) % 101 - 50) / 100.0)")
      val z = aggregate(
        zip_with(asDouble(col("embedding")), weights, (x, w) => x * w),
        lit(0.0), (a, x) => a + x)
      Tables.df(s, dir, "embeddings")
        .select(col("vec_id"),
          ((lit(1.0) / (lit(1.0) + exp(-z))) >= 0.5).as("pred"),
          (col("label") % 2 === 0).as("truth"))
        .withColumn("fold",
          (conv(substring(md5(concat(lit("cv5"),
            col("vec_id").cast(StringType))), 1, 2), 16, 10)
            .cast(LongType) % 5).cast(IntegerType))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("truth"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("fold"), col("n"),
          round(col("n_correct").cast(DoubleType) / col("n"), 6)
            .as("accuracy"))
        .orderBy(col("fold"))
    },

    // Rank-sum AUC (Mann–Whitney) for the q284 scorer — the
    // threshold-free ranking metric that completes the eval suite
    // (q284 confusion, q338 gains, q364 calibration): AUC =
    // (Σranks₊ − n₊(n₊+1)/2)/(n₊·n₋) over the deterministic
    // (score, id) rank order. With id tiebreaks the rank sum is an
    // exact integer, so AUC is one division — no trapezoid float
    // accumulation. (Ties take id-order ranks, not midranks —
    // documented contract, identical on both engines.)
    "q375_auc_ranksum" -> { (s, dir) =>
      val weights = expr(
        "transform(sequence(0, 63), i -> ((i * 37) % 101 - 50) / 100.0)")
      val z = aggregate(
        zip_with(asDouble(col("embedding")), weights, (x, w) => x * w),
        lit(0.0), (a, x) => a + x)
      val scored = Tables.df(s, dir, "embeddings")
        .select(col("vec_id"),
          (lit(1.0) / (lit(1.0) + exp(-z))).as("score"),
          (col("label") % 2 === 0).as("truth"))
      // global rank rides the distributed prefix helper (range
      // partition + per-partition window + broadcast offsets) — a
      // single-partition Window.orderBy over the whole embeddings
      // table is the 100 TB straggler this avoids
      graft.operators.DistributedPrefix
        .globalRank(scored, Seq(col("score"), col("vec_id")), "rk")
        .agg(
          sum(when(col("truth"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(!col("truth"), 1L).otherwise(0L)).as("n_neg"),
          sum(when(col("truth"), col("rk")).otherwise(0L))
            .as("rank_sum"))
        .select(col("n_pos"), col("n_neg"),
          round((col("rank_sum") -
            col("n_pos") * (col("n_pos") + 1) / 2).cast(DoubleType) /
            (col("n_pos") * col("n_neg")), 6).as("auc"))
    },

    // Gains/lift table for the q284 linear scorer — the deployment
    // readout a ranking model ships with: sort by score, cut into
    // deciles, report per-decile positives, cumulative capture and
    // lift. The decile is ntile(10) SEMANTICS computed without a
    // single-partition window: a DistributedPrefix global rank over
    // (score desc, vec_id) plus closed-form ntile arithmetic (the
    // first n%10 deciles hold ceil(n/10) rows, the rest floor(n/10)),
    // with n taken from the already-checkpointed ranked relation.
    // Scores are the identical IEEE expression on both engines, ties
    // break on vec_id, so the decile assignment is bit-deterministic.
    "q338_gains_table" -> { (s, dir) =>
      val weights = expr(
        "transform(sequence(0, 63), i -> ((i * 37) % 101 - 50) / 100.0)")
      val z = aggregate(
        zip_with(asDouble(col("embedding")), weights, (x, w) => x * w),
        lit(0.0), (a, x) => a + x)
      val scored = Tables.df(s, dir, "embeddings")
        .select(col("vec_id"),
          (lit(1.0) / (lit(1.0) + exp(-z))).as("score"),
          (col("label") % 2 === 0).as("truth"))
      val ranked = graft.operators.DistributedPrefix
        .globalRank(scored, Seq(col("score").desc, col("vec_id")), "rk")
      val nTot = ranked.agg(count(lit(1)).as("n_tot"))
      val per = ranked.crossJoin(broadcast(nTot))
        .withColumn("_sm", expr("n_tot div 10"))
        .withColumn("decile", expr(
          """CAST(CASE WHEN rk <= (n_tot % 10) * (_sm + 1)
            |  THEN (rk - 1) div (_sm + 1)
            |  ELSE (n_tot % 10) +
            |    (rk - 1 - (n_tot % 10) * (_sm + 1)) div greatest(_sm, 1)
            |  END + 1 AS INT)""".stripMargin))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("truth"), 1L).otherwise(0L)).as("n_pos"))
      val tot = per.agg(sum(col("n")).as("tot"),
        sum(col("n_pos")).as("tot_pos"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      per.crossJoin(broadcast(tot))
        .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
        .select(col("decile"), col("n"), col("n_pos"),
          round(col("cum_pos").cast(DoubleType) / col("tot_pos"), 6)
            .as("cum_capture"),
          round((col("n_pos").cast(DoubleType) / col("n")) /
            (col("tot_pos").cast(DoubleType) / col("tot")), 4)
            .as("lift"))
        .orderBy(col("decile"))
    },

    // Within-class embedding OUTLIERS — the mislabel screen run after
    // q333's separability check: every vector's cosine to its OWN
    // label centroid, flagged when it falls below the class's 5th
    // percentile (a percentile_disc DATA value of the 6dp-rounded
    // cosines, so the threshold is engine-stable). The per-label
    // report counts suspects and shows the worst member — the review
    // queue a labeling team actually works through.
    "q368_embedding_outliers" -> { (s, dir) =>
      val c = Tables.df(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          asDouble(col("embedding")).as("v"))
      val cents = c.select(col("label"), posexplode(col("v"))
          .as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("cx"))
        .groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("pos"), col("cx"))))
          .as("pc"))
        .select(col("label"), expr("transform(pc, e -> e.cx)").as("cv"))
      val scored = c.join(broadcast(cents), "label")
        .select(col("label"), col("vec_id"),
          round(cosine(col("v"), col("cv")), 6).as("cos"))
      val thr = scored.groupBy(col("label"))
        .agg(expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY cos)")
          .as("p05"))
      scored.join(broadcast(thr), "label")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("cos") < col("p05"), 1L).otherwise(0L))
            .as("n_outliers"),
          min(col("p05")).as("p05"),
          min_by(col("vec_id"), struct(col("cos"), col("vec_id")))
            .as("worst_member"),
          round(min(col("cos")), 6).as("worst_cos"))
        .orderBy(col("label"))
    },

    // Class-separability matrix — the label-quality check before
    // training a classifier on the embeddings: per-label centroids
    // (one grouped posexplode aggregate) and the pairwise cosine
    // between centroids. Well-separated classes show low off-diagonal
    // cosines; two classes whose centroids cosine ≈ 1 are label
    // aliases the curator should merge. The pairwise stage runs on
    // the O(labels²) centroid table — nothing corpus-sized crosses.
    "q333_class_separability" -> { (s, dir) =>
      val c = Tables.df(s, dir, "embeddings")
        .select(col("label"), asDouble(col("embedding")).as("v"))
      val cents = c.select(col("label"), posexplode(col("v"))
          .as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("cx"))
        .groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("pos"), col("cx"))))
          .as("pc"))
        .select(col("label"), expr("transform(pc, e -> e.cx)").as("cv"))
      val n = c.groupBy(col("label")).agg(count(lit(1)).as("n"))
      cents.toDF("la", "cva")
        .join(cents.toDF("lb", "cvb"), col("la") < col("lb"))
        .select(col("la"), col("lb"),
          round(cosine(col("cva"), col("cvb")), 6).as("centroid_cos"))
        .join(broadcast(n.toDF("la", "n_a")), "la")
        .join(broadcast(n.toDF("lb", "n_b")), "lb")
        .select(col("la"), col("lb"), col("centroid_cos"),
          col("n_a"), col("n_b"))
        .orderBy(col("la"), col("lb"))
    },

    // Corpus-centroid geometry — the embedding-space health check run
    // before any ANN/cluster design: the mean vector (one posexplode
    // aggregate — d accumulators, no driver math) broadcasts back and
    // every vector's cosine-to-centroid lands in a 40-bucket
    // histogram. A healthy corpus shows a spread distribution; a
    // collapsed one (all mass in 2-3 buckets) means the embedding
    // model has degenerated and no index will help. Cosines round to
    // 6dp BEFORE bucketing so the bucket edges are engine-stable.
    "q332_centroid_geometry" -> { (s, dir) =>
      val c = corpus(s, dir)
      val cent = c.select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(avg(col("x")).as("cx"))
        .agg(sort_array(collect_list(struct(col("pos"), col("cx"))))
          .as("pc"))
        .select(expr("transform(pc, e -> e.cx)").as("centroid"))
      c.crossJoin(broadcast(cent))
        .select(round(cosine(col("v"), col("centroid")), 6).as("cos"))
        // same explicit floor as the oracle, not width_bucket: the
        // builtin's internal arithmetic can differ by 1 ulp at a
        // bucket edge and flip the bin (round-9 ADVICE)
        .select(when(col("cos") < -1.0, lit(0L))
          .when(col("cos") >= 1.0, lit(41L))
          .otherwise(lit(1L) + floor((col("cos") + 1.0) * 40.0 / 2.0)
            .cast(LongType)).as("bkt"), col("cos"))
        .groupBy(col("bkt"))
        .agg(count(lit(1)).as("n"),
          round(min(col("cos")), 6).as("cmin"),
          round(max(col("cos")), 6).as("cmax"))
        .orderBy(col("bkt"))
    },

    // Matryoshka / dimension-truncation fidelity report — the design
    // study behind every "truncate the embedding to save 4× memory"
    // decision: for the q77 probe set, the exact top-5 under FULL
    // 64-dim cosine vs the top-5 under the FIRST-16-dim prefix, with
    // per-probe overlap@5 and both top-1 ids. Both rankings ride the
    // same single corpus×probe pass (two cosine columns, two window
    // ranks — no second scan); the q77 rounding discipline (6dp +
    // vec_id tiebreak) keeps both engines' rankings identical. The
    // report tells the ANN owner whether the 16-dim index (4× cheaper
    // at 100 TB) preserves neighborhoods — measured, not assumed.
    "q330_matryoshka_fidelity" -> { (s, dir) =>
      val c = corpus(s, dir)
      val probes = c.filter(col("vec_id") < annProbeCount)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val wF = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim_full").desc, col("vec_id"))
      val wT = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim_trunc").desc, col("vec_id"))
      val ranked = c.join(broadcast(probes),
          col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(col("pv"), col("v")), 6).as("sim_full"),
          round(cosine(slice(col("pv"), 1, 16),
            slice(col("v"), 1, 16)), 6).as("sim_trunc"))
        .withColumn("rkf", row_number().over(wF))
        .withColumn("rkt", row_number().over(wT))
      val overlap = ranked.filter(col("rkf") <= 5)
        .select(col("probe_id"), col("vec_id"))
        .join(ranked.filter(col("rkt") <= 5)
          .select(col("probe_id"), col("vec_id")),
          Seq("probe_id", "vec_id"))
        .groupBy(col("probe_id")).agg(count(lit(1)).as("overlap5"))
      probes.select(col("probe_id"))
        .join(overlap, Seq("probe_id"), "left")
        .withColumn("overlap5", coalesce(col("overlap5"), lit(0L)))
        .join(ranked.filter(col("rkf") === 1)
          .select(col("probe_id"), col("vec_id").as("top1_full")),
          "probe_id")
        .join(ranked.filter(col("rkt") === 1)
          .select(col("probe_id"), col("vec_id").as("top1_trunc")),
          "probe_id")
        .orderBy(col("probe_id"))
    },

    // Exact brute-force cosine top-5 per probe (fixed 20-probe set).
    "q77_ann_bruteforce" -> { (s, dir) =>
      val c = corpus(s, dir)
      val probes = c.filter(col("vec_id") < annProbeCount)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      c.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(col("pv"), col("v")), 6).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("probe_id"), col("vec_id"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("probe_id"), col("rk"))
    },

    // Multi-table LSH ANN: 4 independent tables of corpus-scaled sign
    // bits (see lshBits/annCandidates); a vector lands in one
    // (table, bucket) per table, candidates are the union over tables
    // (equi-join on the key, never a cross join), then exact-cosine
    // rerank of candidates only. Oracle (q75 pattern — hyperplane
    // literals are not oracle-expressible, but the result ids ARE
    // deterministic given the fixture): the top-5 (probe_id, vec_id)
    // ids found at sf0.01 are pinned and DuckDB recomputes each pair's
    // exact cosine + rank — a hyperplane/bucketing change shifts the
    // top-5 and goes red. Candidate validity + sublinear scaling are
    // additionally spec'd (PipelineSpec). Regenerate pins from the
    // Verify dump if the kernel or fixture changes (graft.Scratch
    // prints the candidate set; the pins are the verified top-5).
    "q78_ann_lsh" -> { (s, dir) =>
      val c = corpus(s, dir)
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      // dedup candidates on the narrow (probe, vec) key, then re-attach
      // vectors for the rerank — never distinct() over array payloads
      val probeVecs = c.filter(col("vec_id") < annProbeCount)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      annCandidates(s, dir)
        .join(c.select(col("vec_id"), col("v")), "vec_id")
        .join(broadcast(probeVecs), "probe_id")
        .select(col("probe_id"), col("vec_id"),
          round(cosine(col("pv"), col("v")), 6).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("probe_id"), col("vec_id"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("probe_id"), col("rk"))
    },

    // IVF (inverted-file) ANN — the other classic scale path next to
    // LSH (q78). Index build: every corpus vector is assigned to its
    // nearest of k coarse centroids (broadcast the k centroids, one
    // corpus-wide argmax — at scale this is a one-time build, written
    // out partitioned by cell). Query: each probe ranks the same k
    // centroids, visits only its nprobe best cells via an equi-join on
    // cell id, and exact-reranks candidates — touching ~nprobe/k of the
    // corpus instead of all of it. Centroids here are a fixed
    // deterministic slice of the corpus (vec_id 100..115) so the oracle
    // can replay the exact same index; production would k-means-sample
    // them, the assignment/probe machinery is identical.
    "q111_ann_ivf" -> { (s, dir) =>
      val c = corpus(s, dir)
      val nprobe = 2
      val cents = ivfCentroids(s, dir)
      val assigned = ivfAssigned(s, dir)
      // query: nprobe best cells per probe
      val probes = c.filter(col("vec_id") < annProbeCount)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val wProbe = Window.partitionBy(col("probe_id"))
        .orderBy(col("csim").desc, col("cent_id"))
      val probeCells = probes.crossJoin(broadcast(cents))
        .select(col("probe_id"), col("pv"), col("cent_id"),
          round(cosine(col("cv"), col("pv")), 6).as("csim"))
        .withColumn("rk", row_number().over(wProbe))
        .filter(col("rk") <= nprobe)
        .select(col("probe_id"), col("pv"), col("cent_id").as("cell"))
      // candidates = vectors in the probed cells only; exact rerank
      val wTop = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      assigned.join(broadcast(probeCells), "cell")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(col("pv"), col("v")), 6).as("sim"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("probe_id"), col("vec_id"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("probe_id"), col("rk"))
    },

    // One Lloyd iteration of k-means on the embedding corpus (the
    // embedding-clustering primitive behind semantic dedup / corpus
    // bucketing): assign every vector to its nearest of k=16 seed
    // centroids (broadcast argmax, as q111), recompute centroids as the
    // element-wise mean of members, then re-assign against the updated
    // centroids and report the resulting cell census. Iterating = the
    // full k-means loop; one step keeps the oracle tractable while
    // exercising the whole assign→update→assign machinery.
    //
    // Determinism across engines: the mean routes through an EXACT
    // decimal sum — each double becomes its shortest-round-trip string,
    // parsed as DECIMAL(38,20) (exact: ≤17 significant digits), summed
    // without float error, cast back — so Spark and DuckDB derive
    // byte-identical centroids regardless of summation order. Scale: the
    // update is one shuffle on (cell, dim) — fully parallel across the
    // 64·k dimension keys; centroids stay broadcast-sized.
    "q121_kmeans" -> { (s, dir) =>
      val c = corpus(s, dir)
      val assign1 = ivfAssigned(s, dir) // nearest seed centroid per vector
      val means = assign1
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "val")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("val").cast(StringType).cast(DecimalType(38, 20)))
          .cast(DoubleType) / count(lit(1))).as("m"))
      val newCents = means
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("cell").as("cent_id"),
          transform(col("pm"), x => x.getField("m")).as("cv"))
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("cent_id"))
      c.crossJoin(broadcast(newCents))
        .select(col("vec_id"), col("cent_id"),
          round(cosine(col("cv"), col("v")), 6).as("csim"))
        .withColumn("rk", row_number().over(wAssign))
        .filter(col("rk") === 1)
        .groupBy(col("cent_id").as("cell"))
        .agg(count(lit(1)).as("n_members"),
          (sum(col("csim").cast(DecimalType(18, 6))).cast(DoubleType) /
            count(lit(1))).as("mean_sim"))
        .select(col("cell"), col("n_members"), round(col("mean_sim"), 6)
          .as("mean_sim"))
        .orderBy(col("cell"))
    },

    // Product-quantization ANN (ADC — asymmetric distance computation),
    // the memory-compressed index family next to LSH (q78) and IVF
    // (q111): vectors split into m=8 subvectors, each encoded as its
    // nearest of k=16 per-subspace centroids — 8 bytes per vector
    // instead of 256 — and probes rank by the sum of per-subspace
    // L2² lookups against the codebook (the probe is NEVER compared to
    // raw corpus vectors). Codebook = subvectors of the fixed corpus
    // slice 100..115 (same determinism trick as q111) so DuckDB can
    // replay the identical index; production k-means-trains it, the
    // encode/LUT/rank machinery is unchanged. Scale: encode is one
    // corpus pass against a broadcast 128-row codebook; the query cost
    // is (probes × m × k) LUT entries + one shuffle on the narrow
    // (probe, vec) key over CODES, never raw vectors.
    "q143_ann_pq" -> { (s, dir) =>
      val m = 8; val subDim = 8
      val c = corpus(s, dir)
      def subvectors(vcol: Column): Column =
        transform(sequence(lit(0), lit(m - 1)),
          j => slice(vcol, j * subDim + 1, lit(subDim)))
      def l2sq(a: Column, b: Column): Column =
        round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v), 6)
      val codebook = c.filter(col("vec_id") >= 100 && col("vec_id") < 116)
        .select((col("vec_id") - 100).as("cent_id"),
          posexplode(subvectors(col("v"))).as(Seq("j", "cv")))
      // r20 note: a map-side array_min encode (broadcast codebook
      // array, no window) was prototyped and A/B-measured SLOWER here
      // (2.1–2.5 s → 3.0–4.2 s, bench methodology, 3 reps each): the
      // per-element interpreted struct-ordering comparisons cost more
      // than the (vec_id, j) exchange + sort they replace at this
      // codebook size. Kept the window form; see OPTIMIZATION_r20.md.
      val subv = c.select(col("vec_id"),
        posexplode(subvectors(col("v"))).as(Seq("j", "sv")))
      val wCode = Window.partitionBy(col("vec_id"), col("j"))
        .orderBy(col("d"), col("cent_id"))
      val codes = subv.join(broadcast(codebook), "j")
        .select(col("vec_id"), col("j"), col("cent_id"),
          l2sq(col("sv"), col("cv")).as("d"))
        .withColumn("rk", row_number().over(wCode))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("j"), col("cent_id").as("code"))
      val lut = c.filter(col("vec_id") < annProbeCount)
        .select(col("vec_id").as("probe_id"),
          posexplode(subvectors(col("v"))).as(Seq("j", "pv")))
        .join(broadcast(codebook), "j")
        .select(col("probe_id"), col("j"), col("cent_id").as("code"),
          l2sq(col("pv"), col("cv")).as("d"))
      val wTop = Window.partitionBy(col("probe_id"))
        .orderBy(col("adist"), col("vec_id"))
      codes.join(broadcast(lut), Seq("j", "code"))
        .filter(col("vec_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("vec_id"))
        // d is 6dp-rounded: the DECIMAL sum is exact and therefore
        // summation-order-independent across engines
        .agg(sum(col("d").cast(DecimalType(18, 6))).cast(DoubleType)
          .as("adist"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("probe_id"), col("vec_id"), col("adist"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("probe_id"), col("rk"))
    },

    // Hybrid retrieval: keyword pre-filter on documents, then cosine
    // ranking of the surviving docs' embeddings against a probe vector —
    // the text+vector search pattern (filter prunes the candidate set
    // BEFORE any vector math; at scale the filter is pushed to parquet).
    "q96_hybrid_search" -> { (s, dir) =>
      val docs = Tables.df(s, dir, "documents")
        .filter(col("text").contains("vector"))
        .select(col("doc_id"))
      val emb = corpus(s, dir)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("v").as("pv"))
      docs.join(emb, docs("doc_id") === emb("vec_id"))
        .crossJoin(broadcast(probe))
        .select(col("doc_id"), col("label"),
          round(cosine(col("pv"), col("v")), 6).as("sim"))
        .orderBy(col("sim").desc, col("doc_id"))
        .limit(10)
    },

    // Embedding-space dedup end-to-end over ALL vectors (the q129
    // composition in cosine space): multi-table sign-LSH buckets both
    // sides once, candidate pairs come from a narrow-key self-join on
    // (table, bucket) — never all-pairs — vectors re-attach only for
    // the exact-cosine verification, and connected components over the
    // verified edges assign every vector a cluster + keep decision.
    // The fixture's "semantic neighbors" sit at cosine ~0.4-0.5 (no
    // >=0.8 pairs exist), and sign-LSH per-bit collision is only
    // 1 - θ/π ≈ 0.63 there, so this variant amplifies with 8 tables
    // (recall ≈ 0.9 at the spec's corpus size) where the >=0.9-cosine
    // ANN path (q78) needs just 4. Oracle (q75 pattern — hyperplane
    // literals are not oracle-expressible): the 44 verified edges
    // found at sf0.01 are pinned (graft.Scratch regenerates them from
    // semanticVerifiedPairs) and DuckDB runs the recursive-CTE CC over
    // them — so both a bucketing change (edge set shifts) and a CC
    // defect (labels shift) go red. PipelineSpec additionally
    // cross-checks cluster agreement against the exact all-pairs edges
    // on a bounded slice.
    "q133_semantic_dedup" -> { (s, dir) =>
      val c = corpus(s, dir)
      val edgesOnce = semanticVerifiedPairs(s, dir)
      val edges = edgesOnce
        .select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(edgesOnce.select(col("b_id").as("src"), col("a_id").as("dst")))
      val labels = Pipeline3.connectedComponents(edges)
        .select(col("node").as("vec_id"), col("root"))
      c.select(col("vec_id"))
        .join(labels, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("root"), col("vec_id")).as("cluster_id"))
        .withColumn("keep", col("vec_id") === col("cluster_id"))
        .orderBy(col("vec_id"))
    },

    // Fuzzy string matching by EDIT DISTANCE with length-banded
    // candidate pruning — the missing similarity family next to
    // Jaccard (q73/q75), cosine (q77+) and SimHash (q76): match doc
    // "titles" (first 4 tokens) within levenshtein <= 5. Scale path:
    // dist <= k implies |len(a)-len(b)| <= k, so bucketing titles by
    // floor(len/(k+1)) and probing each title against its own and the
    // two adjacent buckets is an EQUI-join that is provably
    // recall-LOSSLESS (unlike LSH there is no missed-pair probability)
    // while candidates stay bucket-occupancy-bounded — never all-pairs.
    // The quadratic levenshtein kernel runs on candidates only.
    "q164_fuzzy_title_match" -> { (s, dir) =>
      val maxDist = 5
      val t = Tables.df(s, dir, "documents")
        .filter(col("doc_id") <= 200)
        .select(col("doc_id"),
          array_join(slice(tokens(col("text")), 1, 4), " ").as("title"))
        .withColumn("b",
          floor(length(col("title")) / (maxDist + 1)).cast(LongType))
      val probe = t.select(col("doc_id").as("a_id"),
        col("title").as("ta"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("eb"))
      val build = t.select(col("doc_id").as("b_id"),
        col("title").as("tb"), col("b").as("bb"))
      probe.join(build, col("eb") === col("bb") &&
          col("a_id") < col("b_id"))
        .filter(levenshtein(col("ta"), col("tb")) <= maxDist)
        .select(col("a_id"), col("b_id"),
          levenshtein(col("ta"), col("tb")).cast(LongType).as("dist"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // Embedding near-duplicate pairs: same-label vectors with cosine >=
    // 0.3 on a bounded slice (oracle-checked exact variant of embedding
    // dedup; the scale path reuses q78's bucketing).
    "q79_embed_dups" -> { (s, dir) =>
      val c = corpus(s, dir).filter(col("vec_id") <= 300)
      val a = c.select(col("vec_id").as("a_id"), col("v").as("va"),
        col("label").as("la"))
      val b = c.select(col("vec_id").as("b_id"), col("v").as("vb"),
        col("label").as("lb"))
      a.join(b, col("a_id") < col("b_id") && col("la") === col("lb"))
        .select(col("a_id"), col("b_id"), col("la").as("label"),
          round(cosine(col("va"), col("vb")), 6).as("sim"))
        .filter(col("sim") >= 0.3)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Symmetric int8 embedding quantization + fidelity report — the
    // compression step every billion-vector ANN index runs before
    // sharding (4x smaller than float32, SIMD-friendly dot products).
    // Per vector: scale = max|x| / 127, q_i = floor(x_i/scale + 0.5),
    // dequant check emits max abs error, saturation count, and
    // cosine(orig, dequant). Everything is per-row map work inside one
    // codegen stage (transform/zip_with/aggregate higher-order funcs —
    // no UDF, no shuffle at all until the final ORDER BY), so at 100 TB
    // this is a pure scan-speed pass. The error bound |err| <= scale/2
    // is proved as a property in PipelineSpec.
    "q228_int8_quant" -> { (s, dir) =>
      val e = Tables.df(s, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("amax",
          aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
        .filter(col("amax") > 0)
        .withColumn("q", transform(col("v"),
          x => floor(x * lit(127.0) / col("amax") + lit(0.5))))
        .withColumn("dq", transform(col("q"),
          qi => qi * col("amax") / lit(127.0)))
      e.select(col("vec_id"),
        round(col("amax") / 127.0, 6).as("scale"),
        round(aggregate(
          zip_with(col("v"), col("dq"), (x, y) => abs(x - y)),
          lit(0.0), (a, x) => greatest(a, x)), 6).as("max_abs_err"),
        size(filter(col("q"), qi => abs(qi) === 127.0)).cast(LongType)
          .as("n_sat"),
        round(cosine(col("v"), col("dq")), 6).as("cos_fidelity"))
        .orderBy(col("vec_id"))
    },

    // ANN quality evaluation — recall@5 of the LSH index (q78) against
    // the exact brute-force ranking (q77), per probe. This closes the
    // eval loop the dedup side already has (q170): an index-parameter
    // change shows up as a recall number, not a silent result drift.
    // Runs BOTH pipelines live (the LSH side is not pinned here), so
    // the overlap join is the only extra work — two top-5 sets joined
    // on the narrow (probe, vec) key.
    "q237_ann_recall" -> { (s, dir) =>
      val bf = queries("q77_ann_bruteforce")(s, dir)
        .select(col("probe_id"), col("vec_id"))
      val lsh = queries("q78_ann_lsh")(s, dir)
        .select(col("probe_id").as("lp"), col("vec_id").as("lv"))
      val hits = bf.join(lsh,
          col("probe_id") === col("lp") && col("vec_id") === col("lv"),
          "leftsemi")
        .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hit"))
      bf.select(col("probe_id")).distinct()
        .join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_at_5", round(col("n_hit") / 5.0, 6))
        .orderBy(col("probe_id"))
    },

    // Batch model scoring + evaluation — the SQL-pushdown inference
    // pattern: a fixed linear model (weights derived arithmetically so
    // both engines build the identical vector) scores every embedding
    // through dot + sigmoid IN-PLAN (no UDF), predictions meet the
    // labels in a confusion matrix with precision/recall/F1. At 100 TB
    // this is a pure map pass + a 4-cell aggregate — the shape model
    // backfills actually run.
    "q284_model_eval" -> { (s, dir) =>
      val weights = expr(
        "transform(sequence(0, 63), i -> ((i * 37) % 101 - 50) / 100.0)")
      val z = aggregate(
        zip_with(asDouble(col("embedding")), weights, (x, w) => x * w),
        lit(0.0), (a, x) => a + x)
      val scored = Tables.df(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          (lit(1.0) / (lit(1.0) + exp(-z))).as("score"))
        .select(
          (col("score") >= 0.5).as("pred"),
          (col("label") % 2 === 0).as("truth"))
      scored.agg(
          count(lit(1)).as("n"),
          sum(when(col("pred") && col("truth"), 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("pred") && !col("truth"), 1L).otherwise(0L))
            .as("fp"),
          sum(when(!col("pred") && col("truth"), 1L).otherwise(0L))
            .as("fn"),
          sum(when(!col("pred") && !col("truth"), 1L).otherwise(0L))
            .as("tn"))
        .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
          round((col("tp") + col("tn")).cast(DoubleType) / col("n"), 6)
            .as("accuracy"),
          round(col("tp").cast(DoubleType) / (col("tp") + col("fp")), 6)
            .as("precision"),
          round(col("tp").cast(DoubleType) / (col("tp") + col("fn")), 6)
            .as("recall"))
    },

    // ANN index-as-TABLE: the build/probe split production serving
    // actually runs. The IVF assignment is written out PHYSICALLY
    // partitioned by cell; the probe side resolves its nprobe cells at
    // plan time (a centroid-table lookup — the q226 statistics
    // precedent) so the read prunes to those partition DIRECTORIES via
    // literal partition filters (plan-asserted): at 100 TB the probe
    // touches nprobe/k of the index files, not the corpus. Same
    // logical answer as q111 (the layout cannot change results — the
    // same relation q64's bucketed join has to q10's).
    "q249_ann_partitioned_index" -> { (s, dir) =>
      val path = "/tmp/graft_warehouse/ann_ivf_index"
      ivfAssigned(s, dir).write.mode("overwrite")
        .partitionBy("cell").parquet(path)
      val wProbe = Window.partitionBy(col("probe_id"))
        .orderBy(col("csim").desc, col("cent_id"))
      val probeCells = corpus(s, dir).filter(col("vec_id") < annProbeCount)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
        .crossJoin(broadcast(ivfCentroids(s, dir)))
        .select(col("probe_id"), col("pv"), col("cent_id"),
          round(cosine(col("cv"), col("pv")), 6).as("csim"))
        .withColumn("rk", row_number().over(wProbe))
        .filter(col("rk") <= 2)
        .select(col("probe_id"), col("pv"), col("cent_id").as("cell"))
      val cells = probeCells.select(col("cell")).distinct()
        .collect().map(_.getLong(0))
      val idx = s.read.parquet(path)
        .withColumn("cell", col("cell").cast(LongType))
        .filter(col("cell").isin(cells: _*))
      val wTop = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      idx.join(broadcast(probeCells), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(col("pv"), col("v")), 6).as("sim"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("probe_id"), col("vec_id"), col("sim"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("probe_id"), col("rk"))
    }
  )

  /** The (probe_id, vec_id) top-5 ids q78's LSH ANN returns at sf0.01 —
    * regenerate from the Verify dump (or graft.Scratch's candidate set)
    * if the hyperplane seeds, lshBits scaling, or the fixture change.
    * Only the ids are pinned; the ORACLE recomputes every cosine and
    * rank from the embeddings table. */
  private val q78PinnedTop5: String =
    "(0,365),(0,334),(0,387),(0,73),(0,7),(1,386),(1,407),(1,472)," +
    "(1,220),(1,233),(2,450),(2,188),(2,320),(2,418),(2,471),(3,130)," +
    "(3,207),(3,315),(3,437),(3,463),(4,408),(4,482),(4,280),(4,470)," +
    "(4,384),(5,404),(5,157),(5,487),(5,266),(5,11),(6,145),(6,386)," +
    "(6,374),(6,11),(6,271),(7,425),(7,334),(7,445),(7,302),(7,0)," +
    "(8,39),(8,138),(8,497),(8,173),(8,494),(9,386),(9,198),(9,259)," +
    "(9,319),(9,274),(10,233),(10,38),(10,243),(10,124),(10,230)," +
    "(11,277),(11,20),(11,78),(11,233),(11,5),(12,127),(12,274)," +
    "(12,157),(12,303),(12,429),(13,274),(13,314),(13,431),(13,127)," +
    "(13,240),(14,146),(14,147),(14,271),(14,479),(14,156),(15,59)," +
    "(15,284),(15,452),(15,302),(15,476),(16,402),(16,222),(16,124)," +
    "(16,282),(16,88),(17,115),(17,416),(17,385),(17,70),(17,399)," +
    "(18,181),(18,112),(18,63),(18,255),(18,356),(19,87),(19,317)," +
    "(19,54),(19,276),(19,273)"

  /** The verified (a_id, b_id) edges q133's sign-LSH + cosine >= 0.4
    * verification finds at sf0.01 — regenerate with graft.Scratch
    * (Q133_EDGES) if the hyperplane seeds or fixture change. The ORACLE
    * runs its own recursive-CTE connected components over these edges,
    * so the engine's CC kernel is independently re-derived. */
  private val q133PinnedEdges: String =
    "(7,425),(16,402),(19,87),(24,384),(28,305),(32,200),(35,351)," +
    "(44,301),(45,298),(53,234),(70,210),(75,256),(83,310),(84,190)," +
    "(85,404),(108,142),(120,421),(150,152),(156,438),(158,452)," +
    "(159,202),(162,282),(166,324),(169,466),(172,440),(191,431)," +
    "(195,317),(197,318),(200,204),(202,245),(203,414),(205,485)," +
    "(207,326),(238,287),(253,385),(262,291),(290,325),(290,331)," +
    "(325,331),(334,382),(335,439),(350,395),(355,417),(387,388)"

  /** q111's relational semantics — shared verbatim by q249, whose
    * partitioned physical layout cannot change the answer. */
  private val ivfOracleSql: String =
    """WITH cents AS (
      |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
      |  FROM embeddings WHERE vec_id >= 100 AND vec_id < 116),
      |assigned AS (
      |  SELECT vec_id, embedding, cell FROM (
      |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(c.cv, e.embedding::DOUBLE[]), 6) DESC,
      |                 c.cent_id) AS rk
      |    FROM embeddings e CROSS JOIN cents c
      |  ) WHERE rk = 1),
      |probe_cells AS (
      |  SELECT probe_id, pv, cell FROM (
      |    SELECT p.vec_id AS probe_id, p.embedding::DOUBLE[] AS pv,
      |      c.cent_id AS cell,
      |      row_number() OVER (PARTITION BY p.vec_id
      |        ORDER BY round(list_cosine_similarity(c.cv, p.embedding::DOUBLE[]), 6) DESC,
      |                 c.cent_id) AS rk
      |    FROM embeddings p CROSS JOIN cents c WHERE p.vec_id < 20
      |  ) WHERE rk <= 2)
      |SELECT probe_id, vec_id, sim, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT pc.probe_id, a.vec_id,
      |    round(list_cosine_similarity(pc.pv, a.embedding::DOUBLE[]), 6) AS sim,
      |    row_number() OVER (PARTITION BY pc.probe_id
      |      ORDER BY round(list_cosine_similarity(pc.pv, a.embedding::DOUBLE[]), 6) DESC,
      |               a.vec_id) AS rk
      |  FROM assigned a JOIN probe_cells pc ON a.cell = pc.cell
      |  WHERE a.vec_id != pc.probe_id
      |) WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin

  /** DuckDB side of q306: one covar_pop cell per upper-triangle pair
    * (DuckDB lists are 1-based, matching element_at). */
  private val covCellsSql: String =
    (for { i <- 1 to 6; j <- i to 6 } yield
      s"SELECT $i AS i, $j AS j, round(covar_pop(embedding[$i], " +
        s"embedding[$j]), 8) AS cov FROM embeddings")
      .mkString("\nUNION ALL\n")

  override def oracle: Map[String, String] = Map(
    "q377_cv_folds" ->
      """WITH scored AS (
        |  SELECT vec_id,
        |    1.0 / (1.0 + exp(-list_sum(list_transform(
        |      generate_series(0, 63),
        |      i -> embedding[i + 1] * (((i * 37) % 101 - 50) / 100.0)))))
        |      >= 0.5 AS pred,
        |    (label % 2 = 0) AS truth
        |  FROM embeddings),
        |folded AS (
        |  SELECT pred, truth,
        |    CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
        |      * 16 +
        |      (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 5
        |      AS INTEGER) AS fold
        |  FROM (SELECT pred, truth,
        |          md5('cv5' || CAST(vec_id AS VARCHAR)) AS h
        |        FROM scored))
        |SELECT fold, count(*) AS n,
        |  round(sum(CASE WHEN pred = truth THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS accuracy
        |FROM folded GROUP BY 1 ORDER BY 1""".stripMargin,
    "q375_auc_ranksum" ->
      """WITH scored AS (
        |  SELECT vec_id,
        |    1.0 / (1.0 + exp(-list_sum(list_transform(
        |      generate_series(0, 63),
        |      i -> embedding[i + 1] * (((i * 37) % 101 - 50) / 100.0)))))
        |      AS score,
        |    (label % 2 = 0) AS truth
        |  FROM embeddings),
        |ranked AS (
        |  SELECT truth,
        |    row_number() OVER (ORDER BY score, vec_id) AS rk
        |  FROM scored),
        |m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN NOT truth THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_neg,
        |    sum(CASE WHEN truth THEN rk ELSE 0 END) AS rank_sum
        |  FROM ranked)
        |SELECT n_pos, n_neg,
        |  round((rank_sum - n_pos * (n_pos + 1) / 2)::DOUBLE
        |    / (n_pos * n_neg), 6) AS auc
        |FROM m""".stripMargin,
    "q368_embedding_outliers" ->
      """WITH px AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS pos,
        |    unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |cents AS (
        |  SELECT label, list(cx ORDER BY pos) AS cv FROM (
        |    SELECT label, pos, avg(x) AS cx FROM px GROUP BY 1, 2)
        |  GROUP BY label),
        |scored AS (
        |  SELECT e.label, e.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[],
        |      c.cv), 6) AS cos
        |  FROM embeddings e JOIN cents c ON e.label = c.label),
        |thr AS (
        |  SELECT label, quantile_disc(cos, 0.05) AS p05,
        |    min(cos) AS mc
        |  FROM scored GROUP BY 1)
        |SELECT s.label, count(*) AS n,
        |  CAST(sum(CASE WHEN cos < p05 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  min(p05) AS p05,
        |  min(CASE WHEN cos = mc THEN vec_id END) AS worst_member,
        |  round(min(cos), 6) AS worst_cos
        |FROM scored s JOIN thr ON s.label = thr.label
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q338_gains_table" ->
      """WITH scored AS (
        |  SELECT vec_id,
        |    1.0 / (1.0 + exp(-list_sum(list_transform(
        |      generate_series(0, 63),
        |      i -> embedding[i + 1] * (((i * 37) % 101 - 50) / 100.0)))))
        |      AS score,
        |    (label % 2 = 0) AS truth
        |  FROM embeddings),
        |d AS (
        |  SELECT truth,
        |    ntile(10) OVER (ORDER BY score DESC, vec_id) AS decile
        |  FROM scored),
        |per AS (
        |  SELECT decile, count(*) AS n,
        |    CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pos
        |  FROM d GROUP BY 1),
        |tot AS (SELECT sum(n) AS tot, sum(n_pos) AS tot_pos FROM per)
        |SELECT decile, n, n_pos,
        |  round(sum(n_pos) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    ::DOUBLE / tot_pos, 6) AS cum_capture,
        |  round((n_pos::DOUBLE / n) / (tot_pos::DOUBLE / tot), 4)
        |    AS lift
        |FROM per, tot ORDER BY decile""".stripMargin,
    "q333_class_separability" ->
      """WITH px AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS pos,
        |    unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |cents AS (
        |  SELECT label, list(cx ORDER BY pos) AS cv FROM (
        |    SELECT label, pos, avg(x) AS cx FROM px GROUP BY 1, 2)
        |  GROUP BY label),
        |n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
        |SELECT a.label AS la, b.label AS lb,
        |  round(list_cosine_similarity(a.cv, b.cv), 6)
        |    AS centroid_cos,
        |  na.n AS n_a, nb.n AS n_b
        |FROM cents a JOIN cents b ON a.label < b.label
        |JOIN n na ON na.label = a.label
        |JOIN n nb ON nb.label = b.label
        |ORDER BY la, lb""".stripMargin,
    "q332_centroid_geometry" ->
      """WITH px AS (
        |  SELECT generate_subscripts(embedding, 1) AS pos,
        |    unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |cent AS (
        |  SELECT list(cx ORDER BY pos) AS centroid FROM (
        |    SELECT pos, avg(x) AS cx FROM px GROUP BY pos)),
        |scored AS (
        |  SELECT round(list_cosine_similarity(embedding::DOUBLE[],
        |    centroid), 6) AS cos
        |  FROM embeddings, cent)
        |SELECT CASE WHEN cos < -1.0 THEN 0
        |    WHEN cos >= 1.0 THEN 41
        |    ELSE 1 + CAST(floor((cos + 1.0) * 40 / 2.0) AS BIGINT)
        |  END AS bkt,
        |  count(*) AS n,
        |  round(min(cos), 6) AS cmin, round(max(cos), 6) AS cmax
        |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin,
    "q330_matryoshka_fidelity" ->
      """WITH ranked AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id,
        |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |      round(list_cosine_similarity(p.embedding::DOUBLE[],
        |        c.embedding::DOUBLE[]), 6) DESC, c.vec_id) AS rkf,
        |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |      round(list_cosine_similarity(p.embedding[1:16]::DOUBLE[],
        |        c.embedding[1:16]::DOUBLE[]), 6) DESC, c.vec_id)
        |      AS rkt
        |  FROM embeddings p JOIN embeddings c ON c.vec_id != p.vec_id
        |  WHERE p.vec_id < 20),
        |ov AS (
        |  SELECT f.probe_id, count(*) AS overlap5
        |  FROM (SELECT probe_id, vec_id FROM ranked WHERE rkf <= 5) f
        |  JOIN (SELECT probe_id, vec_id FROM ranked WHERE rkt <= 5) t
        |    ON f.probe_id = t.probe_id AND f.vec_id = t.vec_id
        |  GROUP BY 1)
        |SELECT r1.probe_id, coalesce(ov.overlap5, 0) AS overlap5,
        |  r1.vec_id AS top1_full, r2.vec_id AS top1_trunc
        |FROM (SELECT probe_id, vec_id FROM ranked WHERE rkf = 1) r1
        |JOIN (SELECT probe_id, vec_id FROM ranked WHERE rkt = 1) r2
        |  ON r1.probe_id = r2.probe_id
        |LEFT JOIN ov ON r1.probe_id = ov.probe_id
        |ORDER BY r1.probe_id""".stripMargin,
    "q306_embedding_covariance" ->
      s"SELECT i, j, cov FROM (\n$covCellsSql\n) ORDER BY i, j",
    "q284_model_eval" ->
      """WITH scored AS (
        |  SELECT
        |    1.0 / (1.0 + exp(-list_sum(list_transform(
        |      generate_series(0, 63),
        |      i -> embedding[i + 1] * (((i * 37) % 101 - 50) / 100.0)))))
        |      >= 0.5 AS pred,
        |    label % 2 = 0 AS truth
        |  FROM embeddings),
        |m AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM scored)
        |SELECT n, tp, fp, fn, tn,
        |  round((tp + tn)::DOUBLE / n, 6) AS accuracy,
        |  round(tp::DOUBLE / (tp + fp), 6) AS precision,
        |  round(tp::DOUBLE / (tp + fn), 6) AS recall
        |FROM m""".stripMargin,
    "q237_ann_recall" ->
      s"""WITH ids(probe_id, vec_id) AS (VALUES $q78PinnedTop5),
         |bf AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(list_cosine_similarity(
         |          p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)
         |          DESC, c.vec_id) AS rk
         |    FROM embeddings p JOIN embeddings c
         |      ON c.vec_id != p.vec_id
         |    WHERE p.vec_id < 20
         |  ) WHERE rk <= 5),
         |hits AS (
         |  SELECT bf.probe_id, count(*) AS n_hit FROM bf
         |  JOIN ids ON ids.probe_id = bf.probe_id
         |    AND ids.vec_id = bf.vec_id
         |  GROUP BY 1)
         |SELECT p.probe_id, CAST(coalesce(h.n_hit, 0) AS BIGINT)
         |    AS n_hit,
         |  round(coalesce(h.n_hit, 0) / 5.0, 6) AS recall_at_5
         |FROM (SELECT DISTINCT probe_id FROM bf) p
         |LEFT JOIN hits h ON h.probe_id = p.probe_id
         |ORDER BY p.probe_id""".stripMargin,
    "q228_int8_quant" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS amax FROM v),
        |qd AS (
        |  SELECT vec_id, v, amax,
        |    list_transform(v, x -> floor(x * 127.0 / amax + 0.5)) AS q
        |  FROM sc WHERE amax > 0),
        |dq AS (
        |  SELECT *, list_transform(q, qi -> qi * amax / 127.0) AS d
        |  FROM qd),
        |err AS (
        |  SELECT vec_id, max(abs(x - qq * amax / 127.0)) AS max_abs_err,
        |    count(*) FILTER (abs(qq) = 127) AS n_sat
        |  FROM (SELECT vec_id, amax, UNNEST(v) AS x, UNNEST(q) AS qq
        |        FROM qd)
        |  GROUP BY vec_id)
        |SELECT dq.vec_id, round(amax / 127.0, 6) AS scale,
        |  round(err.max_abs_err, 6) AS max_abs_err,
        |  CAST(err.n_sat AS BIGINT) AS n_sat,
        |  round(list_cosine_similarity(v, d), 6) AS cos_fidelity
        |FROM dq JOIN err ON dq.vec_id = err.vec_id
        |ORDER BY dq.vec_id""".stripMargin,
    "q164_fuzzy_title_match" ->
      """WITH t AS (SELECT doc_id,
        |  array_to_string((string_split(text, ' '))[1:4], ' ') AS title
        |  FROM documents WHERE doc_id <= 200)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.title, b.title) <= 5
        |ORDER BY a_id, b_id""".stripMargin,
    "q78_ann_lsh" ->
      s"""WITH ids(probe_id, vec_id) AS (VALUES $q78PinnedTop5)
         |SELECT CAST(probe_id AS BIGINT) AS probe_id,
         |  CAST(vec_id AS BIGINT) AS vec_id, sim,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY sim DESC, vec_id) AS BIGINT) AS rk
         |FROM (
         |  SELECT i.probe_id, i.vec_id,
         |    round(list_cosine_similarity(p.embedding::DOUBLE[],
         |      c.embedding::DOUBLE[]), 6) AS sim
         |  FROM ids i
         |  JOIN embeddings p ON p.vec_id = i.probe_id
         |  JOIN embeddings c ON c.vec_id = i.vec_id)
         |ORDER BY probe_id, rk""".stripMargin,
    "q133_semantic_dedup" ->
      s"""WITH RECURSIVE ids(a_id, b_id) AS (VALUES $q133PinnedEdges),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM ids
         |          UNION ALL SELECT b_id, a_id FROM ids),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(node, root) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
         |labels AS (SELECT node, min(root) AS cluster_id
         |           FROM reach GROUP BY node)
         |SELECT e.vec_id,
         |  CAST(coalesce(l.cluster_id, e.vec_id) AS BIGINT) AS cluster_id,
         |  e.vec_id = coalesce(l.cluster_id, e.vec_id) AS keep
         |FROM embeddings e LEFT JOIN labels l ON e.vec_id = l.node
         |ORDER BY e.vec_id""".stripMargin,
    "q77_ann_bruteforce" ->
      """SELECT probe_id, vec_id, sim, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT p.vec_id AS probe_id, c.vec_id,
        |    round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim,
        |    row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
        |               c.vec_id) AS rk
        |  FROM embeddings p JOIN embeddings c ON c.vec_id != p.vec_id
        |  WHERE p.vec_id < 20
        |) WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin,
    "q111_ann_ivf" -> ivfOracleSql,
    "q249_ann_partitioned_index" -> ivfOracleSql,
    "q121_kmeans" ->
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id >= 100 AND vec_id < 116),
        |assign1 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cent_id AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(c.cv, e.embedding::DOUBLE[]), 6) DESC,
        |                 c.cent_id) AS rk
        |    FROM embeddings e CROSS JOIN cents c
        |  ) WHERE rk = 1),
        |vals AS (
        |  SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        |  FROM assign1),
        |means AS (
        |  SELECT cell, pos,
        |    CAST(sum(CAST(CAST(val AS VARCHAR) AS DECIMAL(38,20))) AS DOUBLE)
        |      / count(*) AS m
        |  FROM vals GROUP BY cell, pos),
        |newcents AS (
        |  SELECT cell AS cent_id, list(m ORDER BY pos) AS cv
        |  FROM means GROUP BY cell),
        |assign2 AS (
        |  SELECT vec_id, cell, csim FROM (
        |    SELECT e.vec_id, c.cent_id AS cell,
        |      round(list_cosine_similarity(c.cv, e.embedding::DOUBLE[]), 6) AS csim,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(c.cv, e.embedding::DOUBLE[]), 6) DESC,
        |                 c.cent_id) AS rk
        |    FROM embeddings e CROSS JOIN newcents c
        |  ) WHERE rk = 1)
        |SELECT cell, count(*) AS n_members,
        |  round(CAST(sum(CAST(csim AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_sim
        |FROM assign2 GROUP BY cell ORDER BY cell""".stripMargin,
    "q143_ann_pq" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sub AS (
        |  SELECT vec_id, j, v[j*8+1 : j*8+8] AS sv
        |  FROM v, unnest(range(0, 8)) AS t(j)),
        |codebook AS (
        |  SELECT vec_id - 100 AS cent_id, j, sv AS cv FROM sub
        |  WHERE vec_id >= 100 AND vec_id < 116),
        |dists AS (
        |  SELECT s.vec_id, s.j, cb.cent_id,
        |    round(list_sum(list_transform(range(1, 9),
        |      i -> (s.sv[i] - cb.cv[i]) * (s.sv[i] - cb.cv[i]))), 6) AS d
        |  FROM sub s JOIN codebook cb ON s.j = cb.j),
        |codes AS (
        |  SELECT vec_id, j, cent_id AS code FROM (
        |    SELECT vec_id, j, cent_id, row_number() OVER (
        |      PARTITION BY vec_id, j ORDER BY d, cent_id) AS rk
        |    FROM dists) WHERE rk = 1),
        |lut AS (
        |  SELECT vec_id AS probe_id, j, cent_id AS code, d
        |  FROM dists WHERE vec_id < 20),
        |scored AS (
        |  SELECT l.probe_id, c.vec_id,
        |    CAST(sum(CAST(l.d AS DECIMAL(18,6))) AS DOUBLE) AS adist
        |  FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.code
        |  WHERE c.vec_id != l.probe_id
        |  GROUP BY l.probe_id, c.vec_id)
        |SELECT probe_id, vec_id, adist, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT probe_id, vec_id, adist, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY adist, vec_id) AS rk
        |  FROM scored) WHERE rk <= 5
        |ORDER BY probe_id, rk""".stripMargin,
    "q96_hybrid_search" ->
      """SELECT d.doc_id, e.label,
        |  round(list_cosine_similarity(
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0),
        |    e.embedding::DOUBLE[]), 6) AS sim
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |WHERE contains(d.text, 'vector')
        |ORDER BY sim DESC, d.doc_id LIMIT 10""".stripMargin,
    "q79_embed_dups" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id < b.vec_id AND a.label = b.label
        |WHERE a.vec_id <= 300 AND b.vec_id <= 300
        |  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3
        |ORDER BY a_id, b_id""".stripMargin
  )
}
