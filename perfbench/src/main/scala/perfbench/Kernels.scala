package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter

import graft.functions._

/** Per-row cost of graft's codegen'd kernels on seeded synthetic input.
  *
  * Each kernel is built through its public constructor and evaluated by a
  * whole-stage-codegen aggregate over a cached table. The figure is the
  * fastest of a few runs of that query divided by the row count: the
  * kernel plus a scan of the cached columns and a one-value aggregate,
  * which are the same for every kernel and every build.
  */
object Kernels {
  private val rows = 200000L
  private val reps = 4

  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    val df = input(spark, seed).cache()
    df.count()
    def e(c: Column): Expression = ColumnBridge.expression(c)
    def k(x: Expression): Column = ColumnBridge.column(x)
    val bloom = BloomFilter.create(rows, 0.01)
    df.select(col("h")).where(col("g") % 2 === 0).collect().foreach(r => bloom.putLong(r.getLong(0)))
    val bf = spark.sparkContext.broadcast(bloom)

    val cases: Seq[(String, DataFrame)] = Seq(
      "simhash64" -> df.agg(max(k(SimHash64(e(col("toks")))))),
      "minhash_signature" -> df.agg(sum(size(k(MinHashSignatureExpr(e(col("toks")), 32))))),
      "minhash_bands" -> df.agg(sum(size(k(MinHashBandsExpr(e(col("toks")), 8, 4))))),
      "jaccard_sorted_longs" -> df.agg(sum(k(JaccardSortedLongs(e(col("ha")), e(col("hb")))))),
      "cosine_similarity" -> df.agg(sum(k(CosineSimilarity(e(col("va")), e(col("vb")))))),
      "lsh_bucket" -> df.agg(max(k(LshBucketExpr(e(col("va")), 16, 7)))),
      "char_class_counts" -> df.agg(sum(size(k(CharClassCounts(e(col("text"))))))),
      "argmax_count_min_label" -> df.groupBy(col("g"))
        .agg(ArgMaxLong.argmaxCountMinLabel(col("lab"), col("cnt")).as("m"))
        .agg(sum(col("m"))),
      "bloom_might_contain" ->
        df.agg(sum(k(BloomMightContainBroadcast(bf, e(col("h")))).cast(LongType)))
    )
    val out = cases.map { case (name, q) =>
      def time(): Double = {
        val t0 = System.nanoTime(); q.collect(); (System.nanoTime() - t0).toDouble
      }
      time()
      s"functions.$name.ns_per_row" -> (1 to reps).map(_ => time()).min / rows
    }.toMap
    bf.destroy()
    df.unpersist(blocking = true)
    out
  }

  /** Deterministic in `seed`: every value is a hash of (row id, slot, seed). */
  private def input(spark: SparkSession, seed: Long): DataFrame = {
    def h(salt: Int, i: Column = lit(0)) = xxhash64(col("id"), i, lit(seed), lit(salt))
    def arr(n: Int)(f: Column => Column) = transform(sequence(lit(1), lit(n)), f)
    spark.range(0, rows, 1, 4).select(
      arr(16)(i => concat(lit("w"), pmod(h(1, i), lit(2000)).cast("string"))).as("toks"),
      array_sort(array_distinct(arr(32)(i => pmod(h(2, i), lit(200))))).as("ha"),
      array_sort(array_distinct(arr(32)(i => pmod(h(3, i), lit(200))))).as("hb"),
      arr(64)(i => (pmod(h(4, i), lit(20001)) - 10000) / 10000.0).as("va"),
      arr(64)(i => (pmod(h(5, i), lit(20001)) - 10000) / 10000.0).as("vb"),
      substring(repeat(lit("abcdefghij ABCDEF 0123456789 .,;!?-"), 7),
        (pmod(h(6), lit(35)) + 1).cast("int"), lit(200)).as("text"),
      h(7).as("h"),
      (col("id") % 1000).as("g"),
      pmod(h(8), lit(50)).as("lab"),
      pmod(h(9), lit(20)).as("cnt"))
  }
}
