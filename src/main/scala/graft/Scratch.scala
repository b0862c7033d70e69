package graft

import org.apache.spark.sql.functions._
import graft.functions.SimHash64
import graft.functions.TextOps.tokens

/** Dev-only pin regenerator: prints the pinned literals the oracle
  * compares against at sf0.01 — the q76 checksum row and the q129,
  * q133, q78 and q170b id sets. Not part of the library surface; see
  * Pipeline.scala, Pipeline3.scala and Similarity.scala's pinned
  * literals for where the output goes. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val row = Tables.df(spark, dir, "documents")
      .select(col("doc_id"), SimHash64.simhash64(tokens(col("text"))).as("sim"))
      .select(col("sim"), shiftrightunsigned(col("sim"), 52).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("sim") % 1000000000L).as("sum_sim_mod"),
        expr("bit_xor(sim)").as("xor_sim"),
        countDistinct(col("sim")).as("n_distinct_sim"),
        countDistinct(col("bucket")).as("n_buckets"))
      .collect()(0)
    println(s"PINS n_docs=${row.getLong(0)} sum_sim_mod=${row.getLong(1)} " +
      s"xor_sim=${row.getLong(2)} n_distinct_sim=${row.getLong(3)} " +
      s"n_buckets=${row.getLong(4)}")

    def dumpPairs(tag: String, df: org.apache.spark.sql.DataFrame,
                  aCol: String, bCol: String): Unit = {
      val pairs = df.select(col(aCol), col(bCol)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      println(s"$tag count=${pairs.length}")
      println(s"$tag " +
        pairs.map { case (a, b) => s"($a,$b)" }.mkString(","))
    }
    dumpPairs("Q129_EDGES",
      graft.queries.Pipeline3.verifiedPairs(Tables.df(spark, dir, "documents")),
      "a_id", "b_id")
    dumpPairs("Q133_EDGES",
      graft.queries.Similarity.semanticVerifiedPairs(spark, dir),
      "a_id", "b_id")
    dumpPairs("Q78_CANDS",
      graft.queries.Similarity.annCandidates(spark, dir),
      "probe_id", "vec_id")
    // q170b pins: LSH-verified pairs on the calibration slice at the
    // 16×16 banding operating point (selected via the public confs —
    // the same path the query takes)
    val tuned = spark.newSession()
    tuned.conf.set(graft.functions.LshKnobs.bandsConf, "16")
    tuned.conf.set(graft.functions.LshKnobs.rowsConf, "16")
    dumpPairs("Q170B_PAIRS",
      graft.queries.Pipeline.lshCandidates(
          Tables.df(tuned, dir, "documents").filter(col("doc_id") <= 200))
        .filter(graft.functions.TextOps.jaccardHashed(
          col("tok_a"), col("tok_b")) >= 0.95)
        .select(col("a_id"), col("b_id")),
      "a_id", "b_id")
    spark.stop()
  }
}
