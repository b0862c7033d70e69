package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused tests for the two r21 expression-level optimizations:
  * ArgMaxLong.argmaxCountMinLabel (the flat-buffer HashAggregate
  * replacement for q258's max_by(lab, struct(c, -lab))) and
  * BloomMightContainBroadcast (the broadcast-riding replacement for
  * q227's inlined-literal Bloom prefilter). */
class ArgMaxLongSpec extends AnyFunSuite {
  import TestSession._
  import graft.functions.ArgMaxLong.argmaxCountMinLabel

  test("argmaxCountMinLabel equals max_by(lab, struct(c, -lab)) on " +
    "randomized groups, across partition layouts (merge paths hit)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // many groups, deliberate count ties inside groups (c drawn from a
    // tiny range) so the smallest-label tiebreak decides often; labels
    // above 2^31 prove the no-packed-long claim
    val rows = (1 to 5000).map { _ =>
      (rnd.nextInt(40).toLong,
        rnd.nextInt(5).toLong + 1L,
        if (rnd.nextBoolean()) rnd.nextInt(1000).toLong
        else (1L << 33) + rnd.nextInt(1000))
    }
    for (nPart <- Seq(1, 3, 16)) {
      val df = rows.toDF("g", "c", "lab").repartition(nPart)
      val got = df.groupBy($"g")
        .agg(argmaxCountMinLabel($"lab", $"c").as("m"))
        .as[(Long, Long)].collect().sorted.toSeq
      val want = df.groupBy($"g")
        .agg(max_by($"lab", struct($"c", (-$"lab").as("t"))).as("m"))
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got == want, s"nPart=$nPart")
    }
  }

  test("argmaxCountMinLabel plans as HashAggregate (the point of the " +
    "flat buffer), and an all-null-count input evaluates to null") {
    import spark.implicits._
    val df = Seq((1L, 3L, 10L), (1L, 3L, 7L), (1L, 2L, 1L))
      .toDF("g", "c", "lab")
    val agg = df.groupBy($"g")
      .agg(argmaxCountMinLabel($"lab", $"c").as("m"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") &&
      !plan.contains("SortAggregate"), plan)
    // highest count 3, tie broken to the SMALLER label 7
    assert(agg.as[(Long, Long)].collect().toSeq == Seq((1L, 7L)))
    val nul = Seq((1L, Option.empty[Long], 5L)).toDF("g", "c", "lab")
      .groupBy($"g").agg(argmaxCountMinLabel($"lab", $"c").as("m"))
      .collect().head
    assert(nul.isNullAt(1))
  }

  /** Runs `body` under the given session confs, restoring them after. */
  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, o) =>
      o.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("argmaxCountMinLabel skips null labels and null counts: equals a " +
    "plain reference on both the codegen and the interpreted path") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // nulls in both columns, dense count ties, labels past 2^31
    val rows = (1 to 4000).map { _ =>
      (rnd.nextInt(60).toLong,
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(4).toLong),
        if (rnd.nextInt(5) == 0) None
        else Some((if (rnd.nextBoolean()) 0L else 1L << 33) +
          rnd.nextInt(500)))
    } ++ Seq(
      // a null label at the top count must not hide the smaller label
      // that ties it (the buffer once kept the null and lost the tie)
      (100L, Some(5L), None), (100L, Some(5L), Some(3L)),
      (100L, Some(5L), Some(9L)),
      // only null labels / only null counts: no candidate, null result
      (101L, Some(2L), None), (102L, None, Some(1L)))
    val want: Map[Long, Option[Long]] = rows.groupBy(_._1).map {
      case (g, rs) =>
        val live = rs.collect { case (_, Some(c), Some(l)) => (c, l) }
        g -> live.maxByOption { case (c, l) => (c, -l) }.map(_._2)
    }
    assert(want(100L).contains(3L))
    val modes = Seq(
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((mode, confs) <- modes; nPart <- Seq(1, 3, 16)) withConfs(confs: _*) {
      val df = rows.toDF("g", "c", "lab")
      // one partition keeps the rows in order: the null label comes
      // first within group 100, as in the case above
      val laid = if (nPart == 1) df.coalesce(1) else df.repartition(nPart)
      val agg = laid.groupBy($"g")
        .agg(argmaxCountMinLabel($"lab", $"c").as("m"))
      val got = agg.as[(Long, Option[Long])].collect().toMap
      assert(got == want, s"$mode, nPart=$nPart")
      agg.queryExecution.executedPlan.foreach { p =>
        assert(!p.getClass.getSimpleName.contains("SortAggregate"))
      }
    }
  }

  test("BloomMightContainBroadcast matches the filter exactly (no " +
    "false negatives) under both codegen and interpreted eval") {
    import spark.implicits._
    val keys = (1L to 2000L).map(_ * 7)
    val bf = org.apache.spark.util.sketch.BloomFilter
      .create(keys.size.toLong, 0.01)
    keys.foreach(bf.putLong)
    val bfB = spark.sparkContext.broadcast(bf)
    val probe = (1L to 20000L).toDF("h")
    val got = probe.filter(graft.functions.BloomMightContainBroadcast
        .col(bfB, $"h"))
      .as[Long].collect().toSet
    // every member survives (Bloom guarantees no false negatives)...
    assert(keys.forall(got.contains))
    // ...and the expression agrees with the filter itself row-for-row
    // (eval path, driver-side)
    val expr = graft.functions.BloomMightContainBroadcast(bfB,
      org.apache.spark.sql.graft.ColumnBridge.expression($"h"))
    (1L to 200L).foreach { h =>
      val row = org.apache.spark.sql.catalyst.InternalRow(h)
      val bound = expr.copy(child = org.apache.spark.sql.catalyst
        .expressions.BoundReference(0,
          org.apache.spark.sql.types.LongType, nullable = false))
      assert(bound.eval(row) == bf.mightContainLong(h))
    }
  }
}
