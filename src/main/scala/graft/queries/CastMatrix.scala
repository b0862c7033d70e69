package graft.queries

import graft.QueryModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** q171: the cast/coercion semantics matrix.
  *
  * The reference re-implements Spark's cast table exhaustively in its
  * native kernel (native-engine/datafusion-ext-commons/src/arrow/
  * cast.rs:26-341 — utf8→int rejection, float→int truncation+
  * saturation, decimal rescale/overflow→null, date/timestamp in both
  * directions, complex→utf8 rendering) because getting any one cell
  * wrong silently corrupts every query that hits it. This build IS
  * Spark, so the kernel comes for free — what needs pinning is the
  * SEMANTICS CONTRACT: each cell's answer is frozen as a literal, and
  * `matches_pinned` re-derives the equality in-engine (the q44
  * pattern), so a Spark upgrade or conf drift that changes a cell
  * flips a boolean and the oracle row goes red instead of silently
  * drifting.
  *
  * Casts are evaluated in a LEGACY-mode (non-ANSI) child session:
  * that is the semantics the reference's kernel implements (overflow
  * → null/wrap rather than error), and the mode production pipelines
  * run under when ingesting dirty data at 100 TB — an ANSI throw from
  * one malformed cell in a trillion-row scan is an outage, null is a
  * filterable value. Every `got` is rendered to STRING so the oracle
  * compare is byte-stable (no float-bit hashing) and nulls are made
  * explicit as the literal 'NULL'.
  */
object CastMatrix extends QueryModule {

  /** (id, pair label, the cast under test). Inputs are literals —
    * adversarial values, one semantics cell each. */
  private def castCases: Seq[(Int, String, Column)] = Seq(
    // utf8 -> integral: fractional strings TRUNCATE at the decimal
    // point ('3.7' -> 3 — the cell DuckDB rounds instead), whitespace
    // trimmed, garbage and out-of-range rejected (null)
    (1, "utf8_to_int_fractional", lit("3.7").cast(IntegerType)),
    (2, "utf8_to_int_trimmed", lit(" 42 ").cast(IntegerType)),
    (3, "utf8_to_int_garbage", lit("abc").cast(IntegerType)),
    (4, "utf8_to_int_overflow", lit("2147483648").cast(IntegerType)),
    // float/double -> integral: truncate toward zero; out-of-range
    // SATURATES to the type bounds; NaN -> 0
    (5, "double_to_int_truncate", lit(3.99).cast(IntegerType)),
    (6, "double_to_int_truncate_neg", lit(-3.99).cast(IntegerType)),
    (7, "double_to_int_saturate", lit(1.0e10).cast(IntegerType)),
    (8, "double_nan_to_int", lit(Double.NaN).cast(IntegerType)),
    (9, "float_to_int_saturate_neg", lit(-3.0e38f).cast(IntegerType)),
    // integral narrowing: two's-complement bit wrap (NOT saturation —
    // a different rule than float sources, easy to get wrong)
    (10, "long_to_int_wrap", lit(5000000000L).cast(IntegerType)),
    (11, "int_to_byte_wrap", lit(300).cast(ByteType)),
    // decimal: rescale rounds HALF_UP; precision overflow -> null
    (12, "decimal_rescale_round",
      lit(BigDecimal("123.45")).cast(DecimalType(4, 1))),
    (13, "decimal_overflow_null",
      lit(BigDecimal("12345.67")).cast(DecimalType(4, 1))),
    (14, "double_to_decimal_halfup", lit(2.675).cast(DecimalType(10, 2))),
    (15, "utf8_to_decimal", lit("0089.5500").cast(DecimalType(10, 2))),
    // temporal, both directions (session tz UTC)
    (16, "utf8_to_date_invalid_day", lit("2024-02-30").cast(DateType)),
    (17, "utf8_to_date", lit("2024-03-15").cast(DateType)),
    (18, "date_to_timestamp", lit("2024-03-15").cast(DateType)
      .cast(TimestampType)),
    (19, "timestamp_to_epoch_long",
      lit("2024-03-15 12:34:56").cast(TimestampType).cast(LongType)),
    (20, "epoch_long_to_timestamp", lit(1700000000L).cast(TimestampType)),
    (21, "date_to_utf8", lit("2024-03-15").cast(DateType)
      .cast(StringType)),
    (22, "timestamp_to_utf8", lit(1700000000L).cast(TimestampType)
      .cast(StringType)),
    // boolean cells: numeric!=0 is true; utf8 accepts t/true/y/yes/1
    (23, "int_to_boolean_nonzero", lit(2).cast(BooleanType)),
    (24, "utf8_to_boolean_yes", lit("yes").cast(BooleanType)),
    (25, "utf8_to_boolean_garbage", lit("maybe").cast(BooleanType)),
    (26, "boolean_to_int", lit(true).cast(IntegerType)),
    // numeric -> utf8 rendering (scientific notation thresholds differ
    // across engines — pin Spark's)
    (27, "double_to_utf8_scientific", lit(1.0e10).cast(StringType)),
    (28, "float_to_utf8", lit(1.5f).cast(StringType)),
    (29, "utf8_to_double_scientific", lit("1e3").cast(DoubleType)),
    // complex -> utf8 rendering; binary round-trip is byte-identity
    (30, "struct_to_utf8",
      struct(lit(1).as("a"), lit("x").as("b")).cast(StringType)),
    (31, "array_to_utf8", array(lit(1), lit(2)).cast(StringType)),
    (32, "map_to_utf8", map(lit("k"), lit(7)).cast(StringType)),
    (33, "utf8_binary_roundtrip",
      lit("héllo").cast(BinaryType).cast(StringType)),
    // nested-complex casts (cast.rs:26-341 recurses through the child
    // kernels — the per-ELEMENT semantics must match the scalar cells):
    // widening is lossless, per-element utf8 garbage nulls only that
    // element, doubles truncate inside arrays exactly as at top level
    (34, "array_int_to_array_long",
      array(lit(1), lit(2)).cast(ArrayType(LongType))),
    (35, "array_utf8_to_array_int_mixed",
      array(lit("1"), lit("x"), lit("3")).cast(ArrayType(IntegerType))),
    (36, "array_double_to_array_int_truncate",
      array(lit(1.9), lit(-2.9)).cast(ArrayType(IntegerType))),
    (37, "nested_array_utf8_fractional",
      array(array(lit("3.7"))).cast(ArrayType(ArrayType(IntegerType)))),
    // struct casts are POSITIONAL: the target's field names relabel,
    // they do NOT reorder — a by-name engine would swap these values
    (38, "struct_cast_positional_not_by_name",
      struct(lit(1).as("a"), lit(2).as("b"))
        .cast(StructType(Seq(StructField("b", IntegerType),
          StructField("a", IntegerType))))),
    (39, "struct_field_utf8_to_int",
      struct(lit("7").as("a"), lit(3.99).as("b"))
        .cast(StructType(Seq(StructField("a", IntegerType),
          StructField("b", IntegerType))))),
    // map casts recurse into keys AND values: keys may only take
    // casts that cannot produce null (utf8→int on a key is REJECTED at
    // analysis — keys must stay non-null — so the key cell is the
    // legal lossless widening), while a garbage VALUE nulls just that
    // entry's value
    (40, "map_key_int_to_long",
      map(lit(1), lit("v")).cast(MapType(LongType, StringType))),
    (41, "map_value_utf8_to_int_garbage",
      map(lit("k"), lit("x")).cast(MapType(StringType, IntegerType))),
    // utf8 -> timestamp: fractional seconds, zone offsets (normalized
    // to the UTC session zone), T separator, date-only, and garbage
    (42, "utf8_to_ts_fractional",
      lit("2024-03-15 12:34:56.789").cast(TimestampType)),
    (43, "utf8_to_ts_zoned",
      lit("2024-03-15 12:34:56+02:00").cast(TimestampType)),
    (44, "utf8_to_ts_t_separator",
      lit("2024-03-15T07:08:09Z").cast(TimestampType)),
    (45, "utf8_to_ts_date_only", lit("2024-03-15").cast(TimestampType)),
    (46, "utf8_to_ts_garbage", lit("not a time").cast(TimestampType)))

  /** Pinned expecteds — regenerated by `runMain graft.queries.CastMatrix`
    * (prints fresh pin source if a Spark upgrade moves a cell). */
  private val expected: Map[Int, String] = Map(
    1 -> "3", 2 -> "42", 3 -> "NULL", 4 -> "NULL",
    5 -> "3", 6 -> "-3", 7 -> "2147483647", 8 -> "0",
    9 -> "-2147483648", 10 -> "705032704", 11 -> "44",
    12 -> "123.5", 13 -> "NULL", 14 -> "2.68", 15 -> "89.55",
    16 -> "NULL", 17 -> "2024-03-15", 18 -> "2024-03-15 00:00:00",
    19 -> "1710506096", 20 -> "2023-11-14 22:13:20",
    21 -> "2024-03-15", 22 -> "2023-11-14 22:13:20",
    23 -> "true", 24 -> "true", 25 -> "NULL", 26 -> "1",
    27 -> "1.0E10", 28 -> "1.5", 29 -> "1000.0",
    30 -> "{1, x}", 31 -> "[1, 2]", 32 -> "{k -> 7}",
    33 -> "héllo",
    34 -> "[1, 2]", 35 -> "[1, null, 3]", 36 -> "[1, -2]",
    37 -> "[[3]]", 38 -> "{1, 2}", 39 -> "{7, 3}",
    40 -> "{1 -> v}", 41 -> "{k -> null}",
    42 -> "2024-03-15 12:34:56.789", 43 -> "2024-03-15 10:34:56",
    44 -> "2024-03-15 07:08:09", 45 -> "2024-03-15 00:00:00",
    46 -> "NULL")

  private[graft] def resultDf(s: SparkSession): DataFrame = {
    // child session: same catalog/conf defaults, ANSI off — the cast
    // expressions capture LEGACY eval mode at analysis time, so the
    // frame stays legacy-semantics wherever it is later executed
    val legacy = s.newSession()
    legacy.conf.set("spark.sql.ansi.enabled", "false")
    val rows = castCases.map { case (id, pair, c) =>
      struct(lit(id).as("case_id"), lit(pair).as("cast_pair"),
        coalesce(c.cast(StringType), lit("NULL")).as("got"),
        lit(expected(id)).as("expected"))
    }
    legacy.range(1)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.case_id"), col("r.cast_pair"), col("r.got"),
        col("r.expected"),
        (col("r.got") === col("r.expected")).as("matches_pinned"))
      .orderBy(col("case_id"))
  }

  /** Dev-only pin regenerator: prints each cell's actual value plus
    * ready-to-paste pin source for any Spark-version drift. */
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local(4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    resultDf(s).collect().foreach { r =>
      println(s"PIN ${r.getInt(0)} -> \"${r.getString(2)}\",  // ${r.getString(1)}")
    }
    ansiResultDf(s).collect().foreach { r =>
      println(s"ANSI_PIN ${r.getInt(0)} -> \"${r.getString(2)}\",  // ${r.getString(1)}")
    }
    s.stop()
  }

  /** (id, pair label, the cast under test) for the ANSI-mode side of
    * the contract: the cells where ANSI *diverges* from legacy. ANSI
    * cast THROWS on malformed/overflow input, and try_cast is the
    * sanctioned null-on-error escape hatch — so the error cells run
    * through try_cast (null) and the legal-but-lossy cells (fraction
    * truncation, rescale rounding) keep their legacy values under
    * plain ANSI cast. The reference implements both modes behind one
    * flag; this pins OUR both-modes contract the same way. */
  private def ansiCases: Seq[(Int, String, Column)] = Seq(
    // error cells -> try_cast nulls (legacy wraps/truncates instead!)
    (1, "ansi_try_utf8_to_int_fractional",
      lit("3.7").try_cast(IntegerType)),
    (2, "ansi_try_utf8_to_int_garbage", lit("abc").try_cast(IntegerType)),
    (3, "ansi_try_utf8_to_int_overflow",
      lit("2147483648").try_cast(IntegerType)),
    (4, "ansi_try_double_to_int_overflow",
      lit(1.0e10).try_cast(IntegerType)),
    (5, "ansi_try_long_to_int_overflow",
      lit(5000000000L).try_cast(IntegerType)),
    (6, "ansi_try_int_to_byte_overflow", lit(300).try_cast(ByteType)),
    (7, "ansi_try_decimal_overflow",
      lit(BigDecimal("12345.67")).try_cast(DecimalType(4, 1))),
    (8, "ansi_try_nan_to_int", lit(Double.NaN).try_cast(IntegerType)),
    (9, "ansi_try_utf8_to_date_invalid",
      lit("2024-02-30").try_cast(DateType)),
    (10, "ansi_try_utf8_to_boolean_garbage",
      lit("maybe").try_cast(BooleanType)),
    // legal-but-lossy cells: plain ANSI cast, values match legacy
    (11, "ansi_double_to_int_truncate", lit(3.99).cast(IntegerType)),
    (12, "ansi_decimal_rescale_round",
      lit(BigDecimal("123.45")).cast(DecimalType(4, 1))),
    (13, "ansi_utf8_to_int_trimmed", lit(" 42 ").cast(IntegerType)),
    (14, "ansi_bool_to_int", lit(true).cast(IntegerType)),
    (15, "ansi_epoch_long_to_timestamp",
      lit(1700000000L).cast(TimestampType)),
    // nested-complex under ANSI: try_cast nulls at ELEMENT grain
    // ([1, null], {k -> null}) — inner casts inherit the try semantics
    // rather than failing the whole value — and legal nested widening
    // and zoned timestamp parsing behave as in legacy
    (16, "ansi_try_array_utf8_garbage_elem",
      array(lit("1"), lit("x")).try_cast(ArrayType(IntegerType))),
    (17, "ansi_array_int_to_array_long",
      array(lit(1), lit(2)).cast(ArrayType(LongType))),
    (18, "ansi_try_map_value_garbage",
      map(lit("k"), lit("x")).try_cast(MapType(StringType, IntegerType))),
    (19, "ansi_utf8_to_ts_zoned",
      lit("2024-03-15 12:34:56+02:00").cast(TimestampType)),
    (20, "ansi_try_utf8_to_ts_garbage",
      lit("not a time").try_cast(TimestampType)))

  private val ansiExpected: Map[Int, String] = Map(
    1 -> "NULL", 2 -> "NULL", 3 -> "NULL", 4 -> "NULL", 5 -> "NULL",
    6 -> "NULL", 7 -> "NULL", 8 -> "NULL", 9 -> "NULL", 10 -> "NULL",
    11 -> "3", 12 -> "123.5", 13 -> "42", 14 -> "1",
    15 -> "2023-11-14 22:13:20",
    16 -> "[1, null]", 17 -> "[1, 2]", 18 -> "{k -> null}",
    19 -> "2024-03-15 10:34:56", 20 -> "NULL")

  private[graft] def ansiResultDf(s: SparkSession): DataFrame = {
    val ansi = s.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    val rows = ansiCases.map { case (id, pair, c) =>
      struct(lit(id).as("case_id"), lit(pair).as("cast_pair"),
        coalesce(c.cast(StringType), lit("NULL")).as("got"),
        lit(ansiExpected(id)).as("expected"))
    }
    ansi.range(1)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.case_id"), col("r.cast_pair"), col("r.got"),
        col("r.expected"),
        (col("r.got") === col("r.expected")).as("matches_pinned"))
      .orderBy(col("case_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q171_cast_matrix" -> ((s, _) => resultDf(s)),
    "q179_ansi_cast_matrix" -> ((s, _) => ansiResultDf(s)))

  private def pinnedOracle(cases: Seq[(Int, String, Column)],
                           exp: Map[Int, String]): String = {
    val vals = cases.map { case (id, pair, _) =>
      val e = exp(id).replace("'", "''")
      s"  ($id, '$pair', '$e', '$e', TRUE)"
    }.mkString(",\n")
    s"""SELECT * FROM (VALUES
       |$vals
       |) AS t(case_id, cast_pair, got, expected, matches_pinned)
       |ORDER BY case_id""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q171_cast_matrix" -> pinnedOracle(castCases, expected),
    "q179_ansi_cast_matrix" -> pinnedOracle(ansiCases, ansiExpected))
}
