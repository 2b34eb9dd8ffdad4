package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.checks.Check
import graft.errors.ValidationResult
import graft.schema.{ColumnSchema, DataFrameSchema}

/** Seeded TPC-H-shaped lineitem rows with a known set of injected
  * violations, and the contract that validates them.
  *
  * Row `id` (0-based) is a pure function of `(seed, id)`, so any id range
  * can be generated on its own: the bulk workload writes one range as
  * several files, the micro-batch workload writes consecutive ranges as
  * one file each. A violation kind hits the rows with
  * `(id + offset) % period == 0`, where the offset comes from the seed, so
  * its count over any id range is known in closed form. Each kind breaks
  * exactly the checks listed in [[Lineitem.kinds]] and nothing else. */
final class Lineitem(seed: Long) {
  private val rnd = new scala.util.Random(seed)

  /** A violation kind: the period and offset that select its rows, and the
    * (column, check-name) pairs it must fail with the failure-case value
    * every sampled case must equal (None: values vary, only presence is
    * checked). */
  final case class Kind(name: String, period: Long, offset: Long,
      fails: Seq[(Option[String], String)], caseValue: Option[String],
      rowsPerHit: Long = 1L) {
    def hit: Column = pmod(col("id") + offset, lit(period)) === 0
    def count(lo: Long, hi: Long): Long =
      Math.floorDiv(hi - 1 + offset, period) - Math.floorDiv(lo - 1 + offset, period)
  }

  // duplicate keys hit only rows with id % 4 == 2: they take the line
  // number of the row before, which has the same order key
  private val dupPeriod = 4L * 251L
  private val dupOffset = {
    val r = rnd.nextInt(251).toLong * 4L + 2L // hit ids have id % 4 == 2
    (dupPeriod - r) % dupPeriod
  }

  val kinds: Seq[Kind] = Seq(
    Kind("quantity", 997, rnd.nextInt(997),
      Seq(Some("l_quantity") -> "in_range"), Some("99.0")),
    Kind("discount", 1009, rnd.nextInt(1009),
      Seq(Some("l_discount") -> "less_than_or_equal_to"), Some("0.5")),
    Kind("tax", 1019, rnd.nextInt(1019),
      Seq(Some("l_tax") -> "less_than_or_equal_to"), Some("0.2")),
    Kind("returnflag", 1021, rnd.nextInt(1021),
      Seq(Some("l_returnflag") -> "isin", Some("l_returnflag") -> "str_matches"),
      Some("Z")),
    Kind("linestatus", 1031, rnd.nextInt(1031),
      Seq(Some("l_linestatus") -> "notin", Some("l_linestatus") -> "str_contains"),
      Some("X")),
    Kind("comment", 1033, rnd.nextInt(1033),
      Seq(Some("l_comment") -> "str_length"), None),
    Kind("null_shipinstruct", 1039, rnd.nextInt(1039),
      Seq(Some("l_shipinstruct") -> "not_nullable"), Some("null")),
    Kind("dup_key", dupPeriod, dupOffset,
      Seq(None -> "multiple_fields_uniqueness"), None, rowsPerHit = 2L))
  private def k(n: String) = kinds.find(_.name == n).get

  private val words = Seq("carefully", "final", "deposits", "detect",
    "slyly", "regular", "packages", "haggle", "furiously", "ironic",
    "accounts", "sleep", "quickly", "express", "requests", "blithely")
  private val s = lit(seed)
  private def h(c: Int): Column = xxhash64(s, col("id"), lit(c))
  private def u(c: Int, m: Int): Column = pmod(h(c), lit(m.toLong))
  private def pick(c: Int, vs: Seq[String]): Column =
    element_at(array(vs.map(lit): _*), (u(c, vs.size) + 1).cast("int"))

  /** Rows `[lo, hi)` as a lazy frame of `parts` partitions; with
    * `batchRows > 0`, plus a `batch` column numbering consecutive runs of
    * that many rows. */
  def rows(spark: SparkSession, lo: Long, hi: Long, parts: Int,
      batchRows: Long = 0L): DataFrame = {
    val qty = (u(3, 50) + 1).cast("double")
    val comment = concat_ws(" ", pick(10, words), pick(11, words),
      pick(12, words), pick(13, words))
    val batch = if (batchRows > 0) Seq(floor(col("id") / batchRows) as "batch") else Nil
    spark.range(lo, hi, 1, parts).select(Seq(
      (col("id") / 4).cast("long") + 1 as "l_orderkey",
      u(1, 200000) + 1 as "l_partkey",
      u(2, 10000) + 1 as "l_suppkey",
      (pmod(col("id"), lit(4L)) + 1 -
        when(k("dup_key").hit, 1).otherwise(0)).cast("int") as "l_linenumber",
      when(k("quantity").hit, lit(99.0)).otherwise(qty) as "l_quantity",
      qty * (lit(900.0) + u(4, 100000) / 100.0) as "l_extendedprice",
      when(k("discount").hit, lit(0.5)).otherwise(u(5, 11) / 100.0) as "l_discount",
      when(k("tax").hit, lit(0.2)).otherwise(u(6, 9) / 100.0) as "l_tax",
      when(k("returnflag").hit, lit("Z"))
        .otherwise(pick(7, Seq("A", "N", "R"))) as "l_returnflag",
      when(k("linestatus").hit, lit("X"))
        .otherwise(pick(8, Seq("F", "O"))) as "l_linestatus",
      date_add(lit(java.sql.Date.valueOf("1992-01-02")),
        u(9, 2500).cast("int")) as "l_shipdate",
      pick(14, Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"))
        as "l_shipmode",
      when(k("null_shipinstruct").hit, lit(null).cast("string"))
        .otherwise(pick(15, Seq("COLLECT COD", "DELIVER IN PERSON", "NONE",
          "TAKE BACK RETURN"))) as "l_shipinstruct",
      when(k("comment").hit, concat(comment, lit(" " + "x" * 60)))
        .otherwise(comment) as "l_comment") ++ batch: _*)
  }

  /** Expected failure count per (column, check name) over rows `[lo, hi)`. */
  def expected(lo: Long, hi: Long): Map[(Option[String], String), Long] =
    kinds.flatMap { kd =>
      val n = kd.count(lo, hi) * kd.rowsPerHit
      if (n == 0L) Nil else kd.fails.map(_ -> n)
    }.toMap

  /** Compare a validation result with the injected violations over rows
    * `[lo, hi)`: the same (column, check) set, the same failure counts,
    * failure cases sampled for every error, each equal to the injected
    * value where there is one, and a report that names every check.
    * Returns the mismatches (empty when the output is correct). */
  def verify(res: ValidationResult, report: String, lo: Long,
      hi: Long): Seq[String] = {
    val want = expected(lo, hi)
    val got = res.errors.map(e =>
      (e.column, e.check.takeWhile(_ != '(')) -> e).toMap
    val bad = Seq.newBuilder[String]
    if (got.size != res.errors.size) bad += "duplicate (column, check) errors"
    (want.keySet ++ got.keySet).foreach { key =>
      (want.get(key), got.get(key)) match {
        case (Some(n), Some(e)) =>
          if (e.failureCount != n) bad += s"$key: count ${e.failureCount} != $n"
          if (e.failureCases.isEmpty) bad += s"$key: no failure cases"
          val kd = kinds.find(_.fails.contains(key)).get
          kd.caseValue.foreach { v =>
            if (e.failureCases.exists(_ != v)) bad += s"$key: cases ${e.failureCases}"
          }
          if (!report.contains("\"" + e.check.replace("\"", "\\\"") + "\""))
            bad += s"$key: missing from report"
        case (Some(n), None) => bad += s"$key: expected $n failures, none reported"
        case (None, Some(e)) => bad += s"$key: unexpected ${e.failureCount} failures"
        case _ =>
      }
    }
    bad.result()
  }
}

object Lineitem {
  /** The full lineitem contract: 21 builtin checks, nullable, dtype,
    * joint uniqueness of (l_orderkey, l_linenumber), and failure-case
    * sampling for every failed check. */
  val contract: DataFrameSchema = DataFrameSchema(
    "l_orderkey" -> ColumnSchema(Some(LongType), Seq(Check.ge(1L)), nullable = false),
    "l_partkey" -> ColumnSchema(Some(LongType),
      Seq(Check.greaterThan(0L), Check.le(200000L)), nullable = false),
    "l_suppkey" -> ColumnSchema(Some(LongType),
      Seq(Check.notEqualTo(-1L), Check.inRange(1L, 10000L))),
    "l_linenumber" -> ColumnSchema(Some(IntegerType), Seq(Check.inRange(1, 7))),
    "l_quantity" -> ColumnSchema(Some(DoubleType), Seq(Check.inRange(1.0, 50.0))),
    "l_extendedprice" -> ColumnSchema(Some(DoubleType),
      Seq(Check.greaterThan(0.0), Check.lessThan(1e9))),
    "l_discount" -> ColumnSchema(Some(DoubleType), Seq(Check.ge(0.0), Check.le(0.1))),
    "l_tax" -> ColumnSchema(Some(DoubleType), Seq(Check.ge(0.0), Check.le(0.08))),
    "l_returnflag" -> ColumnSchema(Some(StringType),
      Seq(Check.isin(Seq("A", "N", "R")), Check.strLength(Some(1), Some(1)),
        Check.strMatches("[ANR]")), nullable = false),
    "l_linestatus" -> ColumnSchema(Some(StringType),
      Seq(Check.notin(Seq("X", "Y")), Check.strContains("[FO]"))),
    "l_shipdate" -> ColumnSchema(Some(DateType), Nil, nullable = false),
    "l_shipmode" -> ColumnSchema(Some(StringType),
      Seq(Check.isin(Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")))),
    "l_shipinstruct" -> ColumnSchema(Some(StringType),
      Seq(Check.isin(Seq("COLLECT COD", "DELIVER IN PERSON", "NONE",
        "TAKE BACK RETURN"))), nullable = false),
    "l_comment" -> ColumnSchema(Some(StringType),
      Seq(Check.strLength(Some(1), Some(44)))))
    .copy(unique = Seq("l_orderkey", "l_linenumber"))
}
