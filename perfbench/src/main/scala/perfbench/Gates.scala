package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Correctness gates. Each compares an iteration's answer with a
  * reference computed once at set-up, without the engine code under
  * test, and returns one message per mismatch (empty when correct).
  */
object Gates {

  /** Row count and, per column, an order-independent sum of value hashes. */
  final case class Digest(rows: Long, columns: Map[String, Long])

  def digest(df: DataFrame): Digest = {
    val names = df.columns.toSeq
    val sums = names.map(n => sum(xxhash64(col(n)).bitwiseAND(lit(0x7fffffffL))).as(n))
    val r = df.agg(count(lit(1)).as("__rows"), sums: _*).collect()(0)
    Digest(r.getLong(0), names.zipWithIndex.map { case (n, i) =>
      n -> (if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1))
    }.toMap)
  }

  def compareDigest(table: String, expected: Digest, actual: Digest): Seq[String] =
    if (expected.rows != actual.rows)
      Seq(s"$table: ${actual.rows} rows, expected ${expected.rows}")
    else {
      val bad = (expected.columns.keySet ++ actual.columns.keySet).toSeq.sorted
        .filter(c => expected.columns.get(c) != actual.columns.get(c))
      if (bad.isEmpty) Nil else Seq(s"$table: column hash differs for ${bad.mkString(", ")}")
    }

  /** Rows rendered as text, in the query's order. */
  def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)

  def compareRows(what: String, expected: Seq[String], actual: Seq[String]): Seq[String] =
    if (expected == actual) Nil
    else {
      val i = expected.zipAll(actual, "<none>", "<none>").indexWhere { case (e, a) => e != a }
      Seq(s"$what: ${actual.size} rows, expected ${expected.size}; first difference at row $i")
    }

  /** One rollup group's exact aggregates. */
  final case class Agg(cnt: Long, sum: BigDecimal, min: Double, max: Double)

  /** `(event_type, day, cnt, sum_v, min_v, max_v)` rows by group. */
  def rollup(rows: Seq[Row]): Map[(String, String), Agg] =
    rows.map { r =>
      (r.getString(0), r.getString(1)) ->
        Agg(r.getLong(2), BigDecimal(r.getDecimal(3)).setScale(6), r.getDouble(4), r.getDouble(5))
    }.toMap

  def compareRollup(expected: Map[(String, String), Agg],
                    actual: Map[(String, String), Agg]): Seq[String] = {
    val keys = (expected.keySet ++ actual.keySet).toSeq.sorted
    val bad = keys.filter(k => expected.get(k) != actual.get(k))
    if (bad.isEmpty) Nil
    else Seq(s"rollup: ${bad.size} of ${keys.size} groups differ, first ${bad.head}: " +
      s"got ${actual.get(bad.head)}, expected ${expected.get(bad.head)}")
  }

  /** `(a_key, b_key, dist)` match pairs, each key pair in ascending order. */
  def pairs(rows: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] =
    rows.map { case (a, b, d) => (math.min(a, b), math.max(a, b), d) }

  def comparePairs(what: String, expected: Set[(Long, Long, Long)],
                   actual: Seq[(Long, Long, Long)]): Seq[String] = {
    val got = pairs(actual)
    val set = got.toSet
    if (got.size != set.size) Seq(s"$what: ${got.size - set.size} duplicate pairs")
    else if (set != expected) {
      val missing = (expected -- set).size
      val extra = (set -- expected).size
      Seq(s"$what: $missing pairs missing, $extra unexpected, of ${expected.size}")
    } else Nil
  }
}
