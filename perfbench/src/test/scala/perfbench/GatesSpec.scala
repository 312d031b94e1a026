package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GatesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("the table digest ignores row order and catches one changed value") {
    import spark.implicits._
    val rows = Seq((1L, "a|b", 1.5), (2L, null, 2.25), (3L, "two\nlines", -0.5))
    val df = rows.toDF("k", "note", "v")
    val d = Gates.digest(df)
    assert(d.rows == 3)
    assert(Gates.compareDigest("t", d, Gates.digest(df.orderBy(desc("k")).repartition(3))).isEmpty)
    val perturbed = df.withColumn("note",
      when(col("k") === 3, lit("two\\nlines")).otherwise(col("note")))
    assert(Gates.compareDigest("t", d, Gates.digest(perturbed)) ==
      Seq("t: column hash differs for note"))
    assert(Gates.compareDigest("t", d, Gates.digest(df.filter(col("k") < 3))).nonEmpty)
  }

  private val rollup = Map(
    ("1-URGENT", "1995-03-01") -> Gates.Agg(3, BigDecimal("310.50"), 10.5, 200.0),
    ("P9", "1995-03-01") -> Gates.Agg(1, BigDecimal("99.99"), 99.99, 99.99))

  test("the rollup gate rejects a changed sum, a missing group and an extra group") {
    assert(Gates.compareRollup(rollup, rollup).isEmpty)
    val changed = rollup.updated(("P9", "1995-03-01"), Gates.Agg(1, BigDecimal("100.99"), 99.99, 99.99))
    assert(Gates.compareRollup(rollup, changed).size == 1)
    assert(Gates.compareRollup(rollup, rollup - (("P9", "1995-03-01"))).nonEmpty)
    assert(Gates.compareRollup(rollup,
      rollup + (("P9", "1995-03-02") -> Gates.Agg(0, BigDecimal(0), 0, 0))).nonEmpty)
  }

  test("the pair gate normalises key order and rejects missing, extra and duplicate pairs") {
    val expected = Set((1L, 2L, 1L), (3L, 7L, 1L))
    assert(Gates.comparePairs("b", expected, Seq((2L, 1L, 1L), (3L, 7L, 1L))).isEmpty)
    assert(Gates.comparePairs("b", expected, Seq((1L, 2L, 1L))).nonEmpty)
    assert(Gates.comparePairs("b", expected, Seq((1L, 2L, 1L), (3L, 7L, 1L), (4L, 5L, 1L))).nonEmpty)
    assert(Gates.comparePairs("b", expected, Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 7L, 1L))).nonEmpty)
    assert(Gates.comparePairs("b", expected, Seq((1L, 2L, 0L), (3L, 7L, 1L))).nonEmpty)
  }

  test("the row gate rejects a changed or missing row") {
    val rows = Seq("[a,1]", "[b,2]")
    assert(Gates.compareRows("scan", rows, rows).isEmpty)
    assert(Gates.compareRows("scan", rows, Seq("[a,1]", "[b,3]")).nonEmpty)
    assert(Gates.compareRows("scan", rows, rows.take(1)).nonEmpty)
  }
}
