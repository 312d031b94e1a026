package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every value is a hash of (seed, column salt,
  * row key), so a seed gives the same tables whatever the partitioning,
  * and another seed gives different tables of the same shape and size.
  * The shapes follow the engine's TPC-H fixtures (doubles, millisecond
  * timestamps, 18-character customer names), plus one escape-heavy text
  * column per table.
  */
object Gen {

  /** Row counts at scale factor `sf`, in TPC-H proportions; `lineitem`
    * averages four lines per order.
    */
  final case class Sizes(customer: Long, part: Long, orders: Long)

  def sizes(sf: Double): Sizes =
    Sizes(math.max(1L, (150000 * sf).toLong), math.max(1L, (200000 * sf).toLong),
      math.max(1L, (1500000 * sf).toLong))

  private def hash(seed: Long, salt: String, key: Column): Column =
    xxhash64(lit(seed), lit(salt), key)

  /** A uniform int in `[0, n)`. */
  def below(seed: Long, salt: String, key: Column, n: Int): Column =
    pmod(hash(seed, salt, key), lit(n.toLong)).cast("int")

  private def oneOf(seed: Long, salt: String, key: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), below(seed, salt, key, values.size) + 1)

  /** A whole number of cents in `[lo, hi)`, as a double. */
  private def money(seed: Long, salt: String, key: Column, lo: Int, hi: Int): Column =
    (below(seed, salt, key, hi - lo) + lit(lo)) / 100.0

  /** 1992-01-01 00:00:00 UTC. */
  private val Epoch = 694224000L

  /** A millisecond timestamp within `days` days of 1992-01-01. */
  private def stamp(seed: Long, salt: String, key: Column, days: Int): Column =
    timestamp_millis(
      (lit(Epoch) + below(seed, salt + ".d", key, days).cast("long") * 86400L) * 1000L +
        below(seed, salt + ".ms", key, 86400000).cast("long"))

  /** Text that the unload dialect must escape: the delimiter, backslash,
    * LF, CR, multibyte characters. None is empty, because the dialect
    * reads an empty field back as NULL.
    */
  val Fragments: Seq[String] = Seq("plain", "a|b", "back\\slash", "two\nlines", "cr\rhere",
    "Grüße", "日本語", "€5", "|\\\n\r|", "end\\", "|start", "tab\there")

  /** The escape column: two fragments, or NULL for one row in eight. */
  def escapeText(seed: Long, salt: String, key: Column): Column =
    when(below(seed, salt + ".null", key, 8) === 0, lit(null).cast("string"))
      .otherwise(concat_ws(" ", oneOf(seed, salt + ".a", key, Fragments),
        oneOf(seed, salt + ".b", key, Fragments)))

  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def customer(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("id")
    spark.range(1, s.customer + 1).select(
      k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      below(seed, "c.nation", k, 25).as("c_nationkey"),
      money(seed, "c.bal", k, -99999, 999999).as("c_acctbal"),
      oneOf(seed, "c.seg", k,
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"),
      escapeText(seed, "c.note", k).as("c_note"))
  }

  def part(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("id")
    val words = Seq("almond", "antique", "blue", "burnished", "chiffon", "cornflower",
      "forest", "khaki", "lace", "midnight", "papaya", "rose", "smoke", "thistle")
    spark.range(1, s.part + 1).select(
      k.as("p_partkey"),
      concat_ws(" ", oneOf(seed, "p.n1", k, words), oneOf(seed, "p.n2", k, words)).as("p_name"),
      format_string("Brand#%d%d", below(seed, "p.b1", k, 5) + 1, below(seed, "p.b2", k, 5) + 1)
        .as("p_brand"),
      concat_ws(" ", oneOf(seed, "p.t1", k, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO")),
        oneOf(seed, "p.t2", k, Seq("ANODIZED", "BRUSHED", "PLATED", "POLISHED")),
        oneOf(seed, "p.t3", k, Seq("BRASS", "COPPER", "NICKEL", "STEEL", "TIN"))).as("p_type"),
      (below(seed, "p.size", k, 50) + 1).as("p_size"),
      money(seed, "p.price", k, 90000, 210000).as("p_retailprice"),
      escapeText(seed, "p.note", k).as("p_note"))
  }

  def orders(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("id")
    spark.range(1, s.orders + 1).select(
      k.as("o_orderkey"),
      (below(seed, "o.cust", k, s.customer.toInt) + 1).cast("long").as("o_custkey"),
      oneOf(seed, "o.status", k, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, "o.price", k, 85000, 50000000).as("o_totalprice"),
      stamp(seed, "o.date", k, 2400).as("o_orderdate"),
      oneOf(seed, "o.prio", k, Priorities).as("o_orderpriority"),
      escapeText(seed, "o.note", k).as("o_note"))
  }

  def lineitem(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val lines = spark.range(1, s.orders + 1).select(col("id").as("l_orderkey"),
      explode(sequence(lit(1), below(seed, "l.n", col("id"), 7) + 1)).as("l_linenumber"))
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    lines.select(
      col("l_orderkey"),
      (below(seed, "l.part", k, s.part.toInt) + 1).cast("long").as("l_partkey"),
      (below(seed, "l.supp", k, math.max(1, (s.part / 20).toInt)) + 1).cast("long").as("l_suppkey"),
      col("l_linenumber"),
      (below(seed, "l.qty", k, 50) + 1).cast("double").as("l_quantity"),
      money(seed, "l.price", k, 90000, 10500000).as("l_extendedprice"),
      (below(seed, "l.disc", k, 11) / 100.0).as("l_discount"),
      (below(seed, "l.tax", k, 9) / 100.0).as("l_tax"),
      oneOf(seed, "l.flag", k, Seq("R", "A", "N")).as("l_returnflag"),
      oneOf(seed, "l.status", k, Seq("O", "F")).as("l_linestatus"),
      stamp(seed, "l.ship", k, 2500).as("l_shipdate"),
      escapeText(seed, "l.note", k).as("l_note"))
  }

  /** Customer names with seeded single-character typos: a quarter lose a
    * character, a quarter gain one, so the names are no longer all 18
    * characters long and the cross-length match path runs.
    */
  def typoNames(customer: DataFrame, seed: Long): DataFrame = {
    val k = col("c_custkey")
    val name = col("c_name")
    val kind = below(seed, "e.kind", k, 4)
    val pos = below(seed, "e.pos", k, 18) + 1
    val ch = oneOf(seed, "e.char", k, Seq("a", "e", "x", "0", "7", "#"))
    val head = name.substr(lit(1), pos - 1)
    customer.select(k.as("key"),
      when(kind === 0, concat(head, name.substr(pos + 1, lit(64))))
        .when(kind === 1, concat(head, ch, name.substr(pos, lit(64))))
        .otherwise(name).as("name"))
  }

  /** The CDC batches' key sets, each a seeded share of the order keys. */
  final case class CdcKeys(seed: Long) {
    private def share(salt: String, n: Int): Column = below(seed, salt, col("key"), n) === 0
    /** Batch 1: fact-value corrections. */
    val corrected: Column = share("cdc.fix", 7)
    /** Batch 2: deletes on the fact side and on the enrichment side. */
    val deletedA: Column = share("cdc.delA", 13)
    val deletedB: Column = share("cdc.delB", 17)
    /** Batch 3: enrichment upserts that move keys to another rollup group,
      * re-inserting some keys batch 2 deleted.
      */
    val moved: Column = share("cdc.move", 5)
  }

  /** Entity keys ingested as the delta batch; the rest form the base. */
  def deltaEntity(seed: Long): Column = below(seed, "e.batch", col("key"), 3) === 0
}
