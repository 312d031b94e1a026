package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AggIndex, EntityBlockIndex, FastSsIndex, JoinView}
import graft.pipeline.{CsvExporter, PathConfig, TableTransformer}
import graft.schema.TableSchema
import graft.sinks.ParquetSink
import graft.sources.UnloadCsv

/** A workload's generated inputs and reference answers, ready to run. */
trait Prepared {

  /** Operations one iteration attempts; the unit of `attempted`. */
  def ops: Int

  /** Bytes of the source Parquet the workload reads. */
  def sourceBytes: Long

  /** Runs one iteration's calls with artifacts under `dir`. Each phase is
    * a top-level span named `build`, `step` or `read`, and each call into
    * the engine a span named `<module>.<Object>.<call>`. `traced` adds
    * the scan-only source read, which only the traced pass measures.
    * Returns the gate, to run after the timed region: one message per
    * wrong operation.
    */
  def iterate(rec: Recorder, dir: String, traced: Boolean): () => Seq[String]

  /** The persisted artifacts an iteration leaves under `dir`. */
  def stored(dir: String): Seq[String]

  /** Drops what an iteration registered and deletes its directory. */
  def cleanup(dir: String): Unit = Fs.delete(dir)
}

trait Workload {
  def name: String

  /** Writes the seeded inputs as Parquet under `src` and computes the
    * reference answers from them.
    */
  def prepare(spark: SparkSession, seed: Long, sf: Double, src: String): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(SpectrifyEtl, CdcLifecycle, EntityIndex)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))
}

/** The paper's pipeline: unload-dialect CSV export, conversion to typed
  * gzip Parquet, external-table registration, then a scan over the
  * registered tables.
  */
object SpectrifyEtl extends Workload {
  val name = "spectrify_etl"
  val Tables: Seq[String] = Seq("lineitem", "orders", "customer", "part")
  private val Db = "bench"

  /** The downstream scan: all four tables, their escape columns included. */
  def scanSql(prefix: String): String =
    s"""SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS lines,
       |       SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,4))) AS revenue,
       |       SUM(CASE WHEN instr(l.l_note, '|') > 0 OR instr(o.o_note, chr(10)) > 0
       |                  OR instr(c.c_note, chr(13)) > 0 OR instr(p.p_note, '\\\\') > 0
       |                THEN 1 ELSE 0 END) AS escaped,
       |       COUNT(DISTINCT p.p_brand) AS brands, MAX(l.l_shipdate) AS last_ship
       |FROM ${prefix}lineitem l
       |JOIN ${prefix}orders o ON l.l_orderkey = o.o_orderkey
       |JOIN ${prefix}customer c ON o.o_custkey = c.c_custkey
       |JOIN ${prefix}part p ON l.l_partkey = p.p_partkey
       |WHERE l.l_shipdate >= TIMESTAMP '1994-01-01 00:00:00' AND p.p_size <= 40
       |GROUP BY c.c_mktsegment, o.o_orderpriority
       |ORDER BY c.c_mktsegment, o.o_orderpriority""".stripMargin

  def prepare(spark: SparkSession, seed: Long, sf: Double, src: String): Prepared = {
    val s = Gen.sizes(sf)
    val gen = Map[String, DataFrame](
      "lineitem" -> Gen.lineitem(spark, seed, s), "orders" -> Gen.orders(spark, seed, s),
      "customer" -> Gen.customer(spark, seed, s), "part" -> Gen.part(spark, seed, s))
    Tables.foreach(t => gen(t).write.mode("overwrite").parquet(s"$src/$t"))
    val sources = Tables.map(t => t -> spark.read.parquet(s"$src/$t")).toMap
    val schemas = sources.map { case (t, df) => t -> TableSchema.fromStructType(df.schema) }
    val digests = sources.map { case (t, df) => t -> Gates.digest(df) }
    sources.foreach { case (t, df) => df.createOrReplaceTempView(s"src_$t") }
    val expectedScan = Gates.rows(spark.sql(scanSql("src_")))

    new Prepared {
      val ops: Int = Tables.size + 1
      val sourceBytes: Long = Tables.map(t => Fs.bytes(s"$src/$t")).sum

      def iterate(rec: Recorder, dir: String, traced: Boolean): () => Seq[String] = {
        rec.span("build") {
          Tables.foreach { t =>
            val paths = PathConfig(s"$dir/$t")
            rec.span("pipeline.CsvExporter.export") { CsvExporter.export(sources(t), paths) }
            if (traced) rec.span("sources.UnloadCsv.read") {
              UnloadCsv.read(spark, schemas(t), UnloadCsv.manifestEntries(spark, paths.manifestPath))
                .write.format("noop").mode("overwrite").save()
            }
            val typed = rec.span("sources.UnloadCsv.readManifest") {
              UnloadCsv.readManifest(spark, schemas(t), paths.manifestPath)
            }
            rec.span("sinks.ParquetSink.write") {
              ParquetSink.write(typed, paths.spectrumDir)
              rec.count("rows", digests(t).rows.toDouble)
            }
            rec.span("pipeline.TableTransformer.createTable") {
              TableTransformer.ofDataFrame(spark, sources(t), paths, Db, t).createTable()
            }
          }
        }
        val scan = rec.span("step") { Gates.rows(spark.sql(scanSql(s"$Db."))) }
        () => Tables.flatMap(t =>
            Gates.compareDigest(t, digests(t), Gates.digest(spark.table(s"$Db.$t")))) ++
          Gates.compareRows("scan", expectedScan, scan)
      }

      def stored(dir: String): Seq[String] = Tables.map(t => PathConfig(s"$dir/$t").spectrumDir)

      override def cleanup(dir: String): Unit = {
        Tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $Db.$t"))
        super.cleanup(dir)
      }
    }
  }
}

/** The composed CDC pipeline: a CDC join view over orders and their
  * priorities feeding a maintained rollup, three seeded change batches,
  * then the dashboard read.
  */
object CdcLifecycle extends Workload {
  val name = "cdc_lifecycle"

  def prepare(spark: SparkSession, seed: Long, sf: Double, src: String): Prepared = {
    Gen.orders(spark, seed, Gen.sizes(sf)).write.mode("overwrite").parquet(s"$src/orders")
    val ord = spark.read.parquet(s"$src/orders")
    val a0 = ord.select(col("o_orderkey").as("key"), col("o_orderdate").as("ts"),
      col("o_custkey").as("user_id"), col("o_totalprice").as("value"))
    val b0 = ord.select(col("o_orderkey").as("key"), col("o_orderpriority").as("prio"))
    val keys = ord.select(col("o_orderkey").as("key"))
    val k = Gen.CdcKeys(seed)

    // the one-shot recompute of the corrected join
    val aCor = a0.filter(!k.deletedA)
      .withColumn("value", when(k.corrected, col("value") + 100).otherwise(col("value")))
    val bCor = b0.filter(!k.deletedB || k.moved)
      .withColumn("prio", when(k.moved, lit("P9")).otherwise(col("prio")))
    val expected = Gates.rollup(aCor.join(bCor, "key")
      .groupBy(col("prio").as("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"), sum(col("value").cast("decimal(18,6)")).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .collect().toSeq)

    new Prepared {
      val ops = 5
      val sourceBytes: Long = Fs.bytes(s"$src/orders")

      def iterate(rec: Recorder, dir: String, traced: Boolean): () => Seq[String] = {
        val jv = s"$dir/jv"
        val agg = s"$dir/agg"
        def feed(n: Int) = spark.read.parquet(s"$jv/view").filter(col("batch") === n)
          .select(col("prio").as("event_type"), col("ts"), col("value"), col("user_id"), col("sgn"))
        def state(days: Seq[String]) = JoinView.mergedForDays(spark, jv, days)
          .select(col("prio").as("event_type"), col("ts"), col("value"), col("user_id"))
        rec.span("build") {
          rec.span("operators.JoinView.build") {
            JoinView.build(a0, b0, "key", jv, cdc = true, dayCol = "ts")
          }
          rec.span("operators.AggIndex.build") { AggIndex.build(feed(0).drop("sgn"), agg, cdc = true) }
        }
        val batches: Seq[() => Int] = Seq(
          () => JoinView.ingestCdc(
            a0.filter(k.corrected).withColumn("value", col("value") + 100), b0.limit(0), "key", jv),
          () => JoinView.ingestCdc(a0.limit(0), b0.limit(0), "key", jv,
            delA = keys.filter(k.deletedA), delB = keys.filter(k.deletedB)),
          () => JoinView.ingestCdc(a0.limit(0),
            b0.filter(k.moved).select(col("key"), lit("P9").as("prio")), "key", jv))
        for ((ingest, i) <- batches.zipWithIndex) rec.span("step") {
          rec.span("operators.JoinView.ingestCdc") { ingest() }
          rec.span("operators.AggIndex.ingestCdc") {
            AggIndex.ingestCdc(feed(i + 1), null, agg, batch = i + 1, stateForDays = state)
          }
        }
        val dashboard = rec.span("read") {
          rec.span("operators.AggIndex.merged") {
            AggIndex.merged(spark, agg)
              .select("event_type", "day", "cnt", "sum_v", "min_v", "max_v").collect().toSeq
          }
        }
        () => Gates.compareRollup(expected, Gates.rollup(dashboard))
      }

      def stored(dir: String): Seq[String] = Seq(s"$dir/jv", s"$dir/agg")
    }
  }
}

/** Cross-length entity matching from the persisted deletion-neighbourhood
  * index at radius 1: a base build, a delta ingest, then one probe and
  * verify per batch.
  */
object EntityIndex extends Workload {
  val name = "entity_index"

  def prepare(spark: SparkSession, seed: Long, sf: Double, src: String): Prepared = {
    Gen.typoNames(Gen.customer(spark, seed, Gen.sizes(sf)), seed)
      .write.mode("overwrite").parquet(s"$src/names")
    val ents = spark.read.parquet(s"$src/names")
    val isDelta = Gen.deltaEntity(seed)
    val base = ents.filter(!isDelta)
    val delta = ents.filter(isDelta)
    val deltaKeys = delta.select("key").collect().map(_.getLong(0)).toSet

    // index-free all-pairs match: every pair within one edit
    val all = ents.select(col("key"), col("name"), length(col("name")).as("len"))
    val matches = all.as("a").join(all.as("b"),
        col("a.key") < col("b.key") && abs(col("a.len") - col("b.len")) <= 1)
      .select(col("a.key"), col("b.key"),
        levenshtein(col("a.name"), col("b.name"), 1).cast("long").as("d"))
      .filter(col("d") >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (touched, within) = matches.partition { case (a, b, _) =>
      deltaKeys(a) || deltaKeys(b)
    }
    val expected = Seq(within, touched)

    new Prepared {
      val ops = 4
      val sourceBytes: Long = Fs.bytes(s"$src/names")

      def iterate(rec: Recorder, dir: String, traced: Boolean): () => Seq[String] = {
        val idx = s"$dir/idx"
        rec.span("build") {
          rec.span("operators.FastSsIndex.build") { FastSsIndex.build(base, idx) }
          rec.span("operators.FastSsIndex.ingest") { FastSsIndex.ingest(delta, idx, batch = 1) }
        }
        val found = (0 to 1).map { b =>
          rec.span("step") {
            val cands = rec.span("operators.FastSsIndex.candidates") {
              val c = FastSsIndex.candidates(spark, idx, b).persist()
              rec.count("candidates", c.count().toDouble)
              c
            }
            try rec.span("operators.EntityBlockIndex.verifyTypo") {
              val v = EntityBlockIndex.verifyTypo(cands).collect().toSeq
                .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
              rec.count("verified", v.size.toDouble)
              v
            } finally cands.unpersist()
          }
        }
        () => (0 to 1).flatMap(b => Gates.comparePairs(s"batch $b", expected(b), found(b)))
      }

      def stored(dir: String): Seq[String] = Seq(s"$dir/idx")
    }
  }
}
