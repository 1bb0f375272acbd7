package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.dag.Dag
import graft.dag.Dag.{Ephemeral, Model, Table, View}
import graft.ops.{IncrementalModel, RowFilters, SchemaContract, Snapshot, Writer}
import graft.ops.RowFilters.{Gt, In, RowFilter}
import graft.quality.{Checks, Freshness}
import graft.quality.Checks.{AcceptedValues, NotNull, Relationships, Unique}
import graft.sources.{FileSource, Incremental}

/** A benchmark workload. A pass is a fixed sequence of `units` units
  * (one full-refresh run, one small batch, one query); unit i is a root
  * span of the [[Tracer]] `at(i)`. `pass` returns one record per unit
  * with whatever the workload measures besides time (bytes, probe counts).
  */
trait Workload {
  def units: Int
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed work before the timed window, through a throwaway tracer. */
  def warmup(spark: SparkSession, t: Tracer): Unit
  def pass(spark: SparkSession, at: Int => Tracer, p: Int): Seq[Map[String, Any]]
  /** Outputs of the last pass, for the checks made after the run. */
  def writeOutputs(spark: SparkSession, dir: String): Unit
}

/** File-tree helpers for warehouse directories. */
object Dirs {
  def bytes(dir: String, since: Double = 0): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= since)
        .map(Files.size).sum
      finally walk.close()
    }
  }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
      finally walk.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  def write(path: String, text: String): Unit =
    Files.writeString(Paths.get(path), text)
}

object Schemas {
  private def s(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  val customer = s("c_custkey" -> LongType, "c_name" -> StringType,
    "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)
  val part = s("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
    "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType)
  val supplier = s("s_suppkey" -> LongType, "s_name" -> StringType,
    "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
  val nation = s("n_nationkey" -> IntegerType, "n_name" -> StringType,
    "n_regionkey" -> IntegerType)
  val region = s("r_regionkey" -> IntegerType, "r_name" -> StringType)
  val orders = s("o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType,
    "o_clerk" -> StringType)
  val lineitem = s("l_orderkey" -> LongType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> TimestampNTZType)
  val orderBatch = s("o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> TimestampNTZType, "o_updated_at" -> TimestampNTZType)
}

/** Cold full refresh: read the landed files, filter and contract them,
  * stage them with `replace`, build a 10-model project, test the marts.
  */
final class EltFull(inputs: String, warmInputs: String, work: String) extends Workload {
  private val dims = Seq(("customer", "csv", Schemas.customer), ("nation", "json", Schemas.nation),
    ("part", "csv", Schemas.part), ("region", "json", Schemas.region),
    ("supplier", "csv", Schemas.supplier))
  private val facts = Seq(("lineitem", Schemas.lineitem), ("orders", Schemas.orders))
  private val orderCols = Schemas.orders.fieldNames.toSeq.filterNot(_ == "o_clerk")
  private val asOfMs = java.time.Instant.parse("2001-11-05T00:00:00Z").toEpochMilli
  private var lastWh: String = null
  private var results: Seq[Row] = Nil
  val units = 1

  /** One pass over a small landing of the same shape: compiles and
    * JIT-warms the same plans without paying for a full pass.
    */
  def warmup(spark: SparkSession, t: Tracer): Unit = {
    run(spark, t, warmInputs, s"$work/wh-warmup")
    Dirs.delete(s"$work/wh-warmup")
  }

  def pass(spark: SparkSession, at: Int => Tracer, p: Int): Seq[Map[String, Any]] = {
    val t = at(0)
    val wh = s"$work/wh-$p"
    val trace = s"elt_full/${t.mode}/$p/0"
    val ok = t.unit(trace, "pass")(run(spark, t, inputs, wh))
    val rec = Map("trace" -> trace, "ok" -> ok, "bytes_written" -> Dirs.bytes(wh),
      "landed_bytes" -> Dirs.bytes(inputs))
    if (lastWh != null) Dirs.delete(lastWh)
    lastWh = wh
    Seq(rec)
  }

  private def run(spark: SparkSession, t: Tracer, inputs: String, wh: String): Unit = {
    val raw = dims.map { case (n, fmt, schema) =>
      n -> t.span("sources.FileSource.read") {
        FileSource.read(spark, fmt, s"$inputs/dims/$n", Some(s"*.$fmt"), Some(schema))
      }
    } ++ facts.map { case (n, schema) =>
      n -> t.span("sources.FileSource.read") {
        FileSource.read(spark, "parquet", s"$inputs/facts/$n", Some("*.parquet"), Some(schema))
      }
    }
    val cleaned = raw.toMap ++ Map(
      "orders" -> SchemaContract.applyColumns(orderCols, raw.toMap.apply("orders"),
        SchemaContract.DiscardValue),
      "lineitem" -> RowFilters(raw.toMap.apply("lineitem"), Seq(
        RowFilter("l_quantity", Gt, 0.0), RowFilter("l_returnflag", In, Seq("A", "N", "R")))))
    cleaned.toSeq.sortBy(_._1).foreach { case (n, df) =>
      t.span("ops.Writer.write.replace")(Writer.write(spark, df, s"$wh/stg/$n", "replace"))
    }
    val built = t.span("dag.Dag.runMaterialized") {
      Dag.runMaterialized(spark, EltFull.models(spark, s"$wh/stg"), s"$wh/models")
    }
    val checks = Seq(
      "mart_customer_ltv" -> Map[String, Seq[Checks.CheckSpec]](
        "c_custkey" -> Seq(NotNull, Unique), "revenue" -> Seq(NotNull)),
      "fct_order_lines" -> Map[String, Seq[Checks.CheckSpec]](
        "o_orderkey" -> Seq(NotNull),
        "o_custkey" -> Seq(NotNull, Relationships(built("dim_customer"), "c_custkey"))),
      "dim_customer" -> Map[String, Seq[Checks.CheckSpec]](
        "c_custkey" -> Seq(Unique),
        "r_name" -> Seq(AcceptedValues(EltFull.Regions))))
    val checked = checks.flatMap { case (table, cfg) =>
      t.span("quality.Checks.run")(Checks.run(built(table), cfg).collect())
        .map(r => Row(table, r.getString(0), r.getString(1), r.getLong(2).toString))
    }
    val fresh = t.span("quality.Freshness.check") {
      Freshness.check(built("fct_order_lines"), "fct_order_lines",
        unix_millis(col("l_shipdate").cast("timestamp")), asOfMs, 86400L, 7 * 86400L).collect()
    }.map(r => Row("fct_order_lines", "freshness", r.getAs[String]("status"),
      r.getAs[Long]("age_s").toString))
    results = checked ++ fresh
  }

  def writeOutputs(spark: SparkSession, dir: String): Unit = {
    val rows = results.map(r => (0 until 4).map(r.getString))
    Dirs.write(s"$dir/checks.json", Json(rows))
    Dirs.write(s"$dir/outputs.json", Json(Map("models" -> s"$lastWh/models")))
  }
}

object EltFull {
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private def dec2(c: Column) = c.cast("decimal(18,2)")

  /** The project: 2 ephemeral, 2 view, 5 table, 1 incremental model.
    * Sources are the staged tables in `stg`.
    */
  def models(spark: SparkSession, stg: String): Seq[Model] = {
    def src(n: String): DataFrame = spark.read.parquet(s"$stg/$n")
    val revenue = sum(col("net")).cast("double").as("revenue")
    Seq(
      Model("lineitem_net", Nil, _ => src("lineitem").select(col("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_shipdate"),
        (dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .as("net")), Ephemeral),
      Model("customer_geo", Nil, _ => src("customer")
        .join(src("nation"), col("c_nationkey") === col("n_nationkey"))
        .join(src("region"), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "c_mktsegment", "n_name", "r_name"), View),
      Model("dim_customer", Seq("customer_geo"), m => m("customer_geo"), Table),
      Model("fct_order_lines", Seq("lineitem_net"), m => m("lineitem_net")
        .join(src("orders"), col("l_orderkey") === col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus", "l_partkey",
          "l_suppkey", "l_quantity", "l_shipdate", "net"), Table),
      Model("mart_revenue_nation_year", Seq("fct_order_lines", "dim_customer"), m =>
        m("fct_order_lines").join(m("dim_customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("n_name"), year(col("o_orderdate")).as("order_year"))
          .agg(revenue, count(lit(1)).as("n_lines")), Table),
      Model("mart_customer_ltv", Seq("fct_order_lines"), m => m("fct_order_lines")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(revenue, count(lit(1)).as("n_lines"), max("o_orderdate").as("last_order")),
        Dag.Incremental(Seq("c_custkey"))),
      Model("part_dim", Nil, _ => src("part").select("p_partkey", "p_type", "p_brand"),
        Ephemeral),
      Model("mart_part_type", Seq("fct_order_lines", "part_dim"), m => m("fct_order_lines")
        .join(m("part_dim"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_type", "p_brand").agg(revenue, sum("l_quantity").as("qty")), Table),
      Model("supplier_nation", Nil, _ => src("supplier")
        .join(src("nation"), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name"), View),
      Model("mart_supplier_nation", Seq("fct_order_lines", "supplier_nation"), m =>
        m("fct_order_lines").join(m("supplier_nation"), col("l_suppkey") === col("s_suppkey"))
          .groupBy("n_name").agg(revenue, count(lit(1)).as("n_lines")), Table))
  }
}

/** The steady-state loop: each unit lands one small batch of orders and
  * runs extract, merge, an incremental mart, an SCD2 snapshot and tests.
  * Every pass starts from a copy of the same base warehouse.
  */
final class EltIncremental(inputs: String, work: String, batches: Int) extends Workload {
  private val start = LocalDateTime.parse("2024-01-02T00:00:00")
  private val checkCols = Seq("n_orders", "n_open")
  private val base = s"$work/base-wh"
  private var lastWh: String = null
  private var histV = 0
  val units: Int = batches

  /** Snapshot run time of batch b; batch -1 is the base load. */
  private def runTs(b: Int): Column = lit(start.plusHours(b + 1L))

  private def martRows(df: DataFrame): DataFrame = df.select(col("o_orderkey"),
    col("o_custkey"), col("o_orderstatus"), col("o_totalprice"), col("o_updated_at"),
    when(col("o_totalprice") >= 250000, "high").otherwise("low").as("price_band"))

  private def customerState(orders: DataFrame): DataFrame =
    orders.groupBy("o_custkey").agg(count(lit(1)).as("n_orders"),
      sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"))

  override def prepare(spark: SparkSession): Unit = {
    Dirs.delete(base)
    val orders = FileSource.read(spark, "parquet", s"$inputs/base", Some("*.parquet"),
      Some(Schemas.orderBatch))
    Writer.write(spark, orders, s"$base/orders", "replace")
    martRows(spark.read.parquet(s"$base/orders")).write.parquet(s"$base/mart/v0")
    Snapshot.check(None, customerState(spark.read.parquet(s"$base/orders")),
      Seq("o_custkey"), checkCols, runTs(-1)).write.parquet(s"$base/hist/v0")
  }

  /** The first two batches of one pass, as pass -1. */
  def warmup(spark: SparkSession, t: Tracer): Unit =
    pass(spark, _ => t, -1, 2)

  def pass(spark: SparkSession, at: Int => Tracer, p: Int): Seq[Map[String, Any]] =
    pass(spark, at, p, batches)

  private def pass(spark: SparkSession, at: Int => Tracer, p: Int,
      batches: Int): Seq[Map[String, Any]] = {
    val wh = s"$work/wh-$p"
    Dirs.copyTree(base, wh)
    Files.createDirectories(Paths.get(s"$wh/landing"))
    if (lastWh != null) Dirs.delete(lastWh)
    lastWh = wh
    val out = Seq.newBuilder[Map[String, Any]]
    var b = 0
    var ok = true
    while (ok && b < batches) {
      val file = f"batch-$b%03d.parquet"
      Files.copy(Paths.get(s"$inputs/batches/$file"), Paths.get(s"$wh/landing/$file"))
      val t = at(b)
      val trace = s"elt_incremental/${t.mode}/$p/$b"
      val t0 = t.nowMs
      var ext: DataFrame = null
      ok = t.unit(trace, "batch") { ext = batch(spark, t, wh, b) }
      var rec = Map[String, Any]("trace" -> trace, "ok" -> ok,
        "landed_bytes" -> Files.size(Paths.get(s"$wh/landing/$file")),
        "bytes_written" -> (Dirs.bytes(wh, math.floor(t0)) -
          Dirs.bytes(s"$wh/landing", math.floor(t0))))
      if (ok && t.traced) rec ++= probes(spark, wh, ext, b)
      out += rec
      b += 1
    }
    out.result()
  }

  private def batch(spark: SparkSession, t: Tracer, wh: String, b: Int): DataFrame = {
    val state = t.span("sources.Incremental.loadState")(Incremental.loadState(spark, s"$wh/_state"))
    val raw = t.span("sources.FileSource.read") {
      FileSource.read(spark, "parquet", s"$wh/landing", Some("*.parquet"), Some(Schemas.orderBatch))
    }
    val ext = t.span("sources.Incremental.extract") {
      Incremental.extract(raw, "o_updated_at", initialValue = Some(start), lastValue = state.lastValue)
    }
    t.span("sources.Incremental.saveState")(Incremental.saveState(ext, "o_updated_at", s"$wh/_state"))
    t.span("ops.Writer.write.merge")(Writer.write(spark, ext, s"$wh/orders", "merge", Seq("o_orderkey")))
    t.span("ops.IncrementalModel.run") {
      IncrementalModel.run(spark.read.parquet(s"$wh/mart/v$b"), martRows(ext), Seq("o_orderkey"))
        .write.parquet(s"$wh/mart/v${b + 1}")
      Dirs.delete(s"$wh/mart/v$b")
    }
    t.span("ops.Snapshot.check") {
      Snapshot.check(Some(spark.read.parquet(s"$wh/hist/v$b")),
        customerState(spark.read.parquet(s"$wh/orders")), Seq("o_custkey"), checkCols, runTs(b))
        .write.parquet(s"$wh/hist/v${b + 1}")
      Dirs.delete(s"$wh/hist/v$b")
    }
    histV = b + 1
    t.span("quality.Checks.run") {
      Checks.run(spark.read.parquet(s"$wh/orders"), Map(
        "o_orderkey" -> Seq(NotNull, Unique), "o_custkey" -> Seq(NotNull),
        "o_orderstatus" -> Seq(AcceptedValues(Seq("F", "O", "P"))))).collect()
    }.foreach { r =>
      require(r.getLong(2) == 0L, s"check ${r.getString(0)}(${r.getString(1)}) failed: ${r.getLong(2)}")
    }
    ext
  }

  /** Counts behind the traced run's ratios; run outside every span. */
  private def probes(spark: SparkSession, wh: String, ext: DataFrame, b: Int): Map[String, Any] = {
    val hist = spark.read.parquet(s"$wh/hist/v${b + 1}")
    Map(
      "rows_read" -> spark.read.parquet(s"$wh/landing").count(),
      "rows_extracted" -> ext.count(),
      "snapshot_changed" -> hist.filter(col(Snapshot.ValidTo) === runTs(b)).count(),
      "snapshot_current" -> hist.filter(col(Snapshot.ValidTo).isNull).count())
  }

  def writeOutputs(spark: SparkSession, dir: String): Unit =
    Dirs.write(s"$dir/outputs.json", Json(Map(
      "orders" -> s"$lastWh/orders", "history" -> s"$lastWh/hist/v$histV",
      "batches_run" -> histV)))
}

/** Read-only pass over registry queries in a seed-set order; each
  * query starts on a cold session and its result is collected.
  */
final class AnalyticsMix(inputs: String, seed: Long, queries: Seq[String]) extends Workload {
  val order: Seq[String] = new scala.util.Random(seed).shuffle(queries)
  val units: Int = queries.size
  private var results = Map.empty[String, (Array[Row], StructType)]

  /** Three cheap registry queries outside the mix (filter, star join,
    * window): they take the planner's and codegen's first-use cost,
    * which would otherwise land on whichever mix query runs first.
    */
  def warmup(spark: SparkSession, t: Tracer): Unit =
    Seq("q02_filter_ops", "q03_join_star", "q19_window_funcs")
      .foreach(q => SparkEntry.queries(q)(spark, inputs).collect())

  def pass(spark: SparkSession, at: Int => Tracer, p: Int): Seq[Map[String, Any]] =
    order.zipWithIndex.map { case (q, i) =>
      val t = at(i)
      val trace = s"analytics_mix/${t.mode}/$p/$i"
      val ok = t.unit(trace, s"mix.$q") {
        val df = SparkEntry.queries(q)(spark, inputs)
        results += q -> (df.collect(), df.schema)
      }
      Map("trace" -> trace, "ok" -> ok, "query" -> q)
    }

  def writeOutputs(spark: SparkSession, dir: String): Unit = {
    results.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.parquet(s"$dir/$q")
    }
    Dirs.write(s"$dir/oracle_sql.json",
      Json(queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
  }
}
