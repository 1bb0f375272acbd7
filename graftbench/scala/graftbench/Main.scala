package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: sets up a session, runs one workload for
  * a time budget and writes a JSON run record. `run.py` generates the
  * inputs beforehand and turns the record into metrics afterwards.
  *
  * {{{
  * graftbench.Main --workload elt_full --inputs DIR --work DIR --out DIR
  *   --seconds 5 --trace 0 --cores 4 --seed 1 --batches 5 --warm DIR
  *   --queries q01_full_scan_agg,...
  * }}}
  *
  * With `--trace 1` half the units run untraced and half traced, by
  * [[tracedUnit]], so the record carries both and their paired
  * difference is the tracing overhead.
  */
object Main {
  /** Whether unit i of pass p runs traced in a traced run. Passes come
    * in pairs, and in each pair every unit position runs once untraced
    * and once traced. Which of the two runs first alternates from one
    * (pair, position) to the next, so JIT warm-up and drift fall evenly
    * on both sides; with one unit per pass the order is U T T U U T T U.
    */
  def tracedUnit(p: Int, i: Int, units: Int): Boolean =
    (p + (p / 2) * units + i) % 2 == 1

  /** A traced run stops only after whole pairs of passes in which as
    * many positions ran untraced first as traced first.
    */
  def balanced(passes: Int, units: Int): Boolean =
    passes >= 2 && passes % 2 == 0 && (passes / 2 * units) % 2 == 0

  /** Pass number of a traced run's lead-in pass (-1 is taken by
    * elt_incremental's warm-up).
    */
  private val LeadInPass = -2

  /** graft.Bench's session settings (at these input sizes its initial
    * partition count resolves to `cores`), with Spark's scratch space
    * kept inside the run directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def peakRssKb: Long = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) -1L
    else scala.io.Source.fromFile(f).getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = o("workload")
    val (inputs, work, out) = (o("inputs"), o("work"), o("out"))
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val baseConf = spark.conf.getAll
    val wl: Workload = name match {
      case "elt_full" => new EltFull(inputs, o("warm"), work)
      case "elt_incremental" => new EltIncremental(inputs, work, o("batches").toInt)
      case "analytics_mix" => new AnalyticsMix(inputs, o("seed").toLong, o("queries").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.prepare(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    val tw = System.nanoTime()
    val warm = new Tracer(spark, "warmup", baseConf)
    wl.warmup(spark, warm)
    val warmupS = (System.nanoTime() - tw) / 1e9
    // The paired design cancels drift, but the first full-size pass also
    // pays the rest of the JIT warm-up; a traced run does it unrecorded.
    if (traced) wl.pass(spark, _ => warm, LeadInPass)

    val plain = new Tracer(spark, "untraced", baseConf)
    val tr = new Tracer(spark, "traced", baseConf)
    def at(p: Int, i: Int): Tracer =
      if (traced && tracedUnit(p, i, wl.units)) tr else plain
    def done(passes: Int): Boolean =
      if (traced) balanced(passes, wl.units) else passes >= 1
    val units = ArrayBuffer.empty[Map[String, Any]]
    val tl = System.nanoTime()
    var p = 0
    while (!done(p) || (System.nanoTime() - tl) / 1e9 < seconds) {
      val pass = p
      units ++= wl.pass(spark, at(pass, _), pass).zipWithIndex.map { case (r, i) =>
        r + ("mode" -> at(pass, i).mode)
      }
      p += 1
    }
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> name, "cores" -> cores, "setup_s" -> setupS, "warmup_s" -> warmupS)
    if (traced) record ++= Seq("traced_spans" -> tr.spanRecords, "listener" -> tr.listener.records)
    record ++= Seq("spans" -> plain.spanRecords, "units" -> units.toSeq)
    wl.writeOutputs(spark, out)
    record += "peak_rss_kb" -> peakRssKb
    Dirs.write(s"$out/record.json", Json(record))
    spark.stop()
  }
}
