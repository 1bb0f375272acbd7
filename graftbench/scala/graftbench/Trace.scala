package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Minimal JSON encoder for the run record (maps, sequences, strings,
  * numbers, booleans, null).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One span: a timed call into a graft module, or a whole unit of work
  * (a batch, a pass, a query). Times are epoch milliseconds with
  * sub-millisecond digits so they line up with Spark's job events.
  */
final case class Span(id: Int, name: String, parent: Int, trace: String,
    start: Double, end: Double, failed: Boolean,
    cacheLeft: Int = 0, confChanged: Int = 0)

/** Records spans in memory around the benchmark's own calls into
  * graft. A unit is a root span; steps nest inside it. Before every
  * unit the session is made cold: the CacheManager is cleared and any
  * runtime conf a previous unit set is restored.
  *
  * `mode` is `traced`, `untraced` or `warmup`; it names the unit's
  * trace id. `baseConf` is the runtime conf as the session was created.
  *
  * A traced tracer registers its [[JobListener]] for the duration of
  * each of its units only, and each span publishes its id as a
  * job-local property (read back by the listener) and records what it
  * left behind: new CacheManager entries and changed conf keys.
  */
final class Tracer(spark: SparkSession, val mode: String, baseConf: Map[String, String]) {
  import Tracer._
  val traced: Boolean = mode == "traced"
  val listener = new JobListener
  val spans = ArrayBuffer.empty[Span]
  private val sc = spark.sparkContext
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var traceId = ""

  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private def cacheEntries: Int =
    org.apache.spark.sql.graftbench.Internals.cacheEntries(spark)

  private def confDiff: Seq[String] = {
    val now = spark.conf.getAll
    (now.keySet ++ baseConf.keySet).toSeq.filter(k => now.get(k) != baseConf.get(k))
  }

  /** Restore the session's initial runtime conf and drop cached data. */
  def makeCold(): Unit = {
    spark.catalog.clearCache()
    confDiff.foreach { k =>
      baseConf.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** A root span: one batch, pass or query. Returns false if it threw. */
  def unit(trace: String, name: String)(body: => Unit): Boolean = {
    makeCold()
    traceId = trace
    if (traced) sc.addSparkListener(listener)
    try { span(name)(body); true }
    catch { case e: Throwable =>
      System.err.println(s"[graftbench] $trace $name failed: $e")
      e.printStackTrace()
      false
    } finally if (traced) {
      org.apache.spark.sql.graftbench.Internals.drainListenerBus(spark)
      sc.removeSparkListener(listener)
    }
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevProp = sc.getLocalProperty(SpanKey)
    if (traced) sc.setLocalProperty(SpanKey, id.toString)
    val cache0 = if (traced) cacheEntries else 0
    val conf0 = if (traced) confDiff.toSet else Set.empty[String]
    stack = id :: stack
    val t0 = nowMs
    var failed = true
    try { val r = body; failed = false; r }
    finally {
      val t1 = nowMs
      stack = stack.tail
      if (traced) sc.setLocalProperty(SpanKey, prevProp)
      val (cacheLeft, confChanged) =
        if (traced) (math.max(0, cacheEntries - cache0), (confDiff.toSet -- conf0).size)
        else (0, 0)
      spans += Span(id, name, parent, traceId, t0, t1, failed, cacheLeft, confChanged)
    }
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "trace" -> s.trace,
    "start" -> s.start, "end" -> s.end, "failed" -> s.failed,
    "cache_left" -> s.cacheLeft, "conf_changed" -> s.confChanged))
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Collects job and stage records for the traced run. Jobs carry the
  * span id their submitting thread published; stages carry their task
  * metrics. Attribution of stages to spans happens offline.
  */
final class JobListener extends SparkListener {
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    jobs += Map("job" -> e.jobId, "time" -> e.time, "span" -> span.map(_.toInt),
      "stages" -> e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Map(
      "stage" -> i.stageId, "attempt" -> i.attemptNumber(), "tasks" -> i.numTasks,
      "task_ms" -> m.executorRunTime,
      "records_read" -> m.inputMetrics.recordsRead,
      "bytes_read" -> m.inputMetrics.bytesRead,
      "records_written" -> m.outputMetrics.recordsWritten,
      "bytes_written" -> m.outputMetrics.bytesWritten,
      "shuffle_read" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def records: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList)
  }
}
