package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, struct, to_json, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType, StructType}

/** Stage counters folded per span. Untraced runs fold everything into
  * the root span "", so one listener serves both modes.
  */
final class Counters {
  var tasks = 0L
  var shuffleWrite = 0L
  var diskSpill = 0L
  var inputBytes = 0L
  var gcMs = 0L
  /** stage id → task run times (ms), for the max/median skew ratio */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def skew: Double = {
    val ratios = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Folds `TaskMetrics` into the span that submitted the task's job.
  * The span rides on the job as the local property [[SpanProperty]].
  * Only successful tasks count: adaptive execution may cancel a shuffle
  * stage it no longer needs, and the partial output of its killed tasks
  * would otherwise make the byte counts vary with timing.
  */
final class StageListener extends SparkListener {
  val bySpan = mutable.Map.empty[String, Counters]
  private val stageSpan = mutable.Map.empty[Int, String]

  def of(span: String): Counters = synchronized(bySpan.getOrElseUpdate(span, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(StageListener.SpanProperty))).getOrElse("")
    e.stageIds.foreach(id => stageSpan(id) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.reason == org.apache.spark.Success) {
      val c = bySpan.getOrElseUpdate(stageSpan.getOrElse(e.stageId, ""), new Counters)
      c.tasks += 1
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.diskSpill += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.gcMs += m.jvmGCTime
      c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** Total scratch bytes (shuffle write + disk spill) over all spans. */
  def scratchBytes: Long = synchronized(bySpan.values.map(c => c.shuffleWrite + c.diskSpill).sum)
}

object StageListener {
  val SpanProperty = "perfbench.span"
}

/** One span: a named interval with a parent, plus FS and row counts
  * recorded at its boundary. Self time is duration minus the part of it
  * the child spans cover.
  */
final case class Span(name: String, parent: Option[Int], start: Long, var end: Long = 0L,
    counts: mutable.Map[String, Double] = mutable.Map.empty)

/** In-memory span recorder. Spans nest on one logical stack; the
  * streaming query's batch thread pushes its `ingest` span while the
  * main thread waits inside `stream`, so the stack is shared, not
  * thread-local.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  /** Whether spans are recorded right now; a traced run may switch it
    * off for some operations to measure the tracing overhead.
    */
  @volatile var on: Boolean = enabled
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = synchronized {
        spans += Span(name, stack.headOption, System.nanoTime())
        stack.push(spans.size - 1)
        spans.size - 1
      }
      val saved = sc.getLocalProperty(StageListener.SpanProperty)
      sc.setLocalProperty(StageListener.SpanProperty, name)
      try body
      finally {
        sc.setLocalProperty(StageListener.SpanProperty, saved)
        synchronized { spans(id).end = System.nanoTime(); stack.pop() }
      }
    }

  /** Add a count to the innermost open span named `name`. */
  def count(name: String, key: String, v: Double): Unit = if (on) synchronized {
    spans.lastIndexWhere(_.name == name) match {
      case -1 => ()
      case i => spans(i).counts(key) = spans(i).counts.getOrElse(key, 0.0) + v
    }
  }

  /** Self seconds per span name, summed over every span of that name. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => s.parent.foreach(p => childNs(p) += s.end - s.start))
    spans.indices.groupBy(i => spans(i).name).map { case (n, ids) =>
      n -> ids.map(i => spans(i).end - spans(i).start - childNs(i)).sum / 1e9
    }
  }

  def counts(name: String, key: String): Double =
    spans.filter(_.name == name).map(_.counts.getOrElse(key, 0.0)).sum
}

object Probe {

  /** Order-insensitive content digest: row count plus the XOR of an
    * xxhash64 over every output column. Map columns hash through
    * `to_json` (hash() rejects MapType); floating-point columns hash
    * through their text form, because xxhash64 folds -0.0 into 0.0 and
    * the output check is bit-strict.
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      val c = col("`" + f.name + "`")
      f.dataType match {
        case DoubleType | FloatType => c.cast("string")
        case t if containsMap(t) => to_json(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(struct(cols.toSeq: _*)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: ArrayType => containsMap(a.elementType)
    case _ => false
  }

  /** Live old-generation bytes after a full collection. Called while an
    * operation's caches are still held, so cached state counts.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
    old.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Box-speed probe sized to the box: an LCG fill of 2 M longs, sorted
    * and XOR-folded, single-threaded and on `threads` threads at once
    * (never more threads than cores, so it measures speed, not
    * oversubscription). One warm-up, then the median of three.
    */
  def calibration(threads: Int): Map[String, Double] = {
    def one(seed0: Long): Long = {
      val n = 2 * 1000 * 1000
      val a = new Array[Long](n)
      var seed = seed0
      var i = 0
      while (i < n) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        a(i) = seed; i += 1
      }
      java.util.Arrays.sort(a)
      var x = 0L
      i = 0
      while (i < n) { x ^= a(i); i += 1 }
      x
    }
    def once(k: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until k).map { t =>
        val th = new Thread(() => require(one(0x9E3779B97F4A7C15L + t) != 42L))
        th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    def med3(k: Int): Double = { once(k); Seq.fill(3)(once(k)).sorted.apply(1) }
    Map("single_s" -> med3(1), s"par${threads}_s" -> med3(threads))
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
