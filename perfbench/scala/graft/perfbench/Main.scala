package graft.perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.GraftConf
import graft.queries.{PerfbenchAccess, PipelineQueries, Q}
import graft.sinks.BlockRangeSink
import graft.streaming.IncrementalIngest

/** The benchmark's JVM side: generates the seeded inputs, runs one
  * workload's set-ups and timed operations (or the traced pass), and
  * writes every raw measurement to one JSON file. The first derivation's
  * (or the final serve's) output is kept for verification:
  * `perfbench/run.py` checks it against the DuckDB oracle and turns the
  * file into the reported metrics.
  *
  * Usage: Main WORKLOAD SEED SECONDS TRACE(0|1) WORK_DIR OUT_JSON LAUNCH_EPOCH_MS
  */
object Main {

  /** Input size: orders rows (customers are a tenth of it, 25 nations). */
  val Orders = 20000L
  /** Derivations each batch run makes in its fresh JVM; `wall_s` is
    * their mean, so it carries the cold start every cron-driven run pays.
    */
  val BatchOps = 3
  /** The generated table contents are fixed; `--seed` permutes their
    * arrival order and picks the ingest cycle's reorg points.
    */
  val DataSeed = 42L
  /** Workload set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3
  /** ingest_cycle: untimed warm-up cycles, then at least this many timed
    * ones, each committing one feed file of `DropBlocks` blocks.
    */
  val WarmCycles = 10
  val MinCycles = 28
  val DropBlocks = 200L
  /** Share of the chain bulk-loaded into the facts table at set-up. */
  val BulkShare = 0.5

  final case class Op(kind: String, seconds: Double, digest: String,
      error: String, scratchMb: Double, heapMb: Double, traced: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out, launchS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
    // the traced run counts the sink's file-system calls (see
    // CountingLocalFileSystem); the timed run uses the stock file system
    if (trace) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = GraftConf(builder
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - launchS.toLong) / 1000.0
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    val bench = new Bench(spark, listener, work, seed, seconds,
      new Tracer(spark, trace))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "session_s" -> sessionS)
    workload match {
      case "ingest_full" => bench.batch(result)
      case "ingest_cycle" => bench.cycle(result)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    result("calibration") = Probe.calibration(cores)
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(Json(result)) finally w.close()
    spark.stop()
  }
}

/** One run's state: session, counters, and the workload bodies. */
final class Bench(spark: SparkSession, listener: StageListener, work: String,
    seed: Long, seconds: Double, tracer: Tracer) {
  import Main._
  import spark.implicits._

  private val sc = spark.sparkContext
  private val rng = new java.util.Random(seed)

  /** Writes nation, customer and orders under `dir`. Contents depend on
    * [[Main.DataSeed]] only; the row (arrival) order of customer and
    * orders is a permutation drawn from `seed`.
    */
  def generate(dir: String): Map[String, Long] = {
    val nCust = Orders / 10
    def h(salt: Int): org.apache.spark.sql.Column =
      xxhash64(lit(DataSeed), col("id"), lit(salt))
    spark.range(25).select(col("id").cast("int").as("n_nationkey"))
      .coalesce(1).write.parquet(s"$dir/nation.parquet")
    spark.range(nCust).select(col("id").as("c_custkey"),
        pmod(h(1), lit(25L)).cast("int").as("c_nationkey"))
      .orderBy(xxhash64(lit(seed), col("c_custkey")))
      .write.parquet(s"$dir/customer.parquet")
    spark.range(Orders).select(col("id").as("o_orderkey"),
        pmod(h(2), lit(nCust)).as("o_custkey"),
        ((pmod(h(3), lit(49899100L)) + 100100L).cast("double") / 100.0)
          .as("o_totalprice"))
      .orderBy(xxhash64(lit(seed), col("o_orderkey")))
      .write.parquet(s"$dir/orders.parquet")
    Map("orders_rows" -> Orders, "customer_rows" -> nCust, "nation_rows" -> 25L,
      "input_bytes" -> Seq("nation", "customer", "orders")
        .map(t => dirBytes(new java.io.File(s"$dir/$t.parquet"))).sum)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  /** Drops every cache an operation left, so no state carries over. */
  def release(): Unit = {
    Q.releaseScoped()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Times `body`, which must fully evaluate its result, then reads the
    * scratch bytes its jobs wrote and the live heap with the operation's
    * caches still held. The digest reads "ok" unless the body threw.
    */
  def op(kind: String)(body: => Any): Op = {
    PerfbenchBus.drain(sc)
    val s0 = listener.scratchBytes
    val t0 = System.nanoTime()
    val err =
      try { body; "" }
      catch { case e: Throwable => e.toString.take(500) }
    val dt = secondsSince(t0)
    PerfbenchBus.drain(sc)
    val scratch = (listener.scratchBytes - s0) / 1048576.0
    // a full GC per ingest cycle or reorg would add a third to the
    // loop's cost; they hold no cache, so the final serve samples the
    // heap for them
    val heap = if (kind == "cycle" || kind == "reorg") -1.0 else Probe.heapAfterGcMb()
    release()
    if (err.nonEmpty) System.err.println(s"[perfbench] $kind failed: $err")
    Op(kind, dt, if (err.isEmpty) "ok" else "", err, scratch, heap, tracer.on)
  }

  def opJson(o: Op): Map[String, Any] = Map("kind" -> o.kind,
    "s" -> o.seconds, "digest" -> o.digest, "error" -> o.error,
    "scratch_mb" -> o.scratchMb, "heap_mb" -> o.heapMb, "traced" -> o.traced)

  // ---------------------------------------------------------------- batch

  def batch(result: mutable.Map[String, Any]): Unit = {
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val inputs = generate(s"$work/in$i")
      (secondsSince(t0), inputs)
    }
    val dir = s"$work/in$SetupReps"
    result("setup_reps_s") = setups.map(_._1)
    result("inputs") = setups.last._2
    result("tables_dir") = dir

    val build = () => PipelineQueries.e2eIngestFull.run(spark, dir)
    result("oracle_sql") = PipelineQueries.e2eIngestFull.oracle.get
    if (tracer.enabled) {
      val traced = new Traced(spark, tracer, listener)
      // untraced derivations before and after the traced one: the cold
      // first, then one on each side, whose mean the overhead is taken from
      tracer.on = false
      val untraced = mutable.ArrayBuffer(derive(build, s"$work/out1"),
        derive(build, s"$work/out2"))
      tracer.on = true
      val t0 = System.nanoTime()
      val d = traced.ingestFull(dir)
      val tracedS = secondsSince(t0)
      tracer.on = false
      release()
      untraced += derive(build, s"$work/out3")
      result("ops") = untraced.map(opJson)
      result("traced") = Map("wall_s" -> tracedS, "digest" -> d,
        "layers" -> traced.layers())
    } else {
      // the first BatchOps derivations give the end-to-end metrics; any
      // later ones (while `--seconds` lasts) are extra samples for the
      // artifact, and every output must match the first
      val ops = mutable.ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      while (ops.size < BatchOps || secondsSince(t0) < seconds)
        ops += derive(build, s"$work/out${ops.size + 1}")
      result("ops") = ops.map(opJson)
    }
    result("verify_output") = s"$work/out1"
    result("expected_digest") = verified(s"$work/out1")
  }

  /** One timed derivation: build the query and write its served output
    * (every row and column, in the query's own order) to `path`. The
    * digest of what was written is read back off the clock; the first
    * operation's output is the one checked against the oracle.
    */
  private def derive(build: () => DataFrame, path: String): Op = {
    val o = op("derive")(build().write.parquet(path))
    if (o.error.nonEmpty) o else o.copy(digest = outputDigest(path))
  }

  /** The digest of the output to verify, or "" when the operation that
    * should have written it failed.
    */
  private def verified(path: String): String =
    if (new java.io.File(path).isDirectory) outputDigest(path) else ""

  private def outputDigest(path: String): String = {
    val d = Probe.digest(spark.read.parquet(path))
    release()
    d
  }

  // ---------------------------------------------------------------- cycle

  def cycle(result: mutable.Map[String, Any]): Unit = {
    // the chain's confirmed feed, block = order key (streaming twins' shape)
    def confOf(dir: String): DataFrame = PerfbenchAccess.chainOrders(spark, dir)
      .where($"conf").select($"ok".as("block"), $"ck", $"nk", $"amt", $"pay", $"omni")
    val bulkMax = (Orders * BulkShare).toLong
    // feed files: consecutive block ranges (bounds(k), bounds(k + 1)]
    // above the bulk load
    val bounds = Iterator.iterate(bulkMax)(_ + DropBlocks)
      .takeWhile(_ < Orders).toVector :+ Orders
    val ranges = bounds.indices.init.map(k => (k, bounds(k), bounds(k + 1)))
    // set-up: inputs, bulk load, and the feed files staged for the
    // producer to commit one at a time
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val inputs = generate(s"$work/in$i")
      val conf = confOf(s"$work/in$i")
      BlockRangeSink.write(conf.where($"block" <= bulkMax), s"$work/facts$i")
      conf.join(broadcast(ranges.toDF("drop", "lo", "hi")),
          $"block" > $"lo" && $"block" <= $"hi")
        .drop("lo", "hi").repartition($"drop")
        .write.partitionBy("drop").parquet(s"$work/stage$i")
      (secondsSince(t0), inputs)
    }
    val dir = s"$work/in$SetupReps"
    val facts = s"$work/facts$SetupReps"
    val stage = s"$work/stage$SetupReps"
    val feedDir = s"$work/feed"
    val ckpt = s"$work/ckpt"
    new java.io.File(feedDir).mkdirs()
    result("setup_reps_s") = setups.map(_._1)
    result("inputs") = setups.last._2 ++ Map(
      "bulk_ranges" -> BlockRangeSink.stats(facts).count(_.nFiles > 0).toLong,
      "feed_files" -> ranges.size.toLong)
    result("tables_dir") = dir

    val conf = confOf(dir)
    val tail = conf.where($"block" > bulkMax).persist()
    // the tail's block numbers, ascending: rows and last block of a range
    val blocks = tail.select($"block").as[Long].collect().sorted
    def index(b: Long): Int = {
      val i = java.util.Arrays.binarySearch(blocks, b)
      if (i >= 0) i + 1 else -i - 1
    }
    def rowsIn(lo: Long, hi: Long): Long = (index(hi) - index(lo)).toLong
    def lastIn(hi: Long): Long = blocks(index(hi) - 1)
    /** Commits staged feed file k: an atomic rename into the feed dir. */
    def commit(k: Int): Unit =
      new java.io.File(s"$stage/drop=$k").listFiles()
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, j) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(feedDir, s"drop-$k-$j.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
    // (fork, old tip] intervals replaced by a winning branch; each
    // replacement adds 97 to a block's amount
    val reorgs = mutable.ArrayBuffer.empty[(Long, Long)]
    def version(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      reorgs.map { case (f, t) => when(c > f && c <= t, 1L).otherwise(0L) }
        .foldLeft(lit(0L))(_ + _)
    val admitted = new java.util.concurrent.atomic.AtomicLong
    val stream = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    /** One restart of the feed query: admits every committed file. */
    def runStream(): Unit = {
      val q = tracer("stream") {
        val q = spark.readStream.schema(conf.schema).parquet(feedDir)
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            admitted.addAndGet(tracer("ingest")(fsCounted("ingest")(
              IncrementalIngest.ingestFrame(spark, b, facts)))); ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q
      }
      q.recentProgress.foreach { p =>
        Seq("queryPlanning" -> "planning_ms", "latestOffset" -> "latest_offset_ms",
          "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
          .foreach { case (k, n) =>
            Option(p.durationMs.get(k)).foreach(v => stream(n) += v.doubleValue)
          }
      }
    }
    /** Runs the feed query and checks it admitted exactly `want` rows. */
    def ingest(want: Long): Unit = {
      admitted.set(0L)
      runStream()
      require(admitted.get == want, s"admitted ${admitted.get} rows, expected $want")
    }

    var tip = BlockRangeSink.watermark(spark, facts)
    var k = 0
    val ops = mutable.ArrayBuffer.empty[Op]
    def cycleOp(kind: String): Option[Op] =
      if (k >= ranges.size) None
      else {
        val (_, lo, hi) = ranges(k)
        commit(k)
        k += 1
        Some(op(kind) { ingest(rowsIn(lo, hi)); tip = lastIn(hi) })
      }
    def reorgOp(kind: String): Op = {
      val fork = tip - 1 - rng.nextInt(math.min(tip - bulkMax - 1, 1500L).toInt)
      val oldTip = tip
      op(kind) {
        val wm = tracer("rollback")(fsCounted("rollback")(
          IncrementalIngest.reorg(spark, facts, fork)))
        require(wm <= fork, s"rollback left watermark $wm above fork $fork")
        reorgs += ((fork, oldTip))
        // the winning branch: same heights, new payloads
        tail.where($"block" > fork && $"block" <= oldTip)
          .withColumn("amt", $"amt" + lit(97L) * version($"block"))
          .withColumn("pay", $"amt" % 1000L + 1L)
          .coalesce(1).write.mode("append").parquet(feedDir)
        ingest(rowsIn(fork, oldTip))
      }
    }

    // warm-up: cycles plus one reorg, off the clock
    (1 to WarmCycles).foreach(_ => cycleOp("warmup"))
    reorgOp("warmup")
    stream.clear()
    tracer.spans.clear()
    // timed: closed loop, one writer; about every tenth operation is a
    // tip reorg whose winning branch arrives as the next feed file
    val t0 = System.nanoTime()
    var reorgAt = rng.nextInt(10)
    var i = 0
    var exhausted = false
    while (!exhausted && (i < MinCycles || secondsSince(t0) < seconds)) {
      // a traced run traces every other operation, so the untraced
      // ones beside them give the tracing overhead
      tracer.on = tracer.enabled && i % 2 == 0
      if (i % 10 == reorgAt) ops += reorgOp("reorg")
      cycleOp("cycle") match {
        case Some(o) => ops += o
        case None => exhausted = true
      }
      i += 1
      if (i % 10 == 0) reorgAt = rng.nextInt(10)
    }
    tracer.on = false
    if (exhausted) System.err.println("[perfbench] WARN: feed exhausted before the run ended")
    // catch up: every remaining feed file in one restart, so the final
    // facts hold the whole winning chain
    if (k < ranges.size) {
      val want = rowsIn(ranges(k)._2, Orders)
      (k until ranges.size).foreach(commit)
      k = ranges.size
      ingest(want)
    }
    val wm = BlockRangeSink.watermark(spark, facts)
    require(wm == blocks.last, s"final watermark $wm, chain tip ${blocks.last}")
    tail.unpersist(blocking = true)
    result("cycle_stream") = stream.toMap
    result("reorgs") = reorgs.map { case (f, t) => Map("fork" -> f, "old_tip" -> t) }

    def serve(): DataFrame = {
      val back = tracer("tables")(BlockRangeSink.read(spark, facts))
        .select($"block".as("ok"), $"ck", $"nk", $"amt", $"pay", $"omni")
        .as[(Long, Long, Long, Long, Long, Boolean)]
      PerfbenchAccess.chainServe(spark, dir, back)
    }
    tracer.on = tracer.enabled
    val served = op("serve")(tracer("serve")(serve().write.parquet(s"$work/out1")))
    result("verify_output") = s"$work/out1"
    val expected = verified(s"$work/out1")
    result("expected_digest") = expected
    result("oracle_sql") = chainOracle(reorgs.toSeq)
    ops += (if (served.error.nonEmpty) served else served.copy(digest = expected))
    result("ops") = ops.map(opJson)
    if (tracer.enabled)
      result("traced") = Map("layers" -> new Traced(spark, tracer, listener)
        .cycleLayers(stream.toMap))
  }

  /** The chain oracle over the winning chain: each confirmed order's
    * amount carries +97 per reorg that replaced its block.
    */
  private def chainOracle(rs: Seq[(Long, Long)]): String = {
    val sql = PerfbenchAccess.chainOracleSql
    val amt = "CAST(round(o_totalprice * 100) AS BIGINT) AS amt FROM orders"
    require(sql.split(java.util.regex.Pattern.quote(amt), -1).length == 2,
      "chain oracle: amount projection not found once")
    val v = (Seq("0") ++ rs.map { case (f, t) =>
      s"CASE WHEN o_orderkey > $f AND o_orderkey <= $t THEN 1 ELSE 0 END" })
      .mkString(" + ")
    sql.replace(amt, "CAST(round(o_totalprice * 100) AS BIGINT) + " +
      s"CASE WHEN o_orderkey % 7 <> 3 THEN 97 * ($v) ELSE 0 END AS amt FROM orders")
  }

  /** Runs `body` and adds the file-system calls it made, and the bytes
    * Hadoop's statistics saw it write, to the innermost span `span`.
    */
  def fsCounted[T](span: String)(body: => T): T = {
    if (!tracer.on) body
    else {
      def snap(): Map[String, Long] = CountingLocalFileSystem.snapshot() +
        ("bytes_written" -> Option(org.apache.hadoop.fs.FileSystem
          .getGlobalStorageStatistics.get("file"))
          .flatMap(st => Option(st.getLong("bytesWritten")).map(_.longValue))
          .getOrElse(0L))
      val a = snap()
      try body
      finally snap().foreach { case (k, v) => tracer.count(span, k, (v - a(k)).toDouble) }
    }
  }
}
