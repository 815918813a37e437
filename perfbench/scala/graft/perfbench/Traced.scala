package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.model._
import graft.operators._
import graft.queries.PipelineQueries
import graft.serving.WalletViews

/** The traced run. Spark plans are lazy and fused, so a span around a
  * plan-building call would time planning only: this re-composition
  * of `e2e_ingest_full` materializes each
  * layer's output at its boundary (persist + count) inside that
  * layer's span, with the same columnar pre-filters
  * `OmniPipeline.deriveStamped` applies. Its final digest must equal
  * the untraced one, so it cannot drift from the query it traces.
  */
final class Traced(spark: SparkSession, tracer: Tracer, listener: StageListener) {
  import spark.implicits._

  private val sc = spark.sparkContext

  /** Persists `ds` and counts it inside the current span. */
  private def mat[T](span: String, key: String, ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist()
    graft.CacheScope.register(p)
    tracer.count(span, key, p.count().toDouble)
    p
  }

  private def cachedBytes: Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def tables(dir: String): Unit = tracer("tables") {
    Seq("nation", "customer", "orders")
      .foreach(n => Probe.digest(graft.Tables.t(spark, dir, n)))
  }

  private def feed(dir: String): (DataFrame, Long) = tracer("feed") {
    val (raw, tip) = PipelineQueries.fullRaw(spark, dir)
    (mat("feed", "rows_out", raw), tip)
  }

  private def parse(raw: DataFrame): Dataset[RawTx] =
    tracer("parse")(mat("parse", "rows_out", PipelineQueries.parseTxs(spark, raw)))

  private def stamp(txs: Dataset[RawTx]): Dataset[(RawTx, Long)] = tracer("stamp") {
    val before = cachedBytes
    val s = OmniPipeline.withSerials(txs)
    tracer.count("stamp", "cache_mb", (cachedBytes - before) / 1048576.0)
    s
  }

  /** `OmniPipeline.deriveStamped`, one span per layer. */
  private def derive(stamped: Dataset[(RawTx, Long)], tip: Long): OmniPipeline.Derived = {
    val (baseLedger, freezes) = tracer("decode") {
      tracer.count("decode", "rows_in", stamped.count().toDouble)
      (mat("decode", "rows_out", stamped.flatMap { case (tx, s) => LedgerDecoder.decode(tx, s) }),
        mat("decode", "rows_out", stamped
          .where(col("_1.type_int").isin(LedgerDecoder.FreezeTypes.toSeq: _*))
          .flatMap { case (tx, s) => LedgerDecoder.freezeEvents(tx, s) }))
    }
    val dex = tracer("fold.dex")(mat("fold.dex", "rows_out", DexLifecycle.derive(
      stamped.where(col("_1.type_int").isin(DexLifecycle.EventTypes.toSeq: _*)), tip)))
    val (trades, metaLedger) = tracer("fold.metadex") {
      val (t, l) = MetaDexOps.derive(stamped.where(col("_1.type_int")
        .isin(MetaDexOps.TradeTypes.toSeq: _*) && col("_1.valid")))
      (mat("fold.metadex", "rows_out", t), mat("fold.metadex", "rows_out", l))
    }
    val ledger = baseLedger.union(dex.flatMap(_.ledger)).union(metaLedger)
    val balances = tracer("fold.balances")(mat("fold.balances", "rows_out",
      Balances.deriveWithFreezes(ledger, freezes)))
    val properties = tracer("fold.registry")(mat("fold.registry", "rows_out",
      PropertyRegistry.derive(stamped.where(col("_1.valid") && col("_1.type_int")
        .isin(graft.operators.PerfbenchAccess.registryTypes.toSeq: _*)))))
    OmniPipeline.Derived(stamped, ledger, balances, dex.flatMap(_.offers),
      dex.flatMap(_.accepts), trades, properties)
  }

  /** `PipelineQueries.serveStamped` over an already-derived state. */
  private def serve(dir: String, d: OmniPipeline.Derived): DataFrame = {
    val nn = graft.Tables.t(spark, dir, "nation")
      .select($"n_nationkey".cast(LongType).as("nk"))
    val wallets = graft.Tables.t(spark, dir, "customer")
      .select(concat(lit("C"), $"c_custkey").as("address"),
        concat(lit("W"), $"c_nationkey").as("walletId"))
      .unionByName(nn.select(concat(lit("I"), $"nk").as("address"), lit("WI").as("walletId")))
      .unionByName(nn.select(concat(lit("S"), $"nk").as("address"), lit("WS").as("walletId")))
      .unionByName(nn.select(concat(lit("F"), $"nk").as("address"), lit("WF").as("walletId")))
      .unionByName(Seq(("MKT", "WX"), ("POOL", "WX"), ("R0", "WR"), ("R1", "WR"))
        .toDF("address", "walletId"))
    val rates = spark.createDataset(Seq(
      RatesEtl.Rate("Omni", 31L, "Fiat", 1L, 2.5, 1000L, "fix"),
      RatesEtl.Rate("Omni", 32L, "Fiat", 1L, 1.5, 1000L, "fix")))
    val served = WalletViews.walletBalances(d.balances, wallets, rates)
    val detail = d.balances.select($"address", $"propertyId", $"accepted", $"frozen",
      $"frozenFlag".as("frozen_flag"), $"lastTxDbSerialNum".as("last_serial"))
    val txAddr = d.txs.select($"_1.txid".as("txHash"), $"_1.sendingaddress".as("taddr"))
    val nTrades = d.trades.toDF().select($"txHash").join(txAddr, Seq("txHash"))
      .groupBy($"taddr".as("address")).agg(count(lit(1)).as("n_trades"))
    WalletViews.withPropertyNames(served.join(detail, Seq("address", "propertyId")),
        d.properties, Seq("propertyName", "issuer"))
      .join(nTrades, Seq("address"), "left")
      .select($"walletId", $"address", $"propertyId", $"available", $"reserved",
        $"accepted", $"frozen", $"frozen_flag", $"last_serial", $"availableValue",
        coalesce($"propertyName", lit("")).as("property_name"),
        coalesce($"issuer", lit("")).as("issuer"),
        coalesce($"n_trades", lit(0L)).as("n_trades"))
      .where($"n_trades" >= 0)
      .orderBy("walletId", "address", "propertyId")
  }

  private def digestServed(df: DataFrame): String = tracer("serve") {
    val d = Probe.digest(df)
    tracer.count("serve", "rows_out", d.takeWhile(_ != ':').toDouble)
    d
  }

  def ingestFull(dir: String): String = {
    tables(dir)
    val (raw, tip) = feed(dir)
    val d = derive(stamp(parse(raw)), tip)
    digestServed(serve(dir, d))
  }

  /** Per-layer figures of a batch trace, keyed `layer -> metric`. */
  def layers(): Map[String, Map[String, Double]] = {
    PerfbenchBus.drain(sc)
    val self = tracer.selfSeconds
    val names = tracer.spans.map(_.name).distinct
    names.map { n =>
      val c = listener.of(n)
      n -> (Map(
        "self_s" -> self.getOrElse(n, 0.0),
        "shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
        "spill_mb" -> c.diskSpill / 1048576.0,
        "input_mb" -> c.inputBytes / 1048576.0,
        "gc_s" -> c.gcMs / 1000.0,
        "tasks" -> c.tasks.toDouble,
        "task_skew" -> c.skew) ++
        Seq("rows_in", "rows_out", "cache_mb").map(k => k -> tracer.counts(n, k)))
    }.toMap
  }

  /** Per-layer figures of a cycle trace; the ingest, rollback and stream
    * figures are per operation.
    */
  def cycleLayers(stream: Map[String, Double]): Map[String, Map[String, Double]] = {
    val base = layers()
    def perOp(layer: String, extra: Map[String, Double]): (String, Map[String, Double]) = {
      val n = tracer.spans.count(_.name == layer).max(1)
      val fs = Seq("fs_list_ops", "fs_read_ops", "fs_write_ops", "files_written")
        .map(k => k -> tracer.counts(layer, k)).toMap +
        ("bytes_written_mb" -> tracer.counts(layer, "bytes_written") / 1048576.0)
      layer -> (base.getOrElse(layer, Map.empty) ++ fs ++ extra).map {
        case (k, v) => k -> (if (k == "task_skew") v else v / n)
      }
    }
    base ++ Seq(perOp("ingest", Map.empty), perOp("rollback", Map.empty),
      perOp("stream", stream))
  }
}
