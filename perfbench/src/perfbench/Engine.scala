package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{AppendStore, LogStore}
import graft.driver.BillingJob
import graft.model.BillingConfig
import graft.operators.{AnnIndex, BillingOps, Dedup, TextOps}
import graft.sinks.{BatchReport, ChargeClient, ChargeError, ChargeSink,
  ReportSink}

/** The benchmark's only contact with the engine: every call into
  * `graft.*` is made in this file, and each is wrapped in the span the
  * traced run records. When the engine's API changes (for example when
  * the billing job moves from `AppendStore` onto `LogStore`), this file
  * is edited; such an edit is a change of the benchmark, measured again
  * before later changes are compared against it. */
object Engine {
  def register(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.register(spark)

  // ---- billing ------------------------------------------------------

  /** The benchmark's view of a `BatchReport`. */
  final case class Report(success: Boolean, sessionCount: Long,
      recordCount: Long, totalPageViews: Long, totalBillingAmount: Double,
      successful: Long, failed: Long, skipped: Long,
      top: Seq[(String, Long, Double, String)], remainderShops: Long,
      error: Option[String])

  private def report(r: BatchReport): Report = Report(r.success,
    r.sessionCount, r.recordCount, r.totalPageViews, r.totalBillingAmount,
    r.successful, r.failed, r.skipped,
    r.topShops.map(s => (s.shop, s.pageViews, s.billingAmount, s.status)),
    r.remainderShops, r.error)

  /** `AppendStore` with a span around each call. The charge-results
    * store's append is the effectful plan's only action, so its span is
    * the charge sink's. */
  private final class TracedStore(spark: SparkSession, path: String,
      partitionCol: Option[String], appendSpan: String, t: Tracer)
      extends AppendStore(spark, path, partitionCol) {
    override def append(df: DataFrame): Unit = t.span(appendSpan) {
      if (!t.enabled) super.append(df)
      else {
        val before = Disk.files(path)
        super.append(df)
        t.attr("files_written", Disk.files(path) - before)
      }
    }
    override def readOrEmpty(
        schema: org.apache.spark.sql.types.StructType): DataFrame =
      t.span("AppendStore.read")(super.readOrEmpty(schema))
  }

  private final class PlanClient(plan: FaultPlan)
      extends ChargeClient with Serializable {
    private def http[T](f: => T): T =
      try f catch { case e: HttpStatus => throw ChargeError.fromHttpStatus(e.status) }
    override def lookupSubscriptionLineItem(shop: String, token: String) =
      http(ChargeLedger.lookup(plan, shop))
    override def createUsageCharge(shop: String, token: String,
        lineItemId: String, amount: Double, description: String,
        idempotencyKey: String): String =
      http(ChargeLedger.create(plan, shop, idempotencyKey))
    override def testConnection(shop: String, token: String) = true
  }

  // built outside any enclosing instance: the closures ship to tasks
  private def chargeSink(plan: FaultPlan, baseDelayMs: Long): ChargeSink =
    new ChargeSink(() => new PlanClient(plan), baseDelayMs = baseDelayMs,
      sleep = (ms: Long) => ChargeLedger.sleep(ms))

  /** One usage store and its charge-results store under `root`, driven by
    * `BillingJob` with the benchmark's charge client. */
  final class Billing(spark: SparkSession, root: String, t: Tracer,
      plan: FaultPlan, ratePerMillion: Double, baseDelayMs: Long) {
    val usagePath = s"$root/usage_records"
    val resultsPath = s"$root/charge_results"
    private val usage =
      new TracedStore(spark, usagePath, None, "AppendStore.append", t)
    private val results = new TracedStore(spark, resultsPath,
      Some("run_id"), "ChargeSink.charge", t)
    private val sink = chargeSink(plan, baseDelayMs)
    private val reports = new ReportSink {
      def send(r: BatchReport): Unit = t.span("ReportSink.send")(())
    }
    private val cfg = BillingConfig(ratePerMillion = ratePerMillion)
    private val job = new BillingJob(spark, usage, sink, reports, cfg,
      chargeResultsStore = Some(results))

    def maxRetries: Int = 3

    def daily(sessions: DataFrame, events: DataFrame, date: String): Report =
      t.span("BillingJob.run")(report(
        job.processDailyBilling(sessions, events, date)))

    /** `testBillingForDate` drained into a noop sink. */
    def dryRun(sessions: DataFrame, events: DataFrame, date: String): Unit =
      t.span("BillingOps.dry_run") {
        job.testBillingForDate(sessions, events, date)
          .write.format("noop").mode("overwrite").save()
      }

    /** Latest-record-wins state of the usage store: (shop, date, status,
      * charge id) per row, plus the raw row count. */
    def latestState(): (Seq[(String, String, String, String)], Long) = {
      val all = spark.read.option("mergeSchema", "true").parquet(usagePath)
      val rows = BillingOps.latestUsageState(all)
        .select(col("shop"), col("billing_date").cast("string"),
          col("shopify_billing_status"), col("shopify_charge_id"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3))).toSeq
      (rows, all.count())
    }
  }

  // ---- usage log ----------------------------------------------------

  /** The append-only `usage_records` audit log and the keyed current
    * state table, both `LogStore`s under `root`. */
  final class UsageLog(spark: SparkSession, root: String, t: Tracer,
      schema: org.apache.spark.sql.types.StructType) {
    private val audit = new LogStore(spark, s"$root/usage_records",
      statsCol = Some("billing_date"), bloomCol = Some("shop"),
      dvDeletes = true)
    private val state = new LogStore(spark, s"$root/usage_state",
      statsCol = Some("billing_date"))
    state.create(schema)
    val roots: Seq[String] = Seq(audit.root, state.root)

    def append(df: DataFrame): Long = t.span("LogStore.append")(audit.append(df))

    def merge(df: DataFrame): Int = t.span("LogStore.merge") {
      val r = state.mergeKeyed(df, Seq("shop", "billing_date"))
      t.attr("segments_rewritten", r.rewritten)
      r.rewritten
    }

    private def scanned(s: Int, n: Int): Unit = {
      t.attr("scanned", s); t.attr("live", n)
    }

    /** Rows of the audit log on `date`. */
    def rangeRead(date: String): Long = t.span("LogStore.range_read") {
      val (df, s, n) = audit.readRangeOn("billing_date", date, date)
      scanned(s, n)
      df.count()
    }

    /** Latest-record-wins status counts per (date, status) over
      * [lo, hi]. */
    def latestRead(lo: String, hi: String): Map[(String, String), Long] =
      t.span("LogStore.latest_read") {
        val (df, s, n) = audit.readRangeOn("billing_date", lo, hi)
        scanned(s, n)
        BillingOps.latestUsageState(df)
          .groupBy(col("billing_date").cast("string"),
            col("shopify_billing_status")).count()
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
      }

    /** Audit rows of one shop. */
    def pointLookup(shop: String): Long = t.span("LogStore.point_lookup") {
      val (df, s, n) = audit.pointLookup(shop)
      scanned(s, n)
      df.count()
    }

    /** Deletion-vector delete of every audit row of `shops`; returns the
      * deleted row count. */
    def dvDelete(shops: Seq[String]): Long =
      t.span("LogStore.dv_delete") {
        import spark.implicits._
        val r = audit.deleteKeysDV(shops.toDF("shop"), Seq("shop"))
        t.attr("touched", r.touched)
        r.deletedRows
      }

    def compact(): Unit = t.span("LogStore.compact")(audit.compact())
    def checkpoint(): Unit = t.span("LogStore.checkpoint")(audit.checkpoint())
    def auditVersion(): Long = audit.latestVersion()

    /** Change rows of the audit log from `fromVersion` on, by type. */
    def readChanges(fromVersion: Long): Map[String, Long] =
      t.span("LogStore.read_changes") {
        audit.readChanges(fromVersion).groupBy(col("_change_type")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }

    def vacuum(): Int = t.span("LogStore.vacuum")(
      audit.vacuum(retainLast = 2, orphanMinAgeMs = 0L).deleted.size)

    /** (shop, date, status, created_at micros) of every live row. */
    private def rowsOf(df: DataFrame): Seq[(String, String, String, Long)] =
      df.select(col("shop"), col("billing_date").cast("string"),
          col("shopify_billing_status"), unix_micros(col("created_at")))
        .collect().map(r =>
          (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    def auditRows(): Seq[(String, String, String, Long)] = rowsOf(audit.read())
    def stateRows(): Seq[(String, String, String, Long)] = rowsOf(state.read())
  }

  // ---- LLM data operators -------------------------------------------

  /** doc_id → keep flag of the Gopher quality filters. */
  def gopher(t: Tracer, docs: DataFrame): Map[Long, Boolean] =
    t.span("TextOps.gopher") {
      TextOps.gopherFilters(docs).select(col("doc_id"), col("keep"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }

  /** Exact-duplicate groups: (keep_id, size) for groups larger than 1. */
  def exactGroups(t: Tracer, docs: DataFrame): Set[(Long, Long)] =
    t.span("Dedup.exact") {
      Dedup.exact(docs).where(col("dup_count") > 1)
        .select(col("keep_id"), col("dup_count")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }

  /** MinHash-LSH near-duplicate pairs (id_a < id_b). */
  def nearPairs(t: Tracer, docs: DataFrame): Seq[(Long, Long)] =
    t.span("Dedup.minhash_lsh") {
      val p = Dedup.minhashLshPairs(docs).select(col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      t.attr("pairs", p.size)
      p
    }

  /** Ids kept after clustering the pairs. */
  def keepList(spark: SparkSession, t: Tracer, docs: DataFrame,
      pairs: Seq[(Long, Long)]): Set[Long] = t.span("Dedup.keep_list") {
    import spark.implicits._
    Dedup.keepList(docs, pairs.toDF("id_a", "id_b"))
      .collect().map(_.getLong(0)).toSet
  }

  /** Builds an IVF index over `corpus` (vec_id, embedding) under `dir`,
    * searches it, and returns the top-k ids per query. */
  def ivfTopK(spark: SparkSession, t: Tracer, corpus: DataFrame,
      queries: DataFrame, dir: String, nCells: Int, k: Int,
      nProbe: Int): Map[Long, Seq[Long]] = {
    val idx = t.span("AnnIndex.build")(
      AnnIndex.buildIvf(spark, corpus, 0L, dir, nCells = nCells,
        postingSegments = nCells))
    t.span("AnnIndex.search") {
      val (df, opened, live) = AnnIndex.searchIvf(spark, idx, corpus,
        queries, k = k, nProbe = nProbe)
      t.attr("segments_opened", opened); t.attr("segments_live", live)
      df.collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    }
  }
}

/** Sizes of tables on the local disk, read with java.nio so that they do
  * not show in the Hadoop file-system counters. */
object Disk {
  private def walk(path: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .toList
      } finally s.close()
    }
  }
  def files(path: String): Int =
    walk(path).count(_.getFileName.toString.endsWith(".parquet"))
  def bytes(path: String): Long =
    walk(path).map(java.nio.file.Files.size).sum
}
