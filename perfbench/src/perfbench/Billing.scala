package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Billing {
  /** Latency assumed for one call of the reference's charge API; the
    * reference backs off from a 1000 ms base. Scaling the base by the
    * simulated latency keeps the reference's call-to-backoff ratio. */
  val ReferenceCallMs = 250.0
  val ReferenceBaseDelayMs = 1000.0

  private val Jan1 = LocalDate.of(2026, 1, 1)

  /** The daily run: 12k sessions, a 30-day log of ~36k events a day
    * (25k page views, 30 % decoy event names), $10 per 1M views, a
    * charge API without faults. Each unit bills the next day. */
  def daily(spark: SparkSession, seed: Long): Billing = new Billing(spark,
    seed, BillingShape(shops = 12000, ghosts = 1000, days = 30,
      pageViewsPerDay = 25000, zipf = 1.0, zeroDayShare = 0.1,
      minViews = 0, decoyPer7 = 3, firstDate = Jan1),
    ratePerMillion = 10.0, plan = FaultPlan(seed, latencyNs = 1000000L),
    firstUnitDay = 1, nominalUnitS = 3.0)

  /** The charge storm: 900 sessions whose every active shop owes a
    * charge ($0.01 per view), small days, 1 ms per API call, 3 %
    * revoked tokens, 10 % shops failing once or twice, 1 % failing
    * every attempt. */
  def storm(spark: SparkSession, seed: Long): Billing = new Billing(spark,
    seed, BillingShape(shops = 900, ghosts = 0, days = 40,
      pageViewsPerDay = 2700, zipf = 0.5, zeroDayShare = 0.0,
      minViews = 1, decoyPer7 = 3, firstDate = Jan1),
    ratePerMillion = 10000.0,
    plan = FaultPlan(seed, latencyNs = 1000000L, invalidShare = 0.03,
      flakyShare = 0.10, exhaustShare = 0.01),
    firstUnitDay = 0, nominalUnitS = 3.3)

  val Phases: Seq[String] = Seq("guard", "pending_append", "charge",
    "charge_readback", "final_append", "report")
}

/** `BillingJob.processDailyBilling` over generated sessions and a
  * time-ordered event log (one parquet file per day), one target date
  * per unit against one usage store, so history grows as in
  * production. */
final class Billing(spark: SparkSession, seed: Long, shape: BillingShape,
    ratePerMillion: Double, plan: FaultPlan, firstUnitDay: Int,
    val nominalUnitS: Double) extends Workload {
  import Billing._

  private val data = new BillingData(seed, shape)
  private val baseDelayMs = math.max(1L, math.round(
    ReferenceBaseDelayMs * plan.latencyNs / 1e6 / ReferenceCallMs))
  private var sessions: DataFrame = _
  private var events: DataFrame = _
  private val activeCount = (0 until shape.shops).count(data.active).toLong

  def maxUnits: Int = shape.days - firstUnitDay

  def generate(dir: String): Unit = {
    val d = data
    val viewsAndDecoys = udf((i: Int, day: Int) => d.views(i, day) +
      d.decoys(i, day))
    val views = udf((i: Int, day: Int) => d.views(i, day))
    val (i, day, k, v) = (col("i"), col("d"), col("k"), col("v"))
    // Event k of shop i on day d: page views first, then decoy names.
    // Even events carry the suffix, odd ones the bare name. The first
    // two events of a shop-day sit on the day's first and last
    // microsecond; the rest fall anywhere in the day (only the day
    // matters to the expected results).
    val shop = when(i === d.nIdx - 2, lit(null).cast("string"))
      .when(i === d.nIdx - 1, lit(""))
      .otherwise(concat(lit("shop-"), lpad(i.cast("string"), 6, "0"),
        when(k % 2 === 0, lit(BillingData.Suffix)).otherwise(lit(""))))
    val name = when(k < v, lit("page_viewed"))
      .otherwise(element_at(typedLit(BillingData.DecoyNames.toSeq),
        (k % 3).cast("int") + 1))
    val micros = (day.cast("long") + shape.firstDate.toEpochDay) *
      Gen.MicrosPerDay + when(k === 0, 0L)
        .when(k === 1, Gen.MicrosPerDay - 1)
        .otherwise(pmod(xxhash64(lit(seed), i, day, k), lit(Gen.MicrosPerDay)))
    // one partition per day and no shuffle: one time-ordered file a day
    spark.range(0, shape.days, 1, shape.days)
      .select(col("id").cast("int").as("d"))
      .select(day, explode(sequence(lit(0), lit(d.nIdx - 1))).as("i"))
      .withColumn("n", viewsAndDecoys(i, day))
      .where(col("n") > 0)
      .select(day, i, views(i, day).as("v"),
        explode(sequence(lit(0L), col("n") - 1)).as("k"))
      .select(shop.as("shop"), name.as("name"),
        timestamp_micros(micros).as("created_at"))
      .sortWithinPartitions("created_at")
      .write.parquet(s"$dir/events")
    val sShop = udf((i: Int) => d.sessionShop(i))
    val token = udf((i: Int) => d.token(i))
    val sMicros = udf((i: Int) => d.sessionMicros(i))
    spark.range(0, shape.shops, 1, 1).select(col("id").cast("int").as("i"))
      .select(sShop(i).as("shop"), token(i).as("accessToken"),
        timestamp_micros(sMicros(i)).as("createdAt"),
        timestamp_micros(sMicros(i)).as("updatedAt"))
      .write.parquet(s"$dir/sessions")
  }

  def open(dir: String): Unit = {
    sessions = spark.read.parquet(s"$dir/sessions")
    events = spark.read.parquet(s"$dir/events")
  }

  def pass(root: String, t: Tracer): Pass = new Pass {
    private val job = new Engine.Billing(spark, root, t, plan,
      ratePerMillion, baseDelayMs)
    private val days = mutable.ArrayBuffer.empty[Int]

    def unit(i: Int): () => Seq[String] = {
      val d = firstUnitDay + i
      days += d
      val r = job.daily(sessions, events, data.date(d).toString)
      () => checkReport(r, d)
    }

    def verify(): Seq[String] = {
      val (latest, rawRows) = job.latestState()
      val got = latest.map { case (s, dt, st, id) => (s, dt) -> (st, id) }
        .toMap
      val bad = mutable.ArrayBuffer.empty[String]
      if (rawRows != 2 * activeCount * days.size)
        bad += s"usage store has $rawRows rows, expected " +
          s"${2 * activeCount * days.size} (PENDING + FINAL per shop-day)"
      if (got.size != latest.size) bad += "duplicate latest-state keys"
      for (d <- days; e <- Expected.billing(data, d, ratePerMillion, plan,
          job.maxRetries)) {
        val date = data.date(d).toString
        val key = s"${e.shop}:$date"
        val want = (e.status,
          if (e.status == "success") ChargeLedger.chargeId(key) else null)
        if (!got.get((e.shop, date)).contains(want))
          bad += s"latest state of $key is ${got.get((e.shop, date))}, " +
            s"expected $want"
      }
      // every create the API accepted has its FINAL row
      ChargeLedger.created.forEach { (key, _) =>
        val i = key.lastIndexOf(':')
        if (!got.get((key.take(i), key.drop(i + 1)))
            .exists(_._1 == "success"))
          bad += s"charged $key has no FINAL success row"
      }
      if (ChargeLedger.doubleCharges != 0)
        bad += s"${ChargeLedger.doubleCharges} double charges"
      bad.take(20).toSeq
    }

    def storedBytes: Long = Disk.bytes(root)

    /** `testBillingForDate` on each billed date, outside the timed
      * section. */
    override def probes(): Unit =
      days.foreach(d => job.dryRun(sessions, events, data.date(d).toString))

    override def layerMetrics(tr: Traced): Map[String, Double] = {
      val m = mutable.Map.empty[String, Double]
      val byParent = tr.spans.groupBy(_.parent)
      Phases.foreach(p => Seq("s", "jobs", "input_rows")
        .foreach(f => m(s"BillingJob.$p.$f") = 0.0))
      for (run <- tr.named("BillingJob.run")) {
        val kids = byParent.getOrElse(run.id, Nil).sortBy(_.t0Ns)
        val appends = kids.filter(_.name == "AppendStore.append")
        val charge = kids.find(_.name == "ChargeSink.charge")
        if (appends.size == 2 && charge.isDefined) {
          val (a1, c, a2) = (appends(0), charge.get, appends(1))
          val sendNs = kids.find(_.name == "ReportSink.send")
            .fold(run.t1Ns)(_.t0Ns)
          val sendMs = kids.find(_.name == "ReportSink.send")
            .fold(run.t1Ms + 1)(_.t0Ms)
          val ns = Seq(run.t0Ns, a1.t0Ns, c.t0Ns, c.t1Ns, a2.t0Ns, a2.t1Ns,
            sendNs)
          val ms = Seq(run.t0Ms, a1.t0Ms, c.t0Ms, c.t1Ms, a2.t0Ms, a2.t1Ms,
            sendMs)
          Phases.zipWithIndex.foreach { case (p, k) =>
            val cost = tr.meter.jobsIn(ms(k), ms(k + 1))
            m(s"BillingJob.$p.s") += (ns(k + 1) - ns(k)) / 1e9 / tr.units
            m(s"BillingJob.$p.jobs") += cost.jobs.toDouble / tr.units
            m(s"BillingJob.$p.input_rows") +=
              cost.inputRows.toDouble / tr.units
          }
        }
      }
      m ++= tr.op("BillingOps.dry_run", "BillingOps.dry_run",
        Seq("s", "jobs", "input_rows"))
      val onDate = days.map(d =>
        (0 until data.nIdx).map(i => data.views(i, d) + data.decoys(i, d))
          .sum).sum
      m("BillingOps.rows_read_per_row_on_date") =
        m("BillingOps.dry_run.input_rows") * tr.units / math.max(1L, onDate)
      m ++= tr.op("AppendStore.append", "AppendStore.append",
        Seq("s", "calls", "bytes_written", "files_written"))
      m ++= tr.op("AppendStore.read", "AppendStore.read", Seq("s", "list_ops"))
      val chargeS = tr.named("ChargeSink.charge").map(_.seconds).sum
      val L = ChargeLedger
      m("ChargeSink.api_calls") = L.calls.get.toDouble / tr.units
      val charges = days.map(d => Expected.billing(data, d, ratePerMillion,
        plan, job.maxRetries).count(_.status != "skipped")).sum
      m("ChargeSink.calls_per_charge") =
        L.calls.get.toDouble / math.max(1, charges)
      m("ChargeSink.retries") = L.sleeps.get.toDouble / tr.units
      m("ChargeSink.backoff_s") = L.sleepMs.get / 1e3 / tr.units
      m("ChargeSink.call_busy_s") = L.busyNs.get / 1e9 / tr.units
      m("ChargeSink.inflight_mean") =
        if (chargeS > 0) L.busyNs.get / 1e9 / chargeS else 0.0
      m("ChargeSink.inflight_max") = L.inflightMax.get.toDouble
      m("ChargeSink.double_charges") = L.doubleCharges.toDouble
      m.toMap
    }
  }

  private def checkReport(r: Engine.Report, d: Int): Seq[String] = {
    val exp = Expected.billing(data, d, ratePerMillion, plan, 3)
    val failed = exp.count(_.status == "failed").toLong
    val top = exp.filter(_.views > 0)
      .sortBy(e => (-e.amount, e.shop)).take(10)
      .map(e => (e.shop, e.views, e.amount, e.status))
    val want = Engine.Report(success = failed == 0,
      sessionCount = activeCount, recordCount = exp.size.toLong,
      totalPageViews = exp.map(_.views).sum,
      totalBillingAmount = Gen.round2(exp.map(_.amount).sum),
      successful = exp.count(_.status == "success").toLong,
      failed = failed, skipped = exp.count(_.status == "skipped").toLong,
      top = top, remainderShops =
        math.max(0L, exp.count(_.views > 0) - 10L),
      error = None)
    val amountOk =
      math.abs(r.totalBillingAmount - want.totalBillingAmount) < 0.005
    val got = r.copy(totalBillingAmount = want.totalBillingAmount)
    if (got == want && amountOk) Nil
    else Seq(s"day $d report mismatch: got $r, expected $want".take(600))
  }
}
