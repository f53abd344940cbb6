package perfbench

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One row of the `usage_records` audit log. */
final case class UsageRow(shop: String, billing_date: Date, page_views: Long,
    billing_amount: Double, rate_per_million: Double,
    shopify_charge_id: String, shopify_billing_status: String,
    shopify_error_message: String, shopify_processed_at: Timestamp,
    created_at: Timestamp)

/** The table layer on its own: the `usage_records` audit log (stats on
  * billing_date, Bloom filter on shop, deletion vectors) and a keyed
  * current-state table, both `LogStore`s. Each unit is one simulated
  * day: append PENDING, append FINAL (plus successful retries of the
  * previous day's failures), merge into the state table, a pruned read
  * of the day, a latest-record-wins read of the last two days, and a
  * point lookup of one shop. Every 2nd day a GDPR-style deletion-vector
  * delete of ~2 % of the shops, a compaction and a checkpoint follow.
  * The pass ends with a change-feed read and a vacuum. The expected
  * result of every read is simulated here in plain Scala. */
final class UsageLifecycle(spark: SparkSession, seed: Long) extends Workload {
  import UsageLifecycle._

  def nominalUnitS: Double = 2.6
  def maxUnits: Int = 24

  private var days: IndexedSeq[Day] = IndexedSeq.empty

  def generate(dir: String): Unit = { days = simulate() }
  def open(dir: String): Unit = ()

  private def shop(i: Int): String = f"shop-$i%05d"
  private def date(d: Int): LocalDate = First.plusDays(d.toLong)
  private def ts(d: Int, hour: Int, i: Int): Timestamp =
    Timestamp.from(date(d).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.plusSeconds(hour * 3600L + i))

  /** The whole schedule for `maxUnits` days with every expected read. */
  private def simulate(): IndexedSeq[Day] = {
    val audit = mutable.ArrayBuffer.empty[(String, String, String)]
    val latest = mutable.Map.empty[(String, String), String]
    val deleted = mutable.Set.empty[String]
    var failedYesterday = Seq.empty[Int]
    (0 until maxUnits).map { d =>
      val ds = date(d).toString
      val active = (0 until Shops).filter(i =>
        !deleted(shop(i)) && Gen.u(Gen.h(seed, i, d, 21)) < 0.9)
      def row(i: Int, dd: Int, status: String, hour: Int): UsageRow = {
        val v = 1 + java.lang.Math.floorMod(Gen.h(seed, i, dd, 22), 5000L)
        UsageRow(shop(i), Date.valueOf(date(dd)), v,
          Gen.round2(v / 1e6 * Rate), Rate,
          if (status == "success") s"gid://usage/${shop(i)}/$dd" else null,
          status, if (status == "failed") "HTTP error: 503" else null,
          if (status == "pending") null else ts(dd, hour, i),
          ts(d, hour, i))
      }
      def finalStatus(i: Int): String = {
        val x = Gen.u(Gen.h(seed, i, d, 23))
        if (x < 0.05) "failed" else if (x < 0.15) "skipped" else "success"
      }
      val pending = active.map(i => row(i, d, "pending", 1))
      val retries = failedYesterday.filterNot(i => deleted(shop(i)))
        .map(i => row(i, d - 1, "success", 3))
      val finals = active.map(i => row(i, d, finalStatus(i), 2)) ++ retries
      for (r <- pending ++ finals) {
        audit += ((r.shop, r.billing_date.toString, r.shopify_billing_status))
        latest((r.shop, r.billing_date.toString)) = r.shopify_billing_status
      }
      failedYesterday = active.filter(i => finalStatus(i) == "failed")
      val lo = date(math.max(0, d - 1)).toString
      val latestHist = latest.toSeq
        .collect { case ((_, dt), st) if dt >= lo && dt <= ds => (dt, st) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val probe = shop(active(
        java.lang.Math.floorMod(Gen.h(seed, d, 24), active.size.toLong).toInt))
      val probeRows = audit.count(_._1 == probe).toLong
      val rangeRows = audit.count(_._2 == ds).toLong
      val gdpr =
        if (d % MaintEvery == MaintEvery - 1)
          (0 until Shops).map(shop).filter(s =>
            !deleted(s) && Gen.u(Gen.strHash(seed + d, s)) < 0.02)
        else Nil
      val gdprRows = audit.count(r => gdpr.contains(r._1)).toLong
      if (gdpr.nonEmpty) {
        deleted ++= gdpr
        audit.filterInPlace(r => !deleted(r._1))
        latest.filterInPlace { case ((s, _), _) => !deleted(s) }
      }
      Day(d, pending, finals, rangeRows, latestHist, probe, probeRows, gdpr,
        gdprRows, audit.map(r => (r._1, r._2, r._3)).toSeq,
        latest.toSeq.map { case ((s, dt), st) => (s, dt, st) })
    }
  }

  def pass(root: String, t: Tracer): Pass = new Pass {
    private val log = new Engine.UsageLog(spark, root, t,
      org.apache.spark.sql.Encoders.product[UsageRow].schema)
    private var last = -1
    private var changesFrom = 0L
    private var appendedSince = 0L
    private var deletedSince = 0L

    def unit(i: Int): () => Seq[String] = {
      import spark.implicits._
      val day = days(i)
      val ds = date(i).toString
      log.append(day.pending.toDF())
      log.append(day.finals.toDF())
      log.merge(day.finals.toDF())
      val range = log.rangeRead(ds)
      val latest = log.latestRead(date(math.max(0, i - 1)).toString, ds)
      val probe = log.pointLookup(day.probe)
      appendedSince += day.pending.size + day.finals.size
      val deletedRows =
        if (day.gdpr.isEmpty) -1L
        else {
          val n = log.dvDelete(day.gdpr)
          // the feed from the delete's commit on holds its deleted rows
          // and the later appends; compaction changes no data
          changesFrom = log.auditVersion()
          deletedSince = day.gdprRows
          appendedSince = 0
          log.compact()
          log.checkpoint()
          n
        }
      last = i
      () => Seq(
        Option.when(range != day.rangeRows)(
          s"day $i range read $range rows, expected ${day.rangeRows}"),
        Option.when(latest != day.latestHist)(
          s"day $i latest state $latest, expected ${day.latestHist}"),
        Option.when(probe != day.probeRows)(
          s"day $i lookup of ${day.probe}: $probe rows, expected " +
            day.probeRows),
        Option.when(day.gdpr.nonEmpty && deletedRows != day.gdprRows)(
          s"day $i deleted $deletedRows rows, expected ${day.gdprRows}")
      ).flatten
    }

    override def finish(): () => Seq[String] = {
      val changes = log.readChanges(changesFrom)
      log.vacuum()
      val want = Map("insert" -> appendedSince, "delete" -> deletedSince)
        .filter(_._2 > 0)
      () => Option.when(changes != want)(
        s"change feed from v$changesFrom: $changes, expected $want").toSeq
    }

    def verify(): Seq[String] = {
      val day = days(last)
      def norm(rows: Seq[(String, String, String, Long)]) =
        rows.map(r => (r._1, r._2, r._3)).sorted
      val audit = norm(log.auditRows())
      val state = norm(log.stateRows())
      Seq(
        Option.when(audit != day.audit.sorted)(
          s"audit log after vacuum has ${audit.size} rows, expected " +
            s"${day.audit.size} (or contents differ)"),
        // the state table keeps deleted shops: merges never remove rows
        Option.when(state.filterNot(r => deletedBy(last)(r._1)) !=
            day.latest.sorted)(
          s"state table differs from the latest-record-wins audit view")
      ).flatten
    }

    private def deletedBy(d: Int): Set[String] =
      days.take(d + 1).flatMap(_.gdpr).toSet

    def storedBytes: Long = log.roots.map(Disk.bytes).sum
  }
}

object UsageLifecycle {
  val Shops = 1500
  val Rate = 1000.0
  val MaintEvery = 2
  val First: LocalDate = LocalDate.of(2026, 1, 1)

  final case class Day(d: Int, pending: Seq[UsageRow], finals: Seq[UsageRow],
      rangeRows: Long, latestHist: Map[(String, String), Long],
      probe: String, probeRows: Long, gdpr: Seq[String], gdprRows: Long,
      audit: Seq[(String, String, String)],
      latest: Seq[(String, String, String)])
}
