package perfbench

import java.time.LocalDate

/** Seeded closed-form input generators. Every generated value is a pure
  * function of (seed, indices), so the expected outputs of each workload
  * are computed here in plain Scala, independently of the engine. */
object Gen {
  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, a: Long): Long = mix(mix(seed) ^ a)
  def h(seed: Long, a: Long, b: Long): Long = mix(h(seed, a) ^ b)
  def h(seed: Long, a: Long, b: Long, c: Long): Long = mix(h(seed, a, b) ^ c)
  /** Uniform in [0, 1). */
  def u(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble
  def strHash(seed: Long, s: String): Long =
    h(seed, scala.util.hashing.MurmurHash3.stringHash(s).toLong)

  /** The reference's money rounding: 2 dp, half-up, on the double's
    * shortest decimal spelling (what Spark's `round` does). */
  def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  val MicrosPerDay: Long = 86400L * 1000000L
}

/** Shape of a generated billing input: `shops` shops with sessions,
  * `ghosts` shops that send events but have no session, `days` days of
  * events from `firstDate`, Zipf-skewed page views averaging
  * `pageViewsPerDay` per day, and `decoyPer7` non-page-view events per
  * 7 page views. */
final case class BillingShape(shops: Int, ghosts: Int, days: Int,
    pageViewsPerDay: Long, zipf: Double, zeroDayShare: Double,
    minViews: Long, decoyPer7: Int, firstDate: LocalDate)

/** The billing input of one seed: sessions and the event log, both as
  * functions of (seed, shop index, day, event index). */
final class BillingData(val seed: Long, val shape: BillingShape)
    extends Serializable {
  import Gen._

  /** Shop indices: [0, shops) have sessions, then `ghosts` shops without
    * one, then two pseudo-shops whose events carry a null and an empty
    * shop name. */
  val nIdx: Int = shape.shops + shape.ghosts + 2
  private val NullShop = shape.shops + shape.ghosts
  private val EmptyShop = NullShop + 1

  // Zipf weight by a seeded rank permutation of the shops
  private val weight: Array[Double] = {
    val n = shape.shops + shape.ghosts
    val rank = new Array[Int](n)
    (0 until n).sortBy(i => h(seed, i, 11)).zipWithIndex.foreach {
      case (i, r) => rank(i) = r }
    Array.tabulate(n)(i => 1.0 / math.pow(rank(i) + 1.0, shape.zipf))
  }
  private val scale: Double =
    shape.pageViewsPerDay / (weight.sum * (1.0 - shape.zeroDayShare))

  def date(d: Int): LocalDate = shape.firstDate.plusDays(d.toLong)

  def views(i: Int, d: Int): Long =
    if (i == NullShop || i == EmptyShop) 3L
    else if (u(h(seed, i, d, 1)) < shape.zeroDayShare) 0L
    else shape.minViews +
      math.floor(scale * weight(i) * (0.5 + u(h(seed, i, d, 2)))).toLong

  def decoys(i: Int, d: Int): Long = views(i, d) * shape.decoyPer7 / 7

  def shopName(i: Int): String = f"shop-$i%06d"

  /** Sessions store about half the shops with the `.myshopify.com`
    * suffix and half bare. */
  def sessionShop(i: Int): String =
    if ((h(seed, i, 3) & 1L) == 0L) shopName(i)
    else shopName(i) + BillingData.Suffix

  /** About 1 % null and 1 % empty tokens: those sessions are inactive. */
  def token(i: Int): String = {
    val x = u(h(seed, i, 4))
    if (x < 0.01) null
    else if (x < 0.02) ""
    else f"tok-${h(seed, i, 5) & 0xffffffffffL}%010x"
  }
  def active(i: Int): Boolean = { val t = token(i); t != null && t.nonEmpty }

  def sessionMicros(i: Int): Long =
    (shape.firstDate.toEpochDay - 30) * MicrosPerDay +
      java.lang.Math.floorMod(h(seed, i, 6), 30 * MicrosPerDay)
}

object BillingData {
  val Suffix = ".myshopify.com"
  val DecoyNames: Array[String] =
    Array("product_viewed", "add_to_cart", "checkout_started")
}

/** Expected outcome of one shop's charge, from the fault plan alone. */
final case class ExpectedShop(shop: String, views: Long, amount: Double,
    status: String)

object Expected {
  /** Expected per-shop billing records of day `d`, over active shops. */
  def billing(data: BillingData, d: Int, rate: Double,
      plan: FaultPlan, maxRetries: Int): Seq[ExpectedShop] =
    (0 until data.shape.shops).filter(data.active).map { i =>
      val shop = data.shopName(i)
      val v = data.views(i, d)
      val amount = Gen.round2(v.toDouble / 1e6 * rate)
      val status =
        if (amount <= 0.0) "skipped"
        else if (plan.invalid(shop)) "failed"
        else if (plan.failuresBeforeSuccess(shop) >= maxRetries) "failed"
        else "success"
      ExpectedShop(shop, v, amount, status)
    }
}
