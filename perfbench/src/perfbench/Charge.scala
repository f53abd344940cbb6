package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

/** Seeded faults of the simulated charge API, keyed by hash(seed, shop):
  * `invalidShare` of shops hold revoked tokens (401 on the line-item
  * lookup, not retryable); `flakyShare` fail their first one or two
  * create calls with 503/429 (retryable); `exhaustShare` fail every
  * attempt with 503. Every call takes `latencyNs`. */
final case class FaultPlan(seed: Long, latencyNs: Long,
    invalidShare: Double = 0.0, flakyShare: Double = 0.0,
    exhaustShare: Double = 0.0) {
  private def draw(shop: String): Double = Gen.u(Gen.strHash(seed, shop))
  def invalid(shop: String): Boolean = draw(shop) < invalidShare
  def failuresBeforeSuccess(shop: String): Int = {
    val x = draw(shop) - invalidShare
    if (x < 0 || x >= flakyShare + exhaustShare) 0
    else if (x >= flakyShare) Int.MaxValue
    else 1 + (Gen.strHash(seed + 1, shop) & 1L).toInt
  }
}

/** An HTTP status returned by the simulated API. */
final class HttpStatus(val status: Int) extends Exception(s"HTTP $status")

/** The simulated charge API and its counters. Spark runs tasks in this
  * JVM (local mode), so the counters are process-global. */
object ChargeLedger {
  val calls = new AtomicLong
  val inflight = new AtomicLong
  val inflightMax = new AtomicLong
  val busyNs = new AtomicLong
  val sleeps = new AtomicLong
  val sleepMs = new AtomicLong
  /** create attempts per idempotency key */
  val attempts = new ConcurrentHashMap[String, AtomicInteger]
  /** successful creates per idempotency key, and the charge id */
  val created = new ConcurrentHashMap[String, AtomicInteger]

  def reset(): Unit = {
    Seq(calls, inflight, inflightMax, busyNs, sleeps, sleepMs)
      .foreach(_.set(0))
    attempts.clear(); created.clear()
  }

  private def call[T](plan: FaultPlan)(body: => T): T = {
    calls.incrementAndGet()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, (a, b) => math.max(a, b))
    val t0 = System.nanoTime()
    try {
      LockSupport.parkNanos(plan.latencyNs)
      body
    } finally {
      busyNs.addAndGet(System.nanoTime() - t0)
      inflight.decrementAndGet()
    }
  }

  def lookup(plan: FaultPlan, shop: String): String = call(plan) {
    if (plan.invalid(shop)) throw new HttpStatus(401)
    s"gid://perfbench/AppSubscriptionLineItem/$shop"
  }

  def create(plan: FaultPlan, shop: String, key: String): String =
    call(plan) {
      val n = attempts.computeIfAbsent(key, _ => new AtomicInteger)
        .incrementAndGet()
      if (n <= plan.failuresBeforeSuccess(shop))
        throw new HttpStatus(if (n % 2 == 1) 503 else 429)
      created.computeIfAbsent(key, _ => new AtomicInteger).incrementAndGet()
      chargeId(key)
    }

  def chargeId(key: String): String = s"gid://perfbench/AppUsageRecord/$key"

  /** Backoff sleeps are counted, then really taken. */
  def sleep(ms: Long): Unit = {
    sleeps.incrementAndGet()
    sleepMs.addAndGet(ms)
    Thread.sleep(ms)
  }

  /** Successful creates beyond the first for one idempotency key. */
  def doubleCharges: Long = {
    var n = 0L
    created.forEach((_, c) => n += math.max(0, c.get - 1))
    n
  }
}
