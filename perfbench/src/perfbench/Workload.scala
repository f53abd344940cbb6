package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload. Inputs are generated from the seed into a
  * directory; each pass then runs timed units against fresh tables. */
trait Workload {
  /** Expected seconds of one warm unit at the parent commit on 4 cores;
    * `--seconds` divided by it gives the units of a timed pass. */
  def nominalUnitS: Double
  /** Largest number of units one pass can run. */
  def maxUnits: Int
  /** Writes the seed's inputs under `dir` (called several times). */
  def generate(dir: String): Unit
  /** Opens the inputs written by the last [[generate]]. */
  def open(dir: String): Unit
  /** Starts a pass whose tables live under `root`. */
  def pass(root: String, t: Tracer): Pass
}

/** A pass: `unit(i)` runs unit i against the engine and returns the
  * check of its outputs, which the caller runs outside the timed
  * section (checks use no Spark). */
trait Pass {
  def unit(i: Int): () => Seq[String]
  /** Timed work after the last unit (may be empty). */
  def finish(): () => Seq[String] = () => Nil
  /** Untimed end-of-pass checks; may use Spark. */
  def verify(): Seq[String]
  def storedBytes: Long
  /** Untimed extra probes of the traced run (run after the pass). */
  def probes(): Unit = ()
  /** Workload-specific per-layer metrics of a traced pass of `units`. */
  def layerMetrics(tr: Traced): Map[String, Double] = Map.empty
}

/** A finished traced pass: its spans, the meter holding per-job costs,
  * and its unit count. */
final case class Traced(spans: Seq[Span], meter: CostMeter, units: Int) {
  def named(n: String): Seq[Span] = spans.filter(_.name == n)
  def costOf(s: Span): Cost = meter.jobsIn(s.t0Ms, s.t1Ms + 1)
  def perUnit(x: Double): Double = x / units
  /** s, jobs and the given counters of every span named `name`, per unit. */
  def op(prefix: String, name: String,
      fields: Seq[String] = Seq("s", "jobs")): Map[String, Double] = {
    val ss = named(name)
    val cost = ss.map(costOf).foldLeft(Cost())(_ + _)
    val fs = ss.map(_.fs).foldLeft(FsStat())(_ + _)
    fields.map { f =>
      val v: Double = f match {
        case "s" => ss.map(_.seconds).sum
        case "jobs" => cost.jobs.toDouble
        case "input_rows" => cost.inputRows.toDouble
        case "calls" => ss.size.toDouble
        case "fs_read_ops" => fs.readOps.toDouble
        case "list_ops" => fs.listOps.toDouble
        case "bytes_written" => fs.bytesWritten.toDouble
        case a => ss.map(_.attrs.getOrElse(a, 0.0)).sum
      }
      s"$prefix.$f" -> perUnit(v)
    }.toMap
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long): Workload =
    name match {
    case "billing_daily" => Billing.daily(spark, seed)
    case "billing_charge_storm" => Billing.storm(spark, seed)
    case "usage_log_lifecycle" => new UsageLifecycle(spark, seed)
    case "llm_pipeline" => new LlmPipeline(spark, seed)
    case other => throw new IllegalArgumentException(s"no workload $other")
  }
}
