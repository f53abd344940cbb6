package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its one-line JSON result.
  *
  * Sequence: session start and function registration; input generation
  * three times (median taken); one warm-up unit in a fresh JVM (the cold
  * unit); then a timed pass of `seconds / nominalUnitS` units against
  * fresh tables. With `--trace 1` the timed pass runs twice, untraced and
  * then traced, and the traced one yields the per-layer metrics and the
  * tracing overhead. */
object Main {
  private val GenRepeats = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val result = a("result")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Engine.register(spark)
    val meter = new CostMeter(spark.sparkContext, perJob = trace)
    val w = Workload(workload, spark, seed)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val genS = (1 to GenRepeats).map { g =>
      val t = System.nanoTime()
      w.generate(s"$work/input$g")
      (System.nanoTime() - t) / 1e9
    }
    w.open(s"$work/input$GenRepeats")

    val failures = mutable.ArrayBuffer.empty[String]
    val off = new Tracer(false, "")
    // the cold unit: first unit of the workload in this JVM
    ChargeLedger.reset()
    val warm = w.pass(s"$work/warmup", off)
    val (coldS, coldErrs) = attempt(warm.unit(0))
    failures ++= coldErrs.map("warm-up: " + _)
    val setupS = sessionS + median(genS) + coldS
    System.err.println(f"perfbench: session $sessionS%.2f s, generate " +
      genS.map(g => f"$g%.2f").mkString("/") + f" s, cold unit $coldS%.2f s")

    val n = math.max(2, math.min(w.maxUnits,
      math.round(seconds / w.nominalUnitS).toInt))
    val plain = runPass(w, s"$work/pass", off, n, meter)
    System.err.println(s"perfbench: $n units " +
      plain.unitS.map(u => f"$u%.2f").mkString("/") + " s")
    failures ++= plain.failures
    val storedBytes = plain.storedBytes

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      val heapMb = retainedHeapMb()
      val c = plain.cost
      metrics ++= Seq(
        "setup_s" -> (setupS, "s"),
        "wall_s" -> (plain.wallS, "s"),
        "unit_p50_s" -> (median(plain.unitS), "s"),
        "cold_unit_s" -> (coldS, "s"),
        "spark_jobs" -> (c.jobs.toDouble / n, "count/unit"),
        "spark_tasks" -> (c.tasks.toDouble / n, "count/unit"),
        "shuffle_bytes" -> (c.shuffleWrite.toDouble / n, "B/unit"),
        "input_bytes" -> (c.inputBytes.toDouble / n, "B/unit"),
        "stored_bytes" -> (storedBytes.toDouble, "B"),
        "heap_retained_mb" -> (heapMb, "MB"))
    } else {
      val tracer = new Tracer(true, s"$workload-$seed")
      val traced = runPass(w, s"$work/traced", tracer, n, meter)
      failures ++= traced.failures.map("traced: " + _)
      tracer.unit = -1
      traced.pass.probes()
      val tr = Traced(tracer.spans, meter, n)
      metrics ++= Layers.metrics(tr, traced, plain.wallS, cpus,
        traced.pass.layerMetrics(tr)).map { case (k, v) => k -> (v, "") }
      tracer.dump(Paths.get(a("traces"), s"$workload-seed$seed.jsonl"))
    }
    failures.take(20).foreach(f => System.err.println(s"perfbench: FAIL $f"))
    val failedUnits = plain.failedUnits
    val json = new StringBuilder
    json ++= s"""{"correct": ${failures.isEmpty}, "attempted": $n, """
    json ++= s""""failed": $failedUnits, "metrics": {"""
    json ++= metrics.map { case (k, (v, unit)) =>
      val u = if (unit.nonEmpty) unit else Layers.unitOf(k)
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    json ++= "}}"
    Files.write(Paths.get(result), json.toString.getBytes("UTF-8"))
    spark.stop()
  }

  final case class PassResult(pass: Pass, unitS: Seq[Double], wallS: Double,
      cost: Cost, fs: FsStat, failedUnits: Int, failures: Seq[String],
      storedBytes: Long)

  private def runPass(w: Workload, root: String, t: Tracer, n: Int,
      meter: CostMeter): PassResult = {
    ChargeLedger.reset()
    val p = w.pass(root, t)
    val failures = mutable.ArrayBuffer.empty[String]
    var failedUnits = 0
    val cost0 = meter.snapshot()
    val fs0 = FsStat.now()
    val unitS = (0 until n).map { i =>
      t.unit = i
      val (s, ok) = attempt(p.unit(i))
      if (ok.nonEmpty) { failedUnits += 1; failures ++= ok.map(s"unit $i: " + _) }
      s
    }
    t.unit = n
    val (finS, finErr) = attempt(p.finish())
    if (finErr.nonEmpty) { failedUnits += 1; failures ++= finErr }
    val cost = meter.snapshot() - cost0
    val fs = FsStat.now() - fs0
    val stored = p.storedBytes
    failures ++= (try p.verify() catch { case e: Throwable => Seq(err(e)) })
    PassResult(p, unitS, unitS.sum + finS, cost, fs, failedUnits,
      failures.toSeq, stored)
  }

  /** Times `run` (the engine work) and then runs its check outside the
    * timing; an exception counts as a failed check. */
  private def attempt(run: => () => Seq[String]): (Double, Seq[String]) = {
    val t0 = System.nanoTime()
    try {
      val check = run
      val s = (System.nanoTime() - t0) / 1e9
      (s, check())
    } catch {
      case e: Throwable => ((System.nanoTime() - t0) / 1e9, Seq(err(e)))
    }
  }

  /** JVM heap in use after full collections. Spark's context cleaner
    * drops unreferenced broadcasts and shuffles asynchronously after a
    * collection, so it gets time between collections. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  private def err(e: Throwable): String = {
    e.printStackTrace()
    s"${e.getClass.getName}: ${e.getMessage}".take(300)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
