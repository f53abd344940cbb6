package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark engine cost of a stretch of work, summed over its tasks. */
final case class Cost(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    inputRows: Long = 0, inputBytes: Long = 0, resultBytes: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0) {
  private def zip(o: Cost, f: (Long, Long) => Long) = Cost(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
    f(shuffleWrite, o.shuffleWrite), f(shuffleRead, o.shuffleRead),
    f(spill, o.spill), f(inputRows, o.inputRows), f(inputBytes, o.inputBytes),
    f(resultBytes, o.resultBytes), f(runMs, o.runMs), f(cpuNs, o.cpuNs),
    f(gcMs, o.gcMs))
  def +(o: Cost): Cost = zip(o, _ + _)
  def -(o: Cost): Cost = zip(o, _ - _)
}

object Cost {
  def ofTask(e: SparkListenerTaskEnd): Cost = Option(e.taskMetrics) match {
    case None => Cost(tasks = 1)
    case Some(m) => Cost(tasks = 1,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = m.shuffleReadMetrics.totalBytesRead,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled,
      inputRows = m.inputMetrics.recordsRead,
      inputBytes = m.inputMetrics.bytesRead,
      resultBytes = m.resultSize, runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime)
  }
}

/** Counting listener. Always keeps whole-run totals; with `perJob` it
  * also keeps each job's submission time and cost, so the tracer can
  * attribute jobs to the span open when they were submitted. Listener
  * events arrive on one bus thread; readers call [[drain]] first. */
final class CostMeter(sc: SparkContext, perJob: Boolean)
    extends SparkListener {
  private var total = Cost()
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val jobCost = mutable.Map.empty[Int, Cost]
  private val stageJob = mutable.Map.empty[Int, Int]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total += Cost(jobs = 1)
    if (perJob) {
      jobStartMs(e.jobId) = e.time
      jobCost(e.jobId) = Cost(jobs = 1)
      // a stage listed by several jobs runs its tasks for the latest one
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      total += Cost(stages = 1)
      if (perJob) stageJob.get(e.stageInfo.stageId).foreach(j =>
        jobCost(j) += Cost(stages = 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = Cost.ofTask(e)
    total += c
    if (perJob) stageJob.get(e.stageId).foreach(j => jobCost(j) += c)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def snapshot(): Cost = { drain(); synchronized(total) }

  /** Cost of the jobs submitted in [fromMs, untilMs). */
  def jobsIn(fromMs: Long, untilMs: Long): Cost = synchronized {
    jobStartMs.iterator.collect {
      case (j, t) if t >= fromMs && t < untilMs => jobCost(j)
    }.foldLeft(Cost())(_ + _)
  }
}

/** File-system counters for the local file system, which holds every
  * table and input of the benchmark: operations from [[CountingLocalFs]],
  * bytes from Hadoop's statistics. */
final case class FsStat(readOps: Long = 0, listOps: Long = 0,
    writeOps: Long = 0, bytesRead: Long = 0, bytesWritten: Long = 0) {
  def -(o: FsStat): FsStat = FsStat(readOps - o.readOps,
    listOps - o.listOps, writeOps - o.writeOps, bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten)
  def +(o: FsStat): FsStat = FsStat(readOps + o.readOps,
    listOps + o.listOps, writeOps + o.writeOps, bytesRead + o.bytesRead,
    bytesWritten + o.bytesWritten)
}

object FsStat {
  def now(): FsStat = {
    val s = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")
    def g(k: String): Long =
      Option(s).flatMap(x => Option(x.getLong(k))).map(_.longValue)
        .getOrElse(0L)
    FsStat(CountingLocalFs.reads.get, CountingLocalFs.lists.get,
      CountingLocalFs.writes.get, g("bytesRead"), g("bytesWritten"))
  }
}

/** One recorded span. Times are wall-clock: `t0Ms`/`t1Ms` for matching
  * Spark job submission times, `t0Ns`/`t1Ns` for durations. */
final case class Span(id: Int, parent: Int, name: String, unit: Int,
    t0Ns: Long, t1Ns: Long, t0Ms: Long, t1Ms: Long,
    fs: FsStat, attrs: Map[String, Double]) {
  def seconds: Double = (t1Ns - t0Ns) / 1e9
}

/** In-memory span recorder for the traced run. Disabled, `span` only
  * runs its body. Calls into the engine are made from one thread, so
  * the open spans form a stack. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, mutable.Map[String, Double])] = Nil
  private var nextId = 0
  var unit: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val attrs = mutable.Map.empty[String, Double]
      stack = (id, attrs) :: stack
      val fs0 = FsStat.now()
      val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        val (ns1, ms1) = (System.nanoTime(), System.currentTimeMillis())
        stack = stack.tail
        done += Span(id, parent, name, unit, ns0, ns1, ms0, ms1,
          FsStat.now() - fs0, attrs.toMap)
      }
    }

  /** Add `v` to attribute `k` of the innermost open span. */
  def attr(k: String, v: Double): Unit =
    stack.headOption.foreach { case (_, a) =>
      a(k) = a.getOrElse(k, 0.0) + v }

  def spans: Seq[Span] = done.toSeq

  /** Spans as JSON lines: name, start, end, parent, run id. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }
        .mkString(",")
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","unit":${s.unit},"start_ms":${s.t0Ms},""" +
        s""""end_ms":${s.t1Ms},"seconds":${s.seconds},"attrs":{$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes("UTF-8"))
  }
}
