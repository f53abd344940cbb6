package perfbench

/** The per-layer metrics of a traced pass. Every name is printed on
  * every workload; a layer a workload does not call reads 0. Values are
  * per unit unless the name is a ratio, a maximum or a count of the
  * whole pass. */
object Layers {
  val LogOps: Seq[String] = Seq("append", "merge", "range_read",
    "point_lookup", "latest_read", "dv_delete", "compact", "checkpoint",
    "read_changes", "vacuum")
  val LlmOps: Seq[String] = Seq("TextOps.gopher", "Dedup.exact",
    "Dedup.minhash_lsh", "Dedup.keep_list", "AnnIndex.build",
    "AnnIndex.search")
  val Modules: Seq[String] = Seq("BillingJob", "BillingOps", "AppendStore",
    "ChargeSink", "LogStore", "TextOps", "Dedup", "AnnIndex")

  val names: Seq[String] =
    Billing.Phases.flatMap(p =>
      Seq("s", "jobs", "input_rows").map(f => s"BillingJob.$p.$f")) ++
    Seq("BillingOps.dry_run.s", "BillingOps.dry_run.jobs",
      "BillingOps.dry_run.input_rows", "BillingOps.rows_read_per_row_on_date",
      "AppendStore.append.s", "AppendStore.append.calls",
      "AppendStore.append.bytes_written", "AppendStore.append.files_written",
      "AppendStore.read.s", "AppendStore.read.list_ops") ++
    Seq("api_calls", "calls_per_charge", "retries", "backoff_s",
      "call_busy_s", "inflight_mean", "inflight_max", "double_charges")
      .map("ChargeSink." + _) ++
    LogOps.flatMap(op => Seq("s", "jobs", "fs_read_ops", "bytes_written")
      .map(f => s"LogStore.$op.$f")) ++
    Seq("LogStore.range_read.segments_scanned_ratio",
      "LogStore.point_lookup.segments_scanned_ratio",
      "LogStore.merge.segments_rewritten", "LogStore.dv_delete.touched",
      "LogStore.write_amp") ++
    LlmOps.flatMap(op => Seq(s"$op.s", s"$op.jobs")) ++
    Seq("Dedup.minhash_lsh.pairs", "Dedup.minhash_lsh.recall",
      "AnnIndex.search.segments_opened", "AnnIndex.search.recall_at_10") ++
    Seq("jobs", "stages", "tasks", "shuffle_write_bytes",
      "shuffle_read_bytes", "spill_bytes", "input_rows", "input_bytes",
      "result_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
      "slot_utilisation").map("spark." + _) ++
    Seq("read_ops", "list_ops", "write_ops", "bytes_read", "bytes_written")
      .map("fs." + _) ++
    Modules.map(_ + ".self_s") ++
    Seq("trace.overhead_ratio")

  def unitOf(name: String): String = {
    val last = name.split('.').last
    if (last == "s" || last.endsWith("_s")) "s"
    else if (last.endsWith("ratio") || last.startsWith("recall") ||
      last == "slot_utilisation" || last == "write_amp" ||
      last == "rows_read_per_row_on_date") "ratio"
    else if (last.endsWith("bytes") || last.startsWith("bytes")) "B/unit"
    else if (last == "input_rows") "rows/unit"
    else if (last == "inflight_mean" || last == "inflight_max") "calls"
    else if (last == "calls_per_charge") "calls/charge"
    else if (last == "double_charges") "count"
    else "count/unit"
  }

  def metrics(tr: Traced, traced: Main.PassResult, plainWallS: Double,
      cpus: Int, specific: Map[String, Double]): Seq[(String, Double)] = {
    val m = scala.collection.mutable.LinkedHashMap(names.map(_ -> 0.0): _*)
    val n = tr.units.toDouble
    val c = traced.cost
    m ++= Seq(
      "spark.jobs" -> c.jobs / n, "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> c.shuffleRead / n,
      "spark.spill_bytes" -> c.spill / n,
      "spark.input_rows" -> c.inputRows / n,
      "spark.input_bytes" -> c.inputBytes / n,
      "spark.result_bytes" -> c.resultBytes / n,
      "spark.executor_run_s" -> c.runMs / 1e3 / n,
      "spark.executor_cpu_s" -> c.cpuNs / 1e9 / n,
      "spark.gc_s" -> c.gcMs / 1e3 / n,
      "spark.slot_utilisation" -> c.runMs / 1e3 / (traced.wallS * cpus),
      "fs.read_ops" -> traced.fs.readOps / n,
      "fs.list_ops" -> traced.fs.listOps / n,
      "fs.write_ops" -> traced.fs.writeOps / n,
      "fs.bytes_read" -> traced.fs.bytesRead / n,
      "fs.bytes_written" -> traced.fs.bytesWritten / n,
      "trace.overhead_ratio" -> traced.wallS / plainWallS)

    LogOps.foreach(op => m ++= tr.op(s"LogStore.$op", s"LogStore.$op",
      Seq("s", "jobs", "fs_read_ops", "bytes_written")))
    Seq("range_read", "point_lookup").foreach { op =>
      val ss = tr.named(s"LogStore.$op")
      val live = ss.map(_.attrs.getOrElse("live", 0.0)).sum
      m(s"LogStore.$op.segments_scanned_ratio") =
        if (live > 0) ss.map(_.attrs.getOrElse("scanned", 0.0)).sum / live
        else 0.0
    }
    m ++= tr.op("LogStore.merge", "LogStore.merge", Seq("segments_rewritten"))
    m ++= tr.op("LogStore.dv_delete", "LogStore.dv_delete", Seq("touched"))
    val logSpans = tr.spans.filter(_.name.startsWith("LogStore."))
    val appended = tr.named("LogStore.append").map(_.fs.bytesWritten).sum
    m("LogStore.write_amp") =
      if (appended > 0) logSpans.map(_.fs.bytesWritten).sum.toDouble / appended
      else 0.0

    LlmOps.foreach(op => m ++= tr.op(op, op))
    m ++= tr.op("Dedup.minhash_lsh", "Dedup.minhash_lsh", Seq("pairs"))
    m ++= tr.op("AnnIndex.search", "AnnIndex.search", Seq("segments_opened"))

    // self time: a span's duration less its direct children's
    val childS = tr.spans.groupBy(_.parent).map { case (p, ks) =>
      p -> ks.map(_.seconds).sum }
    val selfByModule = tr.spans.groupBy(_.name.takeWhile(_ != '.'))
      .map { case (mod, ss) =>
        mod -> ss.map(s => s.seconds - childS.getOrElse(s.id, 0.0)).sum }
    Modules.foreach(mod =>
      m(s"$mod.self_s") = selfByModule.getOrElse(mod, 0.0) / n)

    m ++= specific
    m.toSeq
  }
}
