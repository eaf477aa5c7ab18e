package perfbench

import scala.collection.immutable.ListMap

final case class Metric(value: Double, unit: String)

/** Turns the run's operation records and spans into named metrics. The
  * maps hold more than BENCHMARK.json reports (sample counts, write-op
  * latencies, per-op layer splits of writes); run.py picks the listed
  * names and the rest goes to the detail file.
  */
object Metrics {
  val ReadKinds: Seq[String] = Seq("search", "exact", "get", "page8", "page256")
  val WriteKinds: Seq[String] = Seq("upsert", "delete")

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def ok(ops: Seq[OpRec], kind: String): Seq[OpRec] =
    ops.filter(o => o.kind == kind && o.ok)

  /** Summed op latency (ms) of each cycle whose ops all succeeded. */
  private def cycleMs(ops: Seq[OpRec]): Seq[Double] =
    ops.groupBy(_.cycle).values.filter(_.forall(_.ok)).map(_.map(_.span.ms).sum).toSeq

  def endToEnd(ops: Seq[OpRec], setupS: Double, recalls: Seq[Double]): ListMap[String, Metric] = {
    val m = ListMap.newBuilder[String, Metric]
    m += "setup_s" -> Metric(setupS, "s")
    (ReadKinds.filter(_ != "page256") ++ WriteKinds).foreach { k =>
      val lat = ok(ops, k).map(_.span.ms)
      if (lat.nonEmpty || ReadKinds.contains(k)) {
        m += s"${k}_p50_ms" -> Metric(median(lat), "ms")
        m += s"${k}_samples" -> Metric(lat.size, "count")
      }
    }
    val pages = ok(ops, "page256")
    m += "page256_qps" -> Metric(median(pages.map(o => o.queries / (o.span.ms / 1000))), "queries/s")
    m += "page256_samples" -> Metric(pages.size, "count")
    m += "recall_at_10" -> Metric(mean(recalls), "ratio")
    m += "recall_samples" -> Metric(recalls.size, "count")
    val cycles = cycleMs(ops)
    m += "cycle_s" -> Metric(median(cycles) / 1000, "s")
    m += "cycle_samples" -> Metric(cycles.size, "count")
    m.result()
  }

  def perLayer(ops: Seq[OpRec], tracer: Tracer, pinnedMb: Double,
               upsertUserBytes: Long): ListMap[String, Metric] = {
    val traced = ops.filter(_.traced)
    val kids = tracer.spans.groupBy(_.parent)
    def layer(o: OpRec, l: String): Option[Span] =
      kids.getOrElse(o.span.id, Nil).find(_.layer == l)
    def counted(o: OpRec, l: String)(f: Counters => Long): Double =
      layer(o, l).map(s => f(tracer.countersOf(s)).toDouble).getOrElse(0.0)
    def total(o: OpRec)(f: Counters => Long): Double =
      (o.span +: kids.getOrElse(o.span.id, Nil)).map(s => f(tracer.countersOf(s))).sum.toDouble
    def selfMs(o: OpRec, l: String): Double = layer(o, l).map(tracer.selfMs).getOrElse(0.0)

    val m = ListMap.newBuilder[String, Metric]
    ReadKinds.foreach { k =>
      val os = ok(traced, k)
      def med(f: OpRec => Double): Double = median(os.map(f))
      m += s"vector.$k.build_ms" -> Metric(med(selfMs(_, "vector")), "ms")
      m += s"vector.$k.side_jobs" -> Metric(med(counted(_, "vector")(_.jobs)), "count")
      m += s"plans.$k.plan_ms" -> Metric(med(selfMs(_, "plans")), "ms")
      m += s"plans.$k.exchanges" ->
        Metric(med(o => layer(o, "plans").map(_.exchanges.toDouble).getOrElse(0.0)), "count")
      m += s"plans.$k.shuffle_bytes" -> Metric(med(total(_)(_.shuffleWrite)), "bytes")
      m += s"expressions.$k.exec_ms" -> Metric(med(selfMs(_, "expressions")), "ms")
      m += s"expressions.$k.jobs" -> Metric(med(counted(_, "expressions")(_.jobs)), "count")
      m += s"expressions.$k.tasks" -> Metric(med(counted(_, "expressions")(_.tasks)), "count")
      m += s"expressions.$k.rows_scanned_per_result" -> Metric(
        med(o => counted(o, "expressions")(_.recordsRead) / math.max(o.rows, 1L)), "ratio")
      m += s"$k.traced_samples" -> Metric(os.size, "count")
    }
    WriteKinds.foreach { k =>
      val os = ok(traced, k)
      if (os.nonEmpty) {
        def med(f: OpRec => Double): Double = median(os.map(f))
        m += s"vector.$k.call_ms" -> Metric(med(selfMs(_, "vector")), "ms")
        m += s"vector.$k.jobs" -> Metric(med(counted(_, "vector")(_.jobs)), "count")
        m += s"vector.$k.tasks" -> Metric(med(counted(_, "vector")(_.tasks)), "count")
        m += s"vector.$k.shards_rewritten" -> Metric(med(_.shardsRewritten.toDouble), "count")
        m += s"vector.$k.output_mb" ->
          Metric(med(counted(_, "vector")(_.outputBytes)) / 1048576.0, "MB")
      }
    }
    ok(traced, "upsert") match {
      case Seq() =>
      case os => m += "vector.upsert.bytes_written_per_user_byte" -> Metric(
        median(os.map(counted(_, "vector")(_.outputBytes) / upsertUserBytes)), "ratio")
    }

    // Per cycle: each layer's work summed over the cycle's operations,
    // so write calls (whole call = vector layer) show beside reads.
    val cycles = traced.groupBy(_.cycle).values.filter(_.forall(_.ok)).toSeq
    def perCycle(f: OpRec => Double): Double = median(cycles.map(_.map(f).sum))
    val mb = 1048576.0
    m += "vector.cycle.build_ms" -> Metric(perCycle(selfMs(_, "vector")), "ms")
    m += "vector.cycle.jobs" -> Metric(perCycle(counted(_, "vector")(_.jobs)), "count")
    m += "plans.cycle.plan_ms" -> Metric(perCycle(selfMs(_, "plans")), "ms")
    m += "plans.cycle.exchanges" -> Metric(
      perCycle(o => layer(o, "plans").map(_.exchanges.toDouble).getOrElse(0.0)), "count")
    m += "plans.cycle.shuffle_mb" -> Metric(perCycle(total(_)(_.shuffleWrite)) / mb, "MB")
    m += "expressions.cycle.exec_ms" -> Metric(perCycle(selfMs(_, "expressions")), "ms")
    m += "expressions.cycle.jobs" -> Metric(perCycle(counted(_, "expressions")(_.jobs)), "count")
    m += "expressions.cycle.tasks" -> Metric(perCycle(counted(_, "expressions")(_.tasks)), "count")
    m += "spark.cycle.jobs" -> Metric(perCycle(total(_)(_.jobs)), "count")
    m += "spark.cycle.stages" -> Metric(perCycle(total(_)(_.stages)), "count")
    m += "spark.cycle.spill_mb" -> Metric(perCycle(total(_)(_.spill)) / mb, "MB")
    m += "spark.cycle.output_mb" -> Metric(perCycle(total(_)(_.outputBytes)) / mb, "MB")
    m += "spark.pinned_mb_after_op" -> Metric(pinnedMb, "MB")

    val builds = tracer.spans.filter(_.op == "build").toSeq
    m += "vector.build.ms" -> Metric(median(builds.map(_.ms)), "ms")
    m += "vector.build.jobs" -> Metric(median(builds.map(tracer.countersOf(_).jobs.toDouble)), "count")
    m += "vector.build.tasks" -> Metric(median(builds.map(tracer.countersOf(_).tasks.toDouble)), "count")

    val withListener = median(cycleMs(traced))
    val without = median(cycleMs(ops.filterNot(_.traced)))
    m += "trace.overhead_pct" ->
      Metric(if (without > 0) (withListener / without - 1) * 100 else 0.0, "%")
    m += "cycle.traced_samples" -> Metric(cycles.size, "count")
    m.result()
  }
}

object Report {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.floor(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metricsJson(metrics: ListMap[String, Metric]): String =
    metrics.map { case (k, v) =>
      s"""${str(k)}: {"value": ${num(v.value)}, "unit": ${str(v.unit)}}"""
    }.mkString("{", ", ", "}")

  def line(correct: Boolean, attempted: Long, failed: Long,
           metrics: ListMap[String, Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metricsJson(metrics)}}"""

  /** Every span with its counters, every op and every metric, for
    * reading a run afterwards.
    */
  def writeDetail(path: String, cfg: Config, ops: Seq[OpRec], tracer: Tracer,
                  setupTimes: Seq[Double], metrics: ListMap[String, Metric]): Unit = {
    val opOf = ops.map(o => o.span.id -> o).toMap
    val spans = tracer.spans.map { s =>
      val c = tracer.countersOf(s)
      val extra = opOf.get(s.id).map(o => s""", "ok": ${o.ok}, "cycle": ${o.cycle}, "traced": ${o.traced}, "rows": ${o.rows}""").getOrElse("")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op_id": ${s.opId}, "op": ${str(s.op)}, "layer": ${str(s.layer)}, "start_ns": ${s.start}, "end_ns": ${s.end}, "self_ms": ${num(tracer.selfMs(s))}, "exchanges": ${s.exchanges}, "jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}, "records_read": ${c.recordsRead}, "shuffle_read": ${c.shuffleRead}, "shuffle_write": ${c.shuffleWrite}, "spill": ${c.spill}, "output_bytes": ${c.outputBytes}$extra}"""
    }
    val json =
      s"""{"workload": ${str(cfg.workload)}, "seed": ${cfg.seed}, "trace": ${cfg.trace}, "cores": ${cfg.cores}, "vectors": ${cfg.vectors}, "dim": ${cfg.dim}, "shards": ${cfg.shards},
         |"setup_s": ${setupTimes.map(num).mkString("[", ", ", "]")},
         |"metrics": ${metricsJson(metrics)},
         |"spans": [
         |${spans.mkString(",\n")}
         |]}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }
}
