package wirebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns client records (and, when tracing, the probe's view) into
  * named metrics.
  */
object Report {

  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  private def ms(ns: Long): Double = ns / 1e6

  /** The end-to-end metrics of one or more measured windows, each with
    * its executions and, for an open loop, its arrival window:
    * completions are counted over that window, or up to the last
    * completion when a backlog outlasted it.
    */
  def endToEnd(phases: Seq[(Seq[Rec], Option[(Long, Long)])], setupS: Double,
      heapPeakMb: Double): Metrics = {
    val ok = phases.flatMap(_._1.filter(_.ok))
    val lat = ok.map(r => ms(r.latencyNs))
    val span = phases.map { case (recs, window) =>
      val done = recs.filter(_.ok)
      val lastEnd = if (done.isEmpty) 0L else done.map(_.endNs).max
      window match {
        case Some((a, b)) => math.max(b, lastEnd) - a
        case None => if (done.isEmpty) 0L else lastEnd - done.map(_.startNs).min
      }
    }.sum
    val busyS = ok.map(_.latencyNs).sum / 1e9
    val m: Metrics = mutable.LinkedHashMap.empty
    m("stmt_p50_ms") = (Stats.median(lat), "ms")
    m("stmt_p75_ms") = (Stats.percentile(lat, 75), "ms")
    m("stmt_per_s") = (if (span > 0) ok.size / (span / 1e9) else 0.0, "1/s")
    m("rows_per_s") = (if (busyS > 0) ok.map(_.rows).sum / busyS else 0.0, "rows/s")
    m("first_row_p50_ms") = (Stats.median(ok.map(r => ms(r.firstRowNs - r.submitNs))), "ms")
    m("heap_peak_mb") = (heapPeakMb, "MB")
    m("setup_s") = (setupS, "s")
    m
  }

  /** Spans of one execution, root first: the client's call tree with
    * the engine's lifecycle transitions, Spark's planning phases and
    * the jobs the listener attributed to it.
    */
  def spans(r: Rec, op: Option[OpTimes], sessionOpenNs: Option[Long],
      jobs: Seq[(Long, Long)]): IndexedSeq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    val rootStart = if (r.connectStartNs > 0) r.connectStartNs else r.submitNs
    out += Span("client.stmt", -1, rootStart, r.endNs)
    def child(name: String, parent: Int, a: Long, b: Long): Int = {
      if (a > 0 && b > 0 && b >= a) { out += Span(name, parent, a, b); out.length - 1 } else -1
    }
    var submitFrom = r.submitNs
    if (r.connectStartNs > 0) child("server.connect", 0, r.connectStartNs, r.connectEndNs)
    else sessionOpenNs.filter(_ >= r.submitNs).foreach { t =>
      child("server.connect", 0, r.submitNs, t)
      submitFrom = t
    }
    op match {
      case Some(o) if o.pending > 0 && o.finished > 0 =>
        child("server.submit", 0, submitFrom, o.pending)
        child("core.queue", 0, o.pending, o.running)
        val analyze = if (o.compiled > 0) child("core.analyze", 0, o.running, o.compiled) else -1
        val execute = child("core.execute", 0, if (o.compiled > 0) o.compiled else o.running, o.finished)
        val fetch = child("server.fetch", 0, o.finished, r.lastRowNs)
        child("server.close", 0, r.lastRowNs, r.endNs)
        def home(t: Long): Int = Seq(analyze, execute, fetch).filter(_ >= 0)
          .find(i => out(i).startNs <= t && t < out(i).endNs).getOrElse(execute)
        o.phases.foreach { case (name, (a, b)) => child(s"sql.$name", home((a + b) / 2), a, b) }
        jobs.foreach { case (a, b) => child("exec.job", home(a), a, b) }
      case _ =>
        child("server.submit", 0, submitFrom, r.firstRowNs)
        child("server.fetch", 0, r.firstRowNs, r.lastRowNs)
        child("server.close", 0, r.lastRowNs, r.endNs)
    }
    out.toIndexedSeq
  }

  /** Per-layer metrics of a traced phase. */
  def perLayer(recs: Seq[Rec], probe: Probe, gcMs: Long, untraced: Metrics, traced: Metrics,
      wireOverInproc: Double): Metrics = {
    val ops = probe.ops.values.asScala.toSeq
    val opOf = ops.filter(_.stmt >= 0).groupBy(_.stmt).map { case (k, v) => k -> v.maxBy(_.pending) }
    val ok = recs.filter(_.ok)

    // Spark work: by operation, plus ungrouped jobs that started while
    // exactly one statement was fetching.
    val byOp = probe.exec.asScala.toMap
    val fetchWin = ok.flatMap(r => opOf.get(r.seq).filter(_.finished > 0).map(o => (r.seq, o.finished, r.lastRowNs)))
    def ungroupedOwner(startNs: Long): Option[Long] = {
      val hits = fetchWin.filter { case (_, a, b) => a <= startNs && startNs <= b }
      if (hits.size == 1) Some(hits.head._1) else None
    }
    val execOf = mutable.HashMap.empty[Long, mutable.ArrayBuffer[ExecAgg]]
    byOp.foreach { case (key, agg) =>
      val owner =
        if (key.startsWith("job:")) agg.jobs.asScala.headOption.flatMap(j => ungroupedOwner(Clock.fromWallMs(j._2)))
        else probe.ops.asScala.get(key).map(_.stmt).filter(_ >= 0)
      owner.foreach(s => execOf.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += agg)
    }
    def jobsOf(seq: Long): Seq[(Long, Long)] = execOf.get(seq).toSeq.flatten
      .flatMap(_.jobs.asScala.map { case (_, a, b) => (Clock.fromWallMs(a), Clock.fromWallMs(b)) })

    val traces = ok.map { r =>
      val op = opOf.get(r.seq)
      val opened = op.flatMap(o => Option(probe.sessionOpened.get(o.sessionId))).map(_.longValue)
      r -> spans(r, op, if (r.proto == "trino") opened else None, jobsOf(r.seq))
    }

    def spanMs(name: String): Seq[Double] =
      traces.flatMap(_._2.filter(_.name == name).map(s => ms(s.durNs)))
    def med(name: String): Double = { val v = spanMs(name); if (v.isEmpty) 0.0 else Stats.median(v) }
    def perStmt(f: ExecAgg => Double): Double =
      if (ok.isEmpty) 0.0 else ok.map(r => execOf.get(r.seq).toSeq.flatten.map(f).sum).sum / ok.size
    val mb = 1024.0 * 1024.0

    val fetchMs = traces.flatMap { case (r, sp) => sp.filter(_.name == "server.fetch").map(s => (r.rows, s.durNs)) }
    val fetchJobs = ok.map { r =>
      val fin = opOf.get(r.seq).map(_.finished).getOrElse(Long.MaxValue)
      jobsOf(r.seq).count(_._1 >= fin).toDouble
    }

    val m: Metrics = mutable.LinkedHashMap.empty
    m("server.connect_ms") = (med("server.connect"), "ms")
    m("server.submit_ms") = (med("server.submit"), "ms")
    m("server.fetch_ms") = (med("server.fetch"), "ms")
    m("server.fetch_us_per_row") = {
      val rows = fetchMs.map(_._1).sum
      (if (rows > 0) fetchMs.map(_._2).sum / 1e3 / rows else 0.0, "us")
    }
    m("server.wire_over_inproc") = (wireOverInproc, "ratio")
    m("server.fetch_spark_jobs") = (Stats.mean(fetchJobs), "count")
    m("server.close_ms") = (med("server.close"), "ms")
    m("server.rpc_errors") = (recs.count(_.error != null).toDouble, "count")
    m("core.queue_ms") = (med("core.queue"), "ms")
    m("core.analyze_ms") = (med("core.analyze"), "ms")
    m("core.execute_ms") = (med("core.execute"), "ms")
    m("core.ops_failed") = (ops.count(_.failed).toDouble, "count")
    Seq("parsing", "analysis", "optimization", "planning").foreach { p =>
      m(s"sql.${p}_ms") = (med(s"sql.$p"), "ms")
    }
    m("exec.jobs") = (perStmt(_.jobs.size), "count")
    m("exec.stages") = (perStmt(_.stages.get.toDouble), "count")
    m("exec.tasks") = (perStmt(_.tasks.get.toDouble), "count")
    m("exec.job_ms") = (med("exec.job"), "ms")
    m("exec.task_run_s") = (perStmt(_.runMs.get / 1e3), "s")
    m("exec.task_cpu_s") = (perStmt(_.cpuNs.get / 1e9), "s")
    m("exec.task_gc_s") = (perStmt(_.gcMs.get / 1e3), "s")
    m("exec.input_mb") = (perStmt(_.inputB.get / mb), "MB")
    m("exec.shuffle_read_mb") = (perStmt(_.shReadB.get / mb), "MB")
    m("exec.shuffle_write_mb") = (perStmt(_.shWriteB.get / mb), "MB")
    m("exec.spill_mb") = (perStmt(_.spillB.get / mb), "MB")
    m("exec.failed_tasks") = (byOp.values.map(_.failedTasks.get).sum.toDouble, "count")
    m("exec.result_mb") = (perStmt(_.resultB.get / mb), "MB")
    m("jvm.gc_ms") = (gcMs.toDouble, "ms")

    val selfs = traces.map { case (_, sp) => sp.zip(Trace.selfTimes(sp)) }
    Seq("client", "server", "core", "sql", "exec").foreach { layer =>
      val total = selfs.map(_.filter(_._1.layer == layer).map(_._2).sum).sum
      m(s"self.${layer}_ms") = (if (ok.isEmpty) 0.0 else ms(total) / ok.size, "ms")
    }
    val cov = traces.map { case (_, sp) => Trace.coverage(sp) }
    m("trace.coverage") = (Stats.median(cov), "ratio")
    m("trace.coverage_min") = (if (cov.isEmpty) 0.0 else cov.min, "ratio")
    m("trace.statements") = (traces.size.toDouble, "count")
    Seq("stmt_p50_ms", "stmt_per_s").foreach { k =>
      m(s"traced.$k") = (traced(k)._1, traced(k)._2)
      m(s"untraced.$k") = (untraced(k)._1, untraced(k)._2)
    }
    m("trace.overhead_pct") =
      (100 * (traced("stmt_p50_ms")._1 - untraced("stmt_p50_ms")._1) / untraced("stmt_p50_ms")._1, "%")
    m
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(m: Metrics): String = m.map { case (k, (v, u)) =>
    s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}
