package wirebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.Events

/** Wire-level gateway benchmark:
  * `wirebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Sets the gateway up [[SetupReps]] times (data, ANALYZE, frontends,
  * warm-up, oracle), then measures one workload over loopback. The
  * last stdout line is the result object; the line before it records
  * the run's provenance.
  */
object Main {

  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1")
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case e: Throwable =>
        System.err.println(s"wirebench: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        2
    }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  /** CPU, in cores, that anything but this JVM used since construction:
    * the host's busy and stolen time from /proc/stat minus this
    * process's own CPU time.
    */
  final class OtherCpu {
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private def hostBusyS(): Double =
      try {
        val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
        (f(0) + f(1) + f(2) + f(5) + f(6) + f(7)) / 100.0 // user nice system irq softirq steal, at 100 Hz
      } catch { case _: Throwable => 0.0 }
    private val (busy0, own0, t0) = (hostBusyS(), os.getProcessCpuTime, System.nanoTime())
    def cores: Double = {
      val wall = (System.nanoTime() - t0) / 1e9
      math.max(0.0, hostBusyS() - busy0 - (os.getProcessCpuTime - own0) / 1e9) / wall
    }
  }

  private def loadAvg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Throwable => Seq(0.0, 0.0, 0.0) }

  /** Oracle digests, computed in-process on the engine's own session. */
  def oracle(spark: SparkSession, w: Workload, nproc: Int): Map[Int, (StructType, Digest)] = {
    val names = StructType(Seq(StructField("name", StringType)))
    def digest(schema: StructType, rows: Seq[String]): Digest = {
      val b = new Digest.Builder(schema)
      rows.foreach(v => b.add(Array[AnyRef](v)))
      b.result
    }
    Fixture.parallel(w.pool ++ w.checks, nproc) { s =>
      s.id -> ((s.call, s.kind) match {
        case (_, "insert" | "ctas") => (new StructType(), Digest(0, 0))
        case ("tables", _) =>
          (names, digest(names, spark.sql(s"SHOW TABLES IN ${Fixture.Db}").collect()
            .filterNot(_.getBoolean(2)).map(_.getString(1)).toSeq))
        case ("columns", _) =>
          (names, digest(names, spark.table(s"${Fixture.Db}.${s.sql}").schema.fieldNames.toSeq))
        case _ =>
          val df = spark.sql(s.sql)
          (df.schema, Digest.ofRows(df.schema, df.collect()))
      })
    }.toMap
  }

  def run(o: Opts): Int = {
    val dir = Paths.get(sys.props.getOrElse("wirebench.dir", ".bench_build/run")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val load0 = loadAvg()
    val w = Workload(o.workload, o.seed)
    val spark = Fixture.spark(nproc, dir)

    // ---- set-up, repeated; the last one is measured against ----
    val setupS = mutable.ArrayBuffer.empty[Double]
    var gw: Gateway = null
    var orc: Map[Int, (StructType, Digest)] = Map.empty
    var warmErrors = Seq.empty[String]
    (1 to SetupReps).foreach { _ =>
      if (gw != null) gw.stop()
      val t0 = System.nanoTime()
      def lap(what: String): Unit = System.err.println(f"wirebench:   $what ${(System.nanoTime() - t0) / 1e9}%.2f")
      Fixture.materialize(spark, w.ns, w.tables, nproc)
      w.prepare(spark)
      lap("data")
      gw = new Gateway(spark)
      orc = oracle(gw.engine.openSession("oracle").spark, w, nproc)
      lap("oracle")
      val ctx = new Ctx(gw, orc, None)
      w.warmup(ctx)
      lap("warm-up")
      warmErrors ++= ctx.all.asScala.toSeq.filterNot(_.ok).map(r => s"warm-up ${r.stmt.kind}: ${r.error}${r.wrong}")
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val oracleSpark = gw.engine.openSession("oracle").spark
    System.err.println(f"wirebench: set-up ${setupS.map(s => f"$s%.2f").mkString(" ")} s")

    // ---- measured phase(s) ----
    var otherCores = 0.0
    /** One measured window: its executions, open-loop arrival window,
      * heap peak (MB), failed post-run checks and GC time (ms).
      */
    final case class Phase(recs: Seq[Rec], window: Option[(Long, Long)], heapMb: Double,
        bad: Seq[String], gcMs: Long)
    def phase(probe: Option[Probe], seconds: Double): Phase = {
      System.gc()
      val gc = new GcWatch
      val ctx = new Ctx(gw, orc, probe)
      val others = new OtherCpu
      val recs = w.run(ctx, seconds)
      otherCores = math.max(otherCores, others.cores)
      // a window may see no collection at all: the heap right after a
      // full one at its end counts too
      System.gc()
      val endBytes = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val gcMs = gc.gcMs
      gc.close()
      Phase(recs, w.window, math.max(gc.peakAfterGcBytes, endBytes) / (1024.0 * 1024.0),
        w.verifyAfter(oracleSpark, ctx, recs), gcMs)
    }
    def endToEnd(ps: Seq[Phase]): Report.Metrics =
      Report.endToEnd(ps.map(p => (p.recs, p.window)), Stats.median(setupS), ps.map(_.heapMb).max)

    val (phases, metrics) =
      if (!o.trace) { val p = phase(None, o.seconds); (Seq(p), endToEnd(Seq(p))) }
      else {
        // untraced, traced, untraced (a quarter, a half, a quarter of
        // the window), so JIT warm-up does not favour either side
        val u0 = phase(None, o.seconds / 4)
        val probe = new Probe(gw.engine)
        Events.register(probe)
        spark.sparkContext.addSparkListener(probe)
        val t = try phase(Some(probe), o.seconds / 2) finally {
          probe.drain()
          Events.unregister(probe)
          spark.sparkContext.removeSparkListener(probe)
        }
        val u1 = phase(None, o.seconds / 4)
        val ratio = w.wireOverInproc(oracleSpark, new Ctx(gw, orc, None), u0.recs ++ u1.recs)
        (Seq(u0, t, u1), Report.perLayer(t.recs, probe, t.gcMs, endToEnd(Seq(u0, u1)), endToEnd(Seq(t)), ratio))
      }
    val recs = phases.flatMap(_.recs)
    val verifyErrors = phases.flatMap(_.bad)

    recs.filter(_.ok).groupBy(r => if (r.connectStartNs > 0) s"${r.stmt.kind}+connect" else r.stmt.kind)
      .toSeq.sortBy(_._1).foreach { case (k, rs) =>
        System.err.println(f"wirebench: ${rs.size}%4d x $k%-22s p50 ${Stats.median(rs.map(_.latencyNs / 1e6))}%9.1f ms")
      }
    val load1 = loadAvg()
    val wrong = recs.filter(_.wrong != null)
    val errors = recs.filter(_.error != null)
    (warmErrors ++ verifyErrors ++ (wrong ++ errors).take(5).map(r =>
      s"${r.stmt.kind} #${r.seq}: ${Option(r.error).getOrElse(r.wrong)}"))
      .foreach(e => System.err.println(s"wirebench: $e"))
    val failed = wrong.size + errors.size + verifyErrors.size
    val correct = wrong.isEmpty && verifyErrors.isEmpty && warmErrors.isEmpty

    val late = w match {
      case i: Interactive if i.lateNs.nonEmpty =>
        f""", "generator_late_p99_ms": ${Stats.percentile(i.lateNs.map(_ / 1e6), 99)}%.3f""" +
          f""", "generator_late_max_ms": ${i.lateNs.max / 1e6}%.3f, "offered_per_s": ${i.Rate}"""
      case _ => ""
    }
    val n = recs.count(_.ok)
    // This run's own busy-polling clients keep its load average near
    // nproc, so the end-of-run load says little about other tenants;
    // the CPU they took during the measured window does.
    val contended = load0.head > nproc || otherCores > 0.5
    println(s"""{"provenance": {"workload": "${w.name}", "seed": ${o.seed}, "trace": ${o.trace}, """ +
      s""""nproc": $nproc, "commit": "${sys.props.getOrElse("wirebench.commit", "unknown")}", """ +
      s""""java": "${sys.props("java.version")}", "spark": "${spark.version}", """ +
      s""""load_start": [${load0.mkString(", ")}], "load_end": [${load1.mkString(", ")}], """ +
      f""""other_cpu_cores": $otherCores%.3f, "contended": $contended, "statements": $n, "tail_percentile": ${Stats.tailPercentile(n).getOrElse(0.0)}, """ +
      s""""error_rate": ${Report.num(if (recs.isEmpty) 0.0 else failed.toDouble / recs.size)}, """ +
      s""""setup_reps_s": [${setupS.map(Report.num).mkString(", ")}]$late}}""")
    println(s"""{"correct": $correct, "attempted": ${math.max(1, recs.size)}, "failed": $failed, """ +
      s""""metrics": ${Report.json(metrics)}}""")

    gw.stop()
    spark.stop()
    if (correct) 0 else 1
  }
}
