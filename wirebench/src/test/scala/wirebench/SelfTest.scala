package wirebench

import org.apache.spark.sql.types._

/** The benchmark's own checks of its measurement logic; no Spark
  * session, no network. Run with `python3 wirebench/build.py --test`.
  */
object SelfTest {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    percentileRule()
    openLoopFromDueTime()
    spanSelfTime()
    digestIgnoresRowOrder()
    println(if (failures == 0) "all passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def percentileRule(): Unit = {
    check("p99 needs 1000 samples: 10 lie beyond it") {
      Stats.tailPercentile(1000).contains(99.0) && Stats.beyond(1000, 99) == 10
    }
    check("999 samples fall back to p95") { Stats.tailPercentile(999).contains(95.0) }
    check("10000 samples reach p99.9") { Stats.tailPercentile(10000).contains(99.9) }
    check("the open loop's 40-statement floor supports p75, 39 do not") {
      Stats.tailPercentile(40).contains(75.0) && Stats.tailPercentile(39).contains(50.0)
    }
    check("fewer than 20 samples support no percentile") {
      Stats.tailPercentile(19).isEmpty && Stats.tailPercentile(20).contains(50.0)
    }
    check("nearest-rank p99 of 1..1000 is 990") {
      Stats.percentile((1 to 1000).map(_.toDouble), 99) == 990.0
    }
    check("median interpolates an even count") { Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 }
  }

  def openLoopFromDueTime(): Unit = {
    val ms = 1000000L
    // one worker; job 0 stalls for 60 ms, jobs 1 and 2 are instant
    val (_, done) = OpenLoop.run(Array(0L, 5 * ms, 10 * ms), workers = 1, drainMs = 5000) { (_, i, _) =>
      if (i == 0) Thread.sleep(60)
    }
    val last = done.find(_.index == 2).get
    check("all open-loop jobs are served") { done.size == 3 }
    check("a stall is charged to the jobs queued behind it") { last.latencyNs >= 45 * ms }
    check("latency runs from the due time, not the start of service") {
      last.endNs - last.startNs < 20 * ms && last.latencyNs == last.endNs - last.dueNs
    }
    check("the generator hands jobs over on time") { done.forall(_.lateNs < 20 * ms) }
    check("Poisson arrivals are seeded") {
      val a = OpenLoop.poisson(new java.util.SplittableRandom(7), 1000, 10)
      val b = OpenLoop.poisson(new java.util.SplittableRandom(7), 1000, 10)
      val gaps = a.sliding(2).map(p => (p(1) - p(0)) / 1e6).toSeq
      a.sameElements(b) && a.length == 1000 && a.forall(_ < 10000000000L) &&
        a.sameElements(a.sorted) && math.abs(Stats.median(gaps) - 10 * math.log(2)) < 1.5
    }
  }

  def spanSelfTime(): Unit = {
    val spans = IndexedSeq(
      Span("client.stmt", -1, 0, 100),
      Span("server.submit", 0, 10, 40),
      Span("core.execute", 0, 30, 60),
      Span("exec.job", 2, 35, 45),
      Span("exec.job", 2, 40, 50),
      Span("exec.job", 1, 5, 15))
    val self = Trace.selfTimes(spans)
    check("self time subtracts the union of direct children") { self(0) == 50 && self(2) == 15 }
    check("children are clipped to their parent") { self(1) == 25 }
    check("leaves keep their whole duration") { self(3) == 10 && self(4) == 10 }
    check("coverage is the children's union over the root") { Trace.coverage(spans) == 0.5 }
    check("self times of a tiling sum to the root") {
      val tiled = IndexedSeq(Span("client.stmt", -1, 0, 30), Span("server.submit", 0, 0, 10),
        Span("core.execute", 0, 10, 20), Span("server.fetch", 0, 20, 30))
      Trace.selfTimes(tiled).sum == 30 && Trace.coverage(tiled) == 1.0
    }
  }

  def digestIgnoresRowOrder(): Unit = {
    val schema = StructType(Seq(StructField("k", LongType), StructField("p", DecimalType(12, 2)),
      StructField("d", DateType), StructField("t", TimestampType), StructField("s", StringType)))
    val rows: Seq[Array[AnyRef]] = (1 to 50).map { i =>
      Array[AnyRef](Long.box(i.toLong), new java.math.BigDecimal(s"$i.50"),
        java.sql.Date.valueOf(s"1995-03-${10 + i % 9}"),
        java.sql.Timestamp.valueOf(s"1995-03-15 0${i % 10}:00:00"), s"row $i")
    }
    def digest(rs: Seq[Array[AnyRef]]): Digest = {
      val b = new Digest.Builder(schema)
      rs.foreach(b.add)
      b.result
    }
    val base = digest(rows)
    check("row order does not change the digest") {
      digest(rows.reverse) == base && digest(new scala.util.Random(3).shuffle(rows)) == base
    }
    check("a changed cell changes the digest") {
      digest(rows.updated(7, rows(7).updated(4, "row x"))) != base
    }
    check("a duplicated row changes the digest") { digest(rows :+ rows(0)) != base }
    check("cell order within a row matters") {
      val b = new Digest.Builder(StructType(Seq(StructField("a", StringType), StructField("b", StringType))))
      b.add(Array[AnyRef]("x", "y"))
      val c = new Digest.Builder(StructType(Seq(StructField("a", StringType), StructField("b", StringType))))
      c.add(Array[AnyRef]("y", "x"))
      b.result != c.result
    }
    check("wire carriers of one value canonicalise alike") {
      val ts = java.sql.Timestamp.valueOf("1995-03-15 05:06:07")
      Digest.canon(DecimalType(12, 2), new java.math.BigDecimal("1.50")) ==
        Digest.canon(DecimalType(12, 2), new java.math.BigDecimal("1.5")) &&
        Digest.canon(DoubleType, java.lang.Double.valueOf(0.1)) ==
          Digest.canon(DoubleType, new java.math.BigDecimal("0.1")) &&
        Digest.canon(DateType, java.sql.Date.valueOf("1995-03-15")) == Digest.canon(DateType, "1995-03-15") &&
        Digest.canon(TimestampType, ts) == Digest.canon(TimestampType, ts.toString) &&
        Digest.canon(TimestampType, ts) == Digest.canon(TimestampType, ts.toInstant.toString) &&
        Digest.canon(LongType, Int.box(5)) == Digest.canon(LongType, Long.box(5L)) &&
        Digest.canon(StringType, null) != Digest.canon(StringType, "null")
    }
  }
}
