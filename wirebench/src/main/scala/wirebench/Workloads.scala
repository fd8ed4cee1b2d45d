package wirebench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.queries.TpchCorpusSql

/** State shared by one measured phase: the gateway, the oracle, the
  * probe when tracing, and the execution sequence that tags SQL.
  */
final class Ctx(val gw: Gateway, val oracle: Map[Int, (StructType, Digest)],
    val probe: Option[Probe]) {
  import Ctx.seqGen

  /** Every execution this context ran, warm-up included. */
  val all = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()

  def rec(stmt: Stmt, proto: String): Rec = new Rec(seqGen.incrementAndGet(), stmt, proto)
  def nextSeq(): Long = seqGen.incrementAndGet()
  def schema(s: Stmt): StructType = oracle(s.id)._1

  /** Runs `body`, turning a failed call into a counted error, then
    * checks the result against the oracle.
    */
  def exec(rec: Rec)(body: => Unit): Rec = {
    try body catch {
      case e: Throwable => rec.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    if (rec.endNs == 0) rec.endNs = System.nanoTime()
    if (rec.error == null && rec.wrong == null) oracle.get(rec.stmt.id).foreach { case (_, want) =>
      if (rec.digest != want) rec.wrong = s"digest ${rec.digest} != oracle $want"
    }
    all.add(rec)
    rec
  }

  /** Opens a JDBC connection whose engine session the probe attributes
    * to `owner`.
    */
  def connect(owner: String): java.sql.Connection = {
    probe.foreach(_.expectSession(owner))
    JdbcClient.connect(gw.jdbcUrl)
  }
}

object Ctx {
  /** Execution sequence, unique across the phases of one run. */
  private val seqGen = new AtomicLong(0)
}

/** A seeded statement mix over one data set. The program only ever
  * sees the generated SQL.
  */
abstract class Workload(val seed: Long) {
  def name: String
  /** TPC-H generator namespace the data is materialized from. */
  def ns: String
  def tables: Seq[String]
  /** Statements run over the wire; each gets an oracle digest. */
  def pool: IndexedSeq[Stmt]
  /** Statements whose oracle only checks state after the run. */
  def checks: IndexedSeq[Stmt] = IndexedSeq.empty
  /** Statement whose wire time is compared with an in-process collect. */
  def ratioStmt: Stmt

  /** `server.wire_over_inproc`: the median wire latency of
    * [[ratioStmt]] in `recs` over the median of three in-process
    * `collect()`s of the same SQL.
    */
  def wireOverInproc(spark: SparkSession, ctx: Ctx, recs: Seq[Rec]): Double = {
    val wire = Stats.median(recs.filter(r => r.ok && r.stmt.id == ratioStmt.id).map(_.latencyNs / 1e6))
    wire / Workload.inprocMs(spark, ratioStmt.sql)
  }
  /** The open-loop arrival window (start, end) of the last run, if any. */
  @volatile var window: Option[(Long, Long)] = None
  /** Extra DDL after the data is materialized. */
  def prepare(spark: SparkSession): Unit = ()
  /** Runs every statement shape once over the wire. */
  def warmup(ctx: Ctx): Unit
  /** Measures for about `seconds`; returns every execution. */
  def run(ctx: Ctx, seconds: Double): Seq[Rec]
  /** Checks of program state after the run; each string is a failure. */
  def verifyAfter(spark: SparkSession, ctx: Ctx, recs: Seq[Rec]): Seq[String] = Nil

  protected val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + name.hashCode)

  /** Closed loop of whole cycles: `cycle()` runs until the deadline
    * has passed at a cycle boundary, so every shape is run equally
    * often.
    */
  protected def cycles(seconds: Double)(cycle: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var c = 0
    while (c == 0 || System.nanoTime() < deadline) { cycle(c); c += 1 }
  }

  protected def shuffled[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}

object Workload {
  /** Scale of the serving data sets: sf0.01 (15k orders, 60k lines). */
  val ServingNs = "sf0_01"
  val ServingSf = 0.01
  /** Scale of the analytic data set. */
  val AnalyticNs = "sf0_01"

  /** Median of three in-process `collect()`s of `sql`, in ms. */
  def inprocMs(spark: SparkSession, sql: String): Double = Stats.median((1 to 3).map { _ =>
    val t = System.nanoTime()
    spark.sql(sql).collect()
    (System.nanoTime() - t) / 1e6
  })

  def apply(name: String, seed: Long): Workload = name match {
    case "interactive" => new Interactive(seed)
    case "extract" => new Extract(seed)
    case "analytic" => new Analytic(seed)
    case "rest_trino" => new RestTrino(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Orders: Long = graft.sources.tpch.TpchGen.orderCount(ServingSf)
  /** Order dates span 1992-01-01 plus this many days. */
  val OrderDays = 2405

  def q6(rng: SplittableRandom): String = {
    val from = java.time.LocalDate.of(1993 + rng.nextInt(5), 1 + rng.nextInt(12), 1)
    val disc = 2 + rng.nextInt(8)
    s"""SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n
       |FROM ${Fixture.Db}.lineitem
       |WHERE l_shipdate >= DATE '$from' AND l_shipdate < DATE '$from' + INTERVAL 1 YEAR
       |  AND l_discount BETWEEN 0.0$disc - 0.01 AND 0.0$disc + 0.01
       |  AND l_quantity < ${24 + rng.nextInt(2)}""".stripMargin
  }

  /** orders⋈customer projection over a third of the order dates: about
    * 5k rows at sf0.01, carrying DECIMAL, DATE, STRING and TIMESTAMP.
    */
  def projection(rng: SplittableRandom): String = {
    val from = rng.nextInt(OrderDays - OrderDays / 3)
    val d0 = java.time.LocalDate.of(1992, 1, 1).plusDays(from.toLong)
    val d1 = d0.plusDays((OrderDays / 3).toLong)
    s"""SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority, c_name, c_mktsegment,
       |  c_acctbal, CAST(o_orderdate AS TIMESTAMP) + make_interval(0, 0, 0, 0,
       |    CAST(o_orderkey % 24 AS INT), CAST(o_custkey % 60 AS INT), 0) AS o_ts
       |FROM ${Fixture.Db}.orders JOIN ${Fixture.Db}.customer ON o_custkey = c_custkey
       |WHERE o_orderdate >= DATE '$d0' AND o_orderdate < DATE '$d1'""".stripMargin
  }
}

/** Thrift over hive-jdbc, open loop: Poisson arrivals at a fixed offered
  * rate, served from four connections. Per-statement fixed costs
  * dominate: RPCs, session open, operation lifecycle, compile, job
  * launch.
  */
final class Interactive(seed: Long) extends Workload(seed) {
  def name = "interactive"
  def ns: String = Workload.ServingNs
  def tables = Seq("orders", "lineitem")
  val Connections = 4
  private val db = Fixture.Db

  val pool: IndexedSeq[Stmt] = {
    val b = IndexedSeq.newBuilder[Stmt]
    var id = 0
    def add(kind: String, sql: String, call: String = "sql"): Unit = { b += Stmt(id, kind, sql, call); id += 1 }
    (0 until 6).foreach { _ =>
      add("lookup_orders", s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
        s"o_orderpriority FROM $db.orders WHERE o_orderkey = ${1 + rng.nextLong(Workload.Orders)}")
    }
    (0 until 4).foreach { _ =>
      add("lookup_lines", s"SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, " +
        s"l_shipdate FROM $db.lineitem WHERE l_orderkey = ${1 + rng.nextLong(Workload.Orders)}")
    }
    (0 until 6).foreach(_ => add("aggregate", Workload.q6(rng)))
    add("constant", "SELECT 1")
    add("constant", "SELECT 'wb' AS s, 2 + 3 AS n, DATE '2024-01-01' AS d")
    add("metadata", "", "tables")
    add("metadata", "lineitem", "columns")
    b.result()
  }
  private val Insert = Stmt(-1, "insert", "")
  override def checks: IndexedSeq[Stmt] = IndexedSeq(Insert)
  def ratioStmt: Stmt = pool.find(_.kind == "aggregate").get

  override def prepare(spark: SparkSession): Unit =
    (0 until Connections).foreach { k =>
      spark.sql(s"CREATE TABLE $db.w_c$k (id BIGINT, tag STRING, amt DECIMAL(10,2)) USING parquet")
    }

  /** Offered rate in statements per second: about half the rate at
    * which the backlog starts to grow on 4 cores.
    */
  val Rate = 5.0
  /** The fewest statements that support the reported p75 (ten beyond it). */
  val MinStatements = 40

  /** Arrivals in blocks of ten with fixed shares, in seeded order: two
    * order lookups, one line lookup, three aggregates, two constants,
    * one metadata call and one insert (-1); one statement of each block
    * other than the insert and the metadata call runs on a fresh
    * connection. Returns (pool index or -1, fresh connection).
    */
  private def arrivals(n: Int): IndexedSeq[(Int, Boolean)] = {
    def pick(kind: String): Int = {
      val ids = pool.indices.filter(i => pool(i).kind == kind)
      ids(rng.nextInt(ids.length))
    }
    val shape = Seq("lookup_orders", "lookup_orders", "lookup_lines", "aggregate", "aggregate",
      "aggregate", "constant", "constant", "metadata", "insert")
    Iterator.continually {
      val block = shuffled(shape.toIndexedSeq).map(k => if (k == "insert") -1 else pick(k))
      val candidates = block.indices.filter(j => block(j) >= 0 && pool(block(j)).kind != "metadata")
      val fresh = candidates(rng.nextInt(candidates.length))
      block.indices.map(j => (block(j), j == fresh))
    }.flatten.take(n).toIndexedSeq
  }

  private def serve(ctx: Ctx, conn: java.sql.Connection, k: Int, i: Int, fresh: Boolean): Rec =
    if (i < 0) {
      val seq = ctx.nextSeq()
      val sql = s"INSERT INTO $db.w_c$k VALUES ($seq, 'wb-$seq', ${seq % 100000}.25)"
      val rec = new Rec(seq, Stmt(Insert.id, "insert", sql), "thrift")
      rec.conn = k
      ctx.exec(rec)(JdbcClient.run(conn, rec, new StructType()))
    } else {
      val rec = ctx.rec(pool(i), "thrift")
      rec.conn = k
      ctx.exec(rec) {
        if (fresh) {
          rec.connectStartNs = System.nanoTime()
          val c = JdbcClient.connect(ctx.gw.jdbcUrl)
          rec.connectEndNs = System.nanoTime()
          try JdbcClient.run(c, rec, ctx.schema(rec.stmt)) finally c.close()
          rec.endNs = System.nanoTime()
        } else {
          ctx.probe.foreach(_.setCurrent(s"c$k", rec.seq))
          JdbcClient.run(conn, rec, ctx.schema(rec.stmt))
        }
      }
    }

  /** One statement of each kind, one of them on a fresh connection,
    * and one insert per connection, served from the four connections
    * at once.
    */
  def warmup(ctx: Ctx): Unit = {
    val conns = (0 until Connections).map(k => JdbcClient.connect(ctx.gw.jdbcUrl))
    val firsts = pool.indices.filter(i => i == 0 || pool(i).kind != pool(i - 1).kind || pool(i).call != pool(i - 1).call)
    val jobs = firsts.map(i => (i, i == 0)) ++ (0 until Connections).map(_ => (-1, false))
    try OpenLoop.run(new Array[Long](jobs.size), Connections, drainMs = 60000) { (k, i, _) =>
      serve(ctx, conns(k), k, jobs(i)._1, jobs(i)._2)
    } finally conns.foreach(_.close())
  }

  def run(ctx: Ctx, seconds: Double): Seq[Rec] = {
    val n = math.max(MinStatements, math.round(Rate * seconds).toInt)
    val span = math.max(seconds, n / Rate)
    val dues = OpenLoop.poisson(rng, n, span)
    val jobs = arrivals(n)
    val conns = (0 until Connections).map(k => ctx.connect(s"c$k"))
    val recs = new Array[Rec](dues.length)
    try {
      val (t0, done) = OpenLoop.run(dues, Connections, drainMs = 60000) { (k, i, due) =>
        val (p, fresh) = jobs(i)
        val rec = serve(ctx, conns(k), k, p, fresh)
        rec.dueNs = due
        recs(i) = rec
      }
      lateNs = done.map(_.lateNs)
      window = Some((t0, t0 + (span * 1e9).toLong))
    } finally conns.foreach(c => try c.close() catch { case _: Throwable => })
    recs.indices.map { i =>
      Option(recs(i)).getOrElse {
        val r = new Rec(-1, pool(math.max(0, jobs(i)._1)), "thrift")
        r.error = "not served before the drain deadline"
        r
      }
    }
  }

  /** How late the generator handed each job to the queue. */
  @volatile var lateNs: Seq[Long] = Nil

  /** Each connection's table holds exactly the rows its inserts in
    * this phase wrote.
    */
  override def verifyAfter(spark: SparkSession, ctx: Ctx, recs: Seq[Rec]): Seq[String] =
    (0 until Connections).flatMap { k =>
      val mine = recs.filter(r => r.stmt.kind == "insert" && r.conn == k)
      if (mine.isEmpty) None
      else {
        val row = spark.sql(s"SELECT count(*), coalesce(sum(id), 0) FROM $db.w_c$k " +
          s"WHERE id BETWEEN ${mine.map(_.seq).min} AND ${mine.map(_.seq).max}").collect().head
        val (n, s) = (row.getLong(0), row.getLong(1))
        val ok = mine.filter(_.ok)
        if (n == ok.size && s == ok.map(_.seq).sum) None
        else Some(s"w_c$k holds $n rows (id sum $s); ${ok.size} inserts succeeded (id sum ${ok.map(_.seq).sum})")
      }
    }
}

/** hive-jdbc, one connection, closed loop: cycles of a 60k-row SELECT *,
  * a typed projection and a small aggregate, every cell read through
  * getObject. Encoding, FetchResults paging and Spark's collect into
  * the engine dominate.
  */
final class Extract(seed: Long) extends Workload(seed) {
  def name = "extract"
  def ns: String = Workload.ServingNs
  def tables = Seq("orders", "customer", "lineitem")
  val pool: IndexedSeq[Stmt] = IndexedSeq(
    Stmt(0, "scan", s"SELECT * FROM ${Fixture.Db}.lineitem"),
    Stmt(1, "projection", Workload.projection(rng)),
    Stmt(2, "aggregate", s"SELECT l_returnflag, l_linestatus, count(*) AS n, " +
      s"sum(l_quantity) AS qty FROM ${Fixture.Db}.lineitem GROUP BY l_returnflag, l_linestatus"))
  def ratioStmt: Stmt = pool(0)

  /** The ROADMAP probe's statement: SELECT * of lineitem at sf0.1
    * (600k rows x 16 columns), materialized for the traced run only,
    * fetched once over the wire and checked against the oracle.
    */
  override def wireOverInproc(spark: SparkSession, ctx: Ctx, recs: Seq[Rec]): Double = {
    spark.sql(s"CREATE TABLE ${Fixture.Db}.lineitem_sf0_1 USING parquet AS SELECT * FROM tpch.sf0_1.lineitem")
    val probe = Stmt(-2, "scan_sf0_1", s"SELECT * FROM ${Fixture.Db}.lineitem_sf0_1")
    val df = spark.sql(probe.sql)
    val sub = new Ctx(ctx.gw, Map(probe.id -> (df.schema, Digest.ofRows(df.schema, df.collect()))), None)
    val inproc = Workload.inprocMs(spark, probe.sql)
    val conn = JdbcClient.connect(ctx.gw.jdbcUrl)
    val rec = sub.rec(probe, "thrift")
    try sub.exec(rec)(JdbcClient.run(conn, rec, df.schema)) finally conn.close()
    spark.sql(s"DROP TABLE ${Fixture.Db}.lineitem_sf0_1")
    if (!rec.ok) throw new IllegalStateException(s"sf0.1 probe: ${rec.error}${rec.wrong}")
    System.err.println(f"wirebench: sf0.1 SELECT * of ${rec.rows} rows: wire ${rec.latencyNs / 1e9}%.2f s, " +
      f"in-process ${inproc / 1e3}%.2f s")
    rec.latencyNs / 1e6 / inproc
  }

  def warmup(ctx: Ctx): Unit = {
    val conn = JdbcClient.connect(ctx.gw.jdbcUrl)
    try pool.tail.foreach { s =>
      val rec = ctx.rec(s, "thrift")
      ctx.exec(rec)(JdbcClient.run(conn, rec, ctx.schema(s)))
    } finally conn.close()
  }

  def run(ctx: Ctx, seconds: Double): Seq[Rec] = {
    val conn = ctx.connect("x0")
    val out = Seq.newBuilder[Rec]
    try cycles(seconds) { _ =>
      shuffled(pool).foreach { s =>
        val rec = ctx.rec(s, "thrift")
        out += ctx.exec(rec)(JdbcClient.run(conn, rec, ctx.schema(s)))
      }
    } finally conn.close()
    out.result()
  }
}

/** hive-jdbc, one connection, closed loop over the join- and
  * shuffle-heavy part of the TPC-H corpus plus one CTAS of a lineitem
  * aggregate per pass (the write path). Shuffles, joins, AQE and the
  * graft.plans rules dominate; results are at most 100 rows.
  */
final class Analytic(seed: Long) extends Workload(seed) {
  def name = "analytic"
  def ns: String = Workload.AnalyticNs
  def tables = Seq("region", "nation", "supplier", "part", "partsupp", "customer", "orders", "lineitem")
  /** Multi-way joins (q3, q5, q7, q9), an outer join (q13), a large
    * aggregate (q1), a semi-join on a grouped subquery (q18) and
    * EXISTS/NOT EXISTS (q21).
    */
  val Queries = Seq("q1", "q3", "q5", "q7", "q9", "q13", "q18", "q21")
  val pool: IndexedSeq[Stmt] = TpchCorpusSql.queries(Fixture.Db).filter(q => Queries.contains(q._1))
    .zipWithIndex.map { case ((q, sql), i) => Stmt(i, q, sql) }.toIndexedSeq :+ Stmt(Queries.size, "ctas", "")
  private val ctasSelect = {
    val cut = java.time.LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(900).toLong)
    s"""SELECT l_returnflag, l_linestatus, l_shipmode, count(*) AS n,
       |  sum(l_quantity) AS qty, sum(l_extendedprice * (1 - l_discount)) AS revenue
       |FROM ${Fixture.Db}.lineitem WHERE l_shipdate < DATE '$cut'
       |GROUP BY l_returnflag, l_linestatus, l_shipmode""".stripMargin
  }
  private val CtasCheck = Stmt(Queries.size + 1, "ctas_check", ctasSelect)
  override def checks: IndexedSeq[Stmt] = IndexedSeq(CtasCheck)
  def ratioStmt: Stmt = pool(0)
  private val ctasCount = new AtomicLong(0)

  private def stmt(s: Stmt): Stmt =
    if (s.kind != "ctas") s
    else s.copy(sql = s"CREATE TABLE ${Fixture.Db}.ctas_${ctasCount.incrementAndGet()} USING parquet AS $ctasSelect")

  /** The oracle has already run every query in-process; this warms
    * the wire path and the write path.
    */
  def warmup(ctx: Ctx): Unit = {
    val conn = JdbcClient.connect(ctx.gw.jdbcUrl)
    try Seq(pool.head, pool.last).foreach { s =>
      val rec = ctx.rec(stmt(s), "thrift")
      ctx.exec(rec)(JdbcClient.run(conn, rec, ctx.schema(s)))
    } finally conn.close()
  }

  def run(ctx: Ctx, seconds: Double): Seq[Rec] = {
    val conn = ctx.connect("a0")
    val out = Seq.newBuilder[Rec]
    try cycles(seconds) { _ =>
      shuffled(pool.init).foreach { s =>
        val rec = ctx.rec(s, "thrift")
        out += ctx.exec(rec)(JdbcClient.run(conn, rec, ctx.schema(s)))
      }
      val rec = ctx.rec(stmt(pool.last), "thrift")
      out += ctx.exec(rec)(JdbcClient.run(conn, rec, ctx.schema(pool.last)))
    } finally conn.close()
    out.result()
  }

  override def verifyAfter(spark: SparkSession, ctx: Ctx, recs: Seq[Rec]): Seq[String] = {
    val want = ctx.oracle(CtasCheck.id)
    val names = spark.sql(s"SHOW TABLES IN ${Fixture.Db}").collect().map(_.getString(1))
      .filter(_.startsWith("ctas_"))
    val bad = names.toSeq.flatMap { t =>
      val df = spark.table(s"${Fixture.Db}.$t")
      val got = Digest.ofRows(df.schema, df.collect())
      if (got == want._2) None else Some(s"$t digest $got != oracle ${want._2}")
    }
    names.foreach(t => spark.sql(s"DROP TABLE ${Fixture.Db}.$t"))
    bad
  }
}

/** One client alternating the REST statements API and the Trino
  * protocol over the typed projection and small aggregates: the fetch
  * layer served by the other two encoders.
  */
final class RestTrino(seed: Long) extends Workload(seed) {
  def name = "rest_trino"
  def ns: String = Workload.ServingNs
  def tables = Seq("orders", "customer", "lineitem")
  val pool: IndexedSeq[Stmt] =
    Stmt(0, "projection", Workload.projection(rng)) +:
      (1 to 8).map(i => Stmt(i, "aggregate", Workload.q6(rng)))
  def ratioStmt: Stmt = pool(0)
  val PageRows = 1000

  private def one(ctx: Ctx, rest: RestClient, trino: TrinoClient, s: Stmt, viaRest: Boolean): Rec = {
    val rec = ctx.rec(s, if (viaRest) "rest" else "trino")
    ctx.exec(rec) {
      if (viaRest) rest.run(rec, ctx.schema(s)) else trino.run(rec, ctx.schema(s))
    }
  }

  def warmup(ctx: Ctx): Unit = {
    val rest = new RestClient(ctx.gw.httpBase, PageRows)
    val trino = new TrinoClient(ctx.gw.httpBase)
    rest.open()
    try { one(ctx, rest, trino, pool(0), true); one(ctx, rest, trino, pool(1), false) }
    finally rest.close()
  }

  def run(ctx: Ctx, seconds: Double): Seq[Rec] = {
    val rest = new RestClient(ctx.gw.httpBase, PageRows)
    val trino = new TrinoClient(ctx.gw.httpBase)
    rest.open()
    val out = Seq.newBuilder[Rec]
    try cycles(seconds) { _ =>
      val aggs = pool.tail
      val cycle = Seq(pool(0), pool(0)) ++ (0 until 4).map(_ => aggs(rng.nextInt(aggs.length)))
      cycle.zipWithIndex.foreach { case (s, j) => out += one(ctx, rest, trino, s, j % 2 == 0) }
    } finally rest.close()
    out.result()
  }
}
