package wirebench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.core.{Engine, EngineConfs}
import graft.server.{RestFrontend, ThriftFrontend}

/** The served gateway: one engine over the benchmark's SparkSession,
  * behind the Thrift and REST/Trino frontends on loopback ports.
  */
final class Gateway(spark: SparkSession) {
  val engine = new Engine(spark)
  val thrift: ThriftFrontend = new ThriftFrontend(engine).start()
  val rest = new RestFrontend(engine)
  val restPort: Int = rest.start()

  /** hive-jdbc URL; sessions start in the benchmark's database. */
  def jdbcUrl: String = s"jdbc:hive2://localhost:${thrift.boundPort}/${Fixture.Db};auth=noSasl"
  def httpBase: String = s"http://localhost:$restPort"

  def stop(): Unit = {
    try thrift.stop() catch { case _: Throwable => }
    try rest.stop() catch { case _: Throwable => }
    try engine.close() catch { case _: Throwable => }
  }
}

object Fixture {

  /** The engine's SparkSession, built as `EngineMain` builds it (tuned
    * confs, session zone UTC, UI off) plus the graft extension and the
    * TPC-H generator catalog the data is materialized from.
    */
  def spark(nproc: Int, dir: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("wirebench")
      .config("spark.sql.extensions", classOf[graft.plans.GraftSparkExtension].getName)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.sql.catalog.tpch", classOf[graft.sources.tpch.TpchCatalog].getName)
    val s = EngineConfs(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Database every workload's statements name. */
  val Db = "wb"

  /** Materialize `tables` of the TPC-H generator at namespace `ns`
    * (e.g. `sf0_01`) into parquet tables of [[Db]] and ANALYZE them,
    * `nproc` tables at a time.
    */
  def materialize(spark: SparkSession, ns: String, tables: Seq[String], nproc: Int): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $Db CASCADE")
    spark.sql(s"CREATE DATABASE $Db")
    parallel(tables, nproc) { t =>
      spark.sql(s"CREATE TABLE $Db.$t USING parquet AS SELECT * FROM tpch.$ns.$t")
      spark.sql(s"ANALYZE TABLE $Db.$t COMPUTE STATISTICS")
    }
  }

  /** `f` over `xs` on `threads` threads; results in input order. */
  def parallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }
}
