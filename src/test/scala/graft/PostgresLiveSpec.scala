package graft

import graft.procurement.{DataGenerator, Queries}
import graft.sources.MasterData
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** S6 against a LIVE PostgreSQL — the engine the reference actually
  * federates (trino/etc/catalog/postgresql.properties;
  * init-scripts/postgres/init.sql:9-71 seeds the master tables). The
  * Derby spec proves the JDBC code path; this one closes the
  * federation-fidelity gap by running the same roundtrip + pushdown +
  * query-parity checks against a real PostgreSQL 15 server.
  *
  * Lifecycle: a throwaway cluster in a temp dir, initdb'd and run AS THE
  * `nobody` USER (PostgreSQL refuses to start as root, which this
  * container is), listening on a free localhost port with trust auth.
  * The cheap preconditions — server binaries, su, the public
  * org.postgresql driver on the test classpath (see build.sbt) — are
  * checked when the tests are registered: without them every test is
  * registered as ignored and reported skipped. A server that then fails
  * to start cancels the tests through `assume` instead of failing them. */
class PostgresLiveSpec extends SparkSpec with BeforeAndAfterAll {

  private val work = java.nio.file.Files.createTempDirectory("graft_pglive")
  private val dataDir = work.resolve("data")

  private def run(cmd: String): (Int, String) = {
    val pb = new ProcessBuilder("su", "-s", "/bin/sh", "nobody", "-c", cmd)
    pb.directory(work.toFile)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    p.waitFor()
    (p.exitValue(), out)
  }

  private def haveBinaries: Boolean =
    Seq("/usr/local/bin/initdb", "/usr/local/bin/pg_ctl", "/bin/su", "/usr/bin/su")
      .count(p => new java.io.File(p).exists()) >= 3 ||
      (new java.io.File("/usr/local/bin/initdb").exists() &&
        new java.io.File("/usr/local/bin/pg_ctl").exists())

  private def haveDriver: Boolean =
    scala.util.Try(Class.forName("org.postgresql.Driver")).isSuccess

  private val runnable = haveBinaries && haveDriver

  /** A live-server test, ignored without binaries or driver. */
  private def liveTest(name: String)(body: => Any): Unit =
    if (runnable) test(name)(body) else ignore(name)(body)

  /** Some(port) when a live server came up; None cancels every test. */
  private lazy val port: Option[Int] =
    if (!runnable) None
    else scala.util.Try {
      val sock = new java.net.ServerSocket(0)
      val p = sock.getLocalPort
      sock.close()
      java.nio.file.Files.createDirectories(work)
      // the cluster dir must belong to the non-root server user
      new ProcessBuilder("chown", "-R", "nobody", work.toString).start().waitFor()
      val (rc1, out1) = run(s"initdb -D $dataDir --no-sync -A trust")
      require(rc1 == 0, s"initdb failed:\n$out1")
      // -k <work>: unix socket in the writable temp dir (not /var/run);
      // JDBC connects over TCP on the free port anyway
      val (rc2, out2) = run(
        s"pg_ctl -D $dataDir -l $work/pg.log -o '-p $p -k $work' -w start")
      require(rc2 == 0, s"pg_ctl start failed:\n$out2")
      p
    }.toOption

  override def afterAll(): Unit = {
    try {
      if (port.isDefined) run(s"pg_ctl -D $dataDir -m immediate stop")
      ()
    } finally {
      scala.util.Try {
        java.nio.file.Files.walk(work).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
      super.afterAll()
    }
  }

  private def url = s"jdbc:postgresql://127.0.0.1:${port.get}/postgres"
  private val opts = Map("driver" -> "org.postgresql.Driver", "user" -> "nobody")

  private lazy val gen = new DataGenerator(seed = 7L)
  private lazy val fixtures = gen.masterFrames(spark)

  // the six master tables written INTO live PostgreSQL through Spark's
  // JDBC sink, then read back through MasterData — the reference's
  // federation shape (Trino catalog → postgres) on Spark's JDBC source
  private lazy val live: Map[String, org.apache.spark.sql.DataFrame] = {
    fixtures.foreach { case (t, df) =>
      opts.foldLeft(
        df.write.format("jdbc").option("url", url).option("dbtable", t)
      ) { case (w, (k, v)) => w.option(k, v) }.mode("overwrite").save()
    }
    MasterData.masterFramesJdbc(spark, url, opts)
  }

  liveTest("S6-live: all six master tables roundtrip through PostgreSQL bit-exactly") {
    assume(port.isDefined, "no live PostgreSQL available in this environment")
    assert(live.keySet === MasterData.masterTables.toSet)
    for (t <- MasterData.masterTables) {
      val want = fixtures(t).collect().map(_.toSeq).toSet
      val got = live(t).selectExpr(fixtures(t).columns.map(c => s"`$c`"): _*)
        .collect().map(_.toSeq).toSet
      assert(got === want, s"PostgreSQL roundtrip mismatch for $t")
    }
  }

  liveTest("S6-live: dimension probes push filters into the remote PostgreSQL SQL") {
    assume(port.isDefined, "no live PostgreSQL available in this environment")
    val probe = live("products").filter(col("is_active")).select("sku_id")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("is_active"),
      s"filter must reach the JDBC scan, got:\n$plan")
  }

  liveTest("S6-live: Q1 over live PostgreSQL master data equals Q1 over fixture frames") {
    assume(port.isDefined, "no live PostgreSQL available in this environment")
    import spark.implicits._
    val orders = gen.rawOrders(java.time.LocalDate.of(2026, 1, 14), 500).toDF()
    def q1(m: Map[String, org.apache.spark.sql.DataFrame]) =
      Queries.aggregateOrders(orders, m("products"), m("warehouses"))
        .collect().map(_.toSeq).toSet
    assert(q1(live) === q1(fixtures))
  }
}
