package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The driver failure contract: a query that fails makes Verify and
  * Explain exit 1, after all of their output is written. Each main runs
  * in a child JVM, because both stop the session this suite shares.
  */
class DriverExitSpec extends AnyFunSuite {

  /** Runs `main` in a child JVM on this JVM's classpath and flags;
    * returns its exit code and combined stdout and stderr.
    */
  private def runMain(main: String, args: Seq[String], env: Map[String, String]): (Int, String) = {
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmFlags ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    (p.waitFor(), out)
  }

  private def scratch(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  test("Verify exits 1 on a failed query, after writing all four manifests") {
    val missing = scratch("graft-noinput-").resolve("absent").toString
    val out = scratch("graft-verify-")
    val (rc, log) = runMain("graft.Verify", Seq(missing, out.toString),
      Map("SPARK_GRAFT_ONLY" -> "q_theta_overlap"))
    assert(rc == 1, log)
    Seq("oracle_sql.json", "queries.json", "_failures.json", "query_meta.json")
      .foreach(f => assert(Files.exists(out.resolve(f)), s"$f not written:\n$log"))
    assert(Files.readString(out.resolve("_failures.json")).contains("\"q_theta_overlap\""))
  }

  test("Explain exits 1 after every name printed, naming the failed one") {
    val missing = scratch("graft-noinput-").resolve("absent").toString
    val (rc, log) = runMain("graft.Explain", Seq(missing, "q_theta_overlap", "q_kll_quantiles"),
      Map.empty)
    assert(rc == 1, log)
    Seq("q_theta_overlap", "q_kll_quantiles").foreach { name =>
      assert(log.contains(s"===================== $name ====="), log)
    }
    assert("EXPLAIN FAILED".r.findAllIn(log).length == 2, log)
  }
}
