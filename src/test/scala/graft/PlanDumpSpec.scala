package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  /** (exit code, stderr) of one `PlanDump.run`. */
  private def runDump(args: String*): (Int, String) = {
    val err = new ByteArrayOutputStream()
    val code = Console.withErr(err)(PlanDump.run(args.toArray))
    (code, err.toString("UTF-8"))
  }

  test("PlanDump: missing arguments print the usage line and exit 2, before any session") {
    val before = SparkSession.getDefaultSession
    for (args <- Seq(Seq.empty[String], Seq("out"), Seq("out", "sf"))) {
      val (code, err) = runDump(args: _*)
      assert(code == 2, s"args $args")
      assert(err.trim == PlanDump.Usage, s"args $args")
    }
    assert(SparkSession.getDefaultSession == before)
  }

  test("PlanDump: unknown query names are listed with the usage line and exit 2, before any session") {
    val before = SparkSession.getDefaultSession
    val (code, err) = runDump("out", "sf", "q_pip_join", "q_nope", "q_missing")
    assert(code == 2)
    assert(err.contains(PlanDump.Usage))
    assert(err.contains("unknown queries: q_nope q_missing"))
    assert(!err.contains("q_pip_join"))
    assert(SparkSession.getDefaultSession == before)
  }
}
