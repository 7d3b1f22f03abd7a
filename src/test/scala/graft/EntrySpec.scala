package graft

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import graft.entry.{Query, ReaderQueries, Registry}

class EntrySpec extends SparkSuite {

  test("entry: flagship image spatial join returns per-polygon stats") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length > 0, "driver smoke check: rows > 0")
    assert(rows.forall(_.getLong(1) > 0)) // n_images
    assert(df.columns.toSeq == Seq("poly_key", "n_images", "n_cells", "sample_caption"))
  }

  test("every query key has either an oracle or a documented rows-only check") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os == qs, s"oracle without query: ${os.diff(qs)}; query without oracle: ${qs.diff(os)}")
    // every query builds on sf0.001 with a resolvable schema; the reader
    // queries need the reference test data and are skipped only without it
    val readers = ReaderQueries.all.map(_.name).toSet
    val skipped =
      if (Files.isDirectory(Paths.get(SparkEntry.ReferenceData))) Set.empty[String] else readers
    if (skipped.nonEmpty)
      info(s"no ${SparkEntry.ReferenceData}; not built: ${skipped.toSeq.sorted.mkString(", ")}")
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => skipped(q._1)).flatMap {
      case (name, fn) =>
        Try(fn(spark, Sf).schema) match {
          case Success(schema) if schema.fields.nonEmpty => None
          case Success(_) => Some(s"$name: empty schema")
          case Failure(e) => Some(s"$name: $e")
        }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("a query name declared twice fails registry construction") {
    val q = Query("q_twice", (s, _) => s.emptyDataFrame, () => "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Registry.index(Seq(q, Query("q_once", q.build, q.oracle), q.copy(oracle = () => "SELECT 2"))))
    assert(e.getMessage.contains("q_twice") && !e.getMessage.contains("q_once"), e.getMessage)
    assert(Registry.index(Seq(q)).keySet == Set("q_twice"))
  }
}
