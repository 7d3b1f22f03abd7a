package graft

import java.nio.file.{Files, Paths}

import org.scalactic.source
import org.scalatest.Assertions

/** Fixture files of the mapshaper reference checkout
 * ([[SparkEntry.ReferenceData]]), named relative to its test data root. */
object ReferenceFixture {

  def path(rel: String): String = s"${SparkEntry.ReferenceData}/$rel"

  def present(rel: String): Boolean = Files.exists(Paths.get(path(rel)))

  /** Cancels the calling test unless every named fixture is present: a
   * reference-parity test checks the contents of its fixture and has
   * nothing to check without it. */
  def assumePresent(rels: String*)(implicit pos: source.Position): Unit =
    rels.foreach(rel => Assertions.assume(present(rel), s"reference fixture ${path(rel)} not present"))
}
