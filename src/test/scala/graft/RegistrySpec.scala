package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.oracle.OpsGolden
import scala.util.matching.Regex

/** Invariants of the gate registry, `SparkEntry.gates`: what a name-keyed
  * map would hide (a second gate under a taken name silently replaces the
  * first) and what the oracle check relies on (every data dir an oracle
  * reads is one its gate's declared prerequisites write, and every
  * `golden_ops/` dir an oracle reads is one that `OpsGolden` writes).
  */
class RegistrySpec extends AnyFunSuite {

  private val gates = SparkEntry.gates

  /** `<dir>` of every `read_parquet('<Root>/<dir>/sf0.01/…')` in an oracle. */
  private def dirsRead(oracle: String): Set[String] =
    (Regex.quote(s"read_parquet('${Corpus.Root}/") + """(\w+)/sf0\.01/""").r
      .findAllMatchIn(oracle).map(_.group(1)).toSet

  /** Data dirs the gate's oracle reads that no declared prerequisite writes. */
  private def undeclared(g: SparkEntry.Gate): Set[String] =
    dirsRead(g.oracle) -- g.needs.flatMap(_.dirs)

  test("gate names are unique") {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(dups.isEmpty, s"gates declared more than once: ${dups.mkString(", ")}")
  }

  test("the registry holds exactly 173 gates") {
    assert(gates.size == 173)
  }

  test("every oracle read_parquet is under the data root") {
    val stray = gates.filter(g =>
      "read_parquet\\('".r.findAllMatchIn(g.oracle).size !=
        (Regex.quote(s"read_parquet('${Corpus.Root}/") + """\w+/sf0\.01/""").r
          .findAllMatchIn(g.oracle).size)
    assert(stray.isEmpty, s"reads outside ${Corpus.Root}: ${stray.map(_.name)}")
  }

  test("every data dir an oracle reads is one its gate's prerequisites write") {
    val bad = gates.map(g => g.name -> undeclared(g)).filter(_._2.nonEmpty)
    assert(bad.isEmpty, s"read but not declared: ${bad.mkString(", ")}")
  }

  test("an oracle reading a dir its gate does not declare fails the check") {
    val g = SparkEntry.Gate.of("q_undeclared",
      s"SELECT doc_id FROM read_parquet('${Corpus.Root}/golden_web_meta/sf0.01/*.parquet')",
      SparkEntry.Prereq.Web)((s, _) => s.emptyDataFrame)
    assert(undeclared(g) == Set("golden_web_meta"))
    assert(undeclared(g.copy(needs = Seq(SparkEntry.Prereq.WebMeta))).isEmpty)
  }

  test("the golden_ops dirs the oracles read are exactly the goldens OpsGolden writes") {
    val read = gates.flatMap(g =>
      """golden_ops/sf0\.01/(\w+)/""".r.findAllMatchIn(g.oracle).map(_.group(1))).toSet
    assert(read == OpsGolden.names.toSet,
      s"read but not written: ${read -- OpsGolden.names}; " +
        s"written but not read: ${OpsGolden.names.toSet -- read}")
  }
}
