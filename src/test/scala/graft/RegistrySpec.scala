package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.oracle.OpsGolden

/** Invariants of the gate registry, `SparkEntry.gates`: what a name-keyed
  * map would hide (a second gate under a taken name silently replaces the
  * first) and what the oracle check relies on (every `golden_ops/` dir an
  * oracle reads is one that `OpsGolden` writes).
  */
class RegistrySpec extends AnyFunSuite {

  private val gates = SparkEntry.gates

  test("gate names are unique") {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(dups.isEmpty, s"gates declared more than once: ${dups.mkString(", ")}")
  }

  test("the registry holds exactly 173 gates") {
    assert(gates.size == 173)
  }

  test("the golden_ops dirs the oracles read are exactly the goldens OpsGolden writes") {
    val read = gates.flatMap(g =>
      """golden_ops/sf0\.01/(\w+)/""".r.findAllMatchIn(g.oracle).map(_.group(1))).toSet
    assert(read == OpsGolden.names.toSet,
      s"read but not written: ${read -- OpsGolden.names}; " +
        s"written but not read: ${OpsGolden.names.toSet -- read}")
  }
}
