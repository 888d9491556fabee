package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.gates.{Gate, GateFamily}

class GateRegistrySpec extends AnyFunSuite {

  private def gate(name: String): Gate =
    Gate(name, (s, _) => s.range(1).select(lit(1).alias("x")), "SELECT 1 AS x")

  private object FamilyA extends GateFamily {
    val gates = Seq(gate("q_a"), gate("q_shared"))
  }

  private object FamilyB extends GateFamily {
    val gates = Seq(gate("q_b"), gate("q_shared"))
  }

  test("registry: one name declared in two families fails, naming it") {
    val ex = intercept[IllegalArgumentException](
      SparkEntry.byName(Seq(FamilyA, FamilyB)))
    assert(ex.getMessage.contains("q_shared"), ex.getMessage)
    assert(!ex.getMessage.contains("q_a") && !ex.getMessage.contains("q_b"),
      ex.getMessage)
  }

  test("registry: distinct names register every gate with its own oracle") {
    val reg = SparkEntry.byName(Seq(FamilyA))
    assert(reg.keySet === Set("q_a", "q_shared"))
    assert(reg.values.forall(_.oracleSql == "SELECT 1 AS x"))
  }
}
