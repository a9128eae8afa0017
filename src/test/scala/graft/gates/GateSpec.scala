package graft.gates

import org.scalatest.funsuite.AnyFunSuite

/** The gate index is the one place the families' gate sequences are
  * merged into the driver's name-keyed maps. No Spark session needed. */
class GateSpec extends AnyFunSuite {

  private def gate(name: String) = Gate(name, (_, _) => null, "SELECT 1")

  test("index refuses two gates of one name and names the duplicate") {
    val e = intercept[IllegalArgumentException] {
      Gate.index(Seq(gate("q_a"), gate("q_b"), gate("q_a")))
    }
    assert(e.getMessage.contains("q_a"), e.getMessage)
    assert(!e.getMessage.contains("q_b"), e.getMessage)
  }

  test("index keys each gate by its name") {
    val gs = Seq(gate("q_a"), gate("q_b"))
    assert(Gate.index(gs) == Map("q_a" -> gs(0), "q_b" -> gs(1)))
  }
}
