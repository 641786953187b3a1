package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Verify.oracleJson()` is what the driver loads as `oracle_sql.json`:
  * a parse failure or a missing key voids the round's correctness. */
class VerifySpec extends AnyFunSuite {

  test("oracleJson: one entry per gate holding its row's oracle; escapes round-trip") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(Verify.oracleJson())
    import scala.jdk.CollectionConverters._
    val keys = tree.fieldNames().asScala.toSeq
    // the gate count is the comparable suite size; change it deliberately
    assert(SparkEntry.gates.size === 162)
    assert(keys.sorted === SparkEntry.gates.map(_.name).sorted, "one key per gate, no duplicates")
    for (g <- SparkEntry.gates)
      assert(tree.get(g.name).asText === g.oracle, s"${g.name}: oracle differs after parsing")
    // each of these would break the driver's json.load if written raw
    val nasty = "SELECT '\t' AS tab, '\r' AS cr, \"q\" AS quote, '\\' AS bs, '\u0001'\n"
    assert(mapper.readTree(Verify.jsonString(nasty)).asText === nasty)
  }
}
