package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The generated oracle SQL must depend only on its arguments, never
  * on which operator object happened to build its SQL first.
  */
class OracleEmulSpec extends AnyFunSuite {

  private def binders(sql: String): Seq[String] =
    """(mz[abc]\d+) ->""".r.findAllMatchIn(sql).map(_.group(1)).toSeq

  test("mix: the text depends on the argument alone; a nested mix binds distinct names") {
    assert(OracleEmul.mix("x") === OracleEmul.mix("x"),
      "two calls on the same argument must generate the same SQL")
    val nested = OracleEmul.mix(OracleEmul.mix("x"))
    val names = binders(nested)
    assert(names.length === 6, s"two mixes bind three names each: $names")
    assert(names.distinct.length === names.length, s"nested mix reuses a name: $names")
  }
}
