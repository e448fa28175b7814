package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** [[Json.jstr]] writes literals a real JSON parser reads back unchanged:
  * every ASCII character (all controls included), quotes, backslashes and
  * non-ASCII text, surrogate pairs among it. */
class JsonSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.choose('\u0000', '\u007f').map(_.toString),
    2 -> Gen.oneOf("\"", "\\", "\\\"", "\\n"),
    2 -> Gen.oneOf("é", "ß", "日本", "\u00a0", "\u2028", "\u2029", "\ufeff", "😀"))

  test("jstr round-trips through Jackson for any ASCII, quote, backslash " +
    "and non-ASCII string") {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(1000)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)),
      Prop.forAll(Gen.listOf(piece).map(_.mkString)) { s =>
        mapper.readValue(Json.jstr(s), classOf[String]) == s
      })
    assert(res.passed, res.toString)
  }
}
