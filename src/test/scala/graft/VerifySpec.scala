package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Verify.jsonString` writes oracle_sql.json, which the oracle checker
  * reads with a strict JSON parser — so its output is checked by one. */
class VerifySpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def roundTrip(s: String): String =
    mapper.readValue(Verify.jsonString(s), classOf[String])

  test("jsonString round-trips quote, backslash, newline, tab and raw control chars") {
    // Jackson rejects an unescaped control char, so every case also
    // checks that none is left raw
    val cases = Seq(
      "say \"hi\"", "a\\b", "line1\nline2", "col1\tcol2", "cr\r", "x\u0001y",
      (0 until 0x20).map(_.toChar).mkString, "ünïcødé ▁ ok", "")
    cases.foreach(s => assert(roundTrip(s) == s, s"for ${s.map(_.toInt)}"))
  }
}
