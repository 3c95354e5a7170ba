package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness outputs' one JSON string escaper must round-trip the
  * characters that break a naive writer: a stage name or oracle SQL
  * with a backslash, a quote or a control character. */
class JsonSpec extends AnyFunSuite {

  test("Json.str escapes backslash, quote and control characters") {
    assert(Json.str("""a\b"c""") == """"a\\b\"c"""")
    assert(Json.str("x\ty\nz\r") == "\"x\\ty\\nz\\r\"")
    // other control chars keep their value as a \\u escape, not a space
    assert(Json.str("a\u0001b\u001f") == "\"a\\u0001b\\u001f\"")
    assert(Json.str("") == "\"\"")
    // and a real JSON parser reads every one back unchanged
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (s <- Seq("""a\b"c""", "x\ty\nz\r", "a\u0001b\u001f", "ünï é"))
      assert(mapper.readValue(Json.str(s), classOf[String]) == s)
  }
}
