package graft.util

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonStringSpec extends AnyFunSuite {

  test("quote escapes quote, backslash, newline, CR, tab and other control chars") {
    assert(JsonString.quote("a\"b") == "\"a\\\"b\"")
    assert(JsonString.quote("a\\b") == "\"a\\\\b\"")
    assert(JsonString.quote("a\nb") == "\"a\\nb\"")
    assert(JsonString.quote("a\rb") == "\"a\\rb\"")
    assert(JsonString.quote("a\tb") == "\"a\\tb\"")
    assert(JsonString.quote("a\u0001b") == "\"a\\u0001b\"")
    assert(JsonString.quote("plain é") == "\"plain é\"")
  }

  test("every char below 0x80 round-trips through a JSON parser") {
    val s = (0 until 0x80).map(_.toChar).mkString + "é€"
    assert(new ObjectMapper().readValue(JsonString.quote(s), classOf[String]) == s)
  }
}
