package graft.core

import org.scalatest.funsuite.AnyFunSuite

import Jsons.{obj, value}

/** [[Jsons]]: the value rules, and that what it renders parses. */
class JsonsSpec extends AnyFunSuite {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("strings escape quote, backslash and every control character") {
    assert(Jsons.str("a\"b\\c") === "\"a\\\"b\\\\c\"")
    assert(Jsons.str("x\ny\tz\r\u0001") === "\"x\\u000ay\\u0009z\\u000d\\u0001\"")
    val s = "line one\n\t\"quoted\" \\ back\r\u001f"
    assert(mapper.readTree(obj("s" -> s).text).get("s").asText() === s)
  }

  test("numbers, booleans and null render as JSON literals") {
    assert(obj("i" -> 3, "l" -> 4L, "d" -> 0.5, "e" -> 1.0e-7,
      "b" -> true, "n" -> null).text ===
      """{"i":3,"l":4,"d":0.5,"e":1.0E-7,"b":true,"n":null}""")
    mapper.readTree(obj("e" -> 1.0e-7, "big" -> 1.0e20).text)
  }

  test("NaN and the infinities render as null") {
    assert(obj("a" -> Double.NaN, "b" -> Double.PositiveInfinity,
      "c" -> Double.NegativeInfinity).text ===
      """{"a":null,"b":null,"c":null}""")
  }

  test("a None field is left out; a Some renders its content") {
    assert(obj("a" -> 1, "b" -> None, "c" -> Some("x")).text ===
      """{"a":1,"c":"x"}""")
    assert(obj("only" -> None).text === "{}")
  }

  test("nested objects and arrays, Raw embedded as is") {
    val j = obj("o" -> obj("k" -> Seq(1L, 2L)), "xs" -> Seq(obj("a" -> 1),
      obj()), "arr" -> Array("p", "q"), "raw" -> Jsons.Raw("[true]"))
    assert(j.text ===
      """{"o":{"k":[1,2]},"xs":[{"a":1},{}],"arr":["p","q"],"raw":[true]}""")
    assert(mapper.readTree(j.text).get("xs").size() === 2)
    assert(value(Seq.empty) === "[]")
  }

  test("a value with no JSON rendering fails loudly") {
    intercept[IllegalArgumentException](value(new java.util.Date(0)))
  }

  test("the Bench line keeps its field order") {
    val line = obj("metric" -> "total", "value" -> 1.5, "unit" -> "sec",
      "calib_s" -> 0.25, "loadavg_start" -> 0.5, "loadavg_end" -> 0.75,
      "queries" -> obj("q01" -> 1.5), "queries_runs" -> obj("q01" -> Seq(1.5, 2.0)),
      "isolated" -> obj(), "verdicts" -> obj("q01" -> "ok"),
      "errors" -> obj(), "sf" -> "/data/sf0.1").text
    assert(line === """{"metric":"total","value":1.5,"unit":"sec",""" +
      """"calib_s":0.25,"loadavg_start":0.5,"loadavg_end":0.75,""" +
      """"queries":{"q01":1.5},"queries_runs":{"q01":[1.5,2.0]},""" +
      """"isolated":{},"verdicts":{"q01":"ok"},"errors":{},""" +
      """"sf":"/data/sf0.1"}""")
    val it = mapper.readTree(line).fieldNames()
    val names = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    assert(names === Seq("metric", "value", "unit", "calib_s",
      "loadavg_start", "loadavg_end", "queries", "queries_runs", "isolated",
      "verdicts", "errors", "sf"))
  }
}
