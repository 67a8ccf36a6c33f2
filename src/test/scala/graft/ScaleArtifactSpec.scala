package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import ScaleHarness.{inputs, json, obj, spliceJsonSection}

/** The scale artifact's writer, its section splice and `graft.Scale`'s
  * input parsing. No Spark session.
  */
class ScaleArtifactSpec extends AnyFunSuite {

  private def tmp(content: String): Path = {
    val p = Files.createTempFile("scale_artifact", ".json")
    Files.write(p, content.getBytes(UTF_8))
    p.toFile.deleteOnExit()
    p
  }

  private def read(p: Path) = new String(Files.readAllBytes(p), UTF_8)

  test("objects keep their field order at every depth") {
    assert(json(obj("z" -> 1, "a" -> obj("y" -> 2, "b" -> 3), "m" -> 4)) ==
      """{"z":1,"a":{"y":2,"b":3},"m":4}""")
    val ledger = scala.collection.mutable.LinkedHashMap("q9" -> 1.5, "q1" -> 0.25)
    assert(json(obj("op_sec" -> ledger)) == """{"op_sec":{"q9":1.5,"q1":0.25}}""")
  }

  test("Long, Double, Boolean and null values keep their JSON form") {
    assert(json(obj("l" -> (1L << 40), "i" -> 7, "d" -> 0.30, "r" -> 1.0,
      "t" -> true, "f" -> false, "none" -> None, "null" -> null,
      "some" -> Some(0.8), "boxed" -> Option(java.lang.Double.valueOf(0.25)))) ==
      """{"l":1099511627776,"i":7,"d":0.3,"r":1.0,"t":true,"f":false,""" +
        """"none":null,"null":null,"some":0.8,"boxed":0.25}""")
  }

  test("strings are escaped") {
    val s = "quote\" back\\slash\nnew\ttab\u0001ctl é"
    val text = json(obj("s" -> s))
    assert(text ==
      "{\"s\":\"quote\\\" back\\\\slash\\nnew\\ttab\\u0001ctl é\"}")
    assert(new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      .get("s").asText() == s)
  }

  test("arrays of objects and of scalars") {
    assert(json(obj("epochs" -> Seq(obj("epoch" -> 0, "sec" -> 1.25),
      obj("epoch" -> 1, "sec" -> 0.5)), "failed" -> List("a", "b"),
      "none" -> Nil)) ==
      """{"epochs":[{"epoch":0,"sec":1.25},{"epoch":1,"sec":0.5}],""" +
        """"failed":["a","b"],"none":[]}""")
  }

  test("a value with no JSON form is refused, not written as a string") {
    intercept[IllegalArgumentException](json(obj("t" -> (1, 2))))
  }

  test("a splice replaces its own key and keeps every other section, " +
      "whatever the capture order") {
    val p = tmp("""{"metric":"scale_smoke_30x","value":1.5}""")
    // x300 captured before x100: both must stand
    assert(spliceJsonSection(p, "x300", obj("metric" -> "scale_smoke_300x")))
    assert(spliceJsonSection(p, "x100", obj("metric" -> "scale_smoke_100x",
      "failed" -> Seq("x"))))
    assert(read(p) == """{"metric":"scale_smoke_30x","value":1.5,""" +
      """"x300":{"metric":"scale_smoke_300x"},""" +
      """"x100":{"metric":"scale_smoke_100x","failed":["x"]}}""")
    // re-splicing a key replaces it in place
    assert(spliceJsonSection(p, "x300", obj("metric" -> "again")))
    assert(read(p) == """{"metric":"scale_smoke_30x","value":1.5,""" +
      """"x300":{"metric":"again"},""" +
      """"x100":{"metric":"scale_smoke_100x","failed":["x"]}}""")
  }

  test("a non-object, unparseable or missing target is refused and left " +
      "byte-identical") {
    Seq("[1,2,3]", "\"text\"", "42", """{"metric":""", "not json", "")
      .foreach { content =>
        val p = tmp(content)
        assert(!spliceJsonSection(p, "x100", obj("a" -> 1)), content)
        assert(read(p) == content, content)
      }
    val parent = Files.createTempDirectory("scale_artifact")
    parent.toFile.deleteOnExit()
    val missing = parent.resolve("no.json")
    assert(!spliceJsonSection(missing, "x100", obj("a" -> 1)))
    assert(!Files.exists(missing))
  }

  test("scale inputs: positional arguments around -sf/-cores, two " +
      "partitions per core") {
    val d = inputs(Array("100"))
    assert(d.positional == Seq("100") && d.sfName == "sf0.1" &&
      d.cores == 32 && d.partitions == 64)
    val i = inputs(Array("30", "-sf", "/data/sf0.001", "out.json",
      "-cores", "4", "into.json"))
    assert(i.positional == Seq("30", "out.json", "into.json"))
    assert(i.sf == "/data/sf0.001" && i.sfName == "sf0.001" &&
      i.cores == 4 && i.partitions == 8)
    intercept[IllegalArgumentException](inputs(Array("30", "-cores")))
  }
}
