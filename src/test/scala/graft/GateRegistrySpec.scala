package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

/** The gate registry: one declaration per query, every oracle present,
  * and every main's name selection failing fast on unknown or empty
  * selections instead of running (and writing) a partial set.
  */
class GateRegistrySpec extends SparkSpec {

  test("the registry declares 202 uniquely named gates, each with an " +
      "oracle") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 202)
    assert(names.distinct.size == names.size,
      s"declared twice: ${names.diff(names.distinct)}")
    // a null here is a family object read before its fields were set
    val missing = SparkEntry.gates.filter(g => g.build == null ||
      g.oracleSql == null || g.oracleSql.trim.isEmpty).map(_.name)
    assert(missing.isEmpty, s"gates without a builder or oracle: $missing")
  }

  test("select keeps the given order, drops repeats, and fails naming " +
      "every unknown name") {
    assert(SparkEntry.select(Seq("q_pca", "mask_static", "q_pca"))
      .map(_.name) == Seq("q_pca", "mask_static"))
    val ex = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q_pca", "no_such_a", "no_such_b", "no_such_a")))
    assert(ex.getMessage.contains("no_such_a, no_such_b"), ex.getMessage)
    assert(!ex.getMessage.contains("q_pca"), ex.getMessage)
    val empty = intercept[IllegalArgumentException](SparkEntry.select(Nil))
    assert(empty.getMessage.contains("empty gate selection"))
  }

  test("every ScaleRehearsal query resolves in the registry") {
    val names = ScaleRehearsal.Queries ++ ScaleRehearsal.RelQueries
    assert(SparkEntry.select(names).map(_.name) == names.distinct)
  }

  test("SparkEntry.entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the mains reject unknown and empty selections before running") {
    assert(Bench.selection(None) == SparkEntry.gates)
    assert(Bench.selection(Some(" q_pca , mask_static ")).map(_.name) ==
      Seq("q_pca", "mask_static"))
    val bench = intercept[IllegalArgumentException](
      Bench.selection(Some("q_pca,q_no_such")))
    assert(bench.getMessage.contains("q_no_such"), bench.getMessage)
    intercept[IllegalArgumentException](Bench.selection(Some(" , ")))

    val out = Files.createTempDirectory("graft_verify_sel")
    val verify = intercept[IllegalArgumentException](
      Verify.main(Array(fixtures, out.toString, "no_gate_has_this")))
    assert(verify.getMessage.contains("empty gate selection"))
    assert(!Files.exists(out.resolve("oracle_sql.json")),
      "an empty selection must not write an oracle dump")

    val explain = intercept[IllegalArgumentException](
      ExplainQuery.main(Array(out.toString, "x", "q_pca,q_no_such")))
    assert(explain.getMessage.contains("q_no_such"), explain.getMessage)
    val profile = intercept[IllegalArgumentException](
      ProfileQuery.main(Array("q_no_such")))
    assert(profile.getMessage.contains("q_no_such"), profile.getMessage)
    val rehearsal = intercept[IllegalArgumentException](
      ScaleRehearsal.main(Array(fixtures, out.toString, "2", "clone",
        "q_no_such")))
    assert(rehearsal.getMessage.contains("q_no_such"), rehearsal.getMessage)
  }

  test("Json.str round-trips quote, backslash, newline, tab and U+0001 " +
      "through a strict JSON reader") {
    val mapper = new ObjectMapper()
    Seq("plain", "a\"b", "back\\slash", "line\nbreak", "tab\there",
      "ctl\u0001x", "\r\u001f\"\\\n\t mixed é").foreach { s =>
      val text = Json.str(s)
      assert(!text.exists(_ < ' '), s"raw control char in $text")
      assert(mapper.readValue(text, classOf[String]) == s, text)
    }
  }
}
