package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry consistency: the driver silently records `no_oracle` for a
  * query whose SQL key is missing and silently SKIPS oracle SQL whose query
  * key is absent — both would look like coverage loss in CORRECTNESS. */
class SparkEntrySpec extends AnyFunSuite {
  test("every oracleSql key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("registry sizes match the documented counts") {
    assert(SparkEntry.queries.size == 111, s"queries: ${SparkEntry.queries.size}")
    assert(SparkEntry.oracleSql.size == 108, s"oracles: ${SparkEntry.oracleSql.size}")
  }

  test("oracle dump parses back to every twin SQL text exactly") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val JObject(fields) = parse(SparkEntry.oracleJson(_ => true))
    assert(fields.size == 108, s"oracles: ${fields.size}")
    assert(fields.map(_._1).toSet == SparkEntry.oracleSql.keySet)
    fields.foreach { case (k, v) =>
      assert(v == JString(SparkEntry.oracleSql(k)), s"$k does not round-trip")
    }
  }

  test("oracle dump bytes match the pinned DumpOracle md5") {
    // the fixture-scale knob rewrites the twins' series bounds on purpose
    assume(!sys.env.contains("SPARK_GRAFT_FIX_MULT"))
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(SparkEntry.oracleJson(_ => true).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(md5 == "5f857abaaa9cfecf1de001e9db8236d6", "twin SQL text changed")
  }

  test("select sorts the registry and filters it by name prefix") {
    assert(SparkEntry.select(Nil).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Seq("q93", "q04")).map(_._1) ==
      Seq("q04_trend_ols", "q93_ann_lsh_exact"))
  }

  test("query names are well-formed qNN_ prefixes") {
    val bad = SparkEntry.queries.keys.filterNot(_.matches("q\\d{2,3}_[a-z0-9_]+"))
    assert(bad.isEmpty, bad.toString)
  }
}
