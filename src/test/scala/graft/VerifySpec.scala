package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Verify's targeted-dump selection and oracle JSON, without a SparkSession. */
class VerifySpec extends AnyFunSuite {

  test("a named subset of oracles round-trips through writeOracleJson") {
    val queries = Map("a" -> 1, "b" -> 2, "c" -> 3)
    val oracles = Map(
      "a" -> "SELECT '\t' AS t, '\r' AS r FROM x",
      "b" -> "SELECT \"q\" AS \"quoted\", 'c:\\dir' AS p, '\u0001' AS ctl",
      "c" -> "SELECT 1")
    val (qs, sel) = Verify.select(queries, oracles, Seq("a", "b"))
    assert(qs == Map("a" -> 1, "b" -> 2))
    assert(sel == oracles - "c")
    assert(Verify.select(queries, oracles, Nil) == ((queries, oracles)))
    intercept[IllegalArgumentException](Verify.select(queries, oracles, Seq("a", "zz")))

    val path = Files.createTempFile("oracle_sql", ".json")
    try {
      Verify.writeOracleJson(sel, path.toString)
      val parsed = new ObjectMapper().readValue(path.toFile, classOf[java.util.Map[String, String]])
      assert(parsed.asScala.toMap == sel)
    } finally Files.delete(path)
  }
}
