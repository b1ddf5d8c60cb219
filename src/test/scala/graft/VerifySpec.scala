package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The oracle file is read by a strict JSON parser: any SQL must survive
  * the trip. */
class VerifySpec extends AnyFunSuite {

  test("oracle_sql.json round-trips quotes, backslashes and control characters") {
    val sql = Map(
      "q_plain" -> "SELECT 1",
      "q_hard" -> "SELECT '\"a\"' AS q, 'c:\\\\x' AS b,\t'\r' AS r, '\u0001' AS c\nFROM t")
    val f = Files.createTempFile("oracle_sql", ".json").toFile
    try {
      Verify.writeOracleSql(f, sql)
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      // strict JSON: no raw control character inside the file
      assert(!text.exists(_ < ' '), text)
      val back = new ObjectMapper().readValue(f, classOf[java.util.Map[String, String]])
      assert(back.size == sql.size)
      sql.foreach { case (k, v) => assert(back.get(k) == v, k) }
    } finally f.delete()
  }
}
