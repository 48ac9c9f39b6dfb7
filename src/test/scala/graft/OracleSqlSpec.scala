package graft

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the oracle SQL: the registry's DuckDB SQL must equal the committed
  * `oracle_sql.json` byte for byte, so a refactor of the query sources
  * (folding a pasted CTE into `queries/Bases.scala`, say) cannot change
  * an oracle unnoticed. Nothing regenerates the committed file: a change
  * that means to alter an oracle copies the `oracle_sql.json` that
  * `graft.Verify` writes to its output directory over it. Needs no Spark
  * session.
  */
class OracleSqlSpec extends AnyFunSuite with Matchers {

  test("oracleSql equals the bare-name keys of the committed oracle_sql.json") {
    val file = Paths.get(sys.props("user.dir"), "oracle_sql.json").toFile
    val committed = new ObjectMapper()
      .readValue(file, classOf[java.util.Map[String, String]]).asScala
      .filter { case (k, _) => !k.endsWith(".parquet") }.toMap
    val current = SparkEntry.oracleSql
    current.keySet shouldBe committed.keySet
    val changed = current.keys.toSeq.sorted.filter(k => current(k) != committed(k))
    changed shouldBe empty
  }
}
