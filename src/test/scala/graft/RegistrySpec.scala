package graft

import graft.registry._
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The registry's shape: every row is declared once, in the file its name
  * prefix selects, with a body and a non-blank oracle.
  */
class RegistrySpec extends AnyFunSuite {

  private val prefixOf: Map[Family, String] = Map(
    PipelineRows -> "p_", TpchRows -> "q\\d+_", QueryRows -> "q_",
    StreamRows -> "s_", DedupRows -> "d_", EmbeddingRows -> "e_",
    MediaRows -> "m_", TextRows -> "t_", CurationRows -> "c_",
    GraphRows -> "g_")

  test("306 rows, one oracle per query, none blank") {
    assert(SparkEntry.queries.size == 306)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }.isEmpty)
  }

  test("each row is declared in the file its name prefix selects") {
    assert(Registry.families.toSet == prefixOf.keySet)
    for (fam <- Registry.families) {
      val file = fam.getClass.getSimpleName.stripSuffix("$")
      val src = Files.readString(Paths.get(s"src/main/scala/graft/registry/$file.scala"))
      for (r <- fam.rows) {
        val owners = prefixOf.collect { case (f, p) if r.name.matches(s"$p.*") => f }
        assert(owners.toList == List(fam), s"${r.name} is declared in $file")
        assert(src.contains(s"""row("${r.name}","""), s"${r.name} is not in $file.scala")
      }
    }
  }

  test("a name declared twice fails the assembly, naming the row") {
    val first = new RegistryRow("q_twice", SparkEntry.queries("q_acf"), "SELECT 1")
    val again = new RegistryRow("q_twice", SparkEntry.queries("q_gini"), "SELECT 2")
    val err = intercept[IllegalArgumentException] {
      Registry.index(QueryRows.rows :+ first :+ again)
    }
    assert(err.getMessage.contains("q_twice"))
    assert(Registry.index(Seq(first)).keySet == Set("q_twice"))
  }
}
