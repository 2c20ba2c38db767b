package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, built by the mains' own recipe. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.Sessions.start("graft-test",
    "spark.master" -> "local[4]", graft.io.EventTs.NanosAsLong)

  def sf(name: String): String = s"/root/testdata/$name"
}
