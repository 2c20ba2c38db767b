package graft

import com.fasterxml.jackson.databind.json.JsonMapper
import graft.util.Sessions
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The one session recipe every main and this test base builds from, the
  * per-query cleanup between registry rows, and the `oracle_sql.json`
  * writer.
  */
class SessionsSpec extends SparkTestBase {

  private val Shuffle = "spark.sql.shuffle.partitions"
  private val cores = Runtime.getRuntime.availableProcessors()

  private def recipe(props: (String, String)*)(confs: (String, String)*) =
    Sessions.recipe(confs, props.toMap, cores)

  test("a launcher-set shuffle width survives the recipe") {
    // the Main this recipe replaced overwrote it with SPARK_GRAFT_CPUS or 32
    assert(recipe(Shuffle -> "400")()(Shuffle) == "400")
    assert(recipe("spark.master" -> "local[3]", Shuffle -> "400")()(Shuffle) == "400")
  }

  test("shuffle width defaults to a local master's cores and nothing else") {
    assert(recipe()()("spark.master") == "local[*]")
    assert(recipe()()(Shuffle) == cores.toString)
    assert(recipe("spark.master" -> "local[3]")()(Shuffle) == "3")
    assert(recipe("spark.master" -> "local[*]")()(Shuffle) == cores.toString)
    assert(recipe()("spark.master" -> "local[2]")(Shuffle) == "2")
    assert(recipe("spark.master" -> "local")()(Shuffle) == "1")
    assert(!recipe("spark.master" -> "local-cluster[2,1,1024]")().contains(Shuffle))
    assert(!recipe("spark.master" -> "yarn")().contains(Shuffle))
  }

  test("one-host defaults apply to local masters only; yarn keeps Spark's") {
    val oneHost = Seq("spark.ui.enabled", "spark.executor.heartbeatInterval",
      "spark.network.timeout")
    Seq("local", "local[3]", "local[*]", "local-cluster[2,1,1024]").foreach { m =>
      assert(oneHost.forall(recipe("spark.master" -> m)().contains), m)
    }
    val yarn = recipe("spark.master" -> "yarn")()
    assert(oneHost.forall(k => !yarn.contains(k)))
    assert(yarn.keySet == Set("spark.master", "spark.sql.extensions",
      "spark.sql.session.timeZone"))
  }

  test("local-cluster executors get the driver's classpath") {
    val cp = "/a.jar:/b.jar"
    assert(recipe("spark.master" -> "local-cluster[2,1,1024]",
      "java.class.path" -> cp)()("spark.executor.extraClassPath") == cp)
    assert(!recipe("java.class.path" -> cp)().contains("spark.executor.extraClassPath"))
  }

  test("graft.* system properties reach the conf; other properties do not") {
    val r = recipe("graft.checkpoint.storage" -> "MEMORY_AND_DISK_SER",
      "user.dir" -> "/x")()
    assert(r("graft.checkpoint.storage") == "MEMORY_AND_DISK_SER")
    assert(!r.contains("user.dir"))
  }

  test("engine confs are fixed; defaults yield to the caller and the launcher") {
    val r = recipe("spark.sql.session.timeZone" -> "PST",
      "spark.ui.enabled" -> "true")("spark.sql.extensions" -> "x")
    assert(r("spark.sql.session.timeZone") == "UTC")
    assert(r("spark.sql.extensions") == "graft.GraftExtensions")
    assert(r("spark.ui.enabled") == "true")
    assert(recipe()()("spark.ui.enabled") == "false")
  }

  test("nanosAsLong is the registry callers' conf, not the CLI's") {
    // With the flag a TIMESTAMP(NANOS) source column reads as an epoch-ns
    // bigint instead of failing with PARQUET_TYPE_ILLEGAL. The registry's
    // readers normalize that (graft.io.EventTs); graft.Main, which passes
    // no confs, would upload the raw numbers as conversion times.
    val (key, on) = graft.io.EventTs.NanosAsLong
    assert(!recipe()().contains(key))
    assert(recipe()(graft.io.EventTs.NanosAsLong)(key) == on)
    assert(spark.conf.get(key) == on)
  }

  test("AQE and the shuffled-hash threshold hold Spark's defaults unset") {
    val r = recipe()(graft.io.EventTs.NanosAsLong)
    val shj = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    assert(!r.contains("spark.sql.adaptive.enabled") && !r.contains(shj))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // a byte size: Spark prints its default as "0b"
    assert(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(spark.conf.get(shj)) == 0L)
  }

  test("the per-query cleanup leaves no pin and no temp view behind") {
    val dir = sf("sf0.001")
    Seq("q_sql_gateway", "q_acf").foreach(n => SparkEntry.queries(n)(spark, dir).count())
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(spark.catalog.listTables().collect().exists(_.isTemporary))
    Sessions.clearQueryState(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(!spark.catalog.listTables().collect().exists(_.isTemporary))
  }

  test("SPARK_GRAFT_ONLY selects the named rows; unset keeps all") {
    val keep = SparkEntry.only(Some(" q1_pricing_summary, ,q_acf "))
    assert(keep("q1_pricing_summary") && keep("q_acf") && !keep("q3_top_orders"))
    assert(SparkEntry.only(None)("q3_top_orders"))
  }

  test("oracle_sql.json round-trips every oracle and every escape") {
    val planted = "zz_planted" -> "SELECT '\t\r\u0001\"\\' AS x"
    val m = SparkEntry.oracleSql + planted
    val f = Files.createTempFile("oracle_sql", ".json")
    try {
      graft.tools.DumpOracles.write(f, m)
      val back = JsonMapper.builder().build()
        .readValue(f.toFile, classOf[java.util.Map[String, String]]).asScala.toMap
      assert(back == m)
      assert(back - planted._1 == SparkEntry.oracleSql)
    } finally Files.delete(f)
  }
}
