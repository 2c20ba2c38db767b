package graft

import graft.config.JsonConfigSource
import graft.io.{DataSource, DataSources}
import graft.model.{DestinationType, TransactionalType}
import graft.pipeline.{Pipeline, PipelineOptions}
import graft.sink.RecordingTransport
import org.scalatest.BeforeAndAfterEach

/** The injected-format reader seam: any Spark format name flows from config
  * through `DataSources` into `spark.read.format(...)` — the exact plug
  * point where the BigQuery connector attaches in a cluster deployment
  * (`format("bigquery")`, path = "dataset.table"). Proven here end-to-end
  * with "json", a registered format the engine does not special-case.
  */
class ReaderSeamSpec extends SparkTestBase with BeforeAndAfterEach {

  override def beforeEach(): Unit = RecordingTransport.reset()

  private val T = "2024-05-01T10:00:00.000000"

  private def writeJsonSource(dir: String): String = {
    val path = s"$dir/conversions.json"
    val lines = (1 to 5).map(i =>
      s"""{"gclid": "g$i", "time": "$T", "amount": "${i}.5", "extraneous": "drop-me"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("\n").getBytes)
    path
  }

  test("retrieveData reads a non-special-cased format through spark.read.format") {
    val dir = java.nio.file.Files.createTempDirectory("graft_seam").toString
    val path = writeJsonSource(dir)
    val ds = DataSource("json", path, s"$dir/conversions_uploaded.parquet")
    val df = DataSources.retrieveData(spark, ds,
      DestinationType.AdsOfflineConversion, TransactionalType.GclidTime)
    // schema pruning applied on top of the injected reader: the extraneous
    // column is gone, the declared ones survive
    assert(df.columns.toSet == Set("gclid", "time", "amount"))
    assert(df.count() == 5)
  }

  test("ORC and JSON-lines readers prune to the destination schema like parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val src = spark.read.json(writeJsonSource(dir))
    src.write.mode("overwrite").orc(s"$dir/conv_orc")
    // "orc" and "json" take the same spark.read.format path as parquet
    for ((format, path) <- Seq("orc" -> s"$dir/conv_orc", "json" -> s"$dir/conversions.json")) {
      val df = DataSources.retrieveData(spark, DataSource(format, path, s"$dir/up.parquet"),
        DestinationType.AdsOfflineConversion, TransactionalType.NotTransactional)
      assert(df.columns.toSet == Set("gclid", "time", "amount"), format)
      assert(df.count() == 5, format)
    }
  }

  test("BigQuery-typed source runs the full pipeline through an injected format") {
    val dir = java.nio.file.Files.createTempDirectory("graft_seam_bq").toString
    writeJsonSource(dir)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "s", "Type": "BIG_QUERY", "Dataset": "ds1", "Table": "conversions"}],
      "Destinations": [{"Name": "d", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["Conv"]}],
      "Connections": [{"Enabled": true, "Source": "s", "Destination": "d"}]
    }"""
    val executions = JsonConfigSource.fromString(config).executions()
    val opts = PipelineOptions(
      transport = RecordingTransport(),
      bqPathFor = (d, t) => s"$dir/$t.json",
      bqFormat = "json")
    val run1 = Pipeline.run(spark, executions, opts)
    assert(run1.exitCode == 0)
    assert(run1.totalUploaded == 5)
    // the GCLID_TIME anti-join + writeback work against the injected-format
    // source exactly as against parquet: run 2 uploads nothing
    val run2 = Pipeline.run(spark, executions, opts)
    assert(run2.exitCode == 0)
    assert(run2.totalUploaded == 0)
  }
}
