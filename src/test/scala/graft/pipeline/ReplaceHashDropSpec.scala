package graft.pipeline

import graft.model._
import graft.sink.RecordingTransport
import org.scalatest.BeforeAndAfterEach

/** The PII hashers can DROP rows (all-empty PII, no passthrough columns), so
  * the sink's batch counts / firstPid / empty-source check must be computed
  * from the POST-hash frame — otherwise the iteration-1 REPLACE cleanup
  * silently never reaches the API (round-7 ADVICE medium).
  */
class ReplaceHashDropSpec extends graft.SparkTestBase with BeforeAndAfterEach {
  override def beforeEach(): Unit = RecordingTransport.reset()

  test("REPLACE cleanup fires even when the hasher drops the first partition's rows") {
    // adsShape drops rows whose every PII field is empty when the source has
    // no passthrough columns. Partition 0 holds ONLY such rows, so it is
    // non-empty pre-hash but empty post-hash: batch counts (and firstPid)
    // must come from the POST-hash frame or phase A sends nothing and the
    // iteration-1 remove_all never reaches the API.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val branch = graft.pipeline.Branches.all
      .find(_.destinationType == DestinationType.AdsCustomerMatchContactInfoUpload).get
    val execution = Execution(AccountConfig(googleAdsAccountId = "1234567890"),
      SourceSpec("s", SourceType.File, Seq("parquet", "unused")),
      DestinationSpec("d", DestinationType.AdsCustomerMatchContactInfoUpload,
        Seq("list1", "REPLACE")))
    val schema = StructType(Seq(StructField("email", StringType),
      StructField("phone", StringType)))
    // parallelize preserves slice order: slice 0 → partition 0 (all-null PII)
    val rdd = spark.sparkContext.parallelize(Seq[Row](
      Row(null, null), Row(null, null),            // partition 0: dropped post-hash
      Row("a@x.com", "1"), Row("b@x.com", "2")), 2) // partition 1: survives
    val df = spark.createDataFrame(rdd, schema)
    val hashed = branch.hasher.get(df, execution.destination.metadata)
    // sanity: the hasher really empties partition 0 while pre-hash it's 2+2
    val postCounts = hashed.rdd.mapPartitionsWithIndex((pid, it) =>
      Iterator((pid, it.size))).collect().toMap
    assert(postCounts(0) == 0 && postCounts(1) == 2, s"counts: $postCounts")
    val (_, result) = Pipeline.uploadStage(spark, hashed, execution, branch,
      PipelineOptions(transport = RecordingTransport()), 0L)
    assert(result.attempted == 2)
    val sent = RecordingTransport.sent.toArray(Array.empty[RecordingTransport.Sent])
    val opsBodies = sent.filter(_.req.kind == "add_offline_user_data_job_operations").map(_.req.body)
    assert(opsBodies.count(_.contains(""""remove_all": true""")) == 1,
      s"iteration-1 cleanup did not fire exactly once: ${opsBodies.mkString("\n")}")
    assert(opsBodies.head.contains(""""remove_all": true"""),
      "remove_all was not the first operations request")
  }

  test("REPLACE source fully dropped by the hasher still takes the empty-batch path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val branch = graft.pipeline.Branches.all
      .find(_.destinationType == DestinationType.AdsCustomerMatchContactInfoUpload).get
    val execution = Execution(AccountConfig(googleAdsAccountId = "1234567890"),
      SourceSpec("s", SourceType.File, Seq("parquet", "unused")),
      DestinationSpec("d", DestinationType.AdsCustomerMatchContactInfoUpload,
        Seq("list1", "REPLACE")))
    val schema = StructType(Seq(StructField("email", StringType),
      StructField("phone", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq[Row](Row(null, null), Row(null, null)), 2), schema)
    val hashed = branch.hasher.get(df, execution.destination.metadata)
    Pipeline.uploadStage(spark, hashed, execution, branch,
      PipelineOptions(transport = RecordingTransport()), 0L)
    val sent = RecordingTransport.sent.toArray(Array.empty[RecordingTransport.Sent])
    // non-empty pre-hash, empty post-hash → the ONE-empty-batch cleanup
    // must still clear the stale audience
    assert(sent.count(_.req.body.contains(""""remove_all": true""")) == 1)
  }

}
