package graft.pipeline

import graft.model._
import graft.sink.RecordingTransport

/** The API rate limit is a GLOBAL budget (AppsFlyer: 500 events/s). The
  * sink enforces it by dividing the budget across the partitions that hold
  * rows, so the AGGREGATE send rate stays within the limit — naive
  * per-partition enforcement would multiply it by the partition count.
  */
class RateLimitSpec extends graft.SparkTestBase {
  import spark.implicits._

  test("rate limit bounds the aggregate rate across partitions") {
    RecordingTransport.reset()
    val branch = Branches.all
      .find(_.destinationType == DestinationType.AppsFlyerS2SEvents).get
    assert(branch.rateLimitPerSec.contains(500))
    val execution = Execution(AccountConfig(),
      SourceSpec("s", SourceType.File, Seq("parquet", "unused")),
      DestinationSpec("d", DestinationType.AppsFlyerS2SEvents, Seq("com.app")))
    val n = 1000
    val df = (1 to n).map(i => (s"u$i", s"af$i", "purchase"))
      .toDF("uuid", "appsflyer_id", "event_eventName")
      .repartition(4)
    val opts = PipelineOptions(transport = RecordingTransport())
    val t0 = System.nanoTime()
    val (_, sent) = Pipeline.uploadStage(spark, df, execution, branch, opts, opts.nowMicros())
    val ok = sent.succeeded
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(ok == n)
    // 1000 rows at a global 500/s may not finish under ~2 s even with 4
    // partitions sending in parallel; per-partition enforcement would
    // finish in ~0.5 s + job overhead.
    assert(elapsedSec >= n.toDouble / 500 * 0.9, s"finished too fast: $elapsedSec s")
  }
}
