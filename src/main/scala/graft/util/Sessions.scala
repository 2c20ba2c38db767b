package graft.util

import org.apache.spark.sql.{GraftExpressionBridge, SparkSession}

object Sessions {

  /** Engine confs every session carries, whatever the launcher sets. */
  private val Fixed = Seq(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // graft.io.EventTs and every oracle read instants in UTC
    "spark.sql.session.timeZone" -> "UTC")

  /** Defaults for a session whose executors all run on this host (`local`
    * and `local-cluster`); a launcher (`spark-submit --conf`) or a `-D`
    * system property overrides each. Other masters keep Spark's own
    * defaults: a cluster run keeps its UI and its 120s executor-loss
    * detection. AQE and its shuffled-hash threshold keep Spark's defaults
    * everywhere (on, and 0 = no SMJ→SHJ rewrite): the round-12 A/B
    * (OPTIMIZATION_r12.md) measured a blanket rewrite as net-negative on
    * the posting-list self-joins; star-schema-heavy deployments can set
    * `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold`.
    */
  private val OneHost = Seq(
    "spark.ui.enabled" -> "false",
    // Giant local soaks (sf30: 180M-row lineitem in one 80g JVM) hit
    // multi-minute full-GC pauses; at the 10s/120s defaults the executor
    // misses heartbeats and the driver evicts it mid-query. On one host a
    // missed heartbeat means a GC pause, not a lost machine, so long
    // timeouts cost nothing and keep a run alive through GC.
    "spark.executor.heartbeatInterval" -> "60s",
    "spark.network.timeout" -> "600s")

  /** `local`, `local[N]`, `local[*]` and their `[N,maxFailures]` forms. */
  private val Local = """local(?:\[(\*|\d+)(?:,\s*\d+)?\])?""".r

  /** The confs [[start]] builds a session from: a pure function of the
    * caller's `confs`, the JVM's system properties `props` and its `cores`.
    * Precedence, lowest first: the defaults derived from the master
    * (`local[*]` unless set); the caller's `confs`; every `spark.*` and
    * `graft.*` property (SparkConf alone loads only `spark.*`, so
    * `-Dgraft.…` would otherwise never reach the session); [[Fixed]].
    *
    * A local master gets [[OneHost]] and its core count as the default
    * shuffle width. `local-cluster` gets [[OneHost]] and the driver's
    * classpath, which its executor JVMs do not inherit. Any other master
    * gets no defaults from here.
    */
  def recipe(confs: Seq[(String, String)], props: Map[String, String],
      cores: Int): Map[String, String] = {
    val launcher = props.filter { case (k, _) =>
      k.startsWith("spark.") || k.startsWith("graft.") }
    val chosen = confs.toMap ++ launcher
    val master = chosen.getOrElse("spark.master", "local[*]")
    def local(n: Int) = OneHost :+ ("spark.sql.shuffle.partitions" -> n.toString)
    val derived = master match {
      case Local(null) => local(1)
      case Local("*") => local(cores)
      case Local(n) => local(n.toInt)
      case m if m.startsWith("local-cluster") =>
        OneHost ++ props.get("java.class.path").map("spark.executor.extraClassPath" -> _)
      case _ => Nil
    }
    derived.toMap + ("spark.master" -> master) ++ chosen ++ Fixed
  }

  /** The one way a main (and the test base) builds its session. */
  def start(app: String, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
    recipe(("spark.app.name" -> app) +: confs, sys.props.toMap,
      Runtime.getRuntime.availableProcessors())
      .foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Cleanup between registry rows, so each row starts from the same
    * storage and catalog state: drops cached plans, the pins a row's
    * iterative operators leave behind (the returned plan reads the final
    * round's pin) and its temp views (`q_sql_gateway` registers some; a
    * view can hold every row it was built from).
    */
  def clearQueryState(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    s.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => s.catalog.dropTempView(t.name))
  }

  /** Runs `f` on a clone of `s` with `confs` set on the clone only. The
    * caller's session is never written, so there is nothing to restore and
    * no window in which other threads on `s` (the pipeline's branch
    * threads, a concurrent query) plan under borrowed confs. The clone
    * inherits every runtime conf and session listener of `s` and shares
    * its SparkContext and cache; frames `f` builds belong to the clone
    * (rebind a result with [[GraftExpressionBridge.rebind]] to plan it
    * under the caller's confs).
    */
  def scoped[T](s: SparkSession, confs: (String, String)*)(f: SparkSession => T): T = {
    val c = GraftExpressionBridge.cloneSession(s)
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    f(c)
  }
}
