package graft

import graft.config.PrimaryConfigSource
import graft.pipeline.{Pipeline, PipelineOptions}
import graft.sink.FileTransport
import org.apache.spark.sql.SparkSession

/** CLI entry point (reference `main.py:53-121`): load config → run the
  * pipeline → print the consolidation summary → exit 1 if ANY branch
  * recorded an error (errors never abort other branches).
  *
  * Args: --config <json path> | --sheet-id <id> | --firestore-collection <c>
  *       --output <transport dir> [--bq-dir <dir>]
  *       [--bq-format parquet|bigquery|<any registered format>]
  *       [--transport file|http:<api base url>]
  *       [--firestore-project <gcp project>] [--config-api-base <mock/staging>]
  *       [--client-id x --client-secret x --access-token x
  *        --refresh-token x --developer-token x]
  *       [--token-uri <oauth token endpoint override>]
  *
  * Cloud mode is a CONFIG change, not a code change: `--bq-format
  * bigquery --bq-dir <project>` reads BigQuery through the registered
  * connector, `--transport http:https://googleads.googleapis.com` sends
  * the rendered payloads over live HTTP with the OAuth headers attached
  * (reference flags: `models/options.py:25-49`).
  */
object Main {

  /** OAuth block from CLI flags (reference `models/options.py:25-49`). */
  private[graft] def oauthFromFlags(opts: Map[String, String]): graft.model.OAuthCredentials =
    graft.model.OAuthCredentials(
      clientId = opts.getOrElse("--client-id", ""),
      clientSecret = opts.getOrElse("--client-secret", ""),
      accessToken = opts.getOrElse("--access-token", ""),
      refreshToken = opts.getOrElse("--refresh-token", ""),
      developerToken = opts.getOrElse("--developer-token", ""))

  /** Token provider when any token material is present: carries the static
    * --access-token and, when --refresh-token + client creds are set,
    * performs the OAuth2 refresh grant (reference token_uri
    * `campaign_manager_conversion_uploader.py:42`; `--token-uri` re-points
    * it at a staging/mock server).
    */
  private[graft] def tokenProviderFromFlags(
      opts: Map[String, String]): Option[graft.auth.OAuthTokenProvider] = {
    val creds = oauthFromFlags(opts)
    if (creds.accessToken.isEmpty && creds.refreshToken.isEmpty) None
    else Some(new graft.auth.OAuthTokenProvider(creds,
      tokenUri = opts.getOrElse("--token-uri",
        "https://accounts.google.com/o/oauth2/token")))
  }

  /** Transport from the `--transport` flag: `file` (default) renders to
    * JSONL under the output dir; `http:<base>` POSTs each request live,
    * rewriting the renderer's endpoint onto `<base>` and attaching the
    * OAuth headers.
    */
  private[graft] def transportFromFlags(opts: Map[String, String],
      outputDir: String): graft.sink.Transport =
    transportFromFlags(opts, outputDir, tokenProviderFromFlags(opts))

  private[graft] def transportFromFlags(opts: Map[String, String],
      outputDir: String,
      tokenProvider: Option[graft.auth.OAuthTokenProvider]): graft.sink.Transport =
    opts.getOrElse("--transport", "file") match {
      case "file" => FileTransport(outputDir)
      case spec if spec.startsWith("http:") =>
        val base = spec.stripPrefix("http:")
        // catch the natural misspelling `--transport http://host` (a plain
        // URL): its remainder `//host` has no scheme, so every send would
        // fail at request-build time with a cryptic per-batch error —
        // reject the flag at startup instead
        if (!base.startsWith("http://") && !base.startsWith("https://"))
          sys.error(s"--transport http:<base url> needs a full base URL " +
            s"(e.g. http:https://api.example.com), got '$spec'")
        // the token provider owns Authorization (refresh + 401 replay);
        // static headers keep Content-Type + developer-token
        val staticHeaders = Map("Content-Type" -> "application/json") ++
          (oauthFromFlags(opts).authHeaders - "Authorization")
        // renderer URLs are absolute against the production host after
        // GoogleRest mapping; re-root the path on the configured base
        // (staging, mock, live)
        val rebase = (url: String) => {
          val path = url.replaceFirst("^https?://[^/]+", "")
          base.stripSuffix("/") + path
        }
        graft.sink.HttpTransport(
          headers = staticHeaders,
          rewriteUrl = rebase,
          tokenProvider = tokenProvider,
          adapt = graft.sink.GoogleRest.adapt(
            graft.sink.GoogleRest.HttpAudienceResolver(
              staticHeaders, rebase, tokenProvider)))
      case other => sys.error(
        s"unknown --transport '$other' (expected 'file' or 'http:<base url>')")
    }

  /** Startup validation of `--bq-format`: an unregistered format would
    * otherwise surface mid-run as a per-source ClassNotFoundException with
    * nothing naming the flag or the missing jar (the reference fails its
    * BigQuery reads just as late, `big_query_data_source.py:47-49`). The
    * real BigQuery connector is NOT bundled — `--bq-format bigquery` needs
    * the spark-bigquery-connector jar on the session classpath.
    */
  private[graft] def validateBqFormat(
      conf: org.apache.spark.sql.internal.SQLConf, format: String): Unit =
    try {
      org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(format, conf)
      ()
    } catch {
      case e: Exception =>
        val hint = if (format == "bigquery")
          " ('bigquery' is the spark-bigquery-connector — add " +
            "spark-bigquery-with-dependencies_2.13 to the session classpath, " +
            "e.g. spark-submit --packages com.google.cloud.spark:" +
            "spark-bigquery-with-dependencies_2.13:0.42.1)"
        else
          " (expected a registered Spark data source, e.g. parquet, " +
            "graft-bq, json, orc)"
        sys.error(s"--bq-format '$format' is not a registered Spark data " +
          s"source$hint: ${e.getMessage}")
    }

  /** Startup validation of the config-source flags: a wrong combination must
    * fail with a named flag, not surface later as a malformed-URL fetch error
    * (missing project builds `.../v1/projects//databases/...` which 404s on
    * every page with no hint which flag was forgotten).
    */
  private[graft] def validateConfigFlags(opts: Map[String, String]): Unit = {
    if (opts.get("--config").isEmpty && opts.get("--sheet-id").isEmpty &&
        opts.get("--firestore-collection").isEmpty)
      sys.error("one of --config <json path>, --sheet-id <id>, or " +
        "--firestore-collection <name> is required")
    if (opts.contains("--firestore-collection") && !opts.contains("--firestore-project"))
      sys.error("--firestore-collection requires --firestore-project <gcp project>")
    // a refresh token without client credentials can never complete the
    // grant — every request would go out unauthenticated and 401 per-row
    // with nothing naming the missing flag
    if (opts.contains("--refresh-token") &&
        (!opts.contains("--client-id") || !opts.contains("--client-secret")))
      sys.error("--refresh-token requires --client-id and --client-secret " +
        "to run the OAuth refresh grant")
    if (opts.contains("--token-uri") && !opts.contains("--refresh-token"))
      sys.error("--token-uri is only used by the refresh grant — supply " +
        "--refresh-token (with client credentials) or drop it")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    // Fail invalid flag combinations BEFORE paying SparkSession startup
    // (run() re-validates for callers that drive it directly).
    validateConfigFlags(opts)
    // spark-submit's --master and --conf values override the defaults
    val spark = graft.util.Sessions.start("graft")
    // try/finally: a throwing run must still release the session (its
    // exception propagates as the process exit, matching the old behavior)
    val report = try run(spark, opts) finally spark.stop()
    if (report.exitCode != 0) sys.exit(report.exitCode)
  }

  /** The whole CLI run against a CALLER-OWNED session (config load →
    * pipeline → consolidation summary → usage stats), returning the report
    * instead of exiting — the in-process seam `MainSmokeSpec` drives so
    * the one user-facing surface no oracle row covers is pinned in
    * `sbt test`. [[main]] is this plus session lifecycle + exit code.
    */
  private[graft] def run(spark: SparkSession,
      opts: Map[String, String]): graft.pipeline.PipelineReport = {
    val sheetId = opts.get("--sheet-id")
    val firestoreCollection = opts.get("--firestore-collection")
    val configPath = opts.get("--config")
    validateConfigFlags(opts)
    val outputDir = opts.getOrElse("--output", "/tmp/graft-out")
    val bqDir = opts.get("--bq-dir")

    // ONE token provider per run: the config fetch's grant caches into the
    // same provider the sink transport carries, so a refresh-only run costs
    // one driver-side grant total
    val tokenProvider = tokenProviderFromFlags(opts)

    // Sheets/Firestore config goes live when their ids are given: the REST
    // fetchers take the same OAuth headers as the sink transport, and
    // --config-api-base points both at a staging/mock server when set.
    val live =
      if (sheetId.isDefined || firestoreCollection.isDefined) {
        val base = opts.get("--config-api-base")
        // freshToken: the one-shot config fetch has no 401-replay loop, so
        // a stale pasted --access-token must not be served when a refresh
        // is possible
        val auth = tokenProvider.flatMap(_.freshToken())
          .map(t => Map("Authorization" -> s"Bearer $t"))
          .getOrElse(Map.empty[String, String])
        Some(graft.config.LiveConfigAccess(
          headers = auth,
          sheetsApiBase = base.getOrElse("https://sheets.googleapis.com"),
          firestoreApiBase = base.getOrElse("https://firestore.googleapis.com"),
          firestoreProject = opts.getOrElse("--firestore-project", "")))
      } else None
    val executions = PrimaryConfigSource
      .select(sheetId, configPath, firestoreCollection, live).executions()
    // mirror PrimaryConfigSource.select's precedence (sheet > json > firestore)
    // so the log names the source that actually won the dispatch
    println(s"[graft] loaded ${executions.size} executions from " +
      sheetId.orElse(configPath).orElse(firestoreCollection).getOrElse(""))

    val bqFormat = opts.getOrElse("--bq-format", "parquet")
    validateBqFormat(spark.sessionState.conf, bqFormat)
    val pipelineOpts = PipelineOptions(
      transport = transportFromFlags(opts, outputDir, tokenProvider),
      bqFormat = bqFormat,
      bqPathFor = bqFormat match {
        case "parquet" =>
          (dataset, table) => bqDir.map(d => s"$d/$dataset/$table.parquet")
            .getOrElse(s"/data/$dataset/$table.parquet")
        case "bigquery" =>
          // the BigQuery connector parses table references as
          // [project.]dataset.table — slash paths are rejected at load()
          (dataset, table) => bqDir.map(d => s"$d.$dataset.$table")
            .getOrElse(s"$dataset.$table")
        case _ => // path-based registered formats (graft-bq stub, json, orc)
          (dataset, table) => bqDir.map(d => s"$d/$dataset/$table")
            .getOrElse(s"/data/$dataset/$table")
      })

    val report = Pipeline.run(spark, executions, pipelineOpts)

    // PrintResultsDoFn summary (steps/last_step.py:59-129)
    report.results.foreach { r =>
      println(s"[graft] ${r.destinationType} ${r.executionKey}: " +
        s"${r.succeeded}/${r.attempted} uploaded" +
        r.error.map(e => s" ERROR: $e").getOrElse(""))
    }
    println(s"[graft] ${report.distinctExecutions} distinct executions, " +
      s"${report.totalUploaded} rows uploaded, exit ${report.exitCode}")

    // usage stats, run silently after the summary (last_step.py:99-129);
    // opt-in via --collect-usage-stats true, offline collector = log line
    if (opts.get("--collect-usage-stats").contains("true")) {
      val attempted = report.results.filter(_.attempted > 0).map(_.executionKey).toSet
      val ran = graft.pipeline.UsageStats.ranRecords(
        executions.filter(e => attempted.contains(e.key)).distinct)
      val errs = graft.pipeline.UsageStats.errorRecords(
        report.results.flatMap(r => r.error.map(m => (s"megalista.${r.destinationType}", m))))
      graft.pipeline.UsageStats.process(collectUsageStats = true,
        clientId = (System.currentTimeMillis() * 10).toString,
        records = ran ++ errs,
        collect = rs => println(s"[graft] usage stats: ${rs.size} records"))
    }
    report
  }
}
