package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Paged-extraction source contract — the reference's REST extractors
  * (token auth, cursor paging, bounded retry; see
  * /root/reference/src/extractors/shopee_orders_extractor.py) as an
  * offline-testable adapter. No network exists in this sandbox, so the
  * TRANSPORT is a pluggable function `Option[cursor] => Page`; what
  * the library owns is everything around it:
  *
  *   - the DRIVER walks the cursor chain (paged APIs are sequential
  *     and rate-limited by construction — executor-parallel fetching
  *     is wrong against a cursor API, exactly why the reference pages
  *     in a single loop), with bounded per-page retry on transient
  *     failures and a maxPages runaway guard (a cursor bug that loops
  *     forever is an extractor hazard the reference caps too);
  *   - pages STREAM to a parquet landing zone in bounded flushes —
  *     driver memory holds `flushEvery` pages, never the backfill
  *     (the bounded-metadata discipline: a page is API-page-sized);
  *   - the landed frame is (page_idx, payload) — parsing is the
  *     existing explicit-schema path ([[JsonOrderSource.read]]'s
  *     schema via `from_json`, no inference scan), so the landed zone
  *     composes with the whole normalize → dedup → upsert stack.
  *
  * Crash posture: a re-run of the same extraction overwrites the
  * landing dir (per-batch scratch, the [[JdbcSink]] staging
  * argument) — the durable exactly-once boundary is downstream, where
  * [[graft.operators.Incremental.upsert]] / [[graft.operators.EtlControl]]
  * absorb replays by key; the reference behaves identically (re-pulls
  * land in staging, MERGE dedups).
  */
object PagedRestSource {

  /** One fetched page: raw payload lines + next cursor (None = done). */
  case class Page(rows: Seq[String], next: Option[String])

  /** Exhausted retry or runaway-cursor failure. */
  final class ExtractionException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** Walk the cursor chain from `startCursor`, land every page's rows
    * as parquet (page_idx, payload) under `landingDir` (overwritten —
    * per-extraction scratch), flushing every `flushEvery` pages.
    * Returns (pages fetched, rows landed). `fetch` gets up to
    * `maxRetries` total ATTEMPTS per page (so `maxRetries = 3` means
    * 2 retries after the first failure) on non-fatal exceptions
    * (transient API failure — the reference's tenacity shape); fatal
    * errors (OutOfMemoryError, InterruptedException, …) propagate
    * immediately. `maxPages` bounds a cursor chain that never
    * terminates. */
  def fetchToLanding(spark: SparkSession,
      fetch: Option[String] => Page, landingDir: String,
      flushEvery: Int = 100, maxPages: Int = 100000,
      maxRetries: Int = 3, startCursor: Option[String] = None): (Long, Long) = {
    require(flushEvery >= 1 && maxPages >= 1 && maxRetries >= 1)
    import spark.implicits._
    val fs = new Path(landingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(landingDir), true) // per-extraction scratch

    def fetchWithRetry(cursor: Option[String]): Page = {
      var attempt = 0
      while (true) {
        try return fetch(cursor)
        catch {
          case scala.util.control.NonFatal(e) =>
            attempt += 1
            if (attempt >= maxRetries)
              throw new ExtractionException(
                s"page at cursor $cursor failed after $maxRetries attempts", e)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    var buffer = Vector.empty[(Long, String)]
    var firstFlush = true
    def flush(): Unit = if (buffer.nonEmpty) {
      val mode = if (firstFlush) SaveMode.Overwrite else SaveMode.Append
      buffer.toDF("page_idx", "payload").coalesce(1)
        .write.mode(mode).parquet(landingDir)
      firstFlush = false
      buffer = Vector.empty
    }

    var cursor = startCursor
    var pageIdx = 0L
    var rows = 0L
    var done = false
    while (!done) {
      if (pageIdx >= maxPages)
        throw new ExtractionException(
          s"cursor chain exceeded maxPages=$maxPages — runaway pager")
      val page = fetchWithRetry(cursor)
      buffer ++= page.rows.map(r => (pageIdx, r))
      rows += page.rows.length
      pageIdx += 1
      if (pageIdx % flushEvery == 0) flush()
      cursor = page.next
      done = page.next.isEmpty
    }
    flush()
    // an extraction whose every page was empty still lands a readable
    // (schema'd) zero-row table — "nothing new today" is a legal
    // result, not a missing artifact (the refreshPairs precedent)
    if (firstFlush)
      Seq.empty[(Long, String)].toDF("page_idx", "payload")
        .write.mode(SaveMode.Overwrite).parquet(landingDir)
    (pageIdx, rows)
  }

  /** [[fetchToLanding]] with the reference's credential lifecycle
    * (auth.py `ensure_valid_token` before every call): each page fetch
    * receives a token valid past the provider's refresh margin, and a
    * fetch that throws [[TokenAuth.AuthException]] (the 401 path —
    * server-side revocation the clock can't see) INVALIDATES the
    * cached token before the page's bounded retry re-attempts, so the
    * retry runs with a freshly refreshed credential instead of
    * re-sending the rejected one. Refresh failures surface through
    * the same retry budget as transient fetch failures. */
  def fetchToLandingAuthed(spark: SparkSession,
      fetch: (Option[String], TokenAuth.Token) => Page,
      creds: TokenAuth.CredentialProvider, landingDir: String,
      flushEvery: Int = 100, maxPages: Int = 100000,
      maxRetries: Int = 3, startCursor: Option[String] = None): (Long, Long) =
    fetchToLanding(spark,
      cursor => {
        val tok = creds.validToken()
        try fetch(cursor, tok)
        catch {
          case e: TokenAuth.AuthException =>
            creds.invalidate()
            throw e
        }
      },
      landingDir, flushEvery, maxPages, maxRetries, startCursor)

  /** The landed (page_idx, payload) frame; its schema comes from a
    * footer on the driver ([[ParquetMeta.readParquet]]), not a Spark job. */
  def readLanding(spark: SparkSession, landingDir: String): DataFrame =
    ParquetMeta.readParquet(spark, landingDir)

  /** Landed payloads parsed through the explicit order schema — the
    * [[JsonOrderSource]] composition point: the result is the same
    * nested frame `JsonOrderSource.read` produces from files, so
    * `normalize` and everything downstream apply unchanged. */
  def parseOrders(spark: SparkSession, landingDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    readLanding(spark, landingDir)
      .select(from_json(col("payload"), JsonOrderSource.orderSchema).as("o"))
      .select("o.*")
  }
}
