package graft.pipeline

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row HTTP POST sink with bounded concurrency — the crmIntegrator's
  * data plane (csv-crm-upload crm/upload/uploader.go:116-131): marshal
  * row to JSON, POST, success iff 201 Created. The reference bounds
  * in-flight uploads with a 25-slot channel (uploader.go:18,47); here
  * the bound is `repartition(concurrency)` + one connection per
  * partition — the executor-distributed form of the same backpressure.
  *
  * Failure tolerance (T5): a failed POST just leaves the row un-acked
  * and records why (status code or exception class, [[outcomes]]);
  * callers re-poll pending() and redeliver — at-least-once, matching the
  * reference's observable contract (the row's flag flips only after the
  * CRM ack).
  *
  * This is the one genuinely custom sink in the parity surface
  * (SURVEY §7.3). Everything driver-side returns as a DataFrame of
  * per-row outcomes, or of acked emails, so the caller can count the
  * cycle and run the mark-uploaded state transition.
  */
object HttpSink {

  /** The outcome of a CRM ack: HTTP 201 Created. */
  val Acked = "201"

  /** POST one JSON document. The outcome is the response status code
    * ("201", "503") or, when no response arrived, the exception's
    * simple class name ("SocketTimeoutException", "ConnectException").
    */
  private def postJson(url: String, body: String, timeoutMs: Int): String = {
    var conn: HttpURLConnection = null
    try {
      conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val out = conn.getOutputStream
      out.write(body.getBytes(StandardCharsets.UTF_8))
      out.close()
      val code = conn.getResponseCode
      // Drain so keep-alive connections can be reused.
      val s = if (code >= 400) conn.getErrorStream else conn.getInputStream
      if (s != null) { while (s.read() != -1) {}; s.close() }
      code.toString
    } catch {
      case e: java.io.IOException => e.getClass.getSimpleName
    } finally {
      if (conn != null) conn.disconnect()
    }
  }

  /** POST every row of `pending` (expects the 5 upload columns) as a
    * JSON document to `url`; returns one `(email, outcome)` row per
    * POST, the outcome as [[postJson]] names it. `concurrency` caps
    * simultaneous connections across the cluster — the analog of the
    * reference's 25-slot channel.
    */
  def outcomes(pending: DataFrame, url: String, concurrency: Int = 25,
      timeoutMs: Int = 30000): DataFrame = {
    val spark = pending.sparkSession
    import spark.implicits._
    val payloads = pending.select(
      col("email"),
      to_json(struct(CustomerSchema.uploadColumns.map(col): _*)).as("body"))
    payloads.as[(String, String)]
      .repartition(concurrency)
      .mapPartitions(_.map { case (email, body) => (email, postJson(url, body, timeoutMs)) })
      .toDF("email", "outcome")
  }

  /** The emails of `pending` that got a 201 ack. */
  def upload(pending: DataFrame, url: String, concurrency: Int = 25,
      timeoutMs: Int = 30000): DataFrame =
    outcomes(pending, url, concurrency, timeoutMs).filter(col("outcome") === Acked).select("email")
}
