package graft.pipeline

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** End-to-end demo of the reference pipeline on Spark: generate a CSV
  * (with the reference's error cases), ingest → validate → dedup-insert
  * into the state store, then drain the work queue against an embedded
  * mock CRM that 503s ~10% of requests (the crm_server contract).
  *
  * Usage: runMain graft.pipeline.PipelineDemo [nRows]
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000)
    val spark = graft.GraftSession(graft.GraftSession.envCores)

    // CSV with a header row + the reference's error shapes: a bad id, an
    // empty email, a duplicate email (assets/MOCK_BAD_DATA.csv cases).
    val work = Files.createTempDirectory("graft-demo")
    val rows = (1 to n).map(i => s"$i,First$i,Last$i,user$i@example.com,555-$i") ++
      Seq(s"${n + 1}x,Bad,Id,badid@example.com,555-0", // bad id
        s"${n + 2},No,Email,,555-0", // empty email
        s"${n + 3},Dup,Email,user1@example.com,555-0") // dup email
    val csv = work.resolve("customers.csv")
    Files.write(csv, ("id,first_name,last_name,email,phone" +: rows).mkString("\n").getBytes)

    val requests = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/customers", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val r = requests.incrementAndGet()
        ex.getRequestBody.readAllBytes()
        ex.sendResponseHeaders(if (r % 10 == 0) 503 else 201, -1) // ~10% failures
        ex.close()
      }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/customers"

    try {
      val store = new CustomerStore(spark, work.resolve("customers_table").toString)
      val signal = new Signal
      val (inserted, quarantined) = IngestJob.run(spark, csv.toString, store, header = true,
        signal = Some(signal))
      println(s"[demo] ingested: $inserted inserted, ${quarantined.count()} quarantined " +
        s"(reasons: ${quarantined.select("reason").collect().map(_.getString(0)).sorted.mkString(",")})")
      val acked = UploadJob.drain(store, url, signal, new Backoff(maxInterval = 1),
        concurrency = 25, idleRounds = 2, maxRounds = 50, sleepFn = s => Thread.sleep(s * 50))
      println(s"[demo] uploaded: $acked acked over ${requests.get()} POSTs " +
        s"(${requests.get() - acked} retried after 503); pending=${store.pending().count()}")
    } finally {
      server.stop(0)
      spark.stop()
    }
  }
}
