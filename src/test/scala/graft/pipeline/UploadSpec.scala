package graft.pipeline

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.SparkSpec

/** Upload path against a local CRM stub with the reference's failure
  * contract: ~10% of requests get 503 (crm_server/server.go:19-36 — we
  * replicate the contract, not its broken integer-division arithmetic,
  * SURVEY §2.1 S9), deterministic here (every 10th request fails) so
  * specs don't flake.
  */
class UploadSpec extends SparkSpec {

  private def withStub(failEvery: Int)(body: (String, AtomicInteger, AtomicInteger) => Unit): Unit = {
    val requests = new AtomicInteger(0)
    val accepted = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/customers", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val n = requests.incrementAndGet()
        ex.getRequestBody.readAllBytes()
        if (failEvery > 0 && n % failEvery == 0) {
          ex.sendResponseHeaders(503, -1)
        } else {
          accepted.incrementAndGet()
          ex.sendResponseHeaders(201, -1)
        }
        ex.close()
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/customers", requests, accepted)
    finally server.stop(0)
  }

  // Store-contract tests run against both backends (parquet + embedded
  // JDBC) — same upload/ack semantics either way.
  private val storeFactories: Seq[(String, () => CustomerStoreApi)] = Seq(
    "parquet" -> (() => new CustomerStore(spark, tmpDir("upl") + "/customers")),
    "jdbc" -> (() => new JdbcCustomerStore(spark,
      s"jdbc:derby:${tmpDir("upldb")}/cust;create=true")))

  private def seedStore(mk: () => CustomerStoreApi, n: Int): CustomerStoreApi = {
    val store = mk()
    import spark.implicits._
    val rows = (1 to n).map(i =>
      (i.toLong, s"F$i", s"L$i", s"user$i@example.com", s"555-$i"))
      .toDF("id", "first_name", "last_name", "email", "phone")
    store.insertNew(Ingest.enrich(rows))
    store
  }

  storeFactories.foreach { case (label, mkStore) =>
  test(s"pollOnce uploads pending rows and flips flags for acked ones [$label]") {
    withStub(failEvery = 0) { (url, _, accepted) =>
      val store = seedStore(mkStore, 20)
      val acked = UploadJob.pollOnce(store, url, concurrency = 5)
      assert(acked === 20)
      assert(accepted.get() === 20)
      assert(store.pending().count() === 0)
      assert(store.all().filter("uploaded").count() === 20)
    }
  }

  test(s"failed posts stay pending and are redelivered until acked (at-least-once) [$label]") {
    withStub(failEvery = 10) { (url, requests, _) =>
      val store = seedStore(mkStore, 30)
      val signal = new Signal
      val total = UploadJob.drain(store, url, signal, new Backoff(), concurrency = 5,
        idleRounds = 2, maxRounds = 20, sleepFn = _ => ())
      assert(total === 30)
      assert(store.pending().count() === 0)
      assert(requests.get() > 30) // redeliveries happened
    }
  }
  }

  test("hung server hits the client timeout and the row stays pending") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/customers", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        Thread.sleep(5000) // longer than the client timeout
        ex.sendResponseHeaders(201, -1); ex.close()
      }
    })
    server.start()
    try {
      val store = seedStore(storeFactories.head._2, 2)
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/customers"
      val acked = HttpSink.upload(store.pending(), url, concurrency = 2,
        timeoutMs = 300).count()
      assert(acked === 0)
      assert(store.pending().count() === 2) // nothing marked, redelivery next poll
    } finally server.stop(0)
  }

  test("pollCycle counts each outcome and marks only the 201 rows") {
    withStub(failEvery = 2) { (url, requests, accepted) =>
      val store = seedStore(storeFactories.head._2, 10)
      val counts = UploadJob.pollCycle(store, url, concurrency = 2)
      assert(counts.keySet === Set(HttpSink.Acked, "503"))
      assert(counts(HttpSink.Acked) === accepted.get().toLong)
      assert(counts.values.sum === 10L)
      assert(requests.get() === 10)
      assert(store.all().filter("uploaded").count() === counts(HttpSink.Acked))
      assert(store.pending().count() === counts("503"))
    }
    // A closed port: every POST fails before a response exists.
    val closed = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val port = closed.getLocalPort
    closed.close()
    val store = seedStore(storeFactories.head._2, 4)
    val counts = UploadJob.pollCycle(store, s"http://127.0.0.1:$port/customers", concurrency = 2)
    assert(counts === Map("ConnectException" -> 4L))
    assert(store.pending().count() === 4)
  }

  test("backoff follows fibonacci and resets on success") {
    val b = new Backoff()
    val seq = (1 to 6).map(_ => b.nextInterval())
    assert(seq === Seq(1L, 1L, 2L, 3L, 5L, 8L))
    b.reset()
    assert(b.nextInterval() === 1L)
  }

  test("signal conflates: many notifies collapse to one consume") {
    val s = new Signal
    (1 to 100).foreach(_ => s.notifyData())
    assert(s.consume())
    assert(!s.consume())
  }
}
