package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One POST as the CRM saw it, on the JVM's nanoTime clock. */
final case class Post(email: String, status: Int, startNs: Long, endNs: Long)

/** In-process mock of the reference's CRM (`crm_server`): answers POST
  * /customers with 201, or 503 for a seeded ~10% of attempts. The
  * decision hashes (seed, email, attempt number), not arrival order, so a
  * seed gives the same 503s however the uploader interleaves its POSTs.
  * Its handler pool is bounded and daemon: it can neither exceed the
  * core budget nor keep the JVM alive after `main` returns.
  */
final class Crm(seed: Long, threads: Int) {
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  private val log = ArrayBuffer[Post]()
  private val inflight = new AtomicInteger(0)
  private val maxInflight = new AtomicInteger(0)
  private val handlerNs = new AtomicLong(0)

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicInteger(0)
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"mock-crm-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/customers", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/customers"

  private val EmailField = "\"email\":\"([^\"]*)\"".r.unanchored

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, (a: Int, b: Int) => math.max(a, b))
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val email = body match { case EmailField(e) => e; case _ => "" }
      val attempt = attempts.computeIfAbsent(email, _ => new AtomicInteger(0)).incrementAndGet()
      val status = if (email.isEmpty) 400 else if (fails(email, attempt)) 503 else 201
      ex.sendResponseHeaders(status, -1)
      val t1 = System.nanoTime()
      log.synchronized(log += Post(email, status, t0, t1))
    } finally {
      ex.close()
      inflight.decrementAndGet()
      handlerNs.addAndGet(System.nanoTime() - t0)
    }
  }

  private def fails(email: String, attempt: Int): Boolean =
    java.lang.Math.floorMod(MurmurHash3.stringHash(s"$seed|$email|$attempt"), 1000) < Crm.FailPermille

  def posts: Seq[Post] = log.synchronized(log.toList)

  def peakInflight: Int = maxInflight.get()

  def handlerMs: Double = handlerNs.get() / 1e6

  /** Exactly-once delivery: every expected customer got exactly one 201
    * and no other email got any. Returns the violations found.
    */
  def exactlyOnceViolations(expected: Set[String]): Seq[String] = {
    val acks = posts.filter(_.status == 201).groupBy(_.email).map { case (e, ps) => e -> ps.size }
    val missing = expected.filterNot(acks.contains).toSeq.sorted.take(5).map(e => s"never acked: $e")
    val dup = acks.filter(_._2 > 1).keys.toSeq.sorted.take(5).map(e => s"acked ${acks(e)} times: $e")
    val extra = acks.keys.filterNot(expected).toSeq.sorted.take(5).map(e => s"unexpected ack: $e")
    val bad = posts.filter(_.status == 400).take(1).map(_ => "POST without an email")
    missing ++ dup ++ extra ++ bad
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Crm {
  /** The share of POST attempts answered 503, in thousandths. */
  val FailPermille = 100
}
