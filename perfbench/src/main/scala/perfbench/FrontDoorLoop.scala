package perfbench

import graft.examples.FrontDoor
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `dns_frontdoor`: an open loop of POSTs to `FrontDoor`, which spools
  * them for the stream under `Trigger.ProcessingTime(0)`. POST `i` is
  * due at `i / Rate` seconds into the phase, whatever happened to the
  * ones before it; at most [[Clients]] are in flight. Ack and delivery
  * latencies run from the due time. A POST is delivered when the
  * query-line datagrams of all its records have arrived: its records
  * travel in one micro-batch, so they are one latency sample, not ten. */
final class FrontDoorLoop(spark: SparkSession, tracer: Tracer, res: Result,
    dir: Path, seed: Long) extends Workload {
  private val Rate = 20.0
  private val Clients = 4
  private val mix = DnsGen.Mix(10, 10, 1, 4, poison = 0.0, rejectEvery = 0)
  private val rx = new UdpReceiver
  private var server: FrontDoor.Server = _
  private var query: StreamingQuery = _
  private var next = 0
  private var expCount = 0L
  private var expSum = 0L
  private val posted = collection.mutable.ArrayBuffer[DnsGen.Envelope]()

  private final class Post(val env: DnsGen.Envelope) {
    val queryHashes: Seq[Long] =
      env.clean.map(r => UdpReceiver.hash(r.datagrams.head))
  }

  private def newPost(): Post = {
    val p = new Post(DnsGen.envelope(seed, next, mix))
    next += 1
    posted += p.env
    p.queryHashes.foreach(rx.watch)
    val grams = p.env.clean.flatMap(_.datagrams)
    expCount += grams.size
    expSum += grams.map(g => UdpReceiver.hash(g)).sum
    p
  }

  private def post(body: String): Int = {
    val c = URI.create(s"http://127.0.0.1:${server.port}/endpoint").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    c.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val status = c.getResponseCode
    val in = if (status < 400) c.getInputStream else c.getErrorStream
    if (in != null) { in.readAllBytes(); in.close() }
    status
  }

  private def delivered(p: Post): Boolean =
    p.queryHashes.forall(h => rx.arrivals.containsKey(h))

  private def awaitDelivery(ps: Seq[Post], timeoutMs: Long): Unit = {
    val end = System.nanoTime() + timeoutMs * 1000000L
    while (!ps.forall(delivered) && System.nanoTime() < end) Thread.sleep(5)
  }

  def setup(): Unit = {
    server = FrontDoor.start(0, dir.resolve("frontdoor-spool"))
    query = DnsCommon.start(spark, dir.resolve("frontdoor-spool"), rx.port,
      dir.resolve("dl"), dir.resolve("ck"), Trigger.ProcessingTime(0L))
    val p = newPost()
    post(p.env.json)
    awaitDelivery(Seq(p), 60000)
  }

  def warm(): Unit = run(5.0, None)

  def measure(seconds: Double, phase: String): Unit = run(seconds, Some(phase))

  private def run(seconds: Double, phase: Option[String]): Unit = {
    val posts = Vector.fill(math.max(1, (seconds * Rate).round.toInt))(newPost())
    val ack = new Array[Long](posts.size)
    val status = new Array[Int](posts.size)
    val sendNs = new Array[Long](posts.size)
    val errors = new Array[Throwable](posts.size)
    val acked = new AtomicLong()
    val pool = Executors.newFixedThreadPool(Clients)
    val cursor = new AtomicInteger()
    val t0 = System.nanoTime() + 20000000L
    def due(i: Int): Long = t0 + (i * 1e9 / Rate).toLong
    val tStart = tracer.now
    val rx0 = rx.count
    val files0 = DnsCommon.files(dir.resolve("dl"), ".parquet")
    (1 to Clients).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = cursor.getAndIncrement()
          while (i < posts.size) {
            val wait = due(i) - System.nanoTime()
            if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
            sendNs(i) = System.nanoTime()
            status(i) =
              try post(posts(i).env.json)
              catch { case e: Throwable => errors(i) = e; -1 }
            ack(i) = System.nanoTime()
            if (status(i) == 200) acked.addAndGet(posts(i).queryHashes.size)
            i = cursor.getAndIncrement()
          }
        }
      })
    }
    // Backlog: records acked but not yet delivered, sampled every 20 ms.
    var backlog = 0L
    pool.shutdown()
    while (!pool.awaitTermination(20, TimeUnit.MILLISECONDS)) {
      val got = posts.iterator.map(_.queryHashes.count(rx.arrivals.containsKey)).sum
      backlog = math.max(backlog, acked.get() - got)
    }
    awaitDelivery(posts, 30000)
    val tEnd = tracer.now
    phase.foreach { p =>
      // Busy from the first due time until the last delivery, so a
      // stream that falls behind the offered rate reads slower.
      val last = posts.flatMap(_.queryHashes).flatMap(h => Option(rx.arrivals.get(h)))
        .map(_.longValue).maxOption.getOrElse(System.nanoTime())
      posts.indices.foreach { i =>
        val ok = res.attempt(s"post-$p-$i") {
          if (errors(i) != null) throw errors(i)
          status(i) == 200 && delivered(posts(i))
        }
        res.sample(s"ack_ms.$p", (ack(i) - due(i)) / 1e6)
        res.sample(s"late_ms.$p", (sendNs(i) - due(i)) / 1e6)
        if (ok) res.latencyMs(p) += (posts(i).queryHashes
          .map(h => rx.arrivals.get(h).longValue).max - due(i)) / 1e6
        if (status(i) != 200) res.add(s"frontdoor.non200.$p", 1)
        else res.add(s"frontdoor.accepted.$p", 1)
        if (ok) res.work(p) += posts(i).queryHashes.size
      }
      res.busyS(p) += (last - t0) / 1e9
      if (p == "traced") {
        val grams = posts.map(_.env.clean.map(_.datagrams.size).sum).sum
        res.add("sink.udp_received", (rx.count - rx0).toDouble)
        res.add("sink.udp_expected", grams.toDouble)
        res.add("sink.deadletter_files",
          (DnsCommon.files(dir.resolve("dl"), ".parquet") - files0).toDouble)
        res.add("spool.bytes", posts.map(_.env.json.getBytes(
          StandardCharsets.UTF_8).length.toDouble).sum)
      }
      res.counters(s"frontdoor.backlog_max.$p") = backlog.toDouble
      query.recentProgress.filter { pr =>
        val ms = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
        ms >= tStart && ms <= tEnd && pr.numInputRows > 0
      }.foreach(pr => res.progress += Progress.row(pr, p))
    }
  }

  override def probe(): Unit = DnsCommon.probe(spark, tracer, res,
    dir.resolve("frontdoor-spool"), Expected.of(posted.toSeq))

  /** Every datagram sent, query and reply lines, must have arrived
    * exactly once. */
  def close(): Unit = {
    if (query != null) {
      res.attempt("frontdoor:multiset") {
        rx.await(expCount, 2000)
        Check.same("datagrams", rx.count, expCount) &&
          Check.same("datagram multiset hash", rx.sum, expSum)
      }
      query.stop()
    }
    if (server != null) server.stop()
    rx.close()
  }
}
