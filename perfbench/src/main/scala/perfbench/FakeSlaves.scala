package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process Mesos agents. One listening socket serves every slave; the
  * slave is the loopback address the client dialled (`Ticks.hostOf`), and
  * the body is the slave's snapshot for the current reporting round.
  *
  * The JDK server sends headers and body in separate writes; with Nagle on,
  * the client's delayed ACK stalls each loopback response by ~40 ms, which
  * would make the benchmark measure the fake rather than the collector. So
  * no-delay is forced before the server class initialises, and the server
  * times itself (`serviceNs`) so a run can prove it is not the bottleneck. */
final class FakeSlaves(seed: Long, threads: Int) extends AutoCloseable {
  System.setProperty("sun.net.httpserver.nodelay", "true")

  @volatile var round: Long = 0L
  val serviceNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("0.0.0.0", 0), 1024)
  server.setExecutor(pool)
  server.createContext("/metrics/snapshot", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, math.max)
    try {
      val slave = Ticks.indexOfHost(ex.getLocalAddress.getAddress.getAddress)
      val body = Snapshots.body(seed, slave, round).getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      val os = ex.getResponseBody
      os.write(body)
      os.close()
    } finally {
      ex.close()
      inflight.decrementAndGet()
      serviceNs.add(System.nanoTime() - t0)
    }
  })
  server.start()

  val port: Int = server.getAddress.getPort

  def resetCounters(): Unit = {
    serviceNs.clear(); inflightMax.set(0)
  }

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** TCP connections accepted in this network namespace (Linux `PassiveOpens`
  * in /proc/net/snmp). The fake agents are the only listener the collector
  * dials, so the difference over a window is the connections it opened; a
  * client address cannot tell that, since ephemeral ports are reused. */
object PassiveOpens {
  def read(): Long = try {
    val lines = scala.io.Source.fromFile("/proc/net/snmp").getLines()
      .filter(_.startsWith("Tcp:")).toSeq
    val (names, values) = (lines(0).split("\\s+"), lines(1).split("\\s+"))
    values(names.indexOf("PassiveOpens")).toLong
  } catch { case _: Exception => -1L }
}
