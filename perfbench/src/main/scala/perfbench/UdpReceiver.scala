package perfbench

import java.net.{DatagramPacket, DatagramSocket, InetAddress, SocketException}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.util.hashing.MurmurHash3

/** Loopback syslog receiver: keeps the count and an order-free multiset
  * hash of every datagram, and the first arrival time of datagrams
  * whose hash is being watched (the query lines of timed records). */
final class UdpReceiver {
  private val socket =
    new DatagramSocket(0, InetAddress.getByName("127.0.0.1"))
  socket.setReceiveBufferSize(4 << 20)
  private val received = new AtomicLong()
  private val hashSum = new AtomicLong()
  private val watched = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  /** hash → first arrival (System.nanoTime) of watched datagrams. */
  val arrivals = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()

  def port: Int = socket.getLocalPort

  private val thread = new Thread(() => {
    val buf = new Array[Byte](65536)
    val p = new DatagramPacket(buf, buf.length)
    try while (true) {
      socket.receive(p)
      val now = System.nanoTime()
      val h = UdpReceiver.hash(buf, p.getLength)
      hashSum.addAndGet(h)
      received.incrementAndGet()
      if (watched.containsKey(h)) arrivals.putIfAbsent(h, now)
    } catch { case _: SocketException => () } // closed
  }, "perfbench-udp")
  thread.setDaemon(true)
  thread.start()

  def count: Long = received.get()
  def sum: Long = hashSum.get()

  def watch(h: Long): Unit = watched.put(h, h)

  def reset(): Unit = { received.set(0); hashSum.set(0); arrivals.clear() }

  /** Wait until `n` datagrams arrived, or `quietMs` passed with none. */
  def await(n: Long, quietMs: Long): Unit = {
    var last = count
    var lastChange = System.nanoTime()
    while (count < n && (System.nanoTime() - lastChange) / 1e6 < quietMs) {
      Thread.sleep(5)
      val c = count
      if (c != last) { last = c; lastChange = System.nanoTime() }
    }
  }

  def close(): Unit = { socket.close(); thread.join(5000) }
}

object UdpReceiver {
  /** 64-bit datagram hash from two seeded 32-bit murmur hashes. */
  def hash(b: Array[Byte], len: Int): Long = {
    val bytes = if (len == b.length) b else java.util.Arrays.copyOf(b, len)
    (MurmurHash3.bytesHash(bytes, 0x9747b28c).toLong << 32) ^
      (MurmurHash3.bytesHash(bytes, 0x5bd1e995).toLong & 0xffffffffL)
  }

  def hash(b: Array[Byte]): Long = hash(b, b.length)
}
