package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException,
  IOException, InputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** A [[KVStore]] speaking REAL RESP — the Redis Serialization Protocol
  * (public wire format, redis.io/docs/reference/protocol-spec) — so a
  * real Redis server can be the accumulator sink the reference uses
  * (Jedis `HINCRBY`, reference `CommonUtil.scala:39-49` /
  * `StreamingAnalysisAppWithKafkaManageOffset.scala:72-74`). No client
  * jar ships with this build; RESP is simple enough that the protocol
  * itself is implemented here on the JDK socket layer, which closes the
  * reference-parity gap from "same contract" to "same wire".
  *
  * Command mapping (all RESP arrays of bulk strings, binary-safe by
  * construction — keys and fields are length-prefixed, never parsed):
  *  - `hincrBy`   → `HINCRBY key field delta` → integer reply
  *  - `hgetAll`   → `HGETALL key`             → flat field/value array
  *  - `markBatch` → `SADD <appliedSetKey> id` → 1 added / 0 present
  *  - `batchSeen` → `SISMEMBER <appliedSetKey> id`
  *
  * The instance is a cheap serializable handle: executor closures
  * capture it directly (no registry on executors), and the actual
  * connection is established lazily ONCE PER JVM PER ENDPOINT in
  * [[RespKVStore.pooled]]
  * — per-executor connection reuse, the opposite of the reference's
  * pool-per-call leak. A protocol-level `-ERR` reply throws but keeps the
  * connection (the link is healthy); a transport failure evicts the
  * cached connection so the next call reconnects. */
final class RespKVStore(host: String, port: Int,
                        appliedSetKey: String = "graft:applied_batches")
    extends KVStore {
  import RespKVStore._

  private def cmd(args: String*): Resp = pooled(host, port, args)

  override def hincrBy(key: String, field: String, delta: Long): Long =
    cmd("HINCRBY", key, field, delta.toString) match {
      case RInt(v) => v
      case other => throw new IllegalStateException(
        s"HINCRBY: unexpected RESP reply $other")
    }

  override def hgetAll(key: String): Map[String, Long] =
    cmd("HGETALL", key) match {
      case RArr(items) =>
        require(items.length % 2 == 0,
          s"HGETALL: odd-length reply (${items.length})")
        items.grouped(2).map {
          case Seq(RBulk(f), RBulk(v)) => f -> v.toLong
          case other => throw new IllegalStateException(
            s"HGETALL: non-bulk pair $other")
        }.toMap
      case other => throw new IllegalStateException(
        s"HGETALL: unexpected RESP reply $other")
    }

  override def markBatch(batchId: Long): Boolean =
    cmd("SADD", appliedSetKey, batchId.toString) match {
      case RInt(n) => n == 1L
      case other => throw new IllegalStateException(
        s"SADD: unexpected RESP reply $other")
    }

  override def batchSeen(batchId: Long): Boolean =
    cmd("SISMEMBER", appliedSetKey, batchId.toString) match {
      case RInt(n) => n == 1L
      case other => throw new IllegalStateException(
        s"SISMEMBER: unexpected RESP reply $other")
    }
}

object RespKVStore {

  /** Parsed RESP reply. Client-side only — the server works on streams. */
  sealed trait Resp
  final case class RSimple(s: String) extends Resp
  final case class RErr(msg: String) extends Resp
  final case class RInt(v: Long) extends Resp
  final case class RBulk(s: String) extends Resp
  final case class RArr(items: Seq[Resp]) extends Resp
  case object RNull extends Resp

  private[streaming] def writeCommand(out: OutputStream, args: Seq[String]): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    buf.write(s"*${args.length}\r\n".getBytes(US_ASCII))
    args.foreach { a =>
      val b = a.getBytes(UTF_8)
      buf.write(s"$$${b.length}\r\n".getBytes(US_ASCII))
      buf.write(b)
      buf.write('\r'); buf.write('\n')
    }
    out.write(buf.toByteArray)
    out.flush()
  }

  /** One CRLF-terminated header line (the bytes after the type marker). */
  private def readLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(32)
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException("RESP stream closed mid-line")
      buf.write(c)
      c = in.read()
    }
    if (in.read() != '\n') throw new IOException("RESP: CR not followed by LF")
    new String(buf.toByteArray, UTF_8)
  }

  private[streaming] def readResp(in: InputStream): Resp = {
    val t = in.read()
    if (t < 0) throw new EOFException("RESP stream closed")
    val line = readLine(in)
    t match {
      case '+' => RSimple(line)
      case '-' => RErr(line)
      case ':' => RInt(line.toLong)
      case '$' =>
        val n = line.toInt
        if (n < 0) RNull
        else {
          val b = new Array[Byte](n)
          var off = 0
          while (off < n) {
            val r = in.read(b, off, n - off)
            if (r < 0) throw new EOFException("RESP stream closed mid-bulk")
            off += r
          }
          if (in.read() != '\r' || in.read() != '\n')
            throw new IOException("RESP: bulk string not CRLF-terminated")
          RBulk(new String(b, UTF_8))
        }
      case '*' =>
        val n = line.toInt
        if (n < 0) RNull
        else RArr((0 until n).map(_ => readResp(in)))
      case other =>
        throw new IOException(s"RESP: unknown type byte $other")
    }
  }

  private final class Conn(host: String, port: Int) {
    val socket = new Socket(host, port)
    socket.setTcpNoDelay(true)
    val in = new BufferedInputStream(socket.getInputStream)
    val out = new BufferedOutputStream(socket.getOutputStream)
  }

  private val conns = new ConcurrentHashMap[(String, Int), Conn]()

  /** One shared connection per JVM per endpoint; calls are serialized on
    * it (a production client would hold a pool instead of a mutex). A
    * dead connection is evicted on transport failure so the NEXT call
    * reconnects — without the eviction one server restart would poison
    * the cache entry and fail every later call to that endpoint for the
    * life of the JVM. */
  private def pooled(host: String, port: Int, args: Seq[String]): Resp = {
    val key = (host, port)
    val c = conns.computeIfAbsent(key, _ => new Conn(host, port))
    c.synchronized {
      try {
        writeCommand(c.out, args)
        readResp(c.in) match {
          case RErr(msg) => throw new IllegalStateException(s"RESP error: $msg")
          case ok => ok
        }
      } catch {
        case e: Throwable if !e.isInstanceOf[IllegalStateException] =>
          conns.remove(key, c)
          try c.socket.close() catch { case _: Throwable => () }
          throw e
      }
    }
  }

  /** Drop cached connections (test teardown). */
  def resetConnections(): Unit = {
    conns.values.forEach(c => try c.socket.close() catch { case _: Throwable => () })
    conns.clear()
  }

  /** Sever every cached connection WITHOUT forgetting it (crash-injection
    * test hook): the next call on a severed connection fails at the
    * transport level and takes the eviction path — to the pooled client
    * this is indistinguishable from the link dying under a running task,
    * which is exactly the executor-side failure the crash specs inject. */
  def killConnections(): Unit =
    conns.values.forEach(c => try c.socket.close() catch { case _: Throwable => () })
}

/** Hash + set state behind a [[RespServer]], passable across server
  * restarts (the persistent-Redis crash model the socket specs use). */
final class RespState {
  val hashes = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()
  val sets = new ConcurrentHashMap[String, java.util.Set[String]]()

  def hincrBy(key: String, field: String, delta: Long): Long =
    hashes.computeIfAbsent(key, _ => new ConcurrentHashMap())
      .computeIfAbsent(field, _ => new AtomicLong()).addAndGet(delta)

  def hgetAll(key: String): Map[String, Long] = {
    val m = hashes.get(key)
    if (m == null) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (f, v) => f -> v.get() }.toMap
    }
  }

  def sadd(key: String, member: String): Boolean =
    sets.computeIfAbsent(key, _ => ConcurrentHashMap.newKeySet[String]())
      .add(member)

  def sismember(key: String, member: String): Boolean = {
    val s = sets.get(key)
    s != null && s.contains(member)
  }
}

/** In-process RESP server stub: a minimal thread-per-connection server
  * speaking the actual Redis wire protocol for the commands the sink
  * uses (HINCRBY, HGETALL, SADD, SISMEMBER, PING), so [[RespKVStore]] is
  * exercised against REAL RESP framing across a real socket — byte-level
  * compatible with what redis-cli would send for the same commands (the
  * specs pin this with handcrafted wire bytes). Lifecycle: the
  * SO_REUSEADDR bind with fixed-port retry, the daemon acceptor with
  * backoff, the client registry with its stop-window guard, restart over
  * a surviving [[RespState]], and a stop() that drops live connections so
  * a restart looks like a real server death to pooled clients. */
final class RespServer(bind: String = "127.0.0.1", fixedPort: Int = 0,
                       backing: RespState = new RespState) {
  val state: RespState = backing

  /** Total connections accepted — the spec hook proving per-JVM reuse. */
  @volatile var accepted: Int = 0

  // SO_REUSEADDR before bind: a fixed-port restart right after a stop()
  // must not fail on the dead process's lingering TIME_WAIT sockets —
  // restartability is the point of the fixed-port mode. Reuseaddr does
  // not cover the port being transiently held as some unrelated outbound
  // connection's local ephemeral port in the gap between the old server's
  // close and this bind, so fixed-port mode also retries the bind briefly
  // (such holders are short-lived by nature).
  private val server = {
    val s = new ServerSocket()
    s.setReuseAddress(true)
    val addr = new java.net.InetSocketAddress(
      java.net.InetAddress.getByName(bind), fixedPort)
    var attempt = 0
    var bound = false
    while (!bound) {
      try { s.bind(addr, 64); bound = true }
      catch {
        case _: java.net.BindException if fixedPort != 0 && attempt < 100 =>
          attempt += 1; Thread.sleep(100)
        case e: Throwable => throw e
      }
    }
    s
  }
  private val clients = ConcurrentHashMap.newKeySet[Socket]()
  @volatile private var running = false

  def port: Int = server.getLocalPort

  def start(): Unit = {
    running = true
    val acceptor = new Thread(() => {
      while (running && !server.isClosed) {
        try {
          val sock = server.accept()
          accepted += 1
          val t = new Thread(() => serve(sock))
          t.setDaemon(true)
          t.start()
        } catch {
          // closed during stop() exits via the loop condition; any other
          // accept failure (fd exhaustion, transient socket error) must not
          // hot-spin — back off briefly before retrying
          case _: Throwable => if (running && !server.isClosed) Thread.sleep(50)
        }
      }
    })
    acceptor.setDaemon(true)
    acceptor.start()
  }

  private def serve(sock: Socket): Unit = {
    clients.add(sock)
    // Re-check AFTER registering: a connection accepted in the window
    // between stop()'s `running = false` and its client sweep would
    // otherwise be served by a "stopped" server — the half-open behavior
    // stop() exists to prevent. Register-then-check pairs with stop()'s
    // flag-then-sweep: whichever thread runs second sees the other's
    // write, so the socket is closed on at least one path.
    if (!running) {
      clients.remove(sock)
      try sock.close() catch { case _: Throwable => () }
      return
    }
    try serveLoop(sock)
    catch { case _: java.io.IOException => () } // connection closed under us
    finally { clients.remove(sock); sock.close() }
  }

  /** Stop accepting AND drop live client connections — a restart must
    * look like a real server death to pooled clients, not a half-open
    * socket that keeps serving from the old process. */
  def stop(): Unit = {
    running = false
    try server.close() catch { case _: Throwable => () }
    clients.forEach(s => try s.close() catch { case _: Throwable => () })
    clients.clear()
  }

  /** The per-connection protocol loop: read commands, write replies,
    * return on clean EOF. */
  private def serveLoop(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    while (true) {
      val cmd = readCommand(in)
      if (cmd == null) return
      out.write(try handle(cmd) catch {
        case e: Throwable => s"-ERR ${e.getMessage}\r\n".getBytes(UTF_8)
      })
      out.flush()
    }
  }

  /** Read one RESP command array; null on clean EOF before a command. */
  private def readCommand(in: InputStream): Seq[String] = {
    val first = in.read()
    if (first < 0) return null
    require(first == '*',
      s"RESP commands must be arrays, got type byte $first")
    def line(): String = {
      val buf = new java.io.ByteArrayOutputStream(16)
      var c = in.read()
      while (c != '\r') {
        if (c < 0) throw new EOFException("closed mid-command")
        buf.write(c); c = in.read()
      }
      if (in.read() != '\n') throw new IOException("CR without LF")
      new String(buf.toByteArray, UTF_8)
    }
    val n = line().toInt
    (0 until n).map { _ =>
      require(in.read() == '$', "command array element must be a bulk string")
      val len = line().toInt
      val b = new Array[Byte](len)
      var off = 0
      while (off < len) {
        val r = in.read(b, off, len - off)
        if (r < 0) throw new EOFException("closed mid-bulk")
        off += r
      }
      if (in.read() != '\r' || in.read() != '\n')
        throw new IOException("bulk not CRLF-terminated")
      new String(b, UTF_8)
    }
  }

  private def bulk(s: String): String = {
    val b = s.getBytes(UTF_8)
    s"$$${b.length}\r\n$s\r\n"
  }

  private def handle(cmd: Seq[String]): Array[Byte] = {
    val reply = cmd.head.toUpperCase match {
      case "HINCRBY" if cmd.length == 4 =>
        s":${state.hincrBy(cmd(1), cmd(2), cmd(3).toLong)}\r\n"
      case "HGETALL" if cmd.length == 2 =>
        val m = state.hgetAll(cmd(1)).toSeq.sortBy(_._1)
        s"*${2 * m.length}\r\n" +
          m.map { case (f, v) => bulk(f) + bulk(v.toString) }.mkString
      case "SADD" if cmd.length >= 3 =>
        s":${cmd.drop(2).count(state.sadd(cmd(1), _))}\r\n"
      case "SISMEMBER" if cmd.length == 3 =>
        s":${if (state.sismember(cmd(1), cmd(2))) 1 else 0}\r\n"
      case "PING" => "+PONG\r\n"
      case other => s"-ERR unknown command '$other'\r\n"
    }
    reply.getBytes(UTF_8)
  }
}
