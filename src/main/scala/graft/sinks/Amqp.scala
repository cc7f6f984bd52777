package graft.sinks

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets

/** Minimal AMQP 0-9-1 wire publisher — the RabbitMQ (K3) sink at the
  * protocol level, replacing the guard-only surface with real framing so
  * the loopback broker spec can assert bytes (the K2 HTTP-sink precedent).
  *
  * Implements exactly the publisher slice of the public AMQP 0-9-1 spec:
  * protocol header, Connection.Start/StartOk (PLAIN), Tune/TuneOk,
  * Connection.Open/OpenOk, Channel.Open/OpenOk, then Basic.Publish as a
  * method frame + content header frame (content-type, delivery-mode 2,
  * correlation-id, string-valued headers table) + body frames split at the
  * TUNED frame-max (body bytes per frame = frameMax − 8 octets of frame
  * overhead), and Connection.Close/CloseOk. What it publishes mirrors the
  * reference's RabbitMQ branch (persistent delivery, correlation id,
  * per-message headers — Source/Services/MessageQueueService.cs:153-657);
  * HOW is Spark-side: callers publish from foreachBatch partitions, one
  * connection per partition (the Relay executor-side fan-out pattern).
  *
  * Not implemented (not needed to publish): consume, qos, transactions,
  * publisher confirms, heartbeats (frame type 8 tolerated and skipped). */
object Amqp {
  // frame types and method ids (AMQP 0-9-1 §4.2.3, §1.1)
  private val FrameMethod = 1
  private val FrameHeader = 2
  private val FrameBody = 3
  private val FrameHeartbeat = 8
  private val FrameEnd = 0xCE

  final case class Frame(tpe: Int, channel: Int, payload: Array[Byte])

  // --- wire primitives ---------------------------------------------------

  final class Writer(out: DataOutputStream) {
    def frame(tpe: Int, channel: Int, payload: Array[Byte]): Unit = {
      out.writeByte(tpe)
      out.writeShort(channel)
      out.writeInt(payload.length)
      out.write(payload)
      out.writeByte(FrameEnd)
      out.flush()
    }
  }

  final class Body() {
    private val buf = new java.io.ByteArrayOutputStream()
    private val d = new DataOutputStream(buf)
    def u8(v: Int): Body = { d.writeByte(v); this }
    def u16(v: Int): Body = { d.writeShort(v); this }
    def u32(v: Long): Body = { d.writeInt(v.toInt); this }
    def u64(v: Long): Body = { d.writeLong(v); this }
    def shortStr(s: String): Body = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      require(b.length <= 255, s"short string over 255 bytes: $s")
      d.writeByte(b.length); d.write(b); this
    }
    def longStr(b: Array[Byte]): Body = { d.writeInt(b.length); d.write(b); this }
    def longStr(s: String): Body = longStr(s.getBytes(StandardCharsets.UTF_8))
    /** Field table with long-string values only (all the publisher needs). */
    def table(m: Map[String, String]): Body = {
      val inner = new Body()
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        inner.shortStr(k); inner.u8('S'); inner.longStr(v)
      }
      val b = inner.bytes
      d.writeInt(b.length); d.write(b); this
    }
    def bytes: Array[Byte] = { d.flush(); buf.toByteArray }
  }

  def readFrame(in: DataInputStream): Frame = {
    val tpe = in.readUnsignedByte()
    val ch = in.readUnsignedShort()
    val size = in.readInt()
    require(size >= 0 && size <= 16 * 1024 * 1024, s"frame size $size out of range")
    val payload = new Array[Byte](size)
    in.readFully(payload)
    val end = in.readUnsignedByte()
    require(end == FrameEnd, f"bad frame-end octet 0x$end%02x")
    Frame(tpe, ch, payload)
  }

  private def methodFrame(in: DataInputStream, wantClass: Int, wantMethod: Int): Array[Byte] = {
    var f = readFrame(in)
    while (f.tpe == FrameHeartbeat) f = readFrame(in)
    require(f.tpe == FrameMethod, s"expected method frame, got type ${f.tpe}")
    val cls = ((f.payload(0) & 0xff) << 8) | (f.payload(1) & 0xff)
    val mth = ((f.payload(2) & 0xff) << 8) | (f.payload(3) & 0xff)
    require(cls == wantClass && mth == wantMethod,
      s"expected method $wantClass.$wantMethod, got $cls.$mth")
    f.payload.drop(4)
  }

  // --- the publisher -----------------------------------------------------

  private val Target = """(?:amqp://)?([^/:]+):([0-9]+)/(.*)""".r

  /** An endpoint target `amqp://host:port/exchange` as (host, port,
    * exchange); None when the host, the port or the `/exchange` part is
    * missing or the port is not a number in 1–65535. The exchange may be
    * empty (AMQP's default exchange). */
  def parseTarget(target: String): Option[(String, Int, String)] = target match {
    case Target(host, port, exchange) =>
      port.toIntOption.filter(p => p > 0 && p <= 65535).map((host, _, exchange))
    case _ => None
  }

  /** Publish one message; returns the tuned frame-max actually used (so
    * callers/specs can assert the body-split arithmetic) or a failure. */
  def publish(host: String, port: Int,
              exchange: String, routingKey: String,
              body: Array[Byte],
              correlationId: String,
              headers: Map[String, String] = Map.empty,
              contentType: String = "application/json",
              user: String = "guest", pass: String = "guest",
              vhost: String = "/",
              frameMaxWanted: Int = 131072,
              timeoutMs: Int = 10000): Either[ExportFailure, Long] =
    try {
      // connect with an explicit timeout: setSoTimeout only governs reads
      // AFTER the connection is up — a bare `new Socket(host, port)` on a
      // black-holed broker would stall the executor task for the OS TCP
      // connect timeout (minutes) before the DLQ ever saw the failure
      val sock = new Socket()
      try {
        sock.connect(new java.net.InetSocketAddress(host, port), timeoutMs)
        sock.setSoTimeout(timeoutMs)
        val in = new DataInputStream(sock.getInputStream)
        val out = new Writer(new DataOutputStream(sock.getOutputStream))
        // protocol header (not a frame)
        sock.getOutputStream.write(Array[Byte]('A', 'M', 'Q', 'P', 0, 0, 9, 1))
        sock.getOutputStream.flush()
        // Connection.Start -> StartOk (PLAIN: \0user\0pass)
        methodFrame(in, 10, 10)
        val plain = ("\u0000" + user + "\u0000" + pass).getBytes(StandardCharsets.UTF_8)
        out.frame(FrameMethod, 0, new Body().u16(10).u16(11)
          .table(Map("product" -> "graft")).shortStr("PLAIN")
          .longStr(plain).shortStr("en_US").bytes)
        // Tune -> TuneOk (accept server frame-max when it is tighter)
        val tune = methodFrame(in, 10, 30)
        val serverFrameMax =
          ((tune(2) & 0xffL) << 24) | ((tune(3) & 0xffL) << 16) |
            ((tune(4) & 0xffL) << 8) | (tune(5) & 0xffL)
        val frameMax =
          if (serverFrameMax == 0L) frameMaxWanted.toLong
          else math.min(serverFrameMax, frameMaxWanted.toLong)
        out.frame(FrameMethod, 0, new Body().u16(10).u16(31)
          .u16(0).u32(frameMax).u16(0).bytes)
        // Connection.Open -> OpenOk
        out.frame(FrameMethod, 0, new Body().u16(10).u16(40)
          .shortStr(vhost).shortStr("").u8(0).bytes)
        methodFrame(in, 10, 41)
        // Channel.Open -> OpenOk (channel 1)
        out.frame(FrameMethod, 1, new Body().u16(20).u16(10).shortStr("").bytes)
        methodFrame(in, 20, 11)
        // Basic.Publish method frame
        out.frame(FrameMethod, 1, new Body().u16(60).u16(40)
          .u16(0).shortStr(exchange).shortStr(routingKey).u8(0).bytes)
        // content header: content-type (bit 15) + headers (13) +
        // delivery-mode (12, persistent=2) + correlation-id (10)
        val flags = (1 << 15) | (if (headers.nonEmpty) 1 << 13 else 0) |
          (1 << 12) | (1 << 10)
        val hdr = new Body().u16(60).u16(0).u64(body.length.toLong).u16(flags)
          .shortStr(contentType)
        if (headers.nonEmpty) hdr.table(headers)
        hdr.u8(2).shortStr(correlationId)
        out.frame(FrameHeader, 1, hdr.bytes)
        // body frames: frameMax is the FULL frame size; 8 octets of
        // type+channel+size+end overhead leave frameMax-8 payload bytes
        val chunk = math.max(1L, frameMax - 8L).toInt
        var off = 0
        while (off < body.length) {
          val n = math.min(chunk, body.length - off)
          out.frame(FrameBody, 1, java.util.Arrays.copyOfRange(body, off, off + n))
          off += n
        }
        if (body.isEmpty) () // zero-length body: header frame only, per spec
        // Connection.Close -> CloseOk
        out.frame(FrameMethod, 0, new Body().u16(10).u16(50)
          .u16(200).shortStr("bye").u16(0).u16(0).bytes)
        methodFrame(in, 10, 51)
        Right(frameMax)
      } finally sock.close()
    } catch {
      case e: Exception =>
        Left(ExportFailure("rabbitmq", s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
}
