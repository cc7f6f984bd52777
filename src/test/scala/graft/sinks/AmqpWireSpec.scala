package graft.sinks

import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite

/** Wire-level asserts for the AMQP publisher against the in-JVM loopback
  * broker (the K2 HTTP-sink precedent applied to K3): protocol header
  * bytes, PLAIN credentials, tuned frame-max honored, Basic.Publish
  * exchange/routing key, content-header property flags (content-type,
  * headers table, persistent delivery, correlation id), multi-frame body
  * reassembly, clean Close/CloseOk. */
class AmqpWireSpec extends AnyFunSuite {
  import AmqpLoopback.Seen

  private def roundTrip(frameMax: Long, body: Array[Byte],
                        headers: Map[String, String]): (Seen, Either[ExportFailure, Long]) = {
    val server = new ServerSocket(0)
    try {
      var seen: Seen = null
      val t = new Thread(() => { seen = AmqpLoopback.serveOne(server, frameMax) })
      t.start()
      val res = Amqp.publish("127.0.0.1", server.getLocalPort,
        exchange = "graft.export", routingKey = "table.dbo.orders",
        body = body, correlationId = "corr-42", headers = headers)
      t.join(10000)
      assert(seen != null, "broker thread did not finish")
      (seen, res)
    } finally server.close()
  }

  test("handshake, framing, properties and body bytes are all as published") {
    val body = ("{\"rows\":[" + Seq.fill(2000)("{\"k\":1}").mkString(",") + "]}")
      .getBytes(StandardCharsets.UTF_8)
    val (seen, res) = roundTrip(frameMax = 4096L, body = body,
      headers = Map("source" -> "graft", "schema" -> "dbo"))
    assert(res.isRight, s"publish failed: $res")
    assert(res.toOption.get == 4096L, "client must honor the tuned frame-max")
    assert(seen.header.toSeq == Seq[Byte]('A', 'M', 'Q', 'P', 0, 0, 9, 1))
    assert(seen.mechanism == "PLAIN")
    assert(seen.plainResponse.toSeq ==
      ("\u0000guest\u0000guest").getBytes(StandardCharsets.UTF_8).toSeq)
    assert(seen.clientFrameMax == 4096L)
    assert(seen.exchange == "graft.export" && seen.routingKey == "table.dbo.orders")
    assert(seen.contentType == "application/json")
    assert(seen.deliveryMode == 2, "persistent delivery")
    assert(seen.correlationId == "corr-42")
    assert(seen.headers == Map("source" -> "graft", "schema" -> "dbo"))
    assert(seen.bodySizeDeclared == body.length)
    assert(seen.body.toSeq == body.toSeq, "multi-frame body must reassemble byte-exact")
    // split arithmetic: every frame but the last carries frameMax-8 bytes
    assert(seen.bodyFrameSizes.length > 1, "fixture must force a body split")
    assert(seen.bodyFrameSizes.init.forall(_ == 4096 - 8))
    assert(seen.bodyFrameSizes.last == body.length % (4096 - 8) ||
      seen.bodyFrameSizes.last == 4096 - 8)
    assert(seen.closedCleanly)
  }

  test("empty headers omit the table property; zero-length body sends no body frame") {
    val (seen, res) = roundTrip(frameMax = 4096L, body = Array.empty[Byte],
      headers = Map.empty)
    assert(res.isRight)
    assert(seen.headers.isEmpty)
    assert(seen.bodyFrameSizes.isEmpty, "zero-length body publishes header frame only")
    assert(seen.bodySizeDeclared == 0L)
    assert(seen.correlationId == "corr-42" && seen.deliveryMode == 2)
  }

  test("publish against a dead port fails as an ExportFailure, not an exception") {
    val probe = new ServerSocket(0)
    val deadPort = probe.getLocalPort
    probe.close()
    val res = Amqp.publish("127.0.0.1", deadPort, "x", "y",
      "z".getBytes(StandardCharsets.UTF_8), "c")
    assert(res.isLeft)
    assert(res.swap.toOption.get.error.startsWith("ConnectException"))
  }
}
