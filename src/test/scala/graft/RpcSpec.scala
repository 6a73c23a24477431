package graft

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files
import graft.rpc.Wire._
import graft.rpc.{CascadeRpc, RpcClient, RpcServer}

/** Drives publish / metadata / consume / express through the in-process
  * RPC facade — the E1/E2/E3 wire-shape parity check next to the HTTP
  * ingress edge (HttpIngressSpec) — then through [[RpcServer]] over a
  * socket: with [[RpcClient]], and with hand-built gRPC frames checked
  * against golden reply bytes, so a codec bug shared by both ends of the
  * socket cannot pass unseen. */
class RpcSpec extends SparkSpec {

  private def facade(topic: String, ringCapacity: Int = 4): CascadeRpc = {
    val root = Files.createTempDirectory("rpc-root").toString
    new CascadeRpc(spark, new Cascade(spark, root), topic, ringCapacity)
  }

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("coordinator: broker registration then metadata lookup") {
    val rpc = facade("t_coord")
    val b1  = Broker(1, "10.0.0.1", 50030)
    val b2  = Broker(2, "10.0.0.2", 50030)

    assert(rpc.send(BrokerInitializationRequest(b1, 0, "orders")) ===
      BrokerInitializationResponse(Ok, "Broker successfully registered"))
    assert(rpc.send(BrokerInitializationRequest(b2, 1, "orders")).status === Ok)
    // the duplicate-registration branch the reference declares
    assert(rpc.send(BrokerInitializationRequest(b1, 0, "orders")) ===
      BrokerInitializationResponse(Error, "Broker already registered"))

    assert(rpc.getMetadata(MetadataRequest("orders")).brokers === Seq(b1, b2))
    intercept[NoSuchElementException] { rpc.getMetadata(MetadataRequest("nope")) }
  }

  test("publish rpc: reference ack format; consume rpc: event by ordinal") {
    val rpc = facade("t_log")
    val ack = rpc.send(PublishDataToBroker("alpha", ts(1700000000L), 7))
    assert(ack.responseToProducer ===
      "successfully rx event with name alpha and timestamp " +
        "2023-11-14T22:13:20+00:00 and number 7")
    rpc.send(PublishDataToBroker("beta", ts(1700000060L), 8))
    rpc.send(PublishDataToBroker("gamma", ts(1700000120L), 9))

    // consume by log ordinal (proto `number`): one event per call, with
    // the STORED event time (the reference fabricates now() because it
    // never persisted the timestamp; here all fields are durable)
    assert(rpc.send(ConsumeDataFromBroker("req_from_consumer", 0)) ===
      BrokerToConsumerAck(Seq(Event("alpha", ts(1700000000L)))))
    assert(rpc.send(ConsumeDataFromBroker("req_from_consumer", 2)) ===
      BrokerToConsumerAck(Seq(Event("gamma", ts(1700000120L)))))
    intercept[NoSuchElementException] {
      rpc.send(ConsumeDataFromBroker("req_from_consumer", 99))
    }
  }

  test("express rpc: ring admission ack 1 until full, then 0") {
    val rpc = facade(s"t_ring_${System.nanoTime()}", ringCapacity = 2)
    assert(rpc.expressToProducer(ExpressDataToProducer(41)) === ProducerToExpressAck(1))
    assert(rpc.expressToProducer(ExpressDataToProducer(42)) === ProducerToExpressAck(1))
    // reference-faithful rejection: the ring's slots are never freed, so
    // a full ring acks 0 (producer main.rs:68-82)
    assert(rpc.expressToProducer(ExpressDataToProducer(43)) === ProducerToExpressAck(0))
  }

  test("all five rpcs over a real TCP socket: client ≡ in-process facade") {
    // the process boundary the reference's services have (its producer/
    // coordinator/broker each bind a socket): E1/E2/E3 driven through an
    // actual listener + protobuf/gRPC-framed client, same Wire traits on
    // both ends, every rpc and every error branch the facade has
    val rpc    = facade(s"t_tcp_${System.nanoTime()}", ringCapacity = 2)
    val server = RpcServer.start(rpc)
    try {
      val c = new RpcClient("127.0.0.1", server.port)

      // coordinator surface (E3): register, duplicate branch, lookup, miss
      val b1 = Broker(1, "10.0.0.1", 50030)
      assert(c.send(BrokerInitializationRequest(b1, 0, "orders")) ===
        BrokerInitializationResponse(Ok, "Broker successfully registered"))
      assert(c.send(BrokerInitializationRequest(b1, 0, "orders")) ===
        BrokerInitializationResponse(Error, "Broker already registered"))
      assert(c.getMetadata(MetadataRequest("orders")).brokers === Seq(b1))
      intercept[NoSuchElementException] { c.getMetadata(MetadataRequest("nope")) }

      // publish → consume round-trip (E1): reference ack format verbatim,
      // µs event time surviving the wire both ways
      val t = {
        val x = new java.sql.Timestamp(1700000000000L); x.setNanos(123456000); x
      }
      val ack = c.send(PublishDataToBroker("alpha", t, 7))
      assert(ack.responseToProducer.startsWith(
        "successfully rx event with name alpha and timestamp 2023-11-14T22:13:20"))
      assert(c.send(ConsumeDataFromBroker("req_from_consumer", 0)) ===
        BrokerToConsumerAck(Seq(Event("alpha", t))))
      intercept[NoSuchElementException] {
        c.send(ConsumeDataFromBroker("req_from_consumer", 99))
      }

      // express admission (E2): ack 1 until the ring fills, then 0
      assert(c.expressToProducer(ExpressDataToProducer(41)) === ProducerToExpressAck(1))
      assert(c.expressToProducer(ExpressDataToProducer(42)) === ProducerToExpressAck(1))
      assert(c.expressToProducer(ExpressDataToProducer(43)) === ProducerToExpressAck(0))
    } finally server.stop()
  }

  test("server answers hand-built gRPC frames with golden bytes; 405 on GET, 500 on a bad frame") {
    val rpc    = facade(s"t_raw_${System.nanoTime()}")
    val server = RpcServer.start(rpc)
    def bytes(hex: String): Array[Byte] =
      hex.split(' ').map(Integer.parseInt(_, 16).toByte)
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString(" ")
    /** (status, reply body) of one raw request to `path`. */
    def raw(path: String, body: Option[Array[Byte]]): (Int, Array[Byte]) = {
      val conn = URI.create(s"http://127.0.0.1:${server.port}$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      body.foreach { b =>
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        try os.write(b) finally os.close()
      }
      val status = conn.getResponseCode
      val in = if (status == 200) conn.getInputStream else conn.getErrorStream
      (status, if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close())
    }
    val metadata = "/coordinate.KafkaMetadataService/GetMetadata"
    val consume  = "/consume.ConsumeFromBroker/Send"
    try {
      rpc.send(BrokerInitializationRequest(Broker(1, "10.0.0.1", 50030), 0, "orders"))
      val t = { val x = new java.sql.Timestamp(1700000000000L); x.setNanos(123456000); x }
      rpc.send(PublishDataToBroker("alpha", t, 7))

      // MetadataRequest{topic_name="orders"} → MetadataResponse{brokers=[
      // Broker{id=1, ip="10.0.0.1", port=50030}]}, each in a 5-byte gRPC
      // prefix (flag 0, big-endian length)
      val (s1, r1) = raw(metadata, Some(bytes("00 00 00 00 08 0a 06 6f 72 64 65 72 73")))
      assert(s1 === 200)
      assert(hex(r1) === "00 00 00 00 12 0a 10 " +
        "08 01 12 08 31 30 2e 30 2e 30 2e 31 18 ee 86 03")

      // ConsumeDataFromBroker{event_name="req", number=0 (omitted)} →
      // BrokerToConsumerAck{event_vec=[Event{event_name="alpha",
      // timestamp={seconds=1700000000, nanos=123456000}}]}
      val (s2, r2) = raw(consume, Some(bytes("00 00 00 00 05 0a 03 72 65 71")))
      assert(s2 === 200)
      assert(hex(r2) === "00 00 00 00 16 0a 14 0a 05 61 6c 70 68 61 " +
        "12 0b 08 80 e2 cf aa 06 10 80 94 ef 3a")

      // a missing offset is 404 with the message as text
      val (s3, r3) = raw(consume, Some(bytes("00 00 00 00 02 10 63")))
      assert(s3 === 404)
      assert(new String(r3, "UTF-8").contains("no event at offset 99"))

      assert(raw(metadata, None)._1 === 405)
      // declared length 9, one byte present: 500, and the server serves on
      assert(raw(metadata, Some(bytes("00 00 00 00 09 0a")))._1 === 500)
      val (s4, r4) = raw(metadata, Some(bytes("00 00 00 00 08 0a 06 6f 72 64 65 72 73")))
      assert(s4 === 200 && hex(r4) === hex(r1))
    } finally server.stop()
  }
}
