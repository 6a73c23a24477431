package graft.rpc

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import Wire._

/** Hand-rolled proto3 WIRE-FORMAT codec for the five reference rpc
  * message pairs — the byte framing a reference client's compiled
  * protobuf stubs produce, so the transport boundary ([[RpcServer]],
  * [[RpcClient]]) matches not just the message CONTRACT ([[Wire]]) but
  * the ENCODING. Field numbers and types come from the reference's
  * proto files:
  *
  *   - /root/reference/proto/coordinate.proto:6-47 — Broker{id=1 uint32,
  *     ip=2 string, port=3 uint32}, MetadataRequest{topic_name=1},
  *     MetadataResponse{brokers=1 repeated}, BrokerInitializationRequest
  *     {broker=1, partition=2 uint32, topic_name=3},
  *     BrokerInitializationResponse{status=1 enum, message=2}.
  *   - /root/reference/proto/publish.proto:11-21 — PublishDataToBroker
  *     {event_name=1, timestamp=2 google.protobuf.Timestamp, number=3
  *     int32}, BrokerToPublisherAck{response_to_producer=1},
  *     ExpressDataToProducer{data=1 int32}, ProducerToExpressAck
  *     {response_to_express=1 int32}.
  *   - /root/reference/proto/consume.proto:11-24 — ConsumeDataFromBroker
  *     {event_name=1, number=2 uint32}, Event{event_name=1, timestamp=2},
  *     BrokerToConsumerAck{event_vec=1 repeated Event}.
  *
  * The encoding rules used are the public protobuf wire format: tag =
  * (field_number << 3) | wire_type; wire type 0 (varint) for
  * int32/uint32/int64/enum — negative int32 sign-extends to a 10-byte
  * 64-bit varint; wire type 2 (length-delimited) for string and nested
  * messages. proto3 presence: scalar fields at their default (0 / empty
  * string) are omitted on encode; decoders accept fields in any order,
  * tolerate duplicates (last wins, per spec), and SKIP unknown fields —
  * so a newer client with extra fields still round-trips. These flat
  * messages use no packed/fixed/group encodings.
  *
  * google.protobuf.Timestamp is the well-known type {seconds=1 int64,
  * nanos=2 int32}; the engine stores µs, which embeds losslessly.
  *
  * [[grpcFrame]]/[[grpcUnframe]] add gRPC's length-prefixed message
  * framing (1-byte compressed flag + 4-byte big-endian length + bytes) —
  * the layer above the message encoding in every gRPC transport. What
  * this repo does NOT reimplement is HTTP/2 itself: [[RpcServer]] serves
  * these frames over HTTP/1.1 POSTs at the gRPC path convention
  * (`/<package>.<Service>/<Method>`), which is the documented delta.
  */
object Proto {

  // ---- primitive writer -------------------------------------------------

  final class W {
    private val buf = new ByteArrayOutputStream()
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7FL) != 0L) { buf.write(((x & 0x7FL) | 0x80L).toInt); x >>>= 7 }
      buf.write(x.toInt)
    }
    private def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    /** varint scalar (int32/uint32/int64/enum); proto3 default 0 omitted. */
    def int(field: Int, v: Long): Unit =
      if (v != 0L) { tag(field, 0); varint(v) }
    /** string; proto3 default "" omitted. */
    def str(field: Int, s: String): Unit =
      if (s.nonEmpty) {
        tag(field, 2); val b = s.getBytes(UTF_8); varint(b.length.toLong); buf.write(b)
      }
    /** nested message — ALWAYS emitted (message presence is explicit;
      * repeated elements emit one per element even when empty). */
    def msg(field: Int, body: Array[Byte]): Unit = {
      tag(field, 2); varint(body.length.toLong); buf.write(body, 0, body.length)
    }
    def bytes: Array[Byte] = buf.toByteArray
  }

  // ---- primitive reader -------------------------------------------------

  final class R(b: Array[Byte]) {
    private var pos = 0
    def hasNext: Boolean = pos < b.length
    def varint(): Long = {
      var shift = 0; var res = 0L
      while (shift < 70) {
        // bounds-checked so a truncated frame surfaces as the codec's own
        // IllegalArgumentException (uniform with lenDelim/skip), not an
        // ArrayIndexOutOfBoundsException from the backing array
        require(pos < b.length, s"malformed varint: truncated at $pos")
        val x = b(pos); pos += 1
        res |= (x & 0x7FL) << shift
        if ((x & 0x80) == 0) return res
        shift += 7
      }
      throw new IllegalArgumentException("malformed varint (over 10 bytes)")
    }
    /** (fieldNumber, wireType) of the next tag. */
    def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7).toInt) }
    /** Checked against the bytes left while still 64-bit, so a length of
      * 2^32 or more fails instead of narrowing to its low 32 bits. */
    def lenDelim(): Array[Byte] = {
      val n = varint()
      require(n >= 0 && n <= b.length - pos, s"malformed length $n at $pos")
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n.toInt); pos += n.toInt; out
    }
    /** Skip an unknown field by wire type — forward compatibility. Fixed
      * widths are bounds-checked so a truncated fixed64/fixed32 tail errors
      * like every other malformed frame instead of decoding silently. */
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => require(pos + 8 <= b.length, s"malformed fixed64: truncated at $pos"); pos += 8
      case 2 => lenDelim()
      case 5 => require(pos + 4 <= b.length, s"malformed fixed32: truncated at $pos"); pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  /** Decode loop: dispatch each (field, wire) to `f`; unknown → skip. */
  private def scan(b: Array[Byte])(f: PartialFunction[(Int, Int, R), Unit]): Unit = {
    val r = new R(b)
    while (r.hasNext) {
      val (fld, wire) = r.tag()
      if (!f.isDefinedAt((fld, wire, r))) r.skip(wire) else f((fld, wire, r))
    }
  }

  // ---- google.protobuf.Timestamp {seconds=1 int64, nanos=2 int32} -------

  def encTimestamp(t: java.sql.Timestamp): Array[Byte] = {
    val w = new W
    w.int(1, Math.floorDiv(t.getTime, 1000L))
    w.int(2, t.getNanos.toLong)
    w.bytes
  }
  def decTimestamp(b: Array[Byte]): java.sql.Timestamp = {
    var sec = 0L; var nanos = 0L
    scan(b) {
      case (1, 0, r) => sec = r.varint()
      case (2, 0, r) => nanos = r.varint()
    }
    val t = new java.sql.Timestamp(sec * 1000L)
    t.setNanos(nanos.toInt)
    t
  }

  // ---- coordinate.proto ---------------------------------------------------

  def encBroker(v: Broker): Array[Byte] = {
    val w = new W; w.int(1, v.id.toLong); w.str(2, v.ip); w.int(3, v.port.toLong); w.bytes
  }
  def decBroker(b: Array[Byte]): Broker = {
    var id = 0; var ip = ""; var port = 0
    scan(b) {
      case (1, 0, r) => id = r.varint().toInt
      case (2, 2, r) => ip = new String(r.lenDelim(), UTF_8)
      case (3, 0, r) => port = r.varint().toInt
    }
    Broker(id, ip, port)
  }

  def encMetadataRequest(v: MetadataRequest): Array[Byte] = {
    val w = new W; w.str(1, v.topicName); w.bytes
  }
  def decMetadataRequest(b: Array[Byte]): MetadataRequest = {
    var t = ""
    scan(b) { case (1, 2, r) => t = new String(r.lenDelim(), UTF_8) }
    MetadataRequest(t)
  }

  def encMetadataResponse(v: MetadataResponse): Array[Byte] = {
    val w = new W; v.brokers.foreach(bk => w.msg(1, encBroker(bk))); w.bytes
  }
  def decMetadataResponse(b: Array[Byte]): MetadataResponse = {
    val bs = Seq.newBuilder[Broker]
    scan(b) { case (1, 2, r) => bs += decBroker(r.lenDelim()) }
    MetadataResponse(bs.result())
  }

  def encBrokerInitializationRequest(v: BrokerInitializationRequest): Array[Byte] = {
    val w = new W
    w.msg(1, encBroker(v.broker)); w.int(2, v.partition.toLong); w.str(3, v.topicName)
    w.bytes
  }
  def decBrokerInitializationRequest(b: Array[Byte]): BrokerInitializationRequest = {
    var bk = Broker(0, "", 0); var part = 0; var t = ""
    scan(b) {
      case (1, 2, r) => bk = decBroker(r.lenDelim())
      case (2, 0, r) => part = r.varint().toInt
      case (3, 2, r) => t = new String(r.lenDelim(), UTF_8)
    }
    BrokerInitializationRequest(bk, part, t)
  }

  def encBrokerInitializationResponse(v: BrokerInitializationResponse): Array[Byte] = {
    val w = new W; w.int(1, v.status.code.toLong); w.str(2, v.message); w.bytes
  }
  def decBrokerInitializationResponse(b: Array[Byte]): BrokerInitializationResponse = {
    var st = 0; var msg = ""
    scan(b) {
      case (1, 0, r) => st = r.varint().toInt
      case (2, 2, r) => msg = new String(r.lenDelim(), UTF_8)
    }
    BrokerInitializationResponse(if (st == 0) Ok else Error, msg)
  }

  // ---- publish.proto ------------------------------------------------------

  def encPublishDataToBroker(v: PublishDataToBroker): Array[Byte] = {
    val w = new W
    w.str(1, v.eventName); w.msg(2, encTimestamp(v.timestamp)); w.int(3, v.number.toLong)
    w.bytes
  }
  def decPublishDataToBroker(b: Array[Byte]): PublishDataToBroker = {
    var name = ""; var ts = new java.sql.Timestamp(0L); var num = 0
    scan(b) {
      case (1, 2, r) => name = new String(r.lenDelim(), UTF_8)
      case (2, 2, r) => ts = decTimestamp(r.lenDelim())
      case (3, 0, r) => num = r.varint().toInt
    }
    PublishDataToBroker(name, ts, num)
  }

  def encBrokerToPublisherAck(v: BrokerToPublisherAck): Array[Byte] = {
    val w = new W; w.str(1, v.responseToProducer); w.bytes
  }
  def decBrokerToPublisherAck(b: Array[Byte]): BrokerToPublisherAck = {
    var s = ""
    scan(b) { case (1, 2, r) => s = new String(r.lenDelim(), UTF_8) }
    BrokerToPublisherAck(s)
  }

  def encExpressDataToProducer(v: ExpressDataToProducer): Array[Byte] = {
    val w = new W; w.int(1, v.data.toLong); w.bytes
  }
  def decExpressDataToProducer(b: Array[Byte]): ExpressDataToProducer = {
    var d = 0
    scan(b) { case (1, 0, r) => d = r.varint().toInt }
    ExpressDataToProducer(d)
  }

  def encProducerToExpressAck(v: ProducerToExpressAck): Array[Byte] = {
    val w = new W; w.int(1, v.responseToExpress.toLong); w.bytes
  }
  def decProducerToExpressAck(b: Array[Byte]): ProducerToExpressAck = {
    var d = 0
    scan(b) { case (1, 0, r) => d = r.varint().toInt }
    ProducerToExpressAck(d)
  }

  // ---- consume.proto ------------------------------------------------------

  def encConsumeDataFromBroker(v: ConsumeDataFromBroker): Array[Byte] = {
    val w = new W; w.str(1, v.eventName); w.int(2, v.number.toLong); w.bytes
  }
  def decConsumeDataFromBroker(b: Array[Byte]): ConsumeDataFromBroker = {
    var name = ""; var num = 0
    scan(b) {
      case (1, 2, r) => name = new String(r.lenDelim(), UTF_8)
      case (2, 0, r) => num = r.varint().toInt
    }
    ConsumeDataFromBroker(name, num)
  }

  def encEvent(v: Event): Array[Byte] = {
    val w = new W; w.str(1, v.eventName); w.msg(2, encTimestamp(v.timestamp)); w.bytes
  }
  def decEvent(b: Array[Byte]): Event = {
    var name = ""; var ts = new java.sql.Timestamp(0L)
    scan(b) {
      case (1, 2, r) => name = new String(r.lenDelim(), UTF_8)
      case (2, 2, r) => ts = decTimestamp(r.lenDelim())
    }
    Event(name, ts)
  }

  def encBrokerToConsumerAck(v: BrokerToConsumerAck): Array[Byte] = {
    val w = new W; v.eventVec.foreach(e => w.msg(1, encEvent(e))); w.bytes
  }
  def decBrokerToConsumerAck(b: Array[Byte]): BrokerToConsumerAck = {
    val es = Seq.newBuilder[Event]
    scan(b) { case (1, 2, r) => es += decEvent(r.lenDelim()) }
    BrokerToConsumerAck(es.result())
  }

  // ---- gRPC length-prefixed message framing -------------------------------

  /** 1-byte compressed flag (0) + 4-byte big-endian length + message. */
  def grpcFrame(msg: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + msg.length)
    out(0) = 0
    out(1) = (msg.length >>> 24).toByte; out(2) = (msg.length >>> 16).toByte
    out(3) = (msg.length >>> 8).toByte;  out(4) = msg.length.toByte
    System.arraycopy(msg, 0, out, 5, msg.length)
    out
  }

  def grpcUnframe(frame: Array[Byte]): Array[Byte] = {
    require(frame.length >= 5, s"gRPC frame too short: ${frame.length} bytes")
    require(frame(0) == 0, "compressed gRPC frames are not supported")
    val n = ((frame(1) & 0xFF) << 24) | ((frame(2) & 0xFF) << 16) |
            ((frame(3) & 0xFF) << 8)  |  (frame(4) & 0xFF)
    require(frame.length == 5 + n, s"gRPC frame length mismatch: declared $n, " +
      s"have ${frame.length - 5}")
    java.util.Arrays.copyOfRange(frame, 5, 5 + n)
  }
}
