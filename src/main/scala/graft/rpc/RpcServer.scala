package graft.rpc

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The five reference rpcs served over a REAL network listener — the
  * process boundary the reference's services actually have. The
  * reference's producer, coordinator, and broker each bind a socket and
  * serve their protos over gRPC (/root/reference/src/producer/main.rs:
  * 224-229, src/coordinator/main.rs:87, src/broker/main.rs:246-253); the
  * in-process [[CascadeRpc]] facade has the contract but not the
  * boundary. This server puts every [[CascadeRpc]] method behind TCP so
  * a client talks to a listening port, not a JVM object.
  *
  * One framing, the reference's own: each request and response is a
  * protobuf message ([[Proto]]) inside a gRPC length-prefixed frame,
  * POSTed to the gRPC path `/<package>.<Service>/<Method>`. A reference
  * client's compiled stubs produce exactly these request bytes and parse
  * exactly these response bytes; the remaining delta to stock gRPC is the
  * HTTP/2 transport (not resolvable offline), served here as HTTP/1.1 on
  * the JDK's `com.sun.net.httpserver`:
  *
  *   - /coordinate.KafkaBrokerInitializationService/Send
  *   - /coordinate.KafkaMetadataService/GetMetadata
  *   - /publish.PublishToBroker/Send
  *   - /publish.MyAPIService/ExpressToProducer
  *   - /consume.ConsumeFromBroker/Send
  *
  * Loud-fail semantics map to status codes, with the message as a UTF-8
  * text body: the facade's NoSuchElementException (unknown topic /
  * missing offset — the reference panics on both) → 404; a non-POST →
  * 405; anything else, a malformed frame included → 500. [[RpcClient]]
  * maps 404 back to NoSuchElementException, so the contract is
  * transport-invariant.
  */
final class RpcServer private (server: HttpServer) {
  /** Actual bound port (useful when started with port 0). */
  def port: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}

object RpcServer {

  def start(rpc: CascadeRpc, port: Int = 0): RpcServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val endpoints = Seq[(String, Array[Byte] => Array[Byte])](
      "/coordinate.KafkaBrokerInitializationService/Send" -> (in =>
        Proto.encBrokerInitializationResponse(
          rpc.send(Proto.decBrokerInitializationRequest(in)))),
      "/coordinate.KafkaMetadataService/GetMetadata" -> (in =>
        Proto.encMetadataResponse(rpc.getMetadata(Proto.decMetadataRequest(in)))),
      "/publish.PublishToBroker/Send" -> (in =>
        Proto.encBrokerToPublisherAck(rpc.send(Proto.decPublishDataToBroker(in)))),
      "/publish.MyAPIService/ExpressToProducer" -> (in =>
        Proto.encProducerToExpressAck(
          rpc.expressToProducer(Proto.decExpressDataToProducer(in)))),
      "/consume.ConsumeFromBroker/Send" -> (in =>
        Proto.encBrokerToConsumerAck(rpc.send(Proto.decConsumeDataFromBroker(in)))))
    for ((path, call) <- endpoints)
      server.createContext(path, (ex: HttpExchange) => handle(ex, call))
    server.start()
    new RpcServer(server)
  }

  /** Unframe, decode, call, encode, frame; a failure answers as status +
    * text, and never lets a response failure mask the error. */
  private def handle(ex: HttpExchange, call: Array[Byte] => Array[Byte]): Unit =
    try {
      if (ex.getRequestMethod != "POST") respondText(ex, 405, "Method Not Allowed")
      else respond(ex, 200, "application/x-protobuf",
        Proto.grpcFrame(call(Proto.grpcUnframe(ex.getRequestBody.readAllBytes()))))
    } catch {
      case e: Throwable =>
        val status = if (e.isInstanceOf[NoSuchElementException]) 404 else 500
        try respondText(ex, status, Option(e.getMessage).getOrElse("Internal Server Error"))
        catch { case _: Throwable => () }
    } finally ex.close()

  private def respondText(ex: HttpExchange, status: Int, msg: String): Unit =
    respond(ex, status, "text/plain; charset=utf-8", msg.getBytes(StandardCharsets.UTF_8))

  private def respond(ex: HttpExchange, status: Int, contentType: String,
                      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }
}
