package graft.rpc

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import Wire._

/** TCP client for [[RpcServer]] implementing the same five Wire service
  * traits as the in-process facade — the role of the reference's
  * generated gRPC client stubs (a reference user's producer/consumer
  * code programs against the service trait; whether the implementation
  * is [[CascadeRpc]] in-process or this client over a socket is
  * invisible to it, which is exactly the parity the process boundary
  * requires).
  *
  * Every request and response crosses the socket as protobuf wire-format
  * bytes ([[Proto]]) inside a gRPC length-prefixed frame, POSTed to the
  * gRPC path `/<package>.<Service>/<Method>` — the byte stream a
  * reference client's compiled stubs emit, over HTTP/1.1 instead of
  * HTTP/2. Contract mapping is the inverse of the server's: 404 → the
  * facade's NoSuchElementException (unknown topic / missing offset), any
  * other non-200 → IllegalStateException with the server's text message.
  */
final class RpcClient(host: String, port: Int)
    extends KafkaMetadataService with KafkaBrokerInitializationService
    with PublishToBroker with MyAPIService with ConsumeFromBroker {

  override def send(request: BrokerInitializationRequest): BrokerInitializationResponse =
    Proto.decBrokerInitializationResponse(
      call("coordinate.KafkaBrokerInitializationService/Send",
           Proto.encBrokerInitializationRequest(request)))

  override def getMetadata(request: MetadataRequest): MetadataResponse =
    Proto.decMetadataResponse(
      call("coordinate.KafkaMetadataService/GetMetadata",
           Proto.encMetadataRequest(request)))

  override def send(request: PublishDataToBroker): BrokerToPublisherAck =
    Proto.decBrokerToPublisherAck(
      call("publish.PublishToBroker/Send", Proto.encPublishDataToBroker(request)))

  override def expressToProducer(request: ExpressDataToProducer): ProducerToExpressAck =
    Proto.decProducerToExpressAck(
      call("publish.MyAPIService/ExpressToProducer",
           Proto.encExpressDataToProducer(request)))

  override def send(request: ConsumeDataFromBroker): BrokerToConsumerAck =
    Proto.decBrokerToConsumerAck(
      call("consume.ConsumeFromBroker/Send",
           Proto.encConsumeDataFromBroker(request)))

  // ---- transport ---------------------------------------------------------

  private def call(path: String, msg: Array[Byte]): Array[Byte] = {
    val conn = URI.create(s"http://$host:$port/$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/x-protobuf")
    val os = conn.getOutputStream
    try os.write(Proto.grpcFrame(msg)) finally os.close()
    val status = conn.getResponseCode
    val in = if (status == 200) conn.getInputStream else conn.getErrorStream
    val body = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    if (status == 200) Proto.grpcUnframe(body)
    else {
      val text = new String(body, StandardCharsets.UTF_8)
      if (status == 404) throw new NoSuchElementException(text)
      throw new IllegalStateException(s"rpc $path failed ($status): $text")
    }
  }
}
