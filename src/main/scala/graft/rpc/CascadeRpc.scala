package graft.rpc

import graft.Cascade
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Wire._

/** All five reference rpcs over one Cascade instance — the in-process
  * facade a reference user's producer/consumer/coordinator client code
  * maps onto 1:1.
  *
  * Like a reference BROKER, an instance binds to ONE topic/log
  * (PublishDataToBroker and ConsumeDataFromBroker carry no topic field —
  * the broker appends to and reads from its own events.log,
  * /root/reference/src/broker/main.rs:85-110,113-186); the coordinator
  * services are topic-keyed through their request fields, exactly like
  * the reference's in-memory BrokerMap
  * (/root/reference/src/coordinator/brokermap.rs:5-26).
  *
  * Faithfulness notes (intent kept, bugs not):
  *   - the publish ack string is the reference's exact format with the
  *     RFC3339 timestamp render (main.rs:36-48,100-107);
  *   - consume returns the STORED event time. The reference fabricates
  *     `Utc::now()` because its broker persists only the name
  *     (main.rs:93-96, 179-183); here all fields are durable, so the
  *     response carries the real event time — the declared intent of the
  *     Timestamp field;
  *   - duplicate broker registration answers ERROR/"Broker already
  *     registered" — the branch the coordinator DECLARES
  *     (/root/reference/src/coordinator/main.rs:49-54) but can never
  *     reach because brokermap's insert returns true unconditionally;
  *   - getMetadata on an unknown topic fails loudly (the reference
  *     `unwrap()`s the same condition into a panic, main.rs:76).
  */
final class CascadeRpc(spark: SparkSession, cascade: Cascade, topic: String,
                       ringCapacity: Int = graft.sources.push.PushBuffers.DefaultCapacity)
    extends KafkaMetadataService with KafkaBrokerInitializationService
    with PublishToBroker with MyAPIService with ConsumeFromBroker {

  // topic → registered brokers, insertion-ordered (the coordinator's
  // RwLock<HashMap<String, HashSet<Broker>>>); one facade = one
  // coordinator process, so plain synchronization suffices
  private val brokerMap =
    scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.LinkedHashSet[Broker]]

  override def send(request: BrokerInitializationRequest): BrokerInitializationResponse =
    brokerMap.synchronized {
      val set = brokerMap.getOrElseUpdate(
        request.topicName, scala.collection.mutable.LinkedHashSet.empty[Broker])
      if (set.contains(request.broker))
        BrokerInitializationResponse(Error, "Broker already registered")
      else {
        set += request.broker
        BrokerInitializationResponse(Ok, "Broker successfully registered")
      }
    }

  override def getMetadata(request: MetadataRequest): MetadataResponse =
    brokerMap.synchronized {
      brokerMap.get(request.topicName) match {
        case Some(brokers) => MetadataResponse(brokers.toSeq)
        case None => throw new NoSuchElementException(
          s"Topic not found: ${request.topicName}")
      }
    }

  // the reference broker serializes publish under its file mutexes
  // (src/broker/main.rs:55-56,87-91); without this, two concurrent rpc
  // publishes read the same hwm and mint DUPLICATE event_ids (the
  // offset sequence itself is already safe under Topic's publish lock)
  private val publishLock = new Object

  override def send(request: PublishDataToBroker): BrokerToPublisherAck = publishLock.synchronized {
    import spark.implicits._
    // event envelope: the reference triple (name, timestamp, number)
    // embeds as (event_type, ts, value) — the Cascade mapping; event_id
    // continues the log's dense sequence like ingestValue
    val next = cascade.highWaterMark(topic) + 1
    val df = Seq((next, request.timestamp, 0L, request.eventName,
                  request.number.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    cascade.publish(topic, df)
    // the reference ack, verbatim format incl. the RFC3339 render
    // (main.rs:100-107; render = el_ts_render's pattern, UTC offset
    // literal because event time is µs UTC)
    val rendered = java.time.OffsetDateTime
      .ofInstant(request.timestamp.toInstant, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'+00:00'"))
    BrokerToPublisherAck(
      s"successfully rx event with name ${request.eventName} " +
        s"and timestamp $rendered and number ${request.number}")
  }

  override def expressToProducer(request: ExpressDataToProducer): ProducerToExpressAck =
    // the express→producer hop lands in the topic's in-process ring (the
    // reference's 1000-slot buffer); ack 1 accepted / 0 rejected-full
    // (/root/reference/src/producer/main.rs:68-82)
    ProducerToExpressAck(if (cascade.ingestLive(topic, request.data, ringCapacity)) 1 else 0)

  override def send(request: ConsumeDataFromBroker): BrokerToConsumerAck = {
    // number = log ordinal (the broker's two index seeks → here a
    // footer-indexed point read on the driver, no Spark job); one event
    // per call, like the reference —
    // the proto's repeated Event leaves room for the batched form
    // (Cascade.consumeBatch), which the reference never implemented
    val rows = cascade.consume(topic, request.number.toLong)
      .select(col("event_type"), col("ts")).collect()
    if (rows.isEmpty) throw new NoSuchElementException(
      s"no event at offset ${request.number} in topic $topic")
    BrokerToConsumerAck(rows.toSeq.map(r =>
      Event(r.getString(0), r.getTimestamp(1))))
  }
}
