package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Native as-of join: for every left row, the single right row sharing the
  * join key that is nearest in time — BACKWARD (default): the greatest
  * `rightTime <= leftTime` (point-in-time lookups: snapshot enrichment,
  * trade-to-quote, SCD reads); FORWARD: the smallest `rightTime >=
  * leftTime` (the `q74_asof_forward` direction: next-action attribution).
  * An optional TOLERANCE bounds the match distance (pandas `merge_asof`
  * / kdb window-join parity): a right row farther than `tolerance` time
  * units from the left row does not match.
  *
  * This is the repo's one whole-operator extension (preference ladder (c)
  * in SURVEY.md §4.2: custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`
  * behind `experimental.extraStrategies`), shipped because the composed
  * alternatives genuinely pay at scale:
  *
  *   - inequality-join + per-left aggregate (`q19_asof_join`) EXPANDS: a
  *     left row with m time-eligible right rows materializes m joined rows
  *     before the aggregate collapses them. At 100 TB a hot key's history
  *     multiplies the shuffle.
  *   - union + window `last(ignoreNulls)` (`el_asof_snapshot`,
  *     `q74_asof_forward`) is linear but pays a union of both inputs into
  *     ONE shuffle+sort of combined width (every column of both sides,
  *     null-padded) and a window pass.
  *
  * [[AsOfJoinExec]] instead declares `ClusteredDistribution` on each key
  * set and per-partition `(key, time)` ordering, then streams a single
  * forward merge: one shuffle per side at native row width, zero row
  * expansion, O(1) state. Sorting is delegated to `EnsureRequirements`, so
  * AQE, whole-stage-codegen'd sorts, and reuse of an already-clustered
  * child all apply for free — a child pre-bucketed on the key skips its
  * shuffle entirely.
  *
  * Left-outer semantics, SQL null discipline: a null key or null left time
  * never matches (`x <= NULL` is unknown), and null right times are
  * dropped. Equal-time ties resolve deterministically through
  * `rightTieBreak` (callers pass a unique column): backward picks the row
  * sorting LAST (oracle: `ROW_NUMBER ... ORDER BY time DESC, tiebreak
  * DESC`), forward the row sorting FIRST (`... time ASC, tiebreak ASC`).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    forward: Boolean = false,
    tolerance: Option[Long] = None,
    broadcastRight: Option[Boolean] = None) extends BinaryNode {
  require(leftKeys.nonEmpty && leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    s"as-of key types must align: ${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types must align: ${leftTime.dataType} vs ${rightTime.dataType}")
  require(tolerance.forall(_ >= 0), s"as-of tolerance must be >= 0, got $tolerance")
  require(tolerance.isEmpty || AsOfJoinExec.timeReader(leftTime.dataType).isDefined,
    s"as-of tolerance needs an integral/timestamp/date time column, " +
      s"got ${leftTime.dataType.simpleString}")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]]; inert on every other node. Physical choice
  * mirrors equi-join planning: a right side under
  * `spark.sql.autoBroadcastJoinThreshold` (by logical stats) goes to
  * [[BroadcastAsOfJoinExec]] — no shuffle or sort on EITHER side — unless
  * the plan pins `broadcastRight`; everything else gets the co-partitioned
  * streamed merge. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tb, fwd, tol, bc) =>
      val threshold = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val doBroadcast = bc.getOrElse(
        threshold >= 0 && r.stats.sizeInBytes >= 0 && r.stats.sizeInBytes <= threshold)
      if (doBroadcast)
        BroadcastAsOfJoinExec(lk, rk, lt, rt, tb, fwd, tol, planLater(l), planLater(r)) :: Nil
      else
        AsOfJoinExec(lk, rk, lt, rt, tb, fwd, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }

  /** Idempotent runtime injection of the strategy into a live session. */
  def install(s: SparkSession): Unit = synchronized {
    if (!s.experimental.extraStrategies.contains(this))
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ this
  }
}

object AsOfJoinExec {
  /** Physical long view of a time value for tolerance arithmetic, by the
    * column's Catalyst internal representation (µs for timestamps, days
    * for dates). None = type unsupported for tolerance. */
  private[plans] def timeReader(dt: DataType): Option[InternalRow => Long] = dt match {
    case LongType | TimestampType | TimestampNTZType => Some(_.getLong(0))
    case IntegerType | DateType => Some(_.getInt(0).toLong)
    case _ => None
  }
}

/** Co-partitioned streamed-merge as-of join (left outer, both directions).
  *
  * Both children arrive clustered on their key set and sorted by
  * `(keys, time[, tiebreak])` ascending NULLS FIRST; each partition is then
  * a single forward pass. Guarantees relied on, in order:
  *   1. left rows within a key arrive time-ascending, so the eligible
  *      right frontier only moves forward;
  *   2. right null-time rows sort first within a key and are dropped on
  *      first contact;
  *   3. backward: the buffered `last` match is reset whenever the left key
  *      changes, so a match can never leak across keys; forward: the
  *      candidate is the CURRENT (unconsumed) right row, key-checked at
  *      emit.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    forward: Boolean,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTieBreak)).map(SortOrder(_, Ascending)))

  // one left row out per left row in, in left order: both properties of the
  // merge, advertised so a downstream sort/agg on the same key elides.
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val (lOut, rOut) = (left.output, right.output)
    val outAttrs = output
    val (lk, rk, lt, rt) = (leftKeys, rightKeys, leftTime, rightTime)
    val (fwd, tol) = (forward, tolerance)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      if (!lIter.hasNext) Iterator.empty
      else new Iterator[InternalRow] {
        private val lKeyProj = UnsafeProjection.create(lk, lOut)
        private val rKeyProj = UnsafeProjection.create(rk, rOut)
        private val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
        private val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
        private val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
        private val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
        // tolerance is pre-validated against the time type in the plan node
        private val timeAsLong: InternalRow => Long =
          AsOfJoinExec.timeReader(timeType).getOrElse(_ => 0L)
        private val joined = new JoinedRow
        private val nullRight = new GenericInternalRow(rOut.size)
        // parents require UnsafeRow output: flatten the JoinedRow view.
        // Project onto `output` (right side nullability widened), bound by
        // exprId to the raw child attributes, so null right rows null-check.
        private val resultProj =
          UnsafeProjection.create(outAttrs, lOut ++ rOut.map(_.withNullability(true)))

        // right lookahead; projections reuse buffers, so retained keys copy
        private var rRow: InternalRow = _
        private var rKey: InternalRow = _
        private var rTime: InternalRow = _
        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rRow = rIter.next()
            rKey = rKeyProj(rRow).copy()
            rTime = rTimeProj(rRow).copy()
          } else { rRow = null; rKey = null; rTime = null }
        advanceRight()

        // backward state: last time-eligible right row for the current key
        private var last: InternalRow = _
        private var lastKey: InternalRow = _
        private var lastTime: InternalRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          var matched: InternalRow = null
          if (!lKey.anyNull) {
            if (lastKey == null || keyOrd.compare(lastKey, lKey) != 0) {
              last = null; lastKey = null; lastTime = null
            }
            // discard right rows sorting strictly before this key
            // (null-key rows sort first and can never match)
            while (rRow != null && (rKey.anyNull || keyOrd.compare(rKey, lKey) < 0)) {
              advanceRight()
            }
            val lTime = lTimeProj(l)
            if (!lTime.isNullAt(0)) {
              if (!fwd) {
                // BACKWARD: consume rights with time <= lTime, keep the last
                var scan = true
                while (scan && rRow != null && keyOrd.compare(rKey, lKey) == 0) {
                  if (rTime.isNullAt(0)) advanceRight() // unmatchable, drop
                  else if (timeOrd.compare(rTime, lTime) <= 0) {
                    last = rRow.copy(); lastKey = rKey; lastTime = rTime
                    advanceRight()
                  } else scan = false
                }
                if (last != null && tol.forall(t =>
                    timeAsLong(lTime) - timeAsLong(lastTime) <= t)) {
                  matched = last
                }
              } else {
                // FORWARD: drop rights strictly before lTime (safe: later
                // left rows of this key have times >= lTime); the candidate
                // is the first remaining same-key row, NOT consumed — it
                // may also match subsequent left rows.
                while (rRow != null && keyOrd.compare(rKey, lKey) == 0 &&
                       (rTime.isNullAt(0) || timeOrd.compare(rTime, lTime) < 0)) {
                  advanceRight()
                }
                if (rRow != null && keyOrd.compare(rKey, lKey) == 0 &&
                    tol.forall(t => timeAsLong(rTime) - timeAsLong(lTime) <= t)) {
                  matched = rRow
                }
              }
            }
          }
          numOut += 1
          if (matched != null) { numMatched += 1; resultProj(joined(l, matched)) }
          else resultProj(joined(l, nullRight))
        }
      }
    }
  }
}

/** Broadcast as-of join: the small-dimension physical choice. The right
  * side arrives whole on every executor (`BroadcastDistribution` with
  * `IdentityBroadcastMode` — the `BroadcastNestedLoopJoin` transport);
  * each task indexes it once into key → time-sorted rows, then streams
  * the left side UNSHUFFLED and UNSORTED, answering each row by binary
  * search. For a 100 TB fact enriched against a snapshot dimension this
  * is the plan that matters: zero exchanges and zero sorts on the fact
  * side, exactly the BroadcastHashJoin-vs-SortMergeJoin trade applied to
  * point-in-time lookup. Output partitioning/ordering of the left side
  * pass straight through.
  *
  * The index build is O(|right| · log |right|) — bounded by the broadcast
  * threshold, the same cost class as BroadcastHashJoin's per-executor
  * HashedRelation deserialization — and built ONCE PER EXECUTOR, not per
  * task: a per-JVM cache weakly keyed on the broadcast row array (so the
  * entry dies with the broadcast) hands every task of this plan the same
  * immutable index. At 1000 executors × many fact partitions each, the
  * per-task rebuild would dominate; the cache makes it one build per
  * executor, exactly BroadcastHashJoin's amortization. Match semantics,
  * null discipline, direction, tie-breaks, and tolerance are IDENTICAL to
  * [[AsOfJoinExec]] (AsOfJoinSpec drives both execs through the same
  * cases).
  */
object BroadcastAsOfJoinExec {
  /** Per-JVM (= per-executor) index cache. Weakly keyed on the broadcast
    * row array, so an entry's lifetime is exactly the broadcast's: when
    * Spark unpersists/GCs the broadcast value, the index goes with it.
    * The inner map is keyed by plan id — two different as-of joins
    * sharing one broadcast dimension index it separately (their key/time
    * expressions differ). Memory is bounded by the broadcast threshold,
    * the same budget BroadcastHashJoin's HashedRelation occupies. */
  private val cache = new java.util.WeakHashMap[
    AnyRef, java.util.concurrent.ConcurrentHashMap[Int, AnyRef]]()

  private[plans] def cachedIndex[T <: AnyRef](key: AnyRef, planId: Int)(build: => T): T = {
    val inner = cache.synchronized {
      var m = cache.get(key)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
        cache.put(key, m)
      }
      m
    }
    // computeIfAbsent: exactly one task builds; concurrent tasks wait
    inner.computeIfAbsent(planId, _ => build).asInstanceOf[T]
  }
}

case class BroadcastAsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    forward: Boolean,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val timeType = leftTime.dataType
    val (lOut, rOut) = (left.output, right.output)
    val outAttrs = output
    val (lk, rk, lt, rt, tb) = (leftKeys, rightKeys, leftTime, rightTime, rightTieBreak)
    val (fwd, tol) = (forward, tolerance)
    val planId = id
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()

    left.execute().mapPartitions { lIter =>
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val timeAsLong: InternalRow => Long =
        AsOfJoinExec.timeReader(timeType).getOrElse(_ => 0L)

      // key -> rows sorted by (time, tiebreak), null keys/times dropped;
      // built once per executor (per-JVM weak cache), immutable thereafter
      val index = BroadcastAsOfJoinExec.cachedIndex(broadcastRows.value, planId) {
        val rKeyProj = UnsafeProjection.create(rk, rOut)
        val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
        // sort groups by (time, tiebreaks): backward's "last <=" then picks
        // the largest tiebreak on a time tie, forward's "first >=" the
        // smallest — same contracts as the streamed merge's child ordering
        val rSortProj = UnsafeProjection.create(rt +: tb, rOut)
        val sortOrd = RowOrdering.createNaturalAscendingOrdering(
          (rt +: tb).map(_.dataType))
        val groups = new java.util.HashMap[InternalRow, scala.collection.mutable.ArrayBuffer[InternalRow]]()
        broadcastRows.value.foreach { row =>
          val k = rKeyProj(row)
          if (!k.anyNull && !rTimeProj(row).isNullAt(0)) {
            var g = groups.get(k)
            if (g == null) {
              g = scala.collection.mutable.ArrayBuffer.empty
              groups.put(k.copy(), g)
            }
            g += row
          }
        }
        val built = new java.util.HashMap[InternalRow, Array[(InternalRow, InternalRow)]](
          groups.size * 2)
        groups.forEach { (k, g) =>
          built.put(k, g.map { row => (rSortProj(row).copy(): InternalRow, row) }
            .sortBy(_._1)(sortOrd)
            .map { case (_, row) => (rTimeProj(row).copy(): InternalRow, row) }
            .toArray)
        }
        built
      }

      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)
      val resultProj =
        UnsafeProjection.create(outAttrs, lOut ++ rOut.map(_.withNullability(true)))

      lIter.map { l =>
        val lKey = lKeyProj(l)
        var matched: InternalRow = null
        if (!lKey.anyNull) {
          val g = index.get(lKey)
          if (g != null) {
            val lTime = lTimeProj(l)
            if (!lTime.isNullAt(0)) {
              // binary search over times: lo = first index with time >= lTime
              var lo = 0; var hi = g.length
              while (lo < hi) {
                val mid = (lo + hi) >>> 1
                if (timeOrd.compare(g(mid)._1, lTime) < 0) lo = mid + 1 else hi = mid
              }
              if (!fwd) {
                // last row with time <= lTime: scan the equal-time run up
                var i = lo
                while (i < g.length && timeOrd.compare(g(i)._1, lTime) == 0) i += 1
                if (i > 0 && tol.forall(t =>
                    timeAsLong(lTime) - timeAsLong(g(i - 1)._1) <= t)) {
                  matched = g(i - 1)._2
                }
              } else if (lo < g.length && tol.forall(t =>
                  timeAsLong(g(lo)._1) - timeAsLong(lTime) <= t)) {
                matched = g(lo)._2
              }
            }
          }
        }
        numOut += 1
        if (matched != null) { numMatched += 1; resultProj(joined(l, matched)) }
        else resultProj(joined(l, nullRight))
      }
    }
  }
}

/** User-facing entry point. */
object AsOf {

  /** Left-outer as-of join of `left` to `right` on equal `leftOn`/`rightOn`
    * keys. Backward (default): match the right row with the greatest
    * `rightTime <= leftTime`; `forward = true`: the smallest `rightTime >=
    * leftTime`. `tolerance` (in the time column's internal units — µs for
    * timestamps, days for dates) bounds the match distance. `rightTieBreak`
    * makes equal-time picks deterministic (backward: largest wins; forward:
    * smallest wins). Installs [[AsOfJoinStrategy]] on the session on first
    * use. Column name collisions across sides are the caller's to avoid
    * (select/alias first), same as `Dataset.join`.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftOn: Seq[String],
      rightOn: Seq[String],
      leftTime: String,
      rightTime: String,
      rightTieBreak: Seq[String] = Nil,
      forward: Boolean = false,
      tolerance: Option[Long] = None,
      broadcastRight: Option[Boolean] = None): DataFrame = {
    val spark = left.sparkSession
    AsOfJoinStrategy.install(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    val resolver = spark.sessionState.analyzer.resolver
    def attr(p: LogicalPlan, side: String)(n: String): Attribute =
      p.output.find(a => resolver(a.name, n)).getOrElse(throw new IllegalArgumentException(
        s"as-of $side column '$n' not in ${p.output.map(_.name).mkString("[", ", ", "]")}"))
    SqlBridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      leftOn.map(attr(lPlan, "left")), rightOn.map(attr(rPlan, "right")),
      attr(lPlan, "left")(leftTime), attr(rPlan, "right")(rightTime),
      rightTieBreak.map(attr(rPlan, "right")), forward, tolerance, broadcastRight))
  }
}
