package thrivespark.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native backward as-of join: for every left row, the latest right row of
  * the same key whose time ≤ the left row's time (LEFT OUTER — unmatched
  * left rows keep NULL right columns; ties on right time broken by the
  * greatest tie-break value, matching `max_by(struct(time, tiebreak))`).
  *
  * Why a custom operator (preference rung (c), SURVEY.md §7.5): the
  * composable formulations must materialize every (left, candidate-right)
  * pair — the range-join blowup — then reduce it away (row_number window or
  * max_by aggregate). This exec asks the planner for the join distribution
  * (cluster by key) and ordering (key, time), then streams both sorted
  * sides with a two-pointer merge holding ONE buffered candidate row: no
  * pair materialization, no window sort, O(1) memory per partition beyond
  * the sort machinery Spark already provides. On a 100 TB probe side this
  * is the difference between shuffling |left ⋈ right-candidates| rows and
  * shuffling |left| rows.
  *
  * Time columns must be TimestampType/LongType (compared as their long
  * representation — µs for timestamps).
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTieBreak: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, rtb) =>
      AsOfJoinExec(lk, rk, lt, rt, rtb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTieBreak: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
        SortOrder(rightTieBreak, Ascending)))

  override def outputPartitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // capture serializable ingredients; codegen'd projections/orderings are
    // NOT serializable and must be instantiated per partition
    val lOut = left.output
    val rOut = right.output
    val (lKey, rKey, lTime, rTime) = (leftKey, rightKey, leftTime, rightTime)
    val keyType = leftKey.dataType
    val nRight = rOut.length
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(Seq(lKey), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rKey), rOut)
      val lTimeB = BindReferences.bindReference(lTime, lOut)
      val rTimeB = BindReferences.bindReference(rTime, rOut)
      val keyOrd = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .createNaturalAscendingOrdering(Seq(keyType))
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      val rBuf = rIter.buffered

      var candidate: InternalRow = null   // last right row ≤ current left time
      var candidateKey: InternalRow = null

      lIter.map { lRow =>
        val lk = lKeyProj(lRow)
        val ltRaw = lTimeB.eval(lRow)
        // SQL null semantics, not JVM unboxing: a NULL key or time never
        // matches (unboxing a null time would silently read as 0L and a
        // NULL key would compare equal to another NULL — both would
        // fabricate matches the oracle's `t <= ts AND k = k` excludes)
        if (lk.anyNull || ltRaw == null) {
          resultProj(joined(lRow, nullRight))
        } else {
          val lt = ltRaw.asInstanceOf[Long]
          // advance right while its key is behind, or equal-key and in-time
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rk = rKeyProj(rBuf.head)
            val rtRaw = rTimeB.eval(rBuf.head)
            if (rk.anyNull || rtRaw == null) {
              rBuf.next(): Unit // NULL-keyed/timed right rows never match
            } else {
              val cmp = keyOrd.compare(rk, lk)
              if (cmp < 0) {
                rBuf.next() // right key behind every remaining left row's key
              } else if (cmp == 0 && rtRaw.asInstanceOf[Long] <= lt) {
                candidate = rBuf.next().copy()
                candidateKey = rk.copy()
              } else {
                advancing = false
              }
            }
          }
          val matched = candidate != null && candidateKey != null &&
            keyOrd.compare(candidateKey, lk) == 0 &&
            rTimeB.eval(candidate).asInstanceOf[Long] <= lt
          resultProj(joined(lRow, if (matched) candidate else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public-facing API: resolves key/time columns by name against the two
  * frames, installs the engine (`functions.Register`, which adds the
  * strategy) and builds the plan. */
object AsOf {
  def backward(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: String): DataFrame = {
    val spark = leftDf.sparkSession
    thrivespark.functions.Register(spark)
    val lPlan = leftDf.queryExecution.analyzed
    val rPlan = rightDf.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    PlanBridge.ofRows(spark, AsOfJoin(lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, rightKey),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      attr(rPlan, rightTieBreak)))
  }
}

/** Single contained bridge to Dataset.ofRows (public in bytecode, package-
  * private to Scala). Everything else in this file uses public/DeveloperApi
  * surfaces (Strategy, SparkPlan). */
object PlanBridge {
  private lazy val (module, method) = {
    val cls = Class.forName("org.apache.spark.sql.classic.Dataset$")
    val m = cls.getMethod("ofRows",
      Class.forName("org.apache.spark.sql.classic.SparkSession"),
      classOf[LogicalPlan])
    (cls.getField("MODULE$").get(null), m)
  }
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    method.invoke(module, spark, plan).asInstanceOf[DataFrame]
}
