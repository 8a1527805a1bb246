package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim.Bridge

import graft.QueryDef

/** The full custom-operator stack for the as-of join (SURVEY.md §2.H6):
  * logical node → planner strategy → physical sort-merge exec.
  *
  * [[AsOf.join]] lowers the same semantics to union+window — correct
  * and scalable, but it packs whole rows into structs and carries them
  * through the shuffle. This exec instead asks Catalyst for
  * co-clustered, (key, time)-sorted children (EnsureRequirements
  * inserts exactly one shuffle+sort per side) and streams a two-pointer
  * merge per partition: O(left + right), no struct packing, no window
  * buffering.
  *
  * Semantics: for each left row, the LATEST right row with
  * rightKey = leftKey and rightTime <= leftTime (ties on right
  * (key,time) resolved by last-in-sort-order; pass a deduped right for
  * full determinism, as with the window lowering). Unmatched → nulls
  * (left outer).
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): AsOfJoinNode = copy(left = l, right = r)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // one co-partitioning shuffle per side, keyed on the join key
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // in-partition (key, time) sort — EnsureRequirements adds SortExec
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTime, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTime, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = PhysicalDataType.ordering(leftKey.dataType)
      .asInstanceOf[Ordering[Any]]
    val timeOrd = PhysicalDataType.ordering(leftTime.dataType)
      .asInstanceOf[Ordering[Any]]
    val keyType = leftKey.dataType
    val timeType = leftTime.dataType
    val lKeyTime = Seq(
      BindReferences.bindReference(leftKey, left.output),
      BindReferences.bindReference(leftTime, left.output))
    val rKeyTime = Seq(
      BindReferences.bindReference(rightKey, right.output),
      BindReferences.bindReference(rightTime, right.output))
    val rightSchema = right.output
    val allOutput = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(rightSchema.length)
      val joined = new JoinedRow
      val project = UnsafeProjection.create(allOutput, allOutput)
      // generated (codegen'd) extractors for the (key, time) pair
      val lProj = UnsafeProjection.create(lKeyTime.toIndexedSeq)
      val rProj = UnsafeProjection.create(rKeyTime.toIndexedSeq)
      val rBuf = rIter.buffered

      // candidate: latest right row (copied) for the current left key
      var candKey: Any = null
      var cand: InternalRow = null

      lIter.map { lRow =>
        val lkt = lProj(lRow)
        val lk = lkt.get(0, keyType)
        val lt = lkt.get(1, timeType)
        if (lk == null || lt == null) {
          // SQL semantics: null key/time never matches
          project(joined(lRow, nullRight))
        } else {
          if (candKey == null || keyOrd.compare(candKey, lk) != 0) {
            // copy: lk may point into the projection's reused buffer
            // (matters for string/binary keys)
            candKey = InternalRow.copyValue(lk); cand = null
          }
          // advance right while its (key,time) <= (lk, lt); null right
          // keys/times sort first and are skipped
          var continue = true
          while (continue && rBuf.hasNext) {
            val rkt = rProj(rBuf.head)
            val rk = rkt.get(0, keyType)
            if (rk == null) { rBuf.next() }
            else {
              val kc = keyOrd.compare(rk, lk)
              if (kc < 0) { rBuf.next() } // right key behind: skip
              else if (kc == 0) {
                val rt = rkt.get(1, timeType)
                if (rt == null) { rBuf.next() }
                else if (timeOrd.compare(rt, lt) <= 0) {
                  cand = rBuf.next().copy()
                  candKey = InternalRow.copyValue(lk)
                } else continue = false
              } else continue = false // right key ahead: stop
            }
          }
          val r = if (cand != null) cand else nullRight
          project(joined(lRow, r))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): AsOfJoinExec = copy(left = l, right = r)
}

object AsOfExec {

  /** Install the planner strategy on the session (idempotent). */
  def ensureStrategy(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies = cur :+ AsOfJoinStrategy
    }
  }

  /** As-of join via the custom physical operator. Same contract as
    * [[AsOf.join]]. */
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    ensureStrategy(spark)
    val lp = Bridge.planOf(left)
    val rp = Bridge.planOf(right)
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n"))
    Bridge.ofRows(spark, AsOfJoinNode(lp, rp,
      attr(lp, leftKey), attr(rp, rightKey),
      attr(lp, leftTime), attr(rp, rightTime)))
  }

  /** q_asof_join_exec: identical contract (and oracle) to
    * q_asof_join, executed by AsOfJoinExec instead of the
    * union+window lowering. */
  def qAsofJoinExec(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val events = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = graft.Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    join(events, orders, "user_id", "o_custkey", "ts", "o_orderdate")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_asof_join_exec", qAsofJoinExec, AsOf.qAsofJoinSql))
}
