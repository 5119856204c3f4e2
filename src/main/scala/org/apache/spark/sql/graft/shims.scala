package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Column <-> Expression bridge for Spark 4.x, where the classic helpers are
  * `private[sql]`. This is the only file that lives inside the Spark
  * namespace; everything else is plain public API. */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def aggColumn(f: AggregateFunction): Column =
    ExpressionUtils.column(f.toAggregateExpression())
  def aggColumnDistinct(f: AggregateFunction): Column =
    ExpressionUtils.column(f.toAggregateExpression(isDistinct = true))

  /** Codegen'd bloom probe: `BloomFilterMightContain` over a pre-built
    * sketch serialized into a foldable binary literal. Replaces the Scala
    * UDF probe (`udf(h => bf.mightContainLong(h))`), whose non-codegen
    * boundary split the whole-stage span around every bloom-gated filter:
    * the expression deserializes the sketch ONCE per codegen instance
    * (transient lazy on the expression object) and probes inline in
    * generated code. `hash` must be a 64-bit hash column (the expression
    * probes with `mightContainLong`; pair it with `xxhash64` exactly like
    * the UDF did). Needs this namespace only for uniformity — the
    * expression class itself is public catalyst API used by Spark's own
    * runtime row-level filtering. */
  def bloomMightContain(bf: org.apache.spark.util.sketch.BloomFilter, hash: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(
        bos.toByteArray, org.apache.spark.sql.types.BinaryType),
      expression(hash)))
  }

  /** Drop the origin statistics (and constraints) carried by every
    * LogicalRDD in `df`'s plan while KEEPING the declared
    * outputPartitioning/outputOrdering — the one stats reset of every
    * barrier (`Barriers.statSafe` semantics: with no origin stats the
    * leaf reports `spark.sql.defaultSizeInBytes`, so only AQE's exact
    * runtime sizes can elect a broadcast). Unlike a public
    * `createDataFrame(rdd, schema)` re-wrap it keeps the layout, and the
    * rows stay Catalyst's internal rows.
    * Needs this namespace for `Dataset.ofRows` (private[sql]). */
  def dropOriginStats(df: DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // NOT a `transform`: a LogicalRDD differing only in its second
    // (curried) parameter list is case-EQUAL to the original, so
    // TreeNode's fastEquals change detection would silently keep the old
    // node. Rebuild the expected shapes (the leaf, optionally under
    // projections) by explicit construction; unexpected shapes pass
    // through unchanged (keeping their stats) rather than failing.
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case l: LogicalRDD =>
        new LogicalRDD(
          l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
          l.isStreaming, l.stream)(session, None, None)
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        pr.copy(child = strip(pr.child))
      case other => other
    }
    org.apache.spark.sql.classic.Dataset.ofRows(session, strip(df.queryExecution.analyzed))
  }

  /** The eager checkpoint `cp` of `source` over a rebuilt leaf: fresh
    * attributes, no origin statistics (stat-safe as [[dropOriginStats]]),
    * and the layout of `source`'s final physical plan declared on it.
    * Under AQE a checkpoint's leaf reports `UnknownPartitioning`, because
    * the adaptive root does; the final plan, once the checkpoint's job has
    * run, knows the real `HashPartitioning` and in-partition order. They
    * are mapped onto the leaf output BY POSITION, so an alias the
    * optimizer collapsed (a stale exprId in the physical output) cannot
    * orphan them. Declared only when it holds row by row: a
    * `HashPartitioning` (the first leaf of a `PartitioningCollection`, as
    * `Dataset.checkpoint` takes it) over output columns whose
    * `numPartitions` is the checkpoint RDD's partition count, so never a
    * coalesced read's. Anything else declares nothing (`UnknownPartitioning`,
    * no ordering) and downstream plans pay their usual exchanges.
    * Needs this namespace for `Dataset.ofRows` (private[sql]). */
  def declareLayout(cp: DataFrame, source: DataFrame): DataFrame = {
    val session = cp.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val leaf = cp.queryExecution.analyzed match {
      case l: LogicalRDD => l
      case other => throw new IllegalStateException(
        s"checkpoint plan is not a LogicalRDD leaf: ${other.getClass.getName}")
    }
    val fresh = leaf.output.map(_.newInstance())
    val finalPlan = source.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => Some(a.executedPlan).filter(_ => a.isFinalPlan)
      case p => Some(p)
    }
    val layout = finalPlan.filter(_.output.length == fresh.length).flatMap { p =>
      val out = AttributeSet(p.output)
      val byPosition = AttributeMap(p.output.zip(fresh))
      def onLeaf[E <: Expression](e: E): E =
        e.transform { case a: Attribute => byPosition.getOrElse(a, a) }.asInstanceOf[E]
      val first = p.outputPartitioning match {
        case PartitioningCollection(ps) => ps.head
        case other => other
      }
      first match {
        case h: HashPartitioning if h.references.subsetOf(out) &&
            h.numPartitions == leaf.rdd.getNumPartitions =>
          val ordering = p.outputOrdering.map(o => o.copy(sameOrderExpressions =
              o.sameOrderExpressions.filter(_.references.subsetOf(out))))
            .takeWhile(_.references.subsetOf(out))
          Some((onLeaf(h), ordering.map(onLeaf(_))))
        case _ => None
      }
    }
    val (partitioning, ordering) = layout.getOrElse((UnknownPartitioning(0), Nil))
    org.apache.spark.sql.classic.Dataset.ofRows(session, new LogicalRDD(
      fresh, leaf.rdd, partitioning, ordering, leaf.isStreaming, leaf.stream)(session, None, None))
  }

  /** A clone of `spark` (same SparkContext, shared state, and registered
    * functions; independent copied conf) with `pairs` set: a second session
    * that differs from the first in those keys only, without mutating
    * anything shared — the B side of a conf A/B (`StreamingQueries`'
    * stream sessions, the query probe's `--conf`, the specs' modes). A
    * thread-local `SQLConf.withExistingConf` override does not reach every
    * planner rule (`InsertAdaptiveSparkPlan` reads its session's conf
    * directly), so a per-query override needs its own session.
    * Needs this namespace for `cloneSession` (private[sql]). */
  def cloneSessionWithConf(spark: SparkSession, pairs: (String, String)*): SparkSession = {
    val clone = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    pairs.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }
}
