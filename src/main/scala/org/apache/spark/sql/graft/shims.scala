package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` surface: Spark 4 removed the public
  * Column(Expression) constructor (Connect refactor); extensions that add
  * native expressions need this one hop. Lives under org.apache.spark.sql
  * for package-private access — the conventional pattern for third-party
  * Catalyst expression libraries.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Deterministic release of `Dataset.localCheckpoint` blocks.
  *
  * `Dataset.unpersist` only talks to the SQL `CacheManager`; a local
  * checkpoint's blocks belong to the UNDERLYING RDD (the `LogicalRDD` leaf
  * the checkpoint rewrote the plan to), so without this hop superseded
  * checkpoints linger until the ContextCleaner happens to GC the RDD.
  * Walking the analyzed plan's leaves and unpersisting their RDDs drops the
  * blocks promptly; any later attempt to recompute the released checkpoint
  * fails loudly (checkpoint block not found) rather than silently
  * recomputing stale lineage — exactly the failure mode a retired
  * immutable snapshot should have.
  */
object CheckpointBridge {
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}

/** Catalyst rows held on the driver in packed form: each row's
  * `UnsafeRow` bytes, prefixed by their size, back to back in one array —
  * one object per run of rows instead of two per row. A frame over them
  * is a `LogicalRDD` that unpacks the arrays in its tasks. A
  * `LocalRelation` over the same rows was measured and rejected
  * (`local[4]`, 1M canonical rows in 1k series): its scan re-projects
  * every row and Java-serializes each into the tasks, so `count()` took
  * 3.4-5.1 s against 0.3-0.4 s here, and `tools/ManySeriesProbe`'s
  * 5k-series sync 15.5 s against 3.0 s here.
  */
object PackedRows {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.UnsafeRow
  import org.apache.spark.sql.catalyst.plans.logical.Statistics
  import org.apache.spark.sql.catalyst.types.DataTypeUtils
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.unsafe.Platform.{BYTE_ARRAY_OFFSET => Base, getInt, putInt}

  /** `df`'s rows, run as one tracked SQL execution the way
    * `Dataset.collect` runs (so observed metrics and query listeners
    * fire), with no external-row conversion. `executeCollect` decodes
    * every row into an `UnsafeRow` over its own bytes. */
  def collect(df: DataFrame): Array[UnsafeRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan.executeCollect().map(_.asInstanceOf[UnsafeRow])
    }
  }

  def pack(rows: Seq[UnsafeRow]): Array[Byte] = {
    val out = new Array[Byte](rows.map(4 + _.getSizeInBytes).sum)
    rows.foldLeft(Base.toLong) { (at, r) =>
      putInt(out, at, r.getSizeInBytes)
      r.writeToMemory(out, at + 4)
      at + 4 + r.getSizeInBytes
    }
    out
  }

  /** A frame in `schema` over packed arrays that are never mutated: at
    * most one task per core, each unpacking its share of the arrays, and
    * none over no arrays. The frame's size statistic is the arrays' bytes;
    * without one Catalyst assumes the default (`Long.MaxValue`), and a
    * join over a one-partition read of the frame is shuffled again. */
  def frame(spark: SparkSession, schema: StructType, packs: Seq[Array[Byte]]): DataFrame = {
    val sc = spark.sparkContext
    val per = (packs.size + sc.defaultParallelism - 1) / sc.defaultParallelism
    val slices = packs.grouped(per max 1).map(g => Array.concat(g: _*)).toSeq
    val fields = schema.length
    val rows =
      if (slices.isEmpty) sc.emptyRDD[InternalRow]
      else sc.parallelize(slices, slices.size).flatMap[InternalRow] { bytes =>
        Iterator.iterate(Base.toLong)(at => at + 4 + getInt(bytes, at))
          .takeWhile(_ < Base + bytes.length)
          .map { at => val r = new UnsafeRow(fields); r.pointTo(bytes, at + 4, getInt(bytes, at)); r }
      }
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val stats = Statistics(sizeInBytes = packs.map(_.length.toLong).sum)
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(session, Some(stats)))
  }
}

/** A plan built from `Column`s over a leaf of input columns, run on the
  * driver over rows the caller supplies in the leaf's place. The plan goes
  * through the session's analyzer and optimizer once, so runtime-replaceable
  * functions are replaced as in any query; what the optimizer leaves must
  * be projections and filters over the leaf. Each node's expressions are
  * compiled once, as `ProjectExec` and `FilterExec` compile theirs, so a
  * call runs no Spark job and plans and compiles nothing. A call reads
  * the session's conf, not the session, so a plan does not keep its
  * session alive. The compiled projections reuse their output rows, so
  * calls are serialized.
  */
final class LocalPlan private (conf: org.apache.spark.sql.internal.SQLConf,
                               run: Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
                                 Iterator[org.apache.spark.sql.catalyst.InternalRow]) {
  import org.apache.spark.sql.catalyst.InternalRow

  /** The plan's output rows for `input` (rows in the leaf's layout), each
    * copied out of the projection that produced it. */
  def apply(input: Iterator[InternalRow]): Array[InternalRow] = synchronized {
    org.apache.spark.sql.internal.SQLConf.withExistingConf(conf)(run(input).map(_.copy()).toArray)
  }
}

object LocalPlan {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Predicate, UnsafeProjection}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.sql.types.StructType

  /** Compiles `build` applied to a leaf with the columns of `input`. The
    * leaf is a relation over an empty RDD, which the optimizer cannot
    * evaluate or fold away. */
  def apply(spark: SparkSession, input: StructType)(build: DataFrame => DataFrame): LocalPlan = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val leaf = session.internalCreateDataFrame(session.sparkContext.emptyRDD[InternalRow], input)
    val leafRdd = leaf.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }.get
    def compile(p: LogicalPlan): Iterator[InternalRow] => Iterator[InternalRow] = p match {
      case Project(list, child) =>
        val in = compile(child)
        val proj = UnsafeProjection.create(list, child.output)
        proj.initialize(0)
        rows => in(rows).map(proj)
      case Filter(cond, child) =>
        val in = compile(child)
        val pred = Predicate.create(cond, child.output)
        pred.initialize(0)
        rows => in(rows).filter(pred.eval)
      case l: LogicalRDD if l.rdd eq leafRdd => identity
      case other => throw new IllegalArgumentException(
        s"not a projection/filter plan over the input leaf: ${other.nodeName}\n$p")
    }
    session.withActive(
      new LocalPlan(session.sessionState.conf, compile(build(leaf).queryExecution.optimizedPlan)))
  }
}

/** A frame evaluated as one partition: every operator of its optimized
  * plan that needs its input clustered, ordered or gathered (a window, a
  * window group limit, a global sort, an aggregate, a join) reads a
  * `Repartition(1, shuffle = false)` of that input. `CoalesceExec(1)`
  * reports `SinglePartition`, which satisfies every distribution these
  * operators require, so `EnsureRequirements` plans no exchange and the
  * frame runs as one stage, one task and one job. Filters and pushed
  * predicates stay where the optimizer put them. A plan with none of these
  * operators is returned unchanged, so it is planned once. For bounded
  * frames only: one task reads all of the frame's input. A join keeps
  * one-partition inputs only while their size statistics are within
  * `spark.sql.maxSinglePartitionBytes`; past it, Spark shuffles them for
  * parallelism.
  */
object OnePartition {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.plans.logical._

  def apply(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    if (!plan.exists(gathers)) df
    else org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan.transformUp { case g if gathers(g) => g.withNewChildren(g.children.map(one)) })
  }

  private def gathers(p: LogicalPlan): Boolean = p match {
    case _: Window | _: WindowGroupLimit | _: Aggregate | _: Join => true
    case s: Sort => s.global
    case _ => false
  }

  /** `p`, or a coalesce of it to one partition when its output may have
    * more: a rewritten gathering operator, and projections and filters
    * over one, already have one. */
  private def one(p: LogicalPlan): LogicalPlan = {
    def single(q: LogicalPlan): Boolean = q match {
      case Repartition(1, _, _) => true
      case g if gathers(g) => true
      case Project(_, c) => single(c)
      case Filter(_, c) => single(c)
      case _ => false
    }
    if (single(p)) p else Repartition(1, shuffle = false, p)
  }
}

/** The file set a plan would ACTUALLY scan, post-partition-pruning (one
  * entry per scan that selects the file, so a file read by two scans
  * appears twice). `Dataset.inputFiles` ignores partition filters, and a
  * plan's string form truncates scan locations — this walks the physical
  * scans' `selectedPartitions` (descending through AQE wrappers), the
  * ground truth the scan-narrowing specs pin their IO claims on.
  */
object ScanBridge {
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
      case other =>
        other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
