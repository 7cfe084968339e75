package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, MapType, StructType}

/**
 * Whole-operator custom plan: per-key top-k WITHOUT a full sort.
 *
 * `row_number().over(partitionBy(key).orderBy(o)) <= k` — the standard
 * formulation — sorts every partition end-to-end: O(n log n) comparisons and
 * a full spillable sort buffer per task. At 100 TB that sort dominates the
 * stage. This operator keeps a bounded heap of k rows per key instead:
 * O(n log k), memory ∝ distinct-keys × k, no sort.
 *
 * The full custom-operator stack (SURVEY.md §7.3 preference (c)):
 * logical node [[TopKPerKey]] → strategy [[TopKStrategy]] → physical
 * [[TopKPerKeyExec]] (declares `ClusteredDistribution`, so EnsureRequirements
 * plans the single hash shuffle). [[TopK.perKey]] plants the node and
 * registers the strategy in its session, so every ranked operator plans
 * the same way in any session; [[GraftExtensions]] registers the strategy
 * cluster-wide as well.
 */
case class TopKPerKey(
    k: Int,
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rnk is GENERATED here, not consumed from the child — without this,
  // CheckAnalysis flags it as a missing input attribute
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, part, order, rank, child) =>
      Seq(TopKPerKeyExec(k, part, order, rank, planLater(child)))
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    k: Int,
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  // Pass through the child's partitioning ONLY when every attribute it
  // references survives into this node's output — the output is extended
  // with the generated `rnk`, and a claim mentioning attributes outside it
  // would be a lie downstream operators could plan against. (Today
  // child.output ⊆ output so the guard is vacuous; it exists so a future
  // column-pruning change degrades the claim to Unknown instead of
  // corrupting a downstream exchange-elision decision.)
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Partitioning with Expression if !p.references.subsetOf(AttributeSet(output)) =>
      UnknownPartitioning(p.numPartitions)
    case p => p
  }
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(partitionExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val outputLocal = output
    val kLocal = k
    val partLocal = partitionExprs
    val orderLocal = orderExprs
    // Memory bound: the heap map is ∝ distinct-keys-per-task × k. Past this
    // threshold the task SPILLS the map to a sorted-by-key local segment
    // file and keeps going; segments are k-way-merged by key at the end
    // (one key in memory at a time). Eviction stays safe across segments: a
    // row evicted from a heap lost to k retained rows of the SAME segment,
    // all of which reach the merge, so no global top-k row is ever dropped.
    val maxKeys = conf.getConfString("spark.graft.topk.maxKeysInMemory", "1048576").toInt
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(partLocal, childOutput)
      val ordering = GenerateOrdering.generate(orderLocal, childOutput)
      val numKeyFields = partLocal.length
      val numRowFields = childOutput.length
      // per key: max-heap under `ordering` — head is the WORST retained row,
      // evicted when a better one arrives and the heap is full
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      val spills = mutable.ArrayBuffer.empty[java.io.File]
      // spill files die with the task, success or failure (not JVM exit)
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => spills.foreach(_.delete())))

      def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          val c = (a(i) & 0xff) - (b(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        a.length - b.length
      }

      def spill(): Unit = {
        val f = java.io.File.createTempFile("graft-topk-spill", ".bin")
        f.deleteOnExit()
        val out = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 16))
        try {
          val entries = heaps.toArray.map { case (key, heap) =>
            (key.getBytes, heap.dequeueAll.toArray) // ascending not required here
          }
          java.util.Arrays.sort(entries,
            (x: (Array[Byte], Array[InternalRow]), y: (Array[Byte], Array[InternalRow])) =>
              byteCompare(x._1, y._1))
          entries.foreach { case (kb, rows) =>
            out.writeInt(kb.length); out.write(kb)
            out.writeInt(rows.length)
            rows.foreach { r =>
              val rb = r.asInstanceOf[UnsafeRow].getBytes
              out.writeInt(rb.length); out.write(rb)
            }
          }
        } finally out.close()
        spills += f
        heaps.clear()
      }

      it.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            if (heaps.size >= maxKeys) spill()
            val h = mutable.PriorityQueue.empty[InternalRow](ordering)
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < kLocal) heap.enqueue(row.copy())
        else if (ordering.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }

      val joined = new JoinedRow
      // downstream operators require UnsafeRow — bind output to itself
      val outProj = UnsafeProjection.create(outputLocal, outputLocal)

      def emit(rows: Seq[InternalRow]): Iterator[InternalRow] = {
        val sorted = rows.sorted(ordering)
        sorted.iterator.zipWithIndex.map { case (row, i) =>
          outProj(joined(row, InternalRow(i + 1)))
        }
      }

      if (spills.isEmpty) {
        heaps.iterator.flatMap { case (_, heap) =>
          emit(heap.dequeueAll.toSeq)
        }
      } else {
        spill() // flush the in-memory remainder as the final segment
        // streaming merge: all segments are key-sorted; advance them in
        // lock-step, re-heaping one key's ≤ segments×k candidate rows at a
        // time — memory is O(segments × k), independent of key count
        final class SegReader(f: java.io.File) {
          private val in = new java.io.DataInputStream(
            new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16))
          var key: Array[Byte] = _
          var rows: Array[InternalRow] = _
          advance()
          def advance(): Unit = {
            val kl = try in.readInt() catch { case _: java.io.EOFException => -1 }
            if (kl < 0) { key = null; rows = null; in.close(); f.delete() }
            else {
              key = new Array[Byte](kl); in.readFully(key)
              rows = Array.fill(in.readInt()) {
                val rl = in.readInt()
                val rb = new Array[Byte](rl); in.readFully(rb)
                val r = new UnsafeRow(numRowFields)
                r.pointTo(rb, rl)
                r: InternalRow
              }
            }
          }
        }
        val readers = spills.map(new SegReader(_)).filter(_.key != null)
        new Iterator[Iterator[InternalRow]] {
          def hasNext: Boolean = readers.exists(_.key != null)
          def next(): Iterator[InternalRow] = {
            val live = readers.filter(_.key != null)
            val minKey = live.map(_.key).minBy(identity)(Ordering.fromLessThan(
              (a: Array[Byte], b: Array[Byte]) => byteCompare(a, b) < 0))
            val matching = live.filter(r => byteCompare(r.key, minKey) == 0)
            val heap = mutable.PriorityQueue.empty[InternalRow](ordering)
            matching.foreach(_.rows.foreach { r =>
              if (heap.size < kLocal) heap.enqueue(r)
              else if (ordering.compare(r, heap.head) < 0) { heap.dequeue(); heap.enqueue(r) }
            })
            matching.foreach(_.advance())
            emit(heap.dequeueAll.toSeq)
          }
        }.flatten
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** User-facing API. */
object TopK {

  /** Register the strategy in this session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy

  /**
   * Top `k` rows per `partitionCols` group under `orderCols` (first = rank 1),
   * with a `rnk` column appended — result-identical to
   * `row_number().over(partitionBy(p).orderBy(o)) <= k`, executed
   * heap-based. The engine's one per-key top-k: every ranked operator
   * calls it. Pass computed keys as columns of `df` (the heap compares
   * rows many times, and a key evaluated only there would, for example,
   * skip a per-row check on a group of one row).
   *
   * `k <= 0` answers no rows with the same schema. Float/double partition
   * keys (nested too) run the stock window: it normalizes `-0.0`/`0.0` and
   * NaN bit patterns before grouping, where the heap's raw `UnsafeRow`
   * keys would split them into distinct keys.
   */
  def perKey(df: DataFrame, k: Int, partitionCols: Seq[Column],
             orderCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val rankAttr = AttributeReference("rnk", IntegerType, nullable = false)()
    // Resolve the Columns by letting the analyzer do it against THIS df's
    // analyzed plan (Column wraps lazy ColumnNodes in Spark 4; planting them
    // in a real select/sort yields resolved expressions with matching ids).
    val analyzed = df.queryExecution.analyzed
    val partExprs: Seq[Expression] =
      df.select(partitionCols: _*).queryExecution.analyzed match {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.map { case a: Alias => a.child; case e => e }
        case other => throw new IllegalStateException(s"unexpected plan $other")
      }
    if (partExprs.exists(e => containsFloating(e.dataType)))
      df.withColumn("rnk", row_number().over(
        Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*))).filter(col("rnk") <= k)
    else {
      val orderExprs: Seq[SortOrder] =
        df.sort(orderCols: _*).queryExecution.analyzed match {
          case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.order
          case other => throw new IllegalStateException(s"unexpected plan $other")
        }
      // the heap would fail on `heap.head` with no room for a row
      val node =
        if (k <= 0) LocalRelation(analyzed.output :+ rankAttr)
        else TopKPerKey(k, partExprs, orderExprs, rankAttr, analyzed)
      org.apache.spark.sql.graftshim.GraftPlanBridge.ofRows(spark, node)
    }
  }

  private def containsFloating(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => containsFloating(f.dataType))
    case a: ArrayType => containsFloating(a.elementType)
    case m: MapType => containsFloating(m.keyType) || containsFloating(m.valueType)
    case _ => false
  }
}
