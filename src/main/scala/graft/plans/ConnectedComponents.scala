package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning,
  SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Connected components of the graph whose edges are the child's
  * `(idA, idB)` rows, solved in one task: every node the edges name, with
  * the minimum id of its component, as `(docId, clusterId)`. The ids are
  * longs; a row with a null end is skipped (a NULL id equals nothing).
  * Planned as [[ConnectedComponentsExec]].
  * `graft.ops.Dedup.connectedComponents` builds it when the leaves of the
  * plan its ids come from fit [[ConnectedComponents.taskBudget]].
  */
case class ConnectedComponents(
    child: LogicalPlan,
    idA: Attribute,
    idB: Attribute,
    docId: Attribute,
    clusterId: Attribute) extends UnaryNode with MultiInstanceRelation {
  override def output: Seq[Attribute] = Seq(docId, clusterId)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // a result joined with itself: the analyzer renews one side's output
  override def newInstance(): ConnectedComponents =
    copy(docId = docId.newInstance(), clusterId = clusterId.newInstance())

  override protected def withNewChildInternal(newChild: LogicalPlan): ConnectedComponents =
    copy(child = newChild)
}

object ConnectedComponents {

  /** The node over `child`'s long columns `idA` and `idB`, with a new
    * non-null `(doc_id, cluster_id)` output. */
  def apply(child: LogicalPlan, idA: Attribute, idB: Attribute): ConnectedComponents =
    ConnectedComponents(child, idA, idB,
      AttributeReference("doc_id", LongType, nullable = false)(),
      AttributeReference("cluster_id", LongType, nullable = false)())

  /** The share of one task's executor memory the single-task path may
    * plan for: 1/32. The union-find holds at most 60 bytes per distinct id
    * (40 at rest, more while its arrays double), and the gate assumes each
    * id it meets took at least 8 bytes of the edge plan's leaves (one long
    * in a file or relation). So the task's arrays stay within a quarter of
    * its share, below the 40% of the heap (`1 - spark.memory.fraction`)
    * that Spark leaves to objects outside its memory manager. Ids that a
    * plan generates from a small leaf (an explode of a sequence) break the
    * assumption; a generated range is not a leaf the gate knows, so it
    * declines.
    */
  val TaskShareFraction = 32

  /** [[TaskShareFraction]] of one task's share of executor memory: the JVM
    * heap over the local task slots (`defaultParallelism`) in local mode,
    * where tasks run in this JVM; `spark.executor.memory` over
    * `spark.executor.cores / spark.task.cpus` otherwise. */
  def taskBudget(sc: SparkContext): BigInt = {
    val conf = sc.getConf
    val (heap, slots) =
      if (sc.isLocal) (Runtime.getRuntime.maxMemory, sc.defaultParallelism)
      else (conf.getSizeAsBytes("spark.executor.memory", "1g"),
        conf.getInt("spark.executor.cores", 1) / conf.getInt("spark.task.cpus", 1))
    BigInt(heap) / math.max(1, slots) / TaskShareFraction
  }
}

/** Planner strategy for [[ConnectedComponents]]. */
object ConnectedComponentsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ConnectedComponents(child, idA, idB, docId, clusterId) =>
      ConnectedComponentsExec(planLater(child), idA, idB, Seq(docId, clusterId)) :: Nil
    case _ => Nil
  }
}

/** Physical [[ConnectedComponents]]: all edges in one partition (Spark adds
  * the `SinglePartition` exchange), streamed through a [[LongUnionFind]];
  * then one `(node, root)` row per node. Union by minimum root keeps each
  * root its component's minimum id: the unique fixpoint the distributed
  * loop of `Dedup.connectedComponents` reaches, whatever the edge order.
  * Union is symmetric and idempotent, so edges need no mirroring and no
  * `distinct`. The output is one partition, so a sort above it adds no
  * exchange.
  */
case class ConnectedComponentsExec(
    child: SparkPlan,
    idA: Attribute,
    idB: Attribute,
    output: Seq[Attribute]) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def outputPartitioning: Partitioning = SinglePartition

  override protected def withNewChildInternal(newChild: SparkPlan): ConnectedComponentsExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val a = child.output.indexWhere(_.exprId == idA.exprId)
    val b = child.output.indexWhere(_.exprId == idB.exprId)
    child.execute().mapPartitions { rows =>
      val uf = new LongUnionFind
      rows.foreach { row =>
        if (!row.isNullAt(a) && !row.isNullAt(b)) uf.union(row.getLong(a), row.getLong(b))
      }
      val writer = new UnsafeRowWriter(2)
      Iterator.range(0, uf.size).map { i =>
        writer.reset()
        writer.write(0, uf.id(i))
        writer.write(1, uf.root(i))
        writer.getRow
      }
    }
  }
}

/** Union-find over long ids in primitive arrays: an open-addressing table
  * maps an id to its dense index, and `ids`/`parent` are indexed by it
  * (20 to 40 bytes per id, as the arrays fill). Union links the
  * larger root under the smaller, so a root is its component's minimum id;
  * find halves paths.
  */
private[plans] final class LongUnionFind {
  private var ids = new Array[Long](16)
  private var parent = new Array[Int](16)
  // dense index + 1 per slot, 0 = empty; at most half full
  private var slots = new Array[Int](32)
  private var n = 0

  /** The number of distinct ids seen; their dense indices are `0 until size`. */
  def size: Int = n

  def id(i: Int): Long = ids(i)

  /** The minimum id of node `i`'s component. */
  def root(i: Int): Long = ids(find(i))

  def union(a: Long, b: Long): Unit = {
    val ra = find(index(a))
    val rb = find(index(b))
    if (ids(ra) < ids(rb)) parent(rb) = ra else if (ids(rb) < ids(ra)) parent(ra) = rb
  }

  private def find(i0: Int): Int = {
    var i = i0
    while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
    i
  }

  private def slot(id: Long, table: Array[Int]): Int = {
    val mask = table.length - 1
    var h = java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L) & mask
    while (table(h) != 0 && ids(table(h) - 1) != id) h = (h + 1) & mask
    h
  }

  /** The dense index of `id`, added as its own root when new. */
  private def index(id: Long): Int = {
    val h = slot(id, slots)
    if (slots(h) != 0) return slots(h) - 1
    if (n == ids.length) {
      ids = java.util.Arrays.copyOf(ids, n * 2)
      parent = java.util.Arrays.copyOf(parent, n * 2)
    }
    ids(n) = id
    parent(n) = n
    slots(h) = n + 1
    n += 1
    if (n * 2 > slots.length) {
      val grown = new Array[Int](slots.length * 2)
      var i = 0
      while (i < n) { grown(slot(ids(i), grown)) = i + 1; i += 1 }
      slots = grown
    }
    n - 1
  }
}
