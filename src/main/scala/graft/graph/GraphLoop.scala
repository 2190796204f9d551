package graft.graph

import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.graphx.{Edge, Graph => XGraph, PartitionStrategy, VertexId, VertexRDD}
import org.apache.spark.graphx.impl.{GraphImpl, VertexRDDImpl}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one GraphX graph lifecycle of `graft.graph`: every Pregel run,
  * GraphX built-in and converged vertex-program loop builds its graph here
  * and lets it go here.
  *
  *  - [[edges]] turns a frame's `(src, dst)` columns into an `Edge` RDD.
  *  - [[place]] partitions the edges once (`EdgePartition2D`, one shuffle)
  *    and caches them; vertices are their endpoints plus any seeds.
  *  - [[run]] applies a Pregel call or built-in to a placed graph,
  *    materializes the result frame and releases both graphs, so a call
  *    leaves exactly one persisted RDD behind: its result's.
  *  - [[cut]], [[lookup]] and [[on]] carry the vertex state of the
  *    converged loops, which place their graph here and [[release]] it
  *    themselves.
  */
private[graph] object GraphLoop {

  private val Level = StorageLevel.MEMORY_AND_DISK

  /** `(src, dst)` as longs, straight from the frame (no dedup). */
  def longPairs(edges: DataFrame): RDD[(Long, Long)] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long")).as[(Long, Long)].rdd
  }

  /** The simple undirected graph as canonical `(a < b)` pairs: self-loops
    * dropped, parallel and reversed duplicates collapsed.
    */
  def simplePairs(edges: DataFrame): RDD[(Long, Long)] =
    longPairs(edges).flatMap { case (s, d) =>
      if (s == d) None else Some((math.min(s, d), math.max(s, d)))
    }.distinct()

  /** The frame's `(src, dst)` rows as GraphX edges, carrying the long
    * column `attr` when one is named and `()` otherwise.
    */
  def edges(frame: DataFrame): RDD[Edge[Unit]] =
    longPairs(frame).map { case (s, d) => Edge(s, d, ()) }

  def edges(frame: DataFrame, attr: String): RDD[Edge[Long]] = {
    val spark = frame.sparkSession
    import spark.implicits._
    frame.select(col("src").cast("long"), col("dst").cast("long"), col(attr).cast("long"))
      .as[(Long, Long, Long)].rdd.map { case (s, d, a) => Edge(s, d, a) }
  }

  /** `edges` partitioned once by `EdgePartition2D` (one shuffle; an edge RDD
    * with no partitions gets one) and cached. Every edge endpoint starts at
    * `default`; `seeds` start at their own value and are vertices even when
    * no edge touches them.
    */
  def place[VD: ClassTag, ED: ClassTag](edges: RDD[Edge[ED]], default: VD,
                                        seeds: Seq[(VertexId, VD)] = Nil): XGraph[VD, ED] = {
    val n = math.max(1, edges.getNumPartitions)
    val placed = edges
      .map(e => (PartitionStrategy.EdgePartition2D.getPartition(e.srcId, e.dstId, n), e))
      .partitionBy(new PartitionIdPassthrough(n))
      .values
    if (seeds.isEmpty) XGraph.fromEdges(placed, default, Level, Level)
    else XGraph(edges.sparkContext.parallelize(seeds), placed, default, Level, Level)
  }

  /** Applies `loop` (a Pregel call or a GraphX built-in) to `placed`, builds
    * the result frame from the result graph with `rows`, materializes it and
    * releases both graphs, also when `loop` or `rows` throws. `rows` is the
    * place for checks on the result graph: it runs before the result frame
    * is materialized, so a check that throws leaves nothing persisted.
    */
  def run[VD, ED, R](placed: XGraph[VD, ED])(loop: XGraph[VD, ED] => XGraph[R, ED])(
      rows: XGraph[R, ED] => DataFrame): DataFrame =
    try {
      val result = loop(placed)
      try rows(result).localCheckpoint(true) finally release(result)
    } finally release(placed)

  /** Drops a graph's cached vertices and edges. */
  def release(graph: XGraph[_, _]): Unit = graph.unpersist(blocking = false)

  /** `state` paired with `graph`'s edges, without a shuffle: a state is a
    * `VertexRDD` over the graph's vertex index (`graph.vertices` and
    * everything derived from it by `mapValues` / joins), so
    * `aggregateMessages` on the pair ships only the vertex values.
    */
  def on[VD: ClassTag, ED: ClassTag](graph: XGraph[_, ED], state: VertexRDD[VD]): XGraph[VD, ED] =
    GraphImpl.fromExistingRDDs(state, graph.edges)

  /** Caches a round's vertex state and cuts its lineage when the round's
    * job materializes it, so lineage (and task size) stays one round deep
    * however many rounds run. The cut is a local checkpoint that is never
    * unpersisted by hand: once the next round's state replaces it, nothing
    * references it and the context cleaner drops its blocks.
    */
  def cut[VD](state: VertexRDD[VD]): VertexRDD[VD] = {
    state.asInstanceOf[VertexRDDImpl[VD]].partitionsRDD.localCheckpoint()
    state
  }

  /** `table(key(a))` for every vertex state `a`, without a join keyed by
    * the looked-up key: each vertex partition asks once per distinct key
    * it holds and gets the answers back by partition id, so a key shared
    * by a million vertices (one giant community) moves one row per
    * partition, never its members' rows through one task. Every asked key
    * must be in `table`.
    */
  def lookup[VD, T: ClassTag](state: VertexRDD[VD], key: VD => Long,
                              table: RDD[(Long, T)]): VertexRDD[T] = {
    val parts = state.getNumPartitions
    val asks = state.mapPartitionsWithIndex { (pid, it) =>
      it.map { case (_, a) => key(a) }.toSet.iterator.map((k: Long) => (k, pid))
    }
    val answers = asks.join(table)
      .map { case (k, (pid, t)) => (pid, (k, t)) }
      .partitionBy(new PartitionIdPassthrough(parts))
    val found = state.zipPartitions(answers, preservesPartitioning = true) { (vs, as) =>
      val byKey = as.map(_._2).toMap
      vs.map { case (v, a) => (v, byKey(key(a))) }
    }
    state.innerJoin(found)((_, _, t) => t) // co-partitioned: no shuffle
  }

  /** Routes a `(partition id, _)` pair to that partition. */
  private final class PartitionIdPassthrough(override val numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }
}
