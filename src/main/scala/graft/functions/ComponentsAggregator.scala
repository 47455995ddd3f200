package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF: connected components of a KEY-CONTAINED edge list, labeled
  * by minimum vertex id — min-label union-find run once per group inside
  * a single aggregate.
  *
  * Motivation (r21): q74's embedding near-dup graph is BUCKET-contained
  * by construction — every edge joins two vectors of the same sign-LSH
  * cell (embNearDupPairsOf's equi-join), so a component can never span
  * buckets and `groupBy(bucket)` sees each component whole. The generic
  * iterative min-label propagation (Dedup.propagateMinLabels — still the
  * right tool for q52's band graph, whose components DO span join keys)
  * paid O(diameter/φ) Spark jobs: 11 rounds × ~0.2 s of fixed per-round
  * latency at sf0.1, and the round count GROWS with bucket occupancy at
  * scale. This aggregator replaces the loop with ONE pass over the edge
  * relation: partial buffers collect each bucket's edges, the final
  * merge union-finds them, and the output is the (vertex, component-min)
  * pair list.
  *
  * Buffer bound: one group's buffer holds that bucket's VERIFIED edge
  * list — the same per-bucket pair population the caller already
  * materializes (embRepPairs), bounded by the sign-LSH sizing contract
  * (bits ≈ log₂ n keeps expected in-bucket pairs O(n) corpus-wide). A
  * bucket that blows this buffer has already blown the candidate join
  * it came from.
  *
  * Determinism: the final labels are a pure function of the edge SET
  * (union-by-min makes every root the component minimum; find() path
  * compression never changes roots), so partial/merge order cannot
  * change the output. Output sorted by vertex id.
  */
object ComponentsAggregator {

  /** Edge count above which finish() logs a sizing warning (advice r21):
    * ~5 M edges ≈ 300 MB of buffered Edge objects in one task — still
    * survivable, but a sign the group key is not containing components
    * the way the caller's sizing contract promised.
    */
  val AlarmEdgeCount: Int = 5000000

  /** The sizing warning for one group of `edges` buffered edges: None at
    * or below [[AlarmEdgeCount]], else a message naming the count.
    */
  def edgeAlarm(edges: Int): Option[String] =
    if (edges <= AlarmEdgeCount) None
    else Some(s"[graft] ComponentsAggregator: one group buffered $edges " +
      s"edges (> $AlarmEdgeCount) — check the key-containment sizing " +
      "(SPARK_GRAFT_LSH_BITS / fast-path gate)")

  case class Edge(a: Long, b: Long)

  class MinLabelComponents
      extends Aggregator[Edge, Seq[Edge], Seq[(Long, Long)]] {
    override def zero: Seq[Edge] = Nil
    override def reduce(buf: Seq[Edge], e: Edge): Seq[Edge] = e +: buf
    override def merge(b1: Seq[Edge], b2: Seq[Edge]): Seq[Edge] = b1 ++ b2
    override def finish(edges: Seq[Edge]): Seq[(Long, Long)] = {
      // DIAGNOSABILITY ALARM (advice r21): the buffer bound rests on the
      // caller's key-containment sizing (sign-LSH bits ≈ log₂ n, or the
      // propagateMinLabels fast-path edge count gate). If a hot group
      // still concentrates a huge edge list, surface it as a named
      // warning on the executor log BEFORE it becomes an opaque OOM, so
      // an undersized bits setting is diagnosable.
      edgeAlarm(edges.size).foreach(w => System.err.println(w))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { e =>
        parent.getOrElseUpdate(e.a, e.a)
        parent.getOrElseUpdate(e.b, e.b)
        val ra = find(e.a); val rb = find(e.b)
        // union-by-min: the larger root points at the smaller, so every
        // component's final root IS its minimum member id
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.toSeq.sorted.map(v => (v, find(v)))
    }
    override def bufferEncoder: Encoder[Seq[Edge]] = Encoders.kryo[Seq[Edge]]
    override def outputEncoder: Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Column-API handle:
    * `groupBy("bucket").agg(minLabelComponents($"vec_a", $"vec_b"))`.
    */
  def minLabelComponents: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new MinLabelComponents, Encoders.product[Edge])
}
