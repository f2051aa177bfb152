package graft

/** Driver-side union-find: the ground truth the connected-components
  * specs compare Spark's labels against. */
object UnionFind {

  /** Every node of the undirected edge list `es`, labeled by the
    * minimum node of its component. */
  def minLabels(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
    def find(v: Long): Long = {
      var r = v; while (parent(r) != r) r = parent(r); r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    nodes.groupBy(find).flatMap { case (_, vs) =>
      val m = vs.min; vs.map(_ -> m)
    }
  }
}
