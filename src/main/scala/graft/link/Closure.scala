package graft.link

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Transitive closures over tiny dimension hierarchies (unit class
  * ladders, formation chains). The reference resolves these per query with
  * SPARQL property paths (`a/rdfs:subClassOf* wsc:Group`,
  * reference: sparql/units.sparql:20-26); Spark has no recursive join, so
  * the closure is PRECOMPUTED once per batch and then broadcast into the
  * linking joins. The edge table is gazetteer-sized by contract (thousands
  * of classes at most), so the edges are collected and the fixpoint runs
  * locally: a Spark self-join loop would pay a job per iteration and per
  * count for a few dozen rows. */
object Closure {

  /** Reflexive-transitive closure of an edge table `(node, parent)`:
    * returns `(node, ancestor)` with every node reachable via 0..n parent
    * hops, as a local frame. Semi-naive fixpoint: each round extends only
    * the pairs the previous round added, so round k adds exactly the pairs
    * k+1 hops apart. A cycle converges (the pair set is finite);
    * `maxDepth` is a runaway guard for a ladder deeper than any real
    * hierarchy, not a tuning knob. Null endpoints join nothing, like the
    * SQL join they stand for. */
  def reflexiveTransitive(edges: DataFrame, node: String = "clazz",
                          parent: String = "parent", maxDepth: Int = 32): DataFrame = {
    val pairs = edges.select(col(node), col(parent)).collect()
      .map(r => (r.get(0), r.get(1))).distinct
    val parents: Map[Any, Array[Any]] = pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val closure = mutable.LinkedHashSet[(Any, Any)]()
    pairs.foreach { case (n, p) => closure += ((n, n)); closure += ((p, p)) }
    var frontier = pairs.filterNot(closure.contains).toSeq
    closure ++= frontier
    var depth = 0
    while (frontier.nonEmpty && depth < maxDepth) {
      frontier = frontier.flatMap { case (n, a) =>
        if (a == null) Nil else parents.getOrElse(a, Array.empty[Any]).map(p => (n, p))
      }.distinct.filterNot(closure.contains)
      closure ++= frontier
      depth += 1
    }
    // a still-growing closure at the depth cap means a ladder deeper than
    // expected — fail loudly, never return a silently-partial closure (a
    // partial subClassOf* closure would wrongly EXCLUDE unit candidates
    // downstream)
    require(frontier.isEmpty,
      s"transitive closure still growing after $maxDepth iterations — " +
        "cyclic hierarchy or maxDepth too small")
    val t = edges.schema(node).dataType
    val schema = StructType(Seq(StructField(node, t), StructField("ancestor", t)))
    val rows = closure.toSeq.map { case (n, a) => Row(n, a) }
    edges.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
