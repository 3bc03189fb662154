package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `ops` layer: the `SparkEntry.queries` suite over seeded tables.
  *
  * `kg_golden_fixture` is left out: its input is the two-row reference CSV,
  * which is not part of the repository. Each query is timed once, fully
  * materialized (`queryExecution.toRdd`), in a JVM the pipeline run and the
  * layer replays have already warmed; there is no per-query warm-up, so
  * each time includes that query's own planning and code generation. This
  * keeps the traced run within its time limit. The 20 plain-SQL queries are
  * reported as one sum. The seed only shuffles the order of the queries.
  */
object OpsLayer {

  val Excluded: Set[String] = Set("kg_golden_fixture")

  /** Family of a query; the 27 queries built on the repository's own
    * operators get their own metric, the plain-SQL ones are summed. */
  def family(q: String): String = q match {
    case _ if q.startsWith("dedup_") => "dedup"
    case _ if q.startsWith("embed_") || q == "j9_pair_score" || q == "media_features" => "similarity"
    case _ if q.startsWith("text_") => "text"
    case _ if q.startsWith("events_") || q == "asof_join_snapshots" ||
      q == "range_join_intervals" => "events"
    case _ if q.startsWith("kg_") => "kg"
    case _ => "sql"
  }

  /** The `ops.*` metrics, and one operation record per query. */
  def run(spark: SparkSession, t: Tracer, input: String,
          seed: Long): (Map[String, Any], Seq[Harness.Op]) = {
    val queries = new scala.util.Random(seed)
      .shuffle(SparkEntry.queries.toSeq.filterNot(q => Excluded(q._1)).sortBy(_._1))
    val m = mutable.LinkedHashMap.empty[String, Any]
    val jobs = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
    val spans = mutable.ArrayBuffer.empty[(String, Span)]
    var sqlS = 0.0
    val ops = queries.map { case (name, fn) =>
      val fam = family(name)
      Harness.timedOp(name) {
        val (rows, s) = t.span(s"ops.$name")(Harness.materialize(fn(spark, input)))
        spans += fam -> s
        if (fam == "sql") sqlS += s.seconds else m(s"ops.${name}_s") = s.seconds
        (true, s"rows=$rows")
      }
    }
    t.drain()
    spans.foreach { case (fam, s) => jobs(fam) += s.jobs }
    m("ops.sql_s") = sqlS
    Seq("dedup", "similarity", "text", "events", "kg", "sql").foreach(f => m(s"ops.$f.jobs") = jobs(f))
    (m.toMap, ops)
  }
}
