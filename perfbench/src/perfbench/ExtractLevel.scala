package perfbench

import graft.extract.{Extraction, SynthDocs}

/** One extraction-scaling level in its own JVM, started with
  * `-XX:ActiveProcessorCount` equal to `--cores`.
  *
  * Set-up materializes the synthetic doc table from the seeded
  * `documents.parquet` into `--table`, unless another JVM already wrote it
  * there. Then `Extraction.triples` runs one cold job, untimed jobs for
  * `--warmup` seconds, and timed jobs for `--seconds`, each fully
  * materialized. Each job's triple count goes to the result file, where the
  * caller checks it against the DuckDB oracle.
  */
object ExtractLevel {
  /** The synthetic doc table from a seeded `documents.parquet`. */
  def materializeDocTable(spark: org.apache.spark.sql.SparkSession, input: String,
                          partitions: Int, out: String): Unit =
    SynthDocs.fromDocuments(spark, input).repartition(partitions)
      .write.mode("overwrite").parquet(out)

  def main(args: Array[String]): Unit = {
    val a = Harness.parseArgs(args)
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val launchedMs = a("launched-ms").toLong
    val warmupSeconds = a("warmup").toDouble

    val spark = Harness.session(cores, a("tmp"), cores * 2)
    Harness.phase(launchedMs, "session")
    val tracer = if (trace) Some(Tracer.setup(spark, a("run-id"))) else None

    // in a traced run the pipeline JVM has already written the doc table
    val table = a("table")
    if (!new java.io.File(table, "_SUCCESS").isFile)
      materializeDocTable(spark, a("input"), a("partitions").toInt, table)
    val input = spark.read.parquet(table)
    val docs = input.count()
    Harness.phase(launchedMs, "doc table")
    val triples = Extraction.triples(input)

    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    def job(kind: String): Harness.Op = Harness.timedOp(kind) {
      counts += Harness.materialize(triples.toDF())
      (true, s"triples=${counts.last}")
    }

    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3
    val cold = job("cold")
    // untimed warm-up: the extraction closures take several seconds of jobs
    // to reach compiled code, and until then job times fall steadily
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < warmupSeconds) Harness.materialize(triples.toDF())
    // timed loop; a traced run alternates the tracer off and on per job, so
    // the difference of the two medians is the tracing overhead
    val warm = scala.collection.mutable.ArrayBuffer.empty[Harness.Op]
    val traced = scala.collection.mutable.ArrayBuffer.empty[(Harness.Op, Span)]
    val t0 = System.nanoTime()
    while (warm.isEmpty || traced.isEmpty && tracer.isDefined ||
           (System.nanoTime() - t0) / 1e9 < seconds) {
      tracer match {
        case Some(t) if warm.size > traced.size =>
          t.enabled = true
          traced += t.span("extract.level")(job("traced"))
          t.drain()
          t.enabled = false
        case _ => warm += job("warm")
      }
    }

    val result = Map[String, Any](
      "cores" -> cores,
      "docs" -> docs,
      "setup_s" -> setupS,
      "cold" -> Harness.opJson(cold),
      "ops" -> warm.map(Harness.opJson).toSeq,
      "op_s" -> Harness.median(warm.map(_.seconds).toSeq),
      "counts" -> counts.toSeq,
      "oracle_sql" -> graft.SparkEntry.oracleSql("kg_triples"),
      "peak_rss_mb" -> Harness.peakRssMb(),
      "spark_confs" -> Harness.confs(spark),
    ) ++ (if (traced.isEmpty) Map.empty else {
      val spans = traced.map(_._2).toSeq
      val durations = spans.flatMap(_.taskDurationsMs).map(_.toDouble)
      Map(
        "traced_ops" -> traced.map(o => Harness.opJson(o._1)).toSeq,
        "trace_overhead_s" -> (Harness.median(traced.map(_._1.seconds).toSeq) -
          Harness.median(warm.map(_.seconds).toSeq)),
        "task_s" -> Harness.median(spans.map(_.taskRunMs / 1e3)),
        "task_skew" -> (durations.max / Harness.median(durations)),
        "spans" -> spans.map(_.toJson))
    })
    Harness.writeJson(a("result"), result)
    spark.stop()
  }
}
