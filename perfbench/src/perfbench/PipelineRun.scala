package perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.canon.ConnectedComponents
import graft.erlink.RecordLinkage
import graft.events.Events
import graft.extract.{CampConversion, Extraction, SynthDocs}
import graft.gazetteer.Gazetteers
import graft.link.Linkers
import graft.model.NS
import graft.pipeline.{Pipeline, SnapshotStore}
import graft.privacy.Privacy

/** The `pipeline` workload in one JVM.
  *
  * Timed operations, one at a time (a closed loop with one client):
  *  1. a fresh `Pipeline.run` on an empty workDir, through the final count —
  *     the first Spark work of the JVM, so it pays what one `RunPipeline`
  *     submit pays;
  *  2. for `--seconds` (at least twice), resume operations: invalidate the four stages
  *     downstream of `sourced` and run again, so nine committed snapshots
  *     are read back and four stages recompute.
  *
  * Every operation's output is checked: the set of stages that printed a
  * `[stage-time]` line, the pinned privacy date, and an order-independent
  * digest of the final store (a resume must reproduce the fresh digest).
  *
  * With `--trace 1` the fresh run is traced, a run over the fully committed
  * work dir follows, and each layer is then replayed from outside on the
  * snapshots the pipeline committed (see [[Replay]]).
  */
object PipelineRun {

  val Stages: Seq[String] = Seq("camps", "schema", "extract", "extract_errors", "pruned",
    "linked", "media", "person_links", "sourced", "canonical", "record_frame", "events", "final")
  val ResumedStages: Seq[String] = Seq("canonical", "record_frame", "events", "final")
  /** A median of at least two resumes, whatever `--seconds` is. */
  val MinResumes = 2

  private val StageTime = """\[stage-time\] (\S+) ([0-9.]+) s""".r

  /** Forwards stdout line by line to `onLine`, then to the real stdout. */
  private final class LineTap(onLine: String => Unit) extends OutputStream {
    private val buf = new java.io.ByteArrayOutputStream()
    override def write(b: Int): Unit =
      if (b == '\n') {
        val line = new String(buf.toByteArray, StandardCharsets.UTF_8)
        buf.reset()
        onLine(line)
        System.out.println(line)
      } else buf.write(b)
  }

  /** One `Pipeline.run` through the final count, with the `[stage-time]`
    * lines it printed (stage → printed seconds, in print order). */
  final case class RunOut(seconds: Double, finalCount: Long, stageTimes: Seq[(String, Double)])

  def runPipeline(spark: SparkSession, docs: DataFrame, workDir: String, date: LocalDate,
                  onStage: String => Unit = _ => ()): RunOut = {
    val lines = mutable.ArrayBuffer.empty[(String, Double)]
    val tap = new PrintStream(new LineTap({
      case StageTime(stage, s) => lines += stage -> s.toDouble; onStage(stage)
      case _ =>
    }), true, StandardCharsets.UTF_8)
    val t0 = System.nanoTime()
    val n = Console.withOut(tap) { Pipeline.run(spark, docs, workDir, date).count() }
    RunOut((System.nanoTime() - t0) / 1e9, n, lines.toSeq)
  }

  /** Stage time with the nested `record_frame` taken out of `events`, so the
    * stage times partition the run. */
  def selfTimes(stageTimes: Seq[(String, Double)]): Map[String, Double] = {
    val m = stageTimes.toMap
    m.get("events") match {
      case Some(e) => m.updated("events", e - m.getOrElse("record_frame", 0.0))
      case None => m
    }
  }

  def pinnedDate(workDir: String): String = {
    val cfg = new String(Files.readAllBytes(Paths.get(workDir, "_RUN_CONFIG.json")),
      StandardCharsets.UTF_8)
    """"today": "([0-9-]+)"""".r.findFirstMatchIn(cfg).map(_.group(1)).getOrElse("")
  }

  def main(args: Array[String]): Unit = {
    val a = Harness.parseArgs(args)
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val date = LocalDate.parse(a("date"))
    val cores = a("cores").toInt
    val launchedMs = a("launched-ms").toLong
    val workBase = a("work")

    val spark = Harness.session(cores, a("tmp"), 16)
    val tracer = if (trace) Some(Tracer.setup(spark, a("run-id"))) else None
    val docs = SynthDocs.fromDocuments(spark, a("input"))
    val docCount = spark.read.parquet(s"${a("input")}/documents.parquet").count()
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3

    val failures = mutable.ArrayBuffer.empty[String]
    def check(cond: Boolean, msg: => String): Boolean = {
      if (!cond) { failures += msg; System.err.println(s"[perfbench] CHECK FAILED: $msg") }
      cond
    }

    // ---- 1. fresh run (first Spark work of this JVM) ---------------------
    val workDir = s"$workBase/fresh"
    Harness.deleteRecursively(workDir)
    val freshLoad = Harness.loadAvg()
    val stageSpans = mutable.ArrayBuffer.empty[Span]
    val fresh = tracer match {
      case Some(t) =>
        t.enabled = true
        val (out, _) = t.span("pipeline.fresh") {
          // one child span per interval between `[stage-time]` lines: jobs
          // started in it belong to the stage whose line closes it
          var cur = t.open("pipeline.pending")
          val out = runPipeline(spark, docs, workDir, date, onStage = { stage =>
            cur.name = s"pipeline.$stage"
            stageSpans += t.close(cur)
            cur = t.open("pipeline.pending")
          })
          cur.name = "pipeline.unattributed"
          stageSpans += t.close(cur)
          out
        }
        out
      case None => runPipeline(spark, docs, workDir, date)
    }
    val freshLoadAfter = Harness.loadAvg()
    val freshDigest = Harness.tripleDigest(new SnapshotStore(spark, workDir).read("final"))
    val freshOk = Seq(
      check(fresh.stageTimes.map(_._1).sorted == Stages.sorted,
        s"fresh run printed stage times for ${fresh.stageTimes.map(_._1)}, expected all of $Stages"),
      check(pinnedDate(workDir) == date.toString,
        s"workDir pinned date ${pinnedDate(workDir)} != ${date}"),
      check(freshDigest.startsWith(s"${fresh.finalCount}:"),
        s"final count ${fresh.finalCount} disagrees with digest $freshDigest"),
    ).forall(identity)
    val freshOp = Harness.Op("fresh", fresh.seconds, freshLoad, freshLoadAfter, freshOk,
      s"final_triples=${fresh.finalCount} digest=$freshDigest")

    // ---- 2. resume loop --------------------------------------------------
    val store = new SnapshotStore(spark, workDir)
    def resume(kind: String): (Harness.Op, RunOut) = {
      ResumedStages.foreach(store.invalidate)
      val lb = Harness.loadAvg()
      val out = runPipeline(spark, docs, workDir, date)
      val la = Harness.loadAvg()
      val digest = Harness.tripleDigest(store.read("final"))
      val ok = Seq(
        check(out.stageTimes.map(_._1).sorted == ResumedStages.sorted,
          s"resume printed stage times for ${out.stageTimes.map(_._1)}, expected only $ResumedStages"),
        check(digest == freshDigest, s"resume digest $digest != fresh digest $freshDigest"),
      ).forall(identity)
      (Harness.Op(kind, out.seconds, lb, la, ok, s"final_triples=${out.finalCount} digest=$digest"), out)
    }

    val resumes = mutable.ArrayBuffer.empty[Harness.Op]
    val perLayer = mutable.LinkedHashMap.empty[String, Any]
    tracer match {
      case None =>
        val t0 = System.nanoTime()
        while (resumes.size < MinResumes || (System.nanoTime() - t0) / 1e9 < seconds)
          resumes += resume("resume")._1
      case Some(t) =>
        t.drain()
        // resume overhead: a run over a work dir where every stage is
        // committed reads all thirteen snapshots back and recomputes none
        val (noop, noopOp) = {
          val lb = Harness.loadAvg()
          val out = runPipeline(spark, docs, workDir, date)
          val digest = Harness.tripleDigest(store.read("final"))
          (out, Harness.Op("resume_none", out.seconds, lb, Harness.loadAvg(),
            check(out.stageTimes.isEmpty, s"full resume recomputed ${out.stageTimes.map(_._1)}") &&
              check(digest == freshDigest, s"full resume digest $digest != $freshDigest"),
            s"final_triples=${out.finalCount} digest=$digest"))
        }
        resumes += noopOp
        perLayer ++= pipelineLayer(store, fresh, stageSpans.toSeq, noop)
        perLayer ++= new Replay(spark, t, store, docs, date).all()
        val (opsLayer, queries) = OpsLayer.run(spark, t, a("ops-input"), a("seed").toLong)
        perLayer ++= opsLayer
        queries.foreach(q => check(q.ok, s"operator query ${q.kind}: ${q.detail}"))
        resumes ++= queries
        // the extraction levels that follow read this doc table
        ExtractLevel.materializeDocTable(spark, a("level-input"), a("level-partitions").toInt,
          a("level-table"))
        t.enabled = false
        t.write(a("spans"))
    }

    val result = Map[String, Any](
      "docs" -> docCount,
      "setup_s" -> setupS,
      "fresh" -> Harness.opJson(freshOp),
      "ops" -> resumes.map(Harness.opJson).toSeq,
      "op_s" -> Some(resumes.filter(_.kind == "resume").map(_.seconds).toSeq)
        .filter(_.nonEmpty).map(Harness.median),
      "first_op_s" -> fresh.seconds,
      "final_triples" -> fresh.finalCount,
      "digest" -> freshDigest,
      "fresh_stage_times" -> fresh.stageTimes.map { case (s, v) => Map("stage" -> s, "s" -> v) },
      "workdir" -> workDir,
      "workdir_bytes" -> Stages.map(st => manifestBytes(store, st)).sum,
      "oracle_sql" -> SparkEntry.oracleSql("kg_triples"),
      "failures" -> failures.toSeq,
      "peak_rss_mb" -> Harness.peakRssMb(),
      "spark_confs" -> Harness.confs(spark),
      "per_layer" -> perLayer.toMap,
    )
    Harness.writeJson(a("result"), result)
    spark.stop()
  }

  private def manifest(store: SnapshotStore, stage: String): Map[String, Any] =
    Harness.json.readValue(store.readManifest(stage), classOf[Map[String, Any]])

  def manifestBytes(store: SnapshotStore, stage: String): Long =
    manifest(store, stage)("files").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("bytes").toString.toLong).sum

  private def manifestSec(store: SnapshotStore, stage: String): Double =
    manifest(store, stage)("sec").toString.toDouble

  /** `pipeline.*` metrics from the traced fresh run and a full resume. */
  private def pipelineLayer(store: SnapshotStore, fresh: RunOut, spans: Seq[Span],
                            resumed: RunOut): Map[String, Any] = {
    val self = selfTimes(fresh.stageTimes)
    val byName = spans.map(s => s.name -> s).toMap
    val m = mutable.LinkedHashMap.empty[String, Any]
    Stages.foreach { st =>
      m(s"pipeline.$st.s") = self(st)
      m(s"pipeline.$st.jobs") = byName.get(s"pipeline.$st").map(_.jobs).getOrElse(0)
      m(s"pipeline.$st.bytes") = manifestBytes(store, st)
    }
    val writeS = Stages.map(st => manifestSec(store, st)).sum
    m("pipeline.wall_s") = fresh.seconds
    m("pipeline.manifest_gap_s") = self.values.sum - writeS
    m("pipeline.unattributed_s") = fresh.seconds - self.values.sum
    m("pipeline.resume_overhead_s") = resumed.seconds
    m("pipeline.write_s") = writeS
    m("pipeline.shuffle_bytes") = spans.map(_.shuffleWriteBytes).sum
    m.toMap
  }
}

/** Replays each layer from outside: every span calls public functions on
  * the inputs the pipeline itself committed (read back through
  * `SnapshotStore.read`) and fully materializes the result. */
final class Replay(spark: SparkSession, t: Tracer, store: SnapshotStore, docs: DataFrame,
                   date: LocalDate) {
  import spark.implicits._

  private val m = mutable.LinkedHashMap.empty[String, Any]

  private def timed(name: String)(df: => DataFrame): (Long, Span) =
    t.span(name)(Harness.materialize(df))

  private def shuffle(spans: Seq[Span]): Long = { t.drain(); spans.map(_.shuffleWriteBytes).sum }

  def all(): Map[String, Any] = {
    pipelineRead(); gazetteer(); extract(); privacy(); link(); erlink(); canon(); events()
    m.toMap
  }

  private def pipelineRead(): Unit = {
    val (_, s) = t.span("pipeline.read") {
      PipelineRun.Stages.foreach(st => Harness.materialize(store.read(st)))
    }
    m("pipeline.read_s") = s.seconds
  }

  private def gazetteer(): Unit = {
    val dims: Seq[SparkSession => DataFrame] = Seq(Gazetteers.ranks, Gazetteers.units,
      Gazetteers.unitClasses, Gazetteers.municipalities, Gazetteers.pnrPlaces, Gazetteers.camps,
      Gazetteers.rawCampTriples, Gazetteers.casualtiesNameCounts, Gazetteers.additionalLinks,
      Gazetteers.personDocumentPaths, Gazetteers.occupations, s => Gazetteers.persons(s),
      Gazetteers.magazineIndex, Gazetteers.videoIndex, Gazetteers.videoLabels,
      Gazetteers.sourcesRegister)
    val (_, s) = t.span("gazetteer.build")(dims.foreach(d => Harness.materialize(d(spark))))
    m("gazetteer.build_s") = s.seconds
  }

  private def extract(): Unit = {
    val (_, tr) = timed("extract.triples")(Extraction.triples(docs).toDF())
    val (_, er) = timed("extract.errors")(Extraction.errors(docs).toDF())
    // the camps chain as the pipeline composes it (Pipeline.scala stage 0)
    val (_, ca) = timed("extract.camps") {
      val raw = Gazetteers.rawCampTriples(spark)
      val camps = CampConversion.remintSubjects(raw, NS.SCHEMA_WARSA + "PowCamp",
        NS.SCHEMA_POW + "camp_id", NS.SCHEMA_POW + "captivity_location", NS.DATA + "camp_")
        .localCheckpoint()
      val both = CampConversion.remintSubjects(camps, NS.SCHEMA_WARSA + "PowHospital",
        NS.SCHEMA_POW + "camp_id", NS.SCHEMA_POW + "captivity_location", NS.DATA + "hospital_")
        .localCheckpoint()
      CampConversion.constructCamps(both)
    }
    val (_, sc) = timed("extract.schema")(Extraction.schemaTriples(spark).toDF())
    m("extract.triples_s") = tr.seconds
    m("extract.errors_s") = er.seconds
    m("extract.camps_s") = ca.seconds
    m("extract.schema_s") = sc.seconds
    m("extract.shuffle_bytes") = shuffle(Seq(tr, er, ca, sc))
  }

  private def privacy(): Unit = {
    val extracted = store.read("extract")
    val (_, s) = timed("privacy.prune")(
      Privacy.prunePersons(extracted, Gazetteers.casualtiesNameCounts(spark), date))
    spark.catalog.clearCache()
    m("privacy.prune_s") = s.seconds
    m("privacy.rows_removed") = extracted.count() - store.read("pruned").count()
    m("privacy.shuffle_bytes") = shuffle(Seq(s))
  }

  private def link(): Unit = {
    val pruned = store.read("pruned")
    val tasks: Seq[(String, () => DataFrame)] = Seq(
      "ranks" -> (() => Linkers.linkRanks(pruned, Gazetteers.ranks(spark))),
      "camps" -> (() => Linkers.linkCamps(pruned, Gazetteers.camps(spark))),
      "municipalities" -> (() => Linkers.linkMunicipalities(pruned, Gazetteers.municipalities(spark))),
      "pnr" -> (() => Linkers.linkPnrDeathMunicipality(pruned, Gazetteers.pnrPlaces(spark))),
      "occupations" -> (() => Linkers.linkOccupations(pruned, Gazetteers.occupations(spark))),
      "units" -> (() => Linkers.linkUnits(pruned, Gazetteers.units(spark),
        Linkers.docPeriods(pruned), Gazetteers.unitClasses(spark))),
      "magazines" -> (() => Linkers.linkMagazines(pruned, Gazetteers.magazineIndex(spark))._1),
      "person_docs" -> (() => Linkers.linkPersonDocuments(Gazetteers.personDocumentPaths(spark))._1),
      "videos" -> (() => Linkers.linkVideos(Gazetteers.videoIndex(spark),
        Gazetteers.videoLabels(spark))._1),
      "sources" -> (() => {
        val all = pruned.unionByName(store.read("linked")).unionByName(store.read("person_links"))
        Linkers.linkSources(all, Gazetteers.sourcesRegister(spark))._1
      }),
    )
    val spans = tasks.map { case (task, f) =>
      val (n, s) = timed(s"link.$task")(f())
      m(s"link.${task}_s") = s.seconds
      m(s"link.$task.links") = n
      s
    }
    m("link.shuffle_bytes") = shuffle(spans)
  }

  private def erlink(): Unit = {
    val triples = store.read("pruned").unionByName(store.read("linked"))
    val ranks = Gazetteers.ranks(spark)
    val persons = Gazetteers.persons(spark)
    val (pairs, c) = timed("erlink.candidates")(
      RecordLinkage.candidatePairs(RecordLinkage.prisonerFeatures(triples, ranks), persons))
    val (links, l) = timed("erlink.link_persons")(
      RecordLinkage.linkPersons(triples, ranks, persons))
    m("erlink.candidates_s") = c.seconds
    m("erlink.candidate_pairs") = pairs
    m("erlink.link_persons_s") = l.seconds
    m("erlink.links") = links
    m("erlink.shuffle_bytes") = shuffle(Seq(c, l))
  }

  private def canon(): Unit = {
    val sourced = store.read("sourced")
    val edges = ConnectedComponents.edgesFromLinks(
      sourced.filter($"pred" === (NS.CRM + "P70_documents")))
    val (comps, c) = t.span("canon.components") {
      ConnectedComponents.components(edges).select($"comp").distinct().count()
    }
    val (_, k) = timed("canon.canonicalize")(ConnectedComponents.canonicalizeTriples(sourced, edges))
    m("canon.components_s") = c.seconds
    m("canon.components") = comps
    m("canon.canonicalize_s") = k.seconds
    m("canon.shuffle_bytes") = shuffle(Seq(c, k))
  }

  private def events(): Unit = {
    val canonical = store.read("canonical")
    val (_, rf) = timed("events.record_frame")(Events.recordFrame(canonical))
    // the constructors as the pipeline composes them (Pipeline.scala stage 7)
    val frame = store.read("record_frame")
    val (_, cs) = timed("events.construct") {
      val none = canonical.limit(0)
      val mediaPreds = Seq(NS.SCHEMA_WARSA + "sotilaan_aani_magazine",
        NS.SCHEMA_WARSA + "person_document", NS.SCHEMA_WARSA + "documented_in_video",
        NS.BIOC + "has_occupation")
      Events.people(frame, canonical.filter($"pred".isin(mediaPreds: _*)))
        .unionByName(Events.births(frame, none))
        .unionByName(Events.deaths(frame, none))
        .unionByName(Events.captures(frame))
        .unionByName(Events.disappearances(frame, none))
        .unionByName(Events.promotions(canonical, frame, Gazetteers.ranks(spark)))
        .unionByName(Events.unitJoinings(canonical, frame))
        .unionByName(Events.relatedPeriods(canonical))
        .unionByName(Events.documentsLinks(frame))
        .unionByName(Events.invertDocumentsLinks(canonical))
        .unionByName(Events.campCoordinates(Gazetteers.camps(spark)))
    }
    m("events.record_frame_s") = rf.seconds
    m("events.construct_s") = cs.seconds
    m("events.shuffle_bytes") = shuffle(Seq(rf, cs))
  }
}
