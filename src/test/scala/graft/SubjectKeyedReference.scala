package graft

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Converters
import graft.link.Normalize
import graft.model.NS
import graft.privacy.Privacy

/** The per-predicate multi-join forms of the subject-keyed frames: one
  * `filter → groupBy(subj)` aggregate per predicate, joined back on the
  * subject. They are the specification the one-pass versions in
  * `Privacy`, `RecordLinkage`, `CampConversion` and `Linkers` are checked
  * against (SubjectKeyedSpec). */
object SubjectKeyedReference {

  private val castDateUdf = udf(Converters.castDateLenient _)

  def classifyReference(triples: DataFrame, today: LocalDate): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val cutoff = java.sql.Date.valueOf(today.minusYears(50))
    val aliveDob = java.sql.Date.valueOf(LocalDate.of(1910, 9, 30))

    val persons = triples
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + "PrisonerRecord"))
      .select($"subj").distinct()

    val deaths = triples.filter($"pred" === (NS.SCHEMA_POW + "date_of_death"))
      .select($"subj", castDateUdf($"objValue").as("d"))
      .groupBy($"subj").agg(
        max($"d").as("latest_death"),
        max(when($"d".isNull, 1).otherwise(0)).as("death_without_date"),
        count(lit(1)).as("n_death"))

    val dob = triples.filter($"pred" === (NS.SCHEMA_WARSA + "date_of_birth"))
      .groupBy($"subj").agg(min(castDateUdf($"objValue")).as("dob"))

    persons
      .join(deaths, Seq("subj"), "left")
      .join(dob, Seq("subj"), "left")
      .select($"subj",
        when(($"latest_death".isNotNull && $"latest_death" >= lit(cutoff)) ||
             $"death_without_date" === 1, "died_recently")
          .when($"latest_death".isNull &&
                ($"death_without_date".isNull || $"death_without_date" === 0) &&
                $"dob".isNotNull && $"dob" >= lit(aliveDob), "possibly_alive")
          .otherwise("public").as("cls"))
  }

  def prunePersonsReference(triples: DataFrame, endpointNames: DataFrame,
                            today: LocalDate): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    val cls = classifyReference(triples, today)
    val hidden = cls.filter($"cls" =!= "public")
    val alive = cls.filter($"cls" === "possibly_alive")
    val common = Privacy.commonNames(triples, endpointNames)

    val aliveFamily = triples.filter($"pred" === (NS.SCHEMA_WARSA + "family_name"))
      .join(alive.select("subj"), Seq("subj"))
      .join(common.withColumn("is_common", lit(true)),
        $"objValue" === $"family", "left")
      .select($"subj", $"objValue".as("family"),
        coalesce($"is_common", lit(false)).as("is_common"))

    val hideHealth = hidden.select($"subj")
      .crossJoin(spark.createDataset(Privacy.healthPreds).toDF("hpred"))
    val hidePersonal = alive.select($"subj")
      .crossJoin(spark.createDataset(Privacy.personalPreds).toDF("hpred"))
    val hideFamily = aliveFamily.filter(!$"is_common")
      .select($"subj", lit(NS.SCHEMA_WARSA + "family_name").as("hpred"))
    val hideSet = hideHealth.unionByName(hidePersonal).unionByName(hideFamily).distinct()

    val captivityOf = triples.filter($"pred" === (NS.SCHEMA_POW + "captivity"))
      .select($"subj", $"objValue".as("captivity"))
      .join(alive.select("subj"), Seq("subj"))

    val hideCaptivityLabels = captivityOf
      .select($"captivity".as("subj"), lit(NS.SKOS_PREF_LABEL).as("hpred")).distinct()

    val allHides = hideSet.unionByName(hideCaptivityLabels)

    val reifSubj = triples.filter($"pred" === NS.RDF_SUBJECT)
      .select($"subj".as("reif"), $"objValue".as("rs"))
    val reifPred = triples.filter($"pred" === NS.RDF_PREDICATE)
      .select($"subj".as("reif"), $"objValue".as("rp"))
    val hiddenReifs = reifSubj.join(reifPred, "reif")
      .join(hideSet, $"rs" === $"subj" && $"rp" === $"hpred")
      .select($"reif").distinct()

    val hides2 = allHides.select(col("subj").as("hsubj"), col("hpred"))
    val kept = triples
      .join(hides2, triples("subj") === hides2("hsubj") &&
        triples("pred") === hides2("hpred"), "left_anti")
      .join(hiddenReifs, triples("subj") === hiddenReifs("reif"), "left_anti")

    kept.toDF()
      .unionByName(replacements(aliveFamily, captivityOf))
      .unionByName(flags(hidden, alive))
      .dropDuplicates("subj", "pred", "objValue", "objIsUri", "objLang", "objDatatype")
  }

  private def replacements(aliveFamily: DataFrame, captivityOf: DataFrame): DataFrame = {
    val spark = aliveFamily.sparkSession
    import spark.implicits._
    val restricted = "Nimi rajoitettu"

    def mk(df: DataFrame, subjCol: String, pred: String, objCol: Column): DataFrame =
      df.select(col(subjCol).as("subj"), lit(pred).as("pred"),
        objCol.as("objValue"), lit(false).as("objIsUri"),
        lit(null).cast("string").as("objLang"),
        lit(null).cast("string").as("objDatatype"), lit("").as("docId"))

    val uncommon = aliveFamily.filter(!$"is_common").select($"subj").distinct()
    val commonRecs = aliveFamily.filter($"is_common")

    val nameRows =
      mk(uncommon, "subj", NS.SCHEMA_WARSA + "family_name", lit(restricted))
        .unionByName(mk(uncommon, "subj", NS.SKOS_PREF_LABEL, lit(restricted)))
        .unionByName(mk(commonRecs, "subj", NS.SKOS_PREF_LABEL, $"family"))

    val capt = captivityOf
      .join(aliveFamily.select($"subj", $"family", $"is_common"), Seq("subj"), "left")
    val generic = capt.filter(!coalesce($"is_common", lit(false)))
    val named = capt.filter(coalesce($"is_common", lit(false)))
    val captRows =
      mk(generic, "captivity", NS.SKOS_PREF_LABEL, lit("Henkilön sotavankeus"))
        .unionByName(mk(generic, "captivity", NS.SKOS_PREF_LABEL, lit("Person's captivity")))
        .unionByName(mk(named, "captivity", NS.SKOS_PREF_LABEL,
          concat(lit("Henkilön "), $"family", lit(" sotavankeus"))))
        .unionByName(mk(named, "captivity", NS.SKOS_PREF_LABEL,
          concat(lit("Person's "), $"family", lit(" captivity"))))

    nameRows.unionByName(captRows).distinct()
  }

  private def flags(hidden: DataFrame, alive: DataFrame): DataFrame = {
    val spark = hidden.sparkSession
    import spark.implicits._
    def flag(df: DataFrame, pred: String): DataFrame =
      df.select($"subj", lit(pred).as("pred"), lit("true").as("objValue"),
        lit(false).as("objIsUri"), lit(null).cast("string").as("objLang"),
        lit(NS.XSD_BOOLEAN).as("objDatatype"), lit("").as("docId"))
    flag(hidden.select("subj"), NS.SCHEMA_POW + "hide_documents")
      .unionByName(flag(alive.select("subj"), NS.SCHEMA_POW + "personal_information_removed"))
  }

  def prisonerFeaturesReference(triples: DataFrame, ranksGaz: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    val persons = triples
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + "PrisonerRecord"))
      .select($"subj".as("person_uri"), $"docId")
    val pruned = triples
      .filter($"pred" === (NS.SCHEMA_POW + "personal_information_removed"))
      .select($"subj".as("person_uri")).distinct()
    val live = persons.join(pruned, Seq("person_uri"), "left_anti")

    def objsOf(pred: String, name: String): DataFrame =
      triples.filter($"pred" === pred)
        .groupBy($"subj".as("person_uri"))
        .agg(sort_array(collect_set($"objValue")).as(name))

    def firstOf(pred: String, name: String): DataFrame =
      triples.filter($"pred" === pred)
        .groupBy($"subj".as("person_uri")).agg(min($"objValue").as(name))

    def dates(pred: String, minName: String, maxName: String): DataFrame =
      triples.filter($"pred" === pred && $"objDatatype" === NS.XSD_DATE)
        .groupBy($"subj".as("person_uri"))
        .agg(min($"objValue").as(minName), max($"objValue").as(maxName))

    val rankLevels = triples.filter($"pred" === (NS.SCHEMA_POW + "rank"))
      .select($"subj".as("person_uri"), $"objValue".as("rank_uri"))
      .join(broadcast(ranksGaz.select($"uri".as("rank_uri"), $"level")), Seq("rank_uri"))
      .groupBy($"person_uri").agg(max($"level").as("rank_level"))

    live
      .join(firstOf(NS.SCHEMA_WARSA + "given_names", "given"), Seq("person_uri"), "left")
      .join(firstOf(NS.SCHEMA_WARSA + "family_name", "family_raw"), Seq("person_uri"), "left")
      .join(objsOf(NS.SCHEMA_POW + "rank", "rank"), Seq("person_uri"), "left")
      .join(rankLevels, Seq("person_uri"), "left")
      .join(objsOf(NS.SCHEMA_WARSA + "municipality_of_birth", "birth_place"), Seq("person_uri"), "left")
      .join(objsOf(NS.SCHEMA_POW + "municipality_of_death", "death_place"), Seq("person_uri"), "left")
      .join(objsOf(NS.SCHEMA_POW + "unit", "unit"), Seq("person_uri"), "left")
      .join(objsOf(NS.BIOC + "has_occupation", "occupation"), Seq("person_uri"), "left")
      .join(dates(NS.SCHEMA_WARSA + "date_of_birth", "birth_begin", "birth_end"), Seq("person_uri"), "left")
      .join(dates(NS.SCHEMA_POW + "date_of_death", "death_begin", "death_end"), Seq("person_uri"), "left")
      .withColumn("family", regexp_replace($"family_raw", "\\(ent\\.\\s*(.+)\\)", "$1"))
      .withColumn("activity_end", $"death_end")
      .drop("family_raw")
  }

  def remintSubjectsReference(triples: DataFrame, classUri: String,
                              prop1: String, prop2: String, namespace: String): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    val targets = triples
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === classUri)
      .select($"subj").distinct()

    def valueOf(prop: String, alias: String) =
      triples.filter($"pred" === prop && !$"objIsUri")
        .groupBy($"subj").agg(min($"objValue").as(alias))

    val mapping = targets
      .join(valueOf(prop1, "__p1"), Seq("subj"), "left")
      .join(valueOf(prop2, "__p2"), Seq("subj"), "left")
      .select($"subj",
        concat(lit(namespace),
          Normalize.slugifyCol(coalesce($"__p1", $"__p2", lit("unknown"))))
          .as("new_subj"))

    triples.join(broadcast(mapping), Seq("subj"), "left")
      .select(coalesce($"new_subj", $"subj").as("subj"),
        $"pred", $"objValue", $"objIsUri", $"objLang", $"objDatatype", $"docId")
      .dropDuplicates("subj", "pred", "objValue", "objIsUri", "objLang", "objDatatype")
  }

  def docPeriodsReference(triples: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val capture = triples
      .filter($"pred" === (NS.SCHEMA_POW + "date_of_capture"))
      .select($"docId", $"objValue", $"objDatatype")
      .withColumn("d",
        when($"objDatatype" === NS.XSD_DATE, to_date($"objValue")))
    val winterFromDate = capture.filter($"d".isNotNull)
      .groupBy($"docId").agg(min($"d").as("mind"))
      .select($"docId",
        when($"mind" < lit("1941-06-24").cast("date"),
          lit(NS.EVENTS + "WinterWar")).otherwise(lit(NS.EVENTS + "ContinuationWar"))
          .as("period_uri"))
    val wwc = triples.filter($"pred" === (NS.SCHEMA_POW + "winter_war_collection"))
      .select($"docId").distinct()
      .join(winterFromDate.select($"docId"), Seq("docId"), "left_anti")
      .select($"docId", lit(NS.EVENTS + "WinterWar").as("period_uri"))
    winterFromDate.unionByName(wwc)
  }

  private val Conflicts = "http://ldf.fi/warsa/conflicts/"

  def relatedPeriodsReference(triples: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val persons = triples
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + "PrisonerRecord"))
      .select($"subj", $"docId")

    val capture = triples.filter($"pred" === (NS.SCHEMA_POW + "date_of_capture"))
      .select($"subj", $"objValue", $"objDatatype")
    val wwcSubjects = triples
      .filter($"pred" === (NS.SCHEMA_POW + "winter_war_collection"))
      .select($"subj").distinct()

    // block 1: one war per parseable capture value
    val dated = capture.filter($"objDatatype" === NS.XSD_DATE)
      .select($"subj",
        when($"objValue" < "1941-06-24", lit(Conflicts + "WinterWar"))
          .otherwise(lit(Conflicts + "ContinuationWar")).as("war"))

    // block 2, rows with a capture literal: per-value winter-first cascade
    val undatedWar = capture
      .filter($"objDatatype".isNull || $"objDatatype" =!= NS.XSD_DATE)
      .select($"subj",
        when(lower($"objValue").rlike("talvisota|39|40"), lit(Conflicts + "WinterWar"))
          .when(lower($"objValue").rlike("(4[12345])|jatkosota"), lit(Conflicts + "ContinuationWar"))
          .as("war"))
    val undatedResolved = undatedWar.filter($"war".isNotNull)
    val undatedWwc = undatedWar.filter($"war".isNull)
      .join(wwcSubjects, Seq("subj"), "left_semi")
      .select($"subj", lit(Conflicts + "WinterWar").as("war"))

    // block 2, rows with NO capture literal: info fallback with
    // RECORD-level winter precedence. SPARQL algebra (period.sparql:35-48):
    // the left side entering the info OPTIONALs is ONE solution row per
    // no-capture subject with ?date/?war unbound, so
    //  - the winter-info OPTIONAL's group keeps only regex-MATCHING info
    //    values (the FILTER is inside the OPTIONAL — a non-matching
    //    sibling value never yields a solution row); if any match, the
    //    single left row expands to one row PER matching value, each with
    //    ?war=WinterWar bound;
    //  - the continuation-info OPTIONAL then finds ?war already bound on
    //    every row (incompatible with its ContinuationWar BIND), so it can
    //    fire only when NO info value matched winter;
    //  - the wwc OPTIONAL fires only when NO info value matched either
    //    regex (or the subject has no info triples at all) — never on a
    //    "sibling row" of a match, because non-matching values produce no
    //    rows.
    // (Round 3 had a per-VALUE wwc here — a record with info values
    // "palasi 1944" + "ei tietoa" + wwc wrongly gained WinterWar; Jena
    // emits only ContinuationWar. Round-4 advice item, reverted.)
    val noCapture = persons.select($"subj")
      .join(capture.select($"subj").distinct(), Seq("subj"), "left_anti")
    val infoClass = triples.filter($"pred" === (NS.SCHEMA_POW + "additional_information"))
      .join(noCapture, Seq("subj"), "left_semi")
      .groupBy($"subj")
      .agg(
        max(when($"objValue".rlike("19(39|40)"), 1).otherwise(0)).as("has_w"),
        max(when($"objValue".rlike("194[12345]"), 1).otherwise(0)).as("has_c"))
    val infoResolved = infoClass
      .select($"subj",
        when($"has_w" === 1, lit(Conflicts + "WinterWar"))
          .when($"has_c" === 1, lit(Conflicts + "ContinuationWar"))
          .as("war"))
      .filter($"war".isNotNull)
    val infoUnbound = infoClass.filter($"has_w" === 0 && $"has_c" === 0).select($"subj")
      .unionByName(noCapture
        .join(infoClass.select($"subj"), Seq("subj"), "left_anti")
        .select($"subj"))
    val noCaptureWwc = infoUnbound
      .join(wwcSubjects, Seq("subj"), "left_semi")
      .select($"subj", lit(Conflicts + "WinterWar").as("war"))

    dated.unionByName(undatedResolved).unionByName(undatedWwc)
      .unionByName(infoResolved).unionByName(noCaptureWwc)
      .distinct()
      .join(persons, Seq("subj"))
      .select($"subj", lit(NS.SCHEMA_WARSA + "events/related_period").as("pred"),
        $"war".as("objValue"), lit(true).as("objIsUri"),
        lit(null).cast("string").as("objLang"),
        lit(null).cast("string").as("objDatatype"), $"docId")
  }
}
