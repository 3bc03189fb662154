package graft.privacy

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Converters
import graft.model.NS

/** Pseudonymization — port of the reference's prune_nonpublic.py:
  * classify each person record as public / died-recently / possibly-alive,
  * hide health information for the latter two, hide personal information
  * for possibly-alive records (family name survives only when "common"),
  * and redact captivity labels. Records are REDACTED, never dropped —
  * the reference's own test asserts subject-set preservation
  * (src/tests.py:117-129).
  *
  * Spark shape: one `groupBy(subj)` over the rows of seven predicates
  * builds a profile per subject — the classification dates, the family
  * names (each tagged common/uncommon by a broadcast join before the
  * aggregate), the captivity resources, and a reification node's
  * rdf:subject / rdf:predicate sets. Everything else derives from that one
  * shuffle: a per-subject decision frame (health, personal, family,
  * reification and captivity-label flags) applied to the triples with a
  * single left join plus a predicate, and the replacement and flag
  * triples as projections of the person rows. The reification cascade
  * (remove a triple ⇒ remove its reification node with all 5 of its
  * triples, prune_nonpublic.py:65-78) is one join from reification nodes
  * to the person rows of their rdf:subject values.
  */
object Privacy {

  private val castDateUdf = udf(Converters.castDateLenient _)

  private val PrisonerRecord = NS.SCHEMA_WARSA + "PrisonerRecord"
  private val DateOfDeath = NS.SCHEMA_POW + "date_of_death"
  private val DateOfBirth = NS.SCHEMA_WARSA + "date_of_birth"
  private val FamilyName = NS.SCHEMA_WARSA + "family_name"
  private val Captivity = NS.SCHEMA_POW + "captivity"

  val healthPreds: Seq[String] = Seq(
    NS.SCHEMA_POW + "cause_of_death",
    NS.SCHEMA_POW + "additional_information")

  /** prune_nonpublic.py:97-114 — predicates hidden for possibly-alive. */
  val personalPreds: Seq[String] = Seq(
    NS.SCHEMA_WARSA + "given_names",
    NS.SCHEMA_POW + "original_name",
    NS.SKOS_PREF_LABEL,
    NS.SCHEMA_WARSA + "date_of_birth",
    NS.SCHEMA_WARSA + "municipality_of_birth_literal",
    NS.SCHEMA_POW + "municipality_of_domicile_literal",
    NS.SCHEMA_POW + "municipality_of_residence_literal",
    NS.SCHEMA_POW + "municipality_of_death_literal",
    NS.SCHEMA_POW + "date_of_going_mia",
    NS.SCHEMA_POW + "place_of_going_mia_literal",
    NS.SCHEMA_POW + "date_of_capture",
    NS.SCHEMA_POW + "description_of_capture",
    NS.SCHEMA_POW + "date_of_return",
    NS.SCHEMA_POW + "date_of_death",
    NS.SCHEMA_POW + "photograph",
    NS.SCHEMA_POW + "radio_report",
    NS.SCHEMA_POW + "finnish_return_interrogation_file",
    NS.SCHEMA_POW + "recording")

  /** Person classification (prune_nonpublic.py:194-215).
    * Returns (subj, cls) with cls ∈ {public, died_recently, possibly_alive}.
    * `today` has NO default on purpose: the cutoff is a run input that must
    * come from the pipeline's pinned run date (SnapshotStore.pinRunDate) —
    * a wall-clock default would make a resume across midnight classify
    * differently than the run it resumes. */
  def classify(triples: DataFrame, today: LocalDate): DataFrame =
    profiles(triples.filter(col("pred").isin(NS.RDF_TYPE, DateOfDeath, DateOfBirth)), today)
      .filter(col("is_person"))
      .select(col("subj"), col("cls"))

  /** One row per subject of `rows`: `is_person`, the classification dates
    * and `cls` (meaningful on person rows), plus the `extra` aggregates.
    * A death date that does not parse makes the record died-recently; the
    * latest parsed one decides otherwise (prune_nonpublic.py:204). */
  private def profiles(rows: DataFrame, today: LocalDate, extra: Column*): DataFrame = {
    val cutoff = java.sql.Date.valueOf(today.minusYears(50))
    val aliveDob = java.sql.Date.valueOf(LocalDate.of(1910, 9, 30))
    val pred = col("pred")
    val d = col("d")
    val aggs = Seq(
      max(when(pred === NS.RDF_TYPE && col("objValue") === PrisonerRecord, true)).as("is_person"),
      max(when(pred === DateOfDeath, d)).as("latest_death"),
      max(when(pred === DateOfDeath, d.isNull)).as("death_without_date"),
      min(when(pred === DateOfBirth, d)).as("dob")) ++ extra
    rows
      .withColumn("d", when(pred.isin(DateOfDeath, DateOfBirth), castDateUdf(col("objValue"))))
      .groupBy(col("subj")).agg(aggs.head, aggs.tail: _*)
      .withColumn("cls",
        when(col("latest_death") >= lit(cutoff) || col("death_without_date"), "died_recently")
          .when(col("latest_death").isNull && !coalesce(col("death_without_date"), lit(false)) &&
                col("dob") >= lit(aliveDob), "possibly_alive")
          .otherwise("public"))
  }

  /** Common family names: endpoint count >= 2 AND endpoint+local >= 4
    * (prune_nonpublic.py:149-175). `endpointNames` plays the WarSampo
    * SPARQL role: (family, count). */
  def commonNames(triples: DataFrame, endpointNames: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val local = triples.filter($"pred" === (NS.SCHEMA_WARSA + "family_name"))
      .groupBy($"objValue".as("family")).agg(count(lit(1)).as("n_local"))
    endpointNames.filter($"count" >= 2)
      .join(local, $"family" === $"fam", "left")
      .na.fill(Map("n_local" -> 0))
      .filter($"count" + $"n_local" >= 4)
      .select($"fam".as("family"))
  }

  /** Does a person with these flags hide its triples of `pred`? The
    * health predicates for every non-public record, the personal ones for
    * possibly-alive records, and the family name of a possibly-alive
    * record that has an uncommon one (prune_nonpublic.py:97-114,149-175). */
  private def hides(pred: Column, hidden: Column, alive: Column, anyUncommon: Column): Column =
    (hidden && pred.isin(healthPreds: _*)) ||
      (alive && (pred.isin(personalPreds: _*) || (anyUncommon && pred === FamilyName)))

  /** Full pruning pass. Returns the redacted triple set. `today` must be
    * the pinned run date — no wall-clock default (see [[classify]]). */
  def prunePersons(triples: DataFrame, endpointNames: DataFrame,
                   today: LocalDate): DataFrame = {
    val pred = col("pred")
    val obj = col("objValue")

    // family-name rows learn their commonness before the aggregate, so the
    // profile carries it; the common-name set is surname-sized (a
    // dimension), hence broadcast
    val common = broadcast(commonNames(triples, endpointNames)
      .select(col("family").as("common_family"), lit(true).as("is_common")))
    val rows = triples
      .filter(pred.isin(NS.RDF_TYPE, DateOfDeath, DateOfBirth, FamilyName, Captivity,
        NS.RDF_SUBJECT, NS.RDF_PREDICATE))
      .join(common, pred === FamilyName && obj === col("common_family"), "left")
    def setOf(p: Column) = collect_set(when(p, obj))
    // every frame below derives from this one; left lazy, column pruning
    // would give each consumer its own trimmed copy of the aggregate — a
    // separate shuffle that exchange reuse cannot share — so the person
    // and reification-node rows are materialized once
    val profile = profiles(rows, today,
      max(when(pred === FamilyName, col("is_common").isNull)).as("any_uncommon"),
      setOf(pred === FamilyName && col("is_common")).as("common_families"),
      setOf(pred === Captivity).as("captivities"),
      setOf(pred === NS.RDF_SUBJECT).as("rsubjs"),
      setOf(pred === NS.RDF_PREDICATE).as("rpreds"))
      .filter(col("is_person") || size(col("rpreds")) > 0)
      .localCheckpoint()

    val persons = profile.filter(col("is_person")).select(col("subj"),
      (col("cls") =!= "public").as("hidden"), // health hidden for both
      (col("cls") === "possibly_alive").as("alive"),
      coalesce(col("any_uncommon"), lit(false)).as("any_uncommon"),
      col("common_families"), col("captivities"))
    val hidden = persons.filter(col("hidden"))
    val alive = persons.filter(col("alive"))

    // ---- per-subject decision frame --------------------------------------
    // a reification node goes when ANY of its (rdf:subject, rdf:predicate)
    // pairs is a hidden statement of a person
    val hiddenReifs = profile.filter(size(col("rpreds")) > 0)
      .select(col("subj").as("reif"), explode(col("rsubjs")).as("rs"), col("rpreds"))
      .join(hidden.select(col("subj").as("rs"), col("hidden"), col("alive"), col("any_uncommon")), "rs")
      .filter(exists(col("rpreds"), hides(_, col("hidden"), col("alive"), col("any_uncommon"))))
      .select(col("reif").as("subj"), lit(true).as("reif"))
    // the labels of a possibly-alive record's captivity resources go
    val captivityLabels = alive.select(explode(col("captivities")).as("subj"),
      lit(true).as("captivity"))
    // a flag a row does not carry is null, which the filter below reads as
    // "keep"
    val decisions = hidden.select("subj", "hidden", "alive", "any_uncommon")
      .unionByName(hiddenReifs, allowMissingColumns = true)
      .unionByName(captivityLabels, allowMissingColumns = true)
      .groupBy(col("subj")).agg(max("hidden").as("hidden"), max("alive").as("alive"),
        max("any_uncommon").as("any_uncommon"), max("reif").as("reif"),
        max("captivity").as("captivity"))

    val kept = triples.join(decisions, Seq("subj"), "left")
      .filter(!coalesce(
        hides(pred, col("hidden"), col("alive"), col("any_uncommon")) || col("reif") ||
          (col("captivity") && pred === NS.SKOS_PREF_LABEL),
        lit(false)))
      .select(triples.columns.toIndexedSeq.map(col): _*)

    kept
      .unionByName(replacements(alive))
      .unionByName(flag(hidden, NS.SCHEMA_POW + "hide_documents"))
      .unionByName(flag(alive, NS.SCHEMA_POW + "personal_information_removed"))
      .dropDuplicates("subj", "pred", "objValue", "objIsUri", "objLang", "objDatatype")
  }

  /** A literal triple per row of `df`, with no language tag and docId "". */
  private def literal(df: DataFrame, subj: Column, pred: String, obj: Column,
                      datatype: String = null): DataFrame =
    df.select(subj.as("subj"), lit(pred).as("pred"), obj.as("objValue"),
      lit(false).as("objIsUri"), lit(null).cast("string").as("objLang"),
      lit(datatype).cast("string").as("objDatatype"), lit("").as("docId"))

  // replacement label triples (prune_nonpublic.py:118-141): a record with
  // an uncommon family name gets the restricted name; each common family
  // name of a record survives as its label and names its captivities,
  // which otherwise (an uncommon or no family name) get the generic label
  private def replacements(alive: DataFrame): DataFrame = {
    val restricted = lit("Nimi rajoitettu")
    val uncommon = alive.filter(col("any_uncommon"))
    val commonLabels = alive.select(col("subj"), explode(col("common_families")).as("family"))
    val capt = alive.select(explode(col("captivities")).as("subj"),
      col("any_uncommon"), col("common_families"))
    val generic = capt.filter(col("any_uncommon") || size(col("common_families")) === 0)
    val named = capt.select(col("subj"), explode(col("common_families")).as("family"))
    val family = col("family")
    Seq(
      literal(uncommon, col("subj"), FamilyName, restricted),
      literal(uncommon, col("subj"), NS.SKOS_PREF_LABEL, restricted),
      literal(commonLabels, col("subj"), NS.SKOS_PREF_LABEL, family),
      literal(generic, col("subj"), NS.SKOS_PREF_LABEL, lit("Henkilön sotavankeus")),
      literal(generic, col("subj"), NS.SKOS_PREF_LABEL, lit("Person's captivity")),
      literal(named, col("subj"), NS.SKOS_PREF_LABEL,
        concat(lit("Henkilön "), family, lit(" sotavankeus"))),
      literal(named, col("subj"), NS.SKOS_PREF_LABEL,
        concat(lit("Person's "), family, lit(" captivity")))
    ).reduce(_ unionByName _)
  }

  // hide_documents / personal_information_removed flags
  // (prune_nonpublic.py:222,144)
  private def flag(persons: DataFrame, pred: String): DataFrame =
    literal(persons, col("subj"), pred, lit("true"), NS.XSD_BOOLEAN)
}
