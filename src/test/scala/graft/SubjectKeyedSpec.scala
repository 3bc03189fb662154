package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.erlink.RecordLinkage
import graft.events.Events
import graft.extract.CampConversion
import graft.gazetteer.Gazetteers
import graft.link.Linkers
import graft.model.NS
import graft.privacy.Privacy

/** The subject-keyed one-pass frames ≡ their per-predicate multi-join
  * references ([[SubjectKeyedReference]]): `exceptAll` both ways, so
  * duplicates, null-vs-empty fields and column order all count. Checked
  * on the extracted sf0.001 corpus and on an edge fixture. */
class SubjectKeyedSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._
  import SubjectKeyedReference._

  private val today = java.time.LocalDate.of(2026, 8, 16)

  // the extracted sf0.001 corpus
  private lazy val corpus = SparkEntry.entry(spark).cache()

  private def assertSame(got0: DataFrame, want0: DataFrame, what: String): Unit = {
    assert(got0.columns.toSeq == want0.columns.toSeq, s"$what: column order")
    assert(got0.schema == want0.schema, s"$what: ${got0.schema} vs ${want0.schema}")
    // fresh relations: both sides derive from the same input, and
    // exceptAll over shared attribute lineage fails attribute binding
    def fresh(df: DataFrame) = spark.createDataFrame(df.rdd, df.schema)
    val (got, want) = (fresh(got0), fresh(want0))
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: extra ${extra.take(5).mkString(", ")}; missing ${missing.take(5).mkString(", ")}")
  }

  private def t(s: String, p: String, o: String, uri: Boolean = false,
                dt: String = null, doc: String = "d") =
    (s, p, o, uri, null: String, dt, doc)
  private def triples(rows: (String, String, String, Boolean, String, String, String)*) =
    rows.toDF("subj", "pred", "objValue", "objIsUri", "objLang", "objDatatype", "docId")

  private val W = NS.SCHEMA_WARSA
  private val P = NS.SCHEMA_POW
  private val Record = W + "PrisonerRecord"
  private def rec(s: String) = t(s, NS.RDF_TYPE, Record, uri = true, doc = s)

  /** The edge cases the classification, hide and replacement rules meet. */
  private lazy val privacyFixture = triples(
    // two death dates, one unparseable → died recently
    rec("twoDeaths"),
    t("twoDeaths", P + "date_of_death", "1.1.1990"),
    t("twoDeaths", P + "date_of_death", "tuntematon"),
    t("twoDeaths", P + "cause_of_death", "haava"),
    t("twoDeaths", W + "given_names", "Eino"),
    // no date of birth → public
    rec("noDob"),
    t("noDob", W + "given_names", "Toivo"),
    t("noDob", P + "cause_of_death", "tauti"),
    // possibly alive: one common and one uncommon family name, a captivity
    rec("alive"),
    t("alive", W + "date_of_birth", "1.2.1930"),
    t("alive", W + "family_name", "Virtanen"),
    t("alive", W + "family_name", "Xyzzy"),
    t("alive", W + "given_names", "Matti"),
    t("alive", NS.SKOS_PREF_LABEL, "Matti Virtanen"),
    t("alive", P + "captivity", "alive_capt", uri = true),
    t("alive", P + "additional_information", "lisätieto"),
    t("alive_capt", NS.SKOS_PREF_LABEL, "Matti Virtanen sotavankeus"),
    t("alive_capt", P + "location_literal", "74"),
    // possibly alive with only a common name; and with no family name
    rec("aliveCommon"),
    t("aliveCommon", W + "date_of_birth", "1935"),
    t("aliveCommon", W + "family_name", "Virtanen"),
    t("aliveCommon", P + "captivity", "common_capt", uri = true),
    t("common_capt", NS.SKOS_PREF_LABEL, "Virtanen sotavankeus"),
    rec("aliveNoFamily"),
    t("aliveNoFamily", W + "date_of_birth", "3.3.1940"),
    t("aliveNoFamily", P + "captivity", "nofam_capt", uri = true),
    t("nofam_capt", NS.SKOS_PREF_LABEL, "sotavankeus"),
    // a hidden statement's reification
    t("reifHidden", NS.RDF_TYPE, NS.RDF_STATEMENT, uri = true),
    t("reifHidden", NS.RDF_SUBJECT, "alive", uri = true),
    t("reifHidden", NS.RDF_PREDICATE, W + "given_names", uri = true),
    t("reifHidden", NS.RDF_OBJECT, "Matti"),
    t("reifHidden", NS.DCT_SOURCE, "kortisto"),
    // a reification node with two rdf:subject values, one of them hidden
    t("reifTwo", NS.RDF_SUBJECT, "noDob", uri = true),
    t("reifTwo", NS.RDF_SUBJECT, "alive", uri = true),
    t("reifTwo", NS.RDF_PREDICATE, W + "given_names", uri = true),
    t("reifTwo", NS.DCT_SOURCE, "kortisto"),
    // a public record's reification stays
    t("reifPublic", NS.RDF_SUBJECT, "noDob", uri = true),
    t("reifPublic", NS.RDF_PREDICATE, W + "given_names", uri = true),
    t("reifPublic", NS.DCT_SOURCE, "kortisto"),
    // a person with no rank, unit or places
    rec("bare"))
  private lazy val endpoint = Seq(("Virtanen", 5L), ("Xyzzy", 1L)).toDF("fam", "count")

  test("privacy classify ≡ reference (corpus + edge fixture)") {
    for (tr <- Seq(corpus, privacyFixture))
      assertSame(Privacy.classify(tr, today), classifyReference(tr, today), "classify")
    val cls = Privacy.classify(privacyFixture, today).as[(String, String)].collect().toMap
    assert(cls == Map("twoDeaths" -> "died_recently", "noDob" -> "public",
      "alive" -> "possibly_alive", "aliveCommon" -> "possibly_alive",
      "aliveNoFamily" -> "possibly_alive", "bare" -> "public"), cls)
  }

  test("privacy prunePersons ≡ reference (corpus + edge fixture)") {
    val corpusEndpoint = Gazetteers.casualtiesNameCounts(spark)
    assertSame(Privacy.prunePersons(corpus, corpusEndpoint, today),
      prunePersonsReference(corpus, corpusEndpoint, today), "prunePersons corpus")
    val pruned = Privacy.prunePersons(privacyFixture, endpoint, today)
    assertSame(pruned, prunePersonsReference(privacyFixture, endpoint, today),
      "prunePersons fixture")
    // the fixture reaches every rule it was built for
    val subjects = pruned.select("subj").distinct().as[String].collect().toSet
    assert(!subjects("reifHidden") && !subjects("reifTwo") && subjects("reifPublic"))
    val labels = pruned.filter($"pred" === NS.SKOS_PREF_LABEL)
      .select("subj", "objValue").as[(String, String)].collect().toSet
    assert(labels(("alive_capt", "Henkilön Virtanen sotavankeus")) &&
      labels(("alive_capt", "Person's captivity")) &&
      labels(("common_capt", "Person's Virtanen captivity")) &&
      !labels(("common_capt", "Person's captivity")) &&
      labels(("nofam_capt", "Henkilön sotavankeus")), labels)
  }

  test("record-linkage features ≡ reference (corpus + edge fixture); no value stays null") {
    val corpusLinked = corpus
      .unionByName(Linkers.linkRanks(corpus, Gazetteers.ranks(spark)))
      .unionByName(Linkers.linkMunicipalities(corpus, Gazetteers.municipalities(spark)))
      .unionByName(Linkers.linkOccupations(corpus, Gazetteers.occupations(spark)))
    assertSame(RecordLinkage.prisonerFeatures(corpusLinked, Gazetteers.ranks(spark)),
      prisonerFeaturesReference(corpusLinked, Gazetteers.ranks(spark)), "features corpus")

    val ranks = Seq(("rank:a", 3), ("rank:b", 5)).toDF("uri", "level")
    val fixture = privacyFixture.unionByName(triples(
      rec("full"),
      t("full", W + "given_names", "Aku"),
      t("full", W + "given_names", "Aapo"),
      t("full", W + "family_name", "Heino (ent. Kalmari)"),
      t("full", P + "rank", "rank:a", uri = true),
      t("full", P + "rank", "rank:b", uri = true),
      t("full", P + "rank", "rank:unknown", uri = true),
      t("full", W + "municipality_of_birth", "mun:2", uri = true),
      t("full", W + "municipality_of_birth", "mun:1", uri = true),
      t("full", P + "municipality_of_death", "mun:3", uri = true),
      t("full", P + "unit", "unit:1", uri = true),
      t("full", NS.BIOC + "has_occupation", "occ:1", uri = true),
      t("full", W + "date_of_birth", "1915-02-01", dt = NS.XSD_DATE),
      t("full", W + "date_of_birth", "1915-01-01", dt = NS.XSD_DATE),
      t("full", W + "date_of_birth", "1.1.1916"),
      t("full", P + "date_of_death", "1942-05-05", dt = NS.XSD_DATE),
      rec("onlyUnknownRank"),
      t("onlyUnknownRank", P + "rank", "rank:unknown", uri = true),
      rec("removed"),
      t("removed", W + "given_names", "Pois"),
      t("removed", P + "personal_information_removed", "true", dt = NS.XSD_BOOLEAN)))
    for (tr <- Seq(fixture, Privacy.prunePersons(fixture, endpoint, today)))
      assertSame(RecordLinkage.prisonerFeatures(tr, ranks),
        prisonerFeaturesReference(tr, ranks), "features fixture")
    val bare = RecordLinkage.prisonerFeatures(fixture, ranks).filter($"person_uri" === "bare")
      .select("rank", "rank_level", "unit", "birth_place", "death_place", "occupation")
      .collect().head
    assert((0 until bare.length).forall(bare.isNullAt), s"bare person: $bare")
  }

  test("camp subject re-minting ≡ reference (camp registry + corpus + edge fixture)") {
    val cls = W + "PowCamp"
    val fixture = triples(
      t("both", NS.RDF_TYPE, cls, uri = true),
      t("both", P + "camp_id", "74"),
      t("both", P + "camp_id", "12"),
      t("both", P + "captivity_location", "Oranki"),
      t("second", NS.RDF_TYPE, cls, uri = true),
      t("second", P + "camp_id", "urn:camp", uri = true),
      t("second", P + "captivity_location", "Vienan Kemi"),
      t("neither", NS.RDF_TYPE, cls, uri = true),
      t("neither", P + "note", "x"),
      t("other", P + "camp_id", "99"),
      t("same1", NS.RDF_TYPE, cls, uri = true),
      t("same1", P + "camp_id", "5"),
      t("same2", NS.RDF_TYPE, cls, uri = true),
      t("same2", P + "camp_id", "5"))
    val args = (P + "camp_id", P + "captivity_location", NS.DATA + "camp_")
    for ((tr, c) <- Seq((Gazetteers.rawCampTriples(spark), cls),
                        (Gazetteers.rawCampTriples(spark), W + "PowHospital"),
                        (corpus, Record), (fixture, cls)))
      assertSame(CampConversion.remintSubjects(tr, c, args._1, args._2, args._3),
        remintSubjectsReference(tr, c, args._1, args._2, args._3), s"remint $c")
  }

  test("war periods per document ≡ reference (corpus + edge fixture)") {
    val cap = P + "date_of_capture"
    val wwc = P + "winter_war_collection"
    val fixture = triples(
      t("a", cap, "1940-01-05", dt = NS.XSD_DATE, doc = "winter"),
      t("a", cap, "1942-01-05", dt = NS.XSD_DATE, doc = "winter"),
      t("b", cap, "1942-01-05", dt = NS.XSD_DATE, doc = "continuation"),
      t("c", cap, "5.1.1942", doc = "untypedWithCollection"),
      t("c", wwc, "true", doc = "untypedWithCollection"),
      t("d", wwc, "true", doc = "continuationWithCollection"),
      t("d", cap, "1943-01-05", dt = NS.XSD_DATE, doc = "continuationWithCollection"),
      t("e", cap, "5.1.1942", doc = "untypedOnly"),
      t("f", P + "note", "x", doc = "nothing"))
    for (tr <- Seq(corpus, fixture))
      assertSame(Linkers.docPeriods(tr), docPeriodsReference(tr), "docPeriods")
    val periods = Linkers.docPeriods(fixture).as[(String, String)].collect().toMap
    assert(periods == Map(
      "winter" -> (NS.EVENTS + "WinterWar"),
      "continuation" -> (NS.EVENTS + "ContinuationWar"),
      "untypedWithCollection" -> (NS.EVENTS + "WinterWar"),
      "continuationWithCollection" -> (NS.EVENTS + "ContinuationWar")), periods)
  }

  test("related periods per record ≡ reference (corpus + edge fixture)") {
    val cap = P + "date_of_capture"
    val info = P + "additional_information"
    val wwc = P + "winter_war_collection"
    def dated(s: String, d: String) = t(s, cap, d, dt = NS.XSD_DATE, doc = s)
    val fixture = triples(
      rec("twoDated"), dated("twoDated", "1940-01-05"), dated("twoDated", "1942-01-05"),
      rec("datedWwc"), dated("datedWwc", "1942-01-05"), t("datedWwc", wwc, "true"),
      rec("undatedBoth"), t("undatedBoth", cap, "Talvisota 40-41"),
      rec("undatedContinuation"), t("undatedContinuation", cap, "kesä 1942"),
      rec("unmatchedWwc"), t("unmatchedWwc", cap, "tuntematon"), t("unmatchedWwc", wwc, "true"),
      rec("unmatched"), t("unmatched", cap, "tuntematon"),
      rec("infoBoth"), t("infoBoth", info, "palasi 1940"), t("infoBoth", info, "1944"),
      rec("infoContinuation"), t("infoContinuation", info, "1944"), t("infoContinuation", wwc, "true"),
      rec("infoNoneWwc"), t("infoNoneWwc", info, "ei tietoa"), t("infoNoneWwc", wwc, "true"),
      rec("onlyWwc"), t("onlyWwc", wwc, "true"),
      rec("nothing"),
      dated("notARecord", "1940-01-05"))
    for (tr <- Seq(corpus, fixture))
      assertSame(Events.relatedPeriods(tr), relatedPeriodsReference(tr), "relatedPeriods")
    val W = "http://ldf.fi/warsa/conflicts/WinterWar"
    val C = "http://ldf.fi/warsa/conflicts/ContinuationWar"
    val got = Events.relatedPeriods(fixture).select("subj", "objValue").as[(String, String)]
      .collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(got == Map("twoDated" -> Set(W, C), "datedWwc" -> Set(C), "undatedBoth" -> Set(W),
      "undatedContinuation" -> Set(C), "unmatchedWwc" -> Set(W), "infoBoth" -> Set(W),
      "infoContinuation" -> Set(C), "infoNoneWwc" -> Set(W), "onlyWwc" -> Set(W)), got)
  }
}
