package graft.erlink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.link.Normalize
import graft.model.NS

/** Probabilistic person record linkage (SURVEY.md §2.4 J9) — the Spark-
  * native replacement for the reference's `dedupe`-based active-learning
  * matcher (src/linker.py:174-210): same 13-field feature space
  * (linker.py:175-189), deterministic blocking + scoring instead of a
  * learned model (the reference itself pins seeds for determinism,
  * linker.py:193-194).
  *
  * Scale design (north rule): candidate generation is blocking-key
  * equi-joins, never a cross join; hot blocks (common family names —
  * exactly the skew the common-name rule of prune_nonpublic.py:149-175
  * exists for) are salted: the key becomes (key, pmod(hash(id), S)) on the
  * big side with the small side exploded ×S, bounding any single reduce
  * task at |block|/S.
  */
object RecordLinkage {

  /** Feature extraction: triples → one row per PrisonerRecord with the
    * linker.py:104-158 fields. Pruned persons are skipped (P5).
    *
    * One `groupBy(subj)` with conditional aggregates over the rows of the
    * feature predicates; rank levels join (broadcast gazetteer) onto the
    * rank rows before it. A person without a value of a multi-valued
    * field keeps a null field, not an empty array. */
  def prisonerFeatures(triples: DataFrame, ranksGaz: DataFrame): DataFrame = {
    val pred = col("pred")
    val obj = col("objValue")
    val isRecord = pred === NS.RDF_TYPE && obj === (NS.SCHEMA_WARSA + "PrisonerRecord")
    val Removed = NS.SCHEMA_POW + "personal_information_removed"
    val Given = NS.SCHEMA_WARSA + "given_names"
    val Family = NS.SCHEMA_WARSA + "family_name"
    val Rank = NS.SCHEMA_POW + "rank"
    val BirthPlace = NS.SCHEMA_WARSA + "municipality_of_birth"
    val DeathPlace = NS.SCHEMA_POW + "municipality_of_death"
    val Unit = NS.SCHEMA_POW + "unit"
    val Occupation = NS.BIOC + "has_occupation"
    val Birth = NS.SCHEMA_WARSA + "date_of_birth"
    val Death = NS.SCHEMA_POW + "date_of_death"

    def first(p: String) = min(when(pred === p, obj))
    def objs(p: String) = {
      val set = collect_set(when(pred === p, obj))
      when(size(set) > 0, sort_array(set))
    }
    // date fields: only typed xsd:date values carry into min/max folding
    // (get_date_value analogue — strings fold out as nulls)
    def date(p: String) = when(pred === p && col("objDatatype") === NS.XSD_DATE, obj)

    val levels = broadcast(ranksGaz.select(col("uri").as("rank_uri"), col("level")))
    triples
      .filter(pred.isin(NS.RDF_TYPE, Removed, Given, Family, Rank, BirthPlace, DeathPlace, Unit,
        Occupation, Birth, Death))
      .join(levels, pred === Rank && obj === col("rank_uri"), "left")
      .groupBy(col("subj").as("person_uri")).agg(
        max(when(isRecord, true)).as("is_person"),
        max(when(pred === Removed, true)).as("removed"),
        min(when(isRecord, col("docId"))).as("docId"),
        first(Given).as("given"),
        first(Family).as("family_raw"),
        objs(Rank).as("rank"),
        max(when(pred === Rank, col("level"))).as("rank_level"),
        objs(BirthPlace).as("birth_place"),
        objs(DeathPlace).as("death_place"),
        objs(Unit).as("unit"),
        objs(Occupation).as("occupation"),
        min(date(Birth)).as("birth_begin"), max(date(Birth)).as("birth_end"),
        min(date(Death)).as("death_begin"), max(date(Death)).as("death_end"))
      .filter(col("is_person") && col("removed").isNull)
      .select(col("person_uri"), col("docId"), col("given"), col("rank"), col("rank_level"),
        col("birth_place"), col("death_place"), col("unit"), col("occupation"),
        col("birth_begin"), col("birth_end"), col("death_begin"), col("death_end"),
        // previous-name unification: "Heino (ent. Kalmari)" -> "Heino Kalmari"
        // (linker.py:143)
        regexp_replace(col("family_raw"), "\\(ent\\.\\s*(.+)\\)", "$1").as("family"),
        col("death_end").as("activity_end"))
  }

  /** Blocking keys for one side: composite conjunction blocks
    * (family+given) ∪ (family+birth-year) — the dedupe library the
    * reference delegates to learns conjunctive blocking predicates of
    * exactly this shape; single-attribute blocks (family alone) put every
    * bearer of a common surname in one block, which is the hot-key blowup
    * the salt only mitigates. A candidate that can reach the acceptance
    * threshold must agree on family AND (given or birth window), so these
    * blocks keep threshold-recall while cutting the pair count ~20×. */
  private def blockKeys(df: DataFrame, idCol: String, familyCol: String,
                        givenCol: String, birthCol: String): DataFrame = {
    val famGiven = df.select(col(idCol).as("bid"),
      concat(lit("fg:"), Normalize.fold(col(familyCol)), lit("|"),
        Normalize.fold(col(givenCol))).as("bkey"))
      .filter(col(familyCol).isNotNull && col(givenCol).isNotNull)
    val famYear = df.select(col(idCol).as("bid"),
      concat(lit("fy:"), Normalize.fold(col(familyCol)), lit("|"),
        substring(col(birthCol), 1, 4)).as("bkey"))
      .filter(col(familyCol).isNotNull && col(birthCol).isNotNull)
    famGiven.unionByName(famYear)
  }

  /** Candidate pairs via salted blocking-key join.
    *
    * Salting: a pre-pass counts docs per key; keys above `hotThreshold`
    * get salt S = ceil(n / hotThreshold): the doc side key becomes
    * (key, pmod(xxhash64(id), S)) and the person side explodes ×S — the
    * standard explicit skew-join treatment (SURVEY.md §4). */
  def candidatePairs(prisoners: DataFrame, personsGaz: DataFrame,
                     hotThreshold: Int = 1000): DataFrame = {
    val spark = prisoners.sparkSession
    import spark.implicits._

    val pKeys = blockKeys(prisoners, "person_uri", "family", "given", "birth_begin")
    val gKeys = blockKeys(personsGaz, "person", "family", "given", "birth_begin")

    val keyCounts = pKeys.groupBy($"bkey").agg(count(lit(1)).as("n"))
      .withColumn("salt", greatest(lit(1), ceil($"n" / hotThreshold)).cast("int"))
      .select($"bkey", $"salt")

    val pSalted = pKeys.join(broadcast(keyCounts), Seq("bkey"), "left")
      .na.fill(Map("salt" -> 1))
      .select($"bid".as("prisoner"),
        concat($"bkey", lit("#"), pmod(xxhash64($"bid"), $"salt")).as("skey"))
    val gSalted = gKeys.join(broadcast(keyCounts), Seq("bkey"), "left")
      .na.fill(Map("salt" -> 1))
      .select($"bid".as("person"),
        explode(transform(sequence(lit(0), $"salt" - 1),
          s => concat($"bkey", lit("#"), s))).as("skey"))

    pSalted.join(gSalted, "skey")
      .select($"prisoner", $"person").distinct()
  }

  /** Optional columns a sparse gazetteer may omit — filled with typed
    * nulls so the scorer's renormalization drops them uniformly. */
  private def withOptionalFields(df: DataFrame): DataFrame = {
    val arrayCols = Seq("birth_place", "death_place", "rank", "unit", "occupation")
    val dateCols = Seq("birth_begin", "birth_end", "death_begin", "death_end", "activity_end")
    val have = df.columns.toSet
    val withArrays = arrayCols.foldLeft(df)((d, c) =>
      if (have(c)) d else d.withColumn(c, lit(null).cast("array<string>")))
    val withDates = dateCols.foldLeft(withArrays)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string")))
    if (withDates.columns.contains("rank_level")) withDates
    else withDates.withColumn("rank_level", lit(null).cast("int"))
  }

  /** Deterministic pair scorer over the FULL 13-field space of
    * linker.py:175-189: Jaro-Winkler on names, the DateTime comparator on
    * the four date-window bounds, set intersection on birth/death place,
    * rank, unit and occupation arrays (the reference's custom
    * intersection_comparator fields), the Price comparator on rank_level
    * and the activity comparator on activity_end — see
    * [[Comparators.prisonerScore]]. Fields missing on either side drop out
    * by renormalization, so sparse gazetteers still link on what they
    * have, while a present-but-disagreeing field (same name, different
    * rank/unit/cohort) actively pushes the pair below threshold — the
    * precision case the reference's 13-field model exists for. Returns
    * links at `threshold` (the reference accepts at threshold_ratio 0.8,
    * linker.py:209). */
  def scorePairs(pairs: DataFrame, prisoners: DataFrame, personsGaz: DataFrame,
                 threshold: Double = 0.8): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    // pre-fold the name strings and the 5 multi-valued sets ONCE PER
    // RECORD: the comparators would otherwise re-run the normalization
    // regexes per candidate PAIR per field (a record in k pairs folds k
    // times) — at ~600k blocked pairs that regex work dominates the
    // scorer. fold is idempotent, so the scores are bit-identical.
    def side(df: DataFrame, idIn: String, idOut: String, pre: String): DataFrame = {
      val f = withOptionalFields(df)
      val foldedStrings = Set("given", "family")
      val foldedSets = Set("birth_place", "death_place", "rank", "unit", "occupation")
      f.select(col(idIn).as(idOut) +: Seq("given", "family", "birth_place",
        "birth_begin", "birth_end", "death_begin", "death_end", "death_place",
        "activity_end", "rank", "rank_level", "unit", "occupation")
        .map { c =>
          val v =
            if (foldedStrings(c)) Normalize.fold(col(c))
            else if (foldedSets(c)) transform(col(c), Normalize.fold(_))
            else col(c)
          v.as(pre + c)
        }: _*)
    }
    def cols(pre: String): Comparators.PrisonerCols = Comparators.PrisonerCols(
      given = col(pre + "given"), family = col(pre + "family"),
      birthPlace = col(pre + "birth_place"), birthBegin = col(pre + "birth_begin"),
      birthEnd = col(pre + "birth_end"), deathBegin = col(pre + "death_begin"),
      deathEnd = col(pre + "death_end"), deathPlace = col(pre + "death_place"),
      activityEnd = col(pre + "activity_end"), rank = col(pre + "rank"),
      rankLevel = col(pre + "rank_level"), unit = col(pre + "unit"),
      occupation = col(pre + "occupation"))

    val p = side(prisoners, "person_uri", "prisoner", "p_")
    val g = side(personsGaz, "person", "person", "g_")

    val scored = pairs.join(p, Seq("prisoner")).join(g, Seq("person"))
      .withColumn("score",
        Comparators.prisonerScore(cols("p_"), cols("g_"), preFolded = true))

    // best person per prisoner, then threshold (top-1 mirrors dedupe's
    // one-to-one preference)
    val w = Window.partitionBy($"prisoner").orderBy($"score".desc, $"person")
    scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .filter($"score" >= threshold)
      .select($"prisoner", $"person", round($"score", 6).as("score"))
  }

  /** Full J9: features → blocking → scoring → link triples
    * (crm:P70_documents shape like construct_people.sparql). */
  def linkPersons(triples: DataFrame, ranksGaz: DataFrame, personsGaz: DataFrame,
                  threshold: Double = 0.8): DataFrame = {
    // the feature plan (a subject-keyed aggregate over the triples table)
    // feeds BOTH the blocking branch and the scoring branch — left lazy it
    // executes twice inside the one linking action; checkpoint it once
    // (lazy: materializes on first use)
    val feats = prisonerFeatures(triples, ranksGaz).localCheckpoint(false)
    val links = scorePairs(candidatePairs(feats, personsGaz), feats, personsGaz, threshold)
    val spark = triples.sparkSession
    import spark.implicits._
    links.select($"prisoner".as("subj"),
      lit(NS.CRM + "P70_documents").as("pred"),
      $"person".as("objValue"), lit(true).as("objIsUri"),
      lit(null).cast("string").as("objLang"),
      lit(null).cast("string").as("objDatatype"),
      regexp_replace($"prisoner", NS.DATA, "").as("docId"))
  }
}
