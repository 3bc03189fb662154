package graft.extract

import graft.functions._
import graft.model.NS

/** Flat triple emitted per span, before global assembly. */
final case class TripleOut(
    subj: String, pred: String, objValue: String,
    objIsUri: Boolean, objLang: String, objDatatype: String)

final case class SpanResult(triples: Seq[TripleOut], errors: Seq[String])

/** The scalar-heavy per-span core: parse → convert → validate → triples.
  *
  * This is the reference's `map_row_to_rdf` inner loop body
  * (reference: src/csv_to_rdf.py:219-281) re-expressed as a pure
  * deterministic function over one span. It is the only Scala-UDF surface
  * of the extraction stage (SURVEY.md §2.11) — everything around it
  * (splitting, fan-out, dedup, union, partitioning) is Catalyst-native
  * Column expressions, so whole-stage codegen applies to the rest of the
  * plan and this function is invoked exactly once per span with no
  * intermediate shuffles.
  */
object SpanProcessor {

  private val instanceClass = NS.SCHEMA_WARSA + "PrisonerRecord"

  /** The per-doc `rdf:type` gate (csv_to_rdf.py:283-284): any span that
    * emits at least one triple also emits the doc's type triple — dozens
    * of copies per doc, but they collapse in the pipeline's single global
    * set-dedup, which removes a whole extra pass over the UDF subtree
    * that a distinct-doc-ids approach would need. */
  private def withTypeTriple(subj: String, ts: Vector[TripleOut]): Vector[TripleOut] =
    if (ts.isEmpty) ts
    else ts :+ TripleOut(subj, NS.RDF_TYPE, instanceClass, true, null, null)

  /** Process the dedicated name span (reference: src/csv_to_rdf.py:180-196). */
  def processName(docLocal: String, text: String): SpanResult = {
    val subj = NS.DATA + docLocal
    val name = Converters.convertPersonName(text)
    val reassembled = if (name.given.nonEmpty) name.family + " " + name.given else name.family
    val errors = Validators.validatePersonName(reassembled, text).toSeq
    val originalName = PyStr.strip(text)
    var ts = Vector.empty[TripleOut]
    if (name.given.nonEmpty)
      ts :+= TripleOut(subj, NS.SCHEMA_WARSA + "given_names", name.given, false, null, null)
    if (name.family.nonEmpty)
      ts :+= TripleOut(subj, NS.SCHEMA_WARSA + "family_name", name.family, false, null, null)
    if (name.full.nonEmpty)
      ts :+= TripleOut(subj, NS.SKOS_PREF_LABEL, name.full, false, null, null)
    if (originalName.nonEmpty)
      ts :+= TripleOut(subj, NS.SCHEMA_POW + "original_name", originalName, false, null, null)
    SpanResult(withTypeTriple(subj, ts), errors)
  }

  /** Process one mapped value span (reference: src/csv_to_rdf.py:219-281). */
  def process(spec: FieldSpec, docLocal: String, text: String, offset: Int,
              originalName: String): SpanResult = {
    val subj = NS.DATA + docLocal
    var errors = Vector.empty[String]
    val originalValue = text

    // ---- parse (E3 / E4) -------------------------------------------------
    var value: String = text
    var source: String = null
    var dateBegin: DateOrString = null
    var dateEnd: DateOrString = null
    var sepErrors = Vector.empty[String]

    spec.sep match {
      case "/" =>
        val p = Parsers.readValueWithSource(text)
        value = p.value; source = p.source
        if (p.trash.nonEmpty)
          sepErrors :+= s"Ylimääräisiä merkintöjä suluissa annetun lähteen jälkeen: $originalValue"
      case ";" =>
        val p = Parsers.readSemicolonSeparated(text)
        value = p.value; source = p.source
        dateBegin = p.dateBegin; dateEnd = p.dateEnd
        sepErrors ++= p.errors
      case _ => // single raw value, already stripped at ingest
    }
    errors ++= sepErrors

    // ---- convert (E5/E7/E8/E9/E10) ---------------------------------------
    // The converted value is (objValue, isUri, datatype); empty objValue
    // suppresses emission ("if value:", csv_to_rdf.py:250).
    var objValue: String = value
    var objIsUri = false
    var objDatatype: String = null

    spec.converter match {
      case "dates" =>
        val d = Converters.convertDates(value)
        if (d.isDate) { objValue = d.lexical; objDatatype = NS.XSD_DATE }
        else objValue = d.raw
        val convError = validatorFor(spec.validator, d)
        if (convError.isDefined && sepErrors.isEmpty) errors :+= convError.get
      case "strip_dash" =>
        objValue = Converters.stripDash(value)
      case "swedish" =>
        objValue = Converters.convertSwedish(value)
        objIsUri = true
        val convError =
          if (spec.validator == "mother_tongue") Validators.validateMotherTongue(originalValue)
          else None
        if (convError.isDefined && sepErrors.isEmpty) errors :+= convError.get
      case "marital" =>
        objValue = Converters.convertMarital(value)
        objIsUri = true
      case "uriref" =>
        objIsUri = true
      case _ =>
        // plain literal; run a plain-date validator if configured (none in
        // practice for non-date fields)
    }

    // ---- emit ------------------------------------------------------------
    if (objValue == null || objValue.isEmpty) return SpanResult(Nil, errors)

    var ts = Vector.empty[TripleOut]
    var rdfValue = TripleOut(subj, spec.uri, objValue, objIsUri, null, objDatatype)

    if (spec.createResource.nonEmpty) {
      // child resource (E15/E16; reference csv_to_rdf.py:143-163,256-268)
      val resUri = NS.DATA + s"${docLocal}_${spec.predLocal}_${offset * 10}"
      ts :+= TripleOut(resUri, NS.RDF_TYPE, spec.createResource, true, null, null)
      ts :+= TripleOut(resUri, spec.captureValueProp, objValue, objIsUri, null, objDatatype)
      ts :+= TripleOut(resUri, NS.SKOS_PREF_LABEL,
        spec.labelFi.replace("{person}", originalName), false, "fi", null)
      ts :+= TripleOut(resUri, NS.SKOS_PREF_LABEL,
        spec.labelEn.replace("{person}", originalName), false, "en", null)
      if (spec.captureOrder)
        ts :+= TripleOut(resUri, NS.SCHEMA_POW + "order", (offset * 10).toString, false, null, NS.XSD_INTEGER)
      if (spec.captureDates && (dateBegin != null || dateEnd != null)) {
        ts :+= dateTriple(resUri, NS.SCHEMA_POW + "date_begin", dateBegin)
        ts :+= dateTriple(resUri, NS.SCHEMA_POW + "date_end", dateEnd)
      }
      rdfValue = TripleOut(subj, spec.uri, resUri, true, null, null)
    }

    ts :+= rdfValue

    // reification (E17; reference csv_to_rdf.py:272-281)
    if (source != null && source.nonEmpty) {
      val reifUri = NS.DATA + s"${docLocal}_${spec.predLocal}_${offset}_reification_source"
      ts :+= TripleOut(reifUri, NS.RDF_SUBJECT, subj, true, null, null)
      ts :+= TripleOut(reifUri, NS.RDF_PREDICATE, spec.uri, true, null, null)
      ts :+= TripleOut(reifUri, NS.RDF_OBJECT, rdfValue.objValue, rdfValue.objIsUri, null, rdfValue.objDatatype)
      ts :+= TripleOut(reifUri, NS.RDF_TYPE, NS.RDF_STATEMENT, true, null, null)
      ts :+= TripleOut(reifUri, NS.DCT_SOURCE, source, false, null, null)
    }

    SpanResult(withTypeTriple(subj, ts), errors)
  }

  private def dateTriple(subj: String, pred: String, d: DateOrString): TripleOut =
    if (d != null && d.isDate) TripleOut(subj, pred, d.lexical, false, null, NS.XSD_DATE)
    else TripleOut(subj, pred, if (d == null) "None" else d.raw, false, null, null)

  private def validatorFor(id: String, d: DateOrString): Option[String] = id match {
    case "dates_war"    => Validators.validateDates(d)
    case "dates_birth"  => Validators.validateDates(d,
      after = java.time.LocalDate.of(1860, 1, 1), before = java.time.LocalDate.of(1945, 1, 1))
    case "dates_return" => Validators.validateDates(d, before = java.time.LocalDate.of(1980, 1, 1))
    case "dates_death"  => Validators.validateDates(d, before = java.time.LocalDate.now())
    case _ => None
  }
}
