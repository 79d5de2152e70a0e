package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import DoseLib._

/** Column/SQL surface for the textlib: Scala UDFs over the pure functions.
  *
  * Per SURVEY §2.10 these start as plain Scala UDFs; promotion to native
  * Catalyst Expressions happens selectively if BENCH shows UDF overhead on
  * a hot path. Call [[register]] once per session to expose them to SQL.
  */
object GraftFunctions {

  /** Flat, null-tolerant dose struct for DataFrame columns. */
  final case class DoseParsed(kind: String, strength: Option[Double],
      unit: Option[String], perVal: Option[Double], perUnit: Option[String],
      pct: Option[Double])

  private def toParsed(d: Option[DoseStruct]): Option[DoseParsed] = d.map {
    case AmountDose(s, u) => DoseParsed("amount", Some(s), Some(u), None, None, None)
    case RatioDose(s, u, pv, pu) => DoseParsed("ratio", Some(s), Some(u), Some(pv), Some(pu), None)
    case PercentDose(p) => DoseParsed("percent", None, None, None, None, Some(p))
  }

  val normalizeText: UserDefinedFunction = udf(TextNorm.normalizeText _)
  val normalizeBasic: UserDefinedFunction = udf(TextNorm.normalizeBasic _)
  val slugId: UserDefinedFunction = udf(TextNorm.slugId _)
  val cleanAtc: UserDefinedFunction = udf(TextNorm.cleanAtc _)
  val parseDose: UserDefinedFunction =
    udf((s: String) => toParsed(DoseLib.parseDoseStruct(s)))
  val normalizeDoseRatio: UserDefinedFunction =
    udf((s: String) => if (s == null) null else DoseLib.normalizeDoseRatio(s)._1)
  val normalizeWeightToMg: UserDefinedFunction =
    udf((s: String) => if (s == null) null else DoseLib.normalizeWeightToMg(s)._1)
  val ratioMgPerMl: UserDefinedFunction =
    udf((strength: Double, unit: String, perVal: Double) =>
      DoseLib.safeRatioMgPerMl(strength, unit, perVal))
  /** F12 master extractor as a struct column (20-field DrugDetails). */
  val extractDrugDetails: UserDefinedFunction =
    udf((s: String) => if (s == null) None
    else Some(DetailsLib.extractDrugDetails(s)))

  /** Registers every function in `spark`'s session once; a later call on
    * the same session is a no-op (replacing a function logs a WARN per
    * name, and the band-key and boilerplate paths call this per plan).
    */
  def register(spark: SparkSession): Unit =
    if (!spark.sessionState.functionRegistry.functionExists(
        FunctionIdentifier("graft_extract_drug_details"))) {
      // native codegen Expression (preferred on hot paths)
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_normalize_basic_native",
        exprs => graft.expressions.NormalizeBasic(exprs.head),
        "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_winnow_fingerprints",
        exprs => graft.expressions.WinnowFingerprints(exprs.head),
        "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_simhash_sig",
        exprs => graft.expressions.SimHashSig(exprs.head),
        "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_minhash_bands",
        exprs => graft.expressions.MinHashBands(exprs.head),
        "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_boilerplate_clean",
        exprs => graft.expressions.BoilerplateClean(exprs.head),
        "scala_udf")
      spark.udf.register("graft_normalize_text", normalizeText)
      spark.udf.register("graft_normalize_basic", normalizeBasic)
      spark.udf.register("graft_slug_id", slugId)
      spark.udf.register("graft_clean_atc", cleanAtc)
      spark.udf.register("graft_parse_dose", parseDose)
      spark.udf.register("graft_normalize_dose_ratio", normalizeDoseRatio)
      spark.udf.register("graft_normalize_weight_to_mg", normalizeWeightToMg)
      spark.udf.register("graft_extract_drug_details", extractDrugDetails)
    }
}
