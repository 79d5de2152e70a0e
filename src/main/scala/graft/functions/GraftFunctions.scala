package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
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

  /** Native codegen Expressions (preferred on hot paths), by SQL name. */
  private val natives: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_normalize_basic_native" -> (e => graft.expressions.NormalizeBasic(e.head)),
    "graft_winnow_fingerprints" -> (e => graft.expressions.WinnowFingerprints(e.head)),
    "graft_simhash_sig" -> (e => graft.expressions.SimHashSig(e.head)),
    "graft_minhash_bands" -> (e => graft.expressions.MinHashBands(e.head)),
    "graft_boilerplate_clean" -> (e => graft.expressions.BoilerplateClean(e.head)),
    "graft_span_splice" -> (e => graft.expressions.SpanSplice(e(0), e(1))))

  private val udfs: Seq[(String, UserDefinedFunction)] = Seq(
    "graft_normalize_text" -> normalizeText,
    "graft_normalize_basic" -> normalizeBasic,
    "graft_slug_id" -> slugId,
    "graft_clean_atc" -> cleanAtc,
    "graft_parse_dose" -> parseDose,
    "graft_normalize_dose_ratio" -> normalizeDoseRatio,
    "graft_normalize_weight_to_mg" -> normalizeWeightToMg,
    "graft_extract_drug_details" -> extractDrugDetails)

  /** Every SQL name [[register]] defines. */
  val names: Seq[String] = natives.map(_._1) ++ udfs.map(_._1)

  /** Registers every function in `spark`'s session; a call on a session
    * that already has every one of [[names]] is a no-op (replacing a
    * function logs a WARN per name, and the band-key and boilerplate
    * paths call this per plan). A session missing any name — one that
    * registered an older list — gets the missing ones.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def missing(name: String) = !reg.functionExists(FunctionIdentifier(name))
    natives.filter(n => missing(n._1)).foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
    udfs.filter(u => missing(u._1)).foreach { case (name, f) =>
      spark.udf.register(name, f)
    }
  }
}
