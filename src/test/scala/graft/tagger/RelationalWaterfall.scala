package graft.tagger

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.FuzzyLib

/** Test oracle for [[LookupWaterfall.allMatches]]: the same waterfall as
  * a relational plan — one broadcast join per leg, anti-joins on the
  * matched probe strings between legs, windows for the per-probe limits.
  * It states the semantics in Spark's own operators, so the index must
  * agree with it on every input, as a multiset of rows.
  */
object RelationalWaterfall {

  def allMatches(probes: DataFrame, catalog: DataFrame,
      cfg: LookupWaterfall.Config): DataFrame = {
    val hasExactOnly = catalog.columns.contains("exact_only")
    val cat0 =
      if (hasExactOnly) catalog
      else catalog.withColumn("exact_only", lit(false))
    val cat = broadcast(cat0)
    val catFuzzy =
      if (hasExactOnly) broadcast(cat0.filter(!col("exact_only"))) else cat

    val exact = probes.join(cat, col("probe") === col("key"))
      .withColumn("leg", lit(1)).withColumn("score", lit(0))

    // exact_probe true or null: an equality lookup only
    val unifiedProbes =
      if (probes.columns.contains("exact_probe"))
        probes.filter(!col("exact_probe"))
      else probes
    // only an exact hit on an exact_only = false row stops the chain
    val missExact = unifiedProbes.join(
      exact.filter(!col("exact_only")).select("probe").distinct(),
      Seq("probe"), "left_anti")
    val prefixCond: Column = cfg.prefixMode match {
      case "char" => col("key").startsWith(substring(col("probe"), 1, cfg.prefixLen)) &&
        col("key") =!= col("probe")
      case _ => col("key").startsWith(concat(col("probe"), lit(" ")))
    }
    val prefix0 = missExact.join(catFuzzy, prefixCond)
      .withColumn("leg", lit(2)).withColumn("score", length(col("key")))
    val prefix =
      if (cfg.prefixLimit <= 0) prefix0
      else {
        val wpp = Window.partitionBy("probe")
          .orderBy(length(col("key")), col("key"))
        val keep = prefix0.select("probe", "key").distinct()
          .withColumn("rnp", row_number().over(wpp))
          .filter(col("rnp") <= cfg.prefixLimit)
          .drop("rnp")
        prefix0.join(keep, Seq("probe", "key"), "left_semi")
      }

    val missPrefix = missExact.join(prefix.select("probe").distinct(), Seq("probe"), "left_anti")
    val lev = levenshtein(col("probe"), col("key"), cfg.fuzzyMaxDist)
    val fuzzy = cfg.fuzzyMode match {
      case "ratio" =>
        val ratioUdf = udf((p: String, k: String) =>
          FuzzyLib.ratio(p.toUpperCase, k.toUpperCase))
        val frac = 1.0 - cfg.fuzzyRatioMin / 100.0
        val wp = Window.partitionBy("probe")
          .orderBy(col("ratio").desc, col("key"))
        val topKeys = missPrefix.select("probe").distinct()
          .filter(length(col("probe")) >= 4)
          .join(catFuzzy.select("key").distinct(),
            abs(length(col("probe")) - length(col("key"))) <=
              (length(col("probe")) + length(col("key"))) * frac &&
              col("key") =!= col("probe"))
          .withColumn("ratio", ratioUdf(col("probe"), col("key")))
          .filter(col("ratio") >= cfg.fuzzyRatioMin)
          .withColumn("rnf", row_number().over(wp))
          .filter(col("rnf") <= cfg.fuzzyLimit)
          .select(col("probe"), col("key").as("k2"), col("ratio"))
        missPrefix.join(topKeys, Seq("probe"))
          .join(catFuzzy, col("k2") === col("key"))
          .drop("k2")
          .withColumn("leg", lit(3))
          .withColumn("score", round(lit(100.0) - col("ratio")).cast("int"))
          .drop("ratio")
      case "blocked" =>
        val d = cfg.fuzzyMaxDist
        val delUdf = udf((s: String) => LookupWaterfall.deleteVariants(s, d))
        val keyVars = cat0.filter(!col("exact_only"))
          .select(col("key")).distinct()
          .select(col("key"), explode(delUdf(col("key"))).as("variant"))
        val probeVars = missPrefix.select(col("probe")).distinct()
          .select(col("probe"), explode(delUdf(col("probe"))).as("variant"))
        val candPairs = probeVars.join(keyVars, Seq("variant"))
          .select("probe", "key").distinct()
        missPrefix.join(candPairs, Seq("probe"))
          .join(catFuzzy.withColumnRenamed("key", "k2"), col("key") === col("k2"))
          .drop("k2")
          .filter(lev >= 0 && col("key") =!= col("probe"))
          .withColumn("leg", lit(3))
          .withColumn("score", lev)
      case _ =>
        missPrefix.join(catFuzzy,
            abs(length(col("probe")) - length(col("key"))) <= cfg.fuzzyMaxDist &&
              lev >= 0 && col("key") =!= col("probe"))
          .withColumn("leg", lit(3))
          .withColumn("score", lev)
    }

    exact.unionByName(prefix).unionByName(fuzzy)
  }
}
