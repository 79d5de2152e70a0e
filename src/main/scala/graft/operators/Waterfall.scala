package graft.operators

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.tagger.{LookupWaterfall, ScoredTagger}

/** Oracle-checked demonstration of the C1 lookup waterfall over the
  * synthetic `documents` table, running through the SAME
  * [[graft.tagger.LookupWaterfall]] code the drug tagger uses.
  *
  * Setup: the probe is each document's first word; the catalog is the
  * corpus vocabulary minus a fixed holdout (the s-words + "vector") so
  * every leg demonstrably fires at sf0.01: held-out probes miss exact,
  * "vector" recovers via first-letter prefix ("value"), "slow"/"sort"/
  * "spark" via fuzzy ("row"/"part", distance 2), and "scan"/"small"/
  * "stream" stay no_match.
  */
object Waterfall {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q23_lookup_waterfall",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
        val probes = toks.select(col("doc_id").as("id"), lit(1).as("probe_pos"),
          element_at(col("t"), 1).as("probe"))
        val catalog = toks
          .select(explode(col("t")).as("key"))
          .groupBy("key").agg(count(lit(1)).as("cnt"))
          .filter(!col("key").isin(
            "vector", "spark", "scan", "slow", "small", "sort", "stream"))
        val best = LookupWaterfall.tag(probes, catalog,
          LookupWaterfall.Config(prefixMode = "char", prefixLen = 1, fuzzyMaxDist = 2))
        probes.select(col("id").as("doc_id"), col("probe"))
          .join(best.select(col("id").as("doc_id"), col("key"), col("leg")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("probe"),
            coalesce(col("key"), lit("")).as("matched_word"),
            LookupWaterfall.reason(col("leg")).as("match_reason"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |probe AS (SELECT doc_id, t[1] AS probe FROM tok),
             |cat AS (SELECT word, count(*) AS cnt FROM
             |          (SELECT unnest(t) AS word FROM tok) w
             |        GROUP BY 1 HAVING word NOT IN
             |          ('vector', 'spark', 'scan', 'slow', 'small', 'sort', 'stream')),
             |exact AS (SELECT p.doc_id, p.probe, c.word, 1 AS leg, 0 AS score
             |          FROM probe p JOIN cat c ON p.probe = c.word),
             |missE AS (SELECT * FROM probe
             |          WHERE doc_id NOT IN (SELECT doc_id FROM exact)),
             |pref AS (SELECT m.doc_id, m.probe, c.word, 2 AS leg, len(c.word) AS score
             |         FROM missE m JOIN cat c
             |           ON c.word LIKE substr(m.probe, 1, 1) || '%' AND c.word <> m.probe),
             |missP AS (SELECT * FROM missE
             |          WHERE doc_id NOT IN (SELECT doc_id FROM pref)),
             |fuzz AS (SELECT m.doc_id, m.probe, c.word, 3 AS leg,
             |           levenshtein(m.probe, c.word) AS score
             |         FROM missP m JOIN cat c
             |           ON levenshtein(m.probe, c.word) <= 2 AND c.word <> m.probe),
             |all_legs AS (SELECT * FROM exact UNION ALL SELECT * FROM pref
             |             UNION ALL SELECT * FROM fuzz),
             |best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |           ORDER BY leg, score, word) AS rn FROM all_legs)
             |SELECT p.doc_id AS doc_id, p.probe AS probe,
             |  coalesce(b.word, '') AS matched_word,
             |  CASE b.leg WHEN 1 THEN 'exact' WHEN 2 THEN 'prefix'
             |    WHEN 3 THEN 'fuzzy' ELSE 'no_match' END AS match_reason
             |FROM probe p LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
             |  ON p.doc_id = b.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ---- full C1 selection core (waterfall candidate gathering + G2 ATC
    //      explode + rank-tuple validity filter + total-order pick)
    //      through ScoredTagger.tagCandidates, oracle-checked end to end.
    //      Probes and shapes are SQL-defined over the fixed demo
    //      vocabulary (31 words, inert under synonym/salt normalization —
    //      asserted by ScoredTaggerSpec), so the DuckDB oracle replicates
    //      the REAL Scoring.genericsMatch/candidateRank semantics exactly:
    //      exact vs substring vs combo_match generic matching, the
    //      single-before-combination ATC sort, the -len(generic) and
    //      full-tuple deterministic tie-break. The free-text probe/classify
    //      UDFs of tagTexts are covered by reference-generated goldens.
    QueryDef(
      "q26_scored_tagger",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val toks = docs.select(col("doc_id").as("id"), split(col("text"), " ").as("t"))
        // every word occurrence probes, position = tie-break rank; the
        // pinned spread keeps the waterfall legs at full parallelism over
        // the single-file demo scan (core.CpuSpread)
        val probes = graft.core.CpuSpread.byKey(
          toks.select(col("id"),
            posexplode(col("t")).as(Seq("probe_pos", "probe"))),
          col("id"))
        // catalog: vocabulary minus a holdout; generic_name SHAPES drive
        // the three genericsMatch outcomes (plain word -> exact, s-words
        // -> "W PLUS" substring, b/c-words -> "W + DATA" combo), and the
        // pipe-joined ATC payload is deliberately reverse-sorted to prove
        // the D4 explode order
        val catalog = toks.select(explode(col("t")).as("key")).distinct()
          .filter(!col("key").isin("vector", "spark", "the"))
          .select(col("key"),
            when(col("key").startsWith("s"),
                concat(upper(col("key")), lit(" PLUS")))
              .when(col("key").startsWith("b") || col("key").startsWith("c"),
                concat(upper(col("key")), lit(" + DATA")))
              .otherwise(upper(col("key"))).as("generic_name"),
            concat(lit("Y"), upper(col("key")), lit("|X"), upper(col("key")))
              .as("atc_code"),
            concat(lit("DB"), col("key")).as("drugbank_id"),
            lit("TABLET").as("form"), lit("ORAL").as("route"),
            lit("corpus").as("source"),
            upper(col("key")).as("reference_text"))
        // shapes: the doc's generic set = its distinct words longer than
        // 3 chars, uppercased; no forms/details/combos. The demo
        // vocabulary is inert under applySynonym (asserted by
        // ScoredTaggerSpec), so finalizeShape's normalized set equals
        // `stripped` exactly, which is what the oracle replicates.
        // fuzzyMaxDist=0 keeps the fuzzy-correction feedback out of the
        // oracle (covered by ScoredTaggerSpec goldens instead).
        val gens = array_sort(array_distinct(
          transform(filter(col("t"), w => length(w) > 3), w => upper(w))))
        val shapes = toks.select(col("id"),
          typedLit(Seq.empty[String]).as("input_forms"),
          typedLit(Seq.empty[String]).as("extra_norm"),
          lit(false).as("has_plus"), lit(false).as("has_in"),
          gens.as("stripped"),
          typedLit(Map.empty[String, String]).as("details"))
        val tagged = ScoredTagger.tagCandidates(probes, catalog, shapes,
          LookupWaterfall.Config(fuzzyMaxDist = 0))
        toks.select(col("id"))
          .join(tagged, Seq("id"), "left")
          .select(col("id").as("doc_id"),
            coalesce(col("generic_name"), lit("")).as("generic_name"),
            coalesce(col("atc_code"), lit("")).as("atc_code"),
            coalesce(col("match_reason"), lit("no_candidates")).as("match_reason"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |probe AS (SELECT doc_id, r.s.i - 1 AS probe_pos, r.s.w AS probe FROM (
             |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
             |      i -> struct_pack(i := i, w := t[i]))) AS s FROM tok) r),
             |cat AS (SELECT key,
             |    CASE WHEN key LIKE 's%' THEN upper(key) || ' PLUS'
             |         WHEN key LIKE 'b%' OR key LIKE 'c%' THEN upper(key) || ' + DATA'
             |         ELSE upper(key) END AS generic_name,
             |    'DB' || key AS drugbank_id, upper(key) AS reference_text
             |  FROM (SELECT DISTINCT unnest(t) AS key FROM tok) v
             |  WHERE key NOT IN ('vector', 'spark', 'the')),
             |-- token-prefix leg never matches single-word keys and the
             |-- demo runs with fuzzyMaxDist=0, so exact is the only leg
             |cand0 AS (SELECT p.doc_id, p.probe_pos, p.probe, c.*, 1 AS leg
             |          FROM probe p JOIN cat c ON p.probe = c.key),
             |cand AS (SELECT c2.* EXCLUDE (s), c2.s.idx AS atc_idx, c2.s.code AS atc_code
             |         FROM (SELECT *, unnest([
             |             struct_pack(idx := 0, code := 'X' || upper(key)),
             |             struct_pack(idx := 1, code := 'Y' || upper(key))]) AS s
             |           FROM cand0) c2),
             |gen AS (SELECT doc_id, list_sort(list_distinct(list_transform(
             |          list_filter(t, w -> len(w) > 3), w -> upper(w)))) AS gens FROM tok),
             |scored AS (SELECT c.*, CASE
             |    WHEN generic_name LIKE '% + %' THEN
             |      CASE WHEN len(list_intersect(g.gens,
             |               string_split(generic_name, ' + '))) > 0 THEN 1
             |           WHEN len(list_filter(g.gens, x -> len(list_filter(
             |               string_split(generic_name, ' + '),
             |               p -> contains(p, x) OR contains(x, p))) > 0)) > 0 THEN 3
             |           ELSE NULL END
             |    ELSE
             |      CASE WHEN list_filter(g.gens, x -> x = generic_name
             |               OR contains(generic_name, x)
             |               OR contains(x, generic_name))[1] = generic_name THEN 0
             |           WHEN len(list_filter(g.gens, x -> x = generic_name
             |               OR contains(generic_name, x)
             |               OR contains(x, generic_name))) > 0 THEN 2
             |           ELSE NULL END
             |    END AS mp
             |  FROM cand c JOIN gen g USING (doc_id)),
             |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY mp, len(generic_name) DESC, atc_code, leg, probe_pos,
             |      key, atc_idx, generic_name, reference_text, drugbank_id) AS rn
             |  FROM scored WHERE mp IS NOT NULL),
             |ids AS (SELECT DISTINCT doc_id FROM tok),
             |candids AS (SELECT DISTINCT doc_id FROM cand),
             |best AS (SELECT * FROM ranked WHERE rn = 1)
             |SELECT i.doc_id,
             |  coalesce(b.generic_name, '') AS generic_name,
             |  coalesce(b.atc_code, '') AS atc_code,
             |  CASE WHEN b.doc_id IS NOT NULL THEN 'matched'
             |       WHEN c.doc_id IS NOT NULL THEN 'no_match'
             |       ELSE 'no_candidates' END AS match_reason
             |FROM ids i LEFT JOIN candids c USING (doc_id)
             |  LEFT JOIN best b USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // ---- fuzzy-correction feedback, oracle-checked (tagger.py:880-920):
    //      one probe per doc (its first word); held-out "spark" reaches
    //      the fuzzy leg and matches "part" at distance 2 — WITHOUT the
    //      feedback the candidate would fail genericsMatch (SPARK vs PART
    //      share no substring) and the doc would be no_match; the
    //      correction replaces the input generic with the fuzzy-matched
    //      name, so the candidate ranks as exact.
    QueryDef(
      "q27_fuzzy_feedback",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val toks = docs.select(col("doc_id").as("id"), split(col("text"), " ").as("t"))
        val first = try_element_at(col("t"), lit(1))
        val probes = graft.core.CpuSpread.byKey(
          toks.select(col("id"), lit(0).as("probe_pos"), first.as("probe")),
          col("id"))
        val catalog = toks.select(explode(col("t")).as("key")).distinct()
          .filter(!col("key").isin("vector", "spark", "the"))
          .select(col("key"), upper(col("key")).as("generic_name"),
            concat(lit("X"), upper(col("key"))).as("atc_code"),
            concat(lit("DB"), col("key")).as("drugbank_id"),
            lit("TABLET").as("form"), lit("ORAL").as("route"),
            lit("corpus").as("source"), upper(col("key")).as("reference_text"))
        val shapes = toks.select(col("id"),
          typedLit(Seq.empty[String]).as("input_forms"),
          typedLit(Seq.empty[String]).as("extra_norm"),
          lit(false).as("has_plus"), lit(false).as("has_in"),
          array(upper(first)).as("stripped"),
          typedLit(Map.empty[String, String]).as("details"))
        // blocked fuzzy mode: the deletion-variant candidate lookup must
        // produce byte-identical results to the scan-mode semantics the
        // oracle encodes — this query keeps the blocked path under the
        // hash gate
        val tagged = ScoredTagger.tagCandidates(probes, catalog, shapes,
          LookupWaterfall.Config(fuzzyMode = "blocked"))
        toks.select(col("id"))
          .join(tagged, Seq("id"), "left")
          .select(col("id").as("doc_id"),
            coalesce(col("generic_name"), lit("")).as("generic_name"),
            coalesce(col("match_reason"), lit("no_candidates")).as("match_reason"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |f AS (SELECT doc_id, t[1] AS probe FROM tok),
             |cat AS (SELECT key, upper(key) AS generic_name,
             |    'X' || upper(key) AS atc_code, 'DB' || key AS drugbank_id,
             |    upper(key) AS reference_text
             |  FROM (SELECT DISTINCT unnest(t) AS key FROM tok) v
             |  WHERE key NOT IN ('vector', 'spark', 'the')),
             |exact AS (SELECT p.doc_id, 0 AS probe_pos, p.probe, c.*, 1 AS leg
             |          FROM f p JOIN cat c ON p.probe = c.key),
             |missE AS (SELECT * FROM f
             |          WHERE probe NOT IN (SELECT DISTINCT probe FROM exact)),
             |fuzz AS (SELECT m.doc_id, 0 AS probe_pos, m.probe, c.*, 3 AS leg
             |         FROM missE m JOIN cat c
             |           ON levenshtein(m.probe, c.key) <= 2 AND c.key <> m.probe),
             |cand AS (SELECT * FROM exact UNION ALL SELECT * FROM fuzz),
             |corr AS (SELECT doc_id, generic_name AS g FROM (
             |    SELECT doc_id, generic_name, row_number() OVER (
             |      PARTITION BY doc_id ORDER BY probe_pos, key, generic_name) AS rn
             |    FROM fuzz) t WHERE rn = 1),
             |gens AS (SELECT f.doc_id, coalesce(corr.g, upper(f.probe)) AS gen
             |         FROM f LEFT JOIN corr USING (doc_id)),
             |scored AS (SELECT c.*, CASE
             |    WHEN g.gen = c.generic_name THEN 0
             |    WHEN contains(c.generic_name, g.gen)
             |      OR contains(g.gen, c.generic_name) THEN 2
             |    ELSE NULL END AS mp
             |  FROM cand c JOIN gens g USING (doc_id)),
             |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY mp, len(generic_name) DESC, atc_code, leg, probe_pos,
             |      key, generic_name, reference_text, drugbank_id) AS rn
             |  FROM scored WHERE mp IS NOT NULL),
             |ids AS (SELECT DISTINCT doc_id FROM tok),
             |candids AS (SELECT DISTINCT doc_id FROM cand),
             |best AS (SELECT * FROM ranked WHERE rn = 1)
             |SELECT i.doc_id,
             |  coalesce(b.generic_name, '') AS generic_name,
             |  CASE WHEN b.doc_id IS NOT NULL THEN 'matched'
             |       WHEN c.doc_id IS NOT NULL THEN 'no_match'
             |       ELSE 'no_candidates' END AS match_reason
             |FROM ids i LEFT JOIN candids c USING (doc_id)
             |  LEFT JOIN best b USING (doc_id)
             |ORDER BY doc_id""".stripMargin))
  )
}
