package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.QueryDef
import graft.operators.{Analytic, Bpe, Bridge, Clustering, Curation, CurationPipeline, Dedup, Events, Interchange, Labs, Multimodal, RangeJoin, Relational, Retrieval, Runner, Similarity, SketchExact, TextAnalysis, Waterfall, Winnow}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query key -> SURVEY §2 operator coverage:
  *   q01–q22  relational inventory (scans, filters, joins J1–J11, aggs
  *            A1–A10, dedup/top-k D1–D6, set ops U1–U2, explode G1–G5)
  *   q23–q28  C1/C4 composition: lookup waterfall, scored selection core
  *            (windowed rank + ATC explode), fuzzy-correction feedback
  *            (blocked fuzzy-join mode), Part-2 runner merge algebra
  *   q30–q34  text analysis: token counting, language-ID, quality scoring,
  *            fingerprinting, exact dedup
  *   q44–q47  corpus ops: deterministic stratified train/eval hash-split,
  *            duplicate-trigram repetition fraction, PII scrubbing,
  *            BPE-ish regex token counting (+fertility)
  *   q35–q39  near-dup: n-gram Jaccard, MinHash+LSH, SimHash, and
  *            connected-components cluster assignment over the LSH
  *            pair graph (large-star/small-star, O(log² n) rounds); q56
  *            applies the clusters — the deduplicated corpus keeping
  *            one representative per cluster plus unpaired docs
  *   q48–q49  second names for q39 (clusters) and q31 (language-ID):
  *            same body, same oracle
  *   q53–q57  corpus hygiene & mixing: benchmark decontamination
  *            (trigram containment vs a bloom-prefiltered benchmark
  *            shingle set), deterministic stratified language resampling,
  *            token-window document chunking (size 8, stride 6),
  *            dedup application (q56, under Dedup), and
  *            source-weighted upsampling for training-mix epochs
  *   q58      sequence packing: concat-and-chunk bin bookkeeping via a
  *            distributed two-phase prefix sum (never a global-order
  *            single-partition window)
  *   q59      cross-split leakage: eval docs with a train-side LSH
  *            near-dup partner (q44 ∘ q36 composition — the
  *            split-hygiene gate before training)
  *   q40–q43  similarity search: brute-force cosine top-k, sign-LSH ANN,
  *            IVF-flat ANN, embedding-cosine near-dup pairs
  *   q50      multimodal frame-sampling plumbing
  *   q60      time-bucketed event aggregation (streaming-shaped, batch form)
  *   q61–q63  temporal/range operators: gap sessionization (two windows +
  *            agg over ONE user_id exchange), as-of join (union + running
  *            last(ignoreNulls) — no inequality join), and a bucketed
  *            range join (interval decomposition -> broadcast equi-join,
  *            never a nested loop)
  *   q64–q67  analytic functions: trailing RANGE-frame window, discrete
  *            quantiles (percentile_disc), explicit-values pivot, rollup
  *            grouping sets + grouping_id
  *   q68–q69  a second name for q09's top-k per group, and
  *            vocabulary induction + OOV coverage
  *            (TakeOrderedAndProject top-V, broadcast probe)
  *   q70      approximate sketches beside exact twins (HLL distinct,
  *            approx_percentile) — rows-only by design, error bounds
  *            spec-pinned
  *   q71–q72  SCD-1 upsert/merge (one full-outer pass) and sliding-window
  *            aggregation (window generator, 4 buckets/event)
  *   q73–q74  corpus-statistical text scoring: add-1-smoothed bigram
  *            LM quality scoring (CCNet-style; integer micro-nat
  *            rounding makes the log-space sum order-independent and
  *            cross-engine exact) and TF-IDF top-3 salient terms
  *            (integer score = tf × micro-nat idf, total-order rank)
  *   q75–q76  interchange + cross-source hygiene: JSONL round-trip
  *            (schema-pinned FAILFAST read of the engine's own JSONL
  *            write, oracle-compared against the original parquet) and
  *            the source-pair shingle-overlap matrix (distinct
  *            (source, shingle) self-join — fanout bounded by the
  *            source catalog, not document frequency)
  *   q77–q78  incremental/sub-document dedup: segment-level
  *            repeated-span removal (16-token granularity, global
  *            keep-first via grouped min(struct) — never a window over
  *            the segment hash) and the incremental near-dup probe of
  *            a new ingest batch against the historical LSH band index
  *            (per-batch cost O(batch), not O(corpus))
  *   q79–q80  quantized/bitwise scale paths: int8 ANN pre-rank with
  *            exact int64 dot products + full-precision re-rank of the
  *            survivors, and SimHash Hamming pairs via the Manku
  *            4×16-bit pigeonhole index (hamming ≤ 3 ⟹ shared chunk;
  *            signature = one 64-column hash aggregate, no row fanout)
  *   q81–q83  curation/governance: snapshot diff (CDC via one full-outer
  *            key join, row-local column attribution — downstream cost
  *            O(churn) not O(table)), retention curve (exact decile
  *            thresholds broadcast, 9× fanout collapsed by partial agg),
  *            and the per-source dataset card (cross-source exact-dup
  *            share via grouped fingerprint multiplicity + 1:1 re-join)
  *   q84–q85  data selection: DSIR importance weights (target-vs-corpus
  *            bigram LM log-ratio in exact integer micro-nats; target
  *            count tables are the small join side) and the deflate
  *            compression-ratio quality signal (rows-only — no DuckDB
  *            deflate — spec-pinned by driver replay, the q70 pattern)
  *   q86      incremental rollup maintenance: old rollup ⊕ churn-only
  *            signed deltas vs an oracle that recomputes directly over
  *            the new snapshot — the hash gate proves the delta algebra
  *            exact; update cost O(churn)+O(groups), no table rescan
  *   q88–q93  retrieval family: BM25 lexical top-k (inverted-index
  *            probe, integer micro-unit scores), SemDeDup semantic
  *            dedup (within-cell pruning over q42's centroid cells),
  *            hybrid lexical+semantic reciprocal rank fusion, the
  *            persisted term-bucketed postings index (q91 ≡ q88 under
  *            one oracle; probe cost O(postings-of-query-terms) via
  *            bucket pruning — the serving path), and the index
  *            maintenance loop (q92: build → probe → append → probe,
  *            df + corpus-stats advanced by signed deltas, each phase
  *            oracle-recomputed monolithically), and MMR diversified
  *            rerank (q93: greedy k-of-candidates, integer-weighted)
  *   q95–q97  sketch-accelerated EXACT operators (SketchExact): bloom-
  *            prefiltered decontamination (q53's one body),
  *            Misra-Gries + exact-recount heavy hitters, and bottom-k
  *            weighted sampling via integer min-hash priorities — the
  *            sketch prunes, a confirm pass restores bit-exactness
  *   q98      ORC interchange round-trip (q75's gate applied to the
  *            second columnar estate format)
  *   q99      decontamination from the PERSISTED benchmark index
  *            (BloomIndex: bucketed shingle table + bloom sidecar,
  *            exchange-free confirm join — q91's serving path for
  *            the sketch layer, same oracle as q53/q95)
  *   q100     stratified weighted sampling (k per source): q97's
  *            priorities under a salted two-phase top-k — the
  *            balanced training-mix sampler, naive-window oracle
  *   q101–q104 clustering arc: deterministic k-means cells (2 unrolled
  *            Lloyd iterations, exact int64 arithmetic, oracle CTEs pin
  *            every intermediate centroid), cluster-balanced sampling
  *            (shared Lloyd CTE text), leakage-safe split by near-dup
  *            GROUP (q103), and SemDeDup over the LEARNED cells (q104
  *            — the full Abbas et al. recipe in-engine)
  *   q105     decontamination APPLY (q53's exact complement; evidence
  *            columns carried for downstream re-weighting)
  *   q106–q108 char-level exact-substring dedup: robust winnowing
  *            fingerprints (SIGMOD'03 — ONE native Catalyst expression
  *            per doc: rolling Karp-Rabin + monotonic-deque window min,
  *            cross-engine exact under the oracle's Horner-fold CTE;
  *            the one hash exchange carries doc-level rows),
  *            cross-document duplicate spans (dup-hash aggregate +
  *            gaps-and-islands, both exchange-free on the persisted
  *            FpIndex bucketed scan), and the keep-first splice APPLY
  *            (foreign spans removed, spliced text hash-pinned)
  *   q109–q110 BPE tokenizer training on the weighted vocabulary (one
  *            corpus pass; merge application = plain replace over a
  *            double-space symbol encoding, exact on both engines;
  *            oracle unrolls the merge chain) and the per-doc apply
  *            (whitespace vs BPE token counts, integer fertility)
  *   q111     LM-quality filter APPLY (q73 detect→apply): drop the
  *            worst 20% by corpus-LM score at a percentile_disc
  *            cutoff over integer micro-nat averages
  *   q112     winnow fingerprint-index MAINTENANCE loop (q87/q92's
  *            proof structure at char granularity): build on history →
  *            probe batch 1 for duplicated spans → append → probe
  *            batch 2, each phase recomputed monolithically by the
  *            oracle — the APPEND path of the persisted FpIndex gated
  *   q113     SemDeDup SERVING form: q104's within-cell prune from the
  *            persisted ClusterIndex (assignment + vectors bucketed by
  *            cid; pair join exchange-free on the bucketed scan) under
  *            q104's oracle string verbatim — the in-query Lloyd chain
  *            (66% of q104) paid once per corpus generation
  *   q114     SAMPLE-trained k-means: Lloyd on a bounded deterministic
  *            bottom-64 priority sample, full corpus broadcast-assigned
  *            once — learning cost corpus-independent, so cell count
  *            can scale with the corpus (the knob's missing half); the
  *            oracle runs the SAME unrolled Lloyd generator over the
  *            sample CTE that q101 runs over the corpus
  *   q115     the composed end-to-end curation pipeline (capstone):
  *            ingest → exact dedup → near-dup cluster apply →
  *            char-span dedup (persisted FpIndex) → benchmark
  *            decontamination (persisted BloomIndex) → corpus-LM
  *            quality filter → leakage-safe group split → source-
  *            weighted epoch mix, one oracle chaining every stage's
  *            EXISTING oracle text (shared CTE constants, so the
  *            standalone queries and the pipeline cannot drift)
  *   q116     cluster-assignment-index MAINTENANCE loop (q112's proof
  *            structure at the vector layer): frozen history-learned
  *            centroids, build bucketed assignment, probe batch 1 for
  *            within-cell dups, append admitted reps, probe batch 2 —
  *            certifying [[graft.streaming.ClusterIndexSink]]'s path
  *   q117     ANN top-k SERVED from the persisted ClusterIndex: cells
  *            ranked against the _CENTROIDS sidecar (broadcast), scan
  *            bucket-pruned to the nprobe probed cells, exact cosine
  *            rerank — q42's IVF shape on the learned generation
  *            artifact, the similarity family's serving path
  *   q118     the CONTINUOUS curation loop (q112's proof structure over
  *            the full per-doc verdict stack of
  *            [[graft.streaming.CurationSink]], whose verdictBatch it
  *            calls directly): frozen LM + cutoff trained on history,
  *            splice vs growing FpIndex history, decontam vs the
  *            stationary BloomIndex, verdict booleans — each phase
  *            recomputed monolithically by the oracle, phase 2's
  *            history including batch 1 exactly because it was appended
  *   q119     image-similarity retrieval over REAL decoded features:
  *            q51's strict PPM decode extended to a 24-dim integer
  *            channel histogram (one mapPartitions pass), then q40's
  *            exact retrieval shape — 8 query images broadcast, exact
  *            int64 dot products, top-3 per query — with the oracle
  *            re-deriving the histograms from the characters through
  *            the codec's closed form (multimodal ∘ similarity)
  *   q120     line-level boilerplate extraction over markup-bearing
  *            text (jusText rule shape): one native codegen'd
  *            expression per doc — split to lines, strip tags,
  *            integer link-density/stopword/length verdicts, kept
  *            lines reassembled + evidence counts; the oracle replays
  *            the line algebra from the expression's own constants;
  *            also q115's s0m markup-aware ingest stage
  *   q121     image SemDeDup SERVED from the persisted image
  *            ClusterIndex: q119's decoded histograms → q114's
  *            sample-trained cells → bucketed assignment + sidecar →
  *            q104/q113's within-cell prune, exchange-free
  *            (multimodal ∘ clustering ∘ dedup)
  *   q122     BPE at PRODUCTION depth: trainDeep's in-memory
  *            incremental loop through 100 merges over the trigram
  *            units, hash-gated by a 100-step MATERIALIZED unrolled
  *            CTE chain from the same generator as q109/q110
  *   q123     the MIXED text+image curation capstone: q115's chain
  *            verbatim plus stage s2i, attachment-level image
  *            SemDeDup served from the persisted image ClusterIndex
  *   q124     BPE vocabulary-cap path at production depth: capVocab's
  *            top-N cut hash-gated by its own 100-step materialized
  *            chain
  *   q125     image-cluster-index maintenance loop (q116's proof
  *            structure at the multimodal layer; certifies
  *            ImageDedupSink's per-micro-batch path)
  *   q126     audio SemDeDup SERVED from the persisted audio
  *            ClusterIndex: q52's REAL WAV decode folded to an
  *            order-sensitive 8-frame energy envelope → q114's
  *            sample-trained cells → q104/q113's within-cell prune,
  *            exchange-free (the third modality in the matrix)
  *   q127     audio-cluster-index maintenance loop — ONE shared loop
  *            body and oracle generator with q125, so the image and
  *            audio admission semantics cannot drift; certifies
  *            AudioDedupSink's per-micro-batch path
  *   q128     the TRIMODAL curation capstone: q123's chain plus stage
  *            s2a, audio-attachment dedup from the persisted audio
  *            ClusterIndex (overlapping attachment moduli — some docs
  *            carry both; a doc ships only if every modality it
  *            carries survives); oracle chains all three estates'
  *            CTE generators under one hash
  *   q129     video SemDeDup SERVED from the persisted video
  *            ClusterIndex — the fourth modality: GVID frame
  *            container walked with stride-2 SAMPLING (non-sampled
  *            frames skipped by declared length, never parsed —
  *            spec-pinned by corrupting them), sampled frames'
  *            per-channel pixel sums as the 12-dim spatiotemporal
  *            feature, then the shared cells/prune machinery
  *   q130     video-cluster-index maintenance loop — the shared
  *            modal loop body/oracle generator at dims=12; certifies
  *            VideoDedupSink's per-micro-batch path
  *   q131     the QUADMODAL capstone: q128's chain plus stage s2v —
  *            every modality the engine supports (text, image, audio,
  *            video) through one composed run, each non-text modality
  *            pruned from its own persisted ClusterIndex; oracle
  *            chains all four estates' generators under one hash
  *   q132     image ANN top-k SERVED from the persisted image
  *            ClusterIndex — q117's bucket-pruned probe (shared
  *            annProbeFrom, shared dims-parameterized oracle tail) at
  *            the multimodal layer: the LAION-style image-similarity
  *            query path
  *   q133     the WIDE typed multimodal record: one row per doc with
  *            each modality a NULLABLE opaque binary column
  *            (Dataset[MultimodalRecord], Option[Array[Byte]]
  *            fields), decoded in one sparse pass touching only
  *            present attachments; all three codecs' stats and the
  *            null pattern under one oracle hash
  *   q134     multimodal sequence packing: q58's two-phase prefix sum
  *            (ONE shared packBins body) over interleaved-sample
  *            token costs — text tokens + fixed per-modality token
  *            budgets (the vision-token batching rule), budget 512
  */
object SparkEntry {

  val allQueries: Seq[QueryDef] =
    Relational.defs ++ Waterfall.defs ++ Runner.defs ++ Bridge.defs ++
      Labs.defs ++ TextAnalysis.defs ++ Dedup.defs ++ Similarity.defs ++
      Multimodal.defs ++ Events.defs ++ RangeJoin.defs ++ Analytic.defs ++
      Interchange.defs ++ Curation.defs ++ Retrieval.defs ++
      SketchExact.defs ++ Clustering.defs ++ Winnow.defs ++ Bpe.defs ++
      CurationPipeline.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q32_quality_score")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
