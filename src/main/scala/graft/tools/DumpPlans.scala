package graft.tools

import graft.Sessions
import org.apache.spark.sql.execution.FormattedMode

/** Regenerates docs/PLANS.md: formatted physical plans for the
  * scale-critical queries, with the properties we require of each. */
object DumpPlans {
  val cases: Seq[(String, String)] = Seq(
    "q02_filter" -> "All predicates reach the parquet scan (PushedFilters).",
    "q07_join3" -> ("Dimension tables broadcast; lineitem never shuffles before partial " +
      "aggregation. At cluster scale AQE swaps in sort-merge when a side outgrows the threshold."),
    "q09_tpch1" -> "Canonical partial->final HashAggregate pair around a single exchange.",
    "q18_topk" -> "Pre-aggregated revenue joins |orders| rows, TakeOrderedAndProject caps the sort at k=5.",
    "x03_minhash_lsh" -> "LSH band join shuffles on (band, bucket) - cost scales with bucket sizes, never n^2.",
    "x06_embed_nn" -> ("vec_dot inside WholeStageCodegen over a broadcast nested-loop; partial max(struct) " +
      "aggregation means one row per query id crosses the exchange."),
    "q22_zarr_scan" -> ("Zarr BatchScan plans only the selected cells (ZarrScan description shows cell " +
      "count after pushdown); the lat predicate is consumed by the source, not a post-scan Filter."),
    "x02_jaccard_pairs" -> ("sorted_intersect_count (custom codegen merge) inside the nested-loop join; " +
      "the size-ratio prefilter sits in the join condition, before the merge."),
    "x34_ivf_topk" -> ("IVF: centroid assignment is a broadcast join + packed-long max HashAggregate " +
      "(no window over the corpus); the search is a cell equi-join."),
    "x36_range_join" -> ("Point-in-interval via bucket explode + shuffled equi-join on the bucket + exact " +
      "range re-check - a bare range predicate would plan a nested-loop over the cross product."),
    "x15_rollup" -> ("Rollup levels re-aggregated from the finest-grain partials (one fact scan, reused " +
      "exchange) instead of a 3x Expand of every input row."),
    "x53_dup_spans" -> ("Span contamination: the shuffle key is the 60-bit span HASH (narrow), never the " +
      "8-gram string; distinct + count are both hash-partitioned on it."),
    "x51_repetition" -> ("Repetition metrics per ROW (sorted-run fold in one projection, no shuffle) - " +
      "the explode+groupBy formulation the oracle uses would shuffle the whole token stream."),
    "x05_ann_topk" -> ("LSH bucket ids via ONE codegen expression (lsh_bucket sign-matrix loop) feeding a " +
      "bucket equi-join; multi-probe explodes query-side masks only."),
    "q28_zarr_stations" -> ("STRING coordinate membership predicate consumed by the source (refineStr " +
      "index pruning) - no post-scan Filter; the grouped aggregate runs over only the 3 kept stations' cells."),
    "q30_zarr_complex" -> ("Complex struct<re,im> cells flow from the columnar Zarr reader through " +
      "ColumnarToRow into codegen field projections - components never materialize as separate scans."),
    "q32_zarr_write_sharded_strings" -> ("Sharded STRING scan: vlen inner chunks resolve through the same " +
      "shard byte-range index as numeric - one ranged GET per inner chunk, index cached per shard version."),
    "q34_zarr_categorize" -> ("Categorize-filtered labels: the scan decodes u1 CODE bytes (1 B/cell on " +
      "store) to strings inside the source - no join against a label table, nothing but the scan in the plan."),
    "q35_zarr_struct" -> ("Structured cells surface as struct<...> from the columnar Zarr reader " +
      "through ColumnarToRow; subfield projections are codegen GetStructField - fields never " +
      "become separate scans or joins."),
    "q37_zarr_label_range" -> ("Lexicographic >=/< on a string label axis consumed by the source " +
      "(chunk-stats pruning) - the ZarrScan cell count reflects the slice, no post-scan Filter."),
    "x57_decontam_bloom" -> ("Bloom decontamination: the definitely-clean branch is scan + " +
      "might_contain predicate with NO join or exchange; only the fpp-bounded positive sliver " +
      "reaches the anti-join. The corpus never shuffles in full."),
    "q38_zarr_aligned" -> ("Aligned multi-array scan: ONE BatchScan emits [t, x, temp, hum] — the " +
      "join-free replacement for the per-array long-format self-join; the pushed t-range prunes " +
      "both arrays' chunk reads together (ZarrScan cell count reflects the slice)."),
    "q39_zarr_agg_pushdown" -> ("Aggregate pushdown: grouped count/min/max/count-distinct over dim " +
      "columns with absorbed predicates compile to a LocalTableScan — ZERO tasks, zero chunk " +
      "opens. No BatchScan, no HashAggregate over data in the plan."),
    "q40_zarr_stats_prune" -> ("Chunk-statistics zone maps: the value predicate stays a residual " +
      "Filter (row-exactness) but the ZarrScan carries statsPruned=[...] — chunks whose [min,max] " +
      "cannot match are never opened, the parquet-zone-map shape at zarr-chunk granularity."),
    "q41_zarr_string_prune" -> ("STRING zone maps: byte-lexicographic per-chunk bounds absorb " +
      "prefix and range predicates on vlen-utf8 values (statsPruned on the ZarrScan); the " +
      "residual Filter keeps row exactness while pruned chunks are never decoded."),
    "q42_zarr_append" -> ("Append-grown store (create + chunk-aligned append + idempotent " +
      "replay): the scan over the grown array is the same single BatchScan with the pushed " +
      "i-range — appended slabs are indistinguishable from created ones."),
    "x71_seg_dedup" -> ("Global segment dedup: the first-occurrence winner per segment hash is a " +
      "min(struct) aggregate (map-side partials — sort-based because struct min has no mutable " +
      "hash buffer, but still partial-before-exchange, so a boilerplate hash never sorts its " +
      "full row set in one task); survivors join back on the 60-bit hash, never the string."),
    "x74_inverted_index" -> ("Bounded inverted index: tf is one (token, doc) HashAggregate pair; " +
      "df/cf/top-k postings come from ONE ObjectHashAggregate pair (bounded-heap TopKStructs) — " +
      "at most k postings per token per partition cross the exchange, no row_number window."),
    "x75_rolling_time" -> ("Time-RANGE rolling features: a single hash exchange on user_id, one " +
      "per-partition sort, Window operators with RANGE frames — no global sort, no join; the " +
      "decimal-routed sum keeps the sliding aggregate exact."),
    "x79_embed_cov" -> ("Distributed covariance: per-row Generate (d(d+1)/2 upper-triangular " +
      "products) feeding a partial->final HashAggregate on (i, j) — the shuffle carries only " +
      "O(dim^2) rows per partition regardless of corpus size; no collect before the final " +
      "dim^2-bounded result."),
    "x82_feature_hash" -> ("Feature hashing: explode -> two HashAggregate pairs (token tf, then " +
      "bucket sums) — no vocabulary table, no join, no broadcast anywhere in the plan; the " +
      "output is bounded by |docs| x dim."),
    "x88_quality_score" -> ("Learned linear classifier, literal path: the whole logit is ONE " +
      "per-row fold (aggregate over the token array, weights as plan literals) in a codegen " +
      "Project directly over the scan — no shuffle, no broadcast, no feature materialization; " +
      "the only exchange is the verification ORDER BY."),
    "x89_quality_score_sparse" -> ("Learned linear classifier, fasttext-scale path: hashedTf's " +
      "HashAggregate pair, a BroadcastHashJoin against the (bucket, weight) table, one per-doc " +
      "sum, and a broadcast LEFT join back so zero-token docs score bias — the corpus shuffles " +
      "once on (id, bucket) partials, never on raw tokens."),
    "x90_bpe_budget" -> ("Real BPE token counts: BpeCount is a codegen expression calling the " +
      "static merge-loop encoder — the regex estimates and the exact count are all one " +
      "WholeStageCodegen Project over the scan, no shuffle before the verification sort."),
    "x91_decon_ngram" -> ("13-gram decontamination: reference gram hashes build via a tiny local " +
      "aggregate and BROADCAST; the corpus explodes to (id, hash) rows that die in a " +
      "BroadcastHashJoin LeftSemi, the distinct is over contaminated ids only, and the final " +
      "anti-join is broadcast too — the corpus never shuffles in full."),
    "x92_curation_funnel" -> ("Curation funnel audit: ONE exchange (the text-key window ranking " +
      "passers), a broadcast fingerprint join, then partial->final HashAggregate down to a " +
      "single counters row — no per-stage re-scan of the corpus."),
    "x93_chunk_docs" -> ("Token-window chunking: per-row transform + Generate (explode) in " +
      "codegen over the scan — fan-out ceil(n/stride) per doc, no shuffle, no state before " +
      "the verification sort."),
    "x94_pack_bpe" -> ("Packing on EXACT BPE counts: the BpeCount codegen expression feeds the " +
      "same single-exchange window cumulative sum as x62 — swapping the estimate for the real " +
      "tokenizer count changes NOTHING in the plan shape, only the counted column."),
    "x95_temperature_mix" -> ("Temperature mixture: one |groups|-bounded count aggregate " +
      "(driver-collected like resampleToMix's own share join), then a single per-row hash " +
      "filter over the scan — sampling never shuffles the corpus."),
    "x96_ivf_sqrtn" -> ("IVF at the sqrt(N) cell contract: centroid assignment is a broadcast " +
      "join + packed-long max HashAggregate and the search a cell equi-join — same plan shape " +
      "as x34, but the cell count derived from the corpus keeps per-cell candidate volume " +
      "~sqrt(N), the parameterization that survives 100x (ROUND12.md)."),
    "x97_ivf_auto" -> ("ivfTopKAuto (iters=0): the derived-sqrt(N) convenience plans EXACTLY " +
      "like x96 — a TakeOrdered(k) seed pick, broadcast assignment + packed-long max, cell " +
      "equi-join; the corpus-derived cell count rides in as literals, adding no operator."),
    "x98_bpe_ids" -> ("BPE token ids: BpeTokens (codegen merge loop) -> transform + " +
      "element_at over the PLAN-LITERAL vocab map -> posexplode, all one WholeStageCodegen " +
      "Generate chain over the scan — no join against a vocab table, no broadcast, no " +
      "shuffle before the verification sort."),
    "q35b_zarr_struct_shaped" -> ("Per-field-SHAPED structured cells: numpy subarray fields " +
      "surface as nested arrays from the columnar Zarr reader through ColumnarToRow; element " +
      "projections are codegen GetArrayItem/GetStructField — no explode, no join, the scan " +
      "is still the only data operator."),
    "x99_bpe_train" -> ("BPE training: the plan below is the LEARNED MERGE TABLE (training " +
      "runs at build time, so the result is a local relation — 6 rows). The distributed " +
      "work is bpeWordCounts' single explode(bpe_words) -> partial->final HashAggregate " +
      "pair; the merge loop iterates on its vocabulary-bounded collect, never rescanning " +
      "the corpus."),
    "x100_pq_adc" -> ("IVFADC: cell assignment is the x97 broadcast + packed-long max shape; " +
      "pq_assign (codegen, codebook rides the plan) encodes candidates to m ints, so the " +
      "cell equi-join shuffles ~12-byte payloads instead of 256-byte float vectors; " +
      "pq_adc_dot scores pairs inside WholeStageCodegen — no LUT table join, no second " +
      "corpus pass."),
    "x101_decon_fuzzy" -> ("Fuzzy decontamination: reference grams broadcast as STRINGS " +
      "(fuzziness needs text); the corpus explodes to (id, gram) and dies in a " +
      "BroadcastNestedLoopJoin LeftSemi whose condition runs the length-band prune BEFORE " +
      "levenshtein — only contaminated ids shuffle into the anti-join."),
    "x102_dsir_select" -> ("DSIR selection: model fitting is two B-bounded count aggregates " +
      "(collected at build time); scoring is ONE per-row fold over the gram array with " +
      "lambda as a plan literal (the x88 literal-weights shape — no shuffle, no broadcast, " +
      "no feature vector), and the Gumbel-top-k cut plans as TakeOrderedAndProject — " +
      "per-partition k-heaps, never a global sort of the corpus."),
    "x103_approx_distinct" -> ("HLL++ approximate distinct: ONE partial->final " +
      "ObjectHashAggregate pair — fixed-size sketch registers merge map-side, so only " +
      "sketches (plus the audit's exact-distinct expand) cross the exchange; the production " +
      "approxDistinct path drops the exact side entirely."),
    "x104_ann_recall" -> ("ANN recall audit: both top-k inputs are k-bounded per query, so " +
      "the audit itself is one (qid, cid) equi-join plus two per-qid count aggregates over " +
      "k*|queries| rows — no vectors, no pair volume; the expensive operand is the exact " +
      "baseline (brute-force BNLJ), which runs on the deterministic 1-in-10 query sample."),
    "x105_hard_negatives" -> ("Hard-negative mining: the x97 IVF shape (broadcast " +
      "assignment + packed-long max, cell equi-join) with the label riding as ONE extra " +
      "column and the mismatch predicate INSIDE the join condition — the ranking heap then " +
      "aggregates cell-locally with zero exchange, same as ivfTopK."),
    "x106_keyword_tag" -> ("Aho-Corasick tagging: keyword_matches is ONE codegen expression " +
      "over the scan (the automaton rides the plan) feeding a Generate — no join against a " +
      "term table, no per-term scan, no shuffle before the verification sort."),
    "x117_rrf_fusion" -> ("RRF hybrid fusion: both retrieval inputs arrive k-bounded per " +
      "query (BM25 topKPerKey heap + brute-force broadcast ranking), so the fusion is a " +
      "union of |q|·k skinny (qid, did, decimal) rows into ONE partial->final aggregate " +
      "and the bounded topKPerKey heap — text, postings and vectors never cross the " +
      "fusion exchange."),
    "x119_domain_filter" -> ("Domain curation: per-domain decimal mean via one " +
      "partial->final aggregate keyed on the derived domain; the bad-domain side then " +
      "BROADCASTS into a left-anti hash join over the corpus scan — the corpus shuffles " +
      "zero times when the bad set is small (the common case)."),
    "x122_budget_select" -> ("Token-budget selection: the per-score histogram is a " +
      "partial->final aggregate (map-side combine, |distinct scores| rows); the kept set " +
      "is a plain codegen Filter above the driver-derived threshold UNIONed with the one " +
      "boundary-score layer, whose running-sum window sorts ONLY that layer — no global " +
      "sort of the corpus anywhere in the plan."),
    "x123_incr_semdedup" -> ("Incremental SemDeDup: batch cell assignment is the x97 " +
      "broadcast + packed-long max shape; both confirm joins are cell-keyed equi-joins " +
      "(index side big, never broadcast), and the final anti-join keys on the id — raw " +
      "history never enters, only its (id, vec, cell) index rows."),
    "x128_train_score" -> ("Classifier training + scoring: the plan shown is the SCORING " +
      "half (training happens in per-step jobs: one hashedTf pass into a localCheckpoint, " +
      "then per step ONE partial->final vec_sum128 aggregate — 2·(dim+1) longs per " +
      "partition cross the exchange, no doc rows). Scoring is hashedTf's groupBy + a " +
      "BROADCAST join against the 64-row trained weight frame + one per-doc sum — the " +
      "x89 sparse shape with learned weights."),
    "x129_mrl_rerank" -> ("Matryoshka funnel: stage 1 scores PREFIX slices inside " +
      "WholeStageCodegen over a broadcast nested-loop (queries broadcast, 1/4 the dot " +
      "flops), the bounded topKPerKey heap keeps 20/query; stage 2 joins ONLY those " +
      "sliver rows back to full vectors (two column-pruned scans) for the exact rerank — " +
      "full-dim vectors never enter the candidate-volume join."),
    "x130_doremi_mix" -> ("DoReMi mixture: ONE partial->final aggregate keyed on the " +
      "derived domain (decimal-exact loss sums, map-side combine); the multiplicative-" +
      "weights loop is driver scalar arithmetic over the bounded domain table and the " +
      "result is a LocalTableScan — no second corpus pass, no shuffle beyond the one " +
      "domain aggregate."),
    "x132_doremi_resample" -> ("Learned mixture applied: the plan shown is the RESAMPLE " +
      "half (the doremiMix learn pass is its own bounded-aggregate job, the x130 shape). " +
      "The |domains|-bounded rate table BROADCASTS into one hash join over the scan and " +
      "the md5 membership test is a codegen Filter — the group expression (a regex " +
      "urlDomain) evaluates ONCE per row as the join key. The per-group when-chain this " +
      "replaced evaluated it once per BRANCH per row: >30 min at 60M rows x 65 domains, " +
      "now minutes (ROUND16.md item 8)."),
    "x133_train_mix" -> ("The fully-learned chain (train -> score -> learn mixture -> " +
      "resample): training and the mixture loop are bounded-aggregate jobs (x128/x130 " +
      "shapes); the plan shown is the final apply — scoring's broadcast weight join " +
      "feeding the broadcast rate join + hash filter. Corpus passes stay count-bounded " +
      "(one per stage), never per-group or per-step over raw text."),
    "x135_perplexity" -> ("Bigram-LM perplexity: the model is two count aggregates " +
      "(map-side partials; shuffle bounded by distinct bigrams), scoring is the token " +
      "explode joined to the model on (prev, tok) then prev — broadcast at this SF, " +
      "plain hash joins when the model outgrows it — and fixed_log2 is a codegen " +
      "expression inside the projection, so the per-doc NLL sum is one integer " +
      "HashAggregate. No window, no collect, nothing corpus-pairwise."),
    "x141_kneser_ney" -> ("Interpolated Kneser-Ney: all FOUR statistic frames (model, " +
      "context totals+fan-outs, continuation counts, the 1-row discount/type scalars) " +
      "are model-sized aggregates of the one (prev, tok, cnt) table — broadcast at this " +
      "SF, standard hash joins when the model outgrows them. Scoring is the token " +
      "explode + three left joins + the scalar cross-broadcast; the DECIMAL(38,0) " +
      "numerator and both fixed-point logs (fixed_log2 + the 128-bit fixed_log2_dec) " +
      "are codegen expressions inside one projection, so per-doc NLL is again a single " +
      "integer HashAggregate. The corpus shuffles once (the doc_id sum); nothing " +
      "corpus-pairwise, nothing collected."),
    "x144_lm_distill" -> ("The distillation chain (LM -> KN buckets -> labels -> " +
      "integer-GD training -> scoring): labeling and training are their own bounded-" +
      "aggregate jobs (the x141 KN shape feeding the x128 VecSum128 training shape — " +
      "one corpus pass per GD step, driver holds only the weight vector). The plan " +
      "shown is the final apply: scoring's broadcast weight join over hashedTf. Corpus " +
      "passes stay count-bounded (label pass + steps + score), never per-group."),
    "x149_witten_bell" -> ("Witten-Bell smoothing: the x141 shape minus the discount " +
      "scalars — the same four model-sized stat aggregates, token explode + three left " +
      "joins + the 1-row (T, V) cross-broadcast; the fan-out weights are plain count " +
      "columns already in the context frame, so NO extra join or aggregate vs KN, and " +
      "the DECIMAL(38,0) numerator products are smaller (no 2^S factor). One corpus " +
      "shuffle (the per-doc sum), nothing collected."),
    "x147_lm_curate" -> ("LM-gated curation (the full CCNet deployment): the keyed-KN " +
      "scoring chain (x141's shape with lang keys) feeds the per-lang tercile " +
      "boundaries (one grouped quantile aggregate, lang-sized broadcast back), the " +
      "head+middle id set semi-joins the corpus, and the survivors run the x65 curate " +
      "chain — quality gate in a codegen Filter, exact-dedup window on the text key, " +
      "LSH band equi-join (bucket-bounded pair volume), broadcast fingerprint " +
      "anti-join, |langs|-bounded resample rate broadcast, hash-split projection. " +
      "Every pair-generating stage stays bucket- or broadcast-bounded; the corpus " +
      "never cross-joins."),
    "x150_excess_ppl" -> ("Excess-perplexity selection (RHO-1 signal): two independent " +
      "add-one score passes (token explode + model joins + per-doc integer sum each), " +
      "one equi-join on doc_id, and the top-200 cut is a TakeOrderedAndProject — the " +
      "k-bounded heap, never a global sort of the corpus."),
    "x152_curriculum" -> ("Curriculum interleave: NO single-partition window — the " +
      "per-source rank is a window over fine-grained (source, difficulty) partitions " +
      "plus a broadcast cumulative-offset frame, and the global position is closed-form " +
      "per-row arithmetic (aggregate/filter HOFs) over ONE broadcast per-source-count " +
      "array. The two whole-frame windows exist only in the oracle's definition."),
    "x153_vocab_growth" -> ("Vocabulary growth: the corpus-sized work is one token-keyed " +
      "min-bucket aggregate (map-side partials bound the shuffle by distinct types per " +
      "partition) + one per-bucket count; the only unpartitioned window runs on the " +
      "<=nBuckets-row aggregate, never the corpus."),
    "x157_contam_report" -> ("Contamination attribution: the reference's (suite, gram-hash) " +
      "rows broadcast; corpus (id, gram-hash) rows die in the map-side hash join unless " +
      "contaminated, so the only exchange is the per-(doc, suite) count aggregate — " +
      "bounded by HIT volume, never the corpus gram stream."),
    "x165_epoch_budget" -> ("Multi-epoch curriculum budget: full epochs explode the tier " +
      "frame per epoch; the partial-epoch cut is a two-level driver walk (tier histogram, " +
      "then fixed-range hash buckets — uniform by construction, no quantile job) and only " +
      "the boundary BUCKET's rows pay an ordered window, inside the one materialization of " +
      "the assignment frame; per-epoch positions are closed-form (a (epoch, tier, bucket) " +
      "offset join + a fine-grained rank), so the FINAL plan has no global sort at all " +
      "(PlanContractsSpec pins this)."),
    "x166_datasheet" -> ("Per-source corpus datasheet: ONE corpus read — the per-doc frame " +
      "is materialized once and all three metric streams (quality/token projection, " +
      "novelty's shingle-df aggregate + join, the broadcast contamination gram join) read " +
      "stored rows; the final plan contains zero parquet scans (PlanContractsSpec pins " +
      "this). Aggregation is two-level (source, lang) -> source, with the dominant " +
      "language a deterministic max(struct)."),
    "x167_datasheet_diff" -> ("Before/after curation datasheet diff: each card is the x166 " +
      "one-read shape over its own checkpoint (the after-card's input chain — quality " +
      "filter, text-keyed dedup window, broadcast 13-gram scrub — runs inside that " +
      "checkpoint job); the final plan is a |sources|-sized left join of the two card " +
      "aggregates, zero parquet scans (PlanContractsSpec pins this)."),
    "x168_source_overlap" -> ("Cross-source overlap matrix: signatures build once into a " +
      "checkpoint (estimatedJaccard's contract); the final plan is the band-bucket " +
      "candidate equi-join (pair volume = sum of bucket sizes squared, never n^2), two " +
      "id-keyed source attaches, and a K(K+1)/2-row aggregate — no window, no global " +
      "sort, nothing text-keyed after signature construction."),
    "x170_unimax" -> ("UniMax budget allocation: the ONE corpus pass (groupBy(source) " +
      "count+sum with map-side partials) happens inside the operator's bounded collect; " +
      "the waterfill is driver scalar arithmetic over the maxGroups-bounded source table " +
      "and the returned per-source frame is a LocalRelation — the FINAL plan is a " +
      "LocalTableScan with zero exchanges and zero parquet scans (PlanContractsSpec pins " +
      "this)."),
    "x171_unimax_select" -> ("UniMax materialization: full epochs are a broadcast join of " +
      "the tiny (source, k, rem) plan table + a conditional sequence explode (bounded " +
      "maxEpochs fan-out, no shuffle); the partial-epoch cut joins a broadcast " +
      "(source, boundary-bucket, residual) table and only each source's BOUNDARY bucket " +
      "(~1/1024 of the source) pays an ordered window, partitioned BY SOURCE so cuts run " +
      "in parallel — no SinglePartition sort anywhere (PlanContractsSpec pins this); the " +
      "corpus feeds from the operator's one checkpoint.")
  )

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("8")
    val d = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb ++= "# Physical plans of scale-critical queries\n\n"
    sb ++= "Generated by `graft.tools.DumpPlans` (sf0.01 inputs; plan shapes are\n"
    sb ++= "size-independent except where AQE swaps join strategies at runtime).\n"
    sb ++= "Each plan is AQE's initial plan (`isFinalPlan=false`): the plan is printed\n"
    sb ++= "before it runs, so it shows no final join choices, codegen stages or\n"
    sb ++= "`ColumnarToRow`. A Zarr scan's partition plan names the parallelism of\n"
    sb ++= "the generating session (`local[8]` here), so its partition counts differ\n"
    sb ++= "on other sessions.\n"
    cases.foreach { case (q, why) =>
      sb ++= s"\n## $q\n\n$why\n\n```\n"
      sb ++= graft.SparkEntry.queries(q)(spark, d).queryExecution.explainString(FormattedMode).trim
      sb ++= "\n```\n"
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("docs"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("docs/PLANS.md"), sb.toString)
    println("wrote docs/PLANS.md (" + sb.length + " chars)")
    spark.stop()
  }
}
