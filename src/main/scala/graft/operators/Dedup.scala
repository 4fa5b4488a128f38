package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Materialize.StageSyntax

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All operators are single-shuffle designs: exact dedup shuffles once on the
  * key; MinHash-LSH shuffles on band buckets (never all-pairs); SimHash is a
  * pure per-row signature. Nothing materializes on the driver, so behavior is
  * identical at 60k rows and 100 TB — only partition counts change.
  */
object Dedup {

  /** Hash-repartition with an EXPLICIT partition count. Compute-heavy
    * per-row stages (shingling, md5, pairwise merges) must not run at the
    * input's file-partition count: a small table is one parquet file = one
    * partition, and AQE would coalesce a count-less repartition back to one
    * partition because the rows are small by BYTES while the cost here is
    * CPU per row. */
  private def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** Exact dedup: keep one row per key set (lowest tie-breaker wins).
    * Hash-partitioned window — one shuffle, streaming-friendly row_number. */
  def exact(df: DataFrame, keys: Seq[String], tieBreaker: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tieBreaker))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact dedup keeping a duplicate count per retained row. */
  def exactWithCounts(df: DataFrame, keys: Seq[String], tieBreaker: String): DataFrame = {
    val p = Window.partitionBy(keys.map(col): _*)
    val w = p.orderBy(col(tieBreaker))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(p))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** 60-bit stable token hash shared with the DuckDB oracle:
    * lower 15 hex digits of md5, base-16 → long. */
  def tokenHash60(c: Column): Column =
    conv(substring(md5(c), 18, 15), 16, 10).cast("long")

  /** doc → word n-gram shingle rows (`doc_id`, `s`), duplicates included —
    * no shuffle. Consumers that need set semantics dedup on the cheapest
    * adequate representation (minhash needs none; simhash dedups on the
    * 64-bit hash, not the string). */
  def shingleRowsRaw(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val withTk = docs.select(col(idCol), split(col(textCol), " ").as("tk"))
    withTk
      .select(
        col(idCol),
        explode(
          when(
            size(col("tk")) >= n,
            expr(
              s"transform(sequence(0, size(tk) - $n), i -> concat_ws(' ', ${(0 until n).map(j => s"tk[i + $j]").mkString(", ")}))"
            )
          ).otherwise(array().cast("array<string>"))
        ).as("s")
      )
  }

  /** doc → distinct word 3-gram shingle rows (`doc_id`, `s`). */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shingleRowsRaw(docs, idCol, textCol, n).distinct()

  /** doc → ONE row with the sorted distinct int64 shingle-hash set — built
    * per-row with array functions (no explode, no shuffle), ready for
    * [[graft.functions.SortedIntersectCount]] merge-counting. */
  def shingleHashSets(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val withTk = spread(docs, idCol).select(col(idCol), split(col(textCol), " ").as("tk"))
    val shingles = when(
      size(col("tk")) >= n,
      expr(
        s"transform(sequence(0, size(tk) - $n), i -> concat_ws(' ', ${(0 until n).map(j => s"tk[i + $j]").mkString(", ")}))"
      )
    ).otherwise(array().cast("array<string>"))
    withTk.select(
      col(idCol),
      sort_array(array_distinct(transform(shingles, s => xxhash64(s)))).as("sh")
    )
  }

  /** Per-document n-gram NOVELTY — the fraction of a doc's distinct word
    * n-gram shingles that appear in NO other document. The measurement
    * side of the dedup stack: after a near-dup pass, surviving docs
    * should read high (their content is theirs alone); a corpus-wide
    * novelty histogram quantifies residual cross-doc duplication that
    * pairwise dedup missed (templated spans, quote chains), and a
    * per-source average localizes which source ships boilerplate.
    *
    * `novelty = novel / n_shingles` (novel = shingles with corpus
    * document-frequency 1), rounded to 6 dp. Docs with fewer than `n`
    * tokens have no shingles and emit NO row (no defined ratio) — the
    * [[shingleRows]] convention.
    *
    * 100 TB shape: one distinct-(doc, shingle) pass, one shingle-keyed
    * document-frequency aggregate (map-side partials bound the shuffle
    * by distinct shingles per partition), one join back on the shingle
    * key, one per-doc sum — all linear in shingle occurrences, nothing
    * pairwise. A hot shingle's row fan-in is its df, the same skew unit
    * as [[graft.operators.TextAnalysis.invertedIndex]]'s postings. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, n)
    val df = sh.groupBy("s").agg(count(lit(1)).as("__df"))
    sh.join(df, "s")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("novel_shingles")
      )
      .withColumn(
        "novelty",
        round(col("novel_shingles").cast("double") / col("n_shingles"), 6)
      )
  }

  /** Affine hash family used by minhash (small moduli keep ANSI-safe int64
    * arithmetic identical in Spark and the SQL oracle). The first 8
    * coefficients are the fixed values the oracles pin; [[minhashA]] /
    * [[minhashB]] extend the family splittably (pure function of the index,
    * no RNG state) so any `numHashes` up to [[MinhashMaxK]] is available.
    *
    * The multipliers MUST be large and mixed, and the shingle-hash domain
    * MUST be [1, p-1] — both learned the hard way (`Spike incr-planted` at
    * 2.2M docs). The original family reduced shingle hashes mod 100003 >
    * p = 99991 with multipliers 7..919: h = 0 mapped to the constant b_i
    * under EVERY permutation, values in [99991, 100003) aliased to 0..11,
    * and for any h below ~p/919 no permutation ever wrapped, so a_i·h+b_i
    * was monotone in h across ALL components — any two docs sharing one
    * small-enough shingle hash (p ≈ 1e-6/pair) got FULLY IDENTICAL
    * signatures regardless of content. Invisible at oracle scale, ~17k
    * false duplicate pairs at 2M x 200k (and one giant band bucket — a
    * skew bomb). With h in [1, p-1] and large mixed multipliers every
    * permutation wraps many times over the domain, so a shared shingle
    * can only win a component's min with p ≈ (1/|A|)(1/|B|) independently
    * per component. */
  val MinhashAs: Seq[Int] = Seq(45007, 28411, 61981, 83777, 17093, 92503, 37889, 70589)
  val MinhashBs: Seq[Int] = Seq(21011, 47303, 9209, 88873, 30259, 65537, 54013, 77351)
  val MinhashP2 = 99991

  /** Shingle hashes reduce to [1, [[MinhashP2]] - 1] — `h % (p-1) + 1`:
    * never 0 (the affine fixed point) and never >= p (no aliasing). */
  val MinhashHashMod: Int = MinhashP2 - 1
  val MinhashMaxK = 512

  /** i-th multiplier: fixed table below 8, derived above — deterministic,
    * so executors agree without shipping state. Derived values below
    * [[MinhashAFloor]] are REHASHED (stepping by a prime coprime to
    * p-1, so the probe walks every residue and provably terminates): a
    * small multiplier never wraps small h, partially reintroducing the
    * monotone-permutation pathology the fixed table was chosen to kill
    * — every component must be well-mixed at any k up to
    * [[MinhashMaxK]], not just the first 8. */
  def minhashA(i: Int): Long =
    if (i < MinhashAs.length) MinhashAs(i).toLong
    else {
      var j = 0L
      var a = 0L
      do {
        a = (i.toLong * 2654435761L + 104729L + j * 7691L) % (MinhashP2 - 1) + 1
        j += 1
      } while (a <= MinhashAFloor)
      a
    }

  /** Minimum derived multiplier: h below p/a never wraps permutation i,
    * so a ≥ 1000 keeps the no-wrap band under ~0.1% of the domain. */
  val MinhashAFloor = 1000L

  /** Version of the minhash FAMILY (multipliers + hash domain) — bumped
    * whenever signature VALUES change for the same text (v1: original,
    * degenerate; v2: round-13 domain/multiplier fix; v3: derived-
    * multiplier floor for k > 8). [[minhashSignatures]] stamps it as
    * column METADATA on every m_i (metadata survives parquet and
    * saveAsTable round-trips and costs nothing in the data), and
    * [[incrementalNearDup]]/[[incrementalNearDupAudit]] REFUSE an index
    * whose stamp is missing or different: a persisted index from an old
    * family joined with new-batch signatures estimates ~0 Jaccard
    * everywhere, so known duplicates silently re-enter the corpus —
    * the failure must be loud. MIGRATION after a family bump: rebuild
    * the index with one `minhashSignatures` pass over the surviving
    * corpus text (signatures are deterministic; no dedup re-run). */
  val MinhashFamilyVersion = 3L
  val MinhashFamilyKey = "graft.minhash.family"

  /** Loud family check for externally-persisted signature frames (see
    * [[MinhashFamilyVersion]]). */
  private[graft] def requireSignatureFamily(
      sig: DataFrame,
      what: String,
      sigCols: Seq[String]
  ): Unit =
    sigCols.foreach { c =>
      val m = sig.schema(c).metadata
      val v = if (m.contains(MinhashFamilyKey)) m.getLong(MinhashFamilyKey) else -1L
      require(
        v == MinhashFamilyVersion,
        s"$what: signature column $c carries minhash family " +
          s"${if (v < 0) "NONE (unversioned)" else v.toString}, engine family is " +
          s"$MinhashFamilyVersion — mixed families estimate ~0 Jaccard against fresh " +
          "signatures and silently re-admit known duplicates; rebuild the persisted " +
          "signature index with the current engine (one minhashSignatures pass over " +
          "the surviving corpus text). EXCEPTION: a v2-STAMPED index built with " +
          "numHashes <= 8 is VALUE-identical to v3 (the derived-multiplier floor " +
          "only changes multipliers for i >= 8; the fixed table is unchanged), so it " +
          "may be re-stamped in place — one metadata-only rewrite, no corpus re-scan. " +
          "An UNVERSIONED index gets no such exception: it may be v1 (different " +
          "multipliers AND hash domain — signatures differ at every component, even " +
          "for numHashes <= 8), and re-stamping a v1 index silently re-admits known " +
          "duplicates, the exact failure this guard exists to make loud"
      )
    }

  def minhashB(i: Int): Long =
    if (i < MinhashBs.length) MinhashBs(i).toLong
    else (i.toLong * 1315423911L + 7919L) % MinhashP2

  /** MinHash signatures: one row per doc with columns m0..m{k-1}, computed
    * by the single-pass [[graft.functions.MinHashSignature]] custom
    * aggregate (one primitive buffer per group instead of k agg exprs). */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = MinhashAs.length
  ): DataFrame = {
    // raw (non-distinct) shingles: min over a multiset equals min over its
    // set, so skipping the distinct drops a full shuffle of shingle STRINGS —
    // the map-side partial aggregate is the only thing that touches them.
    val sh = shingleRowsRaw(spread(docs, idCol), idCol, textCol, 3)
    val tok = sh.select(col(idCol), (tokenHash60(col("s")) % MinhashHashMod + 1).as("h"))
    val familyMd = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(MinhashFamilyKey, MinhashFamilyVersion)
      .build()
    tok
      .groupBy(col(idCol))
      .agg(graft.functions.MinHashAggFunctions.minhashSig(col("h"), numHashes).as("sig"))
      .select(
        col(idCol) +:
          (0 until numHashes).map(i => col("sig").getItem(i).as(s"m$i", familyMd)): _*
      )
  }

  /** LSH candidate pairs: `bands` bands of `rowsPerBand` minhashes (default
    * 4x2 — the oracle-pinned configuration). Docs sharing any band bucket
    * become candidates — the shuffle key is the bucket, so cost is
    * sum(bucket²), never n². Banding is THE recall knob at scale: the
    * match probability for Jaccard j is 1 - (1 - j^rowsPerBand)^bands.
    * `maxBucketSize` (off by default — parity with the pinned oracle) drops
    * buckets larger than the cap: the hot-bucket mitigation for
    * boilerplate-dominated corpora where one bucket's m² pairs swamp the
    * join (docs/ROUND4.md §3 has the measurement that motivates it). */
  def minhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      maxBucketSize: Option[Int] = None
  ): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1, s"bad banding ($bands x $rowsPerBand)")
    require(maxBucketSize.forall(_ >= 2), s"maxBucketSize must be >= 2, got $maxBucketSize")
    val numHashes = bands * rowsPerBand
    require(
      numHashes <= MinhashMaxK,
      s"bands x rowsPerBand = $numHashes exceeds the hash-family size $MinhashMaxK"
    )
    val sig = minhashSignatures(docs, idCol, textCol, numHashes)
    candidatesFromSignatures(sig, idCol, bands, rowsPerBand, maxBucketSize)
  }

  /** `(id, band, bh)` rows of a signature frame — ONE generator pass
    * emits all band rows per doc (a union of per-band selects would plan
    * `bands` copies of the signature pipeline and bands x the codegen
    * stages).
    *
    * Band key: minhash values are < p < 100000, so up to 3 rows pack
    * INJECTIVELY into one long (base-100000 positional) — a narrow
    * shuffle key. Wider bands key on the minhash array itself (still
    * injective; Spark hashes/compares arrays natively). Either way
    * matches are exactly the docs whose band vectors are equal — the
    * encoding never changes the result, only the key width. */
  private def bandRows(sig: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    def bandKey(b: Int): Column =
      if (rowsPerBand <= 3)
        (0 until rowsPerBand)
          .map(r => col(s"m${rowsPerBand * b + r}"))
          .reduceLeft((acc, m) => acc * lit(100000L) + m)
      else array((0 until rowsPerBand).map(r => col(s"m${rowsPerBand * b + r}")): _*)
    sig
      .select(
        col(idCol),
        explode(
          array((0 until bands).map(b => struct(lit(b).as("band"), bandKey(b).as("bh"))): _*)
        ).as("p")
      )
      .select(col(idCol), col("p.band").as("band"), col("p.bh").as("bh"))
  }

  /** [[minhashCandidates]] over an ALREADY-COMPUTED signature frame
    * (columns m0..m{k-1} from [[minhashSignatures]]) — lets callers that
    * need the signatures again downstream (e.g. [[estimatedJaccard]])
    * compute them once instead of re-running the shingle/hash pipeline
    * inside the candidate join. */
  def candidatesFromSignatures(
      sig: DataFrame,
      idCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      maxBucketSize: Option[Int] = None
  ): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1, s"bad banding ($bands x $rowsPerBand)")
    require(maxBucketSize.forall(_ >= 2), s"maxBucketSize must be >= 2, got $maxBucketSize")
    val allBands = bandRows(sig, idCol, bands, rowsPerBand)
    // Hot-bucket cap — the sum(bucket²) skew lever: a bucket of m docs
    // contributes m² candidate pairs, and one boilerplate-heavy bucket
    // (identical headers/footers across thousands of docs) dominates the
    // whole join at scale (sf1 measurement: max/median bucket = 20x).
    // Buckets above the cap are DROPPED, trading recall on exactly the
    // pattern that exact-dup (x01) and span-level dedup (x53) already
    // catch; the bucket count rides the same (band, bh) partitioning the
    // join shuffles on, so the cap costs no extra exchange.
    val bands_ = maxBucketSize match {
      case None => allBands
      case Some(cap) =>
        allBands
          .withColumn(
            "__bc",
            count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")
            )
          )
          .filter(col("__bc") <= cap)
          .drop("__bc")
    }
    val a = bands_.as("a"); val b = bands_.as("b")
    a.join(
      b,
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col(s"a.$idCol") < col(s"b.$idCol")
    ).select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .distinct()
  }

  /** Candidate pairs with the Jaccard similarity ESTIMATED from the
    * MinHash signatures alone: `est_j = |{i : m_i(a) = m_i(b)}| / k` — the
    * unbiased MinHash estimator (each component agrees with probability
    * exactly j). This is the at-scale verification path: confirming a
    * candidate with its true Jaccard ([[nearDuplicates]]) re-joins the
    * SHINGLE sets (the widest data in the pipeline), while the estimate
    * touches only the k-long signatures the LSH step already computed —
    * the standard precision/cost trade (k bounds the estimator's variance:
    * sd = sqrt(j(1-j)/k)).
    *
    * Signatures are computed ONCE (eagerly checkpointed) and reused by
    * both the band join and the two estimate-side lookups; est values are
    * exact multiples of 1/k, so both engines produce bit-identical
    * doubles. */
  def estimatedJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      maxBucketSize: Option[Int] = None
  ): DataFrame = {
    val k = bands * rowsPerBand
    val sig = minhashSignatures(docs, idCol, textCol, k).stageCheckpoint()
    val cands = candidatesFromSignatures(sig, idCol, bands, rowsPerBand, maxBucketSize)
    val a = sig.as("a"); val b = sig.as("b")
    val agree = (0 until k)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cands
      .join(a, cands("d1") === col(s"a.$idCol"))
      .join(b, cands("d2") === col(s"b.$idCol"))
      .select(col("d1"), col("d2"), (agree.cast("double") / lit(k.toDouble)).as("est_j"))
  }

  /** Cross-source duplication OVERLAP MATRIX — which source pairs ship
    * each other's content, the corpus-composition audit behind crawl-
    * snapshot overlap studies (and the diagonal, `source_a == source_b`,
    * is each source's INTERNAL near-dup load): count the near-duplicate
    * pairs from [[estimatedJaccard]] (signature agreement ≥
    * `minEstJaccard`) per unordered source pair.
    *
    * Output: `(source_a, source_b, n_pairs)` with `source_a ≤ source_b`
    * (string order); source pairs with zero near-dup pairs emit no row.
    *
    * 100 TB shape: candidate volume is band-bucket bounded (Σ bucket²,
    * never n² — `maxBucketSize` caps hot buckets, the x03 contract); the
    * two source attaches are id-keyed equi-joins on the pair frame; the
    * final aggregate is ≤ K(K+1)/2 rows for K sources. Nothing here
    * re-reads text — signatures are built once and checkpointed inside
    * [[estimatedJaccard]]. */
  def sourceOverlap(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Option[Int] = None
  ): DataFrame = {
    require(
      minEstJaccard >= 0 && minEstJaccard <= 1,
      s"sourceOverlap: minEstJaccard must be in [0, 1], got $minEstJaccard")
    val pairs = estimatedJaccard(docs, idCol, textCol, bands, rowsPerBand, maxBucketSize)
      .filter(col("est_j") >= minEstJaccard)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("d1"), col(sourceCol).as("__s1")), Seq("d1"))
      .join(src.select(col(idCol).as("d2"), col(sourceCol).as("__s2")), Seq("d2"))
      .groupBy(
        least(col("__s1"), col("__s2")).as("source_a"),
        greatest(col("__s1"), col("__s2")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The STREAMING face of [[sourceOverlap]] — the overlap-matrix DELTA a
    * new batch contributes against a persisted signature index (built with
    * [[minhashSignatures]] and carrying `sourceCol`): confirmed
    * (batch, index) pairs plus confirmed batch-internal pairs, attributed
    * to unordered source pairs. Because signatures are per-doc
    * deterministic and every near-dup pair is either within one batch
    * (counted by the self evidence, once) or across batches (counted when
    * the LATER doc's batch runs, against the index), summing the deltas
    * over any batch decomposition equals the one-shot [[sourceOverlap]]
    * matrix exactly — the parity StreamingSpec pins it with pairs
    * straddling micro-batches. Callers grow the index with the batch's
    * own signatures after each call (the [[incrementalNearDup]] loop).
    *
    * 100 TB shape: [[incrementalNearDup]]'s own — batch signatures built
    * once, band-keyed joins against the (big) index, evidence
    * checkpointed batch-bounded; then two id-keyed source attaches and a
    * ≤K(K+1)/2-row aggregate. */
  def incrementalSourceOverlap(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5
  ): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1, s"bad banding ($bands x $rowsPerBand)")
    require(
      minEstJaccard >= 0 && minEstJaccard <= 1,
      s"incrementalSourceOverlap: minEstJaccard must be in [0, 1], got $minEstJaccard")
    val k = bands * rowsPerBand
    val sigCols = (0 until k).map(i => s"m$i")
    val missing = (sigCols :+ sourceCol).filterNot(index.columns.contains)
    require(
      missing.isEmpty,
      s"incrementalSourceOverlap: index lacks columns ${missing.mkString(", ")} — build it " +
        s"with minhashSignatures(numHashes = $k) joined to the $sourceCol column")
    requireSignatureFamily(index, "incrementalSourceOverlap", sigCols)
    val (idxE, selfE) =
      incrementalDropEvidence(batch, index, idCol, textCol, bands, rowsPerBand, minEstJaccard)
    val bSrc = batch.select(col(idCol).as("__did"), col(sourceCol).as("__s1"))
    val cross = idxE
      .join(bSrc, Seq("__did"))
      .join(
        index.select(col(idCol).as("__partner"), col(sourceCol).as("__s2")),
        Seq("__partner"))
    val self = selfE
      .join(bSrc, Seq("__did"))
      .join(
        batch.select(col(idCol).as("__partner"), col(sourceCol).as("__s2")),
        Seq("__partner"))
    cross
      .unionByName(self)
      .groupBy(
        least(col("__s1"), col("__s2")).as("source_a"),
        greatest(col("__s1"), col("__s2")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** 16-bit SimHash over distinct word-3-gram shingle hashes. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // dedup AFTER hashing: one distinct over (id, int64) instead of two
    // shuffles (strings then hashes) — same set semantics as the oracle's
    // `SELECT DISTINCT doc_id, hash(shingle)`.
    val sh = shingleRowsRaw(spread(docs, idCol), idCol, textCol, 3)
    val tok = sh.select(col(idCol), tokenHash60(col("s")).as("h")).distinct()
    val bitSum = (0 until 16).map { i =>
      sum(when(expr(s"(shiftright(h, $i) & 1) = 1"), 1).otherwise(-1)).as(s"b$i")
    }
    val grouped = tok.groupBy(col(idCol)).agg(bitSum.head, bitSum.tail: _*)
    val simhash = (0 until 16)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    grouped.select(col(idCol), simhash.cast("long").as("simhash"))
  }

  /** Scalable near-duplicate detection: MinHash-LSH candidate generation
    * followed by exact shingle-Jaccard verification on candidate pairs only
    * (the classic two-stage pipeline; verification cost is |candidates|, not
    * n²). Returns (d1, d2, jaccard) for pairs with jaccard >= threshold. */
  def nearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double
  ): DataFrame = {
    val cand = minhashCandidates(docs, idCol, textCol)
    // verification: attach each side's sorted shingle-hash set (built
    // per-row, no explode) and merge-count. The sets frame is persisted and
    // materialized ONCE, then both sides attach via broadcast-pairs hash
    // equi-joins — O(n) per join. (An OR-condition join would do it in one
    // pass but plans as a nested loop evaluating every corpus row against
    // every candidate pair: O(n x p), a cliff at corpus scale; and without
    // the persist the shingle pipeline would run twice, once inside a
    // broadcast exchange.) Hash collisions (64-bit, per pair) are
    // negligible at any realistic corpus size.
    // localCheckpoint(true), NOT persist+count: eager like the count, but
    // the blocks are ContextCleaner-freed once the returned frame is
    // dropped — a Dataset.persist is CacheManager-pinned and NEVER freed
    // by GC, so a session calling this repeatedly would accumulate pinned
    // partitions (the incrementalNearDup leak fix; regression-spec'd).
    // Checkpointing the corpus-sized intermediate instead of the OUTPUT
    // keeps the result streamable to a sink without a second
    // materialization; the truncated lineage failing loudly on a lost
    // block is fine — the shingle pipeline is deterministic.
    val sets = shingleHashSets(docs, idCol, textCol, 3).stageCheckpoint()
    val inter = graft.functions.ArrayFunctions
      .sortedIntersectCount(col("sha"), col("shb"))
      .cast("double")
    broadcast(cand)
      .join(sets.select(col(idCol).as("d1"), col("sh").as("sha")), "d1")
      .join(sets.select(col(idCol).as("d2"), col("sh").as("shb")), "d2")
      .withColumn("j", inter / (size(col("sha")) + size(col("shb")) - inter))
      .filter(col("j") >= threshold)
      .select(col("d1"), col("d2"), col("j"))
  }

  /** Span-level duplication: word n-gram spans appearing in >= `minDocs`
    * DISTINCT documents — the substring-level contamination/boilerplate
    * check (doc-level dedup misses a shared paragraph inside otherwise
    * unique docs). Shuffle key is the 60-bit span hash (narrow, oracle-
    * expressible), never the span string; output keeps one example doc per
    * span. Cost: one distinct + one aggregation, both hash-partitioned on
    * the span hash — and both PARTIAL aggregations, so a hot span's rows
    * map-side combine to at most one row per task before the shuffle: the
    * aggregation itself has no skew cliff.
    *
    * `maxDocs` (off by default — parity with the pinned oracle) is the
    * hot-bucket cap for DOWNSTREAM consumers, mirroring
    * [[minhashCandidates]]' `maxBucketSize`: a boilerplate span shared by
    * millions of docs turns any join-back on `span_hash` into one
    * megabucket. (docs/ROUND6.md, sf1: this synthetic corpus is mild —
    * max/median span bucket = 4.0, max 40 docs/span — but the amplifier
    * preserves spans across copies, so the ratio GROWS linearly with every
    * further 10x; real boilerplate-heavy corpora start far above it.)
    * Spans above the cap are DROPPED from the output —
    * trading exactly the rows whose removal-joins explode, the pattern
    * exact-dup (x01) already catches doc-level. The cap is a filter on the
    * already-computed `n_docs`, so it costs no extra exchange. */
  def duplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2,
      maxDocs: Option[Long] = None
  ): DataFrame = {
    require(maxDocs.forall(_ >= minDocs), s"maxDocs $maxDocs must be >= minDocs $minDocs")
    val agg = shingleRowsRaw(spread(docs, idCol), idCol, textCol, n)
      .select(col(idCol), tokenHash60(col("s")).as("span_hash"))
      .distinct() // per-doc repeats of a span count once
      .groupBy("span_hash")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
    maxDocs.fold(agg)(cap => agg.filter(col("n_docs") <= cap))
  }

  /** ExactSubstr-style span SCRUBBING (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): [[duplicatedSpans]]
    * finds word n-gram spans shared by >= `minDocs` docs; this REMOVES
    * them — every token covered by a duplicated span is cut from every
    * doc EXCEPT the span's first (min-id) carrier. Each span's marking is
    * independent, so a token a doc keeps as first carrier of one span can
    * still fall to a DIFFERENT overlapping duplicated span whose first
    * carrier is elsewhere (the same behavior as the paper's
    * cut-every-duplicate-occurrence-but-one rule). The substring-level
    * half of the paper's pipeline: doc-level dedup keeps both docs when
    * only a paragraph is shared; this keeps both docs but the paragraph
    * once.
    *
    * Returns one row per input doc: `(idCol, scrubbed, n_removed)` —
    * docs scrubbed to nothing come back with `scrubbed = ''` (the caller
    * decides whether empty survivors stay; dropping them silently would
    * hide the removal rate the audit needs).
    *
    * 100 TB shape — everything is LINEAR in token/occurrence count, no
    * pair join anywhere: the span aggregate shuffles 60-bit hashes
    * (map-side partial, [[duplicatedSpans]]); flagged occurrences come
    * from ONE hash equi-join of per-doc gram rows against the span frame
    * (one row per span, so a boilerplate span in a million docs costs a
    * million join rows — occurrences, never pairs); position marking
    * fans out x n bounded by flagged occurrences; reassembly is one
    * groupBy(doc). Unlike removal-joins on span_hash (the
    * [[duplicatedSpans]] `maxDocs` story), nothing here squares a hot
    * span, so no cap is needed. */
  def scrubDuplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    require(n >= 2, s"scrubDuplicatedSpans: span length must be >= 2 tokens, got $n")
    require(minDocs >= 2, s"scrubDuplicatedSpans: minDocs must be >= 2, got $minDocs")
    val spans = duplicatedSpans(docs, idCol, textCol, n, minDocs)
      .select(col("span_hash").as("__h"), col("first_doc"))
    // localCheckpoint(true), NOT persist+count: eager for the three
    // consumers below (gram rows, token positions, counts), but freed by
    // the ContextCleaner once the returned frame is dropped instead of
    // CacheManager-pinned forever (the nearDuplicates/incrementalNearDup
    // leak pattern; regression-spec'd in OperatorsSpec)
    val base = spread(docs.select(col(idCol), split(col(textCol), " ").as("__tk")), idCol)
      .stageCheckpoint()
    // per-doc gram START positions (0-based), hashed with the same
    // convention as duplicatedSpans — the join key is the narrow hash
    val gramArr = when(
      size(col("__tk")) >= n,
      transform(
        sequence(lit(0), size(col("__tk")) - n),
        i => tokenHash60(concat_ws(" ", slice(col("__tk"), i + lit(1), lit(n))))
      )
    ).otherwise(array().cast("array<long>"))
    val occ = base.select(col(idCol), posexplode(gramArr).as(Seq("__i", "__h")))
    val flagged = occ
      .join(spans, Seq("__h"))
      .filter(col(idCol) =!= col("first_doc"))
      .select(col(idCol), col("__i"))
    val marked = flagged
      .select(col(idCol), explode(sequence(col("__i"), col("__i") + lit(n - 1))).as("__p"))
      .distinct()
    val tokPos = base.select(col(idCol), posexplode(col("__tk")).as(Seq("__p", "__tok")))
    val kept = tokPos
      .join(marked, Seq(idCol, "__p"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(struct(col("__p"), col("__tok")))),
            s => s.getField("__tok")
          )
        ).as("__scrub"),
        count(lit(1)).as("__nk")
      )
    base
      .select(col(idCol), size(col("__tk")).as("__nt"))
      .join(kept, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__scrub"), lit("")).as("scrubbed"),
        (col("__nt") - coalesce(col("__nk"), lit(0L))).cast("int").as("n_removed")
      )
  }

  /** Boilerplate REMOVAL — the rewrite-side complement of
    * [[duplicatedSpans]]' report (C4/RefinedWeb-style shared-passage
    * stripping): every token covered by a word n-gram span that appears in
    * MORE than `maxDocs` distinct documents is removed, and the document's
    * text is rebuilt from the surviving tokens in order. Doc-level dedup
    * can't do this: a navigation header shared by a million otherwise
    * unique pages survives doc-level and near-dup filters untouched.
    *
    * Output: (idCol, text_clean, n_kept) — every input doc appears;
    * a fully-boilerplate doc comes back with `text_clean = ""` (callers
    * typically follow with a min-length quality gate).
    *
    * 100 TB shape: spans and positions are narrow (id, offset, 60-bit
    * hash) — span STRINGS never shuffle past the hash projection. The hot
    * set is found with the same distinct + partial-agg count as
    * duplicatedSpans (map-side combine, no skew cliff); hot membership is
    * a LEFT SEMI join (at-most-one, no fan-out); the rebuild groups by
    * doc id with a bounded per-doc token list. */
  def stripBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      maxDocs: Long = 2L
  ): DataFrame = {
    require(n >= 2 && maxDocs >= 1, s"stripBoilerplate: bad n=$n maxDocs=$maxDocs")
    val base = spread(docs, idCol).select(col(idCol), split(col(textCol), " ").as("tk"))
    val pos = base.select(col(idCol), posexplode(col("tk")).as(Seq("p", "tok")))
      .select(col(idCol), col("p").cast("long").as("p"), col("tok"))
    val spanArr = when(
      size(col("tk")) >= n,
      expr(
        s"transform(sequence(0, size(tk) - $n), i -> concat_ws(' ', ${(0 until n).map(j => s"tk[i + $j]").mkString(", ")}))"
      )
    ).otherwise(array().cast("array<string>"))
    val spans = base
      .select(col(idCol), posexplode(spanArr).as(Seq("s", "sp")))
      .select(col(idCol), col("s").cast("long").as("s"), tokenHash60(col("sp")).as("__sh"))
    val hot = spans
      .select(col(idCol), col("__sh"))
      .distinct()
      .groupBy("__sh")
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select("__sh")
    val covered = spans
      .join(hot, Seq("__sh"), "left_semi")
      .select(col(idCol), explode(sequence(col("s"), col("s") + lit((n - 1).toLong))).as("p"))
      .distinct()
    val rebuilt = pos
      .join(covered, Seq(idCol, "p"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(
          " ",
          transform(array_sort(collect_list(struct(col("p"), col("tok")))), x => x.getField("tok"))
        ).as("text_clean"),
        count(lit(1)).as("n_kept")
      )
    docs
      .select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept")
      )
  }

  /** Span-level contamination SCORE against a reference set (benchmark /
    * eval data): for every corpus document, the fraction of its distinct
    * word n-gram spans that appear anywhere in the reference. Where
    * [[decontaminate]] is the doc-level DROP (whole-document fingerprint
    * match), this is the REPORT — the number an eval-contamination audit
    * publishes, and the input to threshold policies ("drop above 20%
    * overlap") that doc-level matching can't express (a doc quoting one
    * benchmark question is 5% contaminated, not identical).
    *
    * Output: (idCol, n_spans, n_hit, contam) — contam = n_hit/n_spans
    * rounded to 6 dp, NULL for docs with fewer than n tokens (no spans →
    * no defined ratio; they still appear, never silently dropped).
    *
    * 100 TB shape: both sides reduce to distinct 60-bit span hashes (the
    * narrow key; span STRINGS never shuffle). The reference side is
    * distinct hashes, so the probe join is left-join-at-most-one — a hot
    * boilerplate span cannot fan out. `broadcastReference=true` (default)
    * keeps the corpus un-shuffled entirely; a reference too big to
    * broadcast flips to a hash join on the span hash. */
  def spanContamination(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      broadcastReference: Boolean = true
  ): DataFrame = {
    val cs = shingleRowsRaw(spread(corpus, idCol), idCol, textCol, n)
      .select(col(idCol), tokenHash60(col("s")).as("__sh"))
      .distinct()
    val refSpans = shingleRowsRaw(
      spread(reference, textCol).withColumn("__rid", lit(0L)),
      "__rid",
      textCol,
      n
    )
      .select(tokenHash60(col("s")).as("__sh"))
      .distinct()
    val ref = (if (broadcastReference) broadcast(refSpans) else refSpans)
      .withColumn("__hit", lit(1))
    val hits = cs
      .join(ref, Seq("__sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"), count(col("__hit")).as("n_hit"))
    corpus
      .select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(
          coalesce(col("n_spans"), lit(0L)) > 0,
          round(col("n_hit").cast("double") / col("n_spans"), 6)
        ).as("contam")
      )
  }

  /** Decontamination: drop every corpus document whose canonical fingerprint
    * (md5 of the sorted distinct token set — whitespace/order-insensitive)
    * appears in a reference set (benchmark/eval data). The classic
    * training-data hygiene step: a broadcast-able reference makes this a
    * broadcast anti-join (no shuffle of the corpus); a huge reference falls
    * back to a shuffled anti-join on the fingerprint. */
  def decontaminate(
      corpus: DataFrame,
      reference: DataFrame,
      textCol: String,
      broadcastReference: Boolean = true
  ): DataFrame = {
    val refFp = reference
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .distinct()
    val ref = if (broadcastReference) broadcast(refFp) else refFp
    corpus
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(ref, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Word n-gram 60-bit hashes of a text column ([[tokenHash60]] per
    * gram, so join rows are one long each, never gram strings).
    * `sequence(1, size-n+1)` would run DESCENDING on docs shorter than
    * `n` (Spark sequence counts down), hence the guard. */
  private def ngramHashes60(c: Column, n: Int): Column = {
    val tk = split(c, " ")
    val gs = transform(
      sequence(lit(1), size(tk) - (n - 1)),
      i => tokenHash60(array_join(slice(tk, i, lit(n)), " "))
    )
    when(size(tk) >= n, gs).otherwise(array().cast("array<bigint>"))
  }

  /** Contamination ATTRIBUTION report — the deliverable a lab publishes
    * beside its decontaminated corpus ([[decontaminateNgram]] only says
    * WHICH docs died; audits need to know against WHAT): one row per
    * (contaminated doc, eval suite) with the count of distinct shared
    * word n-grams. A doc embedding items from two suites gets two rows;
    * clean docs emit none. Same n=13 GPT-3-report convention.
    *
    * Output: `(idCol, suiteCol, n_gram_hits)`.
    *
    * 100 TB shape: [[decontaminateNgram]]'s exactly — the reference's
    * distinct (suite, gram-hash) rows broadcast; corpus (id, gram-hash)
    * rows die in the map-side join unless contaminated, so the only
    * shuffle is the per-(doc, suite) count aggregate, bounded by the
    * HIT volume, never the corpus. */
  def contaminationReport(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      suiteCol: String,
      n: Int = 13,
      broadcastReference: Boolean = true
  ): DataFrame = {
    require(n >= 1, s"contaminationReport: n must be >= 1, got $n")
    val refG = reference
      .select(col(suiteCol), explode(ngramHashes60(col(textCol), n)).as("__g"))
      .distinct()
    val ref = if (broadcastReference) broadcast(refG) else refG
    corpus
      .select(col(idCol), explode(ngramHashes60(col(textCol), n)).as("__g"))
      .distinct()
      .join(ref, Seq("__g"))
      .groupBy(col(idCol), col(suiteCol))
      .agg(count(lit(1)).as("n_gram_hits"))
  }

  /** N-GRAM-overlap decontamination — the GPT-3-style eval-set scrub
    * ([[decontaminate]]'s whole-document fingerprint misses a training doc
    * that merely EMBEDS an eval question): drop every corpus document
    * sharing ANY word `n`-gram with the reference set. n=13 is the
    * published GPT-3 report convention.
    *
    * 100 TB shape: the reference's distinct gram HASHES (60-bit, so the
    * join rows are one long each, never the gram strings) broadcast like
    * [[decontaminate]]'s fingerprints; the corpus explodes to (id, gram
    * hash) rows that die in the map-side semi-join unless contaminated, so
    * the only shuffle is the distinct over CONTAMINATED ids (bounded by
    * the hit count, not the corpus) feeding the final anti-join. For a
    * reference too big to broadcast, set broadcastReference=false
    * (shuffled semi-join) or pre-filter with the
    * [[decontaminateBloom]] pattern. */
  def decontaminateNgram(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      broadcastReference: Boolean = true
  ): DataFrame = {
    require(n >= 1, s"decontaminateNgram: n must be >= 1, got $n")
    def gramHashes(c: Column): Column = ngramHashes60(c, n)
    val refG = reference.select(explode(gramHashes(col(textCol))).as("__g")).distinct()
    val ref = if (broadcastReference) broadcast(refG) else refG
    val contaminated = corpus
      .select(col(idCol), explode(gramHashes(col(textCol))).as("__g"))
      .join(ref, Seq("__g"), "left_semi")
      .select(col(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** FUZZY n-gram decontamination — catches eval text that survived
    * [[decontaminateNgram]] because one token drifted (a typo fix, a
    * re-tokenized number, an OCR slip): drop every corpus document with
    * ANY word `n`-gram within `maxDist` character edits (Levenshtein) of
    * a reference n-gram. `maxDist = 0` degenerates to exact-gram
    * semantics (but ship strings instead of hashes — use
    * [[decontaminateNgram]] for that).
    *
    * 100 TB shape: the reference's distinct gram STRINGS broadcast (eval
    * sets are small; fuzzy matching needs the text, not a hash — that is
    * the price of tolerance). The corpus explodes to (id, gram) and hits
    * the broadcast in a map-side LEFT SEMI nested-loop join whose
    * condition applies the classic length-band prune first
    * (`abs(len(g) - len(r)) <= maxDist` — edit distance can never beat
    * the length gap, so the O(L²) DP runs only on band survivors);
    * `levenshtein` is codegen'd in both Spark and the oracle's engine
    * and returns an exact integer, so the gate has no float wobble at
    * all. Only CONTAMINATED ids shuffle (bounded by the hit count) into
    * the final anti-join. */
  def decontaminateFuzzy(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      maxDist: Int = 5
  ): DataFrame = {
    require(n >= 1, s"decontaminateFuzzy: n must be >= 1, got $n")
    require(maxDist >= 0, s"decontaminateFuzzy: maxDist must be >= 0, got $maxDist")
    def grams(c: Column): Column = {
      val tk = split(c, " ")
      val gs = transform(
        sequence(lit(1), size(tk) - (n - 1)),
        i => array_join(slice(tk, i, lit(n)), " ")
      )
      when(size(tk) >= n, gs).otherwise(array().cast("array<string>"))
    }
    val refG = broadcast(
      reference.select(explode(grams(col(textCol))).as("__r")).distinct()
    )
    val contaminated = corpus
      .select(col(idCol), explode(grams(col(textCol))).as("__g"))
      .join(
        refG,
        abs(length(col("__g")) - length(col("__r"))) <= maxDist &&
          levenshtein(col("__g"), col("__r")) <= maxDist,
        "left_semi"
      )
      .select(col(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** PARAPHRASE decontamination — drop corpus docs NEAR-DUPLICATE to any
    * reference doc, at the DOCUMENT level: the eval item was lightly
    * rewritten (reordered clauses, swapped sentence, edited numbers), so
    * neither [[decontaminate]]'s whole-doc fingerprint, the exact
    * 13-gram scrub, nor [[decontaminateFuzzy]]'s per-gram edit band
    * catches it — but the shingle sets still overlap heavily, which is
    * exactly what MinHash measures. The Pile/GPT-3-style fuzzy eval
    * overlap check as an operator.
    *
    * Shape: both sides get k = bands·rowsPerBand MinHash signatures
    * ([[minhashSignatures]] — one pass each); the corpus band rows die
    * in a map-side join against the BROADCAST reference bands (eval
    * sets are small), survivors are confirmed on the signature-estimated
    * Jaccard (`est = |agreeing components|/k` — exact multiples of 1/k,
    * the [[estimatedJaccard]] economics: no shingle-set re-join), and
    * only contaminated ids shuffle into the final anti-join. Docs with
    * fewer than 3 words have no shingles and can never paraphrase-match
    * (verbatim copies of such docs are [[decontaminate]]'s job). */
  def decontaminateNearDup(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5,
      broadcastReference: Boolean = true
  ): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1, s"bad banding ($bands x $rowsPerBand)")
    require(
      minEstJaccard >= 0 && minEstJaccard <= 1,
      s"decontaminateNearDup: minEstJaccard must be in [0, 1], got $minEstJaccard"
    )
    val k = bands * rowsPerBand
    require(k <= MinhashMaxK, s"bands x rowsPerBand = $k exceeds the hash-family size $MinhashMaxK")
    val cSig = minhashSignatures(corpus, idCol, textCol, k)
    val rSig = minhashSignatures(reference, idCol, textCol, k)
    val cB = bandRows(cSig, idCol, bands, rowsPerBand).withColumnRenamed(idCol, "__cid")
    val rB0 = bandRows(rSig, idCol, bands, rowsPerBand).withColumnRenamed(idCol, "__rid")
    val rB = if (broadcastReference) broadcast(rB0) else rB0
    val cand = cB.join(rB, Seq("band", "bh")).select("__cid", "__rid").distinct()
    // est Jaccard from the signatures both sides already computed —
    // integer agreement count over k, so both engines compare the exact
    // same rational against the threshold
    val agree = (0 until k)
      .map(i => when(col(s"c.m$i") === col(s"r.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    val rSide = if (broadcastReference) broadcast(rSig.as("r")) else rSig.as("r")
    val contaminated = cand
      .join(cSig.as("c"), col("__cid") === col(s"c.$idCol"))
      .join(rSide, col("__rid") === col(s"r.$idCol"))
      .filter(agree.cast("double") / k >= minEstJaccard)
      .select(col("__cid").as(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** INCREMENTAL near-dup dedup — the continuous-ingestion shape. A
    * production corpus is not deduplicated once; it grows by daily
    * batches, and re-running whole-corpus LSH over 100 TB per batch is
    * the thing this operator exists to avoid. The accepted corpus is
    * represented ONLY by its persisted signature index (the
    * [[minhashSignatures]] frame — `idCol` plus m0..m{k-1}, a few dozen
    * bytes per accepted doc), so a batch never rescans history text:
    *
    *  1. the batch's band rows shuffle-join the index's band rows on the
    *     narrow packed-long bucket key (the index side is the BIG side at
    *     scale, so no broadcast — both sides hash-partition on `bh`);
    *  2. candidates are confirmed on the signature-estimated Jaccard
    *     (exact multiples of 1/k, [[estimatedJaccard]]'s economics — the
    *     index holds no shingle sets to verify against, by design);
    *  3. batch survivors self-dedup with [[Pipeline.cleanCorpus]]'s rule
    *     — of each candidate pair (d1 < d2) at/above the threshold, d2
    *     drops (exact text duplicates land here too: identical texts
    *     have identical signatures, est = 1).
    *
    * Returns the surviving batch rows (all columns). The caller closes
    * the loop by appending `minhashSignatures(survivors, ...)` to the
    * index — signatures are deterministic, so re-deriving them from the
    * survivor rows equals filtering the batch signature frame.
    *
    * Production storage pattern: the recurring cost at 100 TB is
    * re-shuffling the INDEX band rows every batch. Persist the index as
    * band rows `(id, band, bh)` BUCKETED by exactly `(band, bh)`
    * (`bucketBy(n, "band", "bh").saveAsTable`) and the scan arrives
    * hash-partitioned on the join keys — only the small batch side
    * exchanges (proven by plan shape in OperatorsSpec "bucketed band
    * rows"; bucket columns must EQUAL the join keys — bucketing by `bh`
    * alone cannot co-partition with a `(band, bh)` shuffle). Batch
    * docs with fewer than 3 words have no shingles, hence no signature
    * and no index entry: they always survive (exact copies of such docs
    * are [[exact]]'s job). Index ids never collide with batch ids in a
    * sane ingestion scheme, but nothing here assumes it — the index side
    * only ever contributes "drop this batch id" evidence.
    *
    * Threshold choice at scale (measured, `Spike incr-planted`): the
    * estimate's noise floor is set by the shingle-hash space
    * ([[MinhashHashMod]] ≈ 1e5 values). Two UNRELATED docs share a hash
    * with p ≈ |A||B|/1e5, the shared value leaks ~1/(|A|+|B|-1) of true
    * Jaccard into the signatures, and with the default k = 8 the
    * Binomial(8, 1/19) tail reaches a 0.5 threshold at ~5e-7 per pair —
    * invisible at 60k docs, thousands of false drops across a 2M x 200k
    * batch-index join. Exact-ingestion workloads should run
    * `minEstJaccard >= 0.9` (all components must agree; full-signature
    * coincidence is ~(1/|A||B|)^k per shared hash — negligible at any
    * scale); paraphrase-tolerant workloads should raise k so the
    * binomial tail thins. */
  def incrementalNearDup(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5
  ): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1, s"bad banding ($bands x $rowsPerBand)")
    require(
      minEstJaccard >= 0 && minEstJaccard <= 1,
      s"incrementalNearDup: minEstJaccard must be in [0, 1], got $minEstJaccard"
    )
    val k = bands * rowsPerBand
    require(k <= MinhashMaxK, s"bands x rowsPerBand = $k exceeds the hash-family size $MinhashMaxK")
    val sigCols = (0 until k).map(i => s"m$i")
    val missing = sigCols.filterNot(index.columns.contains)
    require(
      missing.isEmpty,
      s"incrementalNearDup: index lacks signature columns ${missing.mkString(", ")} — " +
        s"was it built with minhashSignatures(numHashes = $k)?"
    )
    requireSignatureFamily(index, "incrementalNearDup", sigCols)
    val (idxEvidence, selfEvidence) =
      incrementalDropEvidence(batch, index, idCol, textCol, bands, rowsPerBand, minEstJaccard)
    // no distinct on the union: the anti-join is insensitive to duplicate
    // drop ids, and a distinct would be one more full exchange
    batch.join(
      idxEvidence.select(col("__did").as(idCol)).union(selfEvidence.select(col("__did").as(idCol))),
      Seq(idCol),
      "left_anti"
    )
  }

  /** Confirmed drop evidence shared by [[incrementalNearDup]] and
    * [[incrementalNearDupAudit]]: two `(__did, __partner)` frames — batch
    * docs killed by an index hit, and batch docs shadowed by a smaller-id
    * batch doc. Pair-level (one row per confirmed pair, deduped), so the
    * audit can pick representatives without re-running the pipeline. */
  private def incrementalDropEvidence(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int,
      rowsPerBand: Int,
      minEstJaccard: Double
  ): (DataFrame, DataFrame) = {
    val k = bands * rowsPerBand
    val sigCols = (0 until k).map(i => s"m$i")
    // persist: the batch signature frame feeds four subtrees (its band
    // rows twice, both est-Jaccard confirms) — without materialization
    // each would re-run the shingle+minhash scan
    val bSig = minhashSignatures(batch, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bSig.count() // eager: concurrent consumers race a lazily-filling cache
    val bBands = bandRows(bSig, idCol, bands, rowsPerBand)
    val iSig = index.select(col(idCol) +: sigCols.map(col): _*)
    val iBands = bandRows(iSig, idCol, bands, rowsPerBand)
    def agree(l: String, r: String): Column =
      (0 until k)
        .map(i => when(col(s"$l.m$i") === col(s"$r.m$i"), 1).otherwise(0))
        .reduce(_ + _)
        .cast("double") / k
    // vs the index: any confirmed hit drops the batch doc
    val idxEvidence = bBands
      .withColumnRenamed(idCol, "__bid")
      .join(iBands.withColumnRenamed(idCol, "__iid"), Seq("band", "bh"))
      .select("__bid", "__iid")
      .distinct()
      .join(bSig.as("c"), col("__bid") === col(s"c.$idCol"))
      .join(iSig.as("r"), col("__iid") === col(s"r.$idCol"))
      .filter(agree("c", "r") >= minEstJaccard)
      .select(col("__bid").as("__did"), col("__iid").as("__partner"))
    // within the batch: of each (d1 < d2) confirmed pair, d2 drops —
    // independent of the index check, so the two drop sets compose
    // order-free (a doc shadowed by an index-rejected earlier doc still
    // drops: its content matches something that matched history)
    val selfEvidence = bBands
      .as("a")
      .join(
        bBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col(s"a.$idCol") < col(s"b.$idCol")
      )
      .select(col(s"a.$idCol").as("__d1"), col(s"b.$idCol").as("__d2"))
      .distinct()
      .join(bSig.as("c"), col("__d1") === col(s"c.$idCol"))
      .join(bSig.as("r"), col("__d2") === col(s"r.$idCol"))
      .filter(agree("c", "r") >= minEstJaccard)
      .select(col("__d2").as("__did"), col("__d1").as("__partner"))
    // Materialize the (batch-bounded) evidence eagerly and release the
    // signature cache BEFORE returning — a foreachBatch caller invoking
    // this per micro-batch must not accumulate CacheManager-pinned
    // partitions across batches (the incrementalSemEvidence fix; leak
    // regression asserted in OperatorsSpec/StreamingSpec).
    val idxOut = idxEvidence.stageCheckpoint()
    val selfOut = selfEvidence.stageCheckpoint()
    bSig.unpersist()
    (idxOut, selfOut)
  }

  /** Drop LEDGER for [[incrementalNearDup]] — production dedup needs
    * provenance beside the survivor set: WHICH batch docs dropped, WHY,
    * and against WHOM (the audit trail a curation pipeline reports, and
    * the first thing a data owner asks when their document disappears).
    * One row per (dropped doc, reason): `(idCol, reason, partner)` with
    * `reason` ∈ {'index', 'batch'} and `partner` the SMALLEST qualifying
    * partner id of that reason — deterministic, so the ledger is
    * replayable and diffable across runs. A doc killed by both an index
    * hit and a within-batch shadow carries both rows (they answer
    * different operational questions: re-ingest dedup vs upstream
    * duplication). Same evidence frames as [[incrementalNearDup]] — the
    * survivor set is exactly the batch minus this ledger's distinct ids. */
  def incrementalNearDupAudit(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5
  ): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1, s"bad banding ($bands x $rowsPerBand)")
    require(
      minEstJaccard >= 0 && minEstJaccard <= 1,
      s"incrementalNearDupAudit: minEstJaccard must be in [0, 1], got $minEstJaccard"
    )
    val k = bands * rowsPerBand
    require(k <= MinhashMaxK, s"bands x rowsPerBand = $k exceeds the hash-family size $MinhashMaxK")
    val sigCols = (0 until k).map(i => s"m$i")
    val missing = sigCols.filterNot(index.columns.contains)
    require(
      missing.isEmpty,
      s"incrementalNearDupAudit: index lacks signature columns ${missing.mkString(", ")} — " +
        s"was it built with minhashSignatures(numHashes = $k)?"
    )
    requireSignatureFamily(index, "incrementalNearDupAudit", sigCols)
    val (idxEvidence, selfEvidence) =
      incrementalDropEvidence(batch, index, idCol, textCol, bands, rowsPerBand, minEstJaccard)
    def ledger(ev: DataFrame, reason: String): DataFrame =
      ev.groupBy(col("__did"))
        .agg(min(col("__partner")).as("partner"))
        .select(col("__did").as(idCol), lit(reason).as("reason"), col("partner"))
    ledger(idxEvidence, "index").union(ledger(selfEvidence, "batch"))
  }

  /** Bloom-prefiltered decontamination — the 100 TB shape when the
    * reference set is too large to broadcast AND shuffling the whole
    * corpus for an anti-join is the bottleneck. Built on the SAME
    * machinery Spark's runtime row-level filters use
    * (`BloomFilterAggregate` / `BloomFilterMightContain` — codegen
    * predicates, not UDFs):
    *
    *  1. one aggregation over the reference builds a bloom of fingerprint
    *     hashes (`numBits`/8 bytes on the driver, shipped as a plan
    *     literal — size it like a broadcast, default 8 MB);
    *  2. corpus rows failing `might_contain` are DEFINITELY clean (blooms
    *     have no false negatives) and never shuffle;
    *  3. only the might-match sliver (fpp-bounded) is exactly verified by
    *     an anti-join against the reference fingerprints.
    *
    * Result-identical to [[decontaminate]]; the corpus is scanned twice
    * (clean pass + positives pass) but never shuffled in full — the right
    * trade when scans are cheap (columnar, pruned) and the corpus is
    * orders of magnitude larger than the reference. */
  def decontaminateBloom(
      corpus: DataFrame,
      reference: DataFrame,
      textCol: String,
      expectedRefItems: Long = 1L << 22,
      numBits: Long = 1L << 26
  ): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val refFp = reference
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .distinct()
    val bloomBytes: Array[Byte] = refFp
      .select(xxhash64(col("__fp")).as("__h"))
      .agg(
        GraftBridge.column(
          new BloomFilterAggregate(
            GraftBridge.expression(col("__h")),
            Literal(expectedRefItems),
            Literal(numBits)
          ).toAggregateExpression()
        )
      )
      .head()
      .getAs[Array[Byte]](0)
    val fpCorpus = corpus.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
    val might = GraftBridge.column(
      BloomFilterMightContain(
        Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
        GraftBridge.expression(xxhash64(col("__fp")))
      )
    )
    val clean = fpCorpus.filter(!might).drop("__fp")
    val verified = fpCorpus.filter(might).join(refFp, Seq("__fp"), "left_anti").drop("__fp")
    clean.unionByName(verified)
  }

  /** Near-duplicate CLUSTER representatives — the keep-one-per-cluster
    * step that follows pair detection in a curation pipeline: pairwise
    * near-dup removal (x22's "drop d2") can drop every member of a
    * mutually-similar triangle or keep a low-quality member; grouping
    * pairs into connected components and keeping the BEST doc per
    * component is the standard fix (and what `n_cluster` sizes report).
    *
    * Stages: [[nearDuplicates]] pairs → [[Graph.connectedComponents]]
    * (min-label) → every doc labeled with its cluster (singletons label
    * themselves) → one survivor per cluster by ([[Scale.capPerKey]] k=1:
    * highest `priority`, ties to highest id — deterministic at any
    * parallelism). Output: one row per SURVIVOR: (idCol, cluster,
    * n_cluster) — n_cluster counts every input doc in the survivor's
    * cluster, so `sum(n_cluster) == |input|` always holds.
    *
    * 100 TB shape: pair detection is LSH-bucketed, components are the
    * large/small-star rounds (shuffle-bounded, see Graph), the label
    * attach is a hash join on the id, and the survivor pick is the
    * bounded-heap top-1 — no window over the corpus, no collect. */
  def clusterRepresentatives(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      priority: Column
  ): DataFrame = {
    val pairs = nearDuplicates(docs, idCol, textCol, threshold)
    val comp = Graph.connectedComponents(pairs, "d1", "d2")
    val withCluster = docs
      .join(comp.select(col("node").as(idCol), col("label")), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("label"), col(idCol)))
      .drop("label")
    val sizes = withCluster.groupBy("cluster").agg(count(lit(1)).as("n_cluster"))
    Scale
      .capPerKey(withCluster, "cluster", idCol, priority, 1)
      .join(sizes, Seq("cluster"))
      .select(col(idCol), col("cluster"), col("n_cluster"))
  }

  /** Exact pairwise token-set Jaccard over a (pre-filtered) document set.
    * All-pairs by construction — callers must bound the input (e.g., one
    * LSH bucket, one language partition); use minhashCandidates for the
    * scale path.
    *
    * `broadcastRight = true` (default) pins the build side in memory for a
    * codegen'd nested-loop join — valid only while the token-hashed input
    * fits the broadcast budget (Spark's hard 8 GB / driver-memory cap;
    * roughly <= a few hundred thousand moderate docs). Pass `false` for
    * larger bounded inputs: the planner then picks a shuffle-capable join
    * (or still auto-broadcasts below the threshold) instead of failing
    * outright on an oversized broadcast. */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      broadcastRight: Boolean = true
  ): DataFrame = {
    // tokens are hashed to int64 and SORTED once per doc before the pairwise
    // intersect: set sizes (and therefore jaccard) are unchanged (64-bit
    // collisions negligible), and the per-pair intersection becomes an
    // allocation-free merge-count over primitives
    // ([[graft.functions.SortedIntersectCount]]) instead of a per-pair hash
    // set + output array (`array_intersect`).
    val d = docs.select(
      col(idCol),
      sort_array(array_distinct(transform(split(col(textCol), " "), t => xxhash64(t))))
        .as("toks")
    )
    // stream side spread over cores (see [[spread]]); broadcast side
    // explicit so the nested-loop join builds RIGHT (codegen) and never
    // streams the broadcast-sized copy.
    val a = spread(d, idCol).as("a"); val b = d.as("b")
    val sa = size(col("a.toks")); val sb = size(col("b.toks"))
    // size prefilter inside the join condition: j >= t implies
    // min(|a|,|b|) >= t * max(|a|,|b|), so mismatched-size pairs are dropped
    // by an O(1) compare before the O(|a|+|b|) merge ever runs.
    val sizeOk =
      least(sa, sb).cast("double") >= lit(threshold) * greatest(sa, sb).cast("double")
    val inter =
      graft.functions.ArrayFunctions.sortedIntersectCount(col("a.toks"), col("b.toks"))
        .cast("double")
    val j = inter / (sa + sb - inter)
    val right = if (broadcastRight) broadcast(b) else b
    a.join(right, col(s"a.$idCol") < col(s"b.$idCol") && sizeOk)
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"), j.as("j"))
      .filter(col("j") >= threshold)
  }

  /** C4-style GLOBAL segment dedup with rewrite: split every document into
    * consecutive `segTokens`-token segments (tail partial kept), keep each
    * distinct segment's GLOBALLY FIRST occurrence — ordered by
    * `(id, seg_idx)` — and drop every other occurrence corpus-wide
    * (including repeats inside the first doc itself), then rebuild each
    * document's text from its surviving segments in order. This is the
    * rewrite C4 applies at line granularity ("deduplicate the corpus at
    * the three-sentence level, keeping one occurrence"); token-window
    * segments stand in for lines on unsegmented text. A fully-duplicate
    * document comes back as `""` with `n_segs_kept = 0`, never silently
    * dropped — the caller decides whether empties survive.
    *
    * Complements [[stripBoilerplate]] (which strips spans shared by MORE
    * than `maxDocs` docs and keeps no copy): here every segment keeps
    * exactly one canonical occurrence, the policy for accidental
    * duplication rather than boilerplate.
    *
    * 100 TB shape: segments reduce to 60-bit hashes ([[tokenHash60]]) at
    * the projection, so strings never cross a shuffle; the first-occurrence
    * winner per hash is a `min(struct(id, seg_idx))` groupBy — map-side
    * partial aggregation, so a boilerplate segment present in millions of
    * docs contributes ONE row per map partition, not a
    * `row_number() OVER (PARTITION BY hash ...)` sort of the hot hash's
    * entire row set in one task. Survivors join back on the hash (winner
    * side is one row per distinct segment) and docs rebuild with a per-doc
    * bounded sort. */
  def dedupSegmentsKeepFirst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segTokens: Int = 8
  ): DataFrame = {
    require(segTokens > 0, s"dedupSegmentsKeepFirst: segTokens must be positive, got $segTokens")
    val withTk = spread(docs, idCol).select(col(idCol), split(col(textCol), " ").as("tk"))
    // (id, seg_idx, seg): consecutive fixed-width token windows; an empty
    // split still yields one (empty) segment, so every doc has >= 1 row
    val segs = withTk.select(
      col(idCol),
      posexplode(
        expr(
          s"transform(sequence(0, (size(tk) - 1) div $segTokens), " +
            s"j -> concat_ws(' ', slice(tk, j * $segTokens + 1, $segTokens)))"
        )
      ).as(Seq("seg_idx", "seg"))
    )
    val hashed = segs.withColumn("h", tokenHash60(col("seg")))
    val winners = hashed
      .groupBy("h")
      .agg(min(struct(col(idCol), col("seg_idx"))).as("w"))
      .select(col("h"), col("w").getField(idCol).as("__wid"), col("w.seg_idx").as("__widx"))
    val kept = hashed
      .join(winners, Seq("h"))
      .filter(col(idCol) === col("__wid") && col("seg_idx") === col("__widx"))
    val rebuilt = kept
      .groupBy(idCol)
      .agg(
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            x => x.getField("seg")
          )
        ).as("text_dedup"),
        count(lit(1)).as("n_segs_kept")
      )
    docs
      .select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_segs_kept"), lit(0L)).as("n_segs_kept")
      )
  }
}
