package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Materialize.StageSyntax

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine is the exact baseline (O(|Q|·|C|) — broadcast the small
  * query side so candidates never shuffle); LSH bucketing is the scale path:
  * random-hyperplane signatures shrink the candidate set to same-bucket
  * pairs, turning the n² cross join into a bucket-keyed equi-join.
  */
object Similarity {
  import graft.functions.VecFunctions.vecDot

  /** Rank (qid, cid, sim) rows to each query's top-k by (sim desc, cid asc)
    * using the bounded-heap aggregate — at most k rows per query per
    * partition cross the shuffle; a window row_number would shuffle and
    * sort EVERY candidate similarity. cid is negated inside the packed
    * struct so the heap's descending order yields the ascending-cid
    * tie-break; non-numeric id columns (which can't negate) keep the
    * window path, preserving the generic input domain. */
  private def rankTopK(sims: DataFrame, k: Int): DataFrame =
    sims.schema("cid").dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        Relational
          .topKPerKey(
            sims,
            Seq("qid"),
            struct(col("sim"), (-col("cid")).as("__nc")),
            k,
            rankCol = "rn"
          )
          .select(col("qid"), (-col("__nc")).as("cid"), col("sim"), col("rn"))
      case _ =>
        val w = Window.partitionBy("qid").orderBy(desc("sim"), col("cid"))
        sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    }

  /** [[rankTopK]] for nProbe=1 cell joins — input carries the `cell`
    * column and groups by (cell, qid): a query's pairs all live in its
    * single cell and the pair stream is already hash-partitioned by
    * cell, which SATISFIES the (cell, qid) clustering — so the bounded
    * heap aggregates with ZERO exchange and only per-query winners ever
    * move. Grouping by qid alone instead re-shuffles every partial heap:
    * measured 1.43 GB for the rerank-sliver pick at the pq-planted 202k
    * gate, eliminated by this grouping. Same output contract as
    * [[rankTopK]]. */
  private def rankTopKCellLocal(sims: DataFrame, k: Int, keepCell: Boolean = false): DataFrame =
    sims.schema("cid").dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        val ranked = Relational
          .topKPerKey(
            sims,
            Seq("cell", "qid"),
            struct(col("sim"), (-col("cid")).as("__nc")),
            k,
            rankCol = "rn"
          )
        val base = Seq(col("qid"), (-col("__nc")).as("cid"), col("sim"), col("rn"))
        ranked.select((if (keepCell) col("cell") +: base else base): _*)
      case _ =>
        val w = Window.partitionBy("cell", "qid").orderBy(desc("sim"), col("cid"))
        val ranked = sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        if (keepCell) ranked else ranked.drop("cell")
    }

  /** Exact dot product in double precision — native codegen'd Expression
    * (left-to-right fold → deterministic, oracle-matching; see
    * [[graft.functions.FloatVecDot]]). */
  def dotD(a: Column, b: Column): Column = vecDot(a, b)

  /** Reference formulation via higher-order functions — kept for equivalence
    * testing of the native expression (allocates per row; ~10x slower). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x
    )

  def norm2(a: Column): Column = sqrt(dotD(a, a))

  def cosine(a: Column, b: Column): Column = dotD(a, b) / (norm2(a) * norm2(b))

  /** Exact top-k neighbors for each query row. `queries` is expected to be
    * small (broadcast); `candidates` can be arbitrarily large. Norms are
    * computed once per row, not once per pair. */
  def bruteForceTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      useCosine: Boolean = true
  ): DataFrame = {
    val q = queries.select(
      col(idCol).as("qid"),
      col(vecCol).as("qv"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("qn")
    )
    val c = candidates.select(
      col(idCol).as("cid"),
      col(vecCol).as("cv"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("cn")
    )
    val simExpr =
      if (useCosine) vecDot(col("qv"), col("cv")) / (col("qn") * col("cn"))
      else vecDot(col("qv"), col("cv"))
    // broadcast on the right: BNLJ whole-stage codegen needs BuildRight
    val sims = c
      .join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), round(simExpr, 6).as("sim"))
    rankTopK(sims, k)
  }

  /** Recall@k audit of an APPROXIMATE ANN result against the EXACT
    * ranking — the acceptance test every index deployment runs before
    * trusting [[ivfTopK]]/[[pqTopK]]/[[approxTopK]] corpus-wide. Inputs
    * are two `(qid, cid, rn, ...)` top-k frames (the shape every top-k
    * op here emits). Per query: `n_hit = |approx ∩ exact|` over
    * `rn <= k` rows, `n_exact` = exact neighbors present (a query whose
    * cell holds fewer than k candidates is not punished for the
    * shortfall), `recall = n_hit / n_exact`.
    *
    * 100 TB shape: both inputs are k-bounded per query, so this is one
    * (qid, cid) equi-join plus per-qid counts over k·|queries| rows —
    * vectors never enter. Run the exact side on a SAMPLE of queries at
    * scale (bruteForceTopK over the full corpus is the O(N²) baseline). */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"recallAtK: k must be >= 1, got $k")
    val a = approx.filter(col("rn") <= k).select(col("qid"), col("cid"))
    val e = exact.filter(col("rn") <= k).select(col("qid"), col("cid"))
    val hits = a.join(e, Seq("qid", "cid")).groupBy("qid").agg(count(lit(1)).as("n_hit"))
    e.groupBy("qid")
      .agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left_outer")
      .select(
        col("qid"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_exact"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"), 6).as("recall")
      )
  }

  /** Margin-based bitext candidate mining (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix alignment rule): given FORWARD top-k neighbors (each
    * source vector's k nearest targets) and BACKWARD top-k (each
    * target's k nearest sources) from ANY of this file's top-k operators
    * — [[bruteForceTopK]] for the audit path, [[ivfTopK]] for the 100 TB
    * path (the x104 sample discipline) — score every forward RANK-1 pair
    * by the ratio margin
    *
    *   `margin(x, y) = sim(x, y) / ((avgF(x) + avgB(y)) / 2)`
    *
    * where `avgF(x)` / `avgB(y)` are the mean similarities of x's
    * forward and y's backward neighborhoods: a pair aligns not when its
    * cosine is high but when it is high RELATIVE to both vectors'
    * neighborhoods (the hubness correction that makes mined bitext
    * usable). `mutual = true` additionally requires the pair to be its
    * target's backward rank-1 (the CCMatrix intersection rule).
    *
    * Exactness contract (the x130 decimal-mean discipline): input sims
    * are already 6-dp (every top-k op here rounds), the neighborhood
    * means divide an exact DECIMAL(28,6) sum by the neighbor count —
    * order-independent, so the engine and an external replay agree
    * bit-for-bit — and the margin is one correctly-rounded IEEE divide
    * rounded to 6 dp. Output: (qid, cid, sim, avg_src, avg_tgt, margin).
    *
    * 100 TB shape: inputs are k-bounded per vector, so this is two
    * k·N-row decimal aggregates + equi-joins on ids — vectors never
    * enter, and the pair volume is whatever the upstream top-k already
    * bounded (IVF's sum(cell²) contract). */
  def marginMine(fwd: DataFrame, bwd: DataFrame, mutual: Boolean = false): DataFrame = {
    Seq("fwd" -> fwd, "bwd" -> bwd).foreach { case (n, f) =>
      val missing = Seq("qid", "cid", "sim", "rn").filterNot(f.columns.contains)
      require(
        missing.isEmpty,
        s"marginMine: $n lacks ${missing.mkString(", ")} — pass a top-k frame " +
          "(the (qid, cid, sim, rn) shape every top-k operator here emits)")
    }
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def avgOf(df: DataFrame, out: String): DataFrame = df
      .groupBy("qid")
      .agg((sum(col("sim").cast(dec)).cast("double") / count(lit(1))).as(out))
    val avgF = avgOf(fwd, "avg_src")
    val avgB = avgOf(bwd, "avg_tgt").withColumnRenamed("qid", "cid")
    val best = fwd.filter(col("rn") === 1).select("qid", "cid", "sim")
    val paired =
      if (!mutual) best
      else
        best.join(
          bwd.filter(col("rn") === 1)
            .select(col("qid").as("cid"), col("cid").as("qid")),
          Seq("qid", "cid"))
    paired
      .join(avgF, Seq("qid"))
      .join(avgB, Seq("cid"))
      .select(
        col("qid"), col("cid"), col("sim"), col("avg_src"), col("avg_tgt"),
        round(col("sim") / ((col("avg_src") + col("avg_tgt")) / 2.0), 6).as("margin"))
  }

  /** All-pairs exact nearest neighbor (k=1) via map-side max partial
    * aggregation — no 25M-row window shuffle, only one tiny row per query id
    * leaves each partition. Tie-break: lowest candidate id.
    *
    * (sim, cid) is packed into ONE long so the aggregate is a primitive
    * `max(long)` inside whole-stage codegen — `max(struct)` falls back to
    * SortAggregate, which sorted the full pair set (~4x slower measured).
    * Encoding: sim is first rounded to 6 dp (exactly what the output
    * reports), scaled to an integer k ∈ [-1e6, 1e6] via a second round
    * (exact: the scaled value is within 1 ulp of the integer), offset
    * non-negative, and the bit-complemented candidate id occupies the low 32
    * bits — so lexicographic long order = (sim desc-last, cid asc-last)
    * under max. Requires ids < 2^32; fall back to a struct max for wider
    * id spaces. */
  def nearestNeighbor(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // Enforce the id < 2^32 packing precondition at runtime, once per input
    // row (NOT per pair): an out-of-range id fails the job with a clear
    // message instead of decoding to a wrong nn_id.
    val guardedId = PackedArgmax
      .guardId(col(idCol), "nearestNeighbor", "; use bruteForceTopK(k=1) for wider id spaces")
    val base = df.select(
      guardedId.as("id"),
      col(vecCol).as("v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm")
    )
    val q = base.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    // hash-repartition the STREAM side with an EXPLICIT partition count: a
    // small input (one parquet file = one partition) would otherwise run the
    // whole O(n²) pair loop on a single core — and AQE would coalesce a
    // count-less repartition right back to one partition because the rows
    // are small BY BYTES (the cost here is compute per row, not size). One
    // shuffle of n rows is noise next to the n²/p loop.
    val c = base
      .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("cid"))
    // Cosine is symmetric, so join on qid < cid (HALF the pairs), compute
    // each dot product once, and emit the (sim, otherId) encoding in both
    // directions via a generator — 2x fewer vecDot evaluations than the
    // naive qid != cid formulation for the same aggregate input.
    //
    // Zero-norm or null vectors → null sim (never NaN/Infinity): max()
    // ignores nulls, and a query whose sims are ALL null still appears in
    // the output with null nn_id/sim ("no valid neighbor") rather than
    // being silently dropped or crashing the ANSI NaN→long cast.
    val sim = when(
      col("qn") > 0 && col("cn") > 0,
      round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
    )
    val encToC = PackedArgmax.encode(sim, col("cid"))
    val encToQ = PackedArgmax.encode(sim, col("qid"))
    // broadcast side on the RIGHT: BroadcastNestedLoopJoin only supports
    // whole-stage codegen with BuildRight — BuildLeft drops the entire
    // pair loop (join + dot products + aggregation) out of codegen,
    // measured ~4x slower at 2M pairs.
    c.join(broadcast(q), col("qid") < col("cid"))
      .select(
        explode(
          array(
            struct(col("qid").as("id"), encToC.as("enc")),
            struct(col("cid").as("id"), encToQ.as("enc"))
          )
        ).as("p")
      )
      .select(col("p.id").as("qid"), col("p.enc").as("enc"))
      .groupBy("qid")
      .agg(max(col("enc")).as("m"))
      .select(
        col("qid").as("vec_id"),
        PackedArgmax.decodeId(col("m")).as("nn_id"),
        PackedArgmax.decodeSim(col("m")).as("sim")
      )
  }

  /** Random-hyperplane LSH bucket id: `nBits` sign bits from deterministic
    * pseudo-hyperplanes derived from (bit, dim) hashes — no RNG state to
    * ship, identical on every executor. Same-bucket vectors are near-dup
    * candidates; expected candidate count falls exponentially in nBits.
    * One codegen expression over a precomputed sign matrix
    * ([[graft.functions.LshBucketBits]]) — constant codegen size in
    * (nBits, dim), so 768-dim embeddings stay in whole-stage codegen. */
  def lshBucket(vec: Column, dim: Int, nBits: Int): Column =
    graft.functions.VecFunctions.lshBucketBits(vec, dim, nBits)

  /** Approximate top-k with multi-probe hyperplane LSH: queries probe their
    * own bucket plus every bucket within hamming distance `multiProbe`, then
    * rank probed candidates by exact cosine. The candidate set per query is
    * |corpus| / 2^nBits x (#probes) in expectation — the knob trading recall
    * for cost; the join is a bucket equi-join (shuffle on bucket), never a
    * cross join. */
  def approxTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      nBits: Int,
      multiProbe: Int = 1
  ): DataFrame = {
    val withB = df.select(
      col(idCol),
      col(vecCol),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"),
      lshBucket(col(vecCol), dim, nBits).as("bucket")
    )
    // enumerate bucket masks within hamming distance <= multiProbe
    val masks: Seq[Long] = {
      def combos(bits: List[Int], r: Int): Seq[List[Int]] =
        if (r == 0) Seq(Nil)
        else bits match {
          case Nil => Seq.empty
          case h :: t => combos(t, r - 1).map(h :: _) ++ combos(t, r)
        }
      (0 to multiProbe).flatMap(r => combos((0 until nBits).toList, r))
        .map(_.foldLeft(0L)((acc, b) => acc | (1L << b)))
    }
    val q = withB
      .select(
        col(idCol).as("qid"),
        col(vecCol).as("qv"),
        col("nrm").as("qn"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket")
      )
    val c = withB.select(col(idCol).as("cid"), col(vecCol).as("cv"), col("nrm").as("cn"), col("bucket"))
    val sims = q
      .join(c, Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(
        col("qid"),
        col("cid"),
        round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim")
      )
      .distinct() // a pair can meet in several probed buckets
    rankTopK(sims, k)
  }

  /** IVF (inverted-file) approximate top-k — the cell-partitioned scale
    * path complementing hyperplane LSH: assign every vector to its nearest
    * coarse centroid (argmax cosine, ties to the lowest centroid id), then
    * search only within probed cells via a cell equi-join. Candidate volume
    * per query is |corpus| / nCells x nProbe in expectation; the join
    * shuffles on the cell id, never forming the n² cross join.
    *
    * Centroid fit is pluggable: `centroids` is any (id, vector) frame small
    * enough to broadcast — a sampled k-means in production; any
    * deterministic subset for parity testing. Assignment is a broadcast
    * join + packed-long argmax (HashAggregate, no window; same encoding as
    * [[nearestNeighbor]]), so it holds at any corpus size.
    *
    * nProbe > 1 probes the query's top-nProbe cells (by centroid cosine),
    * trading cost for recall exactly like IVF `nprobe`.
    *
    * SIZE THE CELL COUNT WITH THE CORPUS: total scored pairs are
    * N²/nCells·nProbe, so a FIXED nCells turns 100x data into 10,000x
    * work. The standard IVF prescription nCells ≈ √N keeps cells at √N
    * vectors (pair volume N^1.5); measured at the 100x set, nCells=8
    * exceeds a 420 s cap while nCells=√N finishes in seconds
    * (ROUND12.md). [[ivfTopKAuto]] derives the √N
    * cell count and fits the centroids for you — reach for it unless you
    * already have a fitted index. */
  def ivfTopK(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 1
  ): DataFrame = ivfTopKImpl(df, centroids, idCol, vecCol, k, nProbe, keepCell = false)

  /** [[ivfTopK]] body, with the option to KEEP the pair's cell id in the
    * output (nProbe = 1 only — there each pair lives in exactly one cell).
    * The cell column is what lets [[matryoshkaIvfTopK]]'s cell-grouped
    * rerank fetch route pairs and vectors with one narrow key instead of
    * re-deriving assignments with a second scoring pass. */
  private def ivfTopKImpl(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      keepCell: Boolean
  ): DataFrame = {
    require(!keepCell || nProbe == 1, "ivfTopK: keepCell requires nProbe = 1")
    // centroid ids enter the same packed-long encoding as nearestNeighbor,
    // so they get the same runtime [0, 2^32) guard — an out-of-range id
    // (e.g. hash-derived) would silently alias cells otherwise. Zero-norm /
    // null vectors have no defined cell and are EXCLUDED from both the
    // query and candidate sides (a top-k list over undefined similarity is
    // meaningless); use nearestNeighbor if null-surfacing matters.
    val cenGuard = PackedArgmax.guardId(col(idCol), "ivfTopK centroid")
    val cen = centroids.select(
      cenGuard.as("cen_id"),
      col(vecCol).as("cen_v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("cen_n")
    )
    val base = df
      .select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm")
      )
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
    // (vector, centroid) scores; packed-long max -> nearest cell(s).
    // Encoding as in nearestNeighbor: (round(sim,6)*1e6 + offset) << 32 |
    // (2^32-1 - cen_id), so max = highest sim, then lowest centroid id.
    val sim = when(
      col("nrm") > 0 && col("cen_n") > 0,
      round(vecDot(col("v"), col("cen_v")) / (col("nrm") * col("cen_n")), 6)
    )
    val enc = PackedArgmax.encode(sim, col("cen_id"))
    val scored = base
      .join(broadcast(cen), lit(true))
      .select(col("id"), col("v"), col("nrm"), enc.as("enc"))
    val assigned =
      if (nProbe == 1)
        scored
          .groupBy("id")
          // v/nrm are functionally determined by id — first() avoids
          // hashing a 64-float array as a grouping key
          .agg(max(col("enc")).as("m"), first(col("v")).as("v"), first(col("nrm")).as("nrm"))
          .select(
            col("id"),
            col("v"),
            col("nrm"),
            PackedArgmax.decodeId(col("m")).as("cell")
          )
      else {
        val w = Window.partitionBy("id").orderBy(desc("enc"))
        scored
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= nProbe)
          .select(
            col("id"),
            col("v"),
            col("nrm"),
            PackedArgmax.decodeId(col("enc")).as("cell"),
            col("rn")
          )
      }
    // candidates live in their own (rn=1) cell; queries probe nProbe cells
    val cands = (if (nProbe == 1) assigned else assigned.filter(col("rn") === 1))
      .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn"), col("cell"))
    val qs = assigned
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"), col("cell"))
    val pair = when(
      col("qn") > 0 && col("cn") > 0,
      round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
    )
    val simsRaw = qs
      .join(cands, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("cell"), col("qid"), col("cid"), pair.as("sim"))
    // nProbe > 1: a pair can meet in several probed cells → dedup. At
    // nProbe == 1 each id has exactly one query row and one candidate row,
    // so pairs are unique by construction and the distinct would be a full
    // extra shuffle of the candidate volume for nothing (measured 39.8 →
    // 28.0 s on the 202k-vector sq8-planted gate); the ranking heap also
    // stays cell-local (zero exchange — see rankTopKCellLocal).
    if (nProbe == 1) rankTopKCellLocal(simsRaw, k, keepCell)
    else rankTopK(simsRaw.drop("cell").distinct(), k)
  }

  /** Cross-set IVF search — the SERVING shape ([[ivfTopK]] searches a
    * set against itself; this searches a QUERY set against an indexed
    * CORPUS): corpus vectors live in their nearest-centroid cell,
    * queries probe their top-`nProbe` cells, candidates come from the
    * cell equi-join — per-query work is |corpus|/nCells · nProbe, the
    * IVF contract, with the √|corpus| cell-count prescription
    * unchanged. Ids are NOT cross-filtered: the two sets are separate
    * namespaces (a query id equal to a corpus id is a coincidence, not
    * a self-pair — unlike [[ivfTopK]]'s qid != cid rule). Zero-norm /
    * null vectors have no defined cell and drop from both sides.
    * Output: the standard (qid, cid, sim, rn) top-k frame — feed a
    * forward and a backward run to [[marginMine]] for bitext mining at
    * scale (x175 pins that composition cross-engine). */
  def ivfSearch(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 1
  ): DataFrame = {
    require(k >= 1, s"ivfSearch: k must be >= 1, got $k")
    require(nProbe >= 1, s"ivfSearch: nProbe must be >= 1, got $nProbe")
    val cenGuard = PackedArgmax.guardId(col(idCol), "ivfSearch centroid")
    val cen = centroids.select(
      cenGuard.as("cen_id"),
      col(vecCol).as("cen_v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("cen_n")
    )
    // same assignment machinery as ivfTopK: broadcast centroids +
    // packed-long argmax (no window at nProbe=1); null sims (zero norms)
    // yield a null cell, which the cell equi-join drops
    def assigned(df: DataFrame, probes: Int): DataFrame = {
      val base = df
        .select(
          col(idCol).as("id"),
          col(vecCol).as("v"),
          sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      val sim = when(
        col("nrm") > 0 && col("cen_n") > 0,
        round(vecDot(col("v"), col("cen_v")) / (col("nrm") * col("cen_n")), 6))
      val enc = PackedArgmax.encode(sim, col("cen_id"))
      val scored = base
        .join(broadcast(cen), lit(true))
        .select(col("id"), col("v"), col("nrm"), enc.as("enc"))
      if (probes == 1)
        scored
          .groupBy("id")
          .agg(max(col("enc")).as("m"), first(col("v")).as("v"), first(col("nrm")).as("nrm"))
          .select(col("id"), col("v"), col("nrm"), PackedArgmax.decodeId(col("m")).as("cell"))
      else {
        val w = Window.partitionBy("id").orderBy(desc("enc"))
        scored
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= probes)
          .select(col("id"), col("v"), col("nrm"), PackedArgmax.decodeId(col("enc")).as("cell"))
      }
    }
    val qs = assigned(queries, nProbe)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"), col("cell"))
    val cands = assigned(corpus, 1)
      .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn"), col("cell"))
    val pair = when(
      col("qn") > 0 && col("cn") > 0,
      round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val simsRaw = qs
      .join(cands, Seq("cell"))
      .select(col("cell"), col("qid"), col("cid"), pair.as("sim"))
    // a candidate lives in exactly one cell, so cross-set pairs are unique
    // even at nProbe > 1 — no dedup shuffle needed (unlike self-set LSH)
    if (nProbe == 1) rankTopKCellLocal(simsRaw, k)
    else rankTopK(simsRaw.drop("cell"), k)
  }

  /** [[ivfTopK]] with the cell count DERIVED from the corpus — the
    * convenience that makes the documented √N contract the path of least
    * resistance instead of a hand-built centroid frame (the x34 fixed-8
    * footgun). One `count()` pass sizes `nCells = max(1, floor(√N))`,
    * [[kmeansFit]] fits that many centroids (`iters` Lloyd rounds from
    * its deterministic first-k seeding; pass better seeds through the
    * manual path if recall at low nProbe matters), and the rest IS
    * ivfTopK — the composition is pinned equal to the manual calls in
    * OperatorsSpec.
    *
    * `iters = 0` keeps the seeds verbatim (the first √N ids' vectors) —
    * zero extra data passes beyond the count, and fully replayable by an
    * external engine (x97 gates exactly that configuration).
    *
    * 100 TB shape: the derivation is what keeps scaled-up corpora safe —
    * scored pairs stay N^1.5/√N-per-cell as N grows instead of N²/const
    * (measured blow-up and the √N fix: ROUND12.md).
    * kmeansFit's per-iteration cost is the same N·√N broadcast-assignment
    * volume as the final scoring pass. NOTE: [[farthestPointSeeds]] is
    * NOT used here by design — its k−1 sequential corpus passes are fine
    * at small k but O(√N) full scans at the auto cell count. */
  def ivfTopKAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 1,
      iters: Int = 2
  ): DataFrame = {
    val n = df.count()
    require(n > 0, "ivfTopKAuto: empty corpus")
    val nCells = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong).toInt
    val cen = kmeansFit(df, idCol, vecCol, nCells, iters)
      .select(col("cen_id").as(idCol), col("cen_v").as(vecCol))
    ivfTopK(df, cen, idCol, vecCol, k, nProbe)
  }

  /** IVF top-k scored on SQ8 codes: cell partitioning bounds WHICH pairs
    * are scored ([[ivfTopK]]'s equi-join), int8 codes bound what each
    * scored row carries (~dim bytes vs 4*dim of floats in the cell join)
    * and scoring is the integer [[sqCosine]] kernel. Float vectors are
    * fetched ONLY for the top-`rerank` sliver per query, which is then
    * exactly reranked to the final k.
    *
    * With `rerank` >= the per-query candidate volume this provably equals
    * [[ivfTopK]] at the same centroids/nProbe (every candidate survives to
    * the exact stage — pinned in OperatorsSpec); in production `rerank` is
    * a small multiple of k (SQ8 cosine error ~1e-3 at 64 dims). Cell
    * ASSIGNMENT stays on float vectors: one broadcast pass against k
    * centroids — cheap, never pairwise — so cell boundaries are identical
    * to the unquantized index.
    *
    * WHEN TO USE — measured, not assumed (Spike sq8-planted, 202k x 64-dim
    * self-ANN, quiet box): for corpus-wide SELF-ANN with float vectors on
    * hand, [[ivfTopK]] is strictly better (17.5 s / 251 MB shuffled vs
    * 22.7 s / 1.29 GB) — its co-partitioned design never shuffles the pair volume,
    * while the rerank fetch here drags a float vector across an exchange
    * for every (query x rerank) sliver row; and on the JVM (no SIMD over
    * byte arrays) the int8 kernel only matches float flops, it does not
    * beat them. The quantized path pays where BYTES are the bill: the
    * index stored AS codes (3.6x smaller scan/cache — the usual
    * embedding-store layout) with the float table in cold storage touched
    * only for slivers, memory-resident serving indexes 4x smaller, and
    * scan-bound pipelines. See [[bruteForceTopKSq]] for the
    * broadcast-batch analog and the same measured trade-off. */
  def ivfTopKSq(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 1,
      rerank: Int = 50
  ): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val cenGuard = PackedArgmax.guardId(col(idCol), "ivfTopKSq centroid")
    val cen = centroids.select(
      cenGuard.as("cen_id"),
      col(vecCol).as("cen_v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("cen_n")
    )
    // referenced by three subtrees (assignment, query-side and candidate-
    // side rerank fetch) — the explicit repartition makes them an IDENTICAL
    // exchange subplan, so Spark's ReuseExchange computes it once per job
    // instead of re-quantizing per subtree; no persist handle to leak.
    val base = sqQuantize(df, idCol, vecCol)
      .select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"),
        col("sq_codes").as("codes")
      )
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
    val sim = when(
        col("nrm") > 0 && col("cen_n") > 0,
        round(vecDot(col("v"), col("cen_v")) / (col("nrm") * col("cen_n")), 6)
      )
      val enc = PackedArgmax.encode(sim, col("cen_id"))
      val scored = base
        .join(broadcast(cen), lit(true))
        .select(col("id"), col("codes"), enc.as("enc"))
      val assigned =
        if (nProbe == 1)
          scored
            .groupBy("id")
            .agg(max(col("enc")).as("m"), first(col("codes")).as("codes"))
            .select(col("id"), col("codes"), PackedArgmax.decodeId(col("m")).as("cell"), lit(1).as("rn"))
        else {
          val w = Window.partitionBy("id").orderBy(desc("enc"))
          scored
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= nProbe)
            .select(col("id"), col("codes"), PackedArgmax.decodeId(col("enc")).as("cell"), col("rn"))
        }
      // the cell join carries CODES (+ one precomputed squared norm),
      // never float vectors
      import graft.functions.VecFunctions.byteDot
      val cands = assigned
        .filter(col("rn") === 1)
        .select(
          col("id").as("cid"),
          col("codes").as("cc"),
          byteDot(col("codes"), col("codes")).as("cn2"),
          col("cell")
        )
      val qs = assigned.select(
        col("id").as("qid"),
        col("codes").as("qc"),
        byteDot(col("codes"), col("codes")).as("qn2"),
        col("cell")
      )
      val qsimsRaw = qs
        .join(cands, Seq("cell"))
        .filter(col("qid") =!= col("cid"))
        .select(
          col("cell"),
          col("qid"),
          col("cid"),
          round(sqCosinePre(col("qc"), col("qn2"), col("cc"), col("cn2")), 6).as("qsim")
        )
      // dedup only when nProbe > 1 (see ivfTopK — same argument); the
      // sliver heap groups by (cell, qid) at nProbe=1 so it aggregates
      // CELL-LOCALLY with zero exchange (see rankTopKCellLocal)
      val (qsims, sliverKeys) =
        if (nProbe == 1) (qsimsRaw, Seq("cell", "qid"))
        else (qsimsRaw.drop("cell").distinct(), Seq("qid"))
      val kept = Relational
        .topKPerKey(
          qsims.filter(col("qsim").isNotNull),
          sliverKeys,
          struct(col("qsim"), (-col("cid")).as("__nc")),
          rerank,
          rankCol = "__qr"
        )
        .select(col("qid"), (-col("__nc")).as("cid"))
      // exact rerank: fetch float vectors for the sliver only — straight
      // from the source (column-pruned scan), NOT through `base`'s
      // repartition, so float vectors never ride the quantized exchange
      val srcV = df.select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm")
      )
      val qv = srcV.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      val cv = srcV.select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
      val sims = kept
        .join(qv, Seq("qid"))
        .join(cv, Seq("cid"))
        .select(
          col("qid"),
          col("cid"),
          round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim")
        )
    rankTopK(sims, k)
  }

  /** Distributed Lloyd's k-means over an embedding column — the production
    * centroid fit for [[ivfTopK]]. Each iteration is one broadcast
    * assignment pass (packed-long argmax, as in ivfTopK) plus one
    * decimal-exact elementwise mean per cell (the [[labelCentroids]]
    * shape), so every round is two shuffle-bounded jobs and the result is
    * IDENTICAL at any partition count — a reproducibility property RNG/
    * float-order k-means implementations don't have. Initial centroids:
    * the first `k` ids in ascending order (deterministic; callers wanting
    * k-means++ can pass better seeds through `initial`).
    *
    * Returns a small LOCAL frame of (cen_id, cen_v) with cen_id in [0, k)
    * for default seeding (caller-supplied `initial` ids pass the same
    * [0, 2^32) packed-encoding guard as ivfTopK). Empty cells keep their
    * previous centroid. The input is persisted for the duration of the fit
    * and released before returning; the result is collected (k rows) so no
    * cache handle escapes. */
  def kmeansFit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      initial: Option[DataFrame] = None
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && iters >= 0, s"bad kmeans params k=$k iters=$iters")
    val base = df
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // eager: every iteration reads it; don't rescan the source
    var cen = initial
      .map(i =>
        i.select(
          PackedArgmax.guardId(col("cen_id"), "kmeansFit initial centroid").as("cen_id"),
          col("cen_v")
        )
      )
      .getOrElse {
        // TakeOrdered(k) — never a global sort; the window only numbers
        // the k seed rows
        val firstK = base.orderBy("id").limit(k)
        val w = Window.orderBy(col("id"))
        firstK
          .withColumn("__rn", row_number().over(w))
          .select((col("__rn") - 1).cast("long").as("cen_id"), col("v").as("cen_v"))
      }
    var prevCache: Option[DataFrame] = None
    (0 until iters).foreach { _ =>
      val cenN = cen.select(
        col("cen_id"),
        col("cen_v"),
        sqrt(vecDot(col("cen_v"), col("cen_v"))).as("cen_n")
      )
      val sim = when(
        col("nrm") > 0 && col("cen_n") > 0,
        round(vecDot(col("v"), col("cen_v")) / (col("nrm") * col("cen_n")), 6)
      )
      val enc = PackedArgmax.encode(sim, col("cen_id"))
      val assigned = base
        .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
        .join(broadcast(cenN), lit(true))
        .select(col("id"), col("v"), enc.as("enc"))
        .groupBy("id")
        .agg(max(col("enc")).as("m"), first(col("v")).as("v"))
        .select(PackedArgmax.decodeId(col("m")).as("cell"), col("v"))
      // decimal-exact elementwise mean per cell (labelCentroids shape),
      // rebuilt into a float vector ordered by position
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(
          sum(col("x").cast("double").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .as("sx"),
          count(lit(1)).as("n")
        )
        .select(
          col("cell"),
          col("pos"),
          (col("sx").cast("double") / col("n")).cast("float").as("m")
        )
        .groupBy("cell")
        .agg(
          transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")
          ).as("cen_v")
        )
        .select(col("cell").as("cen_id"), col("cen_v"))
      // empty cells keep their previous centroid
      val next = cen
        .join(means.withColumnRenamed("cen_v", "new_v"), Seq("cen_id"), "left_outer")
        .select(col("cen_id"), coalesce(col("new_v"), col("cen_v")).as("cen_v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize: next round references cen from several subtrees
      prevCache.foreach(_.unpersist())
      prevCache = Some(next)
      cen = next
    }
    // k rows: collect to a local frame so every cache used by the fit can
    // be released here instead of leaking with the returned lineage
    val result = cen.collect().toSeq
    val schema = cen.schema
    prevCache.foreach(_.unpersist())
    base.unpersist()
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(result, 1),
      schema
    )
  }

  /** Deterministic farthest-point (k-means++-style maximin) seeding for
    * [[kmeansFit]]: seed 0 is the lowest-id vector; each further seed is
    * the vector MINIMIZING its max cosine to the chosen seeds (i.e. the
    * angularly farthest point), ties broken by lowest id — fully
    * deterministic at any parallelism, unlike sampled k-means++. Spread
    * seeds cover the corpus better than the first-k default, which
    * matters directly for [[ivfTopK]] recall at a given nProbe.
    *
    * 100 TB shape: each of the k-1 rounds is ONE aggregation — the
    * current seeds ship as plan literals (k vectors, broadcast-sized) and
    * the argmin is the same packed-long max as [[nearestNeighbor]]
    * (HashAggregate, map-side partial), so no round shuffles the corpus;
    * per-round driver traffic is a single row. Zero-norm vectors are
    * excluded (no defined direction). Returns a LOCAL (cen_id, cen_v)
    * frame with cen_id in [0, k), ready for `kmeansFit(initial = ...)`. */
  def farthestPointSeeds(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, s"farthestPointSeeds: k must be positive, got $k")
    val spark = df.sparkSession
    val base = df
      .select(
        PackedArgmax.guardId(col(idCol), "farthestPointSeeds").as("id"),
        col(vecCol).as("v"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm")
      )
      .filter(col("nrm") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = base.count()
      require(
        n >= k,
        s"farthestPointSeeds: only $n non-degenerate vectors for k=$k seeds"
      )
      val first = base.orderBy("id").limit(1).collect()
      val seeds = scala.collection.mutable.ArrayBuffer[Array[Float]](
        first.head.getSeq[Float](1).toArray
      )
      while (seeds.length < k) {
        // max cosine to any chosen seed, as literal-array dot products —
        // one codegen'd projection, no join
        val mc = seeds
          .map { s =>
            val sNorm = math.sqrt(s.map(x => x.toDouble * x).sum)
            vecDot(col("v"), typedLit(s.toSeq)) / (col("nrm") * lit(sNorm))
          }
          .reduce((a, b) => greatest(a, b))
        // farthest = MIN max-cosine: encode(-mc) under max; lowest id ties
        val enc = PackedArgmax.encode(round(-mc, 6), col("id"))
        val pickedId = base
          .agg(max(enc).as("m"))
          .select(PackedArgmax.decodeId(col("m")))
          .collect()
          .head
          .getLong(0)
        seeds += base.filter(col("id") === pickedId).head().getSeq[Float](1).toArray
      }
      import spark.implicits._
      seeds.toSeq.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("cen_id", "cen_v")
    } finally base.unpersist()
  }

  // ------------------------------------------------------------------
  // Int8 scalar quantization (SQ8) — the embedding STORAGE path at 100 TB:
  // a 768-dim float32 embedding is 3 KB/row; its int8 codes + one double
  // scale are ~780 B (measured 3.6x smaller on parquet with full-entropy
  // vectors — Spike sq8-planted). ANN stages that only need approximate
  // similarity (bucketing, candidate scoring) can run on codes and touch
  // float vectors solely for the final exact rerank. Bytes, not flops, are
  // what quantization buys on the JVM: scans, broadcasts and caches shrink
  // ~4x, while the int8 kernel only ties the float kernel's speed (no SIMD
  // over byte arrays) — the operator docs below carry the measurements.
  // ------------------------------------------------------------------

  /** Attach int8 scalar-quantized codes to an embedding column: per-vector
    * `sq_scale = max(|x|)/127` (0.0 for the all-zero vector) and
    * `sq_codes[i] = round(x[i]/sq_scale)` in [-127, 127] as `tinyint`.
    * Pure per-row projection — native array expressions, no UDF, no
    * shuffle; deterministic (round half-away-from-zero in double, same as
    * the SQL oracle). Max-abs scaling guarantees |code| <= 127 by
    * construction, so the ANSI tinyint cast can never overflow.
    *
    * Reconstruction (`[[sqDequantize]]`) is within sq_scale/2 per element;
    * quantized cosine ([[sqCosine]]) is scale-free (the per-vector scales
    * cancel), so bucketing/scoring on codes needs no float data at all. */
  def sqQuantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val mx = aggregate(
      col(vecCol),
      lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double")))
    )
    df.withColumn("__mx", mx)
      .withColumn("sq_scale", col("__mx") / lit(127.0))
      .withColumn(
        "sq_codes",
        when(
          col("__mx") === 0.0,
          transform(col(vecCol), _ => lit(0).cast("tinyint"))
        ).otherwise(
          transform(
            col(vecCol),
            x => round(x.cast("double") / col("sq_scale"), 0).cast("tinyint")
          )
        )
      )
      .drop("__mx")
  }

  /** Reconstruct approximate float vectors from SQ8 codes. */
  def sqDequantize(codes: Column, scale: Column): Column =
    transform(codes, c => (c.cast("double") * scale).cast("float"))

  /** Approximate dot product from SQ8 codes: `intdot(a, b) * sa * sb`.
    * The integer dot is the codegen'd [[graft.functions.ByteVecDot]] —
    * exact int64 arithmetic, deterministic everywhere. */
  def sqDot(codesA: Column, scaleA: Column, codesB: Column, scaleB: Column): Column =
    graft.functions.VecFunctions.byteDot(codesA, codesB).cast("double") * scaleA * scaleB

  /** Approximate cosine from SQ8 codes ALONE — the per-vector scales cancel
    * (cos(s_a*a, s_b*b) = cos(a, b)), so candidate scoring never touches
    * float vectors or scales. Null when either code vector is all-zero.
    *
    * Convenience form: THREE integer dots per invocation. Pairwise scoring
    * loops must instead precompute `byteDot(c, c)` once per row and use
    * [[sqCosinePre]] — one dot per pair, like the float operators'
    * precomputed norms (this exact mistake made int8 scoring slower than
    * float in the first sq8-planted measurement). */
  def sqCosine(codesA: Column, codesB: Column): Column = {
    import graft.functions.VecFunctions.byteDot
    sqCosinePre(codesA, byteDot(codesA, codesA), codesB, byteDot(codesB, codesB))
  }

  /** Pairwise SQ8 cosine with per-row precomputed squared code norms —
    * one integer dot per pair. */
  def sqCosinePre(codesA: Column, norm2A: Column, codesB: Column, norm2B: Column): Column =
    when(
      norm2A > 0 && norm2B > 0,
      graft.functions.VecFunctions.byteDot(codesA, codesB).cast("double") /
        (sqrt(norm2A.cast("double")) * sqrt(norm2B.cast("double")))
    )

  /** Quantized brute-force top-k with exact rerank — the SQ8 scoring path:
    * ALL pairs are scored on int8 codes (one integer dot per pair against
    * a 4x smaller broadcast), the top `rerank` >= k candidates per query
    * survive as NARROW (qid, cid, qsim) rows, and only that sliver fetches
    * float vectors for the exact final k. `rerank` is the recall knob: the
    * exact top-k is recovered whenever no true neighbor is pushed below
    * rank `rerank` by quantization error (SQ8 cosine error ~1e-3 at 64
    * dims — measured bound in OperatorsSpec), so small oversampling
    * suffices. Output schema == [[bruteForceTopK]].
    *
    * Measured (Spike sq8-planted serving shape, 2k x 202k, quiet box):
    * 20.7 s vs the float path's 14.6 s on a hot in-memory corpus — JVM byte-array
    * loops don't vectorize, so the int kernel only ties float flops while
    * the rerank stages add work. Choose it when the corpus is STORED as
    * codes (3.6x smaller scan — then the float path must first read 3.6x
    * the bytes) or the broadcast budget, not CPU, binds. */
  def bruteForceTopKSq(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int
  ): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    import graft.functions.VecFunctions.byteDot
    val q = sqQuantize(queries, idCol, vecCol)
      .select(
        col(idCol).as("qid"),
        col("sq_codes").as("qc"),
        byteDot(col("sq_codes"), col("sq_codes")).as("qn2")
      )
    val c = sqQuantize(candidates, idCol, vecCol)
      .select(
        col(idCol).as("cid"),
        col("sq_codes").as("cc"),
        byteDot(col("sq_codes"), col("sq_codes")).as("cn2")
      )
    // stage 1: quantized scores for every pair — the broadcast carries
    // CODES only (4x smaller than the float query side), and the pair rows
    // feeding the heap are NARROW (qid, cid, qsim). Never attach vectors
    // to pair rows here: past the ObjectHashAggregate in-memory key
    // threshold the aggregate processes rows sort-based, and sorting the
    // full pair volume with 2x4xdim-byte vectors attached spills
    // catastrophically (measured: filled the disk at 4e8 pairs x 64 dims).
    val scored = c
      .join(broadcast(q), col("qid") =!= col("cid"))
      .select(
        col("qid"),
        col("cid"),
        round(sqCosinePre(col("qc"), col("qn2"), col("cc"), col("cn2")), 6).as("qsim")
      )
    // stage 2: top-`rerank` per query by quantized score (bounded heap —
    // at most `rerank` narrow rows per query per partition shuffle)
    val kept = Relational
      .topKPerKey(
        scored.filter(col("qsim").isNotNull),
        Seq("qid"),
        struct(col("qsim"), (-col("cid")).as("__nc")),
        rerank,
        rankCol = "__qr"
      )
      .select(col("qid"), (-col("__nc")).as("cid"))
    // stage 3: fetch float vectors for the sliver only and rerank exactly —
    // the query side is broadcast-sized by contract (same as bruteForceTopK)
    val qv = queries.select(
      col(idCol).as("qid"),
      col(vecCol).as("qv"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("qn")
    )
    val cv = candidates.select(
      col(idCol).as("cid"),
      col(vecCol).as("cv"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("cn")
    )
    val sims = kept
      .join(broadcast(qv), Seq("qid"))
      .join(cv, Seq("cid"))
      .select(
        col("qid"),
        col("cid"),
        round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim")
      )
    rankTopK(sims, k)
  }

  /** Per-label mean embedding in long format (label, pos, mean) — the
    * centroid-fit building block (feeds [[ivfTopK]], class prototypes,
    * embedding drift monitoring). posexplode + groupBy(label, pos) is one
    * shuffle of n·dim skinny rows with full map-side partial aggregation;
    * the element sum is decimal-routed so the mean is exact and identical
    * at any parallelism. */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df
      .select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg(
        sum(col("v").cast("double").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .as("sv"),
        count(lit(1)).as("n")
      )
      .select(
        col(labelCol),
        col("pos"),
        round(col("sv").cast("double") / col("n"), 6).as("mean")
      )

  /** Bucketed approximate NN: join same-bucket pairs only. */
  def lshCandidates(df: DataFrame, idCol: String, vecCol: String, dim: Int, nBits: Int): DataFrame = {
    val withB = df.select(col(idCol), col(vecCol), lshBucket(col(vecCol), dim, nBits).as("bucket"))
    val a = withB.as("a"); val b = withB.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("d1"),
        col(s"b.$idCol").as("d2"),
        round(cosine(col(s"a.$vecCol"), col(s"b.$vecCol")), 6).as("sim")
      )
  }

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH candidate
    * generation ([[lshCandidates]]) verified by exact cosine >= `minSim`.
    * The dedup-by-embedding step of a curation pipeline — semantically the
    * same filter as MinHash→Jaccard for text ([[graft.operators.Dedup]]),
    * but over the embedding space, catching paraphrase-level duplicates
    * n-gram methods miss.
    *
    * 100 TB shape: candidate volume is sum over buckets of |bucket|² — a
    * bucket equi-join (shuffle on the 2^nBits-valued key), never the n²
    * cross join; nBits is the cost/recall knob (a pair lands in one bucket
    * with probability (1 - theta/pi)^nBits at angle theta, so high-cosine
    * pairs survive while the candidate set shrinks exponentially); to push
    * recall toward 1 instead, probe neighboring buckets with
    * [[approxTopK]]'s multi-probe machinery. */
  def embedDupes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nBits: Int,
      minSim: Double
  ): DataFrame =
    lshCandidates(df, idCol, vecCol, dim, nBits).filter(col("sim") >= minSim)

  // ------------------------------------------------------------------
  // PCA over embedding columns
  // ------------------------------------------------------------------

  /** Sample covariance matrix of a `array<float>` column, upper triangle,
    * as rows `(i, j, n, cov)` with `i <= j`.
    *
    * 100 TB shape: each row expands to its d(d+1)/2 upper-triangular
    * `(i, j, x_i*x_j, x_i, x_j)` products and ONE groupBy(i, j) reduces
    * them — map-side combine collapses every partition to d(d+1)/2
    * partial rows, so the shuffle is O(d² x partitions) regardless of row
    * count, and nothing rides the driver. The d² per-row expansion is the
    * standard Gram-matrix trade: CPU-bound and embarrassingly parallel,
    * sized for embedding dims (d <= a few hundred), not for wide feature
    * matrices. Covariance assembles from raw sums
    * `(Σxy - ΣxΣy/n)/(n-1)` — fine for near-zero-mean embeddings; center
    * upstream if your vectors have a large common offset. */
  /** Hard dimension ceiling for [[covarianceMatrix]] / [[pcaFit]]: the
    * d(d+1)/2 expansion, dim²-bounded collect, and O(d³) driver Jacobi
    * are all fine at embedding dims but become a silent multi-GB collect
    * plus an hours-long driver solve at fasttext/LLM hidden sizes. A
    * d=16384 caller gets this crisp error instead. */
  val MaxCovDim = 4096

  def covarianceMatrix(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0, s"covarianceMatrix: dim must be positive, got $dim")
    require(
      dim <= MaxCovDim,
      s"covarianceMatrix: dim=$dim exceeds the supported ceiling $MaxCovDim — " +
        s"the d(d+1)/2 shuffle cells (${dim.toLong * (dim + 1) / 2} here), driver collect, " +
        "and O(d^3) Jacobi eigensolve are sized for embedding dims; reduce the " +
        "dimension upstream (e.g. feature hashing) or use a distributed solver"
    )
    // ONE generate emits the d(d+1)/2 product structs PLUS d marginal-sum
    // sentinel structs (j = -1, p = x_i) — 3 fields per struct instead of
    // carrying (xi, xj) on every pair. Wall-time parity with the 5-field
    // form at 20k x 64 (2.0 s — Generate's struct churn dominates, not
    // field width), but 40% less data through the partial aggregate and
    // the exchange, which is what matters when the shuffle is remote. The
    // d marginal rows come back as a dim-bounded broadcast joined onto
    // the pair cells twice.
    val cells = df
      .filter(size(col(vecCol)) === dim)
      .select(
        explode(
          expr(
            s"""flatten(transform(sequence(0, $dim - 1), i ->
               |  concat(
               |    transform(sequence(i, $dim - 1), j -> named_struct(
               |      'i', i, 'j', j,
               |      'p', CAST($vecCol[i] AS DOUBLE) * CAST($vecCol[j] AS DOUBLE))),
               |    array(named_struct('i', i, 'j', -1, 'p', CAST($vecCol[i] AS DOUBLE))))))""".stripMargin
          )
        ).as("s")
      )
      .select(col("s.*"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum("p").as("__s"))
      // referenced by two subtrees (marginals + pairs) — materialize the
      // dim²-bounded aggregate once instead of re-running the data pass
      .stageCheckpoint()
    val sums = cells
      .filter(col("j") === -1)
      .select(col("i").as("__mi"), col("__s").as("__sum"))
    val pairs = cells.filter(col("j") =!= -1)
    pairs
      .join(broadcast(sums), pairs("i") === sums("__mi"))
      .drop("__mi")
      .withColumnRenamed("__sum", "__sx")
      .join(broadcast(sums), pairs("j") === sums("__mi"))
      .drop("__mi")
      .withColumnRenamed("__sum", "__sy")
      .select(
        col("i"), col("j"), col("n"),
        ((col("__s") - col("__sx") * col("__sy") / col("n")) / (col("n") - 1)).as("cov"),
        (col("__sx") / col("n")).as("mean_i"),
        (col("__sy") / col("n")).as("mean_j")
      )
  }

  /** Fitted PCA basis: `mean` (d), `eigenvalues` (k, descending) and
    * `components` (k rows of d) with deterministic sign (largest-|entry|
    * coordinate positive). */
  final case class PcaModel(
      mean: Array[Double],
      eigenvalues: Array[Double],
      components: Array[Array[Double]]
  )

  /** Fit a PCA basis: distributed covariance ([[covarianceMatrix]] — the
    * only pass over the data) + a d x d dense Jacobi eigensolver on the
    * DRIVER. The collect is d(d+1)/2 rows — bounded by the embedding
    * dimension exactly like [[kmeansFit]]'s k centroids, never by corpus
    * size. Deterministic: cyclic Jacobi with a fixed sweep order and a
    * canonical sign fix, so refits on the same data agree to float-sum
    * wobble. */
  def pcaFit(df: DataFrame, vecCol: String, dim: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= dim, s"pcaFit: need 1 <= k <= dim, got k=$k dim=$dim")
    val (cov, mean, _) = collectCov(df, vecCol, dim)
    modelFromCov(cov, mean, k)
  }

  /** One covariance data pass, collected dense: `(cov d x d, mean d, n)`.
    * The collect is d(d+1)/2 rows — bounded by the embedding dimension,
    * never by corpus size. */
  private def collectCov(
      df: DataFrame,
      vecCol: String,
      dim: Int
  ): (Array[Array[Double]], Array[Double], Long) = {
    val rows = covarianceMatrix(df, vecCol, dim)
      .select("i", "j", "cov", "mean_i", "n")
      .collect()
    require(rows.length == dim * (dim + 1) / 2, s"covariance collect: got ${rows.length} rows")
    val cov = Array.ofDim[Double](dim, dim)
    val mean = new Array[Double](dim)
    var n = 0L
    rows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
      if (i == j) mean(i) = r.getDouble(3)
      n = r.getLong(4)
    }
    (cov, mean, n)
  }

  private def modelFromCov(
      cov: Array[Array[Double]],
      mean: Array[Double],
      k: Int
  ): PcaModel = {
    val dim = cov.length
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(i => -evals(i)).take(k)
    val components = order.map { c =>
      val v = Array.tabulate(dim)(r => evecs(r)(c))
      // canonical sign: the largest-|entry| coordinate is positive
      val m = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(m) < 0) v.map(-_) else v
    }.toArray
    PcaModel(mean, order.map(evals).toArray, components)
  }

  /** Eigenpair-verification rows for a PCA fit — the oracle-facing
    * counterpart of [[pcaFit]]. One row per component `c` with columns an
    * external engine can pin: `n` (vectors fitted) and `trace` (total
    * variance, Σ var(xᵢ) — recomputable from the raw table), plus
    * booleans the ENGINE computes and the oracle pins TRUE:
    *
    *  - `resid_ok`   ‖C·vᶜ − λᶜvᶜ‖ ≤ 1e-8·max(1, ‖C‖_F)  (true eigenpair
    *                 of the SAME covariance the distributed pass built —
    *                 which x79 verifies cell-by-cell against the oracle)
    *  - `unit_ok`    |‖vᶜ‖ − 1| ≤ 1e-10
    *  - `orth_ok`    max_{c'≠c} |vᶜ·vᶜ'| ≤ 1e-10
    *  - `desc_ok`    λᶜ ≤ λᶜ⁻¹ (descending order, with float slack)
    *  - `var_ok`     var_samp of the DISTRIBUTED projection yᶜ equals λᶜ
    *                 to 1e-6 relative — a second full data pass through
    *                 [[pcaProject]], so the check exercises the projection
    *                 arithmetic, not just the driver-side eigensolve
    *
    * Two data passes total (covariance + projected-variance): this is the
    * audit query, not the production fit — [[pcaFit]] stays one pass. */
  def pcaVerifyRows(df: DataFrame, vecCol: String, dim: Int, k: Int): DataFrame = {
    require(k >= 1 && k <= dim, s"pcaVerifyRows: need 1 <= k <= dim, got k=$k dim=$dim")
    val (cov, mean, n) = collectCov(df, vecCol, dim)
    // sample covariance and var_samp both divide by n-1: fewer than 2
    // fitted vectors would surface as a bare NPE from a null var_samp
    require(n >= 2, s"pcaVerifyRows: need >= 2 vectors of length $dim, got $n")
    val model = modelFromCov(cov, mean, k)
    val evals = model.eigenvalues
    val comps = model.components
    val covNorm = math.sqrt(cov.map(_.map(x => x * x).sum).sum)
    val trace = (0 until dim).map(i => cov(i)(i)).sum
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val residOk = (0 until k).map { c =>
      val v = comps(c)
      val r = (0 until dim).map { i =>
        val cvi = (0 until dim).map(j => cov(i)(j) * v(j)).sum - evals(c) * v(i)
        cvi * cvi
      }.sum
      math.sqrt(r) <= 1e-8 * math.max(1.0, covNorm)
    }
    val unitOk = (0 until k).map(c => math.abs(math.sqrt(dot(comps(c), comps(c))) - 1.0) <= 1e-10)
    val orthOk = (0 until k).map { c =>
      (0 until k).filter(_ != c).forall(c2 => math.abs(dot(comps(c), comps(c2))) <= 1e-10)
    }
    val descOk = (0 until k).map { c =>
      c == 0 || evals(c) <= evals(c - 1) + 1e-12 * math.max(1.0, math.abs(evals(c - 1)))
    }
    val projVars = pcaProject(df.filter(size(col(vecCol)) === dim), vecCol, model)
      .agg(
        var_samp(col("y0")).as("v0"),
        (1 until k).map(c => var_samp(col(s"y$c")).as(s"v$c")): _*
      )
      .head()
    val varOk = (0 until k).map { c =>
      math.abs(projVars.getDouble(c) - evals(c)) <= 1e-6 * math.max(1.0, math.abs(evals(c)))
    }
    val spark = df.sparkSession
    import spark.implicits._
    (0 until k)
      .map(c => (c.toLong, n, trace, residOk(c), unitOk(c), orthOk(c), descOk(c), varOk(c)))
      .toDF("c", "n", "trace", "resid_ok", "unit_ok", "orth_ok", "desc_ok", "var_ok")
  }

  /** Cyclic Jacobi eigensolver for a small dense symmetric matrix —
    * deterministic (fixed sweep order), driver-side, O(d³) per sweep.
    * Returns (eigenvalues, eigenvector COLUMNS). */
  private def jacobiEigen(
      a: Array[Array[Double]],
      maxSweeps: Int = 60,
      tol: Double = 1e-13
  ): (Array[Double], Array[Array[Double]]) = {
    val n = a.length
    val m = Array.tabulate(n, n)((i, j) => a(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      var p = 0
      while (p < n) { var q = p + 1; while (q < n) { s += 2 * m(p)(q) * m(p)(q); q += 1 }; p += 1 }
      math.sqrt(s)
    }
    val scale = math.max(1e-300, math.sqrt(m.map(r => r.map(x => x * x).sum).sum))
    var sweep = 0
    while (sweep < maxSweeps && offNorm > tol * scale) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = m(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (m(q)(q) - m(p)(p)) / (2 * apq)
            val t =
              (if (theta >= 0) 1.0 else -1.0) / (math.abs(theta) + math.sqrt(theta * theta + 1))
            val c = 1.0 / math.sqrt(t * t + 1)
            val s = t * c
            var k0 = 0
            while (k0 < n) {
              val mkp = m(k0)(p); val mkq = m(k0)(q)
              m(k0)(p) = c * mkp - s * mkq; m(k0)(q) = s * mkp + c * mkq
              k0 += 1
            }
            k0 = 0
            while (k0 < n) {
              val mpk = m(p)(k0); val mqk = m(q)(k0)
              m(p)(k0) = c * mpk - s * mqk; m(q)(k0) = s * mpk + c * mqk
              k0 += 1
            }
            k0 = 0
            while (k0 < n) {
              val vkp = v(k0)(p); val vkq = v(k0)(q)
              v(k0)(p) = c * vkp - s * vkq; v(k0)(q) = s * vkp + c * vkq
              k0 += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => m(i)(i)), v)
  }

  /** Project vectors onto a fitted [[PcaModel]] basis: appends `y0..y{k-1}`
    * = `components · (x - mean)`. Pure per-row arithmetic — the basis and
    * the constant `components · mean` offsets ride the plan as literals
    * (like [[kmeansFit]]'s centroids), so nothing shuffles and nothing is
    * broadcast-joined. */
  def pcaProject(df: DataFrame, vecCol: String, model: PcaModel): DataFrame = {
    val vecD = col(vecCol).cast("array<double>")
    model.components.zipWithIndex.foldLeft(df) { case (acc, (comp, c)) =>
      val meanDot = comp.zip(model.mean).map { case (w, mu) => w * mu }.sum
      acc.withColumn(
        s"y$c",
        aggregate(
          zip_with(vecD, typedlit(comp.toSeq), (x, w) => x * w),
          lit(0.0),
          (s0, e) => s0 + e
        ) - lit(meanDot)
      )
    }
  }

  // --------------------------------------------------------------------
  // Product quantization (Jégou 2011 — the FAISS IVFADC architecture as
  // DataFrame plans + codegen kernels; see functions/PqExpressions.scala)

  /** Fitted PQ codebook: `m` subspaces of `dim/m` floats, `nCen`
    * centroids each. `codebook(j)(c)` is centroid `c` of subspace `j`.
    * Driver footprint is `nCen * dim` floats — model-sized like
    * [[PcaModel]], never corpus-sized. */
  final case class PqModel(dim: Int, m: Int, nCen: Int, codebook: Seq[Seq[Seq[Float]]])

  /** Fit PQ codebooks: deterministic first-`nCen` seeding (the
    * [[kmeansFit]] convention — seed `c` of every subspace is the
    * `c`-th-lowest-id vector's subvector, so `iters = 0` is fully
    * replayable by an external engine), then `iters` Lloyd rounds with
    * L2 assignment — PQ quantizes magnitudes, so the metric is L2, not
    * the cosine [[kmeansFit]] clusters by.
    *
    * 100 TB shape: ALL `m` subspaces train in ONE distributed pass per
    * round — codes via the codegen [[graft.functions.PqAssign]] kernel
    * (the codebook rides the plan; no broadcast, no join), then one
    * `(subspace, code, pos)` decimal-exact mean aggregate whose collect
    * is `m * nCen * sub = nCen * dim` rows — model-bounded. Empty cells
    * keep their previous centroid. */
  def pqFit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      nCen: Int,
      iters: Int
  ): PqModel = {
    require(m >= 1 && dim % m == 0, s"pqFit: m=$m must divide dim=$dim")
    require(nCen >= 1 && iters >= 0, s"bad pq params nCen=$nCen iters=$iters")
    val sub = dim / m
    val seedRows = df
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy("id")
      .limit(nCen)
      .collect()
    require(
      seedRows.length == nCen,
      s"pqFit: corpus has only ${seedRows.length} vectors for nCen=$nCen"
    )
    var book: Seq[Seq[Seq[Float]]] = (0 until m).map { j =>
      seedRows.toSeq.map { r =>
        val v = r.getSeq[Float](1)
        require(v.length == dim, s"pqFit: vector of ${v.length} dims, expected $dim")
        v.slice(j * sub, (j + 1) * sub)
      }
    }
    if (iters > 0) {
      val base = df
        .select(col(vecCol).as("v"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      base.count()
      (0 until iters).foreach { _ =>
        val means = base
          .select(
            col("v"),
            posexplode(graft.functions.PqFunctions.pqAssign(col("v"), book)).as(Seq("j", "code"))
          )
          .select(
            col("j"),
            col("code"),
            posexplode(slice(col("v"), col("j") * lit(sub) + lit(1), lit(sub))).as(Seq("t", "x"))
          )
          .groupBy("j", "code", "t")
          .agg(
            sum(col("x").cast("double").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
              .as("sx"),
            count(lit(1)).as("n")
          )
          .select(
            col("j"),
            col("code"),
            col("t"),
            (col("sx").cast("double") / col("n")).cast("float").as("mu")
          )
          .collect() // m * nCen * sub = nCen * dim rows — model-bounded
        val byCell = means.map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getFloat(3))).toMap
        book = (0 until m).map { j =>
          (0 until nCen).map { c =>
            (0 until sub).map { t => byCell.getOrElse((j, c, t), book(j)(c)(t)) }
          }
        }
      }
      base.unpersist()
    }
    PqModel(dim, m, nCen, book)
  }

  /** Encode vectors to PQ codes: `(id, pq_codes array<int>, pq_norm)` —
    * `pq_norm` is the reconstruction's L2 norm (`sqrt(vecDot(dec, dec))`
    * over the decoded vector in flat index order), carried so ADC cosine
    * never re-derives it per pair. Pure per-row codegen; the codebook
    * rides the plan. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame = {
    val codes = graft.functions.PqFunctions.pqAssign(col(vecCol), model.codebook)
    val dec = graft.functions.PqFunctions.pqDecode(col("pq_codes"), model.codebook)
    df.select(col(idCol), codes.as("pq_codes"))
      .withColumn("pq_norm", sqrt(vecDot(dec, dec)))
  }

  /** IVF + PQ top-k (IVFADC): [[ivfTopK]]'s cell partitioning bounds
    * WHICH pairs are scored; candidates cross the cell join as `m` ints
    * + one norm (~12 bytes at m=8 vs 256 of floats — the byte bill is
    * the win, exactly [[ivfTopKSq]]'s measured trade at 4x less payload
    * still), and each pair is scored by the asymmetric kernel
    * `round(adcDot(q, codes) / (|q| * |decode(codes)|), 6)` — flop-equal
    * to the exact dot (m lookups replace nothing at JVM scalar width)
    * but against an index that fits in 1/32 the memory.
    *
    * `rerank = 0` returns the ADC ranking itself (FAISS's IVFADC
    * default — `sim` is the quantized estimate; x100 gates this
    * configuration bit-exact). `rerank >= k` re-scores the top-`rerank`
    * ADC sliver per query with exact float dots — only the sliver drags
    * float vectors across an exchange — and with `rerank` >= the cell
    * candidate volume the result provably equals [[ivfTopK]] at the same
    * centroids (every candidate reaches the exact stage; pinned in
    * OperatorsSpec). Cell ASSIGNMENT always uses float vectors — one
    * broadcast pass, cheap — so cell boundaries match the unquantized
    * index.
    *
    * MEASURED at the `Spike pq-planted` gate (202k x 64-dim self-ANN,
    * 512 cells, m=8, nCen=256, quiet box): ADC pass 184 MB shuffled vs
    * float ivfTopK's 223 MB, index stored as codes 12.7x smaller (4.2 vs
    * 53 MB parquet) — bytes, not flops, are what PQ buys on the JVM
    * (the ADC wall time additionally carries the one-time encode of the
    * corpus). The rerank fetch is the expensive stage — the candidate
    * float vector rides an exchange once per (query x rerank) sliver row
    * (~1.4 GB at rerank=50 here), exactly [[ivfTopKSq]]'s documented
    * trade — so size `rerank` as a small multiple of k. Both ranking
    * heaps (sliver pick and final) aggregate CELL-LOCALLY at nProbe=1
    * (zero exchange; see rankTopKCellLocal — the qid-grouped heap this
    * replaced re-shuffled 1.43 GB of partial heaps). */
  /** Hard-negative mining for contrastive / embedding training: per
    * anchor, the `k` most-similar vectors with a DIFFERENT label — the
    * near-boundary negatives a random sampler almost never draws
    * (random pairs are far apart in high dimensions; training signal
    * comes from the confusable ones). Output `(qid, cid, sim, rn)` with
    * `label(cid) != label(qid)`.
    *
    * Same √N IVF shape as [[ivfTopKAuto]] (cells bound WHICH pairs are
    * scored; `iters = 0` keeps the deterministic first-√N seeding, so
    * an external engine can replay everything). The label-mismatch
    * filter runs INSIDE the cell join — filtering an already-ranked
    * top-k instead would LOSE negatives hiding behind same-label
    * neighbors — and the ranking heap is cell-local (zero exchange,
    * see rankTopKCellLocal). Labels ride the cell join as one extra
    * column; null-label rows are excluded from both sides (no defined
    * mismatch). */
  def hardNegatives(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      iters: Int = 0
  ): DataFrame = {
    // the whole index — seeds included — is built over the labeled
    // population only, so seeding is replayable from the filtered frame
    val clean = df.filter(col(labelCol).isNotNull)
    val n = clean.count()
    require(n > 0, "hardNegatives: no labeled vectors")
    val nCells = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong).toInt
    val cen = kmeansFit(clean, idCol, vecCol, nCells, iters).select(
      col("cen_id"),
      col("cen_v"),
      sqrt(vecDot(col("cen_v"), col("cen_v"))).as("cen_n")
    )
    val base = clean
      .select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        col(labelCol).as("lbl"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm")
      )
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
    val sim = when(
      col("nrm") > 0 && col("cen_n") > 0,
      round(vecDot(col("v"), col("cen_v")) / (col("nrm") * col("cen_n")), 6)
    )
    val assigned = base
      .join(broadcast(cen), lit(true))
      .select(
        col("id"),
        col("v"),
        col("lbl"),
        col("nrm"),
        PackedArgmax.encode(sim, col("cen_id")).as("enc")
      )
      .groupBy("id")
      .agg(
        max(col("enc")).as("m"),
        first(col("v")).as("v"),
        first(col("lbl")).as("lbl"),
        first(col("nrm")).as("nrm")
      )
      .select(col("id"), col("v"), col("lbl"), col("nrm"), PackedArgmax.decodeId(col("m")).as("cell"))
    val cands = assigned
      .select(col("id").as("cid"), col("v").as("cv"), col("lbl").as("clbl"), col("nrm").as("cn"), col("cell"))
    val qs = assigned
      .select(col("id").as("qid"), col("v").as("qv"), col("lbl").as("qlbl"), col("nrm").as("qn"), col("cell"))
    val pair = when(
      col("qn") > 0 && col("cn") > 0,
      round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
    )
    val sims = qs
      .join(cands, Seq("cell"))
      .filter(col("qid") =!= col("cid") && col("qlbl") =!= col("clbl"))
      .select(col("cell"), col("qid"), col("cid"), pair.as("sim"))
    rankTopKCellLocal(sims, k)
  }

  /** SemDeDup (Abbas, Tirumala et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication — drop rows whose EMBEDDINGS are near-identical even
    * when their text is not (translations, templated rewrites,
    * paraphrases that evade MinHash shingle overlap). k-means cells
    * bound the pairwise work exactly as in [[ivfTopK]]: cosine is scored
    * ONLY within a cell (sum(cell²) pairs, never N²; √N cells), on the
    * 6-dp-rounded value both engines agree on. Of each confirmed
    * (d1 < d2) pair, d2 drops — the library-wide deterministic keep rule
    * ([[graft.operators.Pipeline.cleanCorpus]]'s); the paper keeps the
    * member farthest from its centroid, a float-ranked pick that flips
    * on ties and re-runs, while the id rule drops the same CLUSTERS and
    * is exactly replayable.
    *
    * Like the paper's pipeline, the cell boundary is an approximation:
    * a pair split across cells is never scored, so rare boundary dups
    * may survive — nothing ever false-drops. `iters = 0` keeps the
    * deterministic first-√N-by-id seeding (SQL-replayable); a few Lloyd
    * iterations tighten the cells without changing the contract.
    * Zero-norm vectors have no defined cosine: they take no cell and
    * always survive. */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      iters: Int = 0
  ): DataFrame = {
    require(
      threshold >= -1 && threshold <= 1,
      s"semDedup: threshold must be a cosine in [-1, 1], got $threshold"
    )
    val n = df.count()
    require(n > 0, "semDedup: empty input")
    val nCells = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong).toInt
    val cen = kmeansFit(df, idCol, vecCol, nCells, iters).select(
      col("cen_id"),
      col("cen_v"),
      sqrt(vecDot(col("cen_v"), col("cen_v"))).as("cen_n")
    )
    val assigned = assignCells(df, idCol, vecCol, cen)
    val a = assigned.select(col("id").as("d1"), col("v").as("v1"), col("nrm").as("n1"), col("cell"))
    val b = assigned.select(col("id").as("d2"), col("v").as("v2"), col("nrm").as("n2"), col("cell"))
    val pair = when(
      col("n1") > 0 && col("n2") > 0,
      round(vecDot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6)
    )
    val drops = a
      .join(b, Seq("cell"))
      .filter(col("d1") < col("d2"))
      .select(col("d2"), pair.as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("d2").as(idCol))
      .distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** `(id, v, nrm, cell)` rows: every vector assigned to its nearest
    * centroid by rounded cosine (ties → lowest cen_id — the
    * [[PackedArgmax]] encoding shared with [[ivfTopK]]/[[semDedup]]);
    * zero-norm vectors get a NULL cell. `cen` must carry
    * `(cen_id, cen_v, cen_n)`. One broadcast pass — never pairwise. */
  private def assignCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cen: DataFrame
  ): DataFrame = {
    val base = df
      .select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm")
      )
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
    val sim = when(
      col("nrm") > 0 && col("cen_n") > 0,
      round(vecDot(col("v"), col("cen_v")) / (col("nrm") * col("cen_n")), 6)
    )
    base
      .join(broadcast(cen), lit(true))
      .select(col("id"), col("v"), col("nrm"), PackedArgmax.encode(sim, col("cen_id")).as("enc"))
      .groupBy("id")
      .agg(max(col("enc")).as("m"), first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .select(col("id"), col("v"), col("nrm"), PackedArgmax.decodeId(col("m")).as("cell"))
  }

  private def centroidFrame(centroids: DataFrame, idCol: String, vecCol: String, what: String) =
    centroids.select(
      PackedArgmax.guardId(col(idCol), s"$what centroid").as("cen_id"),
      col(vecCol).as("cen_v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("cen_n")
    )

  /** Leading-`dim` truncation of an embedding column — the
    * Matryoshka-representation trade (Kusupati et al., NeurIPS 2022:
    * MRL-trained embeddings keep most retrieval quality in their
    * prefix), used to shrink index storage and pair-scoring flops by
    * dim_full/dim. No renormalization: every consumer here scores by
    * COSINE, which normalizes per-vector anyway. Audit the quality loss
    * with [[recallAtK]] over truncated-vs-full rankings before adopting
    * a prefix length — the x125 query is exactly that audit. Pure
    * per-row projection (codegen `slice`), no shuffle. */
  def truncateDims(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"truncateDims: dim must be >= 1, got $dim")
    df.withColumn(vecCol, slice(col(vecCol), 1, dim))
  }

  /** Full-dimension exact rerank of a k-bounded `(qid, cid)` sliver —
    * the second stage shared by the Matryoshka consumers (and the same
    * fetch shape as [[ivfTopKSq]]'s rerank): float vectors are pulled
    * straight from the column-pruned source for SLIVER rows only, never
    * for the candidate volume. */
  private def fullDimRerank(
      sliver: DataFrame,
      qSrc: DataFrame,
      cSrc: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    def v(src: DataFrame) = src.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm")
    )
    val qv = v(qSrc).select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val cv = v(cSrc).select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val sims = sliver
      .select("qid", "cid")
      .join(qv, Seq("qid"))
      .join(cv, Seq("cid"))
      .select(
        col("qid"),
        col("cid"),
        round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim")
      )
    rankTopK(sims, k)
  }

  /** The CONSUMER of the [[truncateDims]] measurement (x125 audits the
    * prefix's recall; this operator banks the win): two-stage retrieval
    * that scores the candidate volume on PREFIX dims only — paying
    * `prefixDim / dim_full` of the flops and index bytes — then reranks
    * the per-query top-`rerank` sliver with one exact full-dimension
    * pass (the Matryoshka funnel of Kusupati et al. 2022, §4; the
    * [[ivfTopKSq]] rerank trade with dims instead of bytes as the
    * compressed axis). Brute-force prefix stage — queries broadcast,
    * candidates arbitrary; for corpus-scale self-ANN use
    * [[matryoshkaIvfTopK]]. With `rerank` ≥ the candidate count the
    * result provably equals the full-dim exact ranking (the sliver is
    * everything); the recall-vs-cost knob in between is measured by
    * [[recallAtK]] exactly like any other approximate index. */
  def matryoshkaTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      prefixDim: Int,
      rerank: Int
  ): DataFrame = {
    require(rerank >= k, s"matryoshkaTopK: rerank ($rerank) must be >= k ($k)")
    val sliver = bruteForceTopK(
      truncateDims(queries, vecCol, prefixDim),
      truncateDims(candidates, vecCol, prefixDim),
      idCol,
      vecCol,
      rerank
    )
    // qids resolve from the query frame, cids from the candidate frame —
    // no union, no dedup shuffle
    fullDimRerank(sliver, queries, candidates, idCol, vecCol, k)
  }

  /** Cell-grouped variant of [[fullDimRerank]] for slivers that carry
    * their (nProbe = 1) cell id: instead of attaching a full-dim vector
    * to every PAIR row across two shuffle joins (|q|·rerank·dim_full
    * bytes through the second exchange), each needed vector ships ONCE
    * into its cell — `(cell, id)` needs are deduped narrow rows, the
    * column-pruned source joins on id, and one `map_from_entries`
    * aggregate builds a per-cell id→(vec, norm) map that the pair rows
    * join on the cell key. The similarity projection runs in the SAME
    * stage as that join (two `element_at` lookups feeding the identical
    * codegen'd `vecDot`/`sqrt`/`round(…, 6)` expressions as the per-pair
    * path), so the maps never re-shuffle and bit-equality holds by
    * construction — pinned both directions in MrlFetchSpec.
    *
    * Measured at the 202k-vector A/B (ROUND16.md, this
    * implementation): 4.2× less shuffle (276 MB vs 1159 MB), 1.4× slower
    * wall on local[32] where exchange is memory-speed and the per-cell
    * map aggregation is pure overhead — the reason `fetch = "cell"` is
    * opt-in for network-bound clusters, not the default.
    *
    * Per-cell map size is cell-vectors·dim_full floats — at the √N cell
    * contract that is √N·dim_full·4 bytes in ONE aggregation row (~97 MB
    * at N = 10⁹, dim 768), the documented ceiling of this path. */
  private def fullDimRerankCell(
      sliver: DataFrame,
      src: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val dfv = src.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm")
    )
    // (cell, qid) alone covers every needed id: at nProbe = 1 a pair's cid
    // is a member of the same cell, and any cell with >= 2 members emits
    // pairs BOTH ways (cid appears as a qid with >= 1 candidate), so the
    // cid side is a subset of the qid side — no union, one less read of
    // the sliver
    val need = sliver.select(col("cell"), col("qid").as("id")).distinct()
    val maps = need
      .join(dfv, Seq("id"))
      .groupBy("cell")
      .agg(map_from_entries(collect_list(struct(col("id"), struct(col("v"), col("nrm"))))).as("__m"))
    // element_at under ANSI throws on a missing key — a miss would mean the
    // sliver's cell routing diverged from the need-set, and must be LOUD
    val q = element_at(col("__m"), col("qid"))
    val c = element_at(col("__m"), col("cid"))
    val sims = sliver
      .join(maps, Seq("cell"))
      .select(
        col("qid"),
        col("cid"),
        round(
          vecDot(q.getField("v"), c.getField("v")) / (q.getField("nrm") * c.getField("nrm")),
          6
        ).as("sim")
      )
    rankTopK(sims, k)
  }

  /** [[matryoshkaTopK]]'s IVF-bucketed corpus-scale form — the
    * prefix-dim INDEX path: cells are assigned and pairs scored entirely
    * over `prefixDim`-truncated vectors (index bytes and pair flops both
    * shrink by dim_full/prefixDim; [[ivfTopK]]'s √N-cell contract keeps
    * the pair volume N^1.5), then the per-query top-`rerank` sliver is
    * reranked at full dimension straight from the source (column-pruned
    * fetch — full vectors never enter the cell join, exactly
    * [[ivfTopKSq]]'s plumbing with dims for bytes). `centroids` is a
    * FULL-dim frame truncated internally, so one fitted centroid set
    * serves both this and the full-dim index.
    *
    * `fetch` picks the rerank-fetch shape (bit-identical results, pinned
    * in MrlFetchSpec): `"pairs"` (default) joins a full-dim vector to
    * every sliver row — fewest stages, best wall-clock when exchange is
    * memory-speed; `"cell"` (nProbe = 1 only) ships each vector once
    * into its cell and pair rows look vectors up in a per-cell map —
    * 4.2× less shuffle at the 202k A/B, the pick when the exchange
    * fabric is the bottleneck (see [[fullDimRerankCell]]). */
  def matryoshkaIvfTopK(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      prefixDim: Int,
      nProbe: Int = 1,
      rerank: Int = 50,
      fetch: String = "pairs"
  ): DataFrame = {
    require(rerank >= k, s"matryoshkaIvfTopK: rerank ($rerank) must be >= k ($k)")
    require(
      fetch == "pairs" || fetch == "cell",
      s"matryoshkaIvfTopK: fetch must be 'pairs' or 'cell', got '$fetch'"
    )
    require(
      fetch == "pairs" || nProbe == 1,
      "matryoshkaIvfTopK: fetch = 'cell' requires nProbe = 1 (pairs must be same-cell)"
    )
    if (fetch == "cell") {
      val sliver = ivfTopKImpl(
        truncateDims(df, vecCol, prefixDim),
        truncateDims(centroids, vecCol, prefixDim),
        idCol,
        vecCol,
        rerank,
        nProbe,
        keepCell = true
      ).select("cell", "qid", "cid")
      fullDimRerankCell(sliver, df, idCol, vecCol, k)
    } else {
      val sliver = ivfTopK(
        truncateDims(df, vecCol, prefixDim),
        truncateDims(centroids, vecCol, prefixDim),
        idCol,
        vecCol,
        rerank,
        nProbe
      )
      fullDimRerank(sliver, df, df, idCol, vecCol, k)
    }
  }

  /** Build (or extend) the persisted SemDeDup INDEX: each accepted
    * vector with its cell under the FIXED `centroids` frame
    * (`(idCol, vecCol)` rows, the [[ivfTopK]] convention). Returns
    * `(idCol, vecCol, cell)` — persist it partitioned/bucketed by
    * `cell` so [[incrementalSemDedup]]'s per-batch join arrives
    * co-partitioned (the bucketed-band-rows pattern). Cells are
    * assigned ONCE at acceptance time and never recomputed, which is
    * what pins the index's pair-bounding geometry across batches —
    * REFITTING centroids later would silently re-shard history and
    * void the within-cell completeness argument; keep the centroid
    * frame with the index as part of its contract. Zero-norm vectors
    * carry a NULL cell (they can never confirm a cosine). */
  def semIndex(df: DataFrame, idCol: String, vecCol: String, centroids: DataFrame): DataFrame =
    assignCells(df, idCol, vecCol, centroidFrame(centroids, idCol, vecCol, "semIndex"))
      .select(col("id").as(idCol), col("v").as(vecCol), col("cell"))

  /** INCREMENTAL SemDeDup — the continuous-ingestion shape of
    * [[semDedup]], mirroring [[graft.operators.Dedup.incrementalNearDup]]
    * for embeddings: the accepted corpus is represented ONLY by its
    * persisted `(id, vec, cell)` index ([[semIndex]]), so a daily batch
    * never recomputes history's cells or rescans raw history:
    *
    *  1. batch vectors assign to cells against the SAME broadcast
    *     `centroids` the index was built with (the index contract);
    *  2. within each cell, batch-vs-index rounded cosine ≥ `threshold`
    *     drops the batch doc (the index is the BIG side at scale —
    *     cell-keyed shuffle join, no broadcast);
    *  3. batch survivors self-dedup within cells with the library rule:
    *     of each (d1 < d2) pair at/above threshold, d2 drops;
    *  4. the caller closes the loop by appending
    *     `semIndex(survivors, ...)` rows.
    *
    * Unlike the minhash index (a few dozen bytes/doc), the vectors ARE
    * the cosine evidence, so the index carries them (4·dim bytes/row);
    * when index BYTES are the bill, store SQ8 codes beside the floats
    * and pre-filter on [[sqCosine]] before the exact confirm (the
    * [[ivfTopKSq]] trade, measured there). Pair volume is
    * sum(cell·batch-cell) — cells bound WHICH pairs are scored, never
    * all-pairs. Zero-norm batch vectors take no cell and always
    * survive; index ids only ever contribute drop evidence, so id
    * collisions between index and batch are harmless. */
  def incrementalSemDedup(
      batch: DataFrame,
      index: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    require(
      threshold >= -1 && threshold <= 1,
      s"incrementalSemDedup: threshold must be a cosine in [-1, 1], got $threshold"
    )
    require(
      index.columns.contains("cell") && index.columns.contains(idCol) &&
        index.columns.contains(vecCol),
      s"incrementalSemDedup: index needs ($idCol, $vecCol, cell) — build it with semIndex " +
        "under the SAME centroid frame"
    )
    val (idxEvidence, selfEvidence) =
      incrementalSemEvidence(batch, index, centroids, idCol, vecCol, threshold)
    // no distinct on the union: the anti-join is insensitive to duplicates
    batch.join(
      idxEvidence.select(col("__did").as(idCol)).union(selfEvidence.select(col("__did").as(idCol))),
      Seq(idCol),
      "left_anti"
    )
  }

  /** Confirmed drop evidence shared by [[incrementalSemDedup]] and
    * [[incrementalSemDedupAudit]]: two `(__did, __partner)` frames —
    * batch docs killed by an index hit, and batch docs shadowed by a
    * smaller-id batch doc (the Dedup.incrementalDropEvidence shape). */
  private def incrementalSemEvidence(
      batch: DataFrame,
      index: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): (DataFrame, DataFrame) = {
    val cen = centroidFrame(centroids, idCol, vecCol, "incrementalSemDedup")
    // persist: the assigned batch feeds three subtrees (both sides of the
    // self-join and the index confirm) — without materialization each
    // re-runs the broadcast assignment pass (the Dedup.incrementalDropEvidence
    // precedent; measured 33 parquet scans in the unpersisted plan)
    val bAsg = assignCells(batch, idCol, vecCol, cen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bAsg.count() // eager: concurrent consumers race a lazily-filling cache
    val iRows = index.select(
      col(idCol).as("d1"),
      col(vecCol).as("v1"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("n1"),
      col("cell")
    )
    val bq = bAsg.select(col("id").as("d2"), col("v").as("v2"), col("nrm").as("n2"), col("cell"))
    val pair = when(
      col("n1") > 0 && col("n2") > 0,
      round(vecDot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6)
    )
    val idxEvidence = bq
      .join(iRows, Seq("cell"))
      .select(col("d2"), col("d1"), pair.as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("d2").as("__did"), col("d1").as("__partner"))
    val b1 = bAsg.select(col("id").as("d1"), col("v").as("v1"), col("nrm").as("n1"), col("cell"))
    val selfEvidence = b1
      .join(bq, Seq("cell"))
      .filter(col("d1") < col("d2"))
      .select(col("d2"), col("d1"), pair.as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("d2").as("__did"), col("d1").as("__partner"))
    // Materialize both (batch-bounded) evidence frames eagerly, then free
    // the assigned-batch cache BEFORE returning: a foreachBatch caller
    // invoking this per micro-batch must not accumulate persisted
    // partitions across batches (the heavyHitters materialize-then-
    // unpersist pattern; localCheckpoint(true) like Graph/Dedup.nearDup).
    val idxOut = idxEvidence.stageCheckpoint()
    val selfOut = selfEvidence.stageCheckpoint()
    bAsg.unpersist()
    (idxOut, selfOut)
  }

  /** Drop LEDGER for [[incrementalSemDedup]] — the provenance trail a
    * production pipeline reports beside the survivor set (the
    * [[graft.operators.Dedup.incrementalNearDupAudit]] shape for the
    * semantic path): one row per (dropped doc, reason ∈ {'index',
    * 'batch'}) with the SMALLEST qualifying partner id of that reason —
    * deterministic, so the ledger is replayable and diffable across
    * runs. A doc killed by both carries both rows. Survivors == batch
    * minus this ledger's distinct ids, by construction (shared
    * evidence frames). */
  def incrementalSemDedupAudit(
      batch: DataFrame,
      index: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    require(
      threshold >= -1 && threshold <= 1,
      s"incrementalSemDedupAudit: threshold must be a cosine in [-1, 1], got $threshold"
    )
    require(
      index.columns.contains("cell") && index.columns.contains(idCol) &&
        index.columns.contains(vecCol),
      s"incrementalSemDedupAudit: index needs ($idCol, $vecCol, cell) — build it with semIndex " +
        "under the SAME centroid frame"
    )
    val (idxEvidence, selfEvidence) =
      incrementalSemEvidence(batch, index, centroids, idCol, vecCol, threshold)
    def ledger(ev: DataFrame, reason: String): DataFrame =
      ev.groupBy(col("__did"))
        .agg(min(col("__partner")).as("partner"))
        .select(col("__did").as(idCol), lit(reason).as("reason"), col("partner"))
    ledger(idxEvidence, "index").union(ledger(selfEvidence, "batch"))
  }

  /** [[pqTopK]] with the IVF cell count AND the PQ codebook derived from
    * the corpus — the [[ivfTopKAuto]] ergonomics for the quantized
    * index: one `count()` sizes `nCells = floor(√N)`, [[kmeansFit]]
    * fits the cells, [[pqFit]] trains the codebooks (same `iters` for
    * both; `iters = 0` keeps everything at deterministic first-k
    * seeding). Composition is pinned equal to the manual calls in
    * OperatorsSpec. */
  def pqTopKAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      m: Int = 8,
      nCen: Int = 16,
      nProbe: Int = 1,
      rerank: Int = 0,
      iters: Int = 0
  ): DataFrame = {
    val n = df.count()
    require(n > 0, "pqTopKAuto: empty corpus")
    val nCells = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong).toInt
    val cen = kmeansFit(df, idCol, vecCol, nCells, iters)
      .select(col("cen_id").as(idCol), col("cen_v").as(vecCol))
    val model = pqFit(df, idCol, vecCol, dim, m, nCen, iters)
    pqTopK(df, cen, idCol, vecCol, k, model, nProbe, rerank)
  }

  def pqTopK(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      model: PqModel,
      nProbe: Int = 1,
      rerank: Int = 0
  ): DataFrame = {
    require(rerank == 0 || rerank >= k, s"rerank ($rerank) must be 0 or >= k ($k)")
    val cenGuard = PackedArgmax.guardId(col(idCol), "pqTopK centroid")
    val cen = centroids.select(
      cenGuard.as("cen_id"),
      col(vecCol).as("cen_v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("cen_n")
    )
    val codes = graft.functions.PqFunctions.pqAssign(col(vecCol), model.codebook)
    val dec = graft.functions.PqFunctions.pqDecode(col("codes"), model.codebook)
    // one row per vector: float vec (query side), codes + decoded norm
    // (candidate side). Explicit repartition => the three consumers below
    // share ONE exchange subplan (the ivfTopKSq ReuseExchange trick).
    val base = df
      .select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"),
        codes.as("codes")
      )
      .withColumn("pqn", sqrt(vecDot(dec, dec)))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
    val sim = when(
      col("nrm") > 0 && col("cen_n") > 0,
      round(vecDot(col("v"), col("cen_v")) / (col("nrm") * col("cen_n")), 6)
    )
    val enc = PackedArgmax.encode(sim, col("cen_id"))
    val scored = base
      .join(broadcast(cen), lit(true))
      .select(col("id"), col("v"), col("nrm"), col("codes"), col("pqn"), enc.as("enc"))
    val assigned =
      if (nProbe == 1)
        scored
          .groupBy("id")
          .agg(
            max(col("enc")).as("m"),
            first(col("v")).as("v"),
            first(col("nrm")).as("nrm"),
            first(col("codes")).as("codes"),
            first(col("pqn")).as("pqn")
          )
          .select(
            col("id"),
            col("v"),
            col("nrm"),
            col("codes"),
            col("pqn"),
            PackedArgmax.decodeId(col("m")).as("cell")
          )
      else {
        val w = Window.partitionBy("id").orderBy(desc("enc"))
        scored
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= nProbe)
          .select(
            col("id"),
            col("v"),
            col("nrm"),
            col("codes"),
            col("pqn"),
            PackedArgmax.decodeId(col("enc")).as("cell"),
            col("rn")
          )
      }
    // candidate side carries CODES only (the byte win); query side floats
    val cands = (if (nProbe == 1) assigned else assigned.filter(col("rn") === 1))
      .select(col("id").as("cid"), col("codes").as("cc"), col("pqn").as("cn"), col("cell"))
    val qs = assigned
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"), col("cell"))
    val adc = when(
      col("qn") > 0 && col("cn") > 0,
      round(
        graft.functions.PqFunctions.pqAdcDot(col("qv"), col("cc"), model.codebook) /
          (col("qn") * col("cn")),
        6
      )
    )
    val simsRaw = qs
      .join(cands, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("cell"), col("qid"), col("cid"), adc.as("sim"))
    def rank(df: DataFrame, n: Int): DataFrame =
      if (nProbe == 1) rankTopKCellLocal(df, n)
      else rankTopK(df.drop("cell").dropDuplicates("qid", "cid"), n)
    if (rerank == 0) rank(simsRaw, k)
    else {
      // exact-rerank the top-`rerank` ADC sliver, picked by the SAME
      // bounded-heap aggregate as the final ranking — cell-local at
      // nProbe=1 (zero exchange; see rankTopKCellLocal — a qid-grouped
      // heap re-shuffled 1.43 GB here, a window row_number the whole
      // ~2 GB ADC pair stream); float vectors join in for the sliver
      // alone, query side included.
      // the sliver keeps its cell so the FINAL ranking is cell-local too
      // (the broadcast fetch joins preserve the cell partitioning)
      val sliver =
        if (nProbe == 1) {
          val w = struct(col("sim"), (-col("cid")).as("__nc"))
          Relational
            .topKPerKey(simsRaw, Seq("cell", "qid"), w, rerank, rankCol = "rn")
            .select(col("cell"), col("qid"), (-col("__nc")).as("cid"))
        } else rankTopK(simsRaw.drop("cell").dropDuplicates("qid", "cid"), rerank)
          .select(lit(0L).as("cell"), col("qid"), col("cid"))
      val fetchQ = base.select(col("id").as("qid"), col("v").as("qfv"), col("nrm").as("qfn"))
      val fetchC = base.select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cfn"))
      val exact = sliver
        .join(fetchC, Seq("cid"))
        .join(fetchQ, Seq("qid"))
        .select(
          col("cell"),
          col("qid"),
          col("cid"),
          when(
            col("qfn") > 0 && col("cfn") > 0,
            round(vecDot(col("qfv"), col("cv")) / (col("qfn") * col("cfn")), 6)
          ).as("sim")
        )
      if (nProbe == 1) rankTopKCellLocal(exact, k) else rankTopK(exact.drop("cell"), k)
    }
  }
}
