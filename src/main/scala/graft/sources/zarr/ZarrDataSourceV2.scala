package graft.sources.zarr

import graft.model._
import graft.sources.Coord

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.GraftExecutionBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.{write => cw}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Zarr DataSource V2: `spark.read.format("zarr").option("path", store)
  * .option("array", name).load()` → long-format DataFrame `[dims…, value]`.
  *
  * The architectural inversion vs the reference (SURVEY.md §3.1): the
  * reference materializes the selected numpy block on the driver BEFORE its
  * lazy plan starts (reference: src/data_access/zarr_reader.py:318-322); here
  * the scan stays declarative and chunk reads happen inside executors — one
  * InputPartition covers one or more Zarr chunks, so a 100 TB store is just
  * more partitions, never more driver memory.
  *
  * Pushdown:
  *  - `select.<dim>` options: explicit dimension selection (`a:b` range,
  *    `i` point — drops the column, `i,j,k` gather), mirroring the
  *    reference's `select_dims` (coordinate_processor.py:147-218).
  *  - [[SupportsPushDownFilters]]: coordinate predicates (=, <, <=, >, >=,
  *    IN) on dimension columns are converted to index subsets — the Zarr
  *    analog of partition pruning: chunks with no surviving index are never
  *    opened, let alone decompressed.
  *  - [[SupportsPushDownRequiredColumns]]: unused coordinate columns are
  *    never generated; if `value` itself is pruned (pure coordinate/count
  *    queries) chunk data is never read at all.
  */
class ZarrDataSource extends TableProvider with DataSourceRegister with CreatableRelationProvider {
  override def shortName(): String = "zarr"

  // write path: the DataFrame being written supplies the schema, so a
  // not-yet-existing store must not be probed for metadata
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZarrTable.fromOptions(options).schema()

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    try ZarrTable.fromOptions(opts)
    catch {
      // store/array absent: only reachable on the WRITE path (reads call
      // inferSchema first, which throws before getTable) — hand back a
      // write-only table carrying the DataFrame's schema
      case scala.util.control.NonFatal(_) if schema != null => new ZarrWriteOnlyTable(schema, opts)
    }
  }

  /** `df.write.format("zarr").save()` lands here (the V1 write bridge —
    * DataFrameWriter only drives the pure-V2 write protocol for tables
    * declaring BATCH_WRITE, and this sink intentionally is not one: it must
    * RESHUFFLE its input by target chunk, which [[ZarrSink]] owns). */
  override def createRelation(
      sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame
  ): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val lower = parameters.map { case (k, v) => k.toLowerCase -> v }
    def arrayExists: Boolean =
      try {
        val store = new ZarrStore(
          lower("path"),
          lower.collect { case (k, v) if k.startsWith("storage.") => k.drop("storage.".length) -> v },
          lower.get("group"),
          None
        )
        store.listArrays().contains(lower.getOrElse("array", ""))
      } catch { case scala.util.control.NonFatal(_) => false }
    mode match {
      case Ignore if arrayExists => () // keep existing, write nothing
      case ErrorIfExists if arrayExists =>
        throw new IllegalArgumentException(
          s"zarr array '${lower.getOrElse("array", "?")}' already exists (SaveMode.ErrorIfExists)"
        )
      case m => ZarrSink.write(data, parameters, overwrite = m == Overwrite)
    }
    val sc = sqlContext
    val outSchema = data.schema
    new BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = sc
      override def schema: StructType = outSchema
    }
  }
}

object ZarrTable {
  def parseDimSel(s: String): DimSel = {
    val t = s.trim
    if (t == ":" || t.equalsIgnoreCase("all")) DimSel.All
    else if (t.contains(":")) {
      val parts = t.split(":", -1)
      require(parts.length == 2, s"bad range selection '$s' (want a:b)")
      val a = if (parts(0).isEmpty) 0 else parts(0).toInt
      val b = if (parts(1).isEmpty) Int.MaxValue else parts(1).toInt
      DimSel.Range(a, b)
    } else if (t.contains(",")) DimSel.Indices(t.split(",").map(_.trim.toInt).toVector)
    else DimSel.Point(t.toInt)
  }

  def fromOptions(options: CaseInsensitiveStringMap): ZarrTable = {
    val path = Option(options.get("path"))
      .getOrElse(throw new IllegalArgumentException("zarr source requires option 'path'"))
    // `arrays` = ALIGNED multi-array scan: one scan emits [dims..., a, b, ...]
    // for arrays sharing dims/shape/chunks — no long-format self-join
    val arraysOpt = Option(options.get("arrays"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val array = arraysOpt
      .map(_.head)
      .orElse(Option(options.get("array")))
      .getOrElse(throw new IllegalArgumentException("zarr source requires option 'array' (or 'arrays')"))
    val group = Option(options.get("group"))
    val consolidated = Option(options.get("consolidated")).map(_.toBoolean)
    // `storage.<key>` options carry s3fs-style store config (see ZarrFileIO).
    // CaseInsensitiveStringMap lower-cases keys; both the s3fs kwarg names
    // and Hadoop fs.* properties are lower-case, so no information is lost.
    val storageOptions: Map[String, String] = options
      .asCaseSensitiveMap()
      .asScala
      .collect { case (k, v) if k.toLowerCase.startsWith("storage.") => k.drop("storage.".length) -> v }
      .toMap
    val store = new ZarrStore(path, storageOptions, group, consolidated)
    val meta = store.arrayMeta(array)
    val extras: Seq[ZarrArrayMeta] = arraysOpt.map(_.tail.map(store.arrayMeta)).getOrElse(Nil)
    extras.foreach { m =>
      require(
        m.dims == meta.dims && m.shape == meta.shape && m.chunks == meta.chunks,
        s"aligned multi-array scan needs identical dims/shape/chunks: '${m.name}' has " +
          s"${m.dims}/${m.shape}/${m.chunks}, '${meta.name}' has ${meta.dims}/${meta.shape}/${meta.chunks}"
      )
    }
    val sel: Map[String, DimSel] = meta.dims.flatMap { d =>
      Option(options.get(s"select.$d")).map(v => d -> parseDimSel(v))
    }.toMap
    // unset: partitions are sized to the session's parallelism at planning
    val targetCells = Option(options.get("partition.target.cells")).map(_.toLong)
    // dims longer than this never materialize coordinate values on the
    // driver — executors decode coordinate chunks per ordinal range
    val coordThreshold =
      Option(options.get("coord.deferred.threshold")).map(_.toInt).getOrElse(10000000)
    // streaming: the named dim is the growing append axis (readStream)
    val streamDim = Option(options.get("stream.dim"))
    // safety valve: `stats.pruning=false` ignores on-store chunk statistics
    // (zone maps + metadata value aggregates) for this read
    val useStats = Option(options.get("stats.pruning")).forall(_.toBoolean)
    new ZarrTable(store, meta, sel, targetCells, coordThreshold, extras, streamDim, useStats)
  }
}

class ZarrTable(
    store: ZarrStore,
    meta: ZarrArrayMeta,
    baseSel: Map[String, DimSel],
    targetCells: Option[Long],
    coordThreshold: Int = Int.MaxValue,
    extras: Seq[ZarrArrayMeta] = Nil,
    streamDim: Option[String] = None,
    useStats: Boolean = true
) extends Table
    with SupportsRead
    with SupportsWrite {

  private[zarr] val resolved: ResolvedSelection = Selection.resolve(meta.shape, meta.dims, baseSel)
  private[zarr] lazy val coords: Vector[Coord] =
    meta.dims.zip(meta.shape).map { case (d, n) => store.coordFor(d, n, coordThreshold) }

  // single-array tables keep the reference's `value` column; an aligned
  // multi-array table names each value column after its array
  private[zarr] val valueCols: Seq[(String, ZarrArrayMeta)] =
    if (extras.isEmpty) Seq("value" -> meta)
    else (meta +: extras).map(m => m.name -> m)

  override def name(): String =
    s"zarr:${store.storePath}:${(meta +: extras).map(_.name).mkString(",")}"

  override def schema(): StructType =
    StructType(
      resolved.outDims.map(d => StructField(meta.dims(d), coords(d).dataType, nullable = false)) ++
        valueCols.map { case (n, m) => StructField(n, m.valueType, nullable = true) }
    )

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE
    )

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(store, meta, resolved, coords, schema(), targetCells, valueCols, streamDim, useStats)

  // array exists: mode("overwrite") replaces it, mode("append") errors in
  // the sink with a clear message (no partial in-place chunk updates)
  override def newWriteBuilder(info: cw.LogicalWriteInfo): cw.WriteBuilder =
    new ZarrWriteBuilder(info)
}

/** Table handed out when the target store/array does not exist yet — the
  * fresh-write path of `df.write.format("zarr")`. The schema is the written
  * DataFrame's schema; reads of a nonexistent store keep failing at
  * inferSchema with the store-not-found error. */
class ZarrWriteOnlyTable(writeSchema: StructType, options: CaseInsensitiveStringMap) extends Table
    with SupportsWrite {
  override def name(): String = s"zarr:${options.get("path")}:${options.get("array")} (new)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: cw.LogicalWriteInfo): cw.WriteBuilder =
    new ZarrWriteBuilder(info)
}

/** V1Write bridge: the write needs to RESHUFFLE its input (cluster rows by
  * target chunk) before any bytes hit storage, which the plain DSv2
  * DataWriter protocol cannot express — InsertableRelation hands the sink
  * the full DataFrame instead (the supported fallback, same as Spark's JDBC
  * sink), and [[ZarrSink]] owns the repartition + streaming chunk
  * assembly. */
class ZarrWriteBuilder(info: cw.LogicalWriteInfo) extends cw.WriteBuilder
    with cw.SupportsTruncate {
  private var overwrite = false
  override def truncate(): cw.WriteBuilder = { overwrite = true; this }
  override def build(): cw.Write = new cw.V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: org.apache.spark.sql.DataFrame, o: Boolean): Unit = {
        val opts = info.options.asCaseSensitiveMap().asScala.toMap
        ZarrSink.write(data, opts, overwrite || o)
      }
    }
  }
}

/** Pushdown for one Zarr scan: dim predicates, columns, LIMIT, top-N and
  * aggregates. Aggregates follow one rule: complete from metadata (a
  * [[ZarrLocalAggScan]]), partial in the reader (a [[ZarrScan]] whose
  * [[ZarrAggReader]] emits one row per partition and group); casts to
  * integral types only under ANSI; float sums stay with Spark. */
class ZarrScanBuilder(
    store: ZarrStore,
    meta: ZarrArrayMeta,
    base: ResolvedSelection,
    coords: Vector[Coord],
    fullSchema: StructType,
    targetCells: Option[Long],
    valueCols: Seq[(String, ZarrArrayMeta)] = Nil,
    streamDim: Option[String] = None,
    useStats: Boolean = true
) extends ScanBuilder
    with org.apache.spark.internal.Logging
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var keep: Vector[KeptSet] = base.keep
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var pushedLimit: Option[Int] = None
  private var plannedAgg: Option[(StructType, Array[InternalRow])] = None
  private var partialAgg: Option[PartialAgg] = None
  // the session's ANSI mode at planning: a pushed integral sum raises on
  // overflow under it and wraps without it, as Spark's own sum does
  private val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled

  // ---- chunk-statistics (zone-map) pruning state. The stats doc is only
  // honored when its chunk-grid size and value domain match the array as
  // it stands now (a rewritten array with stale attrs is ignored, never
  // wrong). Aligned multi-array scans skip stats for now — per-column
  // pruning is a follow-on.
  private def statsValueCol: String = valueCols.headOption.map(_._1).getOrElse("value")
  /** Value columns of this scan: one ("value" -> meta) for single-array
    * scans, one per array for aligned scans (identical grids, validated
    * upstream — so every column's stats share one chunk-ordinal space). */
  private def effValueCols: Seq[(String, ZarrArrayMeta)] =
    if (valueCols.isEmpty) Seq("value" -> meta) else valueCols
  /** Stats attached to an array: Left = flat per-chunk doc, Right = the
    * hierarchical level-1 rollup doc (per-chunk bounds in side docs). A doc
    * whose grid size or domain no longer matches the array is ignored. */
  private def statsGeomFor(
      m: ZarrArrayMeta
  ): Option[(Either[ZarrChunkStats.Doc, ZarrChunkStats.Hier], Array[Long])] =
    (if (useStats) m.attrs.get(ZarrChunkStats.AttrKey) else None).flatMap { raw =>
      val nChunksVec = m.shape.indices
        .map(d => (m.shape(d) + m.chunks(d) - 1) / m.chunks(d))
        .toVector
      val total = nChunksVec.map(_.toLong).product
      val strides = IndexMath.strides(nChunksVec)
      val okDomain = ZarrChunkStats.domainOf(m.zdtype)
      ZarrChunkStats.parse(raw) match {
        case Some(doc) =>
          if (doc.nChunks == total && okDomain.contains(doc.domain)) Some((Left(doc), strides))
          else None
        case None =>
          ZarrChunkStats.parseHier(raw) match {
            case Some(h) if h.nChunks == total && okDomain.contains(h.domain) =>
              Some((Right(h), strides))
            case _ => None
          }
      }
    }
  private lazy val statsGeom: Option[(Either[ZarrChunkStats.Doc, ZarrChunkStats.Hier], Array[Long])] =
    if (valueCols.size > 1) None // primary-column geometry, single scans only
    else statsGeomFor(meta)
  private def statsDomainOf(ref: Either[ZarrChunkStats.Doc, ZarrChunkStats.Hier]): String =
    ref.fold(_.domain, _.domain)
  private var statsPredsL: Vector[ZarrChunkStats.Pred[Long]] = Vector.empty
  private var statsPredsD: Vector[ZarrChunkStats.Pred[Double]] = Vector.empty
  private var statsPredsS: Vector[CoordPredStr] = Vector.empty
  private var statsPredDescs: Vector[String] = Vector.empty
  // aligned scans: one pruner per value column that has both stats and
  // translated predicates; a chunk skips if ANY column's conjuncts cannot
  // match it (filters are conjuncts, each over one column)
  private var alignedPruners: Vector[ZarrChunkStats.Pruner] = Vector.empty

  /** Cap on an Explicit kept-set built by pushdown: beyond this the pruned
    * set would itself be a driver-memory liability, so the filter is left
    * residual (Spark re-applies it after the scan — correct either way). A
    * contiguous survivor range compacts to KeptSet.Range and is exempt. */
  private val maxExplicitKept = 1 << 22

  /** LIMIT n over a huge store must not plan the whole chunk grid: the
    * planner stops emitting ordinal ranges once the covered cell count
    * reaches n (cells stream in C-order, and LIMIT without ORDER BY may
    * return any n rows). Partial push: Spark keeps its own Limit on top
    * (the last planned partition can overshoot n). */
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    true
  }

  override def isPartiallyPushed(): Boolean = true

  private var topNPushed = false

  /** ORDER BY <dim> LIMIT k: the top-k rows can only carry the k smallest
    * (or largest) leading-dim row values, so the kept set of that dim
    * narrows to the indices holding them — ties at the boundary value kept
    * in full, so deeper tie-break columns stay correct. PARTIAL push
    * (isPartiallyPushed = true): Spark re-sorts and re-limits on top; the
    * scan just stops reading chunks that cannot contain a winner. `ORDER BY
    * time DESC LIMIT 5` over a 10^9-step store touches one chunk. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder], limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    if (orders.isEmpty || limit <= 0) return false
    val first = orders.head
    val colName = singleField(first.expression()).getOrElse(return false)
    val d = eagerDim(colName).getOrElse(return false)
    val ks = keep(d)
    if (ks.length == 0 || ks.length > maxExplicitKept) return false
    // null cells would need NullOrdering-aware placement; label axes with
    // nulls just decline (partial push is an optimization)
    if (dimNullable(d) && nonNullKeptCount(d) < ks.length) return false
    var prodOther = 1L
    keep.indices.foreach(e => if (e != d) prodOther *= keep(e).length)
    if (prodOther == 0) return false
    val needVals = math.min(ks.length.toLong, (limit.toLong + prodOther - 1) / prodOther).toInt
    if (needVals >= ks.length) return false // nothing to prune
    val asc = first.direction() == SortDirection.ASCENDING
    val pairs = new Array[(Any, Int)](ks.length)
    var i = 0
    while (i < ks.length) { val g = ks(i); pairs(i) = (coords(d)(g), g); i += 1 }
    val sorted = pairs.sortWith { case ((a, _), (b, _)) =>
      if (asc) cellCompare(a, b) < 0 else cellCompare(a, b) > 0
    }
    // extend through boundary-value ties: a dropped tie could be the true
    // winner under deeper order columns
    val boundary = sorted(needVals - 1)._1
    var end = needVals
    while (end < sorted.length && cellCompare(sorted(end)._1, boundary) == 0) end += 1
    if (end >= sorted.length) return false
    val idx = sorted.take(end).map(_._2).sorted
    keep = keep.updated(d, KeptSet.fromIndices(idx))
    topNPushed = true
    true
  }

  private def dimIndex(name: String): Option[Int] = {
    val i = meta.dims.indexOf(name)
    // only dims that survive into the schema can be filtered
    if (i >= 0 && base.outDims.contains(i)) Some(i) else None
  }

  private def coordAsDouble(d: Int, idx: Int): Double = coords(d) match {
    case Coord.Ints(a) => a(idx).toDouble
    case Coord.Longs(a) => a(idx).toDouble
    case Coord.Floats(a) => a(idx).toDouble
    case Coord.Doubles(a) => a(idx)
    case Coord.Timestamps(a) => a(idx).toDouble // epoch micros
    case Coord.Intervals(a) => a(idx).toDouble // interval micros
    case Coord.Index(_) => idx.toDouble
    case Coord.Deferred(_, _) =>
      throw new IllegalStateException("deferred coords refine via refineDeferred") // routed by tryRefine
    case Coord.Strings(_) =>
      throw new IllegalStateException("string coords refine via refineStr") // routed by tryRefine
  }

  private def num(v: Any): Option[Double] = v match {
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case f: Float => Some(f.toDouble)
    case d: Double => Some(d)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    // timestamp filter literals arrive as java.sql/java.time values;
    // compare in epoch micros like Coord.Timestamps
    case t @ (_: java.sql.Timestamp | _: java.time.Instant) => Some(ZarrSink.micros(t).toDouble)
    case d: java.time.Duration => Some(d.getSeconds * 1e6 + d.getNano / 1000.0)
    case _ => None
  }

  /** Run-compressing index accumulator: a contiguous survivor prefix is
    * tracked as (first, prev) with O(1) memory and only spills into an
    * explicit array at the first discontinuity — so a range predicate over
    * a monotonic 10^8-element axis prunes to a KeptSet.Range without ever
    * holding the indices. Returns None when the explicit spill exceeds
    * [[maxExplicitKept]] (caller leaves the filter residual). */
  private final class RunAccumulator {
    private var first = -1
    private var prev = -1
    private var explicit: scala.collection.mutable.ArrayBuilder.ofInt = _
    private var count = 0
    /** Add kept global index g (ascending); false = cap blown, abandon. */
    def add(g: Int): Boolean = {
      if (first < 0) { first = g; prev = g; true }
      else if (explicit == null && g == prev + 1) { prev = g; true }
      else {
        if (explicit == null) {
          count = prev - first + 1
          if (count + 1 > maxExplicitKept) return false
          explicit = new scala.collection.mutable.ArrayBuilder.ofInt
          var k = first
          while (k <= prev) { explicit += k; k += 1 }
        }
        explicit += g
        count += 1
        prev = g
        count <= maxExplicitKept
      }
    }
    /** Add kept contiguous run [lo, hi] (ascending, disjoint from prior
      * adds) — O(1) while the survivors stay one contiguous run, so an
      * all-in chunk over a monotonic axis costs nothing. */
    def addRun(lo: Int, hi: Int): Boolean = {
      if (first < 0) { first = lo; prev = hi; true }
      else if (explicit == null && lo == prev + 1) { prev = hi; true }
      else {
        if (explicit == null) {
          count = prev - first + 1
          if (count + (hi - lo + 1) > maxExplicitKept) return false
          explicit = new scala.collection.mutable.ArrayBuilder.ofInt
          var k = first
          while (k <= prev) { explicit += k; k += 1 }
        } else if (count + (hi - lo + 1) > maxExplicitKept) return false
        var k = lo
        while (k <= hi) { explicit += k; k += 1 }
        count += hi - lo + 1
        prev = hi
        count <= maxExplicitKept
      }
    }
    def result(): KeptSet =
      if (first < 0) KeptSet.Range(0, 0)
      else if (explicit == null) KeptSet.Range(first, prev + 1)
      else KeptSet.Explicit(explicit.result())
  }

  /** Refine the kept-index set of dim `d` by predicate `p` on coord value
    * (eager/positional coords — values are driver-resident or arithmetic). */
  private def refine(d: Int, p: CoordPred): Boolean = {
    val ks = keep(d)
    val acc = new RunAccumulator
    var i = 0
    val len = ks.length
    while (i < len) {
      val g = ks(i)
      if (p.eval(coordAsDouble(d, g)) && !acc.add(g)) return false
      i += 1
    }
    keep = keep.updated(d, acc.result())
    true
  }

  /** Refine a DEFERRED dim. Preferred path: per-chunk [min, max] stats
    * (one cached DISTRIBUTED pass — [[DeferredCoordStats]]) classify whole
    * chunks in or out, and only the boundary chunks whose window straddles
    * the predicate are decoded on the driver — O(nChunks) planning instead
    * of the old driver-serial full-axis decode; for a sorted axis and a
    * range predicate, ≤ 2 chunk decodes at any axis length. Falls back to
    * serial chunk streaming (bounded heap, never a whole-axis array) when
    * stats are unavailable. */
  private def refineDeferred(d: Int, p: CoordPred): Boolean =
    try {
      val dimName = meta.dims(d)
      val cm = store.arrayMeta(dimName)
      if (cm.rank != 1 || cm.shape.head != meta.shape(d)) return false
      // numeric pruning is only sound for dtypes cellAsDouble decodes
      // exactly; anything else (u8/string/complex) would read as NaN and
      // prune every cell — silent empty results. Residual instead.
      cm.zdtype.code match {
        case ZDtype.I4 | ZDtype.I8 | ZDtype.F4 | ZDtype.F8 | ZDtype.M8 | ZDtype.TD => ()
        case _ => return false
      }
      val dirStr = store.arrayDir(dimName)
      val chunkLen = cm.chunks.head
      // M8/TD fills are in the STORE's raw time unit; convert to micros
      // (NaT → NaN) exactly like cellAsDouble's present-chunk path, else a
      // NaT fill would compare as Long.MinValue and prune incorrectly
      val fill: Double = cm.fillValue match {
        case None => Double.NaN
        case Some(fv) if cm.zdtype.code == ZDtype.M8 || cm.zdtype.code == ZDtype.TD =>
          ZDtype.m8Micros(cm.zdtype, fv.toLong) match {
            case null => Double.NaN
            case us: java.lang.Long => us.toDouble
          }
        case Some(fv) => fv
      }
      val nChunks = ((cm.shape.head.toLong + chunkLen - 1) / chunkLen).toInt
      // few chunks: the serial path decodes at most nChunks chunks anyway —
      // not worth a stats job
      val stats =
        if (nChunks >= 4) DeferredCoordStats.forAxis(dirStr, cm, fill, store.storageOptions)
        else None
      var cachedId = -1
      var buf: Option[ZarrBuffer] = None
      def cellAt(g: Int): Double = {
        val c = g / chunkLen
        if (c != cachedId) {
          buf = ZarrChunkIO.readChunk(dirStr, cm, Seq(c), store.storageOptions)
          cachedId = c
        }
        buf match {
          case Some(b) => DeferredCoordStats.cellAsDouble(cm.zdtype, b, g - c * chunkLen)
          case None => fill
        }
      }
      val acc = new RunAccumulator
      (stats, keep(d)) match {
        case (Some(st), KeptSet.Range(start, until)) if until > start =>
          // chunk-run walk: all-in chunks append as whole runs (O(1) while
          // contiguous), all-out chunks skip, boundary chunks decode
          var c = start / chunkLen
          val lastChunk = (until - 1) / chunkLen
          while (c <= lastChunk) {
            val lo = math.max(start, c * chunkLen)
            val hi = math.min(until - 1, c * chunkLen + chunkLen - 1)
            if (p.allIn(st.min(c), st.max(c)) && !st.hasNaN(c)) {
              if (!acc.addRun(lo, hi)) return false
            } else if (p.anyIn(st.min(c), st.max(c))) {
              var g = lo
              while (g <= hi) {
                if (p.eval(cellAt(g)) && !acc.add(g)) return false
                g += 1
              }
            } // else: provably no match in this chunk — skip without decode
            c += 1
          }
        case (Some(st), ks) =>
          val len = ks.length
          var i = 0
          while (i < len) {
            val g = ks(i)
            val c = g / chunkLen
            if (p.allIn(st.min(c), st.max(c)) && !st.hasNaN(c)) {
              if (!acc.add(g)) return false
            } else if (p.anyIn(st.min(c), st.max(c))) {
              if (p.eval(cellAt(g)) && !acc.add(g)) return false
            }
            i += 1
          }
        case (None, ks) =>
          // serial fallback: stream chunks one at a time, bounded heap
          val len = ks.length
          var i = 0
          while (i < len) {
            val g = ks(i)
            if (p.eval(cellAt(g)) && !acc.add(g)) return false
            i += 1
          }
      }
      keep = keep.updated(d, acc.result())
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Dispatch: deferred dims prune via chunk stats / streaming, the rest
    * refine in memory. True iff the filter was fully absorbed by pruning. */
  private def tryRefine(d: Int, p: CoordPred): Boolean = coords(d) match {
    case Coord.Deferred(_, _) => refineDeferred(d, p)
    case Coord.Strings(_) => false // numeric predicate on a string axis: residual
    case _ => refine(d, p)
  }

  /** Refine a STRING coordinate axis (station-name / label dims) by an
    * equality/membership predicate — the string analog of [[refine]]. */
  private def refineStr(
      d: Int,
      p: org.apache.spark.unsafe.types.UTF8String => Boolean
  ): Boolean = coords(d) match {
    case Coord.Strings(a) =>
      val ks = keep(d)
      val acc = new RunAccumulator
      var i = 0
      val len = ks.length
      while (i < len) {
        val g = ks(i)
        if (p(a(g)) && !acc.add(g)) return false
        i += 1
      }
      keep = keep.updated(d, acc.result())
      true
    case _ => false
  }

  private def utf8(v: Any): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])

  /** Refine a DEFERRED string axis: lexicographic per-chunk [min, max]
    * stats (distributed pass, cached — [[DeferredCoordStats.forAxisStrings]])
    * classify chunks; boundary chunks decode on the driver. The label-axis
    * analog of [[refineDeferred]]; falls back to serial chunk streaming. */
  private def refineStrDeferred(d: Int, p: CoordPredStr): Boolean =
    try {
      val dimName = meta.dims(d)
      val cm = store.arrayMeta(dimName)
      if (cm.rank != 1 || cm.shape.head != meta.shape(d)) return false
      if (!ZDtype.isString(cm.zdtype.code)) return false
      val dirStr = store.arrayDir(dimName)
      val chunkLen = cm.chunks.head
      val fill = cm.fillValueStr.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
      val nChunks = ((cm.shape.head.toLong + chunkLen - 1) / chunkLen).toInt
      val stats =
        if (nChunks >= 4) DeferredCoordStats.forAxisStrings(dirStr, cm, store.storageOptions)
        else None
      var cachedId = -1
      var buf: Option[ZarrBuffer] = None
      def cellAt(g: Int): org.apache.spark.unsafe.types.UTF8String = {
        val c = g / chunkLen
        if (c != cachedId) {
          buf = ZarrChunkIO.readChunk(dirStr, cm, Seq(c), store.storageOptions)
          cachedId = c
        }
        buf match {
          case Some(b) => b.getUTF8(g - c * chunkLen)
          case None => fill
        }
      }
      val acc = new RunAccumulator
      (stats, keep(d)) match {
        case (Some(st), KeptSet.Range(start, until)) if until > start =>
          var c = start / chunkLen
          val lastChunk = (until - 1) / chunkLen
          while (c <= lastChunk) {
            val lo = math.max(start, c * chunkLen)
            val hi = math.min(until - 1, c * chunkLen + chunkLen - 1)
            val mn = st.min(c); val mx = st.max(c)
            // mn null = every cell null in that chunk: nothing matches
            if (mn != null && p.allIn(mn, mx) && !st.hasNull(c)) {
              if (!acc.addRun(lo, hi)) return false
            } else if (mn != null && p.anyIn(mn, mx)) {
              var g = lo
              while (g <= hi) {
                if (p.eval(cellAt(g)) && !acc.add(g)) return false
                g += 1
              }
            }
            c += 1
          }
        case (Some(st), ks) =>
          val len = ks.length
          var i = 0
          while (i < len) {
            val g = ks(i)
            val c = g / chunkLen
            val mn = st.min(c); val mx = st.max(c)
            if (mn != null && p.allIn(mn, mx) && !st.hasNull(c)) {
              if (!acc.add(g)) return false
            } else if (mn != null && p.anyIn(mn, mx)) {
              if (p.eval(cellAt(g)) && !acc.add(g)) return false
            }
            i += 1
          }
        case (None, ks) =>
          val len = ks.length
          var i = 0
          while (i < len) {
            val g = ks(i)
            if (p.eval(cellAt(g)) && !acc.add(g)) return false
            i += 1
          }
      }
      keep = keep.updated(d, acc.result())
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  /** String-predicate dispatch: eager label axes refine in memory,
    * deferred ones via chunk stats / streaming. */
  private def tryRefineStr(d: Int, p: CoordPredStr): Boolean = coords(d) match {
    case Coord.Strings(_) => refineStr(d, p.eval)
    case Coord.Deferred(StringType, _) => refineStrDeferred(d, p)
    case _ => false
  }

  /** Translate a pushed Filter into a single-dim STRING coordinate
    * predicate; `Or` recurses and absorbs when both sides land on the SAME
    * dim (a cross-dim Or cannot refine one axis independently). */
  private def toPredStr(f: Filter): Option[(Int, CoordPredStr)] = f match {
    case EqualTo(a, v: String) if dimIndex(a).isDefined =>
      Some((dimIndex(a).get, CoordPredStr.Eq(utf8(v))))
    case In(a, vs)
        if dimIndex(a).isDefined && vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      Some((dimIndex(a).get, CoordPredStr.InSet(vs.map(utf8).toSet)))
    case GreaterThan(a, v: String) if dimIndex(a).isDefined =>
      Some((dimIndex(a).get, CoordPredStr.Gt(utf8(v))))
    case GreaterThanOrEqual(a, v: String) if dimIndex(a).isDefined =>
      Some((dimIndex(a).get, CoordPredStr.Ge(utf8(v))))
    case LessThan(a, v: String) if dimIndex(a).isDefined =>
      Some((dimIndex(a).get, CoordPredStr.Lt(utf8(v))))
    case LessThanOrEqual(a, v: String) if dimIndex(a).isDefined =>
      Some((dimIndex(a).get, CoordPredStr.Le(utf8(v))))
    case StringStartsWith(a, prefix) if dimIndex(a).isDefined =>
      Some((dimIndex(a).get, CoordPredStr.StartsWith(utf8(prefix))))
    case Or(l, r) =>
      (toPredStr(l), toPredStr(r)) match {
        case (Some((d1, p1)), Some((d2, p2))) if d1 == d2 => Some((d1, CoordPredStr.Or(p1, p2)))
        case _ => None
      }
    case _ => None
  }

  /** Numeric sibling of [[toPredStr]]. */
  private def toPredNum(f: Filter): Option[(Int, CoordPred)] = f match {
    case EqualTo(a, v) if dimIndex(a).isDefined && num(v).isDefined =>
      Some((dimIndex(a).get, CoordPred.Eq(num(v).get)))
    case GreaterThan(a, v) if dimIndex(a).isDefined && num(v).isDefined =>
      Some((dimIndex(a).get, CoordPred.Gt(num(v).get)))
    case GreaterThanOrEqual(a, v) if dimIndex(a).isDefined && num(v).isDefined =>
      Some((dimIndex(a).get, CoordPred.Ge(num(v).get)))
    case LessThan(a, v) if dimIndex(a).isDefined && num(v).isDefined =>
      Some((dimIndex(a).get, CoordPred.Lt(num(v).get)))
    case LessThanOrEqual(a, v) if dimIndex(a).isDefined && num(v).isDefined =>
      Some((dimIndex(a).get, CoordPred.Le(num(v).get)))
    case In(a, vs) if dimIndex(a).isDefined && vs.forall(num(_).isDefined) =>
      Some((dimIndex(a).get, CoordPred.InSet(vs.flatMap(num).toSet)))
    case Or(l, r) =>
      (toPredNum(l), toPredNum(r)) match {
        case (Some((d1, p1)), Some((d2, p2))) if d1 == d2 => Some((d1, CoordPred.Or(p1, p2)))
        case _ => None
      }
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = filters.filter { f =>
      toPredStr(f) match {
        case Some((d, p)) => !tryRefineStr(d, p)
        case None =>
          toPredNum(f) match {
            case Some((d, p)) => !tryRefine(d, p)
            case None =>
              f match {
                // contains/endsWith have no ordered-stats pruning: refine
                // EAGER label axes per-cell; deferred axes stay residual (a
                // full driver-side chunk decode of a 10^8-cell axis is the
                // scale anti-pattern)
                case StringContains(a, sub) if dimIndex(a).isDefined =>
                  val d = dimIndex(a).get
                  val s = utf8(sub)
                  coords(d) match {
                    case Coord.Strings(_) => !refineStr(d, v => v != null && v.contains(s))
                    case _ => true
                  }
                case StringEndsWith(a, suffix) if dimIndex(a).isDefined =>
                  val d = dimIndex(a).get
                  val s = utf8(suffix)
                  coords(d) match {
                    case Coord.Strings(_) => !refineStr(d, v => v != null && v.endsWith(s))
                    case _ => true
                  }
                case _ => true
              }
          }
      }
    }
    accepted = filters.diff(residual)
    // stats were DROPPED at write time (grid past the ceiling): the scan
    // still answers correctly but value predicates read every chunk — say
    // so once, with the writer's recorded reason, instead of regressing
    // pruning silently. Only VALUE-column predicates would have pruned;
    // coordinate-only residuals (contains on a deferred axis, ...) must
    // not trigger a misdirected raise-the-cap warning.
    if (residual.exists(_.references.contains(statsValueCol)) && statsGeom.isEmpty && useStats)
      meta.attrs.get(ZarrChunkStats.DroppedAttrKey).foreach { why =>
        logWarning(
          s"zarr scan of '${meta.name}': chunk statistics were dropped at write time ($why) — " +
            s"value predicates cannot zone-map-prune and the scan opens every chunk. " +
            "Raise stats.flat_cap / stats.block_len at write time to keep statistics on grids this large."
        )
      }
    // value-column predicates stay residual (pruning is chunk-granular, so
    // Spark must still evaluate them per row) but additionally feed the
    // zone-map pruner when the store carries chunk stats
    statsGeom.foreach { case (ref, _) =>
      residual.foreach { f =>
        statsDomainOf(ref) match {
          case "int" =>
            ZarrChunkStats.translate(f, statsValueCol, ZarrChunkStats.convLong).foreach { p =>
              statsPredsL :+= p
              statsPredDescs :+= f.toString
            }
          case "float" =>
            ZarrChunkStats.translate(f, statsValueCol, ZarrChunkStats.convDouble).foreach { p =>
              statsPredsD :+= p
              statsPredDescs :+= f.toString
            }
          case _ =>
            ZarrChunkStats.translateStr(f, statsValueCol).foreach { ps =>
              statsPredsS ++= ps
              statsPredDescs :+= f.toString
            }
        }
      }
    }
    // aligned scans: per-column pruners (shared chunk grid, so one skip
    // decision space); a chunk skips if ANY column's conjuncts cannot match
    if (valueCols.size > 1)
      alignedPruners = valueCols.toVector.flatMap { case (name, m) =>
        statsGeomFor(m).flatMap { case (ref, strides) =>
          val predsL = residual.toVector
            .flatMap(f => ZarrChunkStats.translate(f, name, ZarrChunkStats.convLong))
          val predsD = residual.toVector
            .flatMap(f => ZarrChunkStats.translate(f, name, ZarrChunkStats.convDouble))
          val predsS = residual.toVector.flatMap(f => ZarrChunkStats.translateStr(f, name)).flatten
          mkDomainPruner(ref, strides, m, predsL, predsD, predsS, s"$name:${(predsL ++ predsD).size + predsS.size}")
        }
      }
    residual
  }

  /** One value column's pruner over flat OR hierarchical stats. Only the
    * predicate vector matching the stats domain is consulted; None when no
    * predicate translates or an int-domain fill is un-mappable. */
  private def mkDomainPruner(
      ref: Either[ZarrChunkStats.Doc, ZarrChunkStats.Hier],
      strides: Array[Long],
      m: ZarrArrayMeta,
      predsL: Vector[ZarrChunkStats.Pred[Long]],
      predsD: Vector[ZarrChunkStats.Pred[Double]],
      predsS: Vector[CoordPredStr],
      desc: String
  ): Option[ZarrChunkStats.Pruner] = statsDomainOf(ref) match {
    case "int" if predsL.nonEmpty =>
      statsFillLongOf(m) match {
        case Right(fill) =>
          Some(ref match {
            case Left(doc) => ZarrChunkStats.LongPruner(predsL, doc.boundsI, fill, strides, desc)
            case Right(h) =>
              ZarrChunkStats.HierPruner(
                h, predsL, fill, Vector.empty, None, Vector.empty, None,
                strides, store.arrayDir(m.name), store.storageOptions, desc
              )
          })
        case Left(_) => None
      }
    case "float" if predsD.nonEmpty =>
      val fill = m.fillValue.map(ZarrChunkStats.norm)
      Some(ref match {
        case Left(doc) => ZarrChunkStats.DoublePruner(predsD, doc.boundsF, fill, strides, desc)
        case Right(h) =>
          ZarrChunkStats.HierPruner(
            h, Vector.empty, None, predsD, fill, Vector.empty, None,
            strides, store.arrayDir(m.name), store.storageOptions, desc
          )
      })
    case "string" if predsS.nonEmpty =>
      Some(ref match {
        case Left(doc) => ZarrChunkStats.StringPruner(predsS, doc.boundsS, m.fillValueStr, strides, desc)
        case Right(h) =>
          ZarrChunkStats.HierPruner(
            h, Vector.empty, None, Vector.empty, None, predsS, m.fillValueStr,
            strides, store.arrayDir(m.name), store.storageOptions, desc
          )
      })
    case _ => None
  }

  /** Array fill in the Long stats domain: Right(None) = null fill (an
    * unwritten chunk can never match a comparison), Right(Some(v)) = a
    * concrete fill cell value, Left(()) = un-mappable — disable pruning
    * rather than guess. */
  private def statsFillLongOf(m: ZarrArrayMeta): Either[Unit, Option[Long]] = m.fillValue match {
    case None => Right(None)
    case Some(fv) if fv.isNaN => Right(None) // NaT -> null cells
    case Some(fv) =>
      m.zdtype.code match {
        case ZDtype.M8 | ZDtype.TD =>
          Right(Some(fv.toLong * m.zdtype.m8Num / m.zdtype.m8Den))
        case _ if fv.isWhole => Right(Some(fv.toLong))
        case _ => Left(())
      }
  }
  private def statsFillLong: Either[Unit, Option[Long]] = statsFillLongOf(meta)

  private def buildStatsPruner(): Option[ZarrChunkStats.Pruner] = {
    if (alignedPruners.nonEmpty)
      return Some(
        if (alignedPruners.size == 1) alignedPruners.head
        else ZarrChunkStats.Conjunction(alignedPruners)
      )
    statsGeom.flatMap { case (ref, strides) =>
      val desc = statsPredDescs.mkString("[", ", ", "]")
      // float fill note: NaN is a real cell value (orders greatest); an
      // absent fill means unwritten chunks read as null
      mkDomainPruner(ref, strides, meta, statsPredsL, statsPredsD, statsPredsS, desc)
    }
  }

  override def pushedFilters(): Array[Filter] = accepted

  // ---- aggregate pushdown, one rule: complete from metadata, partial in
  // the reader; casts only under ANSI; float sums stay with Spark. Spark
  // only offers an Aggregation when every filter was absorbed (no
  // residuals), so the kept sets already reflect all predicates.
  //  - Complete: COUNT/MIN/MAX over dimension columns are pure metadata —
  //    the grid geometry (kept-index sets) and the driver-resident
  //    coordinate values answer them without opening a single chunk, as
  //    chunk stats answer value extremes and counts on full selections. The
  //    result ships as a [[LocalScan]]: zero tasks, zero chunk reads — the
  //    zarr analog of answering count(*) from parquet footer row counts.
  //  - Partial ([[planPartial]]): COUNT, MIN/MAX and integral SUM over cell
  //    values, grouped by eager dims; [[ZarrAggReader]] folds each decoded
  //    run into one row per (partition, group) and Spark merges them.

  /** Iterate the kept global indices of dim d in kept order. */
  private def keptForeach(d: Int)(f: Int => Unit): Unit = {
    val ks = keep(d)
    var i = 0
    val n = ks.length
    while (i < n) { f(ks(i)); i += 1 }
  }

  private def singleField(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }

  /** Eager (driver-resident or arithmetic) dim for a column name; deferred
    * axes refuse — their values live in executor-side chunks by design. */
  private def eagerDim(col: String): Option[Int] =
    dimIndex(col).filterNot(d => coords(d).isInstanceOf[Coord.Deferred])

  /** Can cells of dim d ever be null? Only string label axes carry nulls
    * (null fill); every numeric/index/time coordinate is a primitive array. */
  private def dimNullable(d: Int): Boolean = coords(d).isInstanceOf[Coord.Strings]

  private def nonNullKeptCount(d: Int): Long = {
    var n = 0L
    keptForeach(d)(g => if (coords(d)(g) != null) n += 1)
    n
  }

  /** Ordering used for MIN/MAX per coordinate kind — matches Spark's:
    * primitive natural order, NaN greatest (java compare), strings by
    * UTF8String binary order. */
  private def cellCompare(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Float, y: Float) => java.lang.Float.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: org.apache.spark.unsafe.types.UTF8String, y: org.apache.spark.unsafe.types.UTF8String) =>
      x.compareTo(y)
    case _ => throw new IllegalStateException(s"unorderable agg cells: $a / $b")
  }

  private def keptMinMax(d: Int, wantMin: Boolean): Any = {
    var best: Any = null
    keptForeach(d) { g =>
      val v = coords(d)(g)
      if (v != null && (best == null || (if (wantMin) cellCompare(v, best) < 0 else cellCompare(v, best) > 0)))
        best = v
    }
    best
  }

  private def distinctNonNullKept(d: Int): Long = {
    val s = new java.util.HashSet[Any]()
    keptForeach(d)(g => { val v = coords(d)(g); if (v != null) s.add(v) })
    s.size.toLong
  }

  /** Largest LocalScan we will materialize for a grouped pushed aggregate:
    * past this the grouped result belongs in executors, not the plan. */
  private val maxAggGroups = 1 << 16

  /** True iff the current selection covers every cell of the array — the
    * precondition for answering VALUE aggregates from chunk stats (a chunk's
    * [min, max] bounds all its cells, but a kept SUBSET of a chunk has no
    * exact bounds). */
  private def fullSelection: Boolean =
    keep.indices.forall(d => keep(d) == KeptSet.Range(0, meta.shape(d)))

  /** Exact global MIN/MAX of the value column from chunk stats: per-chunk
    * bounds are exact (computed from the written bytes), so over a FULL
    * selection the global extremum is the extremum of chunk bounds plus the
    * fill value if any chunk was never written. `SELECT min(value) FROM
    * <100 TB array>` costs zero chunk reads. */
  private def valueMinMaxFromStats(
      wantMin: Boolean
  ): Option[(StructField, ((Int => Any, Long)) => Any, Any)] = statsGeom.flatMap { case (ref, _) =>
    if (!fullSelection) None
    else {
      // hierarchical rollups are exact extrema of their blocks' chunk
      // bounds, so the global extremum over rollups equals the extremum
      // over per-chunk bounds — no side-doc reads needed here
      val anyMissing = ref.fold(
        doc => doc.written.toLong < doc.nChunks,
        h => h.writtenTotal < h.nChunks
      )
      val doc = ref.fold(identity, _.rollup)
      val vt = fullSchema(statsValueCol).dataType
      val name = if (wantMin) s"min($statsValueCol)" else s"max($statsValueCol)"
      doc.domain match {
        case "int" =>
          val fillC: Option[Long] =
            if (!anyMissing) None
            else
              statsFillLong match {
                case Right(f) => f // None = null fill: contributes nothing
                case Left(_) => return None // un-mappable fill: refuse
              }
          val cands = doc.boundsI.values.flatten.map(b => if (wantMin) b._1 else b._2) ++ fillC
          val res: Any =
            if (cands.isEmpty) null
            else internalOfLong(if (wantMin) cands.min else cands.max, vt)
          Some((StructField(name, vt, nullable = true), (_: (Int => Any, Long)) => res, null))
        case "float" =>
          val fillC: Option[Double] =
            if (!anyMissing) None
            else meta.fillValue.map(ZarrChunkStats.norm) // None = null fill
          val cands = doc.boundsF.values.flatten.map(b => if (wantMin) b._1 else b._2) ++ fillC
          val res: Any =
            if (cands.isEmpty) null
            else {
              val v =
                if (wantMin) cands.min(Ordering.Double.TotalOrdering)
                else cands.max(Ordering.Double.TotalOrdering)
              vt match {
                case FloatType => v.toFloat
                case _ => v
              }
            }
          Some((StructField(name, vt, nullable = true), (_: (Int => Any, Long)) => res, null))
        case _ =>
          // byte-lexicographic extremum of string bounds + fill — exact for
          // the same reason the numeric domains are
          val fillC: Option[String] = if (!anyMissing) None else meta.fillValueStr
          val cands =
            (doc.boundsS.values.flatten.map(b => if (wantMin) b._1 else b._2) ++ fillC)
              .map(org.apache.spark.unsafe.types.UTF8String.fromString)
          val res: Any =
            if (cands.isEmpty) null
            else if (wantMin) cands.min(Ordering.comparatorToOrdering(java.util.Comparator.naturalOrder[org.apache.spark.unsafe.types.UTF8String]()))
            else cands.max(Ordering.comparatorToOrdering(java.util.Comparator.naturalOrder[org.apache.spark.unsafe.types.UTF8String]()))
          Some((StructField(name, vt, nullable = true), (_: (Int => Any, Long)) => res, null))
      }
    }
  }

  /** Long stats-domain value -> the column's Spark-internal representation. */
  private def internalOfLong(l: Long, vt: DataType): Any = vt match {
    case BooleanType => l != 0L
    case ByteType => l.toByte
    case ShortType => l.toShort
    case IntegerType => l.toInt
    case _ => l // LongType, TimestampType (micros), DayTimeIntervalType (micros)
  }

  /** Exact COUNT(value) (non-null count) from stats geometry: cells are
    * null only when an unwritten chunk has a null fill (M8/TD excluded —
    * written NaT cells are null and stats cannot count them). */
  private def valueCountFromStats(): Option[Long] = statsGeom.flatMap { case (ref, _) =>
    val code = meta.zdtype.code
    if (!fullSelection || code == ZDtype.M8 || code == ZDtype.TD) None
    else {
      val total = keep.map(_.length.toLong).product
      val domain = statsDomainOf(ref)
      val fillIsNull = domain match {
        case "int" =>
          statsFillLong match {
            case Right(None) => true
            case Right(Some(_)) => false
            case Left(_) => return None
          }
        case "float" => meta.fillValue.isEmpty
        case _ => meta.fillValueStr.isEmpty
      }
      // in-shape cell count of chunk `ord` (ragged edges respected)
      def chunkCells(nChunksVec: Vector[Long], ord: Long): Long = {
        var rem = ord
        var cells = 1L
        var d = meta.rank - 1
        while (d >= 0) {
          val cid = rem % nChunksVec(d); rem /= nChunksVec(d)
          cells *= math.min(meta.chunks(d).toLong, meta.shape(d).toLong - cid * meta.chunks(d))
          d -= 1
        }
        cells
      }
      val doc = ref match {
        case Left(d) => d
        case Right(h) =>
          // hierarchical: rollups carry per-block written COUNTS; the
          // side docs carry the written ORDINALS. When the fill is null
          // and some chunks were never written, answer from metadata by
          // reading side docs for the non-full blocks only (side-doc
          // opens, never chunk opens) and subtracting unwritten chunks'
          // in-shape cells. A fully-unwritten block needs no side doc;
          // an unreadable/stale side doc could hide written chunks, so
          // it falls back to the chunk scan (loud, never wrong).
          if (!fillIsNull || h.writtenTotal == h.nChunks) return Some(total)
          val nChunksVec = meta.shape.indices
            .map(d => ((meta.shape(d) + meta.chunks(d) - 1) / meta.chunks(d)).toLong)
            .toVector
          val arrayDir = store.arrayDir(meta.name)
          var missingCells = 0L
          var b = 0L
          while (b < h.nBlocks) {
            val inBlock = h.chunksIn(b)
            val wr = h.written.getOrElse(b, 0L)
            if (wr < inBlock) {
              val lo = b * h.blockLen
              if (wr == 0L) {
                var ord = lo
                while (ord < lo + inBlock) { missingCells += chunkCells(nChunksVec, ord); ord += 1 }
              } else {
                val side = ZarrFileIO
                  .readStringIfExists(
                    new org.apache.hadoop.fs.Path(arrayDir, s"${ZarrChunkStats.SideDir}/$b"),
                    store.storageOptions
                  )
                  .flatMap(ZarrChunkStats.parse)
                  // same staleness rule as the pruner's fineOf: a doc from
                  // a smaller grid stays exact for blocks that grid fully
                  // covered (appends never rewrite existing ordinals)
                  .filter(d =>
                    d.domain == h.domain &&
                      (d.nChunks == h.nChunks ||
                        (d.nChunks < h.nChunks && (b + 1) * h.blockLen <= d.nChunks))
                  )
                side match {
                  case Some(sd) =>
                    val writtenOrds: Set[Long] = h.domain match {
                      case "int" => sd.boundsI.keySet
                      case "float" => sd.boundsF.keySet
                      case _ => sd.boundsS.keySet
                    }
                    var ord = lo
                    while (ord < lo + inBlock) {
                      if (!writtenOrds.contains(ord)) missingCells += chunkCells(nChunksVec, ord)
                      ord += 1
                    }
                  case None => return None
                }
              }
            }
            b += 1
          }
          return Some(total - missingCells)
      }
      val written: Set[Long] = domain match {
        case "int" => doc.boundsI.keySet
        case "float" => doc.boundsF.keySet
        case _ => doc.boundsS.keySet
      }
      if (!fillIsNull || written.size.toLong == doc.nChunks) Some(total)
      else {
        // subtract the cells of never-written (null-fill) chunks, ragged
        // edges respected; grid is bounded (stats exist => <= 65536 chunks)
        val rank = meta.rank
        val nChunksVec = meta.shape.indices
          .map(d => (meta.shape(d) + meta.chunks(d) - 1) / meta.chunks(d))
          .toVector
        var missingCells = 0L
        var ord = 0L
        val cid = new Array[Int](rank)
        while (ord < doc.nChunks) {
          if (!written.contains(ord)) {
            var rem = ord
            var d = rank - 1
            while (d >= 0) { cid(d) = (rem % nChunksVec(d)).toInt; rem /= nChunksVec(d); d -= 1 }
            var cells = 1L
            d = 0
            while (d < rank) {
              cells *= math.min(meta.chunks(d).toLong, meta.shape(d).toLong - cid(d).toLong * meta.chunks(d))
              d += 1
            }
            missingCells += cells
          }
          ord += 1
        }
        Some(total - missingCells)
      }
    }
  }

  /** Plan a complete aggregate pushdown, or None when any piece needs chunk
    * data (value column, deferred axis, unsupported function). */
  private def planAggregate(agg: Aggregation): Option[(StructType, Array[InternalRow])] = {
    if (pushedLimit.isDefined || topNPushed) return None
    val groupDims: Vector[Int] = agg.groupByExpressions.toVector.map { e =>
      singleField(e).flatMap(eagerDim) match {
        case Some(d) => d
        case None => return None
      }
    }
    val groupSet = groupDims.toSet
    // product of kept lengths over dims NOT in `excl` — the per-group row
    // count contribution of the non-grouped dims (cells are a cross product)
    def prodExcept(excl: Set[Int]): Long = {
      var p = 1L
      var d = 0
      while (d < keep.length) { if (!excl.contains(d)) p *= keep(d).length; d += 1 }
      p
    }
    // the selection's total row count — a cross product of kept lengths; an
    // empty relation makes every MIN/MAX null and every COUNT 0 regardless
    // of the per-axis kept values, so it is handled as its own case
    val totalCells = prodExcept(Set.empty)
    // each agg func compiles to (field, (group value lookup, multiplicity)
    // => cell, value over the empty relation)
    type GroupCtx = (Int => Any, Long) // dim -> group value; group multiplicity
    val compiled: Vector[(StructField, GroupCtx => Any, Any)] = agg.aggregateExpressions.toVector.map {
      case _: CountStar =>
        val others = prodExcept(groupSet)
        val f: GroupCtx => Any = { case (_, mult) => mult * others }
        (StructField("count(*)", LongType, nullable = false), f, 0L)
      case c: Count if !c.isDistinct =>
        singleField(c.column) match {
          case Some(cn) if eagerDim(cn).isDefined =>
            val d = eagerDim(cn).get
            if (groupSet.contains(d)) {
              val others = prodExcept(groupSet)
              val f: GroupCtx => Any = { case (gv, mult) => if (gv(d) == null) 0L else mult * others }
              (StructField(s"count(${meta.dims(d)})", LongType, nullable = false), f, 0L)
            } else {
              val factor =
                if (dimNullable(d)) nonNullKeptCount(d) * prodExcept(groupSet + d)
                else prodExcept(groupSet)
              val f: GroupCtx => Any = { case (_, mult) => mult * factor }
              (StructField(s"count(${meta.dims(d)})", LongType, nullable = false), f, 0L)
            }
          case Some(cn) if cn == statsValueCol && groupDims.isEmpty =>
            val n = valueCountFromStats().getOrElse(return None)
            (StructField(s"count($statsValueCol)", LongType, nullable = false), (_: GroupCtx) => n, 0L)
          case _ => return None
        }
      case c: Count if c.isDistinct =>
        val d = singleField(c.column).flatMap(eagerDim).getOrElse(return None)
        if (groupSet.contains(d)) {
          val f: GroupCtx => Any = { case (gv, _) => if (gv(d) == null) 0L else 1L }
          (StructField(s"count(DISTINCT ${meta.dims(d)})", LongType, nullable = false), f, 0L)
        } else {
          val n = distinctNonNullKept(d)
          val f: GroupCtx => Any = _ => n
          (StructField(s"count(DISTINCT ${meta.dims(d)})", LongType, nullable = false), f, 0L)
        }
      case sm: Sum if !sm.isDistinct =>
        // INTEGRAL dims only: exact in any evaluation order (floating sums
        // are order-dependent — Spark's own execution owns those); plan-
        // time overflow aborts the pushdown (planAggregateSafe), keeping
        // ANSI overflow behavior on the real scan
        val d = singleField(sm.column).flatMap(eagerDim).getOrElse(return None)
        val asLong: Int => Long = coords(d) match {
          case Coord.Ints(a) => g => a(g).toLong
          case Coord.Longs(a) => g => a(g)
          case Coord.Index(_) => g => g.toLong
          case _ => return None
        }
        if (groupSet.contains(d)) {
          val others = prodExcept(groupSet)
          val f: GroupCtx => Any = { case (gv, mult) =>
            gv(d) match {
              case null => null
              case v => Math.multiplyExact(v.asInstanceOf[Number].longValue(), Math.multiplyExact(mult, others))
            }
          }
          (StructField(s"sum(${meta.dims(d)})", LongType, nullable = true), f, null)
        } else {
          var s = 0L
          keptForeach(d)(g => s = Math.addExact(s, asLong(g)))
          val factor = prodExcept(groupSet + d)
          val f: GroupCtx => Any = { case (_, mult) => Math.multiplyExact(s, Math.multiplyExact(mult, factor)) }
          (StructField(s"sum(${meta.dims(d)})", LongType, nullable = true), f, null)
        }
      case av: Avg if !av.isDistinct =>
        // each kept value of d repeats equally across a group, so the group
        // average is the plain average of d's kept values — exact long sum,
        // one double division (at least as accurate as the executed plan)
        val d = singleField(av.column).flatMap(eagerDim).getOrElse(return None)
        val asLong: Int => Long = coords(d) match {
          case Coord.Ints(a) => g => a(g).toLong
          case Coord.Longs(a) => g => a(g)
          case Coord.Index(_) => g => g.toLong
          case _ => return None
        }
        if (groupSet.contains(d)) {
          val f: GroupCtx => Any = { case (gv, _) =>
            gv(d) match { case null => null; case v => v.asInstanceOf[Number].doubleValue() }
          }
          (StructField(s"avg(${meta.dims(d)})", DoubleType, nullable = true), f, null)
        } else {
          var s = 0L
          keptForeach(d)(g => s = Math.addExact(s, asLong(g)))
          val n = keep(d).length
          val r: Any = if (n == 0) null else s.toDouble / n
          (StructField(s"avg(${meta.dims(d)})", DoubleType, nullable = true), (_: GroupCtx) => r, null)
        }
      case m: Min =>
        singleField(m.column) match {
          case Some(c) if eagerDim(c).isDefined =>
            val d = eagerDim(c).get
            val f: GroupCtx => Any =
              if (groupSet.contains(d)) { case (gv, _) => gv(d) }
              else { val v = keptMinMax(d, wantMin = true); _ => v }
            (StructField(s"min(${meta.dims(d)})", coords(d).dataType, nullable = true), f, null)
          case Some(c) if c == statsValueCol && groupDims.isEmpty =>
            valueMinMaxFromStats(wantMin = true).getOrElse(return None)
          case _ => return None
        }
      case m: Max =>
        singleField(m.column) match {
          case Some(c) if eagerDim(c).isDefined =>
            val d = eagerDim(c).get
            val f: GroupCtx => Any =
              if (groupSet.contains(d)) { case (gv, _) => gv(d) }
              else { val v = keptMinMax(d, wantMin = false); _ => v }
            (StructField(s"max(${meta.dims(d)})", coords(d).dataType, nullable = true), f, null)
          case Some(c) if c == statsValueCol && groupDims.isEmpty =>
            valueMinMaxFromStats(wantMin = false).getOrElse(return None)
          case _ => return None
        }
      case _ => return None
    }
    // distinct kept values per group dim, first-kept order, with multiplicity
    // (coordinate axes may repeat values — SQL groups merge them)
    val perDimGroups: Vector[Vector[(Any, Long)]] = groupDims.map { d =>
      val m = new java.util.LinkedHashMap[Any, java.lang.Long]()
      keptForeach(d) { g =>
        val v = coords(d)(g)
        m.merge(v, java.lang.Long.valueOf(1L), (x, y) => java.lang.Long.valueOf(x + y))
      }
      m.entrySet().asScala.toVector.map(e => (e.getKey, e.getValue.longValue()))
    }
    val nGroups = perDimGroups.map(_.size.toLong).product
    if (nGroups > maxAggGroups) return None
    val schema = StructType(
      groupDims.map(d => fullSchema(meta.dims(d))) ++ compiled.map(_._1)
    )
    if (totalCells == 0L)
      return Some((schema, if (groupDims.isEmpty) Array[InternalRow](new GenericInternalRow(compiled.map(_._3).toArray)) else Array.empty[InternalRow]))
    val rows = Array.newBuilder[InternalRow]
    // cartesian walk over per-dim group values (cells ARE the cross product)
    def emit(i: Int, vals: Array[Any], mult: Long): Unit =
      if (i == groupDims.length) {
        val lookup: Int => Any = d => vals(groupDims.indexOf(d))
        val out = new Array[Any](groupDims.length + compiled.length)
        var k = 0
        while (k < groupDims.length) { out(k) = vals(k); k += 1 }
        compiled.foreach { case (_, f, _) => out(k) = f((lookup, mult)); k += 1 }
        rows += new GenericInternalRow(out)
      } else
        perDimGroups(i).foreach { case (v, m) =>
          vals(i) = v
          emit(i + 1, vals, mult * m)
        }
    if (groupDims.isEmpty) {
      val out = new Array[Any](compiled.length)
      var k = 0
      compiled.foreach { case (_, f, _) => out(k) = f((_ => null, 1L)); k += 1 }
      rows += new GenericInternalRow(out)
    } else emit(0, new Array[Any](groupDims.length), 1L)
    Some((schema, rows.result()))
  }

  /** Plan-time arithmetic overflow (huge SUM factors) aborts the pushdown —
    * the executed plan then reproduces Spark's own ANSI overflow behavior. */
  private def planAggregateSafe(agg: Aggregation): Option[(StructType, Array[InternalRow])] =
    try planAggregate(agg)
    catch { case _: ArithmeticException => None }

  /** Plan a partial aggregate the reader computes per (partition, group):
    * COUNT(*), COUNT/MIN/MAX of a value column or an eager dim, and SUM of
    * an integral value or of a value cast to an integral type, grouped by
    * eager dims. None when anything else is asked: a float sum depends on
    * the order of its additions, so it stays with Spark, as does a cast
    * that could fail without ANSI mode. */
  private def planPartial(agg: Aggregation): Option[PartialAgg] = {
    import org.apache.spark.sql.connector.expressions.{Cast => V2Cast, Expression => V2Expr}
    if (pushedLimit.isDefined || topNPushed) return None
    val groupDims = agg.groupByExpressions.toVector.map(e => singleField(e).flatMap(eagerDim).getOrElse(return None))
    // group slots are keyed by a long over the group dims' kept positions
    if (groupDims.map(d => BigInt(keep(d).length)).product > Long.MaxValue) return None
    val cols = effValueCols
    def column(e: V2Expr): Option[Int] =
      singleField(e).map(n => cols.indexWhere(_._1 == n)).filter(k => k >= 0 && ZarrPartialAgg.foldable(cols(k)._2.zdtype.code))
    def operand(e: V2Expr): Option[AggOperand] = e match {
      case c: V2Cast =>
        column(c.expression()).filter { k =>
          val from = cols(k)._2.valueType
          ZarrPartialAgg.integralType(c.dataType()) && (ansi || ZarrPartialAgg.widening(from, c.dataType()))
        }.map(AggOperand.Value(_, Some(c.dataType())))
      case _ =>
        singleField(e).flatMap(eagerDim).map(AggOperand.Dim(_)).orElse(column(e).map(AggOperand.Value(_, None)))
    }
    def typeOf(o: AggOperand): DataType = o match {
      case AggOperand.Dim(d) => fullSchema(meta.dims(d)).dataType
      case AggOperand.Value(k, cast) => cast.getOrElse(cols(k)._2.valueType)
    }
    val fns: Vector[PartialFn] = agg.aggregateExpressions.toVector.map {
      case f: CountStar => PartialFn.CountAll(StructField(f.toString, LongType, nullable = false))
      case f: Count if !f.isDistinct =>
        operand(f.column) match {
          // a label axis may carry null labels; its count stays with Spark
          case Some(AggOperand.Dim(d)) if dimNullable(d) => return None
          case Some(o) => PartialFn.Count(o, StructField(f.toString, LongType, nullable = false))
          case None => return None
        }
      case f: Sum if !f.isDistinct =>
        operand(f.column) match {
          case Some(v: AggOperand.Value) if ZarrPartialAgg.integralType(typeOf(v)) =>
            PartialFn.Sum(v, StructField(f.toString, LongType, nullable = true))
          case _ => return None
        }
      case f: Min =>
        val o = operand(f.column).getOrElse(return None)
        PartialFn.Extreme(o, min = true, StructField(f.toString, typeOf(o), nullable = true))
      case f: Max =>
        val o = operand(f.column).getOrElse(return None)
        PartialFn.Extreme(o, min = false, StructField(f.toString, typeOf(o), nullable = true))
      case _ => return None
    }
    val schema = StructType(groupDims.map(d => fullSchema(meta.dims(d))) ++ fns.map(_.out))
    val by = if (groupDims.isEmpty) "" else groupDims.map(meta.dims(_)).mkString(" by [", ", ", "]")
    Some(PartialAgg(groupDims, fns, ansi, schema, fns.map(_.out.name).mkString("[", ", ", "]") + by))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    if (plannedAgg.isEmpty) plannedAgg = planAggregateSafe(agg)
    plannedAgg.isDefined
  }

  /** Spark asks [[supportCompletePushDown]] first: what it answers from
    * metadata ships complete, anything else is tried as a partial aggregate. */
  override def pushAggregation(agg: Aggregation): Boolean =
    plannedAgg.isDefined || {
      partialAgg = planPartial(agg)
      partialAgg.isDefined
    }

  // whole columns only: the readers fill whole records, so a nested
  // projection (`value.temp`) keeps the full value type, and Spark binds
  // the field access against the type the scan reports
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map { f =>
      fullSchema.find(_.name == f.name).getOrElse(f)
    })

  override def build(): Scan = plannedAgg match {
    case Some((aggSchema, aggRows)) =>
      new ZarrLocalAggScan(aggSchema, aggRows, meta.name)
    case None => buildChunkScan()
  }

  private def buildChunkScan(): Scan = {
    // deferred dims: ship the coordinate array's OWN location+metadata to
    // executors instead of its values
    val deferredSpecs: Map[Int, DeferredCoordSpec] = coords.zipWithIndex.collect {
      case (Coord.Deferred(_, _), d) =>
        d -> DeferredCoordSpec(store.arrayDir(meta.dims(d)), store.arrayMeta(meta.dims(d)))
    }.toMap
    new ZarrScan(
      store.arrayDir(meta.name),
      meta,
      base.copy(keep = keep),
      coords,
      required,
      targetCells.getOrElse(ZarrInputPartition.BaseTargetCells),
      store.storageOptions,
      pushedLimit,
      deferredSpecs,
      valueColumns =
        (if (valueCols.isEmpty) Seq("value" -> meta) else valueCols)
          .map { case (n, m) => (n, store.arrayDir(m.name), m) },
      pruner = buildStatsPruner(),
      streaming = streamDim.map(sd => (store, sd)),
      partialAgg = partialAgg,
      fitToParallelism = targetCells.isEmpty
    )
  }
}

/** Completely-pushed aggregate served from plan-time metadata: COUNT comes
  * from kept-set cardinality products (grid cells are a cross product of
  * kept indices), MIN/MAX from driver-resident coordinate values. Planned as
  * a [[LocalScan]] — Spark turns it into a LocalTableScanExec: ZERO tasks,
  * zero chunk opens. On a 100 TB store, `SELECT count(*) ... WHERE <pushed
  * dim predicates>` costs exactly the metadata reads the planner already
  * did. */
final class ZarrLocalAggScan(
    aggSchema: StructType,
    aggRows: Array[InternalRow],
    arrayName: String
) extends LocalScan {
  override def readSchema(): StructType = aggSchema
  override def rows(): Array[InternalRow] = aggRows
  override def description(): String =
    s"ZarrAggregateScan($arrayName, metadata-only, groups=${aggRows.length}, " +
      s"schema=${aggSchema.fieldNames.mkString(",")})"
}

/** Per-dimension run table: the sorted kept GLOBAL indices, grouped into
  * runs by containing chunk. `chunkId(r)` is the dim-chunk id of run r; its
  * kept indices occupy kept-positions `[offset(r), offset(r)+runLen(r))`.
  * One table per dimension is shared by EVERY chunk of the scan and rides
  * to executors inside the reader factory (Spark broadcasts the serialized
  * plan once per executor), so an InputPartition is just an ordinal range:
  * the driver never materializes the chunk grid, and a million-chunk store
  * plans in bounded memory.
  *
  * Two representations: [[RangeRuns]] — the full-dim / range-selection
  * common case — is pure arithmetic over (start, until, chunkSize), O(1)
  * memory regardless of extent (a 10^8-element dim costs three ints);
  * [[ExplicitRuns]] — filter survivors / index gathers — is O(selected),
  * which pushdown keeps bounded (see ZarrScanBuilder). */
sealed trait DimRuns extends Serializable {
  def nRuns: Int
  def nKept: Int
  def chunkId(r: Int): Int
  def offset(r: Int): Int
  def runLen(r: Int): Int
  /** Global index at kept-position i. */
  def keptAt(i: Int): Int
  /** Are run r's kept indices consecutive (block-copyable)? */
  def runContiguous(r: Int): Boolean
}

final case class ExplicitRuns(kept: Array[Int], chunkIds: Array[Int], offsets: Array[Int])
    extends DimRuns {
  def nRuns: Int = chunkIds.length
  def nKept: Int = kept.length
  def chunkId(r: Int): Int = chunkIds(r)
  def offset(r: Int): Int = offsets(r)
  def runLen(r: Int): Int = offsets(r + 1) - offsets(r)
  def keptAt(i: Int): Int = kept(i)
  def runContiguous(r: Int): Boolean = {
    val e = offsets(r + 1)
    var i = offsets(r) + 1
    while (i < e) { if (kept(i) != kept(i - 1) + 1) return false; i += 1 }
    true
  }
}

/** Contiguous [start, until) kept range: runs are derived arithmetically
  * from the chunk size — no arrays, so a full selection over an arbitrarily
  * long dimension is O(1) driver and task-binary memory. */
final case class RangeRuns(start: Int, until: Int, chunkSize: Int) extends DimRuns {
  private def firstChunk: Int = start / chunkSize
  def nRuns: Int = if (until <= start) 0 else (until - 1) / chunkSize - firstChunk + 1
  def nKept: Int = math.max(0, until - start)
  def chunkId(r: Int): Int = firstChunk + r
  def offset(r: Int): Int =
    if (r == 0) 0 else ((firstChunk + r).toLong * chunkSize - start).toInt
  def runLen(r: Int): Int = {
    val c = firstChunk + r
    (math.min(until.toLong, (c + 1).toLong * chunkSize) - math.max(start.toLong, c.toLong * chunkSize)).toInt
  }
  def keptAt(i: Int): Int = start + i
  def runContiguous(r: Int): Boolean = true
}

object DimRuns {
  def fromKeptSet(ks: KeptSet, chunkSize: Int): DimRuns = ks match {
    case KeptSet.Range(s, u) => RangeRuns(s, u, chunkSize)
    case KeptSet.Explicit(idx) => fromKept(idx, chunkSize)
  }

  def fromKept(kept: Array[Int], chunkSize: Int): DimRuns = {
    val chunkIds = scala.collection.mutable.ArrayBuffer[Int]()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    var prevChunk = -1
    while (i < kept.length) {
      val c = kept(i) / chunkSize
      if (c != prevChunk) { chunkIds += c; offsets += i; prevChunk = c }
      i += 1
    }
    offsets += kept.length
    ExplicitRuns(kept, chunkIds.toArray, offsets.toArray)
  }
}

/** Location + metadata of a deferred (long-dim) coordinate array — ships in
  * the reader factory; executors decode the coordinate chunks their ordinal
  * ranges touch (one-chunk cache: cells stream in C-order, so access is
  * sequential). */
final case class DeferredCoordSpec(arrayDir: String, meta: ZarrArrayMeta)

/** Executor-side cursor over a deferred 1-D coordinate array. */
final class CoordChunkCursor(spec: DeferredCoordSpec, storageOptions: Map[String, String]) {
  private val chunkLen = spec.meta.chunks.head
  private var cachedId = -1
  private var buf: ZarrBuffer = _ // null = missing chunk (fill-value)
  private val fillBoxed: Any =
    if (ZDtype.isString(spec.meta.zdtype.code))
      spec.meta.fillValueStr.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
    else spec.meta.fillValue.map(f => ZDtype.box(spec.meta.zdtype, f)).orNull

  /** Spark-internal value at GLOBAL index g; a null/NaT coordinate cell is
    * an error (a coordinate must be total — the eager path falls back to
    * positional for this, which deferred reads cannot re-check cheaply). */
  def value(g: Int): Any = {
    val c = g / chunkLen
    if (c != cachedId) {
      buf = ZarrChunkIO.readChunk(spec.arrayDir, spec.meta, Seq(c), storageOptions).orNull
      cachedId = c
    }
    val v = if (buf != null) buf.getValue(g - c * chunkLen) else fillBoxed
    if (v == null)
      throw new IllegalStateException(
        s"deferred coordinate '${spec.meta.name}' is null/NaT at index $g — a coordinate must be total"
      )
    v
  }
}

/** Ordinal range [start, end) over the non-empty chunk grid in C-order
  * (last dim fastest) — two longs, independent of chunk count. */
final case class ZarrInputPartition(start: Long, end: Long) extends InputPartition

/** Partition sizing. The planner walks the chunk grid at a fixed grain of
  * live cells per range; with no explicit `partition.target.cells` it then
  * merges consecutive ranges toward one partition per core, the way Spark's
  * file sources size splits (`FilePartition.maxSplitBytes`). Merging
  * `[s,e)` with `[e,f)` is exact: readers re-run the same per-ordinal skip
  * over whatever range they are given. */
object ZarrInputPartition {
  /** The walk's grain: 2^18 live cells, one 4x256x256 chunk. */
  val BaseTargetCells: Long = 1L << 18

  /** Spark's leaf-node parallelism: `spark.sql.leafNodeDefaultParallelism`,
    * else the context's default parallelism. */
  def sessionParallelism: Int =
    org.apache.spark.sql.internal.SQLConf.get
      .getConf(org.apache.spark.sql.internal.SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
      .getOrElse(org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)

  /** Cells per merged partition: at least the walk's grain, else an equal
    * share of the live cells per core, and never more decoded bytes than
    * `spark.sql.files.maxPartitionBytes`. */
  def mergeTarget(liveCells: Long, parallelism: Int, grain: Long, cellBytes: Long): Long = {
    val maxBytes = org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    val perCore = (liveCells + parallelism - 1) / parallelism
    math.min(math.max(grain, perCore), math.max(1L, maxBytes / cellBytes))
  }

  /** Greedily merges consecutive ranges (`cells(i)` live cells in range i)
    * into groups of at most `target` cells; a range larger than the target
    * stays a group of its own, so no scan gets more partitions. */
  def merge(ranges: Array[ZarrInputPartition], cells: Array[Long], target: Long): Array[InputPartition] = {
    val out = scala.collection.mutable.ArrayBuffer[InputPartition]()
    var i = 0
    while (i < ranges.length) {
      var j = i
      var acc = cells(i)
      while (j + 1 < ranges.length && acc + cells(j + 1) <= target) { j += 1; acc += cells(j) }
      out += ZarrInputPartition(ranges(i).start, ranges(j).end)
      i = j + 1
    }
    out.toArray
  }
}

/** Mutable snapshot of the scan's run tables, shared between the scan and
  * its reader factory. BatchScanExec creates the reader factory at PHYSICAL
  * PLANNING time (its columnar-support probe forces it) — BEFORE runtime
  * filtering narrows the kept sets — so a factory that captured run tables
  * by value would read the pre-refinement chunk grid against post-
  * refinement partition ordinals (wrong rows). The factory captures this
  * holder instead: runtime refinement updates it on the driver, and task
  * serialization (which happens after filtering) snapshots the refined
  * state for executors. */
final class ScanRunsState(
    @volatile var dimRuns: Vector[DimRuns],
    @volatile var keptCoords: Map[Int, Coord]
) extends Serializable

class ZarrScan(
    arrayDir: String,
    meta: ZarrArrayMeta,
    sel: ResolvedSelection,
    coords: Vector[Coord],
    required: StructType,
    targetCells: Long,
    storageOptions: Map[String, String] = Map.empty,
    limitCells: Option[Int] = None,
    deferredSpecs: Map[Int, DeferredCoordSpec] = Map.empty,
    // (output column, array dir, array meta) per value column — one entry
    // named "value" for single-array scans, one per array for ALIGNED
    // multi-array scans (identical dims/shape/chunks, validated upstream)
    valueColumns: Seq[(String, String, ZarrArrayMeta)] = Nil,
    // chunk-statistics (zone-map) pruner for value predicates — consulted
    // identically by the partition planner and every reader, so partition
    // ranges may safely cover pruned ordinals
    pruner: Option[ZarrChunkStats.Pruner] = None,
    // readStream: (driver-side store handle, growing append dim)
    streaming: Option[(ZarrStore, String)] = None,
    // a partially pushed aggregate: the scan emits its partial rows
    partialAgg: Option[PartialAgg] = None,
    // no explicit `partition.target.cells`: ranges of `targetCells` merge
    // toward one partition per core (see [[ZarrInputPartition]])
    fitToParallelism: Boolean = false
) extends Scan
    with Batch
    with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val (st, sd) = streaming.getOrElse(
      throw new UnsupportedOperationException(
        "zarr readStream needs option stream.dim=<growing dimension>"
      )
    )
    require(!multi, "zarr readStream does not support aligned multi-array scans yet")
    val sdIdx = meta.dims.indexOf(sd)
    require(sdIdx >= 0, s"stream.dim '$sd' is not a dimension of '${meta.name}' (${meta.dims})")
    require(
      sel.outDims.length == meta.rank,
      "zarr readStream does not support point-dropped dimensions"
    )
    require(
      curKeep(sdIdx) == KeptSet.Range(0, meta.shape(sdIdx)),
      s"stream.dim '$sd' must not be selected or filtered — offsets own that axis"
    )
    new graft.streaming.ZarrMicroBatchStream(
      st,
      meta.name,
      sd,
      required,
      curKeep,
      coords,
      deferredSpecs - sdIdx,
      targetCells
    )
  }

  override def readSchema(): StructType = partialAgg.fold(required)(_.schema)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    ZarrScanMetrics.supported

  /** Exact row count and a byte estimate from plan-time geometry: rows are
    * the kept-set cross product (pushdown already applied), bytes are rows
    * x (value item sizes + 8 B per projected dim). Spark's planner uses
    * this for join-strategy and DPP-benefit decisions — a pruned slab of a
    * 100 TB store correctly reports as broadcast-able instead of inheriting
    * the conservative "huge relation" default. */
  override def estimateStatistics(): Statistics = new Statistics {
    // a partial aggregate emits at most one row per group and partition;
    // its group count is the estimate
    private val rows: Long = partialAgg match {
      case Some(a) => a.groupDims.map(d => curKeep(d).length.toLong).product
      case None => curKeep.map(_.length.toLong).product
    }
    private val bytesPerRow: Long = partialAgg match {
      case Some(a) => 8L * a.schema.length
      case None =>
        valueColumns.map { case (_, _, m) => math.max(m.zdtype.itemSize, 1).toLong }.sum +
          8L * sel.outDims.length
    }
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, rows * bytesPerRow))
  }

  private def multi: Boolean = valueColumns.size > 1

  // a streaming read plans its own slabs; the batch plan would only cost a
  // walk of the whole grid per micro-batch
  private def describePlan: String =
    if (streaming.isDefined) ""
    else {
      val plan = partitionPlan
      s", partitions=${plan.parts.length}, partitionCells=${plan.target} (" +
        plan.parallelism.fold("partition.target.cells")(p => s"parallelism $p") + ")"
    }

  override def description(): String =
    s"ZarrScan(${if (multi) valueColumns.map(_._1).mkString("+") else meta.name}, " +
      s"cells=${curKeep.map(_.length.toLong).product}" + describePlan +
      limitCells.map(n => s", limit=$n").getOrElse("") +
      pruner.map(p => s", statsPruned=${p.describe}").getOrElse("") +
      partialAgg.map(a => s", partialAgg=${a.describe}").getOrElse("") +
      s", schema=${readSchema().fieldNames.mkString(",")})"

  override def toBatch: Batch = this

  // ---- runtime filtering (the DPP analog): a broadcast equi-join against
  // a dim column hands the scan the join side's key set at EXECUTION time;
  // kept-index sets narrow before partitions are planned, so chunks with no
  // surviving key are never opened. Refinement is a pure optimization — the
  // join re-applies the predicate — so any non-representable case safely
  // declines. State: `curKeep` replaces the constructor keep and the two
  // derived caches invalidate on refinement (Spark re-plans partitions
  // after calling filter()).
  private var curKeep: Vector[KeptSet] = sel.keep
  private var dimRunsCache: Vector[DimRuns] = null
  private var keptCoordsCache: Map[Int, Coord] = null

  /** Cap on a runtime-refined explicit kept set — mirrors the builder's
    * pushdown cap; past it the refinement is skipped, not wrong. */
  private val maxRuntimeKept = 1 << 22

  // a partial aggregate's output holds no dim column to filter on
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (partialAgg.isDefined) Array.empty
    else sel.outDims.collect {
      case d if !coords(d).isInstanceOf[Coord.Deferred] =>
        org.apache.spark.sql.connector.expressions.Expressions.column(meta.dims(d))
    }.toArray

  override def filter(filters: Array[Filter]): Unit = {
    filters.foreach {
      case In(attr, values) =>
        val d = meta.dims.indexOf(attr)
        if (d >= 0 && sel.outDims.contains(d)) refineRuntime(d, values)
      case EqualTo(attr, value) =>
        val d = meta.dims.indexOf(attr)
        if (d >= 0 && sel.outDims.contains(d)) refineRuntime(d, Array(value))
      case _ => () // anything else: decline, the join re-applies it
    }
    syncedState() // the already-created reader factory sees the refinement
  }

  /** Narrow dim d's kept set to indices whose coordinate value is in the
    * runtime key set. Eager/index coords only; bounded work (eager axes are
    * bounded by the deferral threshold, index dims by the key-set size). */
  private def refineRuntime(d: Int, values: Array[Any]): Unit = {
    val ks = curKeep(d)
    val survivors: Option[Array[Int]] = coords(d) match {
      case Coord.Index(_) =>
        // map key values straight to indices: intersect with the kept set
        val wanted = values.flatMap {
          case l: Long => Some(l)
          case i: Int => Some(i.toLong)
          case _ => None
        }.toSet
        if (wanted.size < values.length) None // unconvertible key: decline
        else {
          val b = Array.newBuilder[Int]
          var i = 0
          val n = ks.length
          while (i < n) { val g = ks(i); if (wanted.contains(g.toLong)) b += g; i += 1 }
          Some(b.result())
        }
      case Coord.Deferred(_, _) => None
      case c =>
        val set = new java.util.HashSet[Any]()
        var convertible = true
        values.foreach { v =>
          runtimeKey(c, v) match {
            case Some(k) => set.add(k)
            case None => convertible = false
          }
        }
        if (!convertible) None
        else {
          val b = Array.newBuilder[Int]
          var i = 0
          val n = ks.length
          var count = 0
          while (i < n && count <= maxRuntimeKept) {
            val g = ks(i)
            if (set.contains(c(g))) { b += g; count += 1 }
            i += 1
          }
          if (count > maxRuntimeKept) None else Some(b.result())
        }
    }
    survivors.foreach { idx =>
      curKeep = curKeep.updated(d, KeptSet.fromIndices(idx))
      dimRunsCache = null
      keptCoordsCache = null
      planCache = null
    }
  }

  /** External join-key literal -> the coord's internal value domain. */
  private def runtimeKey(c: Coord, v: Any): Option[Any] = (c, v) match {
    case (_: Coord.Ints, i: Int) => Some(i)
    case (_: Coord.Longs, l: Long) => Some(l)
    case (_: Coord.Floats, f: Float) => Some(f)
    case (_: Coord.Doubles, d: Double) => Some(d)
    case (_: Coord.Strings, s: String) =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    case (_: Coord.Strings, u: org.apache.spark.unsafe.types.UTF8String) => Some(u)
    case (_: Coord.Timestamps, t @ (_: java.sql.Timestamp | _: java.time.Instant)) => Some(ZarrSink.micros(t))
    case (_: Coord.Intervals, d: java.time.Duration) =>
      Some(d.getSeconds * 1000000L + d.getNano / 1000L)
    case _ => None
  }

  private[zarr] def dimRuns: Vector[DimRuns] = {
    if (dimRunsCache == null)
      dimRunsCache = curKeep.zipWithIndex.map { case (ks, d) => DimRuns.fromKeptSet(ks, meta.chunks(d)) }
    dimRunsCache
  }

  private val runsState = new ScanRunsState(null, null)
  private def syncedState(): ScanRunsState = {
    runsState.dimRuns = dimRuns
    runsState.keptCoords = keptCoords
    runsState
  }

  /** Kept-aligned TYPED coordinate values — EAGER (short-dim) coords only;
    * typed so the columnar reader fills primitive vectors without boxing.
    * Index dims are served arithmetically from DimRuns and deferred dims
    * from executor-side [[CoordChunkCursor]]s, so neither appears here —
    * this map is the only per-value coordinate state in the task binary
    * and it stays bounded by the deferral threshold. */
  private def keptCoords: Map[Int, Coord] = {
    if (keptCoordsCache == null)
      keptCoordsCache = sel.outDims.flatMap { d =>
        val dr = dimRuns(d)
        coords(d).gather(dr.nKept, dr.keptAt).map(d -> _)
      }.toMap
    keptCoordsCache
  }

  override def planInputPartitions(): Array[InputPartition] = partitionPlan.parts

  /** The planned partitions and the cell target they were filled to;
    * `parallelism` is the P the target came from, None when it is the
    * scan's own `targetCells`. */
  private final case class PartitionPlan(parts: Array[InputPartition], target: Long, parallelism: Option[Int])

  // shared by description() and planInputPartitions(); runtime refinement
  // clears it, since it re-plans
  private var planCache: PartitionPlan = null

  private def partitionPlan: PartitionPlan = {
    if (planCache == null) {
      val (ranges, cells) = chunkRanges()
      val plan =
        if (!fitToParallelism) PartitionPlan(ranges.toArray, targetCells, None)
        else {
          val p = ZarrInputPartition.sessionParallelism
          val cellBytes = math.max(1L, required.defaultSize.toLong)
          val target = ZarrInputPartition.mergeTarget(cells.sum, p, targetCells, cellBytes)
          PartitionPlan(ZarrInputPartition.merge(ranges, cells, target), target, Some(p))
        }
      // a global partial aggregate over no cells still owes Spark its one
      // identity row (count 0, the rest null)
      planCache =
        if (plan.parts.isEmpty && partialAgg.exists(_.groupDims.isEmpty))
          plan.copy(parts = Array(ZarrInputPartition(0L, 0L)))
        else plan
    }
    planCache
  }

  /** Ordinal ranges of about `targetCells` live cells each, with the live
    * cells of each. */
  private def chunkRanges(): (Array[ZarrInputPartition], Array[Long]) = {
    val rank = meta.rank
    if (rank == 0) return (Array(ZarrInputPartition(0L, 1L)), Array(1L))
    if (dimRuns.exists(_.nRuns == 0)) return (Array.empty, Array.empty)
    val counts = dimRuns.map(_.nRuns)
    val total = counts.map(_.toLong).product
    // lazy C-order walk over run indices with an incremental cell product —
    // O(1) driver memory per chunk, partitions emitted as ranges fill up.
    // Zone-map-pruned chunks contribute zero cells (the same skip decision
    // re-runs in the readers, so ranges may cover pruned ordinals) and a
    // range that would contain ONLY pruned chunks is never emitted: `acc`
    // only grows on live chunks, and partitions only close with acc > 0.
    val parts = scala.collection.mutable.ArrayBuffer[ZarrInputPartition]()
    val partCells = scala.collection.mutable.ArrayBuffer[Long]()
    val runIdx = new Array[Int](rank)
    // cells(chunk) = prod_d runLen(d, runIdx(d)); maintain per-dim factors
    val factors = Array.tabulate(rank)(d => dimRuns(d).runLen(0).toLong)
    val chunkIds = Array.tabulate(rank)(d => dimRuns(d).chunkId(0))
    val prunerLocal = pruner.orNull
    def cellsNow: Long = { var p = 1L; var d = 0; while (d < rank) { p *= factors(d); d += 1 }; p }
    var start = 0L
    var acc = 0L
    var ord = 0L
    var covered = 0L
    while (ord < total) {
      if (prunerLocal == null || !prunerLocal.skip(chunkIds)) {
        val c = cellsNow
        if (acc > 0 && acc + c > targetCells) {
          parts += ZarrInputPartition(start, ord)
          partCells += acc
          start = ord; acc = 0L
        }
        acc += c
        covered += c
      }
      ord += 1
      // pushed LIMIT: stop planning once enough cells are covered — a
      // limit-only query over a million-chunk store plans O(limit) work
      if (limitCells.exists(covered >= _)) {
        parts += ZarrInputPartition(start, ord)
        partCells += acc
        return (parts.toArray, partCells.toArray)
      }
      // odometer over run indices, last dim fastest; update factors in place
      var k = rank - 1
      var carry = true
      while (carry && k >= 0) {
        runIdx(k) += 1
        if (runIdx(k) < counts(k)) carry = false
        else runIdx(k) = 0
        factors(k) = dimRuns(k).runLen(runIdx(k)).toLong
        chunkIds(k) = dimRuns(k).chunkId(runIdx(k))
        if (carry) k -= 1
      }
    }
    // acc > 0 iff any live chunk since the last emitted range (every run has
    // >= 1 kept index, so an unpruned ordinal always contributes cells)
    if (acc > 0) { parts += ZarrInputPartition(start, total); partCells += acc }
    (parts.toArray, partCells.toArray)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // snapshot the driver's hadoop conf for executors — getActiveSession is
    // None inside tasks, so credentials set via spark.hadoop.* would
    // otherwise never reach executor-side chunk reads (cluster mode; local
    // mode masks it by sharing the JVM)
    if (partialAgg.isDefined)
      new ZarrAggReaderFactory(
        valueColumns,
        ZarrFileIO.executorOptions(storageOptions),
        syncedState(),
        pruner,
        partialAgg.get
      )
    else if (multi)
      new ZarrMultiReaderFactory(
        valueColumns,
        arrayDir,
        meta,
        sel.outDims,
        required,
        meta.dims,
        ZarrFileIO.executorOptions(storageOptions),
        syncedState(),
        deferredSpecs,
        pruner
      )
    else
      new ZarrReaderFactory(
        arrayDir,
        meta,
        sel.outDims,
        required,
        ZarrFileIO.executorOptions(storageOptions),
        syncedState(),
        deferredSpecs,
        pruner
      )
}

/** ALIGNED multi-array reads: one columnar reader per requested value
  * column walks the SAME partition in lockstep. Cell iteration depends only
  * on the shared (dims, shape, chunks, keep, pruner) state, never on which
  * columns a reader materializes, so all cursors advance identically; any
  * difference in the rows they yield throws. Spark gets one `ColumnarBatch`
  * over the readers' own vectors. One chunk read per array per chunk;
  * unrequested arrays cost nothing (their reader is never built). Shard
  * layouts may differ between arrays — each reader resolves IO through its
  * own metadata; only the logical chunk grid must match. */
class ZarrMultiReaderFactory(
    valueColumns: Seq[(String, String, ZarrArrayMeta)],
    primaryDir: String,
    primaryMeta: ZarrArrayMeta,
    outDims: Vector[Int],
    required: StructType,
    dimNames: Seq[String],
    storageOptions: Map[String, String],
    state: ScanRunsState,
    deferredSpecs: Map[Int, DeferredCoordSpec] = Map.empty,
    // shared zone-map pruner: skip decisions depend only on the (shared)
    // chunk grid, so leader and followers stay in lockstep
    pruner: Option[ZarrChunkStats.Pruner] = None
) extends PartitionReaderFactory {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  // (field, output position) of the dim columns and of the value columns;
  // the first value column's array leads
  private val dimIdx: Array[(StructField, Int)] =
    required.fields.zipWithIndex.filter { case (f, _) => dimNames.contains(f.name) }
  private val wanted: Array[(StructField, Int)] =
    required.fields.zipWithIndex.filter { case (f, _) => !dimNames.contains(f.name) }
  private val byName: Map[String, (String, String, ZarrArrayMeta)] =
    valueColumns.map(vc => vc._1 -> vc).toMap

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("zarr cell reads are columnar only")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val part = partition.asInstanceOf[ZarrInputPartition]
    def open(dir: String, m: ZarrArrayMeta, req: StructType) = new ZarrColumnarReader(
      dir, m, outDims, req, part, storageOptions, state.dimRuns, state.keptCoords, deferredSpecs,
      pruner = pruner
    )
    // dims-only projection (count over coordinates): one reader, no value
    if (wanted.isEmpty) return open(primaryDir, primaryMeta, required)
    // the leader reads the dims plus its value, each follower only its
    // value (each as the reader's "value")
    def openFor(f: StructField, fields: Seq[StructField]): ZarrColumnarReader = {
      val (_, dir, m) = byName(f.name)
      open(dir, m, StructType(fields :+ StructField("value", f.dataType, nullable = true)))
    }
    val leader = openFor(wanted.head._1, dimIdx.map(_._1).toSeq)
    val followers = wanted.tail.map(w => openFor(w._1, Nil))
    // every reader refills its own vectors in place, so one batch over
    // them, in `required` order, serves the whole partition
    val lead = leader.get()
    val cols = new Array[ColumnVector](required.length)
    dimIdx.indices.foreach(i => cols(dimIdx(i)._2) = lead.column(i))
    cols(wanted.head._2) = lead.column(dimIdx.length)
    followers.indices.foreach(k => cols(wanted(k + 1)._2) = followers(k).get().column(0))
    val batch = new ColumnarBatch(cols)
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = {
        val n = leader.next()
        val rows = lead.numRows()
        var k = 0
        while (k < followers.length) {
          val fn = followers(k).next()
          val fr = followers(k).get().numRows()
          if (fn != n || fr != rows)
            throw new IllegalStateException(
              s"aligned readers diverged (leader=$n/$rows rows " +
                s"follower=${wanted(k + 1)._1.name}=$fn/$fr rows)"
            )
          k += 1
        }
        batch.setNumRows(rows)
        n
      }
      override def get(): ColumnarBatch = batch
      override def currentMetricsValues(): Array[CustomTaskMetric] =
        ZarrScanMetrics.values(leader.chunksRead + followers.map(_.chunksRead).sum)
      override def close(): Unit = {
        leader.close()
        followers.foreach(_.close())
      }
    }
  }
}

/** Single-array cell reads: every partition is columnar (primitive vector
  * fills; Spark appends a codegen'd ColumnarToRow). */
class ZarrReaderFactory(
    arrayDir: String,
    meta: ZarrArrayMeta,
    outDims: Vector[Int],
    required: StructType,
    storageOptions: Map[String, String],
    state: ScanRunsState,
    deferredSpecs: Map[Int, DeferredCoordSpec] = Map.empty,
    pruner: Option[ZarrChunkStats.Pruner] = None
) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("zarr cell reads are columnar only")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(
      partition: InputPartition
  ): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ZarrColumnarReader(
      arrayDir, meta, outDims, required,
      partition.asInstanceOf[ZarrInputPartition], storageOptions, state.dimRuns, state.keptCoords,
      deferredSpecs, pruner = pruner
    )
}

/** Shared cell-iteration state machine: walks the partition's ordinal
  * range, loads one chunk at a time, and advances a C-order odometer over
  * the kept positions of the current chunk. [[ZarrColumnarReader]] fills
  * vector batches from it; [[RunCursor]] steps it run by run for the
  * partial aggregates of [[ZarrAggReader]]. */
abstract class ZarrCursor(
    arrayDir: String,
    meta: ZarrArrayMeta,
    partition: ZarrInputPartition,
    storageOptions: Map[String, String],
    dimRuns: Vector[DimRuns],
    needValue: Boolean,
    pruner: Option[ZarrChunkStats.Pruner] = None
) {
  protected val rank: Int = meta.rank
  private var ordinal: Long = partition.start
  // per-dim state of the CURRENT chunk, derived from the ordinal
  protected val chunkIdx = new Array[Int](rank)
  protected val sliceStart = new Array[Int](rank)
  protected val sliceLen = new Array[Int](rank)
  protected val runIdxCur = new Array[Int](rank) // per-dim run index of the current chunk
  protected var buf: Option[ZarrBuffer] = None
  protected val pos = new Array[Int](rank) // position INTO the kept slice
  private var havePos = false // pos points at a valid, not-yet-consumed cell
  private var emittedScalar = false // rank-0 single row
  private lazy val chunkStrides = IndexMath.strides(meta.chunks)

  /** Incremented whenever a new chunk is loaded — lets subclasses cache
    * per-chunk derived state (e.g. inner-run contiguity). */
  protected var chunkGen: Long = 0L

  /** Value chunks this cursor has read (the `chunksRead` scan metric). */
  private[zarr] var chunksRead: Long = 0L

  private def advanceChunk(): Boolean = {
    val prunerLocal = pruner.orNull
    while (ordinal < partition.end) {
      chunkGen += 1
      if (rank == 0) {
        if (emittedScalar) return false
        buf = if (needValue) ZarrChunkIO.readChunk(arrayDir, meta, Seq.empty, storageOptions) else None
        if (needValue) chunksRead += 1
        havePos = true
        emittedScalar = true
        ordinal += 1
        return true
      }
      // decompose ordinal (C-order over non-empty chunk grid, last dim fastest)
      var rem = ordinal
      var d = rank - 1
      while (d >= 0) {
        val n = dimRuns(d).nRuns
        val r = (rem % n).toInt
        rem /= n
        runIdxCur(d) = r
        chunkIdx(d) = dimRuns(d).chunkId(r)
        sliceStart(d) = dimRuns(d).offset(r)
        sliceLen(d) = dimRuns(d).runLen(r)
        d -= 1
      }
      ordinal += 1
      // zone-map skip: the SAME decision the partition planner made, so a
      // range's pruned ordinals cost one stats lookup, no chunk open
      if (prunerLocal == null || !prunerLocal.skip(chunkIdx)) {
        buf =
          if (needValue) ZarrChunkIO.readChunk(arrayDir, meta, chunkIdx.toSeq, storageOptions) else None
        if (needValue) chunksRead += 1
        java.util.Arrays.fill(pos, 0)
        havePos = true
        return true
      }
    }
    false
  }

  /** Position on the next unconsumed cell; false when the range is done. */
  protected final def nextCell(): Boolean = {
    while (!havePos) if (!advanceChunk()) return false
    true
  }

  /** C-order odometer step over kept positions of the current chunk. */
  protected final def consumeCell(): Unit = {
    if (rank == 0) { havePos = false; return }
    var k = rank - 1
    var carry = true
    while (carry && k >= 0) {
      pos(k) += 1
      if (pos(k) < sliceLen(k)) carry = false
      else { pos(k) = 0; k -= 1 }
    }
    havePos = !carry
  }

  /** Flat index into the current chunk's buffer for the current cell. */
  protected final def currentLocalFlat: Int = {
    var localFlat = 0L
    var d = 0
    while (d < rank) {
      val g = dimRuns(d).keptAt(sliceStart(d) + pos(d))
      localFlat += (g - chunkIdx(d) * meta.chunks(d)).toLong * chunkStrides(d)
      d += 1
    }
    localFlat.toInt
  }

  protected final def keptPos(d: Int): Int = sliceStart(d) + pos(d)

  /** Cells remaining in the current innermost (last-dim) run. */
  protected final def innerRemaining: Int =
    if (rank == 0) 1 else sliceLen(rank - 1) - pos(rank - 1)

  /** True iff the current chunk's innermost kept run is a consecutive
    * index range — then the run's cells sit stride-1 contiguous in the
    * chunk buffer and can be block-copied. Checked once per chunk. */
  protected final def innerRunContiguous: Boolean =
    rank > 0 && dimRuns(rank - 1).runContiguous(runIdxCur(rank - 1))

  /** Consume `count` cells of the current innermost run (caller guarantees
    * count <= innerRemaining). */
  protected final def consumeRun(count: Int): Unit = {
    val last = rank - 1
    pos(last) += count
    if (pos(last) >= sliceLen(last)) {
      pos(last) = sliceLen(last) - 1
      consumeCell() // carries into the outer dims (or ends the chunk)
    }
  }
}

/** The cell reader of every Zarr scan and stream: fills OnHeapColumnVectors
  * batch-by-batch — primitive puts without boxing for every dtype but
  * structured records (one boxed record per cell); the scan feeds
  * whole-stage codegen through Spark's vectorized ColumnarToRow. */
class ZarrColumnarReader(
    arrayDir: String,
    meta: ZarrArrayMeta,
    outDims: Vector[Int],
    required: StructType,
    partition: ZarrInputPartition,
    storageOptions: Map[String, String],
    dimRuns: Vector[DimRuns],
    keptCoords: Map[Int, Coord],
    deferredSpecs: Map[Int, DeferredCoordSpec] = Map.empty,
    batchSize: Int = 4096,
    pruner: Option[ZarrChunkStats.Pruner] = None
) extends ZarrCursor(
      arrayDir, meta, partition, storageOptions, dimRuns,
      required.fieldNames.contains("value"),
      pruner
    )
    with PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val vectors: Array[OnHeapColumnVector] =
    required.fields.map(f => new OnHeapColumnVector(batchSize, f.dataType))
  private val batch = new ColumnarBatch(vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector])
  private val fillValue: Option[Double] = meta.fillValue
  private val dtCode = meta.zdtype.code

  /** One-cell value put, dtype bound ONCE — per-cell loop is monomorphic. */
  private def bindCellPut(vec: OnHeapColumnVector): (ZarrBuffer, Int, Int) => Unit = dtCode match {
    case ZDtype.BOOL => (b, n, flat) => vec.putBoolean(n, b.getBool(flat))
    case ZDtype.I1 => (b, n, flat) => vec.putByte(n, b.getByte(flat))
    case ZDtype.U1 => (b, n, flat) => vec.putShort(n, b.getU1(flat))
    case ZDtype.I2 => (b, n, flat) => vec.putShort(n, b.getShort(flat))
    case ZDtype.U2 => (b, n, flat) => vec.putInt(n, b.getU2(flat))
    case ZDtype.I4 => (b, n, flat) => vec.putInt(n, b.getInt(flat))
    case ZDtype.U4 => (b, n, flat) => vec.putLong(n, b.getU4(flat))
    case ZDtype.I8 => (b, n, flat) => vec.putLong(n, b.getLong(flat))
    case ZDtype.F2 => (b, n, flat) => vec.putFloat(n, b.getHalf(flat))
    case ZDtype.F4 => (b, n, flat) => vec.putFloat(n, b.getFloat(flat))
    case ZDtype.F8 => (b, n, flat) => vec.putDouble(n, b.getDouble(flat))
    case ZDtype.M8 | ZDtype.TD =>
      (b, n, flat) =>
        b.getM8(flat) match {
          case null => vec.putNull(n)
          case us: Long => vec.putLong(n, us) // timestamp/interval vectors are long-backed
        }
    case ZDtype.S | ZDtype.US | ZDtype.VSTR =>
      (b, n, flat) => {
        val s = b.getUTF8(flat)
        if (s == null) vec.putNull(n) else vec.putByteArray(n, s.getBytes)
      }
    case ZDtype.U8 => (b, n, flat) => vec.putDecimal(n, b.getU8Dec(flat), 20)
    case ZDtype.C8 =>
      val re = vec.getChild(0); val im = vec.getChild(1)
      (b, n, flat) => { re.putFloat(n, b.getC8Re(flat)); im.putFloat(n, b.getC8Im(flat)) }
    case ZDtype.C16 =>
      val re = vec.getChild(0); val im = vec.getChild(1)
      (b, n, flat) => { re.putDouble(n, b.getC16Re(flat)); im.putDouble(n, b.getC16Im(flat)) }
    case ZDtype.V =>
      val append = bindStructAppend(vec)
      (b, _, flat) => append(b.getStruct(flat))
    case other => throw new IllegalStateException(s"bad dtype code $other")
  }

  /** Structured cells APPEND, one per row, through Spark's row-to-column
    * converter, which fills the struct vector's field children (nested
    * arrays for shaped fields, nulls for NaT). Rows arrive in rowId order
    * and the batch's reset() rewinds the children too, so appends line up
    * with the rowIds the other columns put at. */
  private def bindStructAppend(vec: OnHeapColumnVector): Any => Unit = {
    val append = GraftExecutionBridge.rowAppender(
      StructType(Seq(StructField("value", vec.dataType))),
      Array[org.apache.spark.sql.execution.vectorized.WritableColumnVector](vec)
    )
    val cell = new GenericInternalRow(1)
    v => { cell.update(0, v); append(cell) }
  }

  /** Missing-chunk fill: (rowId, count) constant put, bound once. */
  private def bindFillPut(vec: OnHeapColumnVector): (Int, Int) => Unit =
    if (ZDtype.isString(dtCode)) {
      meta.fillValueStr match {
        case None => (n, c) => vec.putNulls(n, c)
        case Some(s) =>
          val bts = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (n, c) => { var i = 0; while (i < c) { vec.putByteArray(n + i, bts); i += 1 } }
      }
    } else if (dtCode == ZDtype.V) {
      // the base64-packed fill record, decoded once; no fill = null cells
      val fill = meta.fillValueStr.map { b64 =>
        new ZarrBuffer(java.util.Base64.getDecoder.decode(b64), meta.zdtype).getStruct(0)
      }.orNull
      val append = bindStructAppend(vec)
      (_, c) => { var i = 0; while (i < c) { append(fill); i += 1 } }
    } else bindFillPutNumeric(vec)

  private def bindFillPutNumeric(vec: OnHeapColumnVector): (Int, Int) => Unit = fillValue match {
    case None => (n, c) => vec.putNulls(n, c)
    case Some(fv) =>
      dtCode match {
        case ZDtype.BOOL => (n, c) => vec.putBooleans(n, c, fv != 0.0)
        case ZDtype.I1 => (n, c) => vec.putBytes(n, c, fv.toByte)
        case ZDtype.U1 | ZDtype.I2 => (n, c) => vec.putShorts(n, c, fv.toShort)
        case ZDtype.U2 | ZDtype.I4 => (n, c) => vec.putInts(n, c, fv.toInt)
        case ZDtype.U4 | ZDtype.I8 => (n, c) => vec.putLongs(n, c, fv.toLong)
        case ZDtype.F2 | ZDtype.F4 => (n, c) => vec.putFloats(n, c, fv.toFloat)
        case ZDtype.F8 => (n, c) => vec.putDoubles(n, c, fv)
        case ZDtype.M8 | ZDtype.TD =>
          ZDtype.m8Micros(meta.zdtype, fv.toLong) match {
            case null => (n, c) => vec.putNulls(n, c)
            case us: Long => (n, c) => vec.putLongs(n, c, us)
          }
        case ZDtype.U8 =>
          val dec = ZDtype.box(meta.zdtype, fv).asInstanceOf[org.apache.spark.sql.types.Decimal]
          (n, c) => { var i = 0; while (i < c) { vec.putDecimal(n + i, dec, 20); i += 1 } }
        case ZDtype.C8 =>
          val imV = meta.fillValueIm.getOrElse(0.0).toFloat
          (n, c) => { vec.getChild(0).putFloats(n, c, fv.toFloat); vec.getChild(1).putFloats(n, c, imV) }
        case ZDtype.C16 =>
          val imV = meta.fillValueIm.getOrElse(0.0)
          (n, c) => { vec.getChild(0).putDoubles(n, c, fv); vec.getChild(1).putDoubles(n, c, imV) }
        case other => throw new IllegalStateException(s"bad dtype code $other")
      }
  }

  /** Single boxed-coordinate put, bound by the FIELD's Spark type — serves
    * deferred dims (cursor decode yields boxed Spark-internal values) whose
    * dtype is only known from the coordinate array's metadata. */
  private def bindBoxedPut(vec: OnHeapColumnVector, dt: DataType): (Int, Any) => Unit = dt match {
    case IntegerType => (n, v) => vec.putInt(n, v.asInstanceOf[Int])
    case LongType | TimestampType | _: DayTimeIntervalType => (n, v) => vec.putLong(n, v.asInstanceOf[Long])
    case FloatType => (n, v) => vec.putFloat(n, v.asInstanceOf[Float])
    case DoubleType => (n, v) => vec.putDouble(n, v.asInstanceOf[Double])
    case StringType =>
      (n, v) => vec.putByteArray(n, v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    case d: DecimalType =>
      (n, v) => vec.putDecimal(n, v.asInstanceOf[org.apache.spark.sql.types.Decimal], d.precision)
    case other => throw new IllegalStateException(s"unsupported coordinate type $other")
  }

  /** Constant boxed-coordinate put over a run, bound by field type. */
  private def bindBoxedConstPut(vec: OnHeapColumnVector, dt: DataType): (Int, Int, Any) => Unit =
    dt match {
      case IntegerType => (n, c, v) => vec.putInts(n, c, v.asInstanceOf[Int])
      case LongType | TimestampType | _: DayTimeIntervalType => (n, c, v) => vec.putLongs(n, c, v.asInstanceOf[Long])
      case FloatType => (n, c, v) => vec.putFloats(n, c, v.asInstanceOf[Float])
      case DoubleType => (n, c, v) => vec.putDoubles(n, c, v.asInstanceOf[Double])
      case StringType =>
        (n, c, v) => {
          val bts = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
          var i = 0
          while (i < c) { vec.putByteArray(n + i, bts); i += 1 }
        }
      case d: DecimalType =>
        (n, c, v) => {
          val dec = v.asInstanceOf[org.apache.spark.sql.types.Decimal]
          var i = 0
          while (i < c) { vec.putDecimal(n + i, dec, d.precision); i += 1 }
        }
      case other => throw new IllegalStateException(s"unsupported coordinate type $other")
    }

  // one typed filler per field, bound once — the per-cell loop below is
  // monomorphic primitive puts. Coordinates: eager dims index the
  // kept-aligned typed array, deferred dims decode coordinate chunks
  // through a cursor, index dims are arithmetic (keptCoords deliberately
  // omits the latter two — see Coord.gather).
  private val fillers: Array[Int => Unit] = required.fields.zipWithIndex.map { case (f, fi) =>
    val vec = vectors(fi)
    if (f.name == "value") {
      val cellPut = bindCellPut(vec)
      val fillPut = bindFillPut(vec)
      (n: Int) =>
        buf match {
          case Some(b) => cellPut(b, n, currentLocalFlat)
          case None => fillPut(n, 1)
        }
    } else {
      val d = outDims.find(dd => meta.dims(dd) == f.name).getOrElse(
        throw new IllegalArgumentException(s"unknown field ${f.name}")
      )
      keptCoords.get(d) match {
        case Some(Coord.Ints(a)) => (n: Int) => vec.putInt(n, a(keptPos(d)))
        case Some(Coord.Longs(a)) => (n: Int) => vec.putLong(n, a(keptPos(d)))
        case Some(Coord.Floats(a)) => (n: Int) => vec.putFloat(n, a(keptPos(d)))
        case Some(Coord.Doubles(a)) => (n: Int) => vec.putDouble(n, a(keptPos(d)))
        case Some(Coord.Timestamps(a)) => (n: Int) => vec.putLong(n, a(keptPos(d)))
        case Some(Coord.Strings(a)) => (n: Int) => vec.putByteArray(n, a(keptPos(d)).getBytes)
        case Some(Coord.Intervals(a)) => (n: Int) => vec.putLong(n, a(keptPos(d)))
        case Some(other) =>
          throw new IllegalStateException(s"non-eager coord in keptCoords: $other")
        case None =>
          deferredSpecs.get(d) match {
            case Some(spec) =>
              val cur = new CoordChunkCursor(spec, storageOptions)
              val put = bindBoxedPut(vec, f.dataType)
              (n: Int) => put(n, cur.value(dimRuns(d).keptAt(keptPos(d))))
            case None => // positional fallback: value is the GLOBAL index
              (n: Int) => vec.putLong(n, dimRuns(d).keptAt(keptPos(d)).toLong)
          }
      }
    }
  }

  private val itemSize = meta.zdtype.itemSize
  private val innerDim = rank - 1

  /** Run-level value put: (buffer, rowId, count, flatStart). Little-endian
    * fixed-width types block-copy raw chunk bytes straight into the vector;
    * widened (u1/u2/u4), bool, and big-endian types take a bound-once
    * per-element loop (still batched — no per-cell lambda re-dispatch). */
  private def bindRunPut(vec: OnHeapColumnVector): (ZarrBuffer, Int, Int, Int) => Unit = {
    val le = !meta.zdtype.bigEndian
    dtCode match {
      case ZDtype.I1 => (b, n, c, flat) => vec.putBytes(n, c, b.raw, flat)
      case ZDtype.I2 if le =>
        // putShorts(byte[]) is a native-order copy — all supported platforms
        // are little-endian (the BE dtype spelling routes to the loop below)
        (b, n, c, flat) => vec.putShorts(n, c, b.raw, flat * 2)
      case ZDtype.I4 if le => (b, n, c, flat) => vec.putIntsLittleEndian(n, c, b.raw, flat * 4)
      case ZDtype.I8 if le => (b, n, c, flat) => vec.putLongsLittleEndian(n, c, b.raw, flat * 8)
      case ZDtype.F4 if le => (b, n, c, flat) => vec.putFloatsLittleEndian(n, c, b.raw, flat * 4)
      case ZDtype.F8 if le => (b, n, c, flat) => vec.putDoublesLittleEndian(n, c, b.raw, flat * 8)
      case _ =>
        val cellPut = bindCellPut(vec)
        (b, n, c, flat) => {
          var i = 0
          while (i < c) { cellPut(b, n + i, flat + i); i += 1 }
        }
    }
  }

  // one typed BULK filler per field, bound once: (rowId, count) fills a
  // whole contiguous innermost run — block copy for the value column
  // (raw bytes straight from the decoded chunk), array-slice put
  // for the inner coordinate, constant fill for outer coordinates
  private val bulkFillers: Array[(Int, Int) => Unit] = required.fields.zipWithIndex.map {
    case (f, fi) =>
      val vec = vectors(fi)
      if (f.name == "value") {
        val runPut = bindRunPut(vec)
        val fillPut = bindFillPut(vec)
        (n: Int, c: Int) =>
          buf match {
            case Some(b) => runPut(b, n, c, currentLocalFlat)
            case None => fillPut(n, c)
          }
      } else {
        val d = outDims.find(dd => meta.dims(dd) == f.name).getOrElse(
          throw new IllegalArgumentException(s"unknown field ${f.name}")
        )
        if (d == innerDim) {
          keptCoords.get(d) match {
            case Some(Coord.Ints(a)) => (n: Int, c: Int) => vec.putInts(n, c, a, keptPos(d))
            case Some(Coord.Longs(a)) => (n: Int, c: Int) => vec.putLongs(n, c, a, keptPos(d))
            case Some(Coord.Floats(a)) => (n: Int, c: Int) => vec.putFloats(n, c, a, keptPos(d))
            case Some(Coord.Doubles(a)) => (n: Int, c: Int) => vec.putDoubles(n, c, a, keptPos(d))
            case Some(Coord.Timestamps(a)) => (n: Int, c: Int) => vec.putLongs(n, c, a, keptPos(d))
            case Some(Coord.Intervals(a)) => (n: Int, c: Int) => vec.putLongs(n, c, a, keptPos(d))
            case Some(Coord.Strings(a)) =>
              (n: Int, c: Int) => {
                var i = 0
                while (i < c) { vec.putByteArray(n + i, a(keptPos(d) + i).getBytes); i += 1 }
              }
            case Some(other) =>
              throw new IllegalStateException(s"non-eager coord in keptCoords: $other")
            case None =>
              deferredSpecs.get(d) match {
                case Some(spec) =>
                  // inner-run cells are consecutive global indices, so the
                  // cursor's one-chunk cache decodes each coord chunk once
                  val cur = new CoordChunkCursor(spec, storageOptions)
                  val put = bindBoxedPut(vec, f.dataType)
                  (n: Int, c: Int) => {
                    var i = 0
                    while (i < c) {
                      put(n + i, cur.value(dimRuns(d).keptAt(keptPos(d) + i)))
                      i += 1
                    }
                  }
                case None =>
                  (n: Int, c: Int) => {
                    var i = 0
                    while (i < c) {
                      vec.putLong(n + i, dimRuns(d).keptAt(keptPos(d) + i).toLong)
                      i += 1
                    }
                  }
              }
          }
        } else {
          // constant across the innermost run — evaluate at call time
          keptCoords.get(d) match {
            case Some(Coord.Ints(a)) => (n: Int, c: Int) => vec.putInts(n, c, a(keptPos(d)))
            case Some(Coord.Longs(a)) => (n: Int, c: Int) => vec.putLongs(n, c, a(keptPos(d)))
            case Some(Coord.Floats(a)) => (n: Int, c: Int) => vec.putFloats(n, c, a(keptPos(d)))
            case Some(Coord.Doubles(a)) => (n: Int, c: Int) => vec.putDoubles(n, c, a(keptPos(d)))
            case Some(Coord.Timestamps(a)) => (n: Int, c: Int) => vec.putLongs(n, c, a(keptPos(d)))
            case Some(Coord.Intervals(a)) => (n: Int, c: Int) => vec.putLongs(n, c, a(keptPos(d)))
            case Some(Coord.Strings(a)) =>
              (n: Int, c: Int) => {
                val bts = a(keptPos(d)).getBytes
                var i = 0
                while (i < c) { vec.putByteArray(n + i, bts); i += 1 }
              }
            case Some(other) =>
              throw new IllegalStateException(s"non-eager coord in keptCoords: $other")
            case None =>
              deferredSpecs.get(d) match {
                case Some(spec) =>
                  val cur = new CoordChunkCursor(spec, storageOptions)
                  val put = bindBoxedConstPut(vec, f.dataType)
                  (n: Int, c: Int) => put(n, c, cur.value(dimRuns(d).keptAt(keptPos(d))))
                case None =>
                  (n: Int, c: Int) => vec.putLongs(n, c, dimRuns(d).keptAt(keptPos(d)).toLong)
              }
          }
        }
      }
  }

  // inner-run contiguity is a per-chunk property; cache it per chunkGen
  private var contigGen = -1L
  private var contigNow = false
  private def contiguous: Boolean = {
    if (contigGen != chunkGen) { contigNow = innerRunContiguous; contigGen = chunkGen }
    contigNow
  }

  override def next(): Boolean = {
    vectors.foreach(_.reset())
    var n = 0
    while (n < batchSize && nextCell()) {
      val remaining = innerRemaining
      if (rank > 0 && remaining > 1 && contiguous) {
        val take = math.min(remaining, batchSize - n)
        var fi = 0
        while (fi < bulkFillers.length) { bulkFillers(fi)(n, take); fi += 1 }
        consumeRun(take)
        n += take
      } else {
        var fi = 0
        while (fi < fillers.length) { fillers(fi)(n); fi += 1 }
        consumeCell()
        n += 1
      }
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    ZarrScanMetrics.values(chunksRead)

  override def close(): Unit = batch.close()
}
