package graft.sources.zarr

import graft.model.IndexMath
import graft.sources.Coord

import java.nio.{ByteBuffer, ByteOrder}

import graft.functions.{AxisTable, BoundedCollectSet}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

/** APPEND writes along the leading dimension of an EXISTING array —
  * `df.write.format("zarr").option("append.dim", "time")` — the write-side
  * complement of the streaming source (`stream.dim`): one job appends
  * slabs, another streams them, each cell seen exactly once.
  *
  * Contract (every violation rejects loudly before any byte lands):
  *  - zarr v2 or v3 (incl. v3 sharding_indexed: the extent must sit on a
  *    SHARD boundary and each slab lands as whole new shard objects — one
  *    PUT each, never read-modify-write — unless `append.realign=true`
  *    absorbs a mid-shard tail by rewriting the tail-row objects merged
  *    with the batch, one RMW PUT each, everything else still
  *    append-only; the shard index honors the store's declared
  *    index_location / index_codecs / endianness); no
  *    numcodecs filters / array→array codecs; numeric or vlen-utf8 string
  *    values. v2 commits metadata in
  *    three ordered writes (stats attrs → shape → batch id, see below);
  *    v3 keeps all three in ONE zarr.json, so the commit is a single
  *    write (one PUT on an object store) after which the slab, its
  *    stats, and the batch id become visible together;
  *  - the append dim is the array's FIRST dim (C-order: existing chunk
  *    files and existing chunk-stats ordinals stay valid — appending an
  *    outer slab only ADDS chunk objects);
  *  - the current extent sits on a chunk boundary (size batches to the
  *    chunk; partial-chunk read-modify-write is exactly the mutable-object
  *    pattern zarr stores avoid);
  *  - non-append dims must carry exactly the store's existing axis values
  *    (in any axis order — descending latitude too; an axis holding one
  *    value twice is refused). Eager axes map rows to ordinals through an
  *    [[graft.functions.AxisOrdinal]] lookup (Spark's equi-join semantics:
  *    `-0.0` matches `0.0`, NaN matches NaN), so one pre-write aggregate
  *    counts the rows no axis maps while it gathers the new append-dim
  *    values; DEFERRED axes (10M+ values) become distributed (value,
  *    ordinal) maps decoded from the coordinate chunks by executors and
  *    shuffle-joined — no such axis ever rides the driver — and only then
  *    is the joined frame persisted and counted against the input; the
  *    APPEND dim itself may also be deferred: the
  *    strictly-after check boundary-decodes one coordinate chunk and the
  *    commit appends tail chunks to the coordinate array in place —
  *    O(batch + 1 chunk), never the whole axis;
  *  - new append-dim coordinate values must sort strictly AFTER the
  *    existing axis (time moves forward), keeping the axis sorted so
  *    deferred-axis pruning stays ≤ 2 boundary decodes;
  *  - `append.batch_id=<long>` makes replays idempotent: a batch id at or
  *    below the recorded one is a no-op (the foreachBatch streaming-sink
  *    pattern). Metadata commit order is stats, then shape, then the batch
  *    id — the id is recorded only once the slab is VISIBLE, so a crash in
  *    any window makes the replay either a clean rewrite or a loud
  *    strictly-after violation, never a silently dropped batch;
  *  - a write job that FAILS (an IO error, or an input that is not
  *    deterministic: a row whose ordinal turns null between the pre-write
  *    aggregate and the write, or a categorize label outside the set, fails
  *    its task) commits no metadata, so any objects it left lie only past
  *    the committed extent, invisible to readers. A later append of the
  *    same slab first deletes every object in the slab's leading-dim rows
  *    (one listing per row for '/'-separated keys; for dot-separated ones
  *    a delete by key of every object slot in those rows), and under
  *    `append.realign` rewrites every
  *    existing tail-row object, copying only the chunks before the old
  *    extent — so nothing a failed batch wrote becomes readable, also where
  *    the new batch has no cells.
  *
  * The cells cross the write job's one shuffle as packed per-chunk
  * fragments keyed by shard (the chunk when unsharded), exactly as in
  * [[ZarrSink]] ([[ZarrFragments]]): the per-row checks (null ordinal,
  * value put) run in the map tasks, and each reduce task prefills one chunk
  * at a time, overlays its fragments and hands it to the [[ZarrChunkWriter]]
  * built from the grown array's meta — the sink's writer, so an appended
  * object is encoded, keyed and (for shards) indexed as the store declares.
  * The in-place coordinate tail goes through the same writer.
  *
  * Chunk statistics survive the append in every layout: flat docs merge
  * the new chunks' bounds under the grown grid; a grid growing past the
  * flat cap upgrades flat -> HIERARCHICAL (side docs for every block,
  * rollup attrs); a hierarchical store rewrites at most the one
  * boundary-straddling block's side doc and widens the touched rollups —
  * fully-old blocks keep their side docs, which stay exact because
  * leading-dim appends never rewrite existing ordinals. A store without
  * stats stays without (absence may be deliberate); a grid growing past
  * flat_cap x block_len drops them (the sink's own ceiling).
  */
object ZarrAppend {

  val BatchAttrKey = "graft:append_batch"

  /** Appends `input`'s slab and returns the grown meta its objects were
    * written under, bar the attributes (the store's meta unchanged, for a
    * replayed batch). */
  def append(input: DataFrame, rawOptions: Map[String, String]): ZarrArrayMeta = {
    val df = ZarrSink.unsorted(input)
    val opts = rawOptions.map { case (k, v) => k.toLowerCase -> v }
    val path = opts("path")
    val array = opts("array")
    val group = opts.get("group")
    val storageOptions = opts.collect { case (k, v) if k.startsWith("storage.") => k.drop("storage.".length) -> v }
    val appendDim = opts("append.dim")
    val batchId = opts.get("append.batch_id").map(_.toLong)
    val spark = df.sparkSession

    // fresh, UNconsolidated metadata — appends must see the live shape
    val store = new ZarrStore(path, storageOptions, group, Some(false))
    val meta = store.arrayMeta(array)
    // numcodecs-filtered VALUE arrays append when every filter has a write
    // path (append slabs are whole chunks, and filters are per-chunk, so
    // the encode fold is exactly the fixture writer's). String arrays:
    // exactly ONE categorize filter appends too — label codes are
    // per-chunk encodes as long as every appended value is IN the declared
    // label set (unknown labels encode 0 and decode '', silent loss — the
    // in-vocabulary precheck below refuses first). Other/stacked string
    // filters still refuse.
    val strCategorize: Option[String] =
      if (ZDtype.isString(meta.zdtype.code)) meta.filters match {
        case Seq() => None
        case Seq(cfg) if ZarrFilters.idOf(cfg) == "categorize" => Some(cfg)
        case other =>
          throw new IllegalArgumentException(
            "zarr append: filtered string value arrays support exactly one categorize filter " +
              s"(got: ${other.map(ZarrFilters.idOf).mkString(", ")})"
          )
      } else {
        meta.filters.foreach { cfg =>
          val id = ZarrFilters.idOf(cfg)
          require(
            Set("delta", "quantize", "bitround", "fixedscaleoffset", "packbits")(id),
            s"zarr append: numcodecs filter '$id' has no write path " +
              "(writable: delta, quantize, bitround, fixedscaleoffset, packbits)"
          )
          // id allowlist is not enough: encode preconditions (delta's
          // same-type rule, fso/quantize/bitround dtype + params) must
          // reject HERE, before the distributed write, not mid-job in an
          // executor after slab chunks have landed
          ZarrFilters.validateWritable(cfg, meta.zdtype)
        }
        None
      }
    strCategorize.foreach { _ =>
      require(
        meta.shardShape.isEmpty,
        "zarr append: categorize-filtered SHARDED string arrays unsupported"
      )
    }
    require(
      meta.dims.headOption.contains(appendDim),
      s"append.dim '$appendDim' must be the FIRST dimension of '${array}' (dims ${meta.dims.mkString(",")}) — " +
        "outer-slab appends keep every existing chunk object and stats ordinal valid"
    )
    val strValue = meta.zdtype.code == ZDtype.VSTR
    require(
      strValue || ZarrChunkStats.domainOf(meta.zdtype).exists(d => d == "int" || d == "float") ||
        meta.zdtype.code == ZDtype.F2,
      s"zarr append supports numeric and vlen-utf8 string values, not dtype '${meta.dtype}'"
    )

    // idempotent replay
    val priorBatch: Option[Long] =
      meta.attrs.get(BatchAttrKey).flatMap(s => scala.util.Try(s.trim.toLong).toOption)
    if (batchId.exists(id => priorBatch.exists(id <= _))) return meta

    val extent = meta.shape.head
    val chunk0 = meta.chunks.head
    require(
      extent % chunk0 == 0,
      s"zarr append requires the current extent ($extent) on a chunk boundary (chunk $chunk0) — size batches to the chunk"
    )
    // sharded (v3-only): appends add whole new SHARD objects — the extent
    // must sit on a shard boundary so no existing object is ever rewritten
    // (a batch may end mid-shard, leaving a valid partial tail shard whose
    // absent inner chunks index as missing; the NEXT append then refuses
    // unless `append.realign=true` absorbs the tail: the one shard row
    // holding the old extent is re-read and REWRITTEN merged with the new
    // batch — a single read-modify-write PUT per tail-row object, every
    // other object still append-only)
    val realign = opts.get("append.realign").exists(_.toBoolean)
    meta.shardShape.foreach { sh =>
      require(
        extent % sh.head == 0 || realign,
        s"zarr append on a sharded array requires the current extent ($extent) on a SHARD boundary " +
          s"(shard ${sh.head}). A mid-shard tail (e.g. a final batch that ended early) is absorbed by " +
          "passing option append.realign=true: the partial tail shard object is re-read and rewritten " +
          "merged with this batch (one read-modify-write PUT of that object only)"
      )
    }
    require(df.columns.contains("value"), "zarr append requires a 'value' column")
    meta.dims.foreach(d => require(df.columns.contains(d), s"zarr append: missing dimension column '$d'"))
    // fail BEFORE the distributed job, not mid-write in putCell
    require(
      (strValue && df.schema("value").dataType == org.apache.spark.sql.types.StringType) ||
        (!strValue && df.schema("value").dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]) ||
        (!strValue && Seq(
          org.apache.spark.sql.types.BooleanType,
          org.apache.spark.sql.types.TimestampType,
          org.apache.spark.sql.types.DateType
        ).contains(df.schema("value").dataType)),
      s"zarr append: value column type ${df.schema("value").dataType} does not fit store dtype '${meta.dtype}'"
    )

    // ---- existing axes. Any dim may be deferred (10M+ values). The
    // APPEND dim: the strictly-after check boundary-decodes the axis tail
    // (1 chunk read) and the commit appends tail chunks to the coordinate
    // array instead of rewriting it. NON-append dims: executors decode the
    // coordinate chunks into a distributed (value, ordinal) map and the
    // row->index join shuffles — no deferred axis ever materializes on the
    // driver.
    val deferredThreshold =
      opts.get("coord.deferred.threshold").map(_.toInt).getOrElse(10000000)
    val coords: Vector[Coord] =
      meta.dims.zipWithIndex.map { case (d, i) => store.coordFor(d, meta.shape(i), deferredThreshold) }

    // ---- row -> global index mapping. Eager NON-append axes become
    // AxisOrdinal lookup tables (one generated-code binary search per row,
    // null off the axis — no join, no broadcast); DEFERRED ones stay
    // distributed (value, ordinal) maps decoded by executors and
    // shuffle-joined. The append dim's table is built below from the
    // batch's own new values.
    val rank = meta.rank
    var mapped = df
    (1 until rank).foreach { di =>
      val d = meta.dims(di)
      val dt = df.schema(d).dataType
      coords(di) match {
        case _: Coord.Deferred =>
          val idxDf = deferredOrdinalMap(spark, store, d, meta.shape(di), dt, di, storageOptions)
          mapped = mapped.join(idxDf, mapped(d) === idxDf("__v")).drop("__v")
        case c =>
          require(c.length == meta.shape(di), s"axis '$d' length ${c.length} != shape ${meta.shape(di)}")
          require(
            AxisTable.sameDomain(dt, c.dataType),
            s"zarr append: dimension column '$d' is ${dt.simpleString} but the store's axis is ${c.dataType.simpleString}"
          )
          val table = AxisTable(dt, Array.tabulate[Any](c.length)(c(_)), s"zarr append: axis '$d'")
          mapped = mapped.withColumn(s"__i$di", ZarrSink.ordinalColumn(d, table, 0L))
      }
    }
    // a deferred join DROPS rows whose value the axis lacks instead of
    // nulling their ordinal: persist the joined rows so the rows counted
    // are the rows written, and compare with the input's count
    val joined = (1 until rank).exists(di => coords(di).isInstanceOf[Coord.Deferred])
    if (joined) mapped = mapped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- ONE pre-write aggregate: the batch's new append-dim values
    // (bounded at 1e6), the rows no axis maps (a null append-dim value or a
    // null ordinal on a non-append dim), the mapped row count when a
    // deferred join may have dropped rows, and for categorize-filtered
    // strings the greatest value outside the declared labels
    val offAxis = (col(appendDim).isNull +: (1 until rank).map(di => col(s"__i$di").isNull)).reduce(_ || _)
    val labels = strCategorize.map(ZarrFilters.categorizeLabels)
    val aggCols = Seq(
      GraftBridge.column(
        BoundedCollectSet(GraftBridge.expression(col(appendDim)), 1000000, failOnOverflow = false)
          .toAggregateExpression()
      ),
      count(when(offAxis, 1))
    ) ++ (if (joined) Seq(count(lit(1))) else Nil) ++ labels.map { ls =>
      val v = col("value")
      max(when(v.isNotNull && v =!= "" && !v.isin(ls.toSeq: _*), v))
    }
    val agg = mapped.agg(aggCols.head, aggCols.tail: _*).head()

    // ---- new append-dim values: distinct, sorted, strictly after the axis
    require(!agg.isNullAt(0), "zarr append: > 1e6 new append-dim values in one batch")
    val newValsRaw = agg.getSeq[Any](0).toArray
    require(newValsRaw.nonEmpty, "zarr append: empty batch")
    val ord = ZarrSink.externalOrdering(df.schema(appendDim).dataType)
    val newVals = newValsRaw.sorted(ord)
    coords.head match {
      case Coord.Index(_) =>
        // positional axis: new "values" must be exactly the next indices
        val expected = (extent.toLong until extent.toLong + newVals.length).toVector
        val got = newVals.toVector.map {
          case l: Long => l
          case i: Int => i.toLong
          case other => throw new IllegalArgumentException(s"positional append dim got $other")
        }
        require(got == expected, s"positional append dim must continue at $extent (got ${got.take(3).mkString(",")}...)")
      case _: Coord.Deferred =>
        // boundary decode: ONE coordinate chunk read gives the axis end
        val lastExt = deferredTailValue(store, appendDim, extent, storageOptions)
        require(
          ord.compare(newVals.head, lastExt) > 0,
          s"zarr append: new $appendDim values must sort strictly after the existing axis end ($lastExt)"
        )
        // width/range precheck for exact-cell coord dtypes: an oversize
        // |S/<U label or out-of-range uint64 must reject HERE, before any
        // value byte lands — not mid-commit in appendCoordTail
        val cmPre = store.arrayMeta(appendDim)
        if (Set(ZDtype.S, ZDtype.US, ZDtype.U8)(cmPre.zdtype.code)) {
          val scratch = ByteBuffer
            .allocate(math.max(cmPre.zdtype.itemSize, 8))
            .order(ByteOrder.LITTLE_ENDIAN)
          newVals.foreach {
            case s: String => ZDtype.putFixedString(cmPre.zdtype, scratch, 0, s)
            case bd: java.math.BigDecimal => ZDtype.putUnsigned64(cmPre.zdtype, scratch, 0, bd)
            case _ => ()
          }
        }
      case c =>
        val last = c(extent - 1)
        require(
          ord.compare(newVals.head, externalOf(c, last)) > 0,
          s"zarr append: new $appendDim values must sort strictly after the existing axis end"
        )
    }
    val k = newVals.length
    val newExtent = extent + k
    // non-append dim values the store's axes lack would be nulled (eager
    // tables) or dropped (deferred joins): reject before any byte lands
    val unmapped = agg.getLong(1) + (if (joined) df.count() - agg.getLong(2) else 0L)
    require(
      unmapped == 0L,
      s"zarr append: $unmapped rows carry dimension values the store's axes do not have"
    )
    val indexed = mapped.withColumn(
      "__i0",
      ZarrSink.ordinalColumn(
        appendDim,
        AxisTable(
          df.schema(appendDim).dataType,
          newVals.map(CatalystTypeConverters.convertToCatalyst),
          s"zarr append: axis '$appendDim'"
        ),
        extent.toLong
      )
    )

    val newShape = meta.shape.updated(0, newExtent)
    val chunks = meta.chunks
    val nChunksVec = newShape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    val gridStrides = IndexMath.strides(nChunksVec)
    val chunkStrides = IndexMath.strides(chunks)
    val chunkExpr = (0 until rank)
      .map(di => expr(s"__i$di div ${chunks(di)}") * lit(gridStrides(di)))
      .reduce(_ + _)
    val localExpr = (0 until rank)
      .map(di => (col(s"__i$di") % lit(chunks(di))) * lit(chunkStrides(di)))
      .reduce(_ + _)
    val fillStr = meta.fillValueStr.getOrElse("")
    // categorize in-vocabulary check: every appended value (and the fill
    // landing in padded cells) must be a declared label or '' — an unknown
    // label would encode 0 and decode '', i.e. silent data loss. The write
    // tasks encode strictly too, so a nondeterministic input that turns up
    // a new label after this check fails its task instead of losing it.
    strCategorize.foreach { cfg =>
      require(
        fillStr.isEmpty || labels.get.contains(fillStr),
        s"zarr append: string fill value '$fillStr' is not in the categorize labels — " +
          "padded cells would decode as ''"
      )
      val bad = agg.getAs[String](agg.length - 1)
      require(
        bad == null,
        s"zarr append: value '$bad' is not in the " +
          "categorize labels — unknown labels encode 0 and decode '' (silent loss); " +
          "extend the store's label set first"
      )
    }
    val dt = meta.zdtype
    val arrayDirStr = store.arrayDir(array)
    val statsDomain = ZarrChunkStats.domainOf(dt)
    val rawStatsAttr = meta.attrs.get(ZarrChunkStats.AttrKey)
    val existingFlatStats =
      rawStatsAttr.flatMap(ZarrChunkStats.parse).filter(d => statsDomain.contains(d.domain))
    val existingHierStats =
      rawStatsAttr.flatMap(ZarrChunkStats.parseHier).filter(h => statsDomain.contains(h.domain))
    val statsFlatCap =
      opts.get("stats.flat_cap").map(_.toLong).getOrElse(ZarrChunkStats.FlatCap)
    // an existing hier layout fixes the block length; otherwise the option
    // (or default) decides the flat->hier upgrade geometry
    val statsBlockLen = existingHierStats
      .map(_.blockLen)
      .getOrElse(
        opts.get("stats.block_len").map(_.toLong).getOrElse(ZarrChunkStats.DefaultBlockLen)
      )
    val grownTotalChunks = nChunksVec.map(_.toLong).product
    val oldTotalChunks =
      (extent.toLong / chunk0) * nChunksVec.drop(1).map(_.toLong).product
    // stats survive the append when the store already has same-domain
    // stats, the grown grid fits the two-level ceiling, and the batch's
    // own chunk records stay driver-collectable (flat-cap bound). A lossy
    // v2 filter (quantize/bitround/fixedscaleoffset) disqualifies: bounds
    // taken from raw pre-filter values can be narrower than the decoded
    // values, so a zonemap-pruned scan would silently drop matching rows
    // — the sink never writes stats+lossy together, but an
    // externally-authored store with graft stats attrs can arrive here
    val lossyFiltered = !meta.v3 && meta.filters.exists(ZarrFilters.isLossy)
    val statsOn = (existingFlatStats.isDefined || existingHierStats.isDefined) &&
      !lossyFiltered &&
      grownTotalChunks <= statsFlatCap * statsBlockLen &&
      grownTotalChunks - oldTotalChunks <= statsFlatCap
    // a store that HAD stats loses them here: record why in the attrs so
    // the scan can warn instead of silently losing pruning. A marker left
    // by an earlier drop carries forward (later appends see no stats and
    // must not erase the record of why).
    val statsDroppedJson: Option[String] =
      if (statsOn) None
      else if (existingFlatStats.isDefined || existingHierStats.isDefined)
        Some(
          if (lossyFiltered)
            ZarrChunkStats.droppedJson(grownTotalChunks, 0L, "lossy_filter")
          else if (grownTotalChunks > statsFlatCap * statsBlockLen)
            ZarrChunkStats.droppedJson(grownTotalChunks, statsFlatCap * statsBlockLen, "ceiling")
          else
            ZarrChunkStats.droppedJson(grownTotalChunks - oldTotalChunks, statsFlatCap, "batch_flat_cap")
        )
      else meta.attrs.get(ZarrChunkStats.DroppedAttrKey)
    // ---- the data job: cells travel as packed per-chunk fragments
    // (ZarrFragments), one shuffle keyed by shard (by chunk when unsharded),
    // to the grown array's ZarrChunkWriter. A sharded array's objects are
    // whole shards: the extent sits on a shard boundary, or under realign
    // the shard row holding it is rewritten, its objects' chunks before the
    // old extent copied byte for byte (their bounds records are already in
    // the stats doc).
    // attributes (a flat stats doc can run to megabytes) stay off the
    // writer every task deserializes
    val target = meta.copy(shape = newShape, attrs = Map.empty)
    val objectRow = meta.shardShape.fold(chunk0)(_.head)
    val objectGrid = meta.shardShape.fold(nChunksVec)(_.zip(newShape).map { case (c, s) => (s + c - 1) / c })
    val writer = new ZarrChunkWriter(
      target, arrayDirStr, ZarrFileIO.executorOptions(storageOptions), stats = statsOn, keptRows = extent / chunk0
    )
    clearRows(meta, arrayDirStr, (extent + objectRow - 1) / objectRow, newExtent, objectRow, objectGrid, storageOptions)
    // realign: EVERY existing object of the tail row is rewritten, also one
    // the batch has no cells in, so chunks a failed attempt left in it past
    // the old extent are dropped, never made readable
    val tailRow = extent / objectRow
    val tailObjects: Seq[Long] =
      if (extent % objectRow == 0) Nil
      else {
        val strides = IndexMath.strides(objectGrid)
        rowKeys(meta, new HPath(arrayDirStr), tailRow to tailRow, objectGrid, storageOptions).flatMap { k =>
          val idx = (if (meta.keyEncoding == "default") k.stripPrefix("c" + meta.keySeparator) else k)
            .split(java.util.regex.Pattern.quote(meta.keySeparator))
            .flatMap(_.toIntOption)
          if (idx.length != rank || idx.indices.exists(d => idx(d) >= objectGrid(d))) None
          else Some(IndexMath.flatten(idx, strides))
        }
      }
    val parts = math.max(
      1L,
      math.min(spark.sessionState.conf.numShufflePartitions.toLong, nChunksVec.map(_.toLong).product)
    ).toInt
    val prepared = indexed.select(chunkExpr.as("__chunk"), localExpr.as("__local"), col("value").as("__value"))
    val cellPut = new ZarrSink.CellPut(df.schema("value").dataType, dt, rCheck = false, 0L, 0L, meta.dtype)
    val statsRows: Array[ZarrSink.ChunkBounds] = ZarrFragments
      .shuffle(prepared, writer.layout, cellPut, parts, "zarr append", touch = tailObjects)
      .mapPartitions(writer.writeFragments)
      .collect()
    if (joined) mapped.unpersist(blocking = false)

    // ---- metadata commit: coord array, then attrs (stats, WITHOUT the
    // batch id), then SHAPE, then attrs again WITH the batch id, then the
    // consolidated snapshot. The batch id lands strictly AFTER the shape
    // write: a crash in between leaves the slab visible but the batch
    // unrecorded, so a replay fails LOUDLY (new values no longer strictly
    // after the axis end) instead of silently dropping the batch — the
    // failure mode of the reverse order, where a recorded-but-invisible
    // batch replays as a no-op and the data is gone.
    coords.head match {
      case Coord.Index(_) => () // positional: nothing stored
      case _: Coord.Deferred =>
        // extend the coordinate array IN PLACE: rewrite at most the one
        // partial tail chunk (read-modify-write), append whole new
        // chunks, bump the coord .zarray shape — never the whole axis
        appendCoordTail(store, appendDim, extent, newVals, storageOptions)
      case c =>
        val existingExternal = Array.tabulate[Any](extent)(i => externalOf(c, c(i)))
        // v3: the coordinate array's own codec chain; v2: the value array's compressor
        ZarrSink.writeCoordArray(
          store.groupDir,
          appendDim,
          existingExternal ++ newVals,
          df.schema(appendDim).dataType,
          meta.v3,
          meta.compressor,
          if (meta.v3) store.arrayMeta(appendDim).v3Codecs else Nil,
          storageOptions
        )
    }
    // ---- stats maintenance across the append. Side docs land BEFORE the
    // attrs that reference them (a missing side doc only degrades fine
    // pruning to the block rollup). Three transitions:
    //   flat -> flat   merged per-chunk doc in the attrs (grown grid)
    //   flat -> hier   the grown grid crosses the flat cap: side docs for
    //                  every block (old entries from the flat attrs, new
    //                  from this batch), rollups, hier attrs
    //   hier -> hier   rewrite at most the ONE boundary-straddling block's
    //                  side doc (read-modify-write; fully-old blocks keep
    //                  their still-exact docs — the pruner accepts stale
    //                  nChunks for blocks the old grid fully covered), add
    //                  side docs for new blocks, widen those blocks'
    //                  rollups + written counts
    val statsAttrJson: Option[String] =
      if (!statsOn) None
      else {
        val domain = statsDomain.get
        val newDoc = ZarrChunkStats.docOfBounds(domain, grownTotalChunks, statsRows)
        if (existingHierStats.isEmpty && grownTotalChunks <= statsFlatCap) {
          existingFlatStats.map(d =>
            ZarrChunkStats.toJson(ZarrChunkStats.mergeFlat(d, newDoc, grownTotalChunks))
          )
        } else {
          val blockLen = statsBlockLen
          val nBlocksNew = (grownTotalChunks + blockLen - 1) / blockLen
          val newBlocks: Set[Long] = statsRows.map(_.ord / blockLen).toSet
          // the one block straddling the old grid end (if any): its side
          // doc must be rewritten with the grown nChunks even when the
          // batch wrote nothing in it, or the pruner rejects it as stale
          val boundaryBlock: Option[Long] =
            if (oldTotalChunks % blockLen == 0) None else Some(oldTotalChunks / blockLen)
          val oldBlocks: Set[Long] = existingHierStats match {
            case Some(_) => boundaryBlock.toSet
            case None => (0L until (oldTotalChunks + blockLen - 1) / blockLen).toSet
          }
          val baseHier: ZarrChunkStats.Hier = existingHierStats.getOrElse(
            ZarrChunkStats.Hier(
              domain,
              grownTotalChunks,
              blockLen,
              Map.empty,
              ZarrChunkStats.Doc(domain, 0)
            )
          )
          var written = baseHier.written
          var rollRecs = Map.empty[Long, ZarrSink.ChunkBounds]
          (newBlocks ++ oldBlocks).toSeq.sorted.foreach { b =>
            val newSub = ZarrChunkStats.blockSlice(newDoc, b, blockLen, grownTotalChunks)
            val oldSideDoc: Option[ZarrChunkStats.Doc] = existingHierStats match {
              case Some(_) if oldBlocks.contains(b) =>
                ZarrFileIO
                  .readStringIfExists(
                    new HPath(arrayDirStr, s"${ZarrChunkStats.SideDir}/$b"),
                    storageOptions
                  )
                  .flatMap(ZarrChunkStats.parse)
                  .filter(_.domain == domain)
              case None =>
                Some(
                  ZarrChunkStats.blockSlice(existingFlatStats.get, b, blockLen, grownTotalChunks)
                )
              case _ => Some(ZarrChunkStats.Doc(domain, grownTotalChunks)) // purely-new block
            }
            oldSideDoc match {
              case Some(oldSub) =>
                val merged = ZarrChunkStats.mergeFlat(oldSub, newSub, grownTotalChunks)
                ZarrFileIO.writeString(
                  new HPath(arrayDirStr, s"${ZarrChunkStats.SideDir}/$b"),
                  storageOptions,
                  ZarrChunkStats.toJson(merged)
                )
                written = written.updated(b, merged.written.toLong)
                rollRecs += b -> ZarrChunkStats.rollupRecord(b, merged)
              case None =>
                // boundary block with written old chunks but no readable
                // side doc: per-chunk entries are unrecoverable — do NOT
                // write a doc claiming completeness (absent old ordinals
                // would read as "never written"). Keep the coarse level
                // sound instead: widen the old rollup with the new bounds
                // and add the new written count.
                written = written.updated(b, baseHier.written.getOrElse(b, 0L) + newSub.written)
                val newRec = ZarrChunkStats.rollupRecord(b, newSub)
                rollRecs += b -> ZarrChunkStats
                  .entryRecord(baseHier.rollup, b)
                  .map(old => ZarrChunkStats.widen(old, newRec, domain))
                  .getOrElse(newRec)
            }
          }
          val mergedRoll = ZarrChunkStats.mergeFlat(
            baseHier.rollup,
            ZarrChunkStats.docOfBounds(domain, nBlocksNew, rollRecs.values),
            nBlocksNew
          )
          Some(
            ZarrChunkStats.toJsonHier(
              ZarrChunkStats.Hier(domain, grownTotalChunks, blockLen, written, mergedRoll)
            )
          )
        }
      }
    val baseAttrs: Map[String, String] =
      meta.attrs -- Seq(ZarrChunkStats.AttrKey, ZarrChunkStats.DroppedAttrKey, "_ARRAY_DIMENSIONS") ++
        statsAttrJson.map(j => ZarrChunkStats.AttrKey -> j) ++
        statsDroppedJson.map(j => ZarrChunkStats.DroppedAttrKey -> j)
    if (meta.v3) {
      // v3 keeps shape, attributes (stats + batch id), and everything else
      // in ONE zarr.json — a single write makes the slab, its stats, and
      // the batch id visible together; a crash before it leaves the old
      // metadata intact and the replay is clean
      val raw = ZarrFileIO
        .readStringIfExists(new HPath(arrayDirStr, "zarr.json"), storageOptions)
        .getOrElse(throw new IllegalStateException(s"zarr append: missing zarr.json under $arrayDirStr"))
      val finalAttrs =
        batchId.foldLeft(baseAttrs)((m, id) => (m - BatchAttrKey) + (BatchAttrKey -> id.toString))
      ZarrFileIO.writeString(
        new HPath(arrayDirStr, "zarr.json"),
        storageOptions,
        v3MetaWithShapeAttrs(raw, newShape, finalAttrs)
      )
      ZarrSink.consolidateV3(store.groupDir, storageOptions)
    } else {
      // stats first, PRIOR batch id retained: safe before the shape grows —
      // appends are leading-dim only, so existing chunk ordinals are
      // unchanged and the extra tail entries are never consulted under the
      // old shape
      ZarrFileIO.writeString(
        new HPath(arrayDirStr, ".zattrs"),
        storageOptions,
        ZarrStoreWriter.zattrsJson(Some(meta.dims), baseAttrs)
      )
      // shape: the visibility point — an interrupted append before this
      // leaves the new slab invisible and the batch unrecorded (clean retry)
      val zarrayRaw = ZarrFileIO
        .readStringIfExists(new HPath(arrayDirStr, ".zarray"), storageOptions)
        .getOrElse(throw new IllegalStateException(s"zarr append: missing .zarray under $arrayDirStr"))
      val updated = zarrayRaw.replaceFirst(
        """"shape"\s*:\s*\[[0-9,\s]*\]""",
        s""""shape": [${newShape.mkString(",")}]"""
      )
      require(updated != zarrayRaw, "zarr append: could not rewrite .zarray shape")
      ZarrFileIO.writeString(new HPath(arrayDirStr, ".zarray"), storageOptions, updated)
      // batch id LAST: recorded only once the slab is visible
      batchId.foreach { id =>
        ZarrFileIO.writeString(
          new HPath(arrayDirStr, ".zattrs"),
          storageOptions,
          ZarrStoreWriter.zattrsJson(Some(meta.dims), (baseAttrs - BatchAttrKey) + (BatchAttrKey -> id.toString))
        )
      }
      ZarrSink.consolidate(store.groupDir, storageOptions)
    }
    target
  }

  /** Deletes every chunk (or shard) object in the leading-dim rows that
    * cover `[fromRow × rowLen, newExtent)`: all of it lies past the
    * committed extent, so only a failed earlier append can have left
    * objects there. The batch rewrites the objects it has cells for; an
    * object it has no cells in would otherwise stay and become readable,
    * with the failed batch's values, once the shape grows over it.
    * `grid` counts objects per dim (chunks, or shards of a sharded array).
    * '/'-separated keys give each row its own prefix: one listing per row.
    * Dot-separated keys put every row's objects in the array directory
    * itself, whose listing grows with the whole store; there every object
    * slot of the rows is deleted by key (a missing one is a no-op), a
    * count bounded by the batch's slab. */
  private def clearRows(
      meta: ZarrArrayMeta,
      arrayDirStr: String,
      fromRow: Int,
      newExtent: Int,
      rowLen: Int,
      grid: Vector[Int],
      storageOptions: Map[String, String]
  ): Unit = {
    val dir = new HPath(arrayDirStr)
    val rows = fromRow until (newExtent + rowLen - 1) / rowLen
    val keys =
      if (meta.keySeparator == "/") rowKeys(meta, dir, rows, grid, storageOptions) else slotKeys(meta, rows, grid)
    keys.foreach(k => ZarrFileIO.delete(new HPath(dir, k), storageOptions))
  }

  /** Keys, relative to the array directory, of every object in leading-dim
    * rows `rows` of `grid`: listed per row for '/'-separated keys, each
    * slot probed for dot-separated ones (see [[clearRows]]). */
  private def rowKeys(
      meta: ZarrArrayMeta,
      dir: HPath,
      rows: Range,
      grid: Vector[Int],
      storageOptions: Map[String, String]
  ): Seq[String] =
    if (meta.keySeparator == "/") rows.flatMap(r => ZarrFileIO.listFileKeys(dir, meta.chunkKey(Seq(r)), storageOptions))
    else slotKeys(meta, rows, grid).filter(k => ZarrFileIO.exists(new HPath(dir, k), storageOptions)).toSeq

  /** Every object key of leading-dim rows `rows` of `grid`, C order. */
  private def slotKeys(meta: ZarrArrayMeta, rows: Range, grid: Vector[Int]): Iterator[String] = {
    val inner = grid.drop(1)
    rows.iterator.flatMap { r =>
      (0L until inner.map(_.toLong).product).iterator.map { k =>
        val idx = new Array[Int](inner.length)
        IndexMath.unflatten(k, inner, idx)
        meta.chunkKey(r +: idx.toSeq)
      }
    }
  }

  /** Rewrite a v3 array's zarr.json with a grown shape and replaced
    * attributes, preserving every other field verbatim. Top-level-only
    * transform: a "chunk_shape" (not "shape") key appears nested inside
    * sharding_indexed configs — sharded appends are supported and rely on
    * that nested config passing through untouched; "shape" itself never
    * occurs twice at the top level. Attr values are raw JSON fragments —
    * the same convention the sink's attrs maps use. */
  private def v3MetaWithShapeAttrs(
      raw: String,
      newShape: Vector[Int],
      attrs: Map[String, String]
  ): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val attrsJ: JValue = JObject(attrs.toList.map { case (k, v) => k -> JsonMethods.parse(v) })
    JsonMethods.parse(raw) match {
      case JObject(fields) =>
        val replaced = fields.map {
          case ("shape", _) => ("shape", JArray(newShape.toList.map(s => JInt(BigInt(s)))): JValue)
          case ("attributes", _) => ("attributes", attrsJ)
          case f => f
        }
        val withAttrs =
          if (replaced.exists(_._1 == "attributes")) replaced
          else replaced :+ ("attributes" -> attrsJ)
        JsonMethods.compact(JsonMethods.render(JObject(withAttrs)))
      case other =>
        throw new IllegalStateException(s"zarr append: array zarr.json is not an object: $other")
    }
  }

  /** Supported coordinate-array dtypes for the in-place tail append: the
    * shapes the sink itself writes (plus their big-endian variants), PLUS
    * externally-written fixed `|S`/`<U` string axes (exact padded-cell
    * encode, oversize cells refuse) and uint64 axes (exact decimal →
    * raw-bits encode). M8/TD require exact-micros units because externals
    * arrive as micros. numcodecs-FILTERED coordinate arrays append when
    * every filter has a write path (delta, quantize, bitround,
    * fixedscaleoffset, packbits — the same encode fold as
    * ZarrStoreWriter); only categorize-filtered axes still refuse. */
  private def requireAppendableCoord(cm: ZarrArrayMeta, dim: String): Unit = {
    require(cm.rank == 1, s"deferred append dim '$dim': coordinate array must be 1-D")
    cm.shardShape.foreach { ss =>
      require(
        ss.head % cm.chunks.head == 0,
        s"deferred append dim '$dim': coordinate shard shape ${ss.head} must be a " +
          s"multiple of its inner chunks ${cm.chunks.head}"
      )
    }
    cm.filters.foreach { cfg =>
      val id = ZarrFilters.idOf(cfg)
      require(
        Set("delta", "quantize", "bitround", "fixedscaleoffset", "packbits")(id),
        s"deferred append dim '$dim': numcodecs filter '$id' has no write path " +
          "(writable: delta, quantize, bitround, fixedscaleoffset, packbits)"
      )
      ZarrFilters.validateWritable(cfg, cm.zdtype) // encode preconditions, not just the id
    }
    cm.zdtype.code match {
      case ZDtype.I4 | ZDtype.I8 | ZDtype.F4 | ZDtype.F8 | ZDtype.VSTR => ()
      case ZDtype.S | ZDtype.US | ZDtype.U8 => () // fixed strings / uint64: exact cell encode
      case ZDtype.M8 | ZDtype.TD =>
        require(
          cm.zdtype.m8Num == 1L && cm.zdtype.m8Den == 1L,
          s"deferred append dim '$dim': datetime coordinate unit must be microseconds ('${cm.dtype}')"
        )
      case other =>
        throw new IllegalArgumentException(
          s"deferred append dim '$dim': coordinate dtype '${cm.dtype}' ($other) unsupported for in-place append"
        )
    }
  }

  /** Last coordinate value of a DEFERRED append axis as an external
    * (Row-compatible) value — one chunk read, never the whole axis. */
  private def deferredTailValue(
      store: ZarrStore,
      dim: String,
      extent: Int,
      storageOptions: Map[String, String]
  ): Any = {
    val cm = store.arrayMeta(dim)
    require(cm.shape.head == extent, s"coordinate axis '$dim' length ${cm.shape.head} != extent $extent")
    requireAppendableCoord(cm, dim)
    val chunkLen = cm.chunks.head
    val c = (extent - 1) / chunkLen
    val buf = ZarrChunkIO
      .readChunk(store.arrayDir(dim), cm, Seq(c), storageOptions)
      .getOrElse(
        throw new IllegalStateException(s"deferred append dim '$dim': missing coordinate chunk $c")
      )
    val local = (extent - 1) - c * chunkLen
    coordExternal(buf, local) match {
      case null =>
        throw new IllegalStateException(s"deferred append dim '$dim': null/NaT at the axis end")
      case ext => ext
    }
  }

  /** One decoded coordinate cell as the EXTERNAL value Spark's Row builders
    * and joins expect; null for NaT / null labels. Covers every dtype
    * [[ZarrStore.coordFor]] can defer. */
  private def coordExternal(b: ZarrBuffer, local: Int): Any = b.dt.code match {
    case ZDtype.I4 => b.getInt(local)
    case ZDtype.I8 => b.getLong(local)
    case ZDtype.F4 => b.getFloat(local)
    case ZDtype.F8 => b.getDouble(local)
    case ZDtype.M8 =>
      b.getM8(local) match {
        case null => null
        case us: Long => DateTimeUtils.toJavaTimestamp(us)
      }
    case ZDtype.TD =>
      b.getM8(local) match {
        case null => null
        case us: Long => java.time.Duration.ofNanos(us * 1000L)
      }
    case ZDtype.S | ZDtype.US | ZDtype.VSTR =>
      Option(b.getUTF8(local)).map(_.toString).orNull
    case ZDtype.U8 => b.getU8Dec(local).toJavaBigDecimal
    case other => throw new IllegalStateException(s"coordinate dtype $other is never deferred")
  }

  /** Distributed (value, ordinal) map of a DEFERRED non-append axis:
    * executors decode the coordinate array's chunks and the row->index
    * join SHUFFLES on the value — a 10^8-element axis never rides the
    * driver or a broadcast. Null cells (NaT / null labels) emit no pair;
    * rows carrying them reject in the coverage check like any dim value
    * the axis does not have. */
  private def deferredOrdinalMap(
      spark: org.apache.spark.sql.SparkSession,
      store: ZarrStore,
      dim: String,
      extent: Int,
      sparkType: org.apache.spark.sql.types.DataType,
      di: Int,
      storageOptions: Map[String, String]
  ): DataFrame = {
    val cm = store.arrayMeta(dim)
    require(
      cm.rank == 1 && cm.shape.head == extent,
      s"coordinate axis '$dim' shape ${cm.shape.mkString("x")} != extent $extent"
    )
    val chunkLen = cm.chunks.head
    val nCoordChunks = (extent + chunkLen - 1) / chunkLen
    val dir = store.arrayDir(dim)
    val executorOpts = ZarrFileIO.executorOptions(storageOptions)
    val parts = math.max(1, math.min(spark.sessionState.conf.numShufflePartitions, nCoordChunks))
    val rows = spark.sparkContext
      .parallelize(0 until nCoordChunks, parts)
      .flatMap { c =>
        val start = c * chunkLen
        val end = math.min(start + chunkLen, extent)
        ZarrChunkIO.readChunk(dir, cm, Seq(c), executorOpts) match {
          case None => Iterator.empty // unwritten chunk: null coords join nothing
          case Some(b) =>
            Iterator.range(start, end).flatMap { i =>
              coordExternal(b, i - start) match {
                case null => None
                case ext => Some(Row(ext, i.toLong))
              }
            }
        }
      }
    val schema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("__v", sparkType, nullable = false),
        org.apache.spark.sql.types
          .StructField(s"__i$di", org.apache.spark.sql.types.LongType, nullable = false)
      )
    )
    spark.createDataFrame(rows, schema)
  }

  /** Append `newVals` to a DEFERRED coordinate axis in place: rewrite the
    * one partial tail chunk if the extent is mid-chunk (read-modify-write,
    * byte-exact copy of the existing prefix), write whole new chunks, then
    * bump the coord `.zarray` shape. A SHARDED axis rewrites each affected
    * shard as one whole object, the tail shard's chunks before the old
    * extent copied byte for byte. Work is O(newVals + 1 chunk), driver-side
    * (newVals is already bounded at 1e6). */
  private def appendCoordTail(
      store: ZarrStore,
      dim: String,
      extent: Int,
      newVals: Array[Any],
      storageOptions: Map[String, String]
  ): Unit = {
    val cm = store.arrayMeta(dim)
    require(cm.shape.head == extent, s"coordinate axis '$dim' length ${cm.shape.head} != extent $extent")
    requireAppendableCoord(cm, dim)
    val dirStr = store.arrayDir(dim)
    val chunkLen = cm.chunks.head
    val dt = cm.zdtype
    val newTotal = extent + newVals.length
    val startChunk = extent / chunkLen
    // the partial tail chunk's existing cells (byte-exact for numerics)
    val nKeep = extent - startChunk * chunkLen
    val existing: Option[ZarrBuffer] =
      if (nKeep > 0)
        Some(
          ZarrChunkIO
            .readChunk(dirStr, cm, Seq(startChunk), storageOptions)
            .getOrElse(
              throw new IllegalStateException(s"deferred append dim '$dim': missing coordinate chunk $startChunk")
            )
        )
      else None
    val out = new ZarrChunkWriter(cm.copy(shape = Vector(newTotal)), dirStr, storageOptions, keptRows = startChunk).output()
    // chunks from the one holding the extent on: ""-/zero-padded past the
    // axis end, the existing partial prefix merged at the boundary
    (startChunk to (newTotal - 1) / chunkLen).foreach { c =>
      val base = c.toLong * chunkLen
      val cells = math.max(base, extent.toLong) until math.min(base + chunkLen, newTotal.toLong)
      if (dt.code == ZDtype.VSTR) {
        val arr = Array.fill(chunkLen)("")
        if (c == startChunk) existing.foreach { b =>
          (0 until nKeep).foreach(i => arr(i) = Option(b.getUTF8(i)).map(_.toString).getOrElse(""))
        }
        cells.foreach(g => arr((g - base).toInt) = newVals((g - extent).toInt).asInstanceOf[String])
        out.chunk(c.toLong, arr)
      } else {
        val buf = ByteBuffer
          .allocate(chunkLen * dt.itemSize)
          .order(if (dt.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
        if (c == startChunk) existing.foreach(b => System.arraycopy(b.raw, 0, buf.array(), 0, nKeep * dt.itemSize))
        cells.foreach(g => ZarrSink.putCoordCell(dt, buf, (g - base).toInt, newVals((g - extent).toInt)))
        out.chunk(c.toLong, buf)
      }
    }
    out.close()
    // bump the coordinate array's shape LAST (the tail chunks above are
    // invisible until this lands; a crash before it leaves the old axis)
    if (cm.v3) {
      val raw = ZarrFileIO
        .readStringIfExists(new HPath(dirStr, "zarr.json"), storageOptions)
        .getOrElse(throw new IllegalStateException(s"deferred append dim '$dim': missing zarr.json"))
      ZarrFileIO.writeString(
        new HPath(dirStr, "zarr.json"),
        storageOptions,
        v3MetaWithShapeAttrs(raw, Vector(newTotal), cm.attrs)
      )
    } else {
      val zarrayRaw = ZarrFileIO
        .readStringIfExists(new HPath(dirStr, ".zarray"), storageOptions)
        .getOrElse(throw new IllegalStateException(s"deferred append dim '$dim': missing .zarray"))
      val updated = zarrayRaw.replaceFirst(
        """"shape"\s*:\s*\[[0-9,\s]*\]""",
        s""""shape": [$newTotal]"""
      )
      require(updated != zarrayRaw, s"deferred append dim '$dim': could not rewrite .zarray shape")
      ZarrFileIO.writeString(new HPath(dirStr, ".zarray"), storageOptions, updated)
    }
  }

  /** Internal coord cell -> the external (Row-compatible) value. */
  private def externalOf(c: Coord, v: Any): Any = c match {
    case _: Coord.Timestamps => DateTimeUtils.toJavaTimestamp(v.asInstanceOf[Long])
    case _: Coord.Strings => v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    case _: Coord.Intervals => java.time.Duration.ofNanos(v.asInstanceOf[Long] * 1000L)
    case _ => v
  }
}
