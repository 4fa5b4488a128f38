package graft.sources.zarr

import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String

/** Per-chunk value statistics — the zarr analog of parquet column zone maps.
  *
  * The product sink records `[min, max]` of every DATA chunk it writes into
  * the array attributes (key [[ZarrChunkStats.AttrKey]]); the scan uses them
  * to skip chunks that cannot satisfy a value predicate — without opening,
  * let alone decompressing, the chunk. The reference has no analog (its
  * engine filters after materialization); at 100 TB this is the difference
  * between decompressing every chunk and touching only the matching slice.
  *
  * Three value domains: `int` (exact Long bounds — integers, bool,
  * datetime64/timedelta64 in micros), `float` (Double bounds, NaN ordered
  * greatest and -0.0 normalized, matching Spark), `string` (byte-
  * lexicographic UTF-8 bounds — the same binary order Spark strings use,
  * which also makes prefix predicates prunable).
  *
  * Soundness contract:
  *  - bounds cover EVERY readable cell of a written chunk (fill-valued
  *    sparse cells and ragged-edge padding included — padding only widens);
  *  - a chunk with a `null` bounds entry was written but holds no
  *    comparable (non-null) cell — no comparison predicate can match it;
  *  - a chunk ABSENT from the map was never written: every cell reads as
  *    the array fill value, evaluated pointwise (null fill never matches);
  *  - datetime64/timedelta64 bounds are stored in MICROS after the same
  *    unit conversion the read path applies (ZDtype.m8Micros), so they
  *    compare directly against Spark timestamp/interval literals.
  *
  * The stats doc embeds the chunk-grid size (`n`) and value domain; a doc
  * that does not match the array's current grid or dtype is ignored. Like
  * the shard-index cache, stats assume the zarr convention of
  * immutable-by-key objects (documented at the API surface): an external
  * writer mutating chunks in place without refreshing attributes voids
  * them.
  */
object ZarrChunkStats {

  val AttrKey = "graft:chunk_stats"

  /** Attr recording that zone maps were DROPPED at write time (grid past
    * the two-level ceiling, or an append batch past the driver-collect
    * bound). Carried so the SCAN can warn that value predicates read every
    * chunk — the alternative is a silent pruning regression the user only
    * notices as cost. Written by the sink and by append; never consulted
    * for pruning decisions. */
  val DroppedAttrKey = "graft:chunk_stats_dropped"

  def droppedJson(nChunks: Long, cap: Long, reason: String): String =
    s"""{"n_chunks": $nChunks, "cap": $cap, "reason": "$reason"}"""

  /** Directory (under the array dir) holding per-block fine-stats docs of
    * HIERARCHICAL zone maps — one flat-format doc per block of
    * `blockLen` consecutive chunk ordinals. Zarr readers ignore unknown
    * keys, so the side docs are invisible to other implementations. */
  val SideDir = "_graft_stats"

  /** Flat per-chunk stats stop at this grid size (the attrs doc and the
    * task-shipped pruner stay ~3 MB); larger grids switch to the
    * two-level layout, which holds rollups for up to this many BLOCKS. */
  val FlatCap = 65536L

  /** Chunk ordinals per fine-stats block in the hierarchical layout.
    * 4096 chunks x ~40 B keeps each side doc ~200 KB, and
    * FlatCap x DefaultBlockLen ≈ 2.7e8 chunks (~27 PB at 100 MB/chunk)
    * before stats are refused outright. */
  val DefaultBlockLen = 4096L

  /** Stats domain of a dtype: "int" (exact Long), "float" (Double),
    * "string" (byte-lexicographic), None = unsupported (complex,
    * structured, uint64). */
  def domainOf(dt: ZDtype): Option[String] = dt.code match {
    case ZDtype.BOOL | ZDtype.I1 | ZDtype.U1 | ZDtype.I2 | ZDtype.U2 | ZDtype.I4 | ZDtype.U4 |
        ZDtype.I8 | ZDtype.M8 | ZDtype.TD =>
      Some("int")
    case ZDtype.F2 | ZDtype.F4 | ZDtype.F8 => Some("float")
    case ZDtype.S | ZDtype.US | ZDtype.VSTR => Some("string")
    case _ => None
  }

  /** -0.0 -> 0.0 (Spark treats them equal; java compare does not). */
  def norm(d: Double): Double = if (d == 0.0) 0.0 else d

  // ---- append-path helpers: build / merge docs driver-side -------------

  /** Flat per-chunk doc from flushed-chunk bounds records — the append
    * path's driver-side counterpart of the sink's executor-side docOf. */
  private[zarr] def docOfBounds(
      domain: String,
      nChunks: Long,
      rows: Iterable[ZarrSink.ChunkBounds]
  ): Doc = domain match {
    case "int" =>
      Doc(
        "int",
        nChunks,
        boundsI = rows.map(r => r.ord -> (if (r.has) Some((r.loL, r.hiL)) else None)).toMap
      )
    case "float" =>
      Doc(
        "float",
        nChunks,
        boundsF = rows.map(r => r.ord -> (if (r.has) Some((r.loD, r.hiD)) else None)).toMap
      )
    case _ =>
      Doc(
        "string",
        nChunks,
        boundsS = rows.map(r => r.ord -> (if (r.has) Some((r.loS, r.hiS)) else None)).toMap
      )
  }

  /** Key-union of two same-domain docs under a new grid size. Append
    * ordinals are disjoint from existing ones; on overlap `add` wins (a
    * replayed batch rewrites identical chunk content). */
  private[zarr] def mergeFlat(base: Doc, add: Doc, nChunks: Long): Doc = base.domain match {
    case "int" => base.copy(nChunks = nChunks, boundsI = base.boundsI ++ add.boundsI)
    case "float" => base.copy(nChunks = nChunks, boundsF = base.boundsF ++ add.boundsF)
    case _ => base.copy(nChunks = nChunks, boundsS = base.boundsS ++ add.boundsS)
  }

  /** Sub-doc of the entries with keys in [b*blockLen, (b+1)*blockLen). */
  private[zarr] def blockSlice(d: Doc, b: Long, blockLen: Long, nChunks: Long): Doc = {
    val lo = b * blockLen
    val hi = lo + blockLen
    def in(k: Long): Boolean = k >= lo && k < hi
    d.domain match {
      case "int" => Doc("int", nChunks, boundsI = d.boundsI.filter(e => in(e._1)))
      case "float" => Doc("float", nChunks, boundsF = d.boundsF.filter(e => in(e._1)))
      case _ => Doc("string", nChunks, boundsS = d.boundsS.filter(e => in(e._1)))
    }
  }

  /** Rollup record over ALL of a per-chunk doc's entries (keyed `blk`):
    * extrema of the Some bounds; has=false when no entry carries bounds. */
  private[zarr] def rollupRecord(blk: Long, d: Doc): ZarrSink.ChunkBounds = d.domain match {
    case "int" =>
      val vs = d.boundsI.values.flatten
      if (vs.isEmpty) ZarrSink.ChunkBounds(blk, has = false)
      else ZarrSink.ChunkBounds(blk, has = true, loL = vs.map(_._1).min, hiL = vs.map(_._2).max)
    case "float" =>
      val vs = d.boundsF.values.flatten
      if (vs.isEmpty) ZarrSink.ChunkBounds(blk, has = false)
      else
        ZarrSink.ChunkBounds(
          blk,
          has = true,
          loD = vs.map(_._1).min(Ordering.Double.TotalOrdering),
          hiD = vs.map(_._2).max(Ordering.Double.TotalOrdering)
        )
    case _ =>
      val vs = d.boundsS.values.flatten
      if (vs.isEmpty) ZarrSink.ChunkBounds(blk, has = false)
      else
        ZarrSink.ChunkBounds(
          blk,
          has = true,
          loS = vs.map(_._1).reduce(byteLexMin),
          hiS = vs.map(_._2).reduce(byteLexMax)
        )
  }

  /** One doc entry as a bounds record; None when the key is absent. */
  private[zarr] def entryRecord(d: Doc, key: Long): Option[ZarrSink.ChunkBounds] = d.domain match {
    case "int" =>
      d.boundsI.get(key).map {
        case Some((lo, hi)) => ZarrSink.ChunkBounds(key, has = true, loL = lo, hiL = hi)
        case None => ZarrSink.ChunkBounds(key, has = false)
      }
    case "float" =>
      d.boundsF.get(key).map {
        case Some((lo, hi)) => ZarrSink.ChunkBounds(key, has = true, loD = lo, hiD = hi)
        case None => ZarrSink.ChunkBounds(key, has = false)
      }
    case _ =>
      d.boundsS.get(key).map {
        case Some((lo, hi)) => ZarrSink.ChunkBounds(key, has = true, loS = lo, hiS = hi)
        case None => ZarrSink.ChunkBounds(key, has = false)
      }
  }

  /** Interval union of two bounds records (same block, old ∪ new). */
  private[zarr] def widen(
      a: ZarrSink.ChunkBounds,
      b: ZarrSink.ChunkBounds,
      domain: String
  ): ZarrSink.ChunkBounds =
    if (!a.has) b.copy(ord = a.ord)
    else if (!b.has) a
    else
      domain match {
        case "int" =>
          a.copy(loL = math.min(a.loL, b.loL), hiL = math.max(a.hiL, b.hiL))
        case "float" =>
          a.copy(
            loD = if (java.lang.Double.compare(a.loD, b.loD) <= 0) a.loD else b.loD,
            hiD = if (java.lang.Double.compare(a.hiD, b.hiD) >= 0) a.hiD else b.hiD
          )
        case _ => a.copy(loS = byteLexMin(a.loS, b.loS), hiS = byteLexMax(a.hiS, b.hiS))
      }

  /** Per-chunk bounds keyed by C-order linear chunk ordinal over the FULL
    * chunk grid. `None` bounds = written chunk with no comparable cell.
    * Exactly one of the three maps is populated, per `domain`. */
  final case class Doc(
      domain: String,
      nChunks: Long,
      boundsI: Map[Long, Option[(Long, Long)]] = Map.empty,
      boundsF: Map[Long, Option[(Double, Double)]] = Map.empty,
      boundsS: Map[Long, Option[(String, String)]] = Map.empty
  ) extends Serializable {
    def written: Int = domain match {
      case "int" => boundsI.size
      case "float" => boundsF.size
      case _ => boundsS.size
    }
  }

  /** Level-1 doc of HIERARCHICAL stats (grids past [[FlatCap]] chunks):
    * per-BLOCK rollup bounds + written-chunk counts live in the attrs;
    * per-chunk bounds live in one flat-format side doc per block at
    * `<array>/_graft_stats/<block>`. `rollup` reuses [[Doc]] keyed by
    * block ordinal (its nChunks field holds the BLOCK count).
    *
    * Soundness: a block's rollup bounds cover every readable cell of its
    * WRITTEN chunks; `written(b) < chunksIn(b)` means some chunks of the
    * block were never written and read as the fill — pruning must widen
    * with the fill exactly like the flat absent-chunk rule. A block absent
    * from `written` has no written chunk at all. */
  final case class Hier(
      domain: String,
      nChunks: Long,
      blockLen: Long,
      written: Map[Long, Long],
      rollup: Doc
  ) extends Serializable {
    def nBlocks: Long = (nChunks + blockLen - 1) / blockLen
    def chunksIn(b: Long): Long = math.min(blockLen, nChunks - b * blockLen)
    def writtenTotal: Long = written.values.sum
  }

  def toJsonHier(h: Hier): String = {
    def boundJson(b: Long): String = h.domain match {
      case "int" =>
        h.rollup.boundsI.get(b).flatten.map { case (lo, hi) => s"[$lo, $hi]" }.getOrElse("null")
      case "float" =>
        h.rollup.boundsF.get(b).flatten
          .map { case (lo, hi) => s"[${jsonNumF(lo)}, ${jsonNumF(hi)}]" }
          .getOrElse("null")
      case _ =>
        h.rollup.boundsS.get(b).flatten
          .map { case (lo, hi) => s"[${ZarrStoreWriter.jsonStr(lo)}, ${ZarrStoreWriter.jsonStr(hi)}]" }
          .getOrElse("null")
    }
    val entries = h.written.toSeq.sortBy(_._1).map { case (b, w) =>
      s""""$b": {"w": $w, "b": ${boundJson(b)}}"""
    }
    s"""{"domain": "${h.domain}", "n": ${h.nChunks}, "block_len": ${h.blockLen}, """ +
      s""""blocks": {${entries.mkString(", ")}}}"""
  }

  /** Parse a hierarchical attrs doc; None on flat docs or anything
    * malformed (stats are an optimization — never fail a scan over them). */
  def parseHier(raw: String): Option[Hier] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(raw)
      val domain = (j \ "domain") match {
        case JString(d @ ("int" | "float" | "string")) => d
        case _ => return None
      }
      def long(v: JValue): Option[Long] = v match {
        case JInt(i) => Some(i.toLong)
        case JLong(l) => Some(l)
        case _ => None
      }
      val n = long(j \ "n").getOrElse(return None)
      val blockLen = long(j \ "block_len").getOrElse(return None)
      if (blockLen <= 0) return None
      val blockFields = (j \ "blocks") match {
        case JObject(fields) => fields
        case _ => return None
      }
      var written = Map.empty[Long, Long]
      var bI = Map.empty[Long, Option[(Long, Long)]]
      var bF = Map.empty[Long, Option[(Double, Double)]]
      var bS = Map.empty[Long, Option[(String, String)]]
      def numD(v: JValue): Option[Double] = v match {
        case JDouble(d) => Some(d)
        case JInt(i) => Some(i.toDouble)
        case JLong(l) => Some(l.toDouble)
        case JDecimal(d) => Some(d.toDouble)
        case JString("NaN") => Some(Double.NaN)
        case JString("Infinity") => Some(Double.PositiveInfinity)
        case JString("-Infinity") => Some(Double.NegativeInfinity)
        case _ => None
      }
      blockFields.foreach {
        case (k, JObject(fs)) =>
          val m = fs.toMap
          val b = k.toLong
          written += b -> long(m.getOrElse("w", return None)).getOrElse(return None)
          m.getOrElse("b", JNull) match {
            case JNull => () // written chunks exist but none has a comparable cell
            case JArray(List(lo, hi)) =>
              domain match {
                case "int" =>
                  bI += b -> Some((long(lo).getOrElse(return None), long(hi).getOrElse(return None)))
                case "float" =>
                  bF += b -> Some((numD(lo).getOrElse(return None), numD(hi).getOrElse(return None)))
                case _ =>
                  (lo, hi) match {
                    case (JString(l), JString(h2)) => bS += b -> Some((l, h2))
                    case _ => return None
                  }
              }
            case _ => return None
          }
        case _ => return None
      }
      val nBlocks = (n + blockLen - 1) / blockLen
      Some(Hier(domain, n, blockLen, written, Doc(domain, nBlocks, bI, bF, bS)))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def jsonNumF(d: Double): String =
    if (d.isNaN) "\"NaN\""
    else if (d == Double.PositiveInfinity) "\"Infinity\""
    else if (d == Double.NegativeInfinity) "\"-Infinity\""
    else d.toString

  def toJson(doc: Doc): String = {
    val entries: Seq[String] = doc.domain match {
      case "int" =>
        doc.boundsI.toSeq.sortBy(_._1).map {
          case (k, Some((lo, hi))) => s""""$k": [$lo, $hi]"""
          case (k, None) => s""""$k": null"""
        }
      case "float" =>
        doc.boundsF.toSeq.sortBy(_._1).map {
          case (k, Some((lo, hi))) => s""""$k": [${jsonNumF(lo)}, ${jsonNumF(hi)}]"""
          case (k, None) => s""""$k": null"""
        }
      case _ =>
        doc.boundsS.toSeq.sortBy(_._1).map {
          case (k, Some((lo, hi))) =>
            s""""$k": [${ZarrStoreWriter.jsonStr(lo)}, ${ZarrStoreWriter.jsonStr(hi)}]"""
          case (k, None) => s""""$k": null"""
        }
    }
    s"""{"domain": "${doc.domain}", "n": ${doc.nChunks}, """ +
      s""""chunks": {${entries.mkString(", ")}}}"""
  }

  /** Parse the attrs JSON; None on anything malformed (stats are an
    * optimization — never fail a scan over them). */
  def parse(raw: String): Option[Doc] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(raw)
      val domain = (j \ "domain") match {
        case JString(d @ ("int" | "float" | "string")) => d
        case _ => return None
      }
      val n = (j \ "n") match {
        case JInt(v) => v.toLong
        case JLong(v) => v
        case _ => return None
      }
      def numD(v: JValue): Option[Double] = v match {
        case JDouble(d) => Some(d)
        case JInt(i) => Some(i.toDouble)
        case JLong(l) => Some(l.toDouble)
        case JDecimal(d) => Some(d.toDouble)
        case JString("NaN") => Some(Double.NaN)
        case JString("Infinity") => Some(Double.PositiveInfinity)
        case JString("-Infinity") => Some(Double.NegativeInfinity)
        case _ => None
      }
      def numL(v: JValue): Option[Long] = v match {
        case JInt(i) => Some(i.toLong)
        case JLong(l) => Some(l)
        case _ => None
      }
      val chunkFields = (j \ "chunks") match {
        case JObject(fields) => fields
        case _ => return None
      }
      domain match {
        case "int" =>
          val m = chunkFields.map {
            case (k, JNull) => k.toLong -> None
            case (k, JArray(List(lo, hi))) =>
              k.toLong -> Some((numL(lo).getOrElse(return None), numL(hi).getOrElse(return None)))
            case _ => return None
          }.toMap
          Some(Doc("int", n, boundsI = m))
        case "float" =>
          val m = chunkFields.map {
            case (k, JNull) => k.toLong -> None
            case (k, JArray(List(lo, hi))) =>
              k.toLong -> Some((numD(lo).getOrElse(return None), numD(hi).getOrElse(return None)))
            case _ => return None
          }.toMap
          Some(Doc("float", n, boundsF = m))
        case _ =>
          val m = chunkFields.map {
            case (k, JNull) => k.toLong -> None
            case (k, JArray(List(JString(lo), JString(hi)))) => k.toLong -> Some((lo, hi))
            case _ => return None
          }.toMap
          Some(Doc("string", n, boundsS = m))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- interval predicates -------------------------------------------

  /** Can-any-cell-match predicate over a [lo, hi] interval; exact on a
    * degenerate [v, v] point (used for fill evaluation). Conjunction is
    * per-interval conservative (sound: if one conjunct cannot match any
    * cell in the interval, no cell matches the conjunction). */
  sealed trait Pred[T] extends Serializable
  object Pred {
    final case class Gt[T](v: T) extends Pred[T]
    final case class Ge[T](v: T) extends Pred[T]
    final case class Lt[T](v: T) extends Pred[T]
    final case class Le[T](v: T) extends Pred[T]
    final case class Eq[T](v: T) extends Pred[T]
    final case class InSet[T](vs: Vector[T]) extends Pred[T]
    final case class Or[T](a: Pred[T], b: Pred[T]) extends Pred[T]
    final case class And[T](a: Pred[T], b: Pred[T]) extends Pred[T]

    def canMatch[T](p: Pred[T], lo: T, hi: T)(implicit o: Ordering[T]): Boolean = p match {
      case Gt(v) => o.gt(hi, v)
      case Ge(v) => o.gteq(hi, v)
      case Lt(v) => o.lt(lo, v)
      case Le(v) => o.lteq(lo, v)
      case Eq(v) => o.lteq(lo, v) && o.lteq(v, hi)
      case InSet(vs) => vs.exists(v => o.lteq(lo, v) && o.lteq(v, hi))
      case Or(a, b) => canMatch(a, lo, hi) || canMatch(b, lo, hi)
      case And(a, b) => canMatch(a, lo, hi) && canMatch(b, lo, hi)
    }
  }

  /** Translate a Spark source Filter over `colName` into an interval
    * predicate; `conv` maps the literal into the stats domain (None =
    * untranslatable, the filter is simply not used for pruning). */
  def translate[T](f: Filter, colName: String, conv: Any => Option[T]): Option[Pred[T]] = f match {
    case GreaterThan(a, v) if a == colName => conv(v).map(Pred.Gt(_))
    case GreaterThanOrEqual(a, v) if a == colName => conv(v).map(Pred.Ge(_))
    case LessThan(a, v) if a == colName => conv(v).map(Pred.Lt(_))
    case LessThanOrEqual(a, v) if a == colName => conv(v).map(Pred.Le(_))
    case EqualTo(a, v) if a == colName => conv(v).map(Pred.Eq(_))
    case In(a, vs) if a == colName =>
      val cs = vs.toVector.map(conv)
      if (cs.forall(_.isDefined)) Some(Pred.InSet(cs.flatten)) else None
    case And(l, r) =>
      (translate(l, colName, conv), translate(r, colName, conv)) match {
        case (Some(a), Some(b)) => Some(Pred.And(a, b))
        case _ => None
      }
    case Or(l, r) =>
      (translate(l, colName, conv), translate(r, colName, conv)) match {
        case (Some(a), Some(b)) => Some(Pred.Or(a, b))
        case _ => None
      }
    case _ => None
  }

  /** String-domain translation reuses the coordinate-axis predicate model
    * ([[CoordPredStr]]) — binary UTF-8 interval tests including the
    * prefix-truncation rule for startsWith. Conjuncts flatten. */
  def translateStr(f: Filter, colName: String): Option[Vector[CoordPredStr]] = f match {
    case EqualTo(a, v: String) if a == colName => Some(Vector(CoordPredStr.Eq(utf8(v))))
    case GreaterThan(a, v: String) if a == colName => Some(Vector(CoordPredStr.Gt(utf8(v))))
    case GreaterThanOrEqual(a, v: String) if a == colName => Some(Vector(CoordPredStr.Ge(utf8(v))))
    case LessThan(a, v: String) if a == colName => Some(Vector(CoordPredStr.Lt(utf8(v))))
    case LessThanOrEqual(a, v: String) if a == colName => Some(Vector(CoordPredStr.Le(utf8(v))))
    case StringStartsWith(a, p) if a == colName => Some(Vector(CoordPredStr.StartsWith(utf8(p))))
    case In(a, vs) if a == colName && vs.forall(_.isInstanceOf[String]) =>
      Some(Vector(CoordPredStr.InSet(vs.map(v => utf8(v.asInstanceOf[String])).toSet)))
    case And(l, r) =>
      (translateStr(l, colName), translateStr(r, colName)) match {
        case (Some(a), Some(b)) => Some(a ++ b)
        case _ => None
      }
    case Or(l, r) =>
      (translateStr(l, colName), translateStr(r, colName)) match {
        // Or of single preds maps to the axis-model Or; anything wider declines
        case (Some(Vector(a)), Some(Vector(b))) => Some(Vector(CoordPredStr.Or(a, b)))
        case _ => None
      }
    case _ => None
  }

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Literal -> Long stats domain (exact; timestamps/intervals as micros —
    * the same representation the stats were written in). */
  def convLong(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case b: Boolean => Some(if (b) 1L else 0L)
    case t @ (_: java.sql.Timestamp | _: java.time.Instant) => Some(ZarrSink.micros(t))
    case d: java.time.Duration => Some(d.getSeconds * 1000000L + d.getNano / 1000L)
    case _ => None
  }

  /** Literal -> Double stats domain (float value columns: literals arrive
    * already in the column's type, so widening is exact). */
  def convDouble(v: Any): Option[Double] = v match {
    case f: Float => Some(norm(f.toDouble))
    case d: Double => Some(norm(d))
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case _ => None
  }

  // ---- the executor-shippable pruner ---------------------------------

  /** Decide chunk skips from stats + predicates. `gridStrides` is derived
    * from the full chunk-grid extents; `fill` is the array fill in the
    * stats domain (None = null fill). Bounded: the doc is only written for
    * grids <= 65536 chunks (~3 MB ceiling in the task binary, same order
    * as an eager coordinate axis). */
  sealed trait Pruner extends Serializable {
    def skip(chunkIdx: Array[Int]): Boolean
    def describe: String
    protected def ordinalOf(chunkIdx: Array[Int], gridStrides: Array[Long]): Long = {
      var o = 0L
      var d = 0
      while (d < chunkIdx.length) { o += chunkIdx(d) * gridStrides(d); d += 1 }
      o
    }
  }

  final case class LongPruner(
      preds: Vector[Pred[Long]],
      bounds: Map[Long, Option[(Long, Long)]],
      fill: Option[Long],
      gridStrides: Array[Long],
      desc: String
  ) extends Pruner {
    def skip(chunkIdx: Array[Int]): Boolean = {
      val ord = ordinalOf(chunkIdx, gridStrides)
      bounds.get(ord) match {
        case Some(Some((lo, hi))) => preds.exists(p => !Pred.canMatch(p, lo, hi))
        case Some(None) => true // written, but every cell is null
        case None => // never written: all cells are the fill value
          fill match {
            case Some(f) => preds.exists(p => !Pred.canMatch(p, f, f))
            case None => true // null fill: no comparison matches
          }
      }
    }
    def describe: String = desc
  }

  /** NaN-greatest total order (java compare), matching Spark. */
  private implicit val doubleTotal: Ordering[Double] = Ordering.Double.TotalOrdering

  final case class DoublePruner(
      preds: Vector[Pred[Double]],
      bounds: Map[Long, Option[(Double, Double)]],
      fill: Option[Double],
      gridStrides: Array[Long],
      desc: String
  ) extends Pruner {
    def skip(chunkIdx: Array[Int]): Boolean = {
      val ord = ordinalOf(chunkIdx, gridStrides)
      bounds.get(ord) match {
        case Some(Some((lo, hi))) => preds.exists(p => !Pred.canMatch(p, lo, hi))
        case Some(None) => true
        case None =>
          fill match {
            case Some(f) => preds.exists(p => !Pred.canMatch(p, f, f))
            case None => true
          }
      }
    }
    def describe: String = desc
  }

  /** String-domain pruner over byte-lexicographic bounds; predicates are
    * the coordinate-axis model's (anyIn = interval can-match, eval = fill
    * pointwise). */
  final case class StringPruner(
      preds: Vector[CoordPredStr],
      bounds: Map[Long, Option[(String, String)]],
      fill: Option[String],
      gridStrides: Array[Long],
      desc: String
  ) extends Pruner {
    @transient private lazy val boundsU: Map[Long, Option[(UTF8String, UTF8String)]] =
      bounds.map { case (k, v) => k -> v.map { case (lo, hi) => (utf8(lo), utf8(hi)) } }
    @transient private lazy val fillU: Option[UTF8String] = fill.map(utf8)
    def skip(chunkIdx: Array[Int]): Boolean = {
      val ord = ordinalOf(chunkIdx, gridStrides)
      boundsU.get(ord) match {
        case Some(Some((lo, hi))) => preds.exists(p => !p.anyIn(lo, hi))
        case Some(None) => true
        case None =>
          fillU match {
            case Some(f) => preds.exists(p => !p.eval(f))
            case None => true
          }
      }
    }
    def describe: String = desc
  }

  /** Per-column pruners over one shared chunk grid (aligned multi-array
    * scans): predicates are conjuncts, so a chunk skips when ANY column's
    * predicates cannot match it. */
  final case class Conjunction(ps: Vector[Pruner]) extends Pruner {
    def skip(chunkIdx: Array[Int]): Boolean = ps.exists(_.skip(chunkIdx))
    def describe: String = ps.map(_.describe).mkString("[", " & ", "]")
  }

  /** Two-level pruner for hierarchical stats. Level 1 (attrs rollups, no
    * I/O): a chunk's BLOCK skips when the rollup interval — widened with
    * the fill if the block has unwritten chunks — cannot match. Level 2
    * (lazy): a surviving block's side doc is fetched once per pruner
    * instance (pruners deserialize per task, so the cache is task-local
    * and unsynchronized), parsed into the matching FLAT pruner, and
    * delegated to for per-chunk decisions. A missing/corrupt side doc
    * falls back to the coarse answer — stats never fail a scan.
    *
    * Exactly one of predsL/predsD/predsS is non-empty, matching `domain`.
    * Soundness mirrors the flat rule set: readers may skip MORE chunks
    * than the planner counted (value predicates stay residual in the
    * plan), and both levels only skip chunks no cell of which can match. */
  final case class HierPruner(
      hier: Hier,
      predsL: Vector[Pred[Long]],
      fillL: Option[Long],
      predsD: Vector[Pred[Double]],
      fillD: Option[Double],
      predsS: Vector[CoordPredStr],
      fillS: Option[String],
      gridStrides: Array[Long],
      arrayDir: String,
      storageOptions: Map[String, String],
      desc: String
  ) extends Pruner {

    /** Block-doc cache: side docs are ~200 KB; 64 entries bounds a task at
      * ~13 MB while a C-order ordinal walk stays fully cached. */
    @transient private lazy val cache: java.util.LinkedHashMap[Long, Option[Pruner]] =
      new java.util.LinkedHashMap[Long, Option[Pruner]](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Long, Option[Pruner]]): Boolean =
          size() > 64
      }

    private def fillCanMatch: Boolean = hier.domain match {
      case "int" =>
        fillL match {
          case Some(f) => !predsL.exists(p => !Pred.canMatch(p, f, f))
          case None => false // null fill: no comparison matches
        }
      case "float" =>
        fillD match {
          case Some(f) => !predsD.exists(p => !Pred.canMatch(p, f, f))
          case None => false
        }
      case _ =>
        fillS.map(UTF8String.fromString) match {
          case Some(f) => !predsS.exists(p => !p.eval(f))
          case None => false
        }
    }

    private def rollupCanMatch(b: Long): Boolean = hier.domain match {
      case "int" =>
        hier.rollup.boundsI.get(b).flatten.exists { case (lo, hi) =>
          !predsL.exists(p => !Pred.canMatch(p, lo, hi))
        }
      case "float" =>
        hier.rollup.boundsF.get(b).flatten.exists { case (lo, hi) =>
          !predsD.exists(p => !Pred.canMatch(p, lo, hi))
        }
      case _ =>
        hier.rollup.boundsS.get(b).flatten.exists { case (lo, hi) =>
          val (l, h) = (UTF8String.fromString(lo), UTF8String.fromString(hi))
          !predsS.exists(p => !p.anyIn(l, h))
        }
    }

    private def fineOf(b: Long): Option[Pruner] = {
      val cached = cache.get(b)
      if (cached != null) return cached
      val built: Option[Pruner] =
        try {
          graft.sources.zarr.ZarrFileIO
            .readStringIfExists(
              new org.apache.hadoop.fs.Path(arrayDir, s"$SideDir/$b"),
              storageOptions
            )
            .flatMap(parse)
            // A side doc written under a SMALLER grid stays exact for a
            // block the old grid fully covered: appends are leading-dim
            // only, so existing chunk ordinals are never rewritten and the
            // block gains no new ordinals. The straddling boundary block
            // does gain ordinals (absent entries would read as "never
            // written" for chunks an append DID write), so it stays strict
            // — the append path rewrites its side doc with the grown
            // nChunks. Docs with nChunks > hier.nChunks (a crashed append's
            // orphan) are rejected -> coarse answer.
            .filter(d =>
              d.domain == hier.domain &&
                (d.nChunks == hier.nChunks ||
                  (d.nChunks < hier.nChunks && (b + 1) * hier.blockLen <= d.nChunks))
            )
            .map { d =>
              hier.domain match {
                case "int" => LongPruner(predsL, d.boundsI, fillL, gridStrides, desc)
                case "float" => DoublePruner(predsD, d.boundsF, fillD, gridStrides, desc)
                case _ => StringPruner(predsS, d.boundsS, fillS, gridStrides, desc)
              }
            }
        } catch { case scala.util.control.NonFatal(_) => None }
      cache.put(b, built)
      built
    }

    def skip(chunkIdx: Array[Int]): Boolean = {
      val ord = ordinalOf(chunkIdx, gridStrides)
      val b = ord / hier.blockLen
      val writtenInBlock = hier.written.getOrElse(b, 0L)
      // level 1: entirely-unwritten block -> pure fill semantics
      if (writtenInBlock == 0L) return !fillCanMatch
      val hasUnwritten = writtenInBlock < hier.chunksIn(b)
      if (!rollupCanMatch(b) && !(hasUnwritten && fillCanMatch)) return true
      // level 2: the block might match — ask its side doc about THIS chunk
      fineOf(b) match {
        case Some(p) => p.skip(chunkIdx)
        case None => false // side doc unavailable: keep (coarse answer)
      }
    }
    def describe: String = s"hier($desc)"
  }

  /** Byte-lexicographic (UTF-8 binary) string min/max — the order the
    * bounds were recorded in; String.compareTo (UTF-16) differs for
    * supplementary characters, so rollup merging must not use it. */
  def byteLexMin(a: String, b: String): String =
    if (UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) <= 0) a else b
  def byteLexMax(a: String, b: String): String =
    if (UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) >= 0) a else b
}
