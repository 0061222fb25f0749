package graft.plans

import scala.language.existentials

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._

/** Per-data-dir column statistics for the manifest snapshot store —
  * the piece that makes [[Snapshots.deleteWhere]]'s file skip a
  * METADATA decision, the way Iceberg's manifests carry per-file
  * min/max/null counts and its InclusiveMetricsEvaluator prunes files
  * before any scan (re-derived here from the published semantics; the
  * reference platform's partition/metadata pruning surface is
  * `/root/reference/README.md:236-268`).
  *
  * Stats are harvested from the parquet FOOTERS the write already
  * produced — a driver-side metadata read per file, no Spark job, no
  * extra data pass — and ride ONLY in the dir's manifest line
  * ([[ManifestEntry.statsJson]], rendered by [[toJson]]); nothing else
  * holds a copy. Collection is best-effort: an entry whose harvest
  * failed carries no stats and simply never prunes (the evaluator's
  * conservative default).
  *
  * Only top-level primitive columns with footer stats are recorded
  * (INT32/INT64/FLOAT/DOUBLE/BOOLEAN, and BINARY with a UTF8
  * annotation); anything else — nested paths, INT96, unannotated
  * binary, or files whose writer suppressed stats — leaves the column
  * absent, which the evaluator treats as unknowable. */
object DirStats {

  /** Stats format version. Bumped when value normalization changes —
    * [[parseJson]] rejects other versions so stale stats degrade to
    * the conservative no-prune path instead of being trusted with
    * yesterday's units. */
  val FormatVersion = 2

  /** Unit-tagged temporal values. Tagging is what makes a CROSS-unit
    * comparison (date column vs timestamp literal, raw-long nanos
    * literal vs micros-normalized stat) evaluate as UNKNOWN — i.e. no
    * pruning — instead of comparing a day count against an epoch-micros
    * count and silently skipping dirs that match. */
  final case class Micros(v: Long)
  final case class Days(v: Long)

  /** min/max are normalized to Long / Double / String / Boolean /
    * [[Micros]] / [[Days]] / java BigDecimal (decimal columns, scaled);
    * `nulls` is -1 when any footer left the null count unset. */
  final case class ColStats(min: Any, max: Any, nulls: Long)
  /** `files`/`bytes` are the dir's physical footprint (parquet file
    * count and total bytes), harvested from the same listing the
    * footer pass walks — they make compaction PLANNING a metadata
    * decision (Iceberg manifests carry `file_size_in_bytes` per entry
    * for the same reason). */
  final case class Stats(rows: Long, cols: Map[String, ColStats],
      files: Long, bytes: Long)

  // ---- collection from footers ---------------------------------------

  /** One column chunk's harvested stats: `mm` = (min, max, nulls) when
    * the footer carried usable values; `allNullNulls` = the null count
    * of an all-null chunk (no min/max, but still summable). Both empty
    * = unusable, which kills the column for the whole dir. */
  private final case class Chunk(name: String, mm: Option[(Any, Any, Long)],
    allNullNulls: Option[Long])

  def collect(dir: java.io.File): Option[Stats] = scala.util.Try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.collection.parallel.CollectionConverters._
    // sorted for a deterministic merge order (listFiles order is
    // filesystem-dependent, and the all-null-first rule below is
    // order-sensitive)
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val conf = new org.apache.hadoop.conf.Configuration()
    // footer READS run in parallel (pure I/O, one open per file — the
    // cost that scales with file count); the order-sensitive merge
    // below stays sequential over the same sorted order (.par.map
    // preserves element order)
    val extracted: Seq[(Long, Seq[Chunk])] = files.par.map { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try {
        val chunks = scala.collection.mutable.ArrayBuffer.empty[Chunk]
        r.getFooter.getBlocks.forEach { blk =>
          blk.getColumns.forEach { cc =>
            val path = cc.getPath.toArray
            if (path.length == 1) {
              val name = path(0)
              val pt = cc.getPrimitiveType
              val st = cc.getStatistics
              val isUtf8 = pt.getLogicalTypeAnnotation ==
                LogicalTypeAnnotation.stringType()
              // `isMax` drives INCLUSIVE rounding where normalization
              // loses precision (nanos→micros): min rounds DOWN, max
              // rounds UP, so the normalized range always covers the
              // true one — a pre-epoch sub-micro max must not floor
              // itself below a row that truncate-toward-zero loading
              // keeps.
              def norm(v: Any, isMax: Boolean): Option[Any] =
                pt.getPrimitiveTypeName match {
                case INT32 =>
                  val i = v.asInstanceOf[java.lang.Integer].intValue()
                  pt.getLogicalTypeAnnotation match {
                    case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
                      Some(Days(i.toLong))
                    case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                      // unscaled int ⇒ scaled value: raw 30000000000
                      // for DECIMAL(13,9) 30.0 would otherwise compare
                      // against a double literal 40.5 and mis-prune
                      Some(java.math.BigDecimal.valueOf(i.toLong, d.getScale))
                    case iv: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                        if !iv.isSigned => None // uint stats wrap; skip
                    case _ => Some(i.toLong)
                  }
                case INT64 =>
                  val l = v.asInstanceOf[java.lang.Long].longValue()
                  pt.getLogicalTypeAnnotation match {
                    // Timestamp stats carry the FILE's unit; Catalyst
                    // timestamp literals are MICROS since epoch. The
                    // testdata has shipped as both TIMESTAMP(MICROS)
                    // and TIMESTAMP(NANOS) across generations (see the
                    // loadEvents gotcha), so normalize to micros and
                    // TAG the value — comparing nanos stats against a
                    // micros literal raw would mis-prune by 1000×, and
                    // tagging keeps raw-long literals incomparable
                    // (unknown ⇒ no prune) instead of wrong.
                    case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                      ts.getUnit match {
                        case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                          Some(Micros(l * 1000L))
                        case LogicalTypeAnnotation.TimeUnit.MICROS =>
                          Some(Micros(l))
                        case LogicalTypeAnnotation.TimeUnit.NANOS =>
                          Some(Micros(if (isMax) -Math.floorDiv(-l, 1000L)
                            else Math.floorDiv(l, 1000L)))
                        case _ => None
                      }
                    case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                      Some(java.math.BigDecimal.valueOf(l, d.getScale))
                    case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation =>
                      None
                    case iv: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                        if !iv.isSigned => None
                    case _ => Some(l)
                  }
                case FLOAT => Some(v.asInstanceOf[java.lang.Float].doubleValue())
                case DOUBLE => Some(v.asInstanceOf[java.lang.Double].doubleValue())
                case BOOLEAN => Some(v.asInstanceOf[java.lang.Boolean].booleanValue())
                case BINARY if isUtf8 => Some(
                  v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                case _ => None
              }
              val mm = for {
                s <- Option(st) if s.hasNonNullValue
                mn <- norm(s.genericGetMin, isMax = false)
                mx <- norm(s.genericGetMax, isMax = true)
              } yield (mn, mx, if (s.isNumNullsSet) s.getNumNulls else -1L)
              val allNullNulls = Option(st)
                .filter(s => !s.hasNonNullValue && s.isNumNullsSet)
                .map(_.getNumNulls)
              chunks += Chunk(name, mm, allNullNulls)
            }
          }
        }
        (r.getRecordCount, chunks.toSeq)
      } finally r.close()
    }.seq.toSeq
    // name -> (min, max, nulls); dropped from the map = unknowable
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, ColStats]
    val dead = scala.collection.mutable.Set.empty[String]
    var rows = 0L
    extracted.foreach { case (fileRows, chunks) =>
      rows += fileRows
      chunks.foreach { case Chunk(name, mm, allNullNulls) =>
        mm.filter(_ => !dead.contains(name)) match {
          case None =>
            // this chunk has no usable stats — an all-null chunk
            // (no non-null value, but null-counted) is still
            // summable if the column is ALREADY known; any other
            // no-stats shape (including all-null-first, whose
            // null count we'd otherwise lose) kills the column
            allNullNulls match {
              case Some(nu) if acc.contains(name) =>
                val p = acc(name)
                acc(name) = p.copy(nulls =
                  if (p.nulls < 0) -1 else p.nulls + nu)
              case _ => dead += name; acc.remove(name)
            }
          case Some((mn, mx, nu)) => acc.get(name) match {
            case None if !dead.contains(name) =>
              acc(name) = ColStats(mn, mx, nu)
            case Some(p) =>
              val lo = cmp(mn, p.min); val hi = cmp(mx, p.max)
              // an INCOMPARABLE merge (same column name carrying, say,
              // Days in one file and Micros in another) must kill the
              // column, not keep the prior bound: keeping it would
              // under-cover the true range and mayMatch could prune a
              // dir that holds matching rows. Unreachable via stageEntry
              // (uniform schema per dir) but collect() accepts any dir.
              if (lo.isEmpty || hi.isEmpty) { dead += name; acc.remove(name) }
              else acc(name) = ColStats(
                if (lo.exists(_ < 0)) mn else p.min,
                if (hi.exists(_ > 0)) mx else p.max,
                if (p.nulls < 0 || nu < 0) -1 else p.nulls + nu)
            case _ => ()
          }
        }
      }
    }
    Stats(rows, acc.toMap, files.length.toLong, files.map(_.length()).sum)
  }.toOption

  /** One-line JSON rendering of a [[Stats]] — the inline stats field
    * of a manifest line. Strings go through [[graft.core.Jsonish]]
    * so the output contains no literal tab/newline — a hard requirement
    * for embedding in the tab-separated, line-per-entry manifest. */
  def toJson(st: Stats): String = {
    import graft.core.Jsonish.jstr
    def jval(v: Any): String = v match {
      case s: String => jstr(s)
      case b: Boolean => b.toString
      case d: Double => // JSON-safe: NaN/Inf aren't JSON literals
        if (d.isNaN || d.isInfinite) jstr(d.toString) else d.toString
      case l: Long => l.toString
      case Micros(m) => m.toString
      case Days(d) => d.toString
      case bd: java.math.BigDecimal => jstr(bd.toPlainString)
      case other => jstr(other.toString)
    }
    def tag(v: Any): String = v match {
      case _: String => "s"; case _: Boolean => "b"
      case _: Double => "d"; case _: Micros => "tm"
      case _: Days => "dy"; case _: java.math.BigDecimal => "n"
      case _ => "l"
    }
    val cols = st.cols.map { case (n, c) =>
      s"${jstr(n)}:{" +
        s""""t":${jstr(tag(c.min))},"min":${jval(c.min)},""" +
        s""""max":${jval(c.max)},"nulls":${c.nulls}}"""
    }.mkString("{", ",", "}")
    s"""{"v":$FormatVersion,"rows":${st.rows},"files":${st.files},""" +
      s""""bytes":${st.bytes},"cols":$cols}"""
  }

  /** Parse a [[toJson]] rendering. None on malformed input, a format
    * version mismatch, or a body missing `files`/`bytes`: stats written
    * under other rules (e.g. pre-v2 raw timestamp longs) must fall back
    * to the conservative no-stats path, not be trusted with stale units
    * or a fabricated footprint. */
  def parseJson(json: String): Option[Stats] = scala.util.Try {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(json)
    if (root.get("v") == null || root.get("v").asInt() != FormatVersion ||
        root.get("files") == null || root.get("bytes") == null)
      None
    else {
      val cols = scala.collection.mutable.LinkedHashMap.empty[String, ColStats]
      val it = root.get("cols").properties().iterator()
      while (it.hasNext) {
        val e = it.next(); val c = e.getValue
        def v(k: String): Any = c.get("t").asText() match {
          case "s" => c.get(k).asText()
          case "b" => c.get(k).asBoolean()
          case "d" => if (c.get(k).isTextual) c.get(k).asText().toDouble
                      else c.get(k).asDouble()
          case "tm" => Micros(c.get(k).asLong())
          case "dy" => Days(c.get(k).asLong())
          case "n" => new java.math.BigDecimal(c.get(k).asText())
          case _ => c.get(k).asLong()
        }
        cols(e.getKey) = ColStats(v("min"), v("max"), c.get("nulls").asLong())
      }
      Some(Stats(root.get("rows").asLong(), cols.toMap,
        root.get("files").asLong(), root.get("bytes").asLong()))
    }
  }.toOption.flatten

  // ---- inclusive metrics evaluation ----------------------------------

  /** Total order between a normalized literal and a normalized stats
    * value; None when incomparable — callers must treat None as
    * "unknown ⇒ may match". Unit-tagged temporals only compare within
    * their tag; NaN/Infinity degrade to unknown (BigDecimal can't
    * represent them, and NaN has no order — a crash here would fail
    * the whole scan instead of just skipping a prune). */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (Micros(x), Micros(y)) => Some(x.compare(y))
    case (Days(x), Days(y)) => Some(x.compare(y))
    case (x: Number, y: Number) =>
      for (p <- bd(x); q <- bd(y)) yield p.compare(q)
    case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
    case (x, y) =>
      val sx = asStr(x); val sy = asStr(y)
      // parquet string stats order by UTF-8 bytes = code points; Java
      // compare orders by UTF-16 code units. They agree only while
      // both strings are BMP-only (no surrogates) — beyond that the
      // orders diverge (U+10000 sorts below U+E000 in UTF-16) and a
      // "prune" would skip a dir that holds the exact value.
      for {
        p <- sx; q <- sy
        if bmpOnly(p) && bmpOnly(q)
      } yield p.compare(q)
  }

  private def bd(n: Number): Option[BigDecimal] = n match {
    case d: java.lang.Double =>
      if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d.doubleValue()))
    case f: java.lang.Float =>
      if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.doubleValue()))
    case other => scala.util.Try(BigDecimal(other.toString)).toOption
  }

  private def asStr(x: Any): Option[String] = x match {
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case s: String => Some(s); case _ => None
  }

  private def bmpOnly(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (Character.isSurrogate(s.charAt(i))) return false
      i += 1
    }
    true
  }

  private object AttrName {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute => Some(u.name)
      case _ => None
    }
  }

  /** Column-API predicates arrive ANALYZER-unresolved: the node
    * converter leaves `a <= b` as `UnresolvedFunction("<=", …)` because
    * operator→expression mapping lives in the FunctionRegistry. Map the
    * handful of operators the evaluator understands; anything else stays
    * unresolved and falls through to `case _ => true` (conservative). */
  private def resolveOps(e: Expression): Expression = e.transformUp {
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.lengthCompare(1) == 0 && !f.isDistinct &&
          f.filter.isEmpty =>
      val a = f.arguments
      (f.nameParts.head.toLowerCase(java.util.Locale.ROOT), a) match {
        case ("<", Seq(l, r)) => LessThan(l, r)
        case ("<=", Seq(l, r)) => LessThanOrEqual(l, r)
        case (">", Seq(l, r)) => GreaterThan(l, r)
        case (">=", Seq(l, r)) => GreaterThanOrEqual(l, r)
        case ("=" | "==", Seq(l, r)) => EqualTo(l, r)
        case ("and", Seq(l, r)) => And(l, r)
        case ("or", Seq(l, r)) => Or(l, r)
        case ("not", Seq(c)) => Not(c)
        case ("isnull", Seq(c)) => IsNull(c)
        case ("isnotnull", Seq(c)) => IsNotNull(c)
        case ("in", l +: rest) if rest.nonEmpty => In(l, rest)
        case _ => f
      }
  }

  /** Inclusive evaluation of `pred` against a dir's stats: false ⇒ NO
    * row in the dir can satisfy the predicate (safe to skip the file
    * without reading it); true ⇒ unknown or possible. Conservative on
    * every shape it doesn't understand — which is what makes adding
    * cases an optimization, never a correctness change. Comparison
    * semantics are SQL's: a NULL cell never satisfies a comparison,
    * so null counts only matter to IsNull/IsNotNull. */
  def mayMatch(pred: Expression, st: Stats): Boolean =
    evalMay(resolveOps(pred), st)

  /** Normalize a Catalyst literal into the stats value space, USING
    * its dataType: timestamp literals become [[Micros]], date literals
    * [[Days]], decimal literals scaled BigDecimals. Tagging the
    * literal side is what stops a date column's day-count stats from
    * being compared against an epoch-micros timestamp literal as two
    * bare numbers — the analyzer's implicit cast never runs here (the
    * predicate arrives unresolved), so an untagged comparison would
    * prune every dir. None ⇒ unsupported literal ⇒ no prune. */
  private def litVal(v: Any, dt: org.apache.spark.sql.types.DataType)
      : Option[Any] = {
    import org.apache.spark.sql.types._
    if (v == null) None
    else dt match {
      case TimestampType | TimestampNTZType =>
        Some(Micros(v.asInstanceOf[java.lang.Long].longValue()))
      case DateType =>
        Some(Days(v.asInstanceOf[java.lang.Integer].longValue()))
      case _: DecimalType => v match {
        case d: Decimal => Some(d.toJavaBigDecimal)
        case _ => None
      }
      case _: NumericType | StringType | BooleanType => Some(v)
      case _ => None
    }
  }

  private def evalMay(pred: Expression, st: Stats): Boolean = {
    if (st.rows == 0) return false // an empty dir matches nothing
    def col(n: String): Option[ColStats] = st.cols.get(n)
    pred match {
      case And(l, r) => evalMay(l, st) && evalMay(r, st)
      case Or(l, r) => evalMay(l, st) || evalMay(r, st)
      case EqualTo(AttrName(n), Literal(v, dt)) =>
        litVal(v, dt).forall(containsValue(col(n), _))
      case EqualTo(Literal(v, dt), AttrName(n)) =>
        litVal(v, dt).forall(containsValue(col(n), _))
      case GreaterThan(AttrName(n), Literal(v, dt)) =>
        litVal(v, dt).forall(above(col(n), _, strict = true))
      case GreaterThanOrEqual(AttrName(n), Literal(v, dt)) =>
        litVal(v, dt).forall(above(col(n), _, strict = false))
      case LessThan(AttrName(n), Literal(v, dt)) =>
        litVal(v, dt).forall(below(col(n), _, strict = true))
      case LessThanOrEqual(AttrName(n), Literal(v, dt)) =>
        litVal(v, dt).forall(below(col(n), _, strict = false))
      // literal-first comparisons flip
      case GreaterThan(Literal(v, dt), AttrName(n)) =>
        litVal(v, dt).forall(below(col(n), _, strict = true))
      case GreaterThanOrEqual(Literal(v, dt), AttrName(n)) =>
        litVal(v, dt).forall(below(col(n), _, strict = false))
      case LessThan(Literal(v, dt), AttrName(n)) =>
        litVal(v, dt).forall(above(col(n), _, strict = true))
      case LessThanOrEqual(Literal(v, dt), AttrName(n)) =>
        litVal(v, dt).forall(above(col(n), _, strict = false))
      case In(AttrName(n), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, dt) =>
          litVal(v, dt).forall(containsValue(col(n), _)) }
      case IsNull(AttrName(n)) =>
        col(n).forall(c => c.nulls != 0) // -1 (unknown) stays true
      case IsNotNull(AttrName(n)) =>
        col(n).forall(c => c.nulls < 0 || c.nulls < st.rows)
      case _ => true
    }
  }

  /** Whether a data dir described by `data` can contain any equality-
    * key tuple present in a delete dir described by `del` — the
    * metadata-only delete-applicability test (Iceberg's manifest-level
    * "can this delete file touch this data file" check). Per key
    * column, possible iff the non-null [min,max] ranges overlap OR both
    * sides can hold a null key (null-safe delete semantics: null
    * matches null). Conservative true whenever either side's stats are
    * missing or incomparable — callers use false only as a proof of
    * disjointness. Multi-column keys AND the per-column tests (an
    * over-approximation of tuple equality, safe in the same
    * direction). */
  def mayContainDeleteKeys(data: Option[Stats], del: Option[Stats],
      keys: Seq[String]): Boolean = (data, del) match {
    case (Some(ds), Some(xs)) =>
      if (ds.rows == 0 || xs.rows == 0) false
      else keys.forall { k =>
        (ds.cols.get(k), xs.cols.get(k)) match {
          case (Some(a), Some(b)) =>
            val rangesOverlap = !(cmp(a.max, b.min).exists(_ < 0) ||
              cmp(a.min, b.max).exists(_ > 0))
            // nulls == -1 (unknown) must count as "maybe null"
            val nullOverlap = a.nulls != 0 && b.nulls != 0
            rangesOverlap || nullOverlap
          case _ => true // column unknowable on a side: no proof
        }
      }
    case _ => true
  }

  /** min ≤ v ≤ max (unknown ⇒ true). */
  private def containsValue(c: Option[ColStats], v: Any): Boolean =
    c.forall { cs =>
      val lo = cmp(v, cs.min); val hi = cmp(v, cs.max)
      !(lo.exists(_ < 0) || hi.exists(_ > 0))
    }

  /** some cell can be >(=) v ⇔ max >(=) v (unknown ⇒ true). */
  private def above(c: Option[ColStats], v: Any, strict: Boolean): Boolean =
    c.forall(cs => cmp(cs.max, v)
      .forall(x => if (strict) x > 0 else x >= 0))

  /** some cell can be <(=) v ⇔ min <(=) v (unknown ⇒ true). */
  private def below(c: Option[ColStats], v: Any, strict: Boolean): Boolean =
    c.forall(cs => cmp(cs.min, v)
      .forall(x => if (strict) x < 0 else x <= 0))
}
