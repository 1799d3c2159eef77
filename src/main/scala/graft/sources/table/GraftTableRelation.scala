package graft.sources.table

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.catalog.VersionedTable

/** Batch reads/writes of a [[VersionedTable]] through the DataSource syntax — the
  * Delta `format("delta")` surface, so a reader never needs the Scala API:
  *
  * {{{
  *   spark.read.format("graft-table").load(loc)                        // latest
  *   spark.read.format("graft-table").option("versionAsOf", 3).load(loc)
  *   spark.read.format("graft-table").option("timestampAsOf", "2026-01-01T00:00:00Z").load(loc)
  *   spark.read.format("graft-table").option("readChangeFeed", "true")
  *     .option("startingVersion", 1).option("endingVersion", 4).load(loc)
  *   df.write.format("graft-table").mode("append").save(loc)
  *   df.write.format("graft-table").option("partitionBy", "d").mode("overwrite").save(loc)
  *   CREATE TABLE t USING `graft-table` OPTIONS (path '<loc>')         // SQL users
  * }}}
  *
  * Plan quality is the point of the design: [[VersionedTable.readAsOf]] already
  * resolves to ONE native parquet scan over the log-resolved file index, so for
  * the common case [[GraftTableRelations.snapshotRelation]] unwraps and returns
  * that scan's own `HadoopFsRelation` — the DataSource path yields the IDENTICAL
  * vectorized, pushdown-capable plan as the Scala API, not an RDD[Row] detour.
  * Only snapshots that are more than one relation (deletion vectors, renamed or
  * added columns, declared widenings) and the change-feed read (a union by
  * construction) use the [[DataFrameRelation]] fallback, which still pushes
  * column pruning and filters into the underlying parquet scans before bridging
  * to RDD.
  */
object GraftTableRelations {

  def snapshotRelation(ctx: SQLContext, location: String,
      params: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val version = params.get("versionasof").map(_.toLong)
      .orElse(params.get("timestampasof").map { ts =>
        val cutoff = java.time.Instant.parse(ts) // user input: fail loudly if malformed
        // monotonic effective stamps (VersionedTable.versionAtOrBefore):
        // version order dominates raw wall-clock order, and a corrupt legacy
        // stamp never matches a cutoff on its own — same policy as the
        // catalog's TIMESTAMP AS OF and the vacuum retention sweep
        VersionedTable.versionAtOrBefore(spark, location, cutoff).getOrElse(
          throw new IllegalArgumentException(
            s"no commit at $location at or before $ts — earliest is " +
              VersionedTable.commits(spark, location).head.timestamp))
      })
    val df = version match {
      case Some(v) => VersionedTable.readAsOf(spark, location, v)
      case None => VersionedTable.read(spark, location)
    }
    df.queryExecution.analyzed match {
      // the fast path: the snapshot IS one parquet relation — serve it directly
      case lr: LogicalRelation => lr.relation
      case _ => new DataFrameRelation(ctx, df)
    }
  }

  def changeFeedRelation(ctx: SQLContext, location: String,
      params: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val cs = VersionedTable.commits(spark, location)
    require(cs.nonEmpty, s"no commits at $location")
    val from = params.get("startingversion").map(_.toLong).getOrElse(0L)
    val to = params.get("endingversion").map(_.toLong).getOrElse(cs.last.version)
    new DataFrameRelation(ctx, VersionedTable.readChanges(spark, location, from, to,
      allowFullRewrites = params.get("ignorechanges").exists(_.toBoolean)))
  }
}

/** V1 bridge for plans that are not a single file relation (deletion-vector
  * joins, change feeds). Column pruning and filters are applied to the DataFrame BEFORE
  * the RDD bridge, so they reach the parquet branches through the Union — the scan
  * reads only what survives pushdown; Spark re-applies the filters on top, which is
  * harmless (handledFilters stays conservative).
  */
class DataFrameRelation(ctx: SQLContext, df: DataFrame)
  extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: SQLContext = ctx
  override val schema: StructType = df.schema

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val filtered = filters.flatMap(FilterTranslation.toColumn).foldLeft(df)(_.filter(_))
    val pruned =
      if (requiredColumns.isEmpty) filtered
      else filtered.select(requiredColumns.map(col).toIndexedSeq: _*)
    pruned.rdd
  }
}

/** Source filters → Column predicates; None for shapes we cannot translate
  * (Spark evaluates them post-scan either way — translation is pure pushdown).
  * Shared by the V1 relation, the DSv2 scan builder, and the DSv2 DELETE path.
  */
private[table] object FilterTranslation {

  /** Source filters → an ANSI SQL predicate string — the DSv2 DELETE path hands
    * conditions to [[graft.catalog.VersionedTable.deleteWhere]] as SQL text.
    * Literals render through Catalyst's `Literal.sql` (typed, escaped: strings get
    * quotes, dates/timestamps their type prefix), column names are backtick-quoted.
    * None for untranslatable shapes — the DELETE then fails analysis loudly instead
    * of guessing.
    */
  def toSql(f: Filter): Option[String] = {
    def lit(v: Any): String =
      org.apache.spark.sql.catalyst.expressions.Literal(v).sql
    def q(a: String): String =
      a.split('.').map(p => s"`${p.replace("`", "``")}`").mkString(".")
    f match {
      case EqualTo(a, v) => Some(s"(${q(a)} = ${lit(v)})")
      case EqualNullSafe(a, v) => Some(s"(${q(a)} <=> ${lit(v)})")
      case GreaterThan(a, v) => Some(s"(${q(a)} > ${lit(v)})")
      case GreaterThanOrEqual(a, v) => Some(s"(${q(a)} >= ${lit(v)})")
      case LessThan(a, v) => Some(s"(${q(a)} < ${lit(v)})")
      case LessThanOrEqual(a, v) => Some(s"(${q(a)} <= ${lit(v)})")
      case In(a, vs) => Some(s"(${q(a)} IN (${vs.map(lit).mkString(", ")}))")
      case IsNull(a) => Some(s"(${q(a)} IS NULL)")
      case IsNotNull(a) => Some(s"(${q(a)} IS NOT NULL)")
      case StringStartsWith(a, v) => Some(s"startswith(${q(a)}, ${lit(v)})")
      case StringEndsWith(a, v) => Some(s"endswith(${q(a)}, ${lit(v)})")
      case StringContains(a, v) => Some(s"contains(${q(a)}, ${lit(v)})")
      case And(l, r) => for (ls <- toSql(l); rs <- toSql(r)) yield s"($ls AND $rs)"
      case Or(l, r) => for (ls <- toSql(l); rs <- toSql(r)) yield s"($ls OR $rs)"
      case Not(c) => toSql(c).map(s => s"(NOT $s)")
      case AlwaysTrue() => Some("true")
      case AlwaysFalse() => Some("false")
      case _ => None
    }
  }

  /** Per-column `[lo, hi]` ranges implied by a pushed-filter CONJUNCTION —
    * the commit-level data-skipping probe ([[graft.catalog.VersionedTable
    * .readPrunedConjunction]]). Only shapes that bound a single NUMERIC or
    * STRING column contribute (equality, comparisons, IN; And recurses);
    * everything else contributes nothing — pruning is a pure optimization, so
    * missing a bound only costs skipped commits, never correctness. Strict
    * bounds relax to inclusive (commit stats prune on closed-interval
    * overlap). Multiple bounds on one column intersect.
    */
  def ranges(filters: Seq[Filter],
      schema: org.apache.spark.sql.types.StructType)
      : (Map[String, (Double, Double)], Map[String, (String, String)]) = {
    val numeric = schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        f.name.toLowerCase
    }.toSet
    val strings = schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType =>
        f.name.toLowerCase
    }.toSet
    def bounds(f: Filter): Seq[(String, Any, Any)] = f match {
      case EqualTo(a, v) if v != null => Seq((a, v, v))
      case EqualNullSafe(a, v) if v != null => Seq((a, v, v))
      case GreaterThan(a, v) if v != null => Seq((a, v, null))
      case GreaterThanOrEqual(a, v) if v != null => Seq((a, v, null))
      case LessThan(a, v) if v != null => Seq((a, null, v))
      case LessThanOrEqual(a, v) if v != null => Seq((a, null, v))
      // LIKE 'p%' bounds the column to [p, p + high-sentinel] — sound against
      // recorded stats because sstats hold ASCII-safe values only: any value
      // that could outrun the sentinel suffix (or start beyond ASCII) makes
      // its batch's max unsafe, so that commit records nothing and is kept
      case StringStartsWith(a, p) if p != null && p.nonEmpty =>
        Seq((a, p, p + "￿" * 8))
      case And(l, r) => bounds(l) ++ bounds(r)
      case _ => Seq.empty // In(...) is handled by inValues below
    }
    def inValues(f: Filter): Seq[(String, Seq[Any])] = f match {
      case In(a, vs) if vs.nonEmpty && vs.forall(_ != null) => Seq((a, vs.toSeq))
      case And(l, r) => inValues(l) ++ inValues(r)
      case _ => Seq.empty
    }
    val num = scala.collection.mutable.Map.empty[String, (Double, Double)]
    val str = scala.collection.mutable.Map.empty[String, (String, String)]
    def narrowNum(a: String, lo: Double, hi: Double): Unit = {
      val (l0, h0) = num.getOrElse(a, (Double.NegativeInfinity, Double.PositiveInfinity))
      num(a) = (math.max(l0, lo), math.min(h0, hi))
    }
    def narrowStr(a: String, lo: Option[String], hi: Option[String]): Unit = {
      val cur = str.get(a)
      val l = (cur.map(_._1).toSeq ++ lo.toSeq).maxOption
      val h0 = cur.map(_._2).toSeq ++ hi.toSeq
      // an absent hi bound is +inf — only take min over PRESENT his
      val h = if (h0.isEmpty) None else Some(h0.min)
      (l, h) match {
        case (Some(lv), Some(hv)) => str(a) = (lv, hv)
        case (Some(lv), None) => str(a) = (lv, "￿" * 8) // open top: a high sentinel
        case (None, Some(hv)) => str(a) = ("", hv)
        case _ => ()
      }
    }
    filters.foreach { f =>
      bounds(f).foreach { case (a0, lo, hi) =>
        val a = a0.toLowerCase
        if (numeric.contains(a)) (lo, hi) match {
          case (l: Number, h: Number) => narrowNum(a, l.doubleValue, h.doubleValue)
          case (l: Number, null) => narrowNum(a, l.doubleValue, Double.PositiveInfinity)
          case (null, h: Number) => narrowNum(a, Double.NegativeInfinity, h.doubleValue)
          case _ => ()
        } else if (strings.contains(a)) (lo, hi) match {
          case (l: String, h: String) => narrowStr(a, Some(l), Some(h))
          case (l: String, null) => narrowStr(a, Some(l), None)
          case (null, h: String) => narrowStr(a, None, Some(h))
          case _ => ()
        }
      }
      inValues(f).foreach { case (a0, vs) =>
        val a = a0.toLowerCase
        if (numeric.contains(a) && vs.forall(_.isInstanceOf[Number])) {
          val ds = vs.map(_.asInstanceOf[Number].doubleValue)
          narrowNum(a, ds.min, ds.max)
        } else if (strings.contains(a) && vs.forall(_.isInstanceOf[String])) {
          val ss = vs.map(_.asInstanceOf[String])
          narrowStr(a, Some(ss.min), Some(ss.max))
        }
      }
    }
    // an inverted (empty) range means contradictory filters — zero rows; keep
    // the range as-is: no commit's [min,max] can overlap an empty interval,
    // so everything prunes and the schema-only scan returns nothing
    (num.toMap, str.toMap)
  }

  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}

/** DERIVED PARTITION PRUNING from generated columns (Delta parity): a table
  * partitioned by a declared `day = CAST(ts AS DATE)` never sees its
  * partitions pruned by a plain `WHERE ts BETWEEN ...` — the filter names the
  * SOURCE column, not the partition column. Because generated values are
  * write-validated against their expression (the staged pass refuses a batch
  * where `g <=> expr` fails), a range on the source column IMPLIES a range on
  * any MONOTONE generated transform of it, so an extra `g BETWEEN f(lo),
  * f(hi)` predicate is semantics-free and lets hive partition pruning drop
  * whole directories before a file is listed. Recognized shapes — exactly the
  * monotone date derivations a partition column is declared with:
  * `CAST(src AS DATE)`, `to_date(src)`, `date_trunc('<unit>', src)`. The
  * non-monotone ones (`month(src)`, `src % n`) are deliberately NOT derived.
  */
private[table] object DerivedPruning {

  private val CastDate =
    "(?i)^\\s*CAST\\s*\\(\\s*`?([A-Za-z0-9_]+)`?\\s+AS\\s+DATE\\s*\\)\\s*$".r
  private val ToDate =
    "(?i)^\\s*to_date\\s*\\(\\s*`?([A-Za-z0-9_]+)`?\\s*\\)\\s*$".r
  private val DateTrunc =
    "(?i)^\\s*date_trunc\\s*\\(\\s*'([A-Za-z]+)'\\s*,\\s*`?([A-Za-z0-9_]+)`?\\s*\\)\\s*$".r

  /** Extra predicates implied by the pushed filters and the table's declared
    * generated columns; empty when nothing derivable. Bounds are taken from
    * equality/comparison shapes over timestamp-valued literals; strict bounds
    * relax to inclusive (monotone transforms preserve ≤, which is all
    * partition pruning needs).
    */
  def predicates(spark: org.apache.spark.sql.SparkSession, location: String,
      filters: Seq[Filter]): Seq[org.apache.spark.sql.Column] = {
    val gen = VersionedTable.generatedColumns(spark, location)
    if (gen.isEmpty) return Nil
    // (source column → transform of a literal Column) per recognized shape
    val derivations: Seq[(String, String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] =
      gen.toSeq.flatMap { case (g, sql) =>
        sql match {
          case CastDate(src) => Some((g, src.toLowerCase,
            (c: org.apache.spark.sql.Column) => c.cast("date")))
          case ToDate(src) => Some((g, src.toLowerCase,
            (c: org.apache.spark.sql.Column) => to_date(c)))
          case DateTrunc(unit, src) => Some((g, src.toLowerCase,
            (c: org.apache.spark.sql.Column) => date_trunc(unit, c)))
          case _ => None
        }
      }
    if (derivations.isEmpty) return Nil
    // timestamp-valued [lo, hi] bounds per filtered column
    def tsLit(v: Any): Option[org.apache.spark.sql.Column] = v match {
      case t: java.sql.Timestamp => Some(lit(t))
      case i: java.time.Instant => Some(lit(i))
      case d: java.sql.Date => Some(lit(d).cast("timestamp"))
      case d: java.time.LocalDate => Some(lit(d).cast("timestamp"))
      case _ => None
    }
    val lows = scala.collection.mutable.Map
      .empty[String, org.apache.spark.sql.Column]
    val highs = scala.collection.mutable.Map
      .empty[String, org.apache.spark.sql.Column]
    def noteLo(a: String, v: Any): Unit =
      tsLit(v).foreach { c =>
        // intersecting bounds: greatest of the lows
        lows(a.toLowerCase) =
          lows.get(a.toLowerCase).map(greatest(_, c)).getOrElse(c)
      }
    def noteHi(a: String, v: Any): Unit =
      tsLit(v).foreach { c =>
        highs(a.toLowerCase) =
          highs.get(a.toLowerCase).map(least(_, c)).getOrElse(c)
      }
    def walk(f: Filter): Unit = f match {
      case EqualTo(a, v) if v != null => noteLo(a, v); noteHi(a, v)
      case EqualNullSafe(a, v) if v != null => noteLo(a, v); noteHi(a, v)
      case GreaterThan(a, v) if v != null => noteLo(a, v)
      case GreaterThanOrEqual(a, v) if v != null => noteLo(a, v)
      case LessThan(a, v) if v != null => noteHi(a, v)
      case LessThanOrEqual(a, v) if v != null => noteHi(a, v)
      case And(l, r) => walk(l); walk(r)
      case _ => ()
    }
    filters.foreach(walk)
    // TIMEZONE SAFETY: the generated values were computed and write-validated
    // under the WRITING session's timezone; `derive` here evaluates under the
    // READING session's. The two local clocks differ by < 26 h (the extreme
    // UTC-12..+14 spread), so deriving from the input shifted ±2 days
    // brackets the writer's derivation for every monotone calendar transform:
    // f_reader(t - 2d) <= f_writer(t) <= f_reader(t + 2d). The widened bound
    // keeps at most two extra partitions per side — still O(queried range)
    // pruning — where the unwidened bound could silently DROP a partition
    // holding matching rows written under a different timezone.
    val pad = expr("INTERVAL 2 DAYS")
    derivations.flatMap { case (g, src, derive) =>
      val parts = lows.get(src).map(c => col(g) >= derive(c - pad)).toSeq ++
        highs.get(src).map(c => col(g) <= derive(c + pad))
      parts.reduceOption(_ && _)
    }
  }
}
