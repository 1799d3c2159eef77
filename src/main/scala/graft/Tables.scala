package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata,
  HadoopFsRelation, LogicalRelation}

/** Harness-table loader (see /root/repo/TESTDATA.md). One parquet file per table. */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred schema per table file, JVM-wide. `spark.read.parquet(path)` runs a
    * footer-sniffing Spark JOB at plan-build time — ~30 ms of driver/scheduler
    * round-trip PER TABLE PER QUERY INVOCATION, paid again on every re-plan of
    * the same static file. A real deployment gets the schema from its catalog,
    * not from re-reading footers per query; this map is that catalog (schema
    * METADATA only — every query still computes its results from the parquet
    * data). Keyed by (path, mtime) so a regenerated file re-infers.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // harness generations have shipped events.parquet as TIMESTAMP(NANOS); the flag
    // makes those read as long nanos instead of failing (no-op on µs generations)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val mtime = try new java.io.File(path).lastModified() catch {
      case _: SecurityException => 0L
    }
    val schema = schemaCache.computeIfAbsent((path, mtime),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** events with `ts` normalized to a session-zone TIMESTAMP regardless of how the
    * harness generation stored it — as TIMESTAMP(NANOS) (read as long nanos under
    * `nanosAsLong`; integer `div`, double division would lose precision at ~1.7e18),
    * as TIMESTAMP_NTZ (µs, naive — cast is wall-clock identity under the UTC
    * session zone), or already as TIMESTAMP.
    */
  def eventsMicros(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Parquet footer metadata (row count, row-group count) per source file,
    * cached JVM-wide like the schema: a plain driver-side footer read — NO
    * Spark job, no RDD instantiation — keyed by the file's Hadoop status
    * (path, modification time, length), so a file rewritten in place on any
    * filesystem is read afresh. [[spread]] consults it instead of probing
    * `df.rdd.getNumPartitions`, which eagerly planned the scan (file listing +
    * partition math) on every invocation. Cleared past [[MaxFooters]] entries.
    */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), (Long, Int)]()
  private val MaxFooters = 100 * 1000

  private def footerMeta(spark: SparkSession, f: FileStatusWithMetadata): (Long, Int) = {
    if (footerCache.size > MaxFooters) footerCache.clear()
    footerCache.computeIfAbsent(
      (f.getPath.toString, f.getModificationTime, f.getLen), _ => {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          f.getPath, spark.sessionState.newHadoopConf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (r.getRecordCount, r.getFooter.getBlocks.size())
        finally r.close()
      })
  }

  /** Scale-adaptive input spread for CPU-heavy per-row operators (optimization
    * guide §2.5, input skew: "one huge unsplittable file … otherwise repartition
    * immediately after the read"): the harness tables are SINGLE-row-group
    * parquet files, so every scan collapses to one task and per-row work
    * (codecs, regex chains, HOF arrays) runs on one core of the whole machine
    * no matter how many are available. When the input's natural parallelism
    * (the source files' ROW-GROUP count — a parquet row group is the unit a
    * scan can split on, read driver-side from the cached footers, no job) is
    * below the session's default parallelism, hash-repartition on the (unique)
    * id column — deterministic keys, even spread, and column pruning still
    * pushes below the exchange. At real scale a scan already carries more
    * partitions than cores, the branch is not taken, and this is the identity —
    * the exchange exists exactly when the input is by construction tiny.
    *
    * SIZE-AWARE target: `min(defaultParallelism, max(1, rows / minRowsPerTask))`
    * — a tiny input never fans out into near-empty tasks whose scheduling
    * overhead exceeds the parallelism gain (round-15 finding: the fixed
    * 32-way target made several light gates FASTER at 8 cores than 32).
    * Knobs (parameterised per the optimization contract; local defaults keep
    * the harness bench comparable, production tunes via conf):
    *  - `spark.graft.spread.mode` (or env SPARK_GRAFT_SPREAD): `auto` | `off`.
    *  - `spark.graft.spread.minRowsPerTask`: default 8; a value that is not a
    *    positive integer falls back to 8.
    *
    * Caveats: an input with no `HadoopFsRelation` leaf (an in-memory or
    * `createDataFrame` frame) is returned unchanged; and the row count the
    * `minRowsPerTask` guard divides is the leaf files' total BEFORE any filter
    * above them, so a selective filter still fans out to the full target.
    */
  def spread(df: DataFrame, byCol: String): DataFrame = {
    val spark = df.sparkSession
    val mode = spark.conf.getOption("spark.graft.spread.mode")
      .orElse(sys.env.get("SPARK_GRAFT_SPREAD")).getOrElse("auto")
    if (mode == "off") return df
    val cores = spark.sparkContext.defaultParallelism
    // the source files' statuses, from the analyzed plan's file indexes
    val files = df.queryExecution.analyzed.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.location.listFiles(Nil, Nil).flatMap(_.files)
    }.flatten
    // every file holds at least one row group: no footer can lift the natural
    // parallelism below the core count
    if (files.isEmpty || files.size >= cores) return df
    val metas = files.map(f =>
      try footerMeta(spark, f) catch { case _: Exception => (0L, 1) })
    val rows = metas.map(_._1).sum
    val natural = metas.map(_._2).sum
    if (natural >= cores) return df
    val minRows = spark.conf
      .getOption("spark.graft.spread.minRowsPerTask")
      .flatMap(_.trim.toLongOption.filter(_ > 0)).getOrElse(8L)
    val target = math.min(cores.toLong, math.max(1L, rows / minRows)).toInt
    if (target <= natural) df
    else df.repartition(target, org.apache.spark.sql.functions.col(byCol))
  }

  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
