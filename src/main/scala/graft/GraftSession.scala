package graft

import org.apache.spark.sql.SparkSession

/** Session factory applying the engine's standard configuration — the reference's session
  * concerns (AQE on, FileOutputCommitter v2 with ignored cleanup failures,
  * `mage-programs/orders_delta_lake.py:27-31`) plus local-mode sizing and the nanosecond
  * parquet compatibility flag, with the custom SQL functions registered.
  *
  * The v2 committer serves only writes outside a versioned table (reports,
  * exports, plain `df.write`). A table's own `_data/<dir>` writes go through
  * [[graft.catalog.StagedCommitProtocol]], which the first staged write installs
  * in its session (unless the session names another commit protocol): tasks
  * write straight into the staged dir, with no rename, `_SUCCESS` or `.crc`.
  */
object GraftSession {

  def builder(appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.s3a.bucket.all.committer.magic.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
  }

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Registry.registerAll(spark)
    spark
  }

  /** RocksDB-backed streaming state store provider class. For large stateful streams
    * (wide dedup horizons, millions of open sessions) the default in-memory HDFS-backed
    * store holds every key on-heap; RocksDB spills state to local disk with changelog
    * checkpointing, bounding executor memory by working set, not state size. Set
    * [[rocksDbStateKey]] to this value (session conf — applies to queries started
    * after it is set).
    */
  val rocksDbStateProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  val rocksDbStateKey: String = "spark.sql.streaming.stateStore.providerClass"
}
