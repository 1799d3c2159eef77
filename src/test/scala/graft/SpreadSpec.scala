package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.scalatest.funsuite.AnyFunSuite

class SpreadSpec extends AnyFunSuite with SharedSpark {

  test("a malformed or non-positive minRowsPerTask falls back to 8") {
    import spark.implicits._
    val key = "spark.graft.spread.minRowsPerTask"
    val dir = Files.createTempDirectory("graft_spread").toString + "/t"
    (1L to 100L).toDF("id").coalesce(1).write.parquet(dir)
    val df = spark.read.parquet(dir)
    def target(v: Option[String]): Option[Int] = {
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      try Tables.spread(df, "id").queryExecution.logical.collectFirst {
        case r: RepartitionByExpression => r.numPartitions
      } finally spark.conf.unset(key)
    }
    // 100 rows / 8 per task = 12 > 4 cores: the default spreads to all 4
    assert(target(None) == Some(4))
    assert(target(Some("abc")) == target(None))
    assert(target(Some("0")) == target(None))
    assert(target(Some(" 50 ")) == Some(2))
  }

  test("an input of at least as many files as cores reads no footer") {
    import spark.implicits._
    import graft.testutil.CountingFileSystem
    spark.sparkContext.hadoopConfiguration
      .set("fs.counted.impl", classOf[CountingFileSystem].getName)
    val dir = Files.createTempDirectory("graft_spread_many").toString + "/t"
    val cores = spark.sparkContext.defaultParallelism
    (1L to 100L).toDF("id").repartition(cores * 2).write.parquet(dir)
    val df = spark.read.parquet(s"counted://$dir")
    assert(df.inputFiles.length >= cores)
    CountingFileSystem.reset()
    val out = Tables.spread(df, "id")
    assert(CountingFileSystem.total("open", dir) == 0,
      "spread opened a footer although every file holds a row group")
    assert(out eq df)
    // a single-file input still reads its one footer and spreads
    val one = Files.createTempDirectory("graft_spread_one").toString + "/t"
    (1L to 100L).toDF("id").coalesce(1).write.parquet(one)
    val single = spark.read.parquet(s"counted://$one")
    CountingFileSystem.reset()
    assert(Tables.spread(single, "id") ne single)
    assert(CountingFileSystem.total("open", one) == 1)
  }
}
