package graft

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{StagedCommitProtocol, StagedWrite, VersionedTable}
import graft.testutil.{CountingFileSystem, FlakyFileSystem}

/** Staged writes go straight into the commit's `_data/<dir>`: no `_temporary`,
  * no rename, no `_SUCCESS`, no `.crc`; the dir's file manifest names what the
  * write committed, and readers serve exactly that, cold or warm. Plain writes
  * in the same session keep Spark's own committer.
  */
class StagedWriteSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def tree(dir: String): Seq[JPath] = {
    val root = Paths.get(dir.stripPrefix("counted:").stripPrefix("flaky:"))
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filterNot(_ == root).toSeq
  }

  private def names(dir: String): Seq[String] = tree(dir).map(_.getFileName.toString)

  private def stagedDirs(loc: String): Seq[String] =
    Option(Paths.get(loc.stripPrefix("counted:").stripPrefix("flaky:"), "_data").toFile
      .listFiles()).toSeq.flatten.map(_.getName)

  private def rows(n: Int) = (0 until n).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "p")

  private def ids(loc: String): Seq[Long] =
    VersionedTable.read(spark, loc).select("id").as[Long].collect().toSeq.sorted

  test("a staged write renames nothing and leaves no _temporary, _SUCCESS or " +
      ".crc; a cold read takes its files from the manifest and lists nothing") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.counted.impl", classOf[CountingFileSystem].getName)
    val loc = s"counted://${Files.createTempDirectory("graft_staged")}/t"
    CountingFileSystem.reset()
    VersionedTable.write(rows(30).repartition(3), loc, partitionBy = Seq("p"))
    assert(CountingFileSystem.total("rename", "/t/") == 0)
    val all = names(loc)
    assert(!all.exists(n => n == "_temporary" || n == "_SUCCESS" || n.endsWith(".crc")),
      s"staged write left committer artifacts: ${all.sorted.mkString(", ")}")
    val parquet = tree(loc).filter(_.toString.endsWith(".parquet"))
    assert(parquet.size == 9, parquet) // 3 tasks x 3 partitions
    assert(all.count(_ == StagedWrite.ManifestName) == 1)
    // every data file was created once, with the manifest: no second copy
    assert(CountingFileSystem.total("create", "/_data/") == parquet.size + 1)

    VersionedTable.invalidateLogCaches(loc)
    CountingFileSystem.reset()
    assert(ids(loc) == (0L until 30L))
    assert(CountingFileSystem.total("listStatus", "/_data/") == 0,
      CountingFileSystem.snapshot().filter(_._1._1 == "listStatus"))
    assert(CountingFileSystem.total("open", StagedWrite.ManifestName) == 1)
    // the partition column still comes back, and prunes
    assert(VersionedTable.read(spark, loc).filter(col("p") === 1).count() == 10)
  }

  test("a planted file in a claimed dir is never served; a dir without a " +
      "manifest is still listed") {
    val loc = Files.createTempDirectory("graft_planted").toString + "/t"
    VersionedTable.write(rows(12), loc)
    VersionedTable.write(rows(12).withColumn("id", col("id") + 100), loc, "append")
    val Seq(first, second) = VersionedTable.commits(spark, loc).map(_.data_dir)
    // a zombie attempt's file: same schema, landed after the job commit
    Seq((999L, "zombie", 0)).toDF("id", "v", "p").coalesce(1).write
      .parquet(s"$loc/_zombie")
    val zombie = tree(s"$loc/_zombie").find(_.toString.endsWith(".parquet")).get
    Files.copy(zombie, Paths.get(loc, "_data", first, "part-999999.snappy.parquet"))
    Files.copy(zombie, Paths.get(loc, "_data", second, "part-999999.snappy.parquet"))
    VersionedTable.invalidateLogCaches(loc)
    val expected = (0L until 12L) ++ (100L until 112L)
    assert(ids(loc) == expected)
    // the second commit as a writer from before the manifest left it: listed
    Files.delete(Paths.get(loc, "_data", second, StagedWrite.ManifestName))
    VersionedTable.invalidateLogCaches(loc)
    assert(ids(loc) == (expected :+ 999L))
  }

  test("a task that fails partway through a partitioned staged write leaves " +
      "no commit and no staged dir") {
    val loc = Files.createTempDirectory("graft_abort").toString + "/t"
    VersionedTable.write(rows(6), loc, partitionBy = Seq("p"))
    val before = stagedDirs(loc)
    val boom = udf((id: Long) => {
      if (id == 7L) throw new IllegalStateException("injected task failure")
      id
    })
    // one task; rows arrive sorted by partition, so the writer has closed the
    // p=0 file and holds the p=1 file open when row 7 fails
    val batch = (0L until 9L).map(i => (i, s"v$i", (i / 3).toInt)).toDF("id", "v", "p")
      .coalesce(1).sortWithinPartitions("p").withColumn("id", boom(col("id")))
    val e = intercept[Exception](VersionedTable.write(batch, loc, "append",
      partitionBy = Seq("p")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("injected task failure"))), e)
    assert(VersionedTable.commits(spark, loc).map(_.version) == Seq(0L))
    assert(stagedDirs(loc) == before, "the failed write left a staged dir")
    assert(ids(loc) == (0L until 6L))
  }

  test("a job commit that fails writing the manifest leaves no commit and no " +
      "staged dir; the retry commits") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyFileSystem].getName)
    val loc = s"flaky://${Files.createTempDirectory("graft_jobfail")}/t"
    VersionedTable.write(rows(6), loc)
    val before = stagedDirs(loc)
    val prev = FlakyFileSystem.pathSubstring
    FlakyFileSystem.pathSubstring = StagedWrite.ManifestName
    try {
      FlakyFileSystem.failCreates(1)
      intercept[Exception](VersionedTable.write(rows(3), loc, "append"))
      assert(FlakyFileSystem.failuresInjected == 1)
    } finally FlakyFileSystem.pathSubstring = prev
    assert(VersionedTable.commits(spark, loc).map(_.version) == Seq(0L))
    assert(stagedDirs(loc) == before)
    VersionedTable.write(rows(3), loc, "append")
    assert(ids(loc) == ((0L until 6L) ++ (0L until 3L)).sorted)
  }

  test("plain writes in the same session keep _SUCCESS and .crc") {
    val loc = Files.createTempDirectory("graft_plain_t").toString + "/t"
    VersionedTable.write(rows(3), loc)
    assert(spark.conf.get("spark.sql.sources.commitProtocolClass") ==
      classOf[StagedCommitProtocol].getName)
    val plain = Files.createTempDirectory("graft_plain").toString + "/out"
    rows(3).write.parquet(plain)
    val report = Files.createTempDirectory("graft_plain_dq").toString + "/report"
    val dq = new graft.dq.DqValidator().checkCompleteness(rows(3), "t", Seq("id"))
    graft.dq.DqValidator.writeReport(spark, dq.report(), report)
    for (dir <- Seq(plain, report)) {
      val n = names(dir)
      assert(n.contains("_SUCCESS") && n.exists(_.endsWith(".crc")), s"$dir: $n")
      assert(!n.contains(StagedWrite.ManifestName))
    }
  }

  test("StagedWrite.parquet returns the files it wrote, with their lengths") {
    val dir = Files.createTempDirectory("graft_direct").toString + "/_data/d-x"
    val files = StagedWrite.parquet(rows(12).repartition(2), dir, Seq("p"))
      .getOrElse(fail("the direct path returned no files"))
    val onDisk = tree(dir).filter(_.toString.endsWith(".parquet"))
    assert(onDisk.size >= 3)
    assert(files.map(f => Paths.get(f.getPath.toUri) -> f.getLen).toSet ==
      onDisk.map(p => p -> Files.size(p)).toSet)
  }

  test("a user-set commit protocol is left alone: staged dirs keep the listed " +
      "layout and read back") {
    val session = spark.newSession()
    val key = "spark.sql.sources.commitProtocolClass"
    val own = "org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol"
    session.conf.set(key, own)
    val loc = Files.createTempDirectory("graft_userproto").toString + "/t"
    VersionedTable.write(session.createDataFrame(rows(5).rdd, rows(5).schema), loc)
    assert(session.conf.get(key) == own)
    val n = names(loc)
    assert(n.contains("_SUCCESS") && !n.contains(StagedWrite.ManifestName), n)
    VersionedTable.invalidateLogCaches(loc)
    assert(ids(loc) == (0L until 5L))
    val dir = Files.createTempDirectory("graft_userproto_direct").toString + "/_data/d-x"
    assert(StagedWrite.parquet(session.createDataFrame(rows(5).rdd, rows(5).schema),
      dir).isEmpty)
  }
}
