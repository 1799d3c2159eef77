package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.VersionedTable

/** Reads resolve their files from the commit log: one file index over the live
  * commits' data dirs, each dir listed once per JVM. Past 32 dirs Spark would
  * list them with a distributed job on every read; here a warm read lists only
  * what it has not seen, driver-side, and a partitioned table of N commits
  * plans as one scan.
  */
class LogFileIndexSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val ListingJob = "Listing leaf files and directories"

  /** (all jobs, listing jobs) that `body` starts. */
  private def countJobs(body: => Unit): (Int, Int) = {
    org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    val all = new java.util.concurrent.atomic.AtomicInteger(0)
    val listing = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        if (Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.contains(ListingJob))) listing.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      (all.get(), listing.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def freshLoc(tag: String): String =
    Files.createTempDirectory(s"graft_lfi_$tag").toString + "/t"

  /** Rewrite commit `v`'s body as an older writer left it: no recorded schema
    * and, with `versionDir`, its data under `_data/v=<v>` with an empty
    * `data_dir`.
    */
  private def makeLegacy(loc: String, v: Long, versionDir: Boolean): Unit = {
    val f = Paths.get(loc, "_commit_log", s"$v.json")
    val body = new String(Files.readAllBytes(f), "UTF-8")
    var legacy = body.replaceAll(""""schema":"((?:[^"\\]|\\.)*)",""", "")
    assert(legacy != body, s"commit $v has no schema field to strip")
    if (versionDir) {
      val dir = """"data_dir":"([^"]+)"""".r.findFirstMatchIn(legacy).get.group(1)
      Files.move(Paths.get(loc, "_data", dir), Paths.get(loc, "_data", s"v=$v"))
      legacy = legacy.replace(s""""data_dir":"$dir"""", """"data_dir":""""")
    }
    Files.write(f, legacy.getBytes("UTF-8"))
  }

  /** Drop the checkpoints, so readers see the rewritten commit bodies. */
  private def dropCheckpoints(loc: String): Unit = {
    Option(new java.io.File(loc, "_commit_log").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("_checkpoint.")).foreach(_.delete())
    VersionedTable.invalidateLogCaches(loc)
  }

  private def idsAndValues(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("100 commits, half legacy: warm reads plan with 0 jobs and count with 0 listing jobs") {
    val loc = freshLoc("legacy")
    VersionedTable.write((0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"), loc,
      "overwrite")
    (1 until 100).foreach { k =>
      VersionedTable.write((k * 10L until k * 10L + 10).map(i => (i, s"v$i")).toDF("id", "v"),
        loc, "append")
    }
    // the older half came from a writer that recorded no schema; a fifth of
    // those predate named data dirs and live under `_data/v=<N>`
    (0L until 50L).foreach(v => makeLegacy(loc, v, versionDir = v % 5 == 0))
    dropCheckpoints(loc)
    val cs = VersionedTable.commits(spark, loc)
    assert(cs.size == 100 && cs.count(_.data_dir.isEmpty) == 10)

    // cold: the 100 dirs are listed (one job past 32) and the legacy half's
    // schema inferred once
    assert(VersionedTable.read(spark, loc).count() == 1000)

    val (planJobs, _) = countJobs {
      assert(VersionedTable.read(spark, loc).columns.toSeq == Seq("id", "v"))
    }
    assert(planJobs == 0, s"warm plan assembly ran $planJobs job(s)")
    var got = Seq.empty[(Long, String)]
    val (_, listing) = countJobs { got = idsAndValues(VersionedTable.read(spark, loc)) }
    assert(listing == 0, s"warm read ran $listing listing job(s)")

    // the same rows as reading every commit's dir on its own and unioning
    val dirs = cs.map(c =>
      if (c.data_dir.isEmpty) s"$loc/_data/v=${c.version}" else s"$loc/_data/${c.data_dir}")
    val independent = dirs.map(d => spark.read.schema("id BIGINT, v STRING").parquet(d))
      .reduce(_.union(_))
    assert(got == idsAndValues(independent))
    assert(got.size == 1000)

    // one more commit: only its dir is new, listed driver-side
    VersionedTable.write(Seq((5000L, "new")).toDF("id", "v"), loc, "append")
    val (_, afterAppend) = countJobs {
      assert(VersionedTable.read(spark, loc).count() == 1001)
    }
    assert(afterAppend == 0, s"a read after one append ran $afterAppend listing job(s)")
  }

  test("partitioned table with scoped merges and a compact: one scan, no Union") {
    val loc = freshLoc("part")
    val expected = scala.collection.mutable.Map.empty[Long, (String, Int)]
    def rows(ids: Seq[Long], tag: String) = {
      ids.foreach(i => expected(i) = (s"$tag$i", (i % 4).toInt))
      ids.map(i => (i, s"$tag$i", (i % 4).toInt)).toDF("id", "v", "p")
    }
    VersionedTable.write(rows(0L until 100L, "a"), loc, "overwrite", Seq("p"))
    VersionedTable.write(rows(100L until 200L, "b"), loc, "append", Seq("p"))
    // a scoped merge touching only p=1: updates two rows, inserts one
    VersionedTable.merge(spark, loc, rows(Seq(1L, 5L, 201L), "m"), Seq("id", "p"))
    VersionedTable.write(rows(300L until 340L, "c"), loc, "append", Seq("p"))
    // a dynamic partition overwrite of p=2: its earlier rows are gone
    expected.filter(_._2._2 == 2).keys.toSeq.foreach(expected.remove)
    VersionedTable.overwritePartitions(rows(Seq(402L, 406L), "o"), loc)
    VersionedTable.compactPartitions(spark, loc, Seq(Seq("p" -> "3")), numFiles = 1)
    assert(VersionedTable.commits(spark, loc).count(_.replace_where.nonEmpty) == 3)

    val df = VersionedTable.read(spark, loc)
    val unions = df.queryExecution.optimizedPlan.collect { case u: Union => u }
    assert(unions.isEmpty, s"a partitioned read planned ${unions.size} Union(s)")
    val got = df.collect().map(r => (r.getAs[Long]("id"),
      (r.getAs[String]("v"), r.getAs[Int]("p")))).toMap
    assert(got == expected.toMap)
    // partition pruning still applies to the one scan
    assert(df.filter(col("p") === 1).count() == expected.count(_._2._2 == 1))
    assert(df.filter(col("p") === 2).select("id").as[Long].collect().sorted.toSeq ==
      Seq(402L, 406L))
    // the snapshot's files leave the shadowed partitions out
    val files = df.inputFiles.toSeq
    val shadowedHits = VersionedTable.commits(spark, loc).filter(_.replace_where.isEmpty)
      .flatMap(c => files.filter(f => f.contains(c.data_dir) && f.contains("/p=2/")))
    assert(shadowedHits.isEmpty, s"shadowed p=2 files served: $shadowedHits")
  }

  test("deletion vectors past 32 commits: DV paths match the scan, deletes apply") {
    val loc = freshLoc("dv")
    VersionedTable.write((0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"), loc,
      "overwrite")
    (1 until 35).foreach { k =>
      VersionedTable.write((k * 10L until k * 10L + 10).map(i => (i, s"v$i")).toDF("id", "v"),
        loc, "append")
    }
    val deleted = (0 until 33).map(k => k * 10L + 3)
    deleted.foreach(id => VersionedTable.deleteWhere(spark, loc, s"id = $id"))
    val cs = VersionedTable.commits(spark, loc)
    assert(cs.count(_.dv_dir.nonEmpty) == 33)

    // the paths the deletes recorded are the `_metadata.file_path` strings a
    // plain directory read of the data dirs resolves, and the ones the
    // log-resolved scan serves
    def filePaths(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("_metadata.file_path")).distinct().as[String].collect().toSet
    val dvFiles = spark.read.schema("file STRING, pos BIGINT")
      .parquet(cs.filter(_.dv_dir.nonEmpty).map(c => s"$loc/_data/${c.dv_dir}"): _*)
      .select("file").distinct().as[String].collect().toSet
    val dataDirs = cs.filter(_.data_dir.nonEmpty).map(c => s"$loc/_data/${c.data_dir}")
    val plain = filePaths(spark.read.schema("id BIGINT, v STRING").parquet(dataDirs: _*))
    val df = VersionedTable.read(spark, loc)
    val dataScan = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation if lr.output.exists(_.name == "id") => lr.relation
    }
    assert(dataScan.size == 1, s"expected one data scan:\n${df.queryExecution.analyzed}")
    val scanned = filePaths(spark.baseRelationToDataFrame(dataScan.head))
    assert(dvFiles.size == 33 && dvFiles.subsetOf(plain))
    assert(scanned == plain)

    assert(df.count() == 350 - 33)
    val (_, listing) = countJobs {
      assert(VersionedTable.read(spark, loc).filter(col("id").isin(deleted: _*))
        .count() == 0)
    }
    assert(listing == 0, s"a warm DV read ran $listing listing job(s)")
  }

  test("vacuum, then drop and recreate at the same location: no stale files") {
    val loc = freshLoc("recreate")
    VersionedTable.write((1L to 5L).map(i => (i, "old")).toDF("id", "v"), loc, "overwrite")
    makeLegacy(loc, 0L, versionDir = true)
    VersionedTable.invalidateLogCaches(loc)
    assert(VersionedTable.read(spark, loc).count() == 5) // `_data/v=0` now listed
    VersionedTable.write((10L to 12L).map(i => (i, "mid")).toDF("id", "v"), loc, "overwrite")
    VersionedTable.vacuum(spark, loc, retentionMs = 0L, orphanGraceMs = 0L)
    assert(idsAndValues(VersionedTable.read(spark, loc)).map(_._1) == Seq(10L, 11L, 12L))

    // drop, then recreate at the same path; the new table's first commit
    // also lands in `_data/v=0`
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(loc))
    VersionedTable.write((100L to 102L).map(i => (i, "new")).toDF("id", "v"), loc,
      "overwrite")
    makeLegacy(loc, 0L, versionDir = true)
    assert(idsAndValues(VersionedTable.read(spark, loc)) ==
      Seq((100L, "new"), (101L, "new"), (102L, "new")))
  }
}
