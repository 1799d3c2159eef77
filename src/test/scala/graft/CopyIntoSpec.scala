package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{CopyInto, VersionedTable}

/** COPY INTO: the idempotent file-granular ingest ledger. */
class CopyIntoSpec extends AnyFunSuite with SharedSpark {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_copyinto").toString

  private def docsDf: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "en", "web", 100L), (2L, "en", "web", 200L),
      (3L, "de", "book", 300L), (4L, "fr", "web", 400L),
      (5L, "en", "book", 500L), (6L, "de", "web", 600L)
    ).toDF("doc_id", "lang", "source", "n_chars")
  }

  private def createTable(loc: String): Unit =
    VersionedTable.write(docsDf.limit(0), loc, "overwrite")

  test("loads every file once; the re-run is a metadata-only no-op") {
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    docsDf.filter(col("doc_id") <= 3).repartition(2)
      .write.mode("append").parquet(s"$root/src")
    val first = CopyInto.copyInto(spark, loc, s"$root/src")
    assert(first.filesLoaded == 2 && first.rowsLoaded == 3)
    assert(first.version.nonEmpty)
    val again = CopyInto.copyInto(spark, loc, s"$root/src")
    assert(again == CopyInto.CopyResult(None, 0L, 0L))
    assert(VersionedTable.read(spark, loc).count() == 3)
  }

  test("new files arriving in the same directory load incrementally") {
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    docsDf.filter(col("doc_id") <= 3).coalesce(1)
      .write.mode("append").parquet(s"$root/src")
    CopyInto.copyInto(spark, loc, s"$root/src")
    docsDf.filter(col("doc_id") > 3).coalesce(1)
      .write.mode("append").parquet(s"$root/src")
    val second = CopyInto.copyInto(spark, loc, s"$root/src")
    assert(second.filesLoaded == 1 && second.rowsLoaded == 3)
    val got = VersionedTable.read(spark, loc).orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("a control-character path is quarantined, not a poison pill: " +
      "other files still ingest") {
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    docsDf.filter(col("doc_id") <= 2).coalesce(1)
      .write.mode("append").parquet(s"$root/src")
    // plant a file whose NAME carries a newline (legal on POSIX) — such
    // paths are never loaded; it must be skipped with a warning, not abort
    // the whole run
    val bad = java.nio.file.Paths.get(s"$root/src", "bad\nname.parquet")
    docsDf.filter(col("doc_id") === 5).coalesce(1)
      .write.parquet(s"$root/tmpbad")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/tmpbad"))
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    java.nio.file.Files.move(part, bad)
    val first = CopyInto.copyInto(spark, loc, s"$root/src")
    assert(first.filesLoaded == 1 && first.rowsLoaded == 2,
      s"clean files must load despite the quarantined one: $first")
    // the skip is PROGRAMMATICALLY visible, not just a log line — pipelines
    // alert on filesQuarantined instead of scraping warnings
    assert(first.filesQuarantined == 1, s"quarantine signal missing: $first")
    // the re-run stays a no-op on the clean files and keeps skipping the bad
    // one (it warns again and keeps reporting it; it loads only after a rename)
    val again = CopyInto.copyInto(spark, loc, s"$root/src")
    assert(again == CopyInto.CopyResult(None, 0L, 0L, 1L))
    java.nio.file.Files.move(bad,
      java.nio.file.Paths.get(s"$root/src", "renamed.parquet"))
    val third = CopyInto.copyInto(spark, loc, s"$root/src")
    assert(third.filesLoaded == 1 && third.rowsLoaded == 1)
    assert(third.filesQuarantined == 0)
    assert(VersionedTable.read(spark, loc).count() == 3)
  }

  test("force reloads already-ingested files (duplicate rows, per contract)") {
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    docsDf.coalesce(1).write.mode("append").parquet(s"$root/src")
    CopyInto.copyInto(spark, loc, s"$root/src")
    val forced = CopyInto.copyInto(spark, loc, s"$root/src", force = true)
    assert(forced.filesLoaded == 1 && forced.rowsLoaded == 6)
    assert(VersionedTable.read(spark, loc).count() == 12)
  }

  test("an orphan manifest (crash before its commit) is ignored and re-ingested") {
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    docsDf.coalesce(1).write.mode("append").parquet(s"$root/src")
    // simulate a crash between manifest write and commit: the manifest claims
    // the file was loaded, but no commit references its seq
    val srcFile = new java.io.File(s"$root/src").listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).head
    val ingestDir = new java.io.File(s"$loc/_ingest")
    ingestDir.mkdirs()
    Files.write(ingestDir.toPath.resolve("000007.jsonl"),
      s"""{"path": "file:${srcFile.getAbsolutePath}", "size": 1, "mtime": 1}\n"""
        .getBytes("UTF-8"))
    val r = CopyInto.copyInto(spark, loc, s"$root/src")
    assert(r.filesLoaded == 1 && r.rowsLoaded == 6)
    // the fresh manifest picked a seq ABOVE the orphan (names are never reused)
    assert(ingestDir.listFiles().map(_.getName).sorted.toSeq ==
      Seq("000007.jsonl", "000008.jsonl"))
  }

  test("schema contract refuses extra and missing columns loudly") {
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    docsDf.withColumn("unexpected", lit(1)).coalesce(1)
      .write.parquet(s"$root/extra")
    val e1 = intercept[IllegalArgumentException] {
      CopyInto.copyInto(spark, loc, s"$root/extra")
    }
    assert(e1.getMessage.contains("unexpected"))
    docsDf.drop("n_chars").coalesce(1).write.parquet(s"$root/missing")
    val e2 = intercept[IllegalArgumentException] {
      CopyInto.copyInto(spark, loc, s"$root/missing")
    }
    assert(e2.getMessage.contains("n_chars"))
    // refusals leave no ledger trace: the table is still empty, and a correct
    // directory loads cleanly afterwards
    assert(VersionedTable.read(spark, loc).count() == 0)
    docsDf.coalesce(1).write.mode("append").parquet(s"$root/src")
    assert(CopyInto.copyInto(spark, loc, s"$root/src").rowsLoaded == 6)
  }

  test("csv loads by header names and casts to the table's types") {
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    // column order deliberately differs from the table's — alignment is by name
    Files.createDirectories(java.nio.file.Paths.get(s"$root/csv"))
    Files.write(java.nio.file.Paths.get(s"$root/csv/a.csv"),
      "lang,doc_id,n_chars,source\nen,10,123,web\nde,11,456,book\n"
        .getBytes("UTF-8"))
    val r = CopyInto.copyInto(spark, loc, s"$root/csv", format = "csv")
    assert(r.rowsLoaded == 2)
    val row = VersionedTable.read(spark, loc).orderBy("doc_id").head()
    assert(row.getLong(0) == 10L && row.getString(1) == "en" &&
      row.getLong(3) == 123L)
  }

  test("pattern restricts candidates; dotfiles and _SUCCESS are never loaded") {
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    docsDf.coalesce(1).write.mode("append").parquet(s"$root/src") // has _SUCCESS
    Files.write(java.nio.file.Paths.get(s"$root/src/.hidden"),
      "junk".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$root/src/notes.txt"),
      "junk".getBytes("UTF-8"))
    val r = CopyInto.copyInto(spark, loc, s"$root/src", pattern = "*.parquet")
    assert(r.filesLoaded == 1 && r.rowsLoaded == 6)
  }

  test("the append rides the normal write path: partitioning + constraints") {
    val root = freshRoot()
    val loc = s"$root/t"
    // the SQL CREATE path's shape: an empty v0 written FLAT, with the declared
    // partitioning carried by the spec sidecar (zero rows lay out no dirs)
    VersionedTable.write(docsDf.limit(0), loc, "overwrite")
    VersionedTable.writeTableSpec(spark, loc, Map("partition_by" -> "lang"))
    VersionedTable.addConstraint(spark, loc, "chars_pos", "n_chars > 0")
    docsDf.coalesce(1).write.mode("append").parquet(s"$root/src")
    CopyInto.copyInto(spark, loc, s"$root/src")
    // hive layout landed per the declared partitioning
    val commit = VersionedTable.commits(spark, loc).last
    assert(commit.partition_by == "lang")
    // a violating file aborts with the ledger untouched
    docsDf.withColumn("n_chars", lit(-1L)).coalesce(1)
      .write.mode("append").parquet(s"$root/bad")
    intercept[Exception] {
      CopyInto.copyInto(spark, loc, s"$root/bad")
    }
    assert(VersionedTable.read(spark, loc).count() == 6)
    // the aborted run's manifest is an orphan; vacuum with zero grace reclaims
    // it, and referenced manifests survive
    val removed = VersionedTable.vacuum(spark, loc,
      retentionMs = Long.MaxValue, orphanGraceMs = 0L)
    val names = new java.io.File(s"$loc/_ingest").listFiles().map(_.getName)
    assert(names.length == 1 && removed.exists(_.contains("_ingest")))
  }

  test("a missing source directory refuses; an empty glob match is a no-op") {
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    intercept[IllegalArgumentException] {
      CopyInto.copyInto(spark, loc, s"$root/nope")
    }
    assert(CopyInto.copyInto(spark, loc, s"$root/no*/files.parquet") ==
      CopyInto.CopyResult(None, 0L, 0L))
  }

  test("two racing COPY runs on the same directory never double-load a file") {
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    docsDf.repartition(3).write.mode("append").parquet(s"$root/src")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = Seq.fill(2)(Future(
      CopyInto.copyInto(spark, loc, s"$root/src")))
    val results = Await.result(Future.sequence(runs), 120.seconds)
    // the ingest lock serializes them: the loser recomputes the ledger after
    // the winner's commit and loads nothing — every file lands exactly once
    assert(results.map(_.rowsLoaded).sum == 6)
    assert(VersionedTable.read(spark, loc).count() == 6)
    assert(VersionedTable.read(spark, loc).select("doc_id").distinct().count() == 6)
  }

  test("SQL surface: CALL system.copy_into") {
    val root = freshRoot()
    val wh = s"$root/wh"
    spark.conf.set("spark.sql.catalog.gcopy",
      classOf[graft.sources.table.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcopy.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcopy.ns")
    spark.sql("CREATE TABLE gcopy.ns.t (doc_id BIGINT, lang STRING, " +
      "source STRING, n_chars BIGINT)")
    docsDf.coalesce(1).write.mode("append").parquet(s"$root/src")
    val r1 = spark.sql(
      s"CALL gcopy.system.copy_into(table => 'ns.t', source => '$root/src')")
      .head()
    assert(r1.getLong(1) == 1L && r1.getLong(2) == 6L)
    val r2 = spark.sql(
      s"CALL gcopy.system.copy_into(table => 'ns.t', source => '$root/src')")
      .head()
    assert(r2.getLong(0) == -1L && r2.getLong(1) == 0L)
    assert(spark.table("gcopy.ns.t").count() == 6)
    spark.sql("DROP TABLE gcopy.ns.t")
  }

  test("many-run ledger compacts: bounded manifest reads, re-run still a no-op") {
    // the 10⁴-runs growth path: past CompactThreshold in-force manifests, the
    // ledger folds into one compact artifact + bloom, and later runs read
    // O(threshold) ingest files — never O(total runs). Counted on the same
    // counting filesystem MetadataCallsSpec uses, because each manifest read
    // is an object-store GET at scale.
    spark.sparkContext.hadoopConfiguration.set("fs.counted.impl",
      classOf[graft.testutil.CountingFileSystem].getName)
    import graft.testutil.CountingFileSystem
    import spark.implicits._
    val root = freshRoot()
    val loc = s"counted://$root/t"
    createTable(loc)
    // CompactThreshold + 3 runs, each landing one brand-new file
    val runs = CopyInto.CompactThreshold + 3
    (1 to runs).foreach { i =>
      docsDf.withColumn("doc_id", col("doc_id") + lit(i * 10L)).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/src$i")
      val r = CopyInto.copyInto(spark, loc, s"counted://$root/src$i")
      assert(r.filesLoaded == 1, s"run $i loaded ${r.filesLoaded}")
    }
    val ingest = new java.io.File(s"$root/t/_ingest")
    val compacts = ingest.listFiles().map(_.getName)
      .filter(_.matches("compact\\.\\d+\\.jsonl"))
    assert(compacts.nonEmpty, "ledger never compacted past the threshold")

    // no-op re-run over an already-loaded directory: bloom + compact body +
    // the short tail — bounded by the THRESHOLD, not the number of runs
    CountingFileSystem.reset()
    val noop = CopyInto.copyInto(spark, loc, s"counted://$root/src1")
    assert(noop == CopyInto.CopyResult(None, 0L, 0L))
    val ingestOpens = CountingFileSystem.total("open", "/_ingest/")
    assert(ingestOpens <= CopyInto.CompactThreshold + 2,
      s"no-op re-run read $ingestOpens ingest files — ledger reads must be " +
        s"O(threshold), not O(${runs} runs)")

    // all-new-files run: the bloom rules every candidate out, so the compact
    // BODY is never read — the steady-state incremental-landing cost. The
    // bloom is probabilistic (fpp 1e-5 over the candidate's random part-file
    // name), so a single probe carries an inherent false-positive flake; on a
    // body read, probe ONCE more with a fresh independent file — a genuine
    // regression (systematic body reads) fails both probes, while back-to-back
    // false positives are ~1e-10
    var probes = 0
    def probeBodyOpens(): Long = {
      probes += 1
      docsDf.withColumn("doc_id", col("doc_id") + lit(9000L + probes * 1000L))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/srcnew$probes")
      CountingFileSystem.reset()
      val incr = CopyInto.copyInto(spark, loc, s"counted://$root/srcnew$probes")
      assert(incr.filesLoaded == 1)
      CountingFileSystem.snapshot().collect {
        case (("open", p), n) if p.contains("compact.") && p.endsWith(".jsonl") => n
      }.sum
    }
    val firstOpens = probeBodyOpens()
    val bodyOpens = if (firstOpens == 0) 0L else probeBodyOpens()
    assert(bodyOpens == 0,
      s"all-new-candidates runs must not read the compact body (resolve path " +
        s"'${CopyInto.lastCompactResolve}'): first probe $firstOpens, " +
        s"retry $bodyOpens")
    // and full correctness: every run's rows are present exactly once
    assert(VersionedTable.read(spark, loc).count() == (runs + probes) * 6L)
  }

  test("maybe-hit growth path: distributed resolution, same exactly-once result") {
    // when the compact body exceeds the driver threshold, bloom maybe-hits
    // resolve by broadcasting the (listing-sized) candidate set against the
    // ledger scanned as a dataset — the driver never materializes the body
    // as an exact set. Forced here by shrinking the threshold to zero.
    import spark.implicits._
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    val runs = CopyInto.CompactThreshold + 2
    (1 to runs).foreach { i =>
      docsDf.withColumn("doc_id", col("doc_id") + lit(i * 10L)).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/src$i")
      CopyInto.copyInto(spark, loc, s"$root/src$i")
    }
    val ingest = new java.io.File(s"$root/t/_ingest")
    assert(ingest.listFiles().exists(_.getName.matches("compact\\.\\d+\\.jsonl")),
      "precondition: the ledger must have compacted")

    // drop ONE new file into an already-ingested directory: its old file is
    // IN the bloom (guaranteed maybe-hit), the new one is not
    docsDf.withColumn("doc_id", col("doc_id") + lit(7777L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/extra")
    val part = new java.io.File(s"$root/extra").listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$root/src1/zz-arrived-late.parquet"))

    val before = VersionedTable.read(spark, loc).count()
    val saved = CopyInto.MaxDriverCompactBytes
    CopyInto.MaxDriverCompactBytes = 0L
    try {
      CopyInto.lastCompactResolve = ""
      val r = CopyInto.copyInto(spark, loc, s"$root/src1")
      assert(CopyInto.lastCompactResolve == "distributed",
        s"threshold 0 must force the distributed path, took " +
          s"'${CopyInto.lastCompactResolve}'")
      assert(r.filesLoaded == 1 && r.rowsLoaded == 6L,
        s"only the late-arriving file may load: $r")
      // exactly-once: the same directory re-offered is a no-op, still via the
      // distributed resolution
      CopyInto.lastCompactResolve = ""
      val noop = CopyInto.copyInto(spark, loc, s"$root/src1")
      assert(noop == CopyInto.CopyResult(None, 0L, 0L), s"re-run loaded: $noop")
      assert(CopyInto.lastCompactResolve == "distributed")
    } finally CopyInto.MaxDriverCompactBytes = saved
    assert(VersionedTable.read(spark, loc).count() == before + 6L)

    // equivalence: the driver-exact path resolves the same state to the same
    // no-op (the two paths must be indistinguishable in result)
    CopyInto.lastCompactResolve = ""
    val noop2 = CopyInto.copyInto(spark, loc, s"$root/src1")
    assert(noop2 == CopyInto.CopyResult(None, 0L, 0L))
    assert(CopyInto.lastCompactResolve == "driver")
  }

  test("oversized-body fold runs distributed: superset artifact, ledger intact") {
    import spark.implicits._
    val root = freshRoot()
    val loc = s"$root/t"
    createTable(loc)
    def load(i: Int): Unit = {
      docsDf.withColumn("doc_id", col("doc_id") + lit(i * 10L)).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/src$i")
      assert(CopyInto.copyInto(spark, loc, s"$root/src$i").filesLoaded == 1)
    }
    val firstWave = CopyInto.CompactThreshold + 2
    (1 to firstWave).foreach(load) // driver-side fold happens in here
    val ingest = new java.io.File(s"$root/t/_ingest")
    def compacts() = ingest.listFiles().map(_.getName)
      .filter(_.matches("compact\\.\\d+\\.jsonl")).sorted.toSeq
    val before = compacts()
    assert(before.nonEmpty, "precondition: a driver-side fold must exist")

    // with the driver threshold zeroed, the NEXT fold must run distributed
    // (old body ∪ tail unioned as datasets, bloom via df.stat.bloomFilter,
    // body staged + renamed) — and produce an equivalent superset artifact
    val saved = CopyInto.MaxDriverCompactBytes
    CopyInto.MaxDriverCompactBytes = 0L
    try {
      (firstWave + 1 to firstWave + CopyInto.CompactThreshold + 2).foreach(load)
    } finally CopyInto.MaxDriverCompactBytes = saved
    val after = compacts()
    assert(after.size > before.size,
      s"no distributed fold landed: before=$before after=$after")

    def lines(name: String): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(
        ingest.toPath.resolve(name)), "UTF-8").linesIterator.toSeq
    val oldBody = lines(before.last)
    val newBody = lines(after.last)
    assert(newBody.distinct.size == newBody.size, "folded body holds duplicates")
    assert(newBody.size > oldBody.size, "fold must cover the tail too")
    assert(oldBody.toSet.subsetOf(newBody.toSet),
      "fold lost paths the old compact held")
    // the bloom sibling landed, and the ledger still answers exactly-once
    assert(ingest.listFiles().map(_.getName)
      .contains(after.last.stripSuffix(".jsonl") + ".bf"))
    assert(CopyInto.copyInto(spark, loc, s"$root/src1") ==
      CopyInto.CopyResult(None, 0L, 0L))
    assert(CopyInto.copyInto(spark, loc, s"$root/src${firstWave + 1}") ==
      CopyInto.CopyResult(None, 0L, 0L))
    assert(VersionedTable.read(spark, loc).count() ==
      (firstWave + CopyInto.CompactThreshold + 2) * 6L)
  }
}
