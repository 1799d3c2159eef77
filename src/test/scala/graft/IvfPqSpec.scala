package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.IvfPq

class IvfPqSpec extends AnyFunSuite with SharedSpark {

  private lazy val emb = Tables.embeddings(spark, sf)

  private lazy val coarse = IvfPq.trainCoarse(emb, nlist = 8, iters = 2)
  private lazy val pqCb = IvfPq.trainResidualPq(emb, coarse, m = 8, ksub = 16,
    iters = 2)

  test("encode: every vector gets a cluster and m valid residual codes") {
    val codes = IvfPq.encode(emb, coarse, pqCb).cache()
    assert(codes.count() === emb.count())
    assert(codes.select("vec_id").distinct().count() === emb.count())
    val clusters = coarse.select("cluster").collect().map(_.getInt(0)).toSet
    val badCluster = codes.filter(!col("cluster").isInCollection(clusters)).count()
    assert(badCluster === 0)
    assert(codes.filter(size(col("codes")) =!= 8).count() === 0)
    assert(codes.filter(exists(col("codes"), c => c < 0 || c >= 16)).count() === 0)
    codes.unpersist()
  }

  test("residuals: vector minus its own centroid, zero-sum check vs assignment") {
    val res = IvfPq.residuals(emb, coarse).cache()
    assert(res.count() === emb.count())
    // ||residual|| <= ||v - c|| for EVERY centroid c (it was the argmin)
    val cents = coarse.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val row = res.filter(col("vec_id") === 42).first()
    val rv = row.getSeq[Double](2)
    val cl = row.getInt(1)
    val v = rv.zip(cents(cl)).map { case (r, c) => r + c } // reconstruct the vector
    val distTo = (c: Seq[Double]) =>
      v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
    val own = distTo(cents(cl))
    cents.values.foreach(c => assert(own <= distTo(c) + 1e-9))
    res.unpersist()
  }

  test("search: k per query, probed-cluster pruning, recall well above chance") {
    val got = IvfPq.search(emb, coarse, pqCb, numQueries = 10, k = 5, nprobe = 4)
      .cache()
    assert(got.count() === 50)
    assert(got.filter(col("query_id") === col("vec_id")).count() === 0)

    // pruning is real: with nprobe=4 of nlist=8, every result must come from the
    // query's 4 nearest clusters — spot-check that some corpus cluster is excluded
    val codes = IvfPq.encode(emb, coarse, pqCb)
    val q0results = got.filter(col("query_id") === 0)
      .join(codes, Seq("vec_id")).select("cluster").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(q0results.size <= 4, s"results from ${q0results.size} clusters > nprobe")

    // recall vs exact L2 (random top-5 of 499 ~ 0.01)
    val base = emb.select(col("vec_id"),
      graft.ops.Similarity.toDoubleVec(col("embedding")).as("v"))
    val q2 = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val d = base.crossJoin(broadcast(q2))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dist", aggregate(
        zip_with(col("v"), col("qv"), (x, y) => (x - y) * (x - y)),
        lit(0.0), _ + _))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist").asc, col("vec_id"))
    val exact = d.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = got.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall > 0.1, s"IVFADC recall $recall barely above chance")
    got.unpersist()
  }

  test("pre-encoded index search equals the inline path") {
    val codes = IvfPq.encode(emb, coarse, pqCb)
    val queries = emb
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        graft.ops.Similarity.toDoubleVec(col("embedding")).as("qv"))
    val viaIndex = IvfPq.searchCodes(codes, queries, coarse, pqCb, k = 3, nprobe = 4)
    val inline = IvfPq.search(emb, coarse, pqCb, numQueries = 5, k = 3, nprobe = 4)
    assert(viaIndex.exceptAll(inline).count() === 0)
    assert(inline.exceptAll(viaIndex).count() === 0)
  }


  test("persisted PQ index: appends encode only the batch against FROZEN " +
      "codebooks (base vectors deleted), searchIndex prunes the codes scan " +
      "and matches the one-shot search") {
    val emb = Tables.embeddings(spark, sf)
    val coarse = IvfPq.trainCoarse(emb, nlist = 8, iters = 2)
    val pq = IvfPq.trainResidualPq(emb, coarse, m = 4, ksub = 16, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("pq_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("pq_src").toString

    emb.filter(col("vec_id") < 300).write.parquet(s"$srcDir/base")
    IvfPq.writePqIndex(spark.read.parquet(s"$srcDir/base"), coarse, pq,
      s"$dir/idx")
    // DELETE the base vectors: appends and searches must live off the index
    val fs = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$srcDir/base"), true))
    IvfPq.appendToPqIndex(emb.filter(col("vec_id") >= 300), s"$dir/idx")

    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        graft.ops.Similarity.toDoubleVec(col("embedding")).as("qv"))
    val idx = IvfPq.readPqIndex(spark, s"$dir/idx")
    // the INTERNAL shape (queries drawn from the corpus id space → self-
    // exclusion on) over the persisted artifacts; searchIndex itself is the
    // EXTERNAL entry point and rightly never self-excludes
    val viaIndex = IvfPq.searchCodes(idx.codes, queries, idx.coarse,
      idx.codebooks, k = 5, nprobe = 4, pruneScan = true)
    val oneShot = IvfPq.search(emb, coarse, pq, numQueries = 10, k = 5,
      nprobe = 4)
    assert(viaIndex.orderBy("query_id", "rank").collect().map(_.toString).toSeq ===
      oneShot.orderBy("query_id", "rank").collect().map(_.toString).toSeq,
      "appended index must reconstruct the one-shot IVFADC answer")

    // the ADC scan reads ONLY the probed clusters' row groups
    val plan = viaIndex.queryExecution.executedPlan.toString
    val codeScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("/codes")).toSeq
    assert(codeScans.nonEmpty)
    codeScans.foreach { l =>
      assert(l.contains("In(cluster") || l.contains("EqualTo(cluster"),
        s"probed clusters must push into the codes scan:\n$l")
    }
  }

  test("seedResidualCodebooks skips the coarse seeds: their own residuals are " +
      "zero and would collapse every subspace codebook") {
    import graft.ops.Pq
    val seededCoarse = Pq.seedCodebooks(emb, m = 1, ksub = 8)
      .select(col("code").as("cluster"), col("cw"))
    val cb = IvfPq.seedResidualCodebooks(emb, seededCoarse, m = 4, ksub = 8,
      skip = 8)
    assert(cb.count() === 32) // 4 subspaces x 8 codes
    // no all-zero codeword: vector c < 8 IS coarse centroid c, so its residual
    // is exactly zero — seeding from skip = 0 would produce degenerate books
    val zeroCw = cb.filter(
      aggregate(transform(col("cw"), x => abs(x)), lit(0.0), _ + _) === 0.0)
    assert(zeroCw.count() === 0, "zero codeword leaked into the seeds")
    val degenerate = Pq.seedCodebooks(
      IvfPq.residuals(emb, seededCoarse).select(col("vec_id"), col("rv")),
      m = 4, ksub = 8, idCol = "vec_id", vecCol = "rv")
    val zeroDegenerate = degenerate.filter(
      aggregate(transform(col("cw"), x => abs(x)), lit(0.0), _ + _) === 0.0)
    assert(zeroDegenerate.count() === 32,
      "expected the unskipped seeding to be fully degenerate on seeded coarse")
  }

  test("searchIndex is id-collision-safe: an external query whose id collides " +
      "with a corpus vec_id gets the IDENTICAL answer as a relabeled twin") {
    val dir = java.nio.file.Files.createTempDirectory("pq_ext").toString
    IvfPq.writePqIndex(emb, coarse, pqCb, s"$dir/idx")
    val idx = IvfPq.readPqIndex(spark, s"$dir/idx")
    val base = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        graft.ops.Similarity.toDoubleVec(col("embedding")).as("qv"))
    // same query VECTORS under two id labelings: colliding (corpus ids 0-9)
    // and external (+10⁶). The serving answer must not depend on the label —
    // the old unconditional self-filter silently dropped corpus vector i from
    // colliding query i's candidates (typically its nearest neighbor).
    val colliding = base.select(col("vec_id").as("query_id"), col("qv"))
    val relabeled = base
      .select((col("vec_id") + 1000000L).as("query_id"), col("qv"))
    val a = IvfPq.searchIndex(idx, colliding, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
      .select("rank", "vec_id", "approx_sq_dist")
      .collect().map(_.toString).toSeq
    val b = IvfPq.searchIndex(idx, relabeled, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
      .select("rank", "vec_id", "approx_sq_dist")
      .collect().map(_.toString).toSeq
    assert(a === b, "searchIndex answers must be independent of query ids")
    // and the colliding ids' own vectors ARE eligible candidates now: each
    // query's own corpus vector carries the minimum possible quantization
    // distance to itself among its own cluster's codes — assert it appears
    val own = IvfPq.searchIndex(idx, colliding, k = 5, nprobe = 4)
      .filter(col("query_id") === col("vec_id")).count()
    assert(own > 0, "own corpus vectors must not be silently excluded")
  }

  test("PQ append FS budget: zero opens of any prior codes data file") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.counted.impl",
      classOf[graft.testutil.CountingFileSystem].getName)
    val emb = Tables.embeddings(spark, sf)
    val coarse = IvfPq.trainCoarse(emb, nlist = 4, iters = 1)
    val pq = IvfPq.trainResidualPq(emb, coarse, m = 4, ksub = 8, iters = 1)
    val dir =
      s"counted://${java.nio.file.Files.createTempDirectory("pq_count")}/idx"
    IvfPq.writePqIndex(emb.filter(col("vec_id") < 100), coarse, pq, dir)
    graft.testutil.CountingFileSystem.reset()
    IvfPq.appendToPqIndex(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 150), dir)
    val priorOpens =
      graft.testutil.CountingFileSystem.total("open", "codes/_data/v=0")
    assert(priorOpens == 0,
      s"append must not read prior codes data files, opened $priorOpens")
  }

  test("rebuildPqIndex stamps its dense train ids once for both trainers") {
    val base = emb.filter(col("vec_id") < 200)
    val coarse4 = IvfPq.trainCoarse(base, nlist = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("pq_stamp").toString + "/idx"
    IvfPq.writePqIndex(base, coarse4,
      IvfPq.trainResidualPq(base, coarse4, m = 4, ksub = 8, iters = 1), dir)
    // every stage that computes the zipWithIndex stamping of the train frame
    val stamping = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name == "ZippedWithIndexRDD"))
          stamping.incrementAndGet()
    }
    org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      IvfPq.rebuildPqIndex(base, dir, iters = 2)
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(stamping.get == 1,
      s"the train-id stamping ran in ${stamping.get} stages, not once")
  }
}
