package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("brute-force top-k: self excluded, sims within [-1, 1], k per query") {
    val out = SparkEntry.queries("sim_cosine_topk")(spark, TestSession.sf).collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      val sim = r.getAs[Double]("sim")
      sim >= -1.0001 && sim <= 1.0001 && r.getAs[Long]("n_id") != r.getAs[Long]("q_id")
    })
    val perQuery = out.groupBy(_.getAs[Long]("q_id")).map(_._2.length)
    assert(perQuery.forall(_ == 5))
  }

  test("LSH ANN results agree with exact cosine for returned pairs") {
    Tables.register(spark, TestSession.sf)
    val ann = SparkEntry.queries("sim_lsh_ann")(spark, TestSession.sf)
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, TestSession.sf)
      .select(col("q_id"), col("n_id"), col("sim").as("exact_sim"))
    // every ANN pair that also appears in the exact top-k must carry the
    // same similarity value (same math, independent path)
    val joined = ann.join(exact, Seq("q_id", "n_id"))
      .filter(abs(col("sim") - col("exact_sim")) > 1e-9)
    assert(joined.count() == 0)
  }

  test("IVF ANN recall@5 vs exact top-5 is at least 0.5 at sf0.01") {
    // sf0.01 (500 vectors): sf0.001's 50 vectors make 16 k-means cells
    // degenerate. IVF trades recall for ~nprobe/nlist of the distance
    // computations; 6/16 probing must still find half the true top-5.
    val sf = "/root/testdata/sf0.01"
    Tables.register(spark, sf)
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("sim_ivf_ann")(spark, sf)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    Tables.register(spark, TestSession.sf) // restore views for other specs
    assert(recall >= 0.5, s"IVF recall@5 = $recall")
  }

  test("persisted IVF index: identical results to in-memory IVF, pruned scan") {
    val sf = "/root/testdata/sf0.01"
    Tables.register(spark, sf)
    val mem = SparkEntry.queries("sim_ivf_ann")(spark, sf).collect().toSeq
    val persisted = SparkEntry.queries("sim_ivf_persisted")(spark, sf)
    val per = persisted.collect().toSeq
    assert(per == mem,
      "probing the persisted cell-partitioned index must reproduce the in-memory IVF results")
    // the deployment property: the probe's index scan carries a partition
    // filter on cell — it reads nprobe-ish partitions, never the corpus
    val plan = persisted.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") || plan.contains("PartitionFilters: [isnotnull(cell"),
      s"index scan must prune on the probed cells:\n$plan")
    // index reuse must skip the KMeans refit: at scale the fit IS the
    // expensive full-corpus pass; the persisted centroids replace it
    val fitsBefore = operators.SimilarityOps.ivfFitCount.get
    val again = SparkEntry.queries("sim_ivf_persisted")(spark, sf).collect().toSeq
    assert(again == per, "reused index must give identical results")
    assert(operators.SimilarityOps.ivfFitCount.get == fitsBefore,
      "second invocation must load persisted centroids, not refit KMeans")
    // changing nlist changes the params fingerprint in the index path →
    // a fresh fit, never a silent probe of the stale 16-cell index
    operators.SimilarityOps.ivfPersistedAnnTopK(
      spark, spark.table("embeddings"), sf, nlist = 8).collect()
    assert(operators.SimilarityOps.ivfFitCount.get == fitsBefore + 1,
      "changed nlist must build a fresh index")
    Tables.register(spark, TestSession.sf)
  }

  test("LSH ANN recall@5 vs exact top-5 is at least 0.6") {
    Tables.register(spark, TestSession.sf)
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, TestSession.sf)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("sim_lsh_ann")(spark, TestSession.sf)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@5 = $recall (found ${(exact & ann).size} of ${exact.size})")
  }

  test("embedding near-dup LSH: exact-precision subset of the exact pairs, recall >= 0.7") {
    val sf = "/root/testdata/sf0.01"
    Tables.register(spark, sf)
    val exact = SparkEntry.queries("dd_embedding_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dd_embedding_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Tables.register(spark, TestSession.sf)
    assert(exact.nonEmpty, "threshold selects no exact pairs — test is vacuous")
    // re-scoring makes precision exact: every LSH pair must be a true pair
    assert((lsh -- exact).isEmpty, s"false positives: ${lsh -- exact}")
    // fixture pairs are weak (cos ~0.45-0.51, p ~0.65): at sf0.01 the
    // auto-sized key is B=5 (N=2000 -> log2(2000/64)), so T=16 banding
    // predicts recall ~0.86; assert with slack for hash luck
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.7, s"near-dup recall = $recall (${(exact & lsh).size} of ${exact.size})")
  }

  test("incremental embedding index: batch parity for new-vector pairs, no rebuild on reuse") {
    val sf = "/root/testdata/sf0.01"
    Tables.register(spark, sf)
    import graft.operators.SimilarityOps
    val emb = spark.table("embeddings")
    val inc1 = SimilarityOps
      .incrementalLshCosinePairs(spark, emb, sf + "-spec", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val builds = SimilarityOps.embIndexBuilds.get()
    // reuse: the second day-N run must NOT re-signature the corpus
    val inc2 = SimilarityOps
      .incrementalLshCosinePairs(spark, emb, sf + "-spec", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(SimilarityOps.embIndexBuilds.get() == builds,
      "index reuse re-built the historical signatures")
    assert(inc1 == inc2)
    // parity: identical bucket formula on both paths → the incremental
    // result IS the full-batch pair set restricted to pairs touching a
    // new (odd-id) vector
    val full = SimilarityOps.lshCosinePairs(emb, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => p._1 % 2 == 1 || p._2 % 2 == 1)
    Tables.register(spark, TestSession.sf)
    assert(inc1 == full, s"incremental ${inc1.size} != batch-restricted ${full.size}")
  }

  test("dup-grade planted pairs: long-key LSH finds them all and prunes candidates") {
    // the production dedup regime: plant a perturbed copy of every vector
    // (cos ~0.97) and run the T=8 x B=8 long-key configuration — banding
    // predicts pair recall ~0.998 while a RANDOM pair shares a bucket
    // with probability ~8 * 0.5^8 ~ 3%, which is the pruning that keeps
    // the bucket join linear-ish at billions of vectors
    val emb = Tables.load(spark, TestSession.sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val planted = emb.select(
      (col("vec_id") + 100000L).as("vec_id"),
      expr("CAST(transform(embedding, (x, i) -> CAST(x + CASE WHEN i % 2 = 0 " +
        "THEN 0.03 ELSE -0.03 END AS FLOAT)) AS ARRAY<FLOAT>)").as("embedding"))
    val corpus = emb.union(planted)
    val n = corpus.count()
    val pairs = graft.operators.SimilarityOps
      .lshCosinePairs(corpus, 0.9, tables = 8, bits = 8).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = emb.select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 100000L)).toSet
    // only planted pairs can clear tau: original-original cosines top out
    // ~0.51 in the fixture, and perturbed copies inherit that spread
    assert(found.subsetOf(expected), s"unexpected pairs: ${found -- expected}")
    val recall = (found & expected).size.toDouble / expected.size
    assert(recall >= 0.95, s"planted recall = $recall")
    // pruning pin: the candidate bucket join must touch a small fraction
    // of the n*(n-1)/2 pair space
    val sig = graft.operators.SimilarityOps.bucketKeys(corpus, 8, 8)
    val candCount = sig.select(col("vec_id").as("id_a"), col("bucket"))
      .join(sig.select(col("vec_id").as("id_b"), col("bucket")), "bucket")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().count()
    val pairSpace = n * (n - 1) / 2
    assert(candCount < pairSpace / 10,
      s"bucket join degenerated: $candCount candidates of $pairSpace pairs")
  }

  test("estimatedRows: footer metadata for bare scans, count() fallback for filters") {
    import graft.operators.SimilarityOps
    val emb = spark.read.parquet(s"${TestSession.sf}/embeddings.parquet")
    // bare scan → parquet footer row count, exact (sf0.001 = 50 vectors)
    val bare = SimilarityOps.estimatedRows(emb)
    assert(bare == emb.count(), s"footer estimate $bare must be exact on a bare scan")
    // projection wrappers stripped, still footer-exact
    assert(SimilarityOps.estimatedRows(emb.select("vec_id", "embedding")) == bare)
    // a filtered scan must NOT use footer totals (they'd overestimate)
    val filtered = emb.filter(col("vec_id") % 2 === 0)
    assert(SimilarityOps.estimatedRows(filtered) == filtered.count())
    // registered view path (what dd_embedding_lsh actually passes)
    Tables.register(spark, TestSession.sf)
    assert(SimilarityOps.estimatedRows(spark.table("embeddings")) == bare)
  }

  test("estimatedRows: a refused footer stat propagates instead of falling back to count()") {
    import graft.operators.SimilarityOps
    val dir = java.nio.file.Files.createTempDirectory("graft-estrows")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    spark.conf.set("fs.failstat.impl", classOf[FailingStatFs].getName)
    try {
      val df = spark.read.parquet("failstat://" + dir.toString)
      assert(SimilarityOps.estimatedRows(df) == 100)
      FailingStatFs.fail = true
      val e = intercept[java.io.IOException](SimilarityOps.estimatedRows(df))
      assert(e.getMessage == "stat refused")
    } finally {
      FailingStatFs.fail = false
      spark.conf.unset("fs.failstat.impl")
    }
  }

  test("semDedup: planted twins collapse, edge exemplar survives, distinct vectors kept") {
    import graft.operators.SimilarityOps
    Tables.register(spark, "/root/testdata/sf0.01")
    val emb = spark.table("embeddings")
    // plant exact-direction twins (scaled copies => cosine 1.0) of 20
    // vectors under fresh ids; everything else in the fixture is far
    // from tau=0.95
    val twins = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, x -> x * CAST(1.5 AS FLOAT))").as("embedding"),
        col("label"))
    val corpus = emb.unionByName(twins)
    val out = SimilarityOps.semDedup(corpus, tau = 0.95).collect()
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    // every planted twin shares its original's group
    for (i <- 0L until 20L) {
      assert(byId(i).getAs[Long]("group") == byId(i + 100000).getAs[Long]("group"),
        s"twin $i not grouped with its original")
    }
    // exactly one keep per group, and it is the lowest-centroid-sim member
    val groups = out.groupBy(_.getAs[Long]("group"))
    groups.foreach { case (g, rows) =>
      val kept = rows.filter(_.getAs[Boolean]("keep"))
      assert(kept.length == 1, s"group $g kept ${kept.length}")
      val best = rows.minBy(r => (r.getAs[Double]("centroid_sim"), r.getAs[Long]("vec_id")))
      assert(kept.head.getAs[Long]("vec_id") == best.getAs[Long]("vec_id"),
        s"group $g survivor is not the edge exemplar")
    }
    // singletons (no duplicate) are all kept
    val singles = groups.filter(_._2.length == 1).values.flatten
    assert(singles.forall(_.getAs[Boolean]("keep")))
    // dedup actually removed >= 20 vectors (the planted twins' groups)
    val dropped = out.count(!_.getAs[Boolean]("keep"))
    assert(dropped >= 20, s"dropped=$dropped")
    // cluster-locality: members of a multi-member group share a cell
    groups.filter(_._2.length > 1).foreach { case (g, rows) =>
      assert(rows.map(_.getAs[Int]("cell")).distinct.length == 1,
        s"group $g spans cells — pairs must be cluster-local")
    }
  }
}
