package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class MmrSpec extends SparkTestBase {
  import spark.implicits._

  test("exact-duplicate candidate is demoted below a diverse one") {
    // q points at c1; c2 IS c1 (cosine 1.0 to it); c3 is weaker but
    // diverse. Plain top-3: c1, c2, c3. MMR(0.5): after picking c1,
    // c2 scores 0.5*(rel-1.0) < c3's 0.5*(rel3-sim(c3,c1))
    val vecs = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.95f, 0.312f, 0.0f)),
      (2L, Array(0.95f, 0.312f, 0.0f)),
      (3L, Array(0.8f, -0.192f, 0.5685f)))
      .toDF("vec_id", "embedding")
    val cand = Similarity.bruteForceTopK(
      vecs.filter("vec_id = 100"), vecs, "vec_id", "embedding", 10)
    val out = Retrieval.mmrRerank(cand, vecs, "vec_id", "embedding",
        k = 3, lambda = 0.5)
      .orderBy("mmr_rank").collect()
      .map(r => (r.getLong(1), r.getInt(2)))
    assert(out.head == ((1L, 1))) // highest rel, smaller id than its twin
    assert(out(1) == ((3L, 2))) // diversity beats the duplicate
    assert(out(2) == ((2L, 3)))
  }

  test("matches a local greedy reference on real embeddings") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val cand = Similarity.bruteForceTopK(
      e.filter("vec_id < 5"), e, "vec_id", "embedding", 10)
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val pool = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .groupBy(_._1)
    for (lambda <- Seq(0.0, 0.5, 1.0)) {
      val out = Retrieval.mmrRerank(cand, e, "vec_id", "embedding",
          k = 4, lambda = lambda)
        .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
      pool.foreach { case (q, rows) =>
        val rel = rows.map(r => r._2 -> r._3).toMap
        var selected = Vector.empty[Long]
        (1 to 4).foreach { _ =>
          val remaining = rel.keys.filterNot(selected.contains).toSeq
          // rank 1 is the plain top-rel pick at every lambda
          val pick = remaining.minBy { c =>
            val score = if (selected.isEmpty) rel(c)
              else lambda * rel(c) -
                (1.0 - lambda) * selected.map(sid => cos(vecs(c), vecs(sid))).max
            (-score, c)
          }
          selected :+= pick
        }
        selected.zipWithIndex.foreach { case (nid, i) =>
          assert(out((q, i + 1)) == nid, s"lambda $lambda query $q rank " +
            s"${i + 1}: engine ${out((q, i + 1))} vs reference $nid")
        }
      }
    }
  }

  test("rank 1 is the plain top-rel candidate; pool smaller than k") {
    val vecs = Seq(
      (50L, Array(0.0f, 1.0f)),
      (7L, Array(0.1f, 0.9f)),
      (8L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val cand = Similarity.bruteForceTopK(
      vecs.filter("vec_id = 50"), vecs, "vec_id", "embedding", 10)
    val out = Retrieval.mmrRerank(cand, vecs, "vec_id", "embedding",
        k = 5, lambda = 0.5)
      .orderBy("mmr_rank").collect()
    assert(out.length == 2) // pool exhausts before k
    assert(out.head.getLong(1) == 7L && out.head.getInt(2) == 1)
    assert(out(1).getLong(1) == 8L)
  }

  test("matches the greedy reference on deterministic pseudo-random vectors") {
    // broadens the real-embeddings equality to synthetic geometry:
    // 6 queries x 12-candidate pools of hash-derived 4-dim vectors
    // (clusters + near-dups planted by construction of the hash)
    def vec(id: Long): Array[Float] = Array.tabulate(4) { d =>
      val h = (id * 2654435761L + d * 40503L) % 1000L
      (h.toFloat / 500f) - 1f
    }
    val ids = (100L until 118L)
    val all = (ids.map(i => (i, vec(i))) ++ (0L until 6L).map(q => (q, vec(q * 37 + 3))))
      .toDF("vec_id", "embedding")
    val cand = Similarity.bruteForceTopK(
      all.filter(col("vec_id") < 6), all, "vec_id", "embedding", 12)
    val out = Retrieval.mmrRerank(cand, all, "vec_id", "embedding", 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val vecs = all.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    cand.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .groupBy(_._1).foreach { case (q, rows) =>
        val rel = rows.map(r => r._2 -> r._3).toMap
        var selected = Vector.empty[Long]
        (1 to 4).foreach { _ =>
          val remaining = rel.keys.filterNot(selected.contains).toSeq
          if (remaining.nonEmpty) {
            val pick = remaining.minBy { c =>
              val ms = if (selected.isEmpty) 0.0
                else selected.map(sid => cos(vecs(c), vecs(sid))).max
              (-(0.5 * rel(c) - 0.5 * ms), c)
            }
            selected :+= pick
          }
        }
        selected.zipWithIndex.foreach { case (nid, i) =>
          assert(out((q, i + 1)) == nid, s"q=$q rank=${i + 1}")
        }
      }
  }

  test("lambda bounds and k validated") {
    val vecs = Seq((1L, Array(1.0f))).toDF("vec_id", "embedding")
    val cand = vecs.select(col("vec_id").as("query_id"),
      col("vec_id").as("neighbor_id"), lit(1).as("rank"),
      lit(1.0).as("cosine"))
    intercept[IllegalArgumentException] {
      Retrieval.mmrRerank(cand, vecs, "vec_id", "embedding", 0, 0.5)
    }
    intercept[IllegalArgumentException] {
      Retrieval.mmrRerank(cand, vecs, "vec_id", "embedding", 1, 1.5)
    }
  }

  test("a candidate missing from the corpus (or zero-norm) fails " +
      "loudly instead of silently skipping its diversity penalty") {
    val corpus = Seq(
      (100L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 0.0f)), // zero-norm: cosine undefined
      (3L, null.asInstanceOf[Array[Float]])) // NULL vector: norm NULL
      .toDF("vec_id", "embedding")
    // candidate 7 has no corpus row at all; candidate 2 is zero-norm;
    // candidate 3 has a NULL embedding (review r12: a bare
    // `!(__nrm > 0)` is NULL for it and escaped the guard while the
    // pair frame still dropped it — the exact silent-skip condition)
    val cand = Seq((100L, 1L, 0.9), (100L, 7L, 0.8), (100L, 2L, 0.7),
      (100L, 3L, 0.65))
      .toDF("query_id", "neighbor_id", "cosine")
    val e = intercept[IllegalArgumentException](
      Retrieval.mmrRerank(cand, corpus, "vec_id", "embedding",
        k = 2, lambda = 0.5))
    assert(e.getMessage.contains("3 candidate row(s)"), e.getMessage)
    // k=1 never reads the pair frame, so coverage is not consulted
    val r1 = Retrieval.mmrRerank(cand, corpus, "vec_id", "embedding",
      k = 1, lambda = 0.5).collect()
    assert(r1.length == 1 && r1.head.getLong(1) == 1L)
  }

  test("NaN and NULL relevance rank as Spark's window orders them") {
    // desc with NaN greatest and NULL last: the NaN candidate is
    // picked first (its mmr stays NaN), the NULL one last
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f)),
      (4L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val cand = Seq[(Long, Long, java.lang.Double)]((100L, 1L, 0.9),
        (100L, 2L, Double.NaN), (100L, 3L, null), (100L, 4L, 0.5))
      .toDF("query_id", "neighbor_id", "cosine")
    val out = Retrieval.mmrRerank(cand, corpus, "vec_id", "embedding",
        k = 4, lambda = 0.5)
      .orderBy("mmr_rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    // after 2: mmr(1) = 0.45 - 0.5*0 beats mmr(4) = 0.25 - 0.5*0.8
    assert(out.toSeq == Seq((2L, 1), (1L, 2), (4L, 3), (3L, 4)))
  }

  test("duplicate candidate rows and duplicate corpus ids: each id " +
      "ranks once, penalized by its closest copy") {
    // id 2 has two corpus vectors; its penalty is the max over both
    // (the second is nearly id 1), so it ranks last, not second
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.1f)),
      (3L, Array(0.7f, 0.7f)),
      (4L, Array(0.1f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cand = Seq((100L, 1L, 0.9), (100L, 2L, 0.8), (100L, 3L, 0.7),
        (100L, 3L, 0.7), (100L, 4L, 0.6))
      .toDF("query_id", "neighbor_id", "cosine")
    val out = Retrieval.mmrRerank(cand, corpus, "vec_id", "embedding",
        k = 5, lambda = 0.5)
      .orderBy("mmr_rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 1), (4L, 2), (3L, 3), (2L, 4)))
  }

  test("the job count does not grow with k") {
    import org.apache.spark.graftbridge.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val cand = Similarity.bruteForceTopK(
      e.filter("vec_id < 5"), e, "vec_id", "embedding", 10).localCheckpoint()
    def jobs(k: Int): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      ListenerBridge.drain(sc, 30000)
      sc.addSparkListener(l)
      try {
        Retrieval.mmrRerank(cand, e, "vec_id", "embedding", k, 0.5).collect()
        ListenerBridge.drain(sc, 30000)
      } finally sc.removeSparkListener(l)
      n.get
    }
    val (j3, j8) = (jobs(3), jobs(8))
    assert(j3 > 0 && j3 == j8, s"k=3 ran $j3 jobs, k=8 ran $j8")
  }
}
