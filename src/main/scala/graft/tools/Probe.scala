package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession

/** Dev-only probe main for plan/skew diagnostics (not part of the
  * library surface). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("graft-probe")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.headOption.contains("scale10x")) { scale10x(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r4probe")) { r4probe(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r5probe")) { r5probe(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r5bprobe")) { r5bprobe(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r5cprobe")) { r5cprobe(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r5dprobe")) { r5dprobe(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r6probe")) { r6probe(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r7probe")) { r7probe(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r8probe")) { r8probe(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r8probe2")) { r8probe2(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r9probe")) { r9probe(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r10state")) { r10state(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r10price")) { r10price(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r11price")) { r11price(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r11b")) { r11b(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r12scale")) { r12scale(spark, dir); spark.stop(); return }
    if (args.headOption.contains("r13scale")) { r13scale(spark, dir); spark.stop(); return }
    if (args.headOption.contains("synth1")) {
      synth1(spark, args.lift(1).getOrElse("/tmp/sf1")); spark.stop(); return
    }
    if (args.headOption.contains("r7pipe")) { r7pipe(spark, dir); spark.stop(); return }
    if (args.headOption.contains("jdbcYardstick")) { jdbcYardstick(spark, dir); spark.stop(); return }
    if (args.headOption.contains("dd4")) { dd4(spark, dir); spark.stop(); return }
    if (args.headOption.contains("dotKernel")) { dotKernel(spark, dir); spark.stop(); return }
    if (args.headOption.contains("dd6b")) { dd6b(spark, dir); spark.stop(); return }
    if (args.headOption.contains("dd6")) { dd6(spark, dir); spark.stop(); return }
    if (args.headOption.contains("dd2")) { dd2(spark, dir); spark.stop(); return }
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    // minhash LSH: bucket-size distribution + candidate count
    val sh = graft.operators.Dedup.shingles(col("text"), 3)
    val sigs = docs.select(col("doc_id").as("id"),
      graft.functions.TextExpressions.minhash_signature(sh, 64).as("sig"))
    val banded = sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(15)),
        b => xxhash64(concat_ws(",", transform(
          slice(col("sig"), b * 4 + 1, lit(4)), _.cast("string"))), b)))
        .as(Seq("band", "bucket")))
    val buckets = banded.groupBy("band", "bucket").count()
    println("=== bucket size histogram")
    buckets.groupBy(col("count").as("bucket_size")).count()
      .orderBy(col("bucket_size").desc).show(10, false)
    val cand = buckets.filter(col("count") > 1)
      .agg(sum(col("count") * (col("count") - 1) / 2)).first()
    println(s"=== total in-bucket pairs (pre-dedup): $cand")

    def timed[T](label: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(s"=== $label: ${(System.nanoTime() - t) / 1e9}s"); r
    }
    timed("dd2 shingles only")(docs.select(
      graft.operators.Dedup.shingles(col("text"), 3).as("sh")).count())
    timed("dd2 sigs only")(sigs.count())
    timed("dd2 full")(graft.operators.Dedup.minhashLshPairs(
      docs, "doc_id", "text", 3, 64, 16, 0.7).count())
    timed("dd2 full second run")(graft.operators.Dedup.minhashLshPairs(
      docs, "doc_id", "text", 3, 64, 16, 0.7).count())
    timed("dd4 full")(graft.operators.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", Seq("lang"), 1, 0.5, 32).count())
    // join-only baseline: same shuffle + pair materialization, no
    // intersect — isolates the merge-scan cost
    locally {
      val sh = array_sort(transform(graft.operators.Dedup.shingles(col("text"), 1),
        t => xxhash64(t)))
      val base = docs.select(col("doc_id").as("id"), sh.as("sh"), col("lang"))
      val a = base.select(col("id").as("id_a"), col("sh").as("sh_a"), col("lang"),
        pmod(xxhash64(col("id")), lit(32)).as("__salt"))
      val b = base.select(col("id").as("id_b"), col("sh").as("sh_b"), col("lang"),
        explode(sequence(lit(0L), lit(31L))).as("__salt"))
      timed("dd4 join-only (no intersect)")(
        a.join(b, Seq("lang", "__salt")).filter(col("id_a") < col("id_b"))
          .select(size(col("sh_a")) + size(col("sh_b"))).agg(sum("(size(sh_a) + size(sh_b))")).first())
      timed("dd4 join+intersect, no threshold")(
        a.join(b, Seq("lang", "__salt")).filter(col("id_a") < col("id_b"))
          .select(graft.functions.TextExpressions.sorted_intersect_count(
            col("sh_a"), col("sh_b")).as("i")).agg(sum("i")).first())
    }

    spark.stop()
  }

  /** dd6 stage timing: prefix pair-gen vs clusters() on the ≤100-doc
    * subset, to localize where the wall-clock goes. */
  def dd6(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def timed[T](label: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(s"=== $label: ${(System.nanoTime() - t) / 1e9}s"); r
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") <= 100)
    val pairs = timed("pairgen construct")(
      graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq("lang"), shingleSize = 1, threshold = 0.5))
    timed("pairgen count")(println(pairs.count()))
    timed("pairgen count again")(println(pairs.count()))
    timed("clusters on raw pairs")(
      println(graft.operators.Dedup.clusters(pairs.select("id_a", "id_b")).count()))
    val mat = pairs.select("id_a", "id_b").localCheckpoint(true)
    timed("clusters on materialized pairs")(
      println(graft.operators.Dedup.clusters(mat).count()))
  }

  /** dd6b: isolate the stages of the 100-doc prefix pipeline. */
  def dd6b(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def timed[T](label: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(s"=== $label: ${(System.nanoTime() - t) / 1e9}s"); r
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") <= 100)
    timed("docs count")(println(docs.count()))
    val sh = array_sort(transform(graft.operators.Dedup.shingles(col("text"), 1),
      t => xxhash64(t)))
    val base = docs.select(col("doc_id").as("id"), sh.as("sh"), size(sh).as("n"), col("lang"))
    timed("base count")(println(base.count()))
    timed("topVocab agg collect")(println(
      base.select(explode(col("sh")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(256).collect().length))
    timed("prefix full (construct+count)")(println(
      graft.operators.Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        Seq("lang"), 1, 0.5).count()))
    timed("bitset full (construct+count)")(println(
      graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq("lang"), 1, 0.5, strategy = "probe").count()))
  }

  /** dd2 piecewise timing: signatures, banding, candidate gen, verify. */
  def dd2(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def timed[T](label: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(s"=== $label: ${(System.nanoTime() - t) / 1e9}s"); r
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$dir/region.parquet").count() // warm
    val sh = graft.operators.Dedup.shingles(col("text"), 3)
    val withShingles = docs.select(col("doc_id").as("id"), sh.as("sh"))
    val sigs = withShingles.select(col("id"),
      graft.functions.TextExpressions.minhash_signature(col("sh"), 64).as("sig"))
    timed("sigs count")(sigs.count())
    val banded = withShingles.select(col("id"),
      posexplode(graft.functions.TextExpressions.minhash_band_buckets(col("sh"), 64, 16))
        .as(Seq("band", "bucket")))
    timed("banded count")(banded.count())
    timed("banded count 2nd")(banded.count())
    val ids = array_sort(col("ids"))
    val allPairs = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))
    val cand = banded.groupBy("band", "bucket").agg(collect_list("id").as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(allPairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .dropDuplicates("id_a", "id_b")
    timed("candidates count")(cand.count())
    timed("candidates count 2nd")(cand.count())
    // verify join in isolation, from materialized candidates
    val candChk = cand.localCheckpoint(true)
    val a = withShingles.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b2 = withShingles.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    timed("verify join only")(candChk
      .join(a, "id_a").join(b2, "id_b")
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= 0.7).count())
    timed("full 1st")(graft.operators.Dedup.minhashLshPairs(
      docs, "doc_id", "text", 3, 64, 16, 0.7).count())
    timed("full 2nd")(graft.operators.Dedup.minhashLshPairs(
      docs, "doc_id", "text", 3, 64, 16, 0.7).count())
  }

  /** dd4 piecewise timing: vocab probe, mask build, join, full. */
  def dd4(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def timed[T](label: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(s"=== $label: ${(System.nanoTime() - t) / 1e9}s"); r
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val vocab = timed("vocab probe")(docs
      .select(explode(graft.operators.Dedup.shingles(col("text"), 1)).as("tok"))
      .distinct().limit(257).collect().map(_.getString(0)))
    println(s"=== vocab size: ${vocab.length}")
    timed("bitset full 1st")(graft.operators.Dedup.bitsetJaccardPairs(
      docs, "doc_id", "text", Seq("lang"), vocab.sorted, 1, 0.5).count())
    timed("bitset full 2nd")(graft.operators.Dedup.bitsetJaccardPairs(
      docs, "doc_id", "text", Seq("lang"), vocab.sorted, 1, 0.5).count())
    timed("bitset nofilter count")(graft.operators.Dedup.bitsetJaccardPairs(
      docs, "doc_id", "text", Seq("lang"), vocab.sorted, 1, 0.0).count())
    for (sb <- Seq(1, 8, 64))
      timed(s"bitset salt=$sb")(graft.operators.Dedup.bitsetJaccardPairs(
        docs, "doc_id", "text", Seq("lang"), vocab.sorted, 1, 0.5, saltBuckets = sb).count())
    // is the interpreted mask build being recomputed downstream?
    // pre-materialize (id, mask, n, lang) and join from that.
    val pre = timed("mask precompute")(graft.operators.Dedup
      .bitsetEncode(docs, "doc_id", "text", Seq("lang"), vocab.sorted, 1)
      .localCheckpoint(true))
    timed("bitset join from checkpoint")(
      graft.operators.Dedup.bitsetPairsFromEncoded(pre, Seq("lang"),
        (vocab.length + 63) / 64, 0.5, 32).count())
    graft.operators.Dedup.bitsetJaccardPairs(
      docs, "doc_id", "text", Seq("lang"), vocab.sorted, 1, 0.5).explain("formatted")
  }

  /** Synthetic 10x scale-up (union of id-shifted copies ≈ sf1):
    * validates that the headline operators' wall-clock grows ~linearly
    * and nothing falls over (memory, skew) an order of magnitude above
    * the bench scale. */
  /** BASELINE.md's local sanity yardstick: full-lineitem parquet →
    * embedded-JDBC complete-mode load, wall-clock + rows/min. The
    * reference's projections are ~666 K rows/min (1 worker) to ~1 M
    * rows/min (20 workers). */
  def jdbcYardstick(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import graft.core.{ReplicationMode, SinkConf}
    val url = s"jdbc:derby:memory:yardstick${System.nanoTime()};create=true"
    graft.sources.JdbcConnector.withConnection(url, Map.empty) { c =>
      val st = c.createStatement()
      st.execute("""CREATE TABLE LINEITEM (
        L_ORDERKEY BIGINT, L_PARTKEY BIGINT, L_SUPPKEY BIGINT,
        L_LINENUMBER INTEGER, L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE,
        L_DISCOUNT DOUBLE, L_TAX DOUBLE, L_RETURNFLAG VARCHAR(1),
        L_LINESTATUS VARCHAR(1), L_SHIPDATE TIMESTAMP)""")
      st.close()
    }
    val li = spark.read.parquet(s"$dir/lineitem.parquet").toDF(
      "L_ORDERKEY", "L_PARTKEY", "L_SUPPKEY", "L_LINENUMBER", "L_QUANTITY",
      "L_EXTENDEDPRICE", "L_DISCOUNT", "L_TAX", "L_RETURNFLAG",
      "L_LINESTATUS", "L_SHIPDATE")
    val t = System.nanoTime()
    graft.sources.JdbcConnector.write(li,
      SinkConf(connect = url, table = Some("LINEITEM"),
        mode = ReplicationMode.Complete))
    val secs = (System.nanoTime() - t) / 1e9
    val n = graft.sources.JdbcConnector.withConnection(url, Map.empty) { c =>
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM LINEITEM")
      rs.next(); rs.getLong(1)
    }
    println(f"=== jdbcYardstick: $n%,d rows in $secs%.1fs = ${n / secs * 60}%,.0f rows/min")
  }

  /** The 50 K-doc production-shaped (Zipfian cluster sizes) synthetic
    * corpus shared by the r7 probes — ONE recipe so cross-probe
    * timing comparisons (BPE rounds vs pipeline stages) price the
    * same data. 40x200 + 400x20 + 2000x5 duplicate clusters, 30
    * words/doc from a 5000-word id vocabulary, plus lang/source
    * columns for blocked/funnel operators. */
  private def zipfCorpus(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val sizes = Seq.fill(40)(200) ++ Seq.fill(400)(20) ++ Seq.fill(2000)(5)
    val cum = sizes.scanLeft(0L)((a, b) => a + b)
    val boundsDf = sizes.indices.map(k => (k.toLong, cum(k), cum(k) + sizes(k)))
      .toDF("cl", "lo", "hi")
    spark.range(50000L).select(col("id").as("doc_id"))
      .join(broadcast(boundsDf),
        col("doc_id") >= col("lo") && col("doc_id") < col("hi"), "left")
      .withColumn("rep", coalesce(col("lo"), col("doc_id")))
      .withColumn("lang", concat(lit("l"), pmod(col("rep"), lit(4))))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(3))))
      .withColumn("text",
        concat(concat_ws(" ", transform(sequence(lit(1), lit(30)),
          i => concat(lit("w"), pmod(xxhash64(col("rep"), i), lit(5000))))),
          lit(" s"), pmod(col("doc_id"), lit(7))))
      .select("doc_id", "lang", "source", "text").localCheckpoint()
  }

  /** Round-7 probes: dd5 banded-LSH configurations at sf0.1 —
    * wall-clock and recall vs the exact quadratic baseline, for
    * picking the dd5 query's operating point (auto-tuned vs a
    * recall-1 explicit banding) and re-pricing PERF.md. */
  def r7probe(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    def timed[T](label: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(f"=== r7probe $label: ${(System.nanoTime() - t) / 1e9}%.2fs"); r
    }
    val exact = timed("dd5 exact baseline (quadratic)")(
      graft.operators.Dedup.exactCosinePairs(e, "vec_id", "embedding", 0.35)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    println(s"=== r7probe exact pairs at 0.35: ${exact.size}")
    def lshRun(label: String, bands: Int, planes: Int): Unit = {
      val got = timed(s"dd5 banded $label")(
        graft.operators.Dedup.embeddingNearDupPairs(e, "vec_id", "embedding",
          threshold = 0.35, bands = Some(bands), planesPerBand = Some(planes))
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      println(f"=== r7probe dd5 $label recall: ${got.intersect(exact).size.toDouble / exact.size}%.4f (${got.size} pairs)")
    }
    lshRun("auto r=3 b=12", 12, 3)
    lshRun("r=2 b=20", 20, 2)
    lshRun("r=2 b=24", 24, 2)
    lshRun("r=3 b=24", 24, 3)

    // ---- BPE local-exact tier vs distributed loop (VERDICT r6 #3) --
    // same 50K-doc Zipfian corpus as r6probe/r7pipe; 96 merges
    val zipf = zipfCorpus(spark)
    val tSeq0 = System.nanoTime()
    val distM = graft.operators.Tokenizer.trainBpeMerges(zipf, "text",
      numMerges = 96, maxLocalWords = 0)
    val tSeq = (System.nanoTime() - tSeq0) / 1e9
    val tLoc0 = System.nanoTime()
    val (locM, locRounds) = graft.operators.Tokenizer
      .trainBpeMergesBatchedWithRounds(zipf, "text", 96, batchSize = 1)
    val tLoc = (System.nanoTime() - tLoc0) / 1e9
    println(f"=== r7probe BPE 96 merges ZIPF 50K docs: distributed ${tSeq}%.1fs (96 rounds)" +
      f" vs local-exact ${tLoc}%.1fs ($locRounds round) — identical=${distM.toSeq == locM.toSeq}")
    val tBat0 = System.nanoTime()
    val (batM, batRounds) = graft.operators.Tokenizer
      .trainBpeMergesBatchedWithRounds(zipf, "text", 96, batchSize = 8,
        maxLocalWords = 0)
    val tBat = (System.nanoTime() - tBat0) / 1e9
    println(f"=== r7probe BPE strict-prefix batch (distributed tier): ${tBat}%.1fs," +
      f" $batRounds rounds for 96 merges — identical=${batM.toSeq == distM.toSeq}")
  }

  /** Round-7 pipeline probe (VERDICT r6 #7): the full pipe1/pipe2
    * curation funnels on the 50 K-doc Zipfian corpus, stage by stage
    * (each stage standalone from a checkpointed input) and composed
    * end-to-end, so any composition overhead >2x a stage's
    * standalone cost is visible. */
  def r7pipe(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._
    import graft.operators._
    val docs = zipfCorpus(spark)
    def timed(label: String)(f: => Long): Long = {
      val t = System.nanoTime(); val n = f
      println(f"=== r7pipe $label: ${(System.nanoTime() - t) / 1e9}%.2fs ($n%,d rows)")
      n
    }
    // ---- pipe1 stages ---------------------------------------------
    var stage = docs
    val norm = docs.withColumn("text", TextNormalize.canonical(col("text")))
    timed("pipe1 s1 normalize (standalone)")(norm.count())
    stage = norm.localCheckpoint()
    val gated = stage.filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
    timed("pipe1 s2 quality filter (standalone)")(gated.count())
    stage = gated.localCheckpoint()
    timed("pipe1 s3 dedupCorpus (standalone)")(
      Dedup.dedupCorpus(stage, "doc_id", "text", threshold = 0.8).count())
    val surv = Dedup.dedupCorpus(stage, "doc_id", "text", threshold = 0.8)
      .localCheckpoint()
    timed("pipe1 s4 annotate (standalone)")(
      surv.select(col("doc_id"), col("lang"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint")).count())
    timed("pipe1 COMPOSED end-to-end")({
      val d2 = docs.withColumn("text", TextNormalize.canonical(col("text")))
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
      Dedup.dedupCorpus(d2, "doc_id", "text", threshold = 0.8)
        .select(col("doc_id"), col("lang"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint")).count()
    })
    // ---- pipe2 stages ---------------------------------------------
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(20)) === 0).localCheckpoint()
    val train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0).localCheckpoint()
    // the gate keeps 0 of these synthetic word-id docs (no stopwords,
    // no sentences) — its COST is the row-local scoring scan, which
    // is what we time; downstream stages are priced on the full
    // train set so they see realistic volumes
    timed("pipe2 s1 quality gate (standalone; rejects all synthetic docs)")(
      QualityFilters.gate(train, "text")
        .filter(col("keep")).select("doc_id", "source", "text").count())
    val g2 = QualityFilters.gate(train, "text")
      .select("doc_id", "source", "text").localCheckpoint()
    val deduped2 = Dedup.exactSurvivors(g2, "doc_id", Seq("text"))
    timed("pipe2 s2 exact survivors (standalone)")(deduped2.count())
    val d2c = deduped2.localCheckpoint()
    val contaminated = Decontaminate.bloomContaminatedDocs(
      d2c, evalDocs, "doc_id", "text", gramSize = 3,
      expectedEvalGrams = 1 << 18)
      .filter(col("n_shared_grams") >= 20).select("doc_id")
    timed("pipe2 s3 bloom decontaminate (standalone)")(contaminated.count())
    val cont2 = contaminated.localCheckpoint()
    timed("pipe2 s4 anti join + per-source counts (standalone)")({
      val clean = d2c.join(cont2, Seq("doc_id"), "left_anti")
      def cnt(df: org.apache.spark.sql.DataFrame, name: String) =
        df.groupBy("source").agg(count(lit(1)).as(name))
      cnt(train, "n_input")
        .join(cnt(g2, "n_gated"), Seq("source"), "left")
        .join(cnt(d2c, "n_deduped"), Seq("source"), "left")
        .join(cnt(clean, "n_clean"), Seq("source"), "left").count()
    })
    timed("pipe2 COMPOSED end-to-end")({
      // gate compute included, filter bypassed (see s1 note)
      val gted = QualityFilters.gate(train, "text")
        .select("doc_id", "source", "text")
      val ddp = Dedup.exactSurvivors(gted, "doc_id", Seq("text"))
      val cont = Decontaminate.bloomContaminatedDocs(
        ddp, evalDocs, "doc_id", "text", gramSize = 3,
        expectedEvalGrams = 1 << 18)
        .filter(col("n_shared_grams") >= 20).select("doc_id")
      val clean = ddp.join(cont, Seq("doc_id"), "left_anti")
      def cnt(df: org.apache.spark.sql.DataFrame, name: String) =
        df.groupBy("source").agg(count(lit(1)).as(name))
      cnt(train, "n_input")
        .join(cnt(gted, "n_gated"), Seq("source"), "left")
        .join(cnt(ddp, "n_deduped"), Seq("source"), "left")
        .join(cnt(clean, "n_clean"), Seq("source"), "left").count()
    })
  }

  def scale10x(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    def x10(name: String, idCols: Seq[String]): DataFrame = {
      val base = spark.read.parquet(s"$dir/$name.parquet")
      (0 until 10).map { i =>
        idCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      }.reduce(_.unionAll(_))
    }
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== scale10x $label: ${(System.nanoTime() - t) / 1e9}%.1fs ($n%,d rows)")
    }
    val li = x10("lineitem", Seq("l_orderkey"))
    val docs = x10("documents", Seq("doc_id"))
    timed("agg1 6M rows")(li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), avg("l_discount"), count(lit(1))).count())
    timed("join 6M x 1.5M")(
      li.join(x10("orders", Seq("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count().count())
    timed("m1 write 6M")({
      val out = java.nio.file.Files.createTempDirectory("probe10x").toString + "/s"
      li.write.mode("overwrite").parquet(out)
      spark.read.parquet(out).count()
    })
    timed("dd1 exact dedup 50K docs")(
      graft.operators.Dedup.exact(docs, "doc_id", Seq("text")).count())
    timed("dd2 minhash LSH 50K docs")(
      graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.7).count())
    timed("dd4 ngram jaccard 50K docs")(
      graft.operators.Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", Seq("lang"), threshold = 0.8).count())
    timed("sim1 topk 10 x 20K vecs")({
      val e = x10("embeddings", Seq("vec_id"))
      graft.operators.Similarity.bruteForceTopK(
        e.filter("vec_id < 10"), e, "vec_id", "embedding", 5).count()
    })
    timed("sim2 IVF topk 10 x 20K vecs")({
      val e = x10("embeddings", Seq("vec_id"))
      graft.operators.Similarity.ivfTopK(
        e.filter("vec_id < 10"), e, "vec_id", "embedding", 5,
        nCentroids = 16, nProbe = 4).count()
    })
    timed("dd5 banded embedding near-dup 20K vecs")(
      graft.operators.Dedup.embeddingNearDupPairs(
        x10("embeddings", Seq("vec_id")), "vec_id", "embedding",
        threshold = 0.35).count())
    // recall of the banded LSH vs the exact quadratic baseline at 10x
    locally {
      val e = x10("embeddings", Seq("vec_id"))
      val t0 = System.nanoTime()
      val exact = graft.operators.Dedup.exactCosinePairs(
        e, "vec_id", "embedding", 0.35)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val tExact = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val lsh = graft.operators.Dedup.embeddingNearDupPairs(
        e, "vec_id", "embedding", threshold = 0.35)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val tLsh = (System.nanoTime() - t1) / 1e9
      println(f"=== scale10x dd5 recall 20K vecs: ${lsh.intersect(exact).size.toDouble / exact.size}%.4f" +
        f" (${exact.size}%,d exact pairs, exact ${tExact}%.1fs, banded ${tLsh}%.1fs)")
    }
    timed("dd7 contamination 2.5K x 47.5K docs")({
      // 50K rows > the size gate: auto routes the bipartite prefix
      // join (the open-vocab/large-corpus path) at this scale
      val d = docs
      graft.operators.Dedup.crossJaccardPairs(
        d.filter(col("doc_id") % 10000000L <= 250), d.filter(col("doc_id") % 10000000L > 250),
        "doc_id", "text", Seq("lang"), shingleSize = 1, threshold = 0.8).count()
    })
    timed("dd8 bloom decontaminate 2.5K eval x 47.5K train")(
      graft.operators.Decontaminate.bloomContaminatedDocs(
        docs.filter(col("doc_id") % 10000000L > 250),
        docs.filter(col("doc_id") % 10000000L <= 250),
        "doc_id", "text", gramSize = 3, expectedEvalGrams = 1 << 18).count())
    timed("dd9 hot spans 50K docs")(
      graft.operators.Decontaminate.hotSpanDocs(
        docs, "doc_id", "text", gramSize = 3, minDocs = 5).count())
    timed("rep1 repetition stats 50K docs")(
      graft.operators.QualityFilters.repetitionSignals(
        docs, "doc_id", "text", n = 2).count())
    timed("ta4 unigram logprob 50K docs")(
      graft.operators.Scoring.unigramLogProb(docs, "doc_id", "text").count())
    timed("j3 binned range join 6M x 1.5M")({
      val liF = li.filter(col("l_quantity") >= 45).select("l_shipdate", "l_quantity")
      val ord = x10("orders", Seq("o_orderkey"))
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("o_end"))
      graft.operators.AsOfJoin.binnedRangeJoin(
          liF, ord, "l_shipdate", "o_orderdate", "o_end", binWidth = "3 days")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items")).count()
    })
  }

  /** 10x probes for the round-4 operators (same synthetic union as
    * scale10x): span decontamination, chunking, and the quadratic
    * exact-cosine baseline at 10x its intended sample size. */
  def r4probe(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    def x10(name: String, idCols: Seq[String]): DataFrame = {
      val base = spark.read.parquet(s"$dir/$name.parquet")
      (0 until 10).map { i =>
        idCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      }.reduce(_.unionAll(_))
    }
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== r4probe $label: ${(System.nanoTime() - t) / 1e9}%.1fs ($n%,d rows)")
    }
    val docs = x10("documents", Seq("doc_id"))
    spark.read.parquet(s"$dir/region.parquet").count() // warm
    timed("ch1 chunking 50K docs")(
      graft.operators.Chunking.chunkDocuments(docs, "doc_id", "text",
        maxTokens = 32, overlap = 8).count())
    timed("dd10 contaminated spans 2.5K eval x 47.5K train")(
      graft.operators.Decontaminate.contaminatedSpans(
        docs.filter(col("doc_id") % 10000000L > 250),
        docs.filter(col("doc_id") % 10000000L <= 250),
        "doc_id", "text", gramSize = 3, expectedEvalGrams = 1 << 18).count())
    timed("sim5 exact cosine 5K vecs / 12.5M pairs (quadratic baseline)")(
      graft.operators.Dedup.exactCosinePairs(
        x10("embeddings", Seq("vec_id")), "vec_id", "embedding", 0.35).count())
    timed("mix1 temperature weights 50K docs")(
      graft.operators.Sampling.temperatureWeights(docs, "source", 0.5).count())
  }

  /** 10× pricing for the second half of round 5: PageRank, heavy
    * hitters, HTML extraction, chat spans, z-order, salted join. */
  /** 10x probe for the round-5c operators: hot-span excision,
    * winnowing (fingerprints + pairs), token-KL drift, KS drift. */
  /** 10x pricing for the round-5d operators (stats, basket, k-core,
    * attribution, curriculum, CMS, PCA, token-sort dedup). */
  def r5dprobe(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    def x10(name: String, idCols: Seq[String]): DataFrame = {
      val base = spark.read.parquet(s"$dir/$name.parquet")
      (0 until 10).map { i =>
        idCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      }.reduce(_.unionAll(_))
    }
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== r5dprobe $label: ${(System.nanoTime() - t) / 1e9}%.1fs ($n%,d rows)")
    }
    spark.read.parquet(s"$dir/region.parquet").count() // warm
    val li = x10("lineitem", Seq("l_orderkey"))
    val ev = x10("events", Seq("event_id", "user_id"))
    val evd = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => ev.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(expr("ts div 1000"))
          .cast("timestamp_ntz"))
      case _ => ev
    }
    val docs = x10("documents", Seq("doc_id"))
    timed("ab1 welch t 1M events")(
      graft.operators.Stats.welchTTest(
        evd.select(col("event_type"), col("user_id"),
          round(col("value") * 100).cast("long").as("v")),
        Seq("event_type"), col("user_id") % 2, col("v"), 100.0).count())
    timed("reg2 corr matrix 6M rows x 4 cols")(
      graft.operators.Stats.corrMatrix(li, Seq(
        "qty" -> round(col("l_quantity")),
        "price" -> round(col("l_extendedprice")),
        "disc" -> round(col("l_discount") * 100),
        "tax" -> round(col("l_tax") * 100))).count())
    timed("mb1 basket rules 6M lines / 150K baskets")(
      graft.operators.Basket.associationRules(
        li.select(col("l_orderkey").as("b"), (col("l_partkey") % 50).as("i")),
        "b", "i", minSupport = 300L).count())
    timed("hh2 count-min 6M rows / 20K items")(
      graft.operators.Profiling.countMinEstimates(
        li.select((col("l_partkey") % 20000).as("it")), col("it"),
        depth = 4, width = 256).count())
    timed("att1 attribution 1M events")(
      graft.operators.Funnel.positionCredit(
        evd.filter(col("event_type").isin("view", "click", "purchase")),
        "user_id", "ts", "event_id",
        col("event_type").isin("view", "click"),
        col("event_type") === "purchase").count())
    timed("ts4 ewma 1M events / 1.5K users")(
      graft.operators.TimeSeries.ewmaHalf(
        evd.select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("v")),
        Seq("user_id"), Seq("ts", "event_id"), col("v"), 16, 100.0).count())
    timed("mix4 curriculum rank 50K docs")(
      // re-densify the copy-shifted ids into the packer's id range
      graft.operators.Sampling.curriculumOrder(
        docs.withColumn("doc_id",
          col("doc_id") % 100000000L + expr("doc_id div 100000000") * 50000L),
        "doc_id", least(expr("n_chars div 150"), lit(3))).count())
    timed("rep2 token dedup 50K docs")(
      docs.select(graft.functions.TextExpressions
        .dedup_tokens_in_doc(col("text")).as("d")).count())
    timed("dd20 token-sort dedup 50K docs")(
      graft.operators.Dedup.tokenSortDedup(docs, "doc_id", "text").count())
    timed("pr4 k-core 50K nodes / 100K edges x 3 sweeps")({
      val mxF = docs.agg(max("doc_id").as("mx"))
      val base = docs.select(col("doc_id").as("s")).crossJoin(broadcast(mxF))
      def chord(k: Int) = base
        .select(col("s"), (col("s") + k).as("t"), col("mx"))
        .filter(col("t") <= col("mx")).select("s", "t")
      graft.operators.LinkGraph.kCore(
        chord(1).unionByName(chord(2)), "s", "t", 4, 3).count()
    })
    val emb = x10("embeddings", Seq("vec_id"))
    timed("emb2 PCA 20K x 64-dim vectors")(
      graft.operators.Similarity.pcaProject(emb, "vec_id", "embedding", 2)
        .count())
    timed("dd21 containment 50K docs (df-capped gram join)")(
      graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
        shingleSize = 2, threshold = 0.8, maxGramDf = 100).count())
    timed("geo2 radius join 15K points / 120km")(
      graft.operators.Geo.pairsWithinKm(
        x10("customer", Seq("c_custkey")).select(
          col("c_custkey").as("id"),
          ((col("c_custkey") * 7) % 1200 / 10.0 - 60).as("lat"),
          ((col("c_custkey") * 13) % 3400 / 10.0 - 170).as("lon")),
        "id", "lat", "lon", 120.0, 2.5).count())
    timed("kmeans2 silhouette 20K x 64-dim, k=8")(
      graft.operators.Clustering.silhouette(emb, "vec_id", "embedding",
        k = 8, maxIter = 2).count())
    timed("seq5+coh2 event-window family 1M events")({
      graft.operators.Sequences.transitions(evd, "user_id",
        Seq("ts", "event_id"), "event_type").count() +
      graft.operators.Funnel.ltvCurve(evd, "user_id", "ts",
        round(col("value") * 100)).count()
    })
  }

  /** Round-6 probe (VERDICT r5 #4 + new-operator pricing).
    *
    * (a) Zipfian pair-bound fixture: the word-salad corpus's duplicate
    * clusters are maximal by construction, so dd4/dd21 10x wall-times
    * overstate production cost. This fixture is the realistic shape:
    * 50K synthetic docs, cluster k sized ~128/k (one 128-doc cluster,
    * a handful of mid clusters, everything else singleton — a Zipf
    * tail), cluster members sharing a 30-word body with a per-doc
    * suffix. Reported with PAIR counts so PERF.md can normalize to
    * pairs/s on both fixtures.
    *
    * (b) dd23 duplicate-substring excision at 10x (10 id-shifted
    * copies: every doc has 9 verbatim non-owner copies — worst-case
    * excision density, same stress shape as r5cprobe's dd18 row).
    *
    * (c) BPE training at 10x corpus: the corpus pass scales with
    * input; the 24 merge iterations run on the distinct-word table
    * and should NOT scale with corpus size.
    */
  /** Normalized deterministic pseudo-random unit vector column (dim
    * `d`) seeded by an expression — xxhash64 uniforms per dimension,
    * divided by the l2 norm; everything codegen, no driver RNG. */
  private def hashUnitVec(seed: org.apache.spark.sql.Column, d: Int,
      stream: Long): org.apache.spark.sql.Column = {
    val raw = transform(sequence(lit(1), lit(d)),
      i => pmod(xxhash64(seed, i, lit(stream)), lit(20001)).cast("double")
        / 10000.0 - 1.0)
    val n = sqrt(aggregate(raw, lit(0.0), (a, x) => a + x * x))
    transform(raw, x => x / n)
  }

  /** Round-8 probe (VERDICT r7 #2/#6): the composed IVF mining
    * operators priced at production shape — probe fraction vs recall
    * vs wall, recorded in PERF.md next to the dd5 table.
    *
    *  - hard negatives: 50 K Zipfian-clustered vectors (dim 32, the
    *    r6/r7 cluster recipe: 40×200 + 400×20 + 2000×5 + 20 K
    *    singletons; label = cluster mod 4), 500 queries. Exact
    *    yardstick vs [[graft.operators.Similarity.hardNegativesIvf]]
    *    at descending probe fractions.
    *  - bitext: 10 K src × 10 K tgt with 2 000 planted translations
    *    (perturbed copies) among noise; exact yardstick at 5 K×5 K
    *    (the dd5-class quadratic budget), probed mining at 10 K with
    *    descending probe fractions, recall/precision vs planted. */
  def r8probe(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._
    import graft.operators.Similarity
    def timed[T](label: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(f"=== r8probe $label: ${(System.nanoTime() - t) / 1e9}%.2fs"); r
    }

    // ---- Zipfian clustered vectors for hard-negative mining -------
    val sizes = Seq.fill(40)(200) ++ Seq.fill(400)(20) ++ Seq.fill(2000)(5)
    val cum = sizes.scanLeft(0L)((a, b) => a + b)
    val boundsDf = sizes.indices.map(k => (k.toLong, cum(k), cum(k) + sizes(k)))
      .toDF("cl", "lo", "hi")
    val vecs = spark.range(50000L).select(col("id").as("vec_id"))
      .join(broadcast(boundsDf),
        col("vec_id") >= col("lo") && col("vec_id") < col("hi"), "left")
      .withColumn("rep", coalesce(col("lo"), col("vec_id")))
      .withColumn("label", pmod(col("rep"), lit(4)).cast("int"))
      // cluster base + 0.2 member noise: members of a cluster are
      // mutual near-neighbors, singletons are their own base
      .withColumn("embedding",
        zip_with(hashUnitVec(col("rep"), 32, 1L),
          hashUnitVec(col("vec_id"), 32, 2L), (b, n) => b + n * 0.2))
      .select("vec_id", "label", "embedding")
      .localCheckpoint()
    val q500 = vecs.filter(col("vec_id") < 500)
    val exactHn = timed("hardNegatives EXACT 500q x 50K")(
      Similarity.hardNegatives(q500, vecs, "vec_id", "embedding", "label", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    for (km <- Seq(false, true); nProbe <- Seq(16, 8, 4, 2)) {
      val cl = if (km) "kmeans" else "smallest-id"
      val got = timed(s"hardNegativesIvf 64 $cl centroids, nProbe=$nProbe")(
        Similarity.hardNegativesIvf(q500, vecs, "vec_id", "embedding",
          "label", 10, nCentroids = 64, nProbe = nProbe,
          kmeansCentroids = km, seed = 7L)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      println(f"=== r8probe hn $cl probe=$nProbe/64 recall: " +
        f"${got.intersect(exactHn).size.toDouble / exactHn.size}%.4f")
    }

    // ---- bitext: planted translations among noise -----------------
    def bitextSides(n: Long, planted: Long) = {
      val src = spark.range(n).select(col("id").as("vec_id"),
        hashUnitVec(col("id"), 32, 10L).as("embedding"))
      val tgt = spark.range(n).select((col("id") + 1000000L).as("vec_id"),
        when(col("id") < planted,
          zip_with(hashUnitVec(col("id"), 32, 10L),
            hashUnitVec(col("id"), 32, 11L), (b, e) => b + e * 0.3))
          .otherwise(hashUnitVec(col("id"), 32, 12L)).as("embedding"))
      (src.localCheckpoint(), tgt.localCheckpoint())
    }
    val (s5, t5) = bitextSides(5000L, 1000L)
    val exactPairs = timed("bitext EXACT 5K x 5K (quadratic yardstick)")(
      Similarity.bitextMarginPairs(s5, t5, "vec_id", "embedding",
        k = 4, marginThreshold = 1.1)
        .select("src_id", "tgt_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val planted5 = (0L until 1000L).map(i => (i, i + 1000000L)).toSet
    println(f"=== r8probe bitext exact@5K recall vs planted: " +
      f"${exactPairs.intersect(planted5).size.toDouble / planted5.size}%.4f " +
      s"(${exactPairs.size} mined)")
    val (s10, t10) = bitextSides(10000L, 2000L)
    val planted10 = (0L until 2000L).map(i => (i, i + 1000000L)).toSet
    // marginThreshold 1.0 = mutual-best only: decouples CANDIDATE
    // recall (what probing costs) from the margin threshold (whose
    // operating point shifts with probe depth — kavg over a thinner
    // candidate pool runs lower, inflating margins)
    for (km <- Seq(false, true); nProbe <- Seq(8, 4, 2)) {
      val cl = if (km) "kmeans" else "smallest-id"
      val got = timed(s"bitextMarginPairsIvf 10K x 10K, 64 $cl cent, nProbe=$nProbe")(
        Similarity.bitextMarginPairsIvf(s10, t10, "vec_id", "embedding",
          k = 4, marginThreshold = 1.0, nCentroids = 64, nProbe = nProbe,
          kmeansCentroids = km, seed = 7L)
          .select("src_id", "tgt_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      val rec = got.intersect(planted10).size.toDouble / planted10.size
      val spurious = got.diff(planted10).size
      println(f"=== r8probe bitext $cl probe=$nProbe/64 mutual-best recall: " +
        f"$rec%.4f (${got.size} mined, $spurious spurious)")
    }

    // ---- maxsim over the clustered corpus as chunked docs ---------
    // 50 K chunk vectors -> 5 K docs of 10 chunks, 200 queries
    val chunks = vecs.withColumn("doc_id", expr("vec_id DIV 10"))
    val qm = vecs.filter(col("vec_id") < 200)
    val exactMs = timed("maxSim EXACT 200q x 50K chunks")(
      graft.operators.Similarity.maxSimTopK(qm, chunks, "vec_id",
        "embedding", "doc_id", 10)
        .select("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    for (nProbe <- Seq(8, 4, 2)) {
      val got = timed(s"maxSimTopKIvf 64 kmeans cent, nProbe=$nProbe")(
        Similarity.maxSimTopKIvf(qm, chunks, "vec_id", "embedding",
          "doc_id", 10, nCentroids = 64, nProbe = nProbe,
          kmeansCentroids = true, seed = 7L)
          .select("query_id", "doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      println(f"=== r8probe maxsim kmeans probe=$nProbe/64 recall: " +
        f"${got.intersect(exactMs).size.toDouble / exactMs.size}%.4f")
    }

    // ---- KMV distinct sketches at production shape: 20M rows, ----
    // 8 groups with 0.25M..2M distinct values. Group k's value space
    // is [0, 250K*(k+1)) so every pairwise truth is analytic:
    // |A∩B| = min(|A|,|B|), jaccard = min/max.
    import graft.operators.Profiling
    val kmvDf = spark.range(20000000L)
      .select((col("id") % 8).cast("string").as("g"),
        // id DIV 8, not id/8: long division keeps the value STRINGS
        // shared across groups (the overlap being measured)
        expr("(id DIV 8) % ((id % 8 + 1) * 250000)")
          .cast("string").as("v"))
    val exactD = timed("KMV baseline: exact countDistinct 20M rows")(
      kmvDf.groupBy("g").agg(countDistinct(col("v")).as("d")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val sk = timed("kmvSketch k=256 build (20M rows)")(
      Profiling.kmvSketch(kmvDf, "g", col("v"), 256).localCheckpoint())
    val est = Profiling.kmvEstimate(sk, "g", 256).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    for (g <- exactD.keys.toSeq.sorted)
      println(f"=== r8probe KMV g=$g exact=${exactD(g)}%,d est=${est(g)}%.0f " +
        f"relerr=${math.abs(est(g) - exactD(g)) / exactD(g)}%.4f")
    val ops = timed("kmvSetOps: all 28 pair estimates from sketch rows")(
      Profiling.kmvSetOps(sk, "g", 256).collect())
    for (r <- ops.sortBy(r => (r.getString(0), r.getString(1))).take(4)) {
      val (a, b) = (r.getString(0), r.getString(1))
      val trueJ = math.min(exactD(a), exactD(b)).toDouble /
        math.max(exactD(a), exactD(b))
      println(f"=== r8probe KMV jacc($a,$b) est=${r.getDouble(4)}%.4f " +
        f"true=$trueJ%.4f")
    }
    timed("EXACT one-pair intersection (g=0 vs g=7, full rescan)")(
      kmvDf.filter(col("g") === "0").select("v").distinct()
        .intersect(kmvDf.filter(col("g") === "7").select("v").distinct())
        .count())
  }

  def r8probe2(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._
    def timed[T](label: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(f"=== r8probe $label: ${(System.nanoTime() - t) / 1e9}%.2fs"); r
    }

    // ---- ed2: deletion-neighborhood join vs the quadratic scan ----
    // typo'd vocabulary: 16,667 8-char hex bases x 3 variants
    // (identity / drop-last / append) ~= 50K distinct words; every
    // group plants two lev<=1 pairs
    def typoVocab(nBases: Long) = spark.range(nBases)
      .select(concat(lit("w"),
        substring(md5(col("id").cast("string")), 1, 7)).as("base"))
      .select(explode(array(col("base"),
        expr("substring(base, 1, length(base) - 1)"),
        concat(col("base"), lit("x")))).as("word"))
      .localCheckpoint()
    val v50 = typoVocab(16667L)
    val nDel = timed("ed2 deletion join, 50K-word vocab")(
      graft.operators.Dedup.deletionNeighborhoodPairs(v50, "word").count())
    println(s"=== r8probe ed2 pairs@50K: $nDel (2/group planted)")
    val v5 = typoVocab(1667L)
    val nDel5 = timed("ed2 deletion join, 5K-word vocab")(
      graft.operators.Dedup.deletionNeighborhoodPairs(v5, "word").count())
    val w5 = v5.select(lower(trim(col("word"))).as("w"))
      .filter(length(col("w")) > 0).distinct().localCheckpoint()
    val nQuad = timed("ed2 QUADRATIC levenshtein, 5K-word vocab")(
      w5.select(col("w").as("word_a"))
        .crossJoin(w5.select(col("w").as("word_b")))
        .filter(col("word_a") < col("word_b") &&
          abs(length(col("word_a")) - length(col("word_b"))) <= 1 &&
          levenshtein(col("word_a"), col("word_b")) <= 1)
        .count())
    println(s"=== r8probe ed2 recall check @5K: deletion=$nDel5 quad=$nQuad " +
      s"equal=${nDel5 == nQuad} (quadratic at 50K would be 100x this scan)")

    // ---- sky1: distributed Pareto frontier at 20M rows ----
    val sky = spark.range(20000000L).select(col("id"),
      pmod(xxhash64(col("id")), lit(1000000L)).cast("double").as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000000L)).cast("double").as("y"))
    val nSky = timed("sky1 paretoFront, 20M uniform points")(
      graft.operators.Stats.paretoFront(sky, "x", "y").count())
    println(s"=== r8probe sky1 frontier size @20M: $nSky")

    // ---- ta9: Kneser-Ney bigram scorer at the 50K-doc Zipf corpus ----
    // model cardinality is DISTINCT-bigram-bounded: the Zipf corpus
    // has ~5K word types -> the m0/hist/cont aggregates run over the
    // model table, not the corpus; the corpus pays one (id, bg, tf)
    // shuffle + the scoring join
    val zipf = zipfCorpus(spark)
    val nScored = timed("ta9 KN bigram logprob, 50K Zipf docs")(
      graft.operators.Scoring.knBigramLogProb(zipf, "doc_id", "text").count())
    println(s"=== r8probe ta9 scored docs @50K: $nScored")
  }

  /** Round-9 probes (VERDICT r8 #6): price the r8 newcomers that
    * lacked wall/shape rows — ir3 phrase search at 10× docs, m10
    * dynamic partition overwrite on a many-partition table (full
    * rewrite vs 2-partition batch), and the new sim19 occupancy
    * monitor at a 20 M-row index. */
  def r9probe(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def timed[T](label: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(f"=== r9probe $label: ${(System.nanoTime() - t) / 1e9}%.2fs"); r
    }
    spark.read.parquet(s"$dir/region.parquet").count() // warm

    // ---- ir3: phrase match at 50K Zipf docs ------------------------
    // plant the phrase "w1 w2 w3" into every 50th doc so the filter
    // has real hits; the operator is a row-local codegen conjunction
    // (no explode, no positional-index join) — cost must be ONE scan
    val zipf = zipfCorpus(spark)
    val planted = zipf.withColumn("text",
      when(pmod(col("doc_id"), lit(50)) === 0,
        concat(col("text"), lit(" w1 w2 w3"))).otherwise(col("text")))
      .localCheckpoint()
    val nHits = timed("ir3 phraseMatch, 50K Zipf docs")(
      graft.operators.Retrieval.phraseMatch(
        planted, "doc_id", "text", Seq("w1", "w2", "w3")).count())
    val nScan = timed("ir3 baseline: bare scan+count of the same frame")(
      planted.count())
    println(s"=== r9probe ir3 hits@50K: $nHits (phrase cost vs bare scan " +
      s"is the codegen conjunction only; planted >= 1000)")
    val _ = nScan

    // ---- m10: dynamic overwrite on a many-partition table ----------
    // lineitem at SPARK_GRAFT_SF_DIR hive-partitioned by month
    // (~84 directories at sf0.1); the batch rewrites 2 months. The
    // claim under test: overwrite cost ∝ batch partitions, NOT table
    // partitions — dynamic mode must never rewrite the other 82.
    val base = java.nio.file.Files.createTempDirectory("graft_r9m10").toString
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("l_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("int"))
    timed("m10 full hive-partitioned write (~84 month partitions)")(
      graft.sources.Layout.writeHivePartitioned(li, base + "/li", "l_month"))
    val nParts = new java.io.File(base + "/li").listFiles()
      .count(_.getName.startsWith("l_month="))
    val twoMonths = li.select("l_month").distinct()
      .orderBy("l_month").limit(2).collect().map(_.getInt(0))
    val batch = li.filter(col("l_month").isin(twoMonths.map(Integer.valueOf): _*))
      .withColumn("l_quantity", col("l_quantity") * 2)
      .localCheckpoint()
    println(s"=== r9probe m10 partitions on disk: $nParts, " +
      s"batch months: ${twoMonths.mkString(",")}, batch rows: ${batch.count()}")
    timed("m10 dynamic overwrite of 2 of ~84 partitions")(
      graft.sources.Layout.overwritePartitions(batch, base + "/li", "l_month"))
    val untouched = new java.io.File(base + "/li").listFiles()
      .filter(f => f.getName.startsWith("l_month=") &&
        !twoMonths.exists(m => f.getName.endsWith(m.toString)))
    println(s"=== r9probe m10 untouched dirs: ${untouched.length} " +
      s"(2 rewritten; a non-dynamic overwrite would have left ${nParts - 2} missing)")

    // ---- sim19: occupancy monitor at a 20M-row index ----------------
    // the monitor's cost is ONE count-per-list aggregate over index
    // rows + nCentroids²-of-longs arithmetic; at 20 M rows / 1024
    // lists it must price like a groupBy-count, nothing more
    val bigIdx = spark.range(20000000L).select(
      col("id").as("neighbor_id"),
      pmod(xxhash64(col("id")), lit(1024L)).as("cent_id"))
    val cents1k = spark.range(1024L).select(col("id").as("cent_id"))
    val occBig = graft.operators.Similarity.ivfListOccupancy(bigIdx, cents1k)
      .localCheckpoint()
    val rep = timed("sim19 skew report, 20M-row index / 1024 lists")(
      graft.operators.Similarity.ivfListSkewReport(occBig, occBig).collect()(0))
    println(s"=== r9probe sim19 report@20M: $rep")
  }

  def r6probe(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    def x10(name: String, idCols: Seq[String]): DataFrame = {
      val base = spark.read.parquet(s"$dir/$name.parquet")
      (0 until 10).map { i =>
        idCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      }.reduce(_.unionAll(_))
    }
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== r6probe $label: ${(System.nanoTime() - t) / 1e9}%.1fs ($n%,d rows)")
    }
    spark.read.parquet(s"$dir/region.parquet").count() // warm

    // ---- (a) Zipfian fixture --------------------------------------
    import spark.implicits._
    val sizes = (1 to 64).map(k => math.max(2, 128 / k))
    val cum = sizes.scanLeft(0L)(_ + _)
    val boundsDf = sizes.indices
      .map(k => (k.toLong, cum(k), cum(k) + sizes(k)))
      .toDF("cl", "lo", "hi")
    val firstNames = typedlit(Seq("john", "jane", "alice", "robert",
      "maria", "david", "susan", "peter"))
    val zipf = spark.range(50000L).select(col("id").as("doc_id"))
      .join(broadcast(boundsDf),
        col("doc_id") >= col("lo") && col("doc_id") < col("hi"), "left")
      .withColumn("rep", coalesce(col("lo"), col("doc_id")))
      .withColumn("lang", concat(lit("l"), pmod(col("rep"), lit(4))))
      .withColumn("text",
        concat(concat_ws(" ", transform(sequence(lit(1), lit(30)),
          i => concat(lit("w"), pmod(xxhash64(col("rep"), i), lit(5000))))),
          lit(" s"), pmod(col("doc_id"), lit(7))))
      .withColumn("fn",
        element_at(firstNames, (pmod(col("rep"), lit(8)) + 1).cast("int")))
      .withColumn("name",
        concat(
          when(pmod(col("doc_id"), lit(3)) === 1,
            col("fn").substr(lit(1), length(col("fn")) - 1))
            .when(pmod(col("doc_id"), lit(3)) === 2, concat(col("fn"), lit("e")))
            .otherwise(col("fn")),
          lit(" fam"), col("rep")))
      .select("doc_id", "lang", "text", "name")
      .localCheckpoint()
    val expectedPairs = sizes.map(s => s.toLong * (s - 1) / 2).sum
    println(s"=== r6probe zipf fixture: 50,000 docs, ${sizes.length} " +
      s"clusters, ~$expectedPairs intra-cluster pairs")
    timed("dd4 ngram-jaccard ZIPF 50K docs (pairs)")(
      graft.operators.Dedup.ngramJaccardPairs(zipf, "doc_id", "text",
        blockCols = Seq("lang"), shingleSize = 1, threshold = 0.5).count())
    timed("dd21 containment ZIPF 50K docs (pairs)")(
      graft.operators.Dedup.containmentPairs(zipf, "doc_id", "text",
        shingleSize = 2, threshold = 0.8, maxGramDf = 200).count())
    timed("dd19 winnow pairs ZIPF 50K docs (pairs)")(
      graft.operators.TextAnalysis.winnowCandidatePairs(zipf,
        "doc_id", "text", 3, 4, maxBucketSize = 1000).count())
    timed("link1 fuzzy pairs ZIPF 50K docs (pairs)")(
      graft.operators.Dedup.blockedFuzzyPairs(zipf, "doc_id", "name",
        maxDistance = 2, maxBlockSize = 500).count())

    // ---- (b) dd23 at 10x ------------------------------------------
    val docs = x10("documents", Seq("doc_id"))
    timed("dd23 substring excision 50K docs (9 copies each)")(
      graft.operators.Decontaminate.duplicateSubstringExcision(
        docs, "doc_id", "text", anchorWords = 8, minChars = 60).count())
    timed("dd23 substring excision ZIPF 50K docs")(
      graft.operators.Decontaminate.duplicateSubstringExcision(
        zipf, "doc_id", "text", anchorWords = 8, minChars = 60).count())

    // ---- (c) BPE training at 10x ----------------------------------
    timed("tok3 BPE training 50K docs, 24 merges")(
      graft.operators.Tokenizer.trainBpeMerges(docs, "text",
        numMerges = 24).length.toLong)
    // merge-count scaling on the ~5K-distinct-word zipf corpus: the
    // claim under test is that per-iteration cost is CORPUS-SIZE
    // independent (bounded word table + 1-row collect), so sec/merge
    // should hold roughly constant from 24 to 96 merges
    timed("BPE training ZIPF 50K docs, 96 merges (sec/merge claim)")(
      graft.operators.Tokenizer.trainBpeMerges(zipf, "text",
        numMerges = 96).length.toLong)

    // ---- (d) streaming LSH gate at 10x ----------------------------
    // 50K docs through the in-flight verifying gate in two real
    // micro-batches on RocksDB: prices the signature-x-bands state
    // trade at 10x the bench fixture (the zipf corpus keeps duplicate
    // clusters production-shaped, so emitted pairs stay bounded)
    locally {
      val spark2 = zipf.sparkSession
      val prev = spark2.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      spark2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val base = s"/tmp/graft_probe_st14_${System.nanoTime()}"
        val feed = zipf.withColumn("ts",
          timestamp_seconds(lit(1704067200L) + col("doc_id")))
        feed.filter(col("doc_id") < 25000).coalesce(1)
          .write.mode("append").parquet(s"$base/in")
        def dataFiles = graft.SparkEntry.listDataFiles(s"$base/in")
        val firstSplit = dataFiles.map(_.getName).toSet
        feed.filter(col("doc_id") >= 25000).coalesce(1)
          .write.mode("append").parquet(s"$base/in")
        // pin micro-batch order against mtime ties (see st14 query)
        val t0 = System.currentTimeMillis() - 60000L
        dataFiles.foreach(f =>
          f.setLastModified(if (firstSplit(f.getName)) t0 else t0 + 5000L))
        timed("st14 streaming LSH gate ZIPF 50K docs, 2 micro-batches")({
          val stream = spark2.readStream
            .schema(spark2.read.parquet(s"$base/in").schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
          val hits = graft.streaming.EventStream.streamingLshNearDup(
            stream, "doc_id", "text", tsCol = "ts", watermark = "30 days",
            threshold = 0.8)
          val name = s"probe_st14_${System.nanoTime()}"
          val q = hits.toDF().writeStream.outputMode("append")
            .option("checkpointLocation", s"$base/chk")
            .format("memory").queryName(name).start()
          try q.processAllAvailable() finally q.stop()
          spark2.table(name).distinct().count()
        })
      } finally {
        prev match {
          case Some(v) => spark2.conf.set(
            "spark.sql.streaming.stateStore.providerClass", v)
          case None => spark2.conf.unset(
            "spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
  }

  def r5cprobe(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    def x10(name: String, idCols: Seq[String]): DataFrame = {
      val base = spark.read.parquet(s"$dir/$name.parquet")
      (0 until 10).map { i =>
        idCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      }.reduce(_.unionAll(_))
    }
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== r5cprobe $label: ${(System.nanoTime() - t) / 1e9}%.1fs ($n%,d rows)")
    }
    spark.read.parquet(s"$dir/region.parquet").count() // warm
    val docs = x10("documents", Seq("doc_id"))
    val orders = x10("orders", Seq("o_orderkey"))
    // 10 id-shifted copies make every hot gram 10x hotter AND give
    // every doc 9 non-owner copies: worst-case excision density
    timed("dd18 hot-span excision 50K docs")(
      graft.operators.Decontaminate.hotSpanExcision(
        docs, "doc_id", "text", gramSize = 3, minDocs = 50).count())
    timed("ta6 winnow fingerprints 50K docs")(
      graft.operators.TextAnalysis.winnowFingerprints(
        docs, "doc_id", "text", 3, 4).count())
    timed("dd19 winnow pairs 50K docs (pair count is the cost)")(
      graft.operators.TextAnalysis.winnowCandidatePairs(
        docs, "doc_id", "text", 3, 4, maxBucketSize = 1000).count())
    timed("dq5 token KL 20 sources x 500K tokens")(
      graft.operators.Scoring.klDrift(docs, "source", "text").count())
    timed("dq6 KS drift 150K vs 50K values")(
      graft.operators.DataQuality.ksDrift(
        orders.filter(col("o_orderkey") % 3 < 2),
        orders.filter(col("o_orderkey") % 3 === 2),
        "o_totalprice").count())
    val li = x10("lineitem", Seq("l_orderkey"))
    val ckCols = Seq("l_orderkey", "l_linenumber", "l_quantity",
      "l_returnflag", "l_linestatus")
    timed("dq7 checksum 6M rows x 2 sides, 1K-row chunks")({
      val corrupted = li.filter(col("l_orderkey") % 997 =!= 0)
      graft.operators.DataQuality.checksumCompare(
        graft.operators.DataQuality.tableChecksum(li, "l_orderkey", 1000L, ckCols),
        graft.operators.DataQuality.tableChecksum(corrupted, "l_orderkey", 1000L, ckCols))
        .filter(!col("chunk_ok")).count()
    })
    timed("m8 repair 6M rows, ~0.1% damage")({
      val corrupted = li.filter(col("l_orderkey") % 997 =!= 0)
      graft.operators.Modes.checksumRepair(li, corrupted,
        "l_orderkey", 1000L, ckCols).count()
    })
    timed("pr2 triangles, 50K-node ring+chords (100K edges)")({
      val mxF = docs.agg(max("doc_id").as("mx"))
      val base = docs.select(col("doc_id").as("s")).crossJoin(broadcast(mxF))
      def chord(k: Int) = base
        .select(col("s"), (col("s") + k).as("t"), col("mx"))
        .filter(col("t") <= col("mx")).select("s", "t")
      graft.operators.LinkGraph.triangles(
        chord(1).unionByName(chord(2)), "s", "t").count()
    })
  }

  def r5bprobe(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    def x10(name: String, idCols: Seq[String]): DataFrame = {
      val base = spark.read.parquet(s"$dir/$name.parquet")
      (0 until 10).map { i =>
        idCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      }.reduce(_.unionAll(_))
    }
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== r5bprobe $label: ${(System.nanoTime() - t) / 1e9}%.1fs ($n%,d rows)")
    }
    spark.read.parquet(s"$dir/region.parquet").count() // warm
    val docs = x10("documents", Seq("doc_id"))
    val li = x10("lineitem", Seq("l_orderkey"))
    timed("pr1 pagerank 50K nodes / ~75K edges, 5 sweeps")({
      val nF = docs.agg(count(lit(1)).as("n_docs"))
      val edges = docs.crossJoin(broadcast(nF))
        .select(col("doc_id").as("src"), col("n_docs"),
          explode(expr("filter(array(0, 1, 2, 3), i -> i < doc_id % 4)")).as("i"))
        .select(col("src"), expr("(src * 13 + i * 17 + 1) % n_docs").as("dst"))
      graft.operators.LinkGraph.pageRank(
        docs.select("doc_id"), edges, "src", "dst", iterations = 5).count()
    })
    timed("hh1 heavy hitters 50K docs / ~5M tokens")({
      val toks = docs.select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      graft.operators.Profiling.exactHeavyHitters(toks, "token", 0.02).count()
    })
    timed("html1 extract 50K docs")(docs.select(
      graft.operators.TextNormalize.extractText(
        concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")))
        .as("t")).filter(length(col("t")) > 0).count())
    timed("sft1 chat spans 50K turns")({
      val turns = docs.select((col("doc_id") % 40).as("conv_id"),
        col("doc_id").as("ord"),
        when(expr("(doc_id div 40) % 2") === 0, lit("user"))
          .otherwise(lit("assistant")).as("role"),
        substring(col("text"), 1, 60).as("turn_text"))
      graft.operators.ChatFormat.assistantSpans(
        turns, "conv_id", "ord", "role", "turn_text").count()
    })
    timed("z1 morton keys 6M rows")(li.select(
      graft.sources.Layout.interleaveBits(
        col("l_partkey"), col("l_suppkey"), 16).as("z"))
      .filter(col("z") >= 0L).count())
    timed("sk2 salted join 6M x 200K")({
      graft.operators.Skew.saltedJoin(li,
        x10("part", Seq("p_partkey")).withColumnRenamed("p_partkey", "l_partkey"),
        Seq("l_partkey"), "l_orderkey", 8).groupBy("p_brand").count().count()
    })
    timed("inc1 state merge 6M rows")({
      val s1 = graft.operators.IncrementalAgg.state(
        li.filter(col("l_orderkey") % 3 =!= 0),
        Seq("l_returnflag", "l_linestatus"), "l_quantity")
      val s2 = graft.operators.IncrementalAgg.state(
        li.filter(col("l_orderkey") % 3 === 0),
        Seq("l_returnflag", "l_linestatus"), "l_quantity")
      graft.operators.IncrementalAgg.merge(s1, s2).count()
    })
  }

  /** Round-5 operators at the 10× union (≈sf1): paragraph dedup over
    * 150K paragraphs with 10× planted cross-copy duplication, the
    * edit-distance verify at 40K candidate pairs, and a real
    * small-file compaction of a 256-file fragment. */
  def r5probe(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    def x10(name: String, idCols: Seq[String]): DataFrame = {
      val base = spark.read.parquet(s"$dir/$name.parquet")
      (0 until 10).map { i =>
        idCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      }.reduce(_.unionAll(_))
    }
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== r5probe $label: ${(System.nanoTime() - t) / 1e9}%.1fs ($n%,d rows)")
    }
    val docs = x10("documents", Seq("doc_id"))
    spark.read.parquet(s"$dir/region.parquet").count() // warm
    // the 10 id-shifted copies share identical text -> every
    // paragraph has 10 planted copies plus any organic repeats
    timed("dd15 paragraph dedup 50K docs / 150K paras")({
      val w = split(col("text"), " ")
      val fixture = docs.select(col("doc_id"),
        concat_ws("\n\n",
          array_join(slice(w, 1, 4), " "),
          array_join(slice(w, 5, 4), " "),
          array_join(slice(w, 9, 2), " ")).as("text"))
      graft.operators.Dedup.paragraphDedup(fixture, "doc_id", "text").count()
    })
    timed("ed1 edit distance 40K candidate pairs")({
      val cands = docs.select(col("doc_id").as("a"),
          (col("doc_id") - col("doc_id") % 5).as("b"))
        .filter(col("a") =!= col("b"))
      graft.operators.Dedup.editDistancePairs(docs, "doc_id", "text",
        cands, "a", "b", maxLen = 256).count()
    })
    timed("m6 compaction 256-file fragment -> bin-packed")({
      val sink = java.nio.file.Files.createTempDirectory("graft_r5probe")
        .toString + "/tbl"
      x10("lineitem", Seq("l_orderkey")).repartition(256)
        .write.mode("overwrite").parquet(sink)
      val n = graft.sources.Compaction.compactParquet(spark, sink, 128L << 20)
      spark.read.parquet(sink).count() / math.max(n, 1)
    })
    timed("st8-shape batch dedup by key 100K events doubled")({
      val ev = x10("events", Seq("event_id"))
      ev.unionAll(ev).dropDuplicates(Seq("event_id")).count()
    })
    // late-round-5 additions: clustering family + DSIR at 10×
    val embs = x10("embeddings", Seq("vec_id"))
    timed("kmeans 20K vecs x 64d, k=32, 2 iters")(
      graft.operators.Clustering.kmeans(embs, "vec_id", "embedding",
        k = 32, maxIter = 2).count())
    // k scaled with corpus (32 clusters / 20K vecs) keeps the
    // within-cluster pair stage ~|corpus|^2/k even with 10 planted
    // copies per vector
    timed("dd16 semantic pairs 20K vecs, k=32 blocking")(
      graft.operators.Clustering.semanticNearDupPairs(embs, "vec_id",
        "embedding", k = 32, maxIter = 2, threshold = 0.35).count())
    timed("dsir importance weights 50K docs vs fr target")(
      graft.operators.Scoring.importanceWeights(docs,
        docs.filter(col("lang") === "fr"), "doc_id", "text").count())
    timed("shuf1 epoch shuffle 50K docs x 3 epochs")(
      graft.operators.Sampling.epochShuffle(docs, "doc_id", 3, 32).count())
    timed("pack4/5 packed layout 50K docs")({
      val assigned = graft.operators.Packing.assignShards(docs, "doc_id",
        "text", budget = 2000, buckets = 32)
      graft.operators.Packing.concatOffsets(assigned, "doc_id", "text").count() +
        graft.operators.Packing.packShards(assigned, "doc_id", "text").count()
    })
  }

  /** Dot-product kernel microbench: the codegen `DotProduct`
    * expression vs the `aggregate(zip_with(...))` HOF composition it
    * replaced, same pairs, same reduction. */
  def dotKernel(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def timed[T](label: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      println(f"=== dotKernel $label: ${(System.nanoTime() - t) / 1e9}%.2fs"); r
    }
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val pairs = q.crossJoin(e.select(col("vec_id").as("cid"), col("embedding").as("cv")))
      .localCheckpoint(true) // isolate kernel cost from the join
    println(s"pairs: ${pairs.count()}")
    val hof = aggregate(zip_with(col("qv").cast("array<double>"), col("cv").cast("array<double>"),
      (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val gen = graft.functions.VectorExpressions.dot_product(col("qv"), col("cv"))
    (1 to 3).foreach { i =>
      timed(s"HOF aggregate(zip_with) run $i")(
        pairs.agg(sum(hof)).first())
      timed(s"codegen dot_product run $i")(
        pairs.agg(sum(gen)).first())
    }
  }

  /** r10: the streaming state-store floor (verdict-r9 #3). st16/st19/
    * st20 own the bench's top-5 slots and their cost is state-store
    * setup + per-batch commit, not plan. Measure each under the
    * default HDFS-backed provider vs RocksDB, two passes each (the
    * pinned protocol's min-of-two), same fresh-checkpoint-per-run
    * shape as the bench. */
  def r10state(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== r10state $label: ${(System.nanoTime() - t) / 1e9}%.2fs ($n rows)")
    }
    spark.read.parquet(s"$dir/region.parquet").count() // warm
    val names = Seq("st16_stream_pq_drift", "st19_stream_stream_join",
      "st20_stream_outer_join")
    // JIT/codegen warmup outside the measurement (bench protocol)
    graft.SparkEntry.queries("st19_stream_stream_join")(spark, dir).count()
    for (provider <- Seq("hdfs-default", "rocksdb")) {
      val prev = spark.conf.getOption(key)
      if (provider == "rocksdb") spark.conf.set(key, rocks)
      else prev.foreach(_ => spark.conf.unset(key))
      try
        for (n <- names; pass <- 1 to 2)
          timed(s"$n [$provider] pass$pass")(
            graft.SparkEntry.queries(n)(spark, dir).count())
      finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
  }

  /** r10: price the r9 newcomers at 10x (verdict-r9 #6) — eval9's
    * train-vs-bin split under the persisted model store, chrF's
    * char-gram-order curve, WordPiece training, and mem1's Bloom
    * size sensitivity, all at SPARK_GRAFT_SF_DIR scale. */
  def r10price(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== r10price $label: ${(System.nanoTime() - t) / 1e9}%.2fs ($n rows)")
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.count() // warm

    // ---- eval9 split: the persisted store separates training cost
    // from binning cost. Cold = no store (full 64-iteration GD);
    // warm = later process loads and only bins.
    def rmStore(): Unit = {
      val p = java.nio.file.Paths.get(graft.SparkEntry.qf9ModelPath(dir))
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    }
    rmStore()
    timed("qf9_train COLD (no store: full training + persist)")(
      graft.SparkEntry.queries("qf9_train")(spark, dir).count())
    // clear the in-process memo so the next call exercises the
    // store-load path a fresh scoring process would take
    graft.SparkEntry.resetQf9MemoForProbe()
    timed("qf9_train WARM (store load only)")(
      graft.SparkEntry.queries("qf9_train")(spark, dir).count())
    graft.SparkEntry.resetQf9MemoForProbe()
    timed("eval9 WARM (store load + binning, no training)")(
      graft.SparkEntry.queries("eval9_calibration")(spark, dir).count())

    // ---- chrF order curve: cost vs maxN (1..6 char-gram orders)
    val d = docs.select(col("doc_id"), col("text"))
    val pairs = d.join(d.toDF("b_id", "cand_text"),
        col("doc_id") + 100 === col("b_id"))
      .select(col("doc_id").as("pair_id"),
        col("cand_text").as("cand"), col("text").as("ref"))
      .localCheckpoint(true)
    for (n <- Seq(1, 2, 4, 6))
      timed(s"chrF maxN=$n")(
        graft.operators.Scoring.chrF(pairs, "pair_id", "cand", "ref",
          maxN = n).count())

    // ---- WordPiece training (tok13) vs plain BPE at equal merges
    timed("tok13 trainWordPieceMerges (24 merges)")(
      graft.operators.Tokenizer.trainWordPieceMerges(
        docs, "text", numMerges = 24).length.toLong)
    timed("BPE trainBpeMerges (24 merges, same corpus)")(
      graft.operators.Tokenizer.trainBpeMerges(
        docs, "text", numMerges = 24).length.toLong)

    // ---- mem1 Bloom sizing: expectedCorpusGrams under/right/over
    val gen1 = docs.filter(col("doc_id") < 100)
    val corpus1 = docs.filter(col("doc_id") >= 100)
    for (exp <- Seq(1L << 18, 1L << 20, 1L << 22))
      timed(s"mem1 expectedCorpusGrams=2^${java.lang.Long.numberOfTrailingZeros(exp)}")(
        graft.operators.Decontaminate.memorizationAudit(
          gen1, corpus1, "doc_id", "text", gramSize = 3,
          expectedCorpusGrams = exp).count())

    // ---- mem2 (new this round) at the same scale for the record
    timed("mem2 paraphraseAudit (5-gram winnow, w=4)")(
      graft.SparkEntry.queries("mem2_paraphrase_audit")(spark, dir).count())
  }

  /** Round-11 pricing probes (VERDICT r10 #4) — r10 newcomers at 10×
    * (run with SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1): mem2/mem3
    * vs corpus size, st24/st25 ingestion-gate floor vs their batch
    * siblings, ovl1 pair-fan-out vs source count S (the S² bound at
    * S=50), tok15 store round-trip vs retrain, and the rewritten
    * PQ-encode kernel's wall on the full embeddings table. */
  def r11price(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== r11price $label: ${(System.nanoTime() - t) / 1e9}%.2fs ($n rows)")
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count() // warm

    // ---- mem2/mem3 vs corpus size: the corpus pass (winnow +
    // distinct + Bloom) should dominate and scale ~linearly; the gen
    // side is fixed. gen = 100 verbatim docs (cost probe, not recall).
    val gen = docs.filter(col("doc_id") < 100)
      .select(col("doc_id").as("gen_id"), col("text"))
      .localCheckpoint(true)
    for (frac <- Seq(4, 2, 1)) {
      val corpus = docs.filter(col("doc_id") >= 100 &&
        col("doc_id") % frac === 0).localCheckpoint(true)
      val label = s"corpus=1/$frac (${nDocs / frac} docs)"
      timed(s"mem2 paraphraseAudit $label")(
        graft.operators.Decontaminate.paraphraseAudit(
          gen, corpus, "gen_id", "text", gramSize = 5, window = 4).count())
      timed(s"mem3 paraphraseSpans $label")(
        graft.operators.Decontaminate.paraphraseSpans(
          gen, corpus, "gen_id", "text", gramSize = 5, window = 4).count())
    }

    // ---- streaming-ingestion gates vs their batch siblings: the
    // delta is the Structured Streaming floor (per-batch planning +
    // commit) since the per-row kernels are identical
    timed("st24 stream memorization gate (2 micro-batches)")(
      graft.SparkEntry.queries("st24_stream_memorization")(spark, dir).count())
    timed("mem1 batch sibling (same corpus reference shape)")(
      graft.SparkEntry.queries("mem1_novelty_audit")(spark, dir).count())
    timed("st25 stream quality gate (persisted weights, 2 batches)")(
      graft.SparkEntry.queries("st25_stream_quality_gate")(spark, dir).count())
    timed("qf9 batch sibling (store-backed scoring)")(
      graft.SparkEntry.queries("qf9_trained_quality_gate")(spark, dir).count())

    // ---- ovl1 fan-out vs source count: remap to S synthetic sources
    // and verify wall tracks the S-row spine (S² pairs), not the
    // corpus; plus the ovl2 df-cap's effect at the same S
    for (s <- Seq(10, 20, 50)) {
      val remapped = docs.withColumn("source",
        concat(lit("src"), (col("doc_id") % s).cast("string")))
      timed(s"ovl1 sourceGramOverlap S=$s (expect ${s * (s - 1) / 2} pairs)")(
        graft.operators.Profiling.sourceGramOverlap(
          remapped, "source", "text", gramSize = 3).count())
    }
    timed("ovl2 with df-cap 6 at S=50")(
      graft.operators.Profiling.sourceGramOverlap(
        docs.withColumn("source",
          concat(lit("src"), (col("doc_id") % 50).cast("string"))),
        "source", "text", gramSize = 3, maxGramSources = 6).count())

    // ---- tok15: tokenizer store round-trip vs retraining the merges
    timed("BPE retrain (24 merges) — the cost the store removes")(
      graft.operators.Tokenizer.trainBpeMerges(
        docs, "text", numMerges = 24).length.toLong)
    timed("tok15 store-backed tokenization (load + bpeIds projection)")(
      graft.SparkEntry.queries("tok15_tokenizer_store")(spark, dir).count())

    // ---- the r11 PQ-encode kernel on the full embeddings table
    // (pre-fix this plan failed 64 KB compile and ran interpreted)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    emb.count()
    val books = graft.operators.Similarity.pqTrain(
      emb, "vec_id", "embedding", m = 8, k = 16, maxIter = 2)
    timed("pqEncode full corpus (compact codegen kernel)")(
      graft.operators.Similarity.pqEncode(
        emb, "vec_id", "embedding", books).count())
  }

  /** Second r11 batch: price the round's NEW operators (KLL sketch,
    * shard manifest, MMR) against their exact siblings and across
    * their scale knobs. */
  /** Round-12 scale-EXPONENT probe (VERDICT r11 #3): the heavy
    * families at three scales — sf0.01, sf0.1, and a ~sf1 synthetic
    * (10x id-shifted union of sf0.1) — with a least-squares exponent
    * fit on (ln n, ln t). PERF.md records the table; anything
    * super-linear beyond log factors gets a tracked fix. Exponents
    * from wall-clock at small n are noisy (fixed per-job overhead
    * deflates the fit at the low end), so the fit uses the TWO larger
    * points and the small point is printed for context. */
  def r12scale(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    def load(sf: String, name: String): DataFrame =
      spark.read.parquet(s"/root/testdata/$sf/$name.parquet")
    def x10(name: String, idCol: String): DataFrame = {
      val base = load("sf0.1", name)
      (0 until 10).map(i =>
        base.withColumn(idCol, col(idCol) + lit(i.toLong * 100000000L)))
        .reduce(_.unionAll(_))
    }
    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def report(family: String, pts: Seq[(Long, Double)]): Unit = {
      val fitPts = pts.takeRight(2)
      val exp = math.log(fitPts(1)._2 / fitPts(0)._2) /
        math.log(fitPts(1)._1.toDouble / fitPts(0)._1)
      val detail = pts.map { case (n, t) => f"n=$n%,d ${t}%.1fs" }
        .mkString("  ")
      println(f"=== r12scale $family: exponent ${exp}%.2f  [$detail]")
    }

    // kll_sketch: events 10k -> 100k -> 1M rows, per-type sketches
    locally {
      val K = graft.functions.KllExpressions
      def run(ev: DataFrame): Long =
        ev.groupBy("event_type")
          .agg(K.kll_sketch(col("value"), 200).as("sk"))
          .select(K.kll_quantile(col("sk"), 0.5)).count()
      val pts = Seq(load("sf0.01", "events"), load("sf0.1", "events"),
        x10("events", "event_id")).map { ev =>
        val n = ev.count(); val (t, _) = timed(run(ev)); (n, t)
      }
      report("kll_sketch per-type", pts)
    }

    // connected components, DISTRIBUTED contraction branch
    // (driverCcMaxEdges=0): synthetic path+ring edge sets 10k/100k/1M
    locally {
      def edges(m: Long): DataFrame =
        spark.range(0, m).select(col("id").as("id_a"),
          when(col("id") % 100 === 99, col("id") - 99)
            .otherwise(col("id") + 1).as("id_b"))
      def run(m: Long): (Long, Double) = {
        val e = edges(m).localCheckpoint()
        val (t, n) = timed(
          graft.operators.Dedup.clusters(e, driverCcMaxEdges = 0L)
            .select(countDistinct("cluster")).head.getLong(0))
        (m, t)
      }
      report("dd6b contraction CC", Seq(10000L, 100000L, 1000000L).map(run))
    }

    // dd14 incremental dedup: bucketed signature store of n docs,
    // probe with n/10 new docs — the cross-run production shape
    locally {
      def run(docs: DataFrame, tag: String): (Long, Double) = {
        val n = docs.count()
        val store = docs.filter(col("doc_id") % 10 =!= 0)
        val fresh = docs.filter(col("doc_id") % 10 === 0)
        val (bands, shingles) = graft.operators.Dedup.signatureStore(
          store, "doc_id", "text", 3, 64, 16)
        graft.sources.Bucketing.writeBucketed(bands,
          s"r12sc_bands_$tag", Seq("bucket"), 8)
        graft.sources.Bucketing.writeBucketed(shingles,
          s"r12sc_shingles_$tag", Seq("id"), 8)
        val (t, _) = timed(graft.operators.Dedup.incrementalDedup(
          fresh, graft.sources.Bucketing.readBucketed(spark, s"r12sc_bands_$tag"),
          graft.sources.Bucketing.readBucketed(spark, s"r12sc_shingles_$tag"),
          "doc_id", "text", 3, 64, 16, 0.8).count())
        (n, t)
      }
      report("dd14 incremental probe", Seq(
        run(load("sf0.01", "documents"), "a"),
        run(load("sf0.1", "documents"), "b"),
        run(x10("documents", "doc_id"), "c")))
    }

    // mem2 winnow+Bloom paraphrase audit: 2% of docs as "generations"
    locally {
      def run(docs: DataFrame): (Long, Double) = {
        val n = docs.count()
        val gen = docs.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("gen_id"), col("text"))
        val (t, _) = timed(graft.operators.Decontaminate.paraphraseAudit(
          gen, docs, "gen_id", "text", gramSize = 5, window = 4).count())
        (n, t)
      }
      report("mem2 winnow+Bloom audit", Seq(
        run(load("sf0.01", "documents")), run(load("sf0.1", "documents")),
        run(x10("documents", "doc_id"))))
    }

    // mine2 IVF bitext mining (fixed config: 16 centroids, probe 4)
    locally {
      def run(e: DataFrame): (Long, Double) = {
        val n = e.count()
        val (t, _) = timed(graft.operators.Similarity.bitextMarginPairsIvf(
          e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
          "vec_id", "embedding", k = 4, marginThreshold = 1.0,
          nCentroids = 16, nProbe = 4).count())
        (n, t)
      }
      report("mine2 IVF bitext FIXED c=16", Seq(
        run(load("sf0.01", "embeddings")), run(load("sf0.1", "embeddings")),
        run(x10("embeddings", "vec_id"))))
      // same family with the documented sizing rule (c ~ sqrt(n),
      // nProbe = c/4): holding c fixed is the quadratic cliff the
      // fixed-config fit above exposes; this is the config a 100 TB
      // run would actually use
      def runScaled(e: DataFrame): (Long, Double) = {
        val n = e.count()
        val c = graft.operators.Similarity.ivfCentroidsFor(n)
        val (t, _) = timed(graft.operators.Similarity.bitextMarginPairsIvf(
          e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
          "vec_id", "embedding", k = 4, marginThreshold = 1.0,
          nCentroids = c, nProbe = math.max(4, c / 4)).count())
        (n, t)
      }
      report("mine2 IVF bitext c=sqrt(n)", Seq(
        runScaled(load("sf0.01", "embeddings")),
        runScaled(load("sf0.1", "embeddings")),
        runScaled(x10("embeddings", "vec_id"))))
    }

    // IVF-PQ index BUILD: pqTrain (m=8,k=16,2 iters) + coarse assign +
    // bucketed store — the one-time cost per corpus generation
    locally {
      def run(e: DataFrame, tag: String): (Long, Double) = {
        val n = e.count()
        val (t, _) = timed {
          val books = graft.operators.Similarity.pqTrain(
            e, "vec_id", "embedding", m = 8, k = 16, maxIter = 2)
          val (index, cents) = graft.operators.Similarity.pqIndexStore(
            e, "vec_id", "embedding", books, nCentroids = 16)
          graft.sources.Bucketing.writeBucketed(index,
            s"r12sc_pq_$tag", Seq("cent_id"), 4)
          cents.count() +
            graft.sources.Bucketing.readBucketed(spark, s"r12sc_pq_$tag").count()
        }
        (n, t)
      }
      report("ivfpq index build", Seq(
        run(load("sf0.01", "embeddings"), "a"),
        run(load("sf0.1", "embeddings"), "b"),
        run(x10("embeddings", "vec_id"), "c")))
    }
  }

  /** Synthesize a ~sf1 fixture set (VERDICT r12 #5): 10 id-shifted
    * copies of every sf0.1 fact table with FK columns shifted
    * CONSISTENTLY (joins stay intact), dimension tables (region,
    * nation) kept as-is so FK targets still exist. Two distortions a
    * naive union would introduce are corrected because they would
    * blow up quadratic OUTPUTS rather than scale inputs: document
    * texts get a per-copy token suffix (cross-copy texts are
    * DISTINCT, vocab grows Heaps-style, intra-copy dup structure
    * preserved) and embeddings for copies > 0 are fresh hash-derived
    * vectors (identical-vector clones would multiply every
    * cosine-threshold pair count by 100). A PERF fixture, not a
    * correctness oracle. */
  def synth1(spark: org.apache.spark.sql.SparkSession, outDir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    val SH = 100000000L
    def load(name: String): DataFrame =
      spark.read.parquet(s"/root/testdata/sf0.1/$name.parquet")
    def copies(name: String, shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = load(name)
      val out = (0 until 10).map(i => shift(base, i)).reduce(_.unionAll(_))
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[synth1] $name -> ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }
    def sh(c: String, i: Int): org.apache.spark.sql.Column =
      col(c) + lit(i * SH)
    // dimensions unchanged (FK targets)
    for (t <- Seq("region", "nation")) {
      load(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[synth1] $t -> copied")
    }
    copies("customer", (d, i) => d.withColumn("c_custkey", sh("c_custkey", i)))
    copies("supplier", (d, i) => d.withColumn("s_suppkey", sh("s_suppkey", i)))
    copies("part", (d, i) => d.withColumn("p_partkey", sh("p_partkey", i)))
    copies("orders", (d, i) => d
      .withColumn("o_orderkey", sh("o_orderkey", i))
      .withColumn("o_custkey", sh("o_custkey", i)))
    copies("lineitem", (d, i) => d
      .withColumn("l_orderkey", sh("l_orderkey", i))
      .withColumn("l_partkey", sh("l_partkey", i))
      .withColumn("l_suppkey", sh("l_suppkey", i)))
    copies("events", (d, i) => d
      .withColumn("event_id", sh("event_id", i))
      .withColumn("user_id", sh("user_id", i)))
    copies("documents", (d, i) =>
      if (i == 0) d.withColumn("doc_id", sh("doc_id", i))
      else d.withColumn("doc_id", sh("doc_id", i))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "),
            t => concat(t, lit("_"), lit(i))))))
    copies("embeddings", (d, i) =>
      if (i == 0) d.withColumn("vec_id", sh("vec_id", i))
      else {
        val dim = size(col("embedding"))
        d.withColumn("vec_id", sh("vec_id", i))
          .withColumn("embedding", transform(
            sequence(lit(0), dim - 1),
            j => ((pmod(hash(col("vec_id"), j), lit(2001)) - 1000)
              .cast("double") / 1000.0).cast("float")))
      })
  }

  /** Round-13 scale-exponent probe (VERDICT r12 #1/#4): the families
    * r12scale skipped, plus the round's headline fix — the PUBLIC IVF
    * defaults now auto-size centroids, so an arm through the bare
    * entry points must fit ≤ ~n^1.5 (the fixed-c=16 arm fitted
    * 1.29→2). Dedup arms use HASH-SYNTHESIZED documents whose token
    * vocabulary grows with n (Heaps-law shape): an id-shifted x10 of
    * the fixture would multiply every gram's df by 10 while the
    * df-cap bounds per-gram work, deflating the fit — fresh vocab
    * keeps per-gram df roughly constant, the shape a real corpus
    * scale-up has. Streaming arm grows the KEYED-STATE row count
    * itself (r12 adjudicated the st-family wall as setup floor at
    * tiny state; this proves the state term). Same fit protocol as
    * r12scale: least squares on the two larger points. */
  def r13scale(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.DataFrame
    def load(sf: String, name: String): DataFrame =
      spark.read.parquet(s"/root/testdata/$sf/$name.parquet")
    def x10(name: String, idCol: String): DataFrame = {
      val base = load("sf0.1", name)
      (0 until 10).map(i =>
        base.withColumn(idCol, col(idCol) + lit(i.toLong * 100000000L)))
        .reduce(_.unionAll(_))
    }
    // min-of-2: the first execution of a family pays JIT/codegen
    // warm-up that swamps second-scale points (the first r13 run fit
    // NEGATIVE exponents off it); min over two back-to-back runs is
    // the same statistic the bench protocol records
    def timed(f: => Long): (Double, Long) = {
      def once: (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val a = once; val b = once
      (math.min(a._1, b._1), b._2)
    }
    def report(family: String, pts: Seq[(Long, Double)]): Unit = {
      val fitPts = pts.takeRight(2)
      val exp = math.log(fitPts(1)._2 / fitPts(0)._2) /
        math.log(fitPts(1)._1.toDouble / fitPts(0)._1)
      val detail = pts.map { case (n, t) => f"n=$n%,d ${t}%.1fs" }
        .mkString("  ")
      println(f"=== r13scale $family: exponent ${exp}%.2f  [$detail]")
    }
    // 20 hash-tokens per doc over a vocab that grows with n, 5 langs
    def synthDocs(n: Long): DataFrame = {
      val vocab = math.max(1000L, n / 10)
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 20).map(j =>
          pmod(hash(col("id"), lit(j)), lit(vocab)).cast("string")): _*)
          .as("text"),
        pmod(hash(col("id")), lit(5)).cast("string").as("lang"))
        .localCheckpoint()
    }
    // checkpointed fixtures accumulate in the block manager across
    // arms — drop each one as soon as its runs finish so later points
    // never time under earlier points' memory pressure
    def withDocs(n: Long)(f: DataFrame => (Long, Double)): (Long, Double) = {
      val docs = synthDocs(n)
      try f(docs) finally docs.unpersist(blocking = true)
    }

    // IVF mining through the PUBLIC DEFAULTS (auto-sized centroids):
    // the config a 100x caller gets without reading the scaladoc
    locally {
      def run(e: DataFrame): (Long, Double) = {
        val n = e.count()
        val (t, _) = timed(graft.operators.Similarity.bitextMarginPairsIvf(
          e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
          "vec_id", "embedding", k = 4, marginThreshold = 1.0).count())
        (n, t)
      }
      report("mine2 IVF bitext PUBLIC DEFAULTS", Seq(
        run(load("sf0.01", "embeddings")), run(load("sf0.1", "embeddings")),
        run(x10("embeddings", "vec_id"))))
    }

    // dd21 directed containment (df-capped 2-gram join)
    locally {
      def run(docs: DataFrame): (Long, Double) = {
        val n = docs.count()
        val (t, _) = timed(graft.operators.Dedup.containmentPairs(
          docs, "doc_id", "text", shingleSize = 2, threshold = 0.8,
          maxGramDf = 100).count())
        (n, t)
      }
      report("dd21 containment df-capped", Seq(
        withDocs(5000)(run), withDocs(20000)(run), withDocs(80000)(run)))
    }

    // dd4 blocked n-gram jaccard (lang blocks, prefix join)
    locally {
      def run(docs: DataFrame): (Long, Double) = {
        val n = docs.count()
        val (t, _) = timed(graft.operators.Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", blockCols = Seq("lang"),
          shingleSize = 1, threshold = 0.5).count())
        (n, t)
      }
      report("dd4 blocked jaccard", Seq(
        withDocs(5000)(run), withDocs(20000)(run), withDocs(80000)(run)))
    }

    // dd7 bipartite cross-jaccard (contamination shape: small eval
    // side fixed at n/10, train side grows)
    locally {
      def run(docs: DataFrame): (Long, Double) = {
        val n = docs.count()
        val (t, _) = timed(graft.operators.Dedup.crossJaccardPairs(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", blockCols = Seq("lang"),
          shingleSize = 1, threshold = 0.5).count())
        (n, t)
      }
      report("dd7 cross jaccard", Seq(
        withDocs(5000)(run), withDocs(20000)(run), withDocs(80000)(run)))
    }

    // streaming KEYED-STATE growth: streamingDedup holds one state
    // row per distinct key under a 30-day watermark; all n rows (two
    // staged parquet writes, but no maxFilesPerTrigger, so
    // processAllAvailable ingests every file in ONE micro-batch), all
    // keys distinct -> state = n rows
    locally {
      // single fresh run per point (a min-of-2 would resume the
      // second attempt from the first's checkpoint and time a no-op);
      // a throwaway warm-up run below absorbs the one-time streaming
      // machinery JIT instead
      def run(n: Long, tag: String): (Long, Double) = {
        val base = s"/tmp/graft_r13st_$tag"
        org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration).delete(
          new org.apache.hadoop.fs.Path(base), true)
        val in = s"$base/in"
        // watermarks require TIMESTAMP (event-time, LTZ) — NTZ is
        // rejected by EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
        val mk = (lo: Long, hi: Long) =>
          spark.range(lo, hi).select(col("id").as("event_id"),
            (lit("2024-01-01 00:00:00").cast("timestamp") +
              expr("make_interval(0, 0, 0, 0, 0, 0, id % 86400)")).as("ts"))
        mk(0L, n / 2).coalesce(4).write.mode("overwrite").parquet(in)
        mk(n / 2, n).coalesce(4).write.mode("append").parquet(in)
        val schema = spark.read.parquet(in).schema
        val t0 = System.nanoTime()
        val stream = graft.streaming.EventStream.readFileStream(
          spark, in, schema)
        val deduped = graft.streaming.EventStream.streamingDedup(
          stream, Seq("event_id"), "ts", "30 days")
        val q = graft.streaming.EventStream.writeFileStream(
          deduped, s"$base/out", s"$base/ckpt")
        try q.processAllAvailable() finally q.stop()
        // capture elapsed BEFORE the verification read: the n-linear
        // batch parquet count must not inflate the timed state term
        val elapsed = (System.nanoTime() - t0) / 1e9
        require(spark.read.parquet(s"$base/out").count() == n,
          s"streamingDedup dropped rows at n=$n")
        (n, elapsed)
      }
      run(10000L, "warm")
      report("streamingDedup keyed state", Seq(
        run(10000L, "a"), run(100000L, "b"), run(1000000L, "c")))
    }
  }

  def r11b(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def timed(label: String)(f: => Long): Unit = {
      val t = System.nanoTime(); val n = f
      println(f"=== r11b $label: ${(System.nanoTime() - t) / 1e9}%.2fs ($n rows)")
    }
    val K = graft.functions.KllExpressions
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.count() // warm

    // ---- KLL sketch vs the exact percentile it replaces, same
    // grouping, same pass count (both one partial-agg shuffle; exact
    // holds every value per group in the agg buffer, the sketch O(k))
    timed("exact percentile(q50,q90) per lang")(
      docs.groupBy("lang").agg(
        expr("percentile(n_chars, 0.5)"), expr("percentile(n_chars, 0.9)"))
        .count())
    timed("kll_sketch(k=200) + quantiles per lang")(
      docs.groupBy("lang")
        .agg(K.kll_sketch(col("n_chars").cast("double"), 200).as("sk"))
        .select(K.kll_quantile(col("sk"), 0.5), K.kll_quantile(col("sk"), 0.9))
        .count())
    // the rollup: per-(lang,source) sketches once, per-lang via merge
    val parts = docs.groupBy("lang", "source")
      .agg(K.kll_sketch(col("n_chars").cast("double"), 200).as("sk"))
      .localCheckpoint(true)
    timed("kll_merge rollup from 100 persisted part sketches")(
      parts.groupBy("lang").agg(K.kll_merge(col("sk")).as("m"))
        .select(K.kll_quantile(col("m"), 0.5)).count())

    // ---- manifest: one partial-agg corpus pass; diff moves 2×16 rows
    timed("man1 shardManifest (16 shards, full corpus)")(
      graft.operators.Profiling.shardManifest(docs, "doc_id", "text", 16)
        .count())
    timed("man2 manifestDiff (both generations + diff)")(
      graft.SparkEntry.queries("man2_manifest_diff")(spark, dir).count())

    // ---- MMR: wall must track |Q| x k x pool (dot products inside
    // each query's group), never the corpus
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    emb.count()
    for (pool <- Seq(25, 50, 100)) {
      val cand = graft.operators.Similarity.bruteForceTopK(
        emb.filter("vec_id < 10"), emb, "vec_id", "embedding", pool)
      timed(s"mmr k=5 pool=$pool (${10 * 5 * pool} dot products)")(
        graft.operators.Retrieval.mmrRerank(
          cand, emb, "vec_id", "embedding", 5, 0.5).count())
    }
    timed("mmr2 over full-probe IVF candidates (pool=25)")(
      graft.SparkEntry.queries("mmr2_diversified_ivf")(spark, dir).count())
    // make the |Q| x pool term visible: 100 queries x pool 100 — the
    // groups grow while the job count stays fixed
    val candBig = graft.operators.Similarity.bruteForceTopK(
      emb.filter("vec_id < 100"), emb, "vec_id", "embedding", 100)
    timed("mmr k=5 |Q|=100 pool=100 (50,000 dot products)")(
      graft.operators.Retrieval.mmrRerank(
        candBig, emb, "vec_id", "embedding", 5, 0.5).count())

    // ---- MMR quality evidence: intra-list mean pairwise cosine of
    // the plain top-5 vs the MMR top-5 (lower = more diverse), same
    // relevance pool — the number the diversity pass exists to move
    val cand25 = graft.operators.Similarity.bruteForceTopK(
      emb.filter("vec_id < 100"), emb, "vec_id", "embedding", 25)
      .localCheckpoint(true)
    def intraListSim(sel: org.apache.spark.sql.DataFrame): Double = {
      val v = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      val withV = sel.join(v, sel("neighbor_id") === v("nid"))
        .select(col("query_id"), col("neighbor_id"), col("nv"))
      val l = withV.select(col("query_id"), col("neighbor_id").as("i"),
        col("nv").as("va"))
      val r = withV.select(col("query_id"), col("neighbor_id").as("j"),
        col("nv").as("vb"))
      l.join(r, Seq("query_id")).filter(col("i") < col("j"))
        .select((graft.operators.Similarity.dot(col("va"), col("vb")) /
          (graft.operators.Similarity.l2norm(col("va")) *
            graft.operators.Similarity.l2norm(col("vb")))).as("s"))
        .agg(avg("s")).head().getDouble(0)
    }
    val plain5 = cand25.filter(col("rank") <= 5)
      .select("query_id", "neighbor_id")
    val mmr5 = graft.operators.Retrieval.mmrRerank(
      cand25, emb, "vec_id", "embedding", 5, 0.5)
      .select("query_id", "neighbor_id")
    println(f"=== r11b mmr diversity: intra-list mean cosine plain=" +
      f"${intraListSim(plain5)}%.4f mmr=${intraListSim(mmr5)}%.4f " +
      "(lower = more diverse, same pool)")

    // ---- KLL honest-bounds curve: empirical max rank error across
    // quantiles on a 1M-value adversarially-ordered stream, per k —
    // driver-side kernel measurement, no Spark jobs
    val n = 1000000
    val order = (1 to n).sortBy(i => (i.toLong * 2654435761L) % 4294967296L)
    for (k <- Seq(64, 128, 200, 512)) {
      val st = new graft.functions.KllSketch.State(k)
      val t0 = System.nanoTime()
      order.foreach(i => graft.functions.KllSketch.update(st, i.toDouble))
      val build = (System.nanoTime() - t0) / 1e9
      val maxErr = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99).map { q =>
        val est = graft.functions.KllSketch.quantile(st, q)
        math.abs(est - math.ceil(q * n)) / n // values ARE ranks here
      }.max
      val bytes = graft.functions.KllSketch.serialize(st).length
      println(f"=== r11b kll k=$k%d: 1M updates $build%.2fs, " +
        f"max rank err ${maxErr * 100}%.3f%%, sketch $bytes%d bytes")
    }
  }
}
