package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval primitives over a document corpus (beyond-parity):
  * inverted index construction, BM25 scoring, and windowed PMI
  * co-occurrence. These are curation tools, not a search engine:
  * the index surfaces candidate sets and term statistics for dedup
  * and quality mining, BM25 ranks documents against topic probes
  * (domain selection's lexical cousin — see `Sampling.dsir*` for the
  * importance-weighted form), and PMI finds the collocations a
  * tokenizer or a phrase-mining pass should treat as units.
  *
  * Tokenization matches the engine's text surface everywhere else
  * (`hh1`, `pf2`): lowercase, whitespace split, empty tokens out.
  */
object Retrieval {

  private def tokens(textCol: Column): Column =
    filter(split(lower(trim(textCol)), "\\s+"), t => length(t) > 0)

  /** Inverted index: per token, its document frequency, total
    * occurrence count, and the posting list CAPPED at `maxPostings`
    * doc ids (the smallest ids — deterministic). The cap is the
    * scale contract: a stopword's posting list at corpus scale is
    * the corpus, and no aggregation buffer here ever holds more than
    * `maxPostings` entries — the row_number cap runs INSIDE the same
    * token partitioning the final aggregate uses (one exchange
    * total; the same pre-agg-truncation shape as
    * [[Sequences.ordered]]'s cap). `df`/`total_tf` stay EXACT — only
    * the materialized postings are capped, and `df` tells the reader
    * when they were. Postings emit as a comma-joined string (the
    * engine's array-output convention). */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      maxPostings: Int = 20): DataFrame = {
    require(maxPostings >= 1, s"maxPostings must be >= 1: $maxPostings")
    val td = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("token"))
      .groupBy("token", "doc").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("token").orderBy("doc")
    td.withColumn("__rn", row_number().over(w))
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        sum("tf").as("total_tf"),
        concat_ws(",", transform(
          array_sort(collect_list(when(col("__rn") <= maxPostings, col("doc")))),
          d => d.cast("string"))).as("postings"))
  }

  /** BM25 document scores for a bag of query `terms` (k1/b are the
    * standard Robertson defaults; idf is the +1 form, never
    * negative). Emits every document containing at least one term:
    * (doc, bm25) with the score summed over matched terms.
    *
    * Scale shape: doc lengths are ONE map-combined aggregate; term
    * document-frequencies aggregate over the term-filtered scan only
    * (the filter lands on the scan, the long tail never enters);
    * N/avgdl ride in as a broadcast 1-row frame, per-term df as a
    * broadcast |terms|-row frame. The only exchange over data is the
    * (doc, term) aggregation — no sort, no window. avgdl derives as
    * exact-integer sum/count, so the score is engine-reproducible. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(terms == terms.map(_.toLowerCase.trim),
      s"terms must be lowercase/trimmed to match tokenization: $terms")
    val tok = docs.select(col(idCol).as("doc"),
      explode(tokens(col(textCol))).as("token"))
    val dl = tok.groupBy("doc").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val qtok = tok.filter(col("token").isin(terms: _*))
    val dfT = qtok.groupBy("token").agg(count_distinct(col("doc")).as("df"))
    val tf = qtok.groupBy("doc", "token").agg(count(lit(1)).as("tf"))
    val idf = log(((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) + 1)
    val norm = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfT), "token")
      .join(dl, "doc")
      .crossJoin(broadcast(stats))
      .withColumn("__s", idf * norm)
      .groupBy("doc")
      .agg(round(sum("__s"), 4).as("bm25"), count(lit(1)).as("n_terms"))
  }

  /** Exact phrase search: documents containing the token sequence
    * `phrase` CONSECUTIVELY (the positional-index query, "stream
    * table hash" ≠ those words anywhere). Output per matching doc:
    * (doc, n_matches, first_pos) with 1-based token positions.
    *
    * Scale shape: entirely ROW-LOCAL — the phrase is a literal, so
    * the k-way positional join a server-side inverted index would do
    * collapses into an unrolled conjunction over the doc's own token
    * array inside whole-stage codegen (O(tokens · k) per row, no
    * explode, no shuffle, no index build). Matching docs only are
    * emitted, so the filter rides the scan. Use the positional-join
    * form only when amortizing MANY queries over one prebuilt index;
    * for a curation pass with a handful of probes this plan is
    * strictly better. */
  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    require(phrase == phrase.map(_.toLowerCase.trim),
      s"phrase tokens must be lowercase/trimmed to match tokenization: $phrase")
    require(phrase.forall(_.nonEmpty), s"empty phrase token: $phrase")
    val k = phrase.length
    // Bind the token array as a lambda variable (1-element transform
    // wrapper): HOFs are CodegenFallback and interpreted eval
    // re-evaluates embedded subtrees per lambda call — inline, every
    // candidate position re-tokenized the document (measured 5.5s →
    // 0.1s at sf0.1); bound, the split runs once per row.
    val positions = flatten(transform(array(tokens(col(textCol))), ts =>
      when(size(ts) >= k,
        filter(sequence(lit(1), size(ts) - (k - 1)), i =>
          phrase.zipWithIndex.map { case (w, j) =>
            element_at(ts, i + lit(j)) === lit(w)
          }.reduce(_ && _)))
        .otherwise(array().cast("array<int>"))))
    docs.select(col(idCol).as("doc"), positions.as("__ps"))
      .filter(size(col("__ps")) > 0)
      .select(col("doc"), size(col("__ps")).cast("long").as("n_matches"),
        element_at(col("__ps"), 1).cast("long").as("first_pos"))
  }

  /** MRR and nDCG@k of a ranking frame against a relevance set — the
    * retrieval-quality half of the evaluation suite
    * ([[graft.operators.Similarity.annRecall]] measures overlap;
    * these measure ORDER). `ranking` is the
    * (query_id, neighbor_id, rank) shape every top-k operator emits;
    * `relevance` is the ground-truth (query_id, neighbor_id) pair
    * set. Per query:
    *  - first_rel_rank / MRR = 1/first relevant rank inside the top
    *    k (0 when none);
    *  - nDCG@k with binary gains: DCG = Σ_hits 1/log₂(rank+1),
    *    ideal = the same sum over ranks 1..min(k, n_rel).
    * Queries with no relevance rows are dropped (undefined metrics).
    * The log tree (ln(x)/ln(2), one divide) and the in-order ideal
    * fold are written identically in the SQL oracle.
    *
    * Scale shape: rank filter + one (query, neighbor) equi-join +
    * one groupBy over RESULT frames; the ideal-DCG fold is a bounded
    * in-row sequence, no join against an ideal ranking. */
  def rankingMetrics(ranking: DataFrame, relevance: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val rel = relevance
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__rel"))
    val nrel = relevance.groupBy("query_id")
      .agg(count(lit(1)).as("n_rel"))
    val log2 = (c: Column) => log(c) / log(lit(2.0))
    val perQuery = ranking.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        min(when(col("__rel") === 1, col("rank"))).as("first_rel_rank"),
        sum(when(col("__rel") === 1,
          lit(1.0) / log2(col("rank") + 1)).otherwise(0.0)).as("__dcg"))
    val ideal = aggregate(
      sequence(lit(1), least(lit(k), col("n_rel")).cast("int")),
      lit(0.0), (acc, i) => acc + lit(1.0) / log2(i + 1))
    perQuery.join(nrel, "query_id")
      .select(col("query_id"), col("n_rel"),
        col("first_rel_rank").cast("long").as("first_rel_rank"),
        round(coalesce(lit(1.0) / col("first_rel_rank").cast("double"),
          lit(0.0)), 6).as("mrr"),
        round(col("__dcg") / ideal, 6).as("ndcg"))
  }

  /** Windowed PMI co-occurrence: for every DIRECTED token pair (a
    * before b, at most `window` positions apart) occurring at least
    * `minCount` times, the pointwise mutual information
    * `ln(P(a,b) / (P(a) P(b)))` with pair probabilities over emitted
    * pairs and unigram probabilities over tokens. High-PMI pairs are
    * collocations ("new york"); low ones co-occur by chance.
    *
    * Pair generation is ROW-LOCAL (nested transform over the token
    * array inside codegen — no positions self-join, no shuffle
    * before the pair aggregate) and linear in tokens × window. The
    * three totals ride in as one broadcast 1-row frame. The PMI
    * arithmetic casts to double BEFORE multiplying — the integer
    * product `n_ab · n_tok²` overflows long on a real corpus — with
    * a fixed parenthesization both engines evaluate identically. */
  def pmiPairs(docs: DataFrame, textCol: String, window: Int = 2,
      minCount: Long = 5): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val arr = docs.select(tokens(col(textCol)).as("ts"))
    val pairs = arr.select(explode(flatten(transform(col("ts"), (x, i) =>
      transform(slice(col("ts"), i + lit(2), lit(window)),
        y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pairCounts = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    val uni = arr.select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n_t"))
    val totals = pairCounts.agg(sum("n_ab").as("n_pairs"))
      .crossJoin(uni.agg(sum("n_t").as("n_tok")))
    val pmi = log(
      (col("n_ab").cast("double") * col("n_tok") * col("n_tok")) /
        (col("n_pairs").cast("double") * col("n_a") * col("n_b")))
    pairCounts.filter(col("n_ab") >= minCount)
      .join(uni.select(col("t").as("a"), col("n_t").as("n_a")), "a")
      .join(uni.select(col("t").as("b"), col("n_t").as("n_b")), "b")
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("n_ab"), round(pmi, 4).as("pmi"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) — the
    * standard hybrid-retrieval combiner: each input ranking
    * contributes `1/(k0 + rank)` per (query, doc) it surfaced, the
    * fused score is the sum, ties break to the smaller doc id. Rank
    * positions — not raw scores — are fused, so heterogeneous
    * retrievers (BM25 text scores, cosine, ADC distances) combine
    * without calibration; `k0` (conventionally 60) damps the head so
    * one retriever's #1 can't drown broad agreement lower down.
    *
    * Each input frame: (query_id, neighbor_id, rank). Determinism:
    * the per-pair contributions fold in RETRIEVER-INDEX order via a
    * sorted (index, term) struct list — a pair appears in at most
    * `rankings.size` lists, so the collected list is bounded by the
    * retriever count, never by data. Scale shape: one union, one
    * shuffle on (query, doc), one window per query — all downstream
    * frames are top-k-sized (|Q|·k·retrievers), corpus-free. */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking to fuse")
    require(k0 >= 1 && topK >= 1, s"k0 and topK must be >= 1: $k0, $topK")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("rank"), lit(i).as("__ridx"))
    }.reduce(_.unionByName(_))
    val scored = tagged.groupBy("query_id", "neighbor_id")
      .agg(sort_array(collect_list(struct(col("__ridx").as("i"),
        (lit(1.0) / (col("rank") + lit(k0))).as("t")))).as("ts"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(col("ts"), lit(0.0), (a, x) => a + x.getField("t"))
          .as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"),
        round(col("score"), 6).as("rrf_score"), col("rank"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell/Goldstein 1998)
    * — the standard diversity pass between candidate retrieval and
    * consumption: greedily pick `k` of each query's candidates,
    * scoring every unpicked candidate `lambda*rel - (1-lambda)*
    * max_sim_to_already_picked`, so near-duplicate candidates can't
    * monopolize a result list (retrieval's cousin of SemDeDup — there
    * the near-dups leave the corpus, here they leave the top-k).
    *
    * `candidates`: (query_id, neighbor_id, cosine) from ANY retriever
    * — [[graft.operators.Similarity.bruteForceTopK]] as the exact
    * yardstick, `ivfTopK` at scale. `corpus` supplies vectors for the
    * candidate-vs-candidate similarity.
    *
    * Shape: the greedy chain is sequential in k but depends only on
    * one query's candidate pool, which the retriever already bounds.
    * So it is ONE grouped pass: candidates left-join their vectors,
    * group by query into an id-sorted pool, and
    * [[graft.functions.VectorExpressions.MmrOrder]] runs the whole
    * chain per query, keeping a running max-similarity per candidate
    * that it folds against the newest pick only (k*pool dot products
    * per query). Memory per group is one pool of vectors; the job
    * count does not grow with k. Ties break to the smaller neighbor
    * id everywhere, so the chain is deterministic end to end. */
  def mmrRerank(candidates: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"mmrRerank needs k >= 1: $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0,1]: $lambda")
    val cv = corpus.select(col(idCol).as("__vid"), col(vecCol).as("__vec"),
      Similarity.l2norm(col(vecCol)).as("__nrm"))
    val withVec = candidates.select(col("query_id"), col("neighbor_id"),
        col("cosine").cast("double").as("rel"))
      .join(cv, col("neighbor_id") === col("__vid"), "left")
      // lazy pin: the coverage count fills it, the grouped pass reads it
      .localCheckpoint(eager = false)
    if (k >= 2) {
      // a candidate with no corpus vector (or a zero-norm one) would
      // have no defined similarity and never receive a diversity
      // penalty — its near-duplicates could all reach the top-k.
      // Coverage is a CONTRACT, not a best-effort: fail with the
      // count instead of treating the gap as orthogonal. NULL-safe:
      // a NULL embedding makes __nrm NULL, so a bare `!(__nrm > 0)`
      // is NULL (not counted) — exactly the escape this guard exists
      // to close. coalesce pins it.
      val uncovered = withVec
        .filter(col("__vid").isNull ||
          !coalesce(col("__nrm") > 0, lit(false)))
        .count()
      require(uncovered == 0L,
        s"mmrRerank: $uncovered candidate row(s) have no non-zero-norm " +
          s"vector in corpus.$idCol/$vecCol - diversity scores would be " +
          "silently wrong; fix the candidate/corpus join keys or filter " +
          "degenerate vectors upstream")
    }
    withVec.groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("neighbor_id"), col("rel"),
        col("__vec"), col("__nrm")))).as("__pool"))
      .select(col("query_id"),
        posexplode(graft.functions.VectorExpressions.mmr_order(
          col("__pool"), k, lambda)))
      .select(col("query_id"), col("col").as("neighbor_id"),
        (col("pos") + 1).as("mmr_rank"))
  }
}
