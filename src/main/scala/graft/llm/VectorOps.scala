package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Embedding similarity search over `embeddings(vec_id, embedding float[64],
  * label)`:
  *
  *  - brute-force cosine top-k (broadcast the query set, score every
  *    vector, partitioned window top-k) — the exact baseline;
  *  - random-hyperplane LSH bucketing — the sub-linear scale path
  *    (candidates share a signature bucket; only buckets are scored);
  *  - near-duplicate pairs within a label block at a cosine threshold.
  *
  * FP parity with the oracle: dot products are sequential left-folds over
  * the array on both engines (Spark `aggregate(zip_with(..))`, DuckDB
  * `list_dot_product`), all in DOUBLE, combined with the same expression
  * shape `dot / (sqrt(n2a) * sqrt(n2b))`; ranking uses the raw double and
  * only the reported score is rounded.
  */
object VectorOps {

  /** Sequential-fold dot product of two double arrays — the codegen'd
    * custom expression (identical fold order to `aggregate(zip_with(..))`
    * and to DuckDB's `list_dot_product`, but compiled; the interpreted
    * higher-order form was the hot path of every similarity query). */
  private[graft] def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_product(a, b)

  private[graft] def vecs(s: SparkSession, d: String): DataFrame =
    vecsOf(Tables.embeddings(s, d))

  /** The vecs normal form (double vector + its norm²) over an arbitrary
    * embeddings-schema frame — what a streaming maintenance consumer
    * applies to each arriving micro-batch before encoding it. */
  private[graft] def vecsOf(raw: DataFrame): DataFrame =
    raw.withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("n2", dot(col("v"), col("v")))

  private[graft] val NQueries = 5
  private val TopK = 5

  /** Brute-force exact cosine top-k for query vectors vec_id < 5. */
  def cosTopk(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("n2"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id"), col("rank"), round(col("cos_raw"), 5).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** One 32-bit half of a sign-bit binary code: element i of the slice
    * contributes 2^(32−i) when positive — the fold `acc·2 + bit` in
    * array order, exact in BIGINT (a single 64-bit pack would overflow
    * the top weight 2⁶³, which Spark wraps silently and DuckDB raises
    * on — two halves keep both engines in range). */
  private def signPack(v: Column, from: Int): Column =
    aggregate(slice(v, from, 32), lit(0L),
      (acc, x) => acc * 2 + when(x > 0d, 1L).otherwise(0L))

  /** BINARY-QUANTIZED ANN (`ann_hamming`) — the RaBitQ/binary-sketch
    * tier of the retrieval stack: each 64-dim vector compresses to its
    * 64 SIGN BITS (two 32-bit halves, [[signPack]]) and candidates
    * rank by Hamming distance — `bit_count(xor)` over two longs, the
    * cheapest distance a vector index can serve (16 bytes/vector,
    * popcount per candidate; at corpus scale the codes frame is ~250×
    * smaller than the raw vectors and the scan is pure integer ALU).
    * Ranking is exact integers end-to-end, so the twin replays the
    * identical pack + popcount in SQL. Complements the PQ/ADC tier:
    * PQ quantizes magnitudes into trained cells, the sign sketch needs
    * NO training and survives any distribution — the standard coarse
    * pre-filter in front of an exact or ADC rerank. */
  def annHamming(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"),
      signPack(col("v"), 1).as("h1"), signPack(col("v"), 33).as("h2"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("h1").as("q1"), col("h2").as("q2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("ham",
        (bit_count(col("h1").bitwiseXOR(col("q1"))) +
         bit_count(col("h2").bitwiseXOR(col("q2")))).cast("long"))
    val w = Window.partitionBy(col("qid")).orderBy(col("ham"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id"), col("rank"), col("ham"))
      .orderBy(col("qid"), col("rank"))
  }

  /** BINARY-PREFILTER + EXACT RERANK (`ann_hamming_rerank`) — the
    * production composition of the sign sketch: stage 1 cuts each
    * query's candidates to the 32 nearest by Hamming over the packed
    * codes (integer ALU over 16 bytes/vector — at corpus scale the
    * only full-corpus pass), stage 2 reranks ONLY those 32 by exact
    * cosine and keeps top-[[TopK]]. The sketch is lossy, so this does
    * NOT grade against the exact ranking ([[annHammingRecall]] measures
    * that honestly); the twin replays the SAME two stages — cut
    * boundary deterministic by (ham, vec_id), rerank by rounded cosine
    * with vec_id ties. Raw vectors are fetched for |queries|·32 rows
    * only (the maxsim_rerank discipline). */
  def annHammingRerank(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d).localCheckpoint(true)
    val codes = base.select(col("vec_id"),
      signPack(col("v"), 1).as("h1"), signPack(col("v"), 33).as("h2"))
    val q = codes.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("h1").as("q1"), col("h2").as("q2"))
    val wHam = Window.partitionBy(col("qid")).orderBy(col("ham"), col("vec_id"))
    val pool = codes.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("ham",
        (bit_count(col("h1").bitwiseXOR(col("q1"))) +
         bit_count(col("h2").bitwiseXOR(col("q2")))).cast("long"))
      .withColumn("hrk", row_number().over(wHam))
      .filter(col("hrk") <= 32)
      .select(col("qid"), col("vec_id"), col("ham"))
    // exact rerank on the ≤|queries|·32 survivors
    val qv = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val wCos = Window.partitionBy(col("qid"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    pool
      .join(base.select(col("vec_id"), col("v"), col("n2")), Seq("vec_id"))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("cos_raw",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("cos_raw"), 5).as("cos"), col("ham"))
      .orderBy(col("qid"), col("rank"))
  }

  /** RECALL AUDIT of the sign sketch (`ann_hamming_recall`): per query,
    * how many of the EXACT cosine top-[[TopK]] the Hamming top-32
    * prefilter retains — the honest lossiness measurement every coarse
    * tier ships with (the `ann_recall`/`ivfadc_recall` discipline
    * applied to the training-free sketch). Pure integer counts over
    * the two rankings; the twin replays both. */
  def annHammingRecall(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d).localCheckpoint(true)
    val codes = base.select(col("vec_id"),
      signPack(col("v"), 1).as("h1"), signPack(col("v"), 33).as("h2"))
    val qc = codes.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("h1").as("q1"), col("h2").as("q2"))
    val wHam = Window.partitionBy(col("qid")).orderBy(col("ham"), col("vec_id"))
    val kept = codes.join(broadcast(qc), col("vec_id") =!= col("qid"))
      .withColumn("ham",
        (bit_count(col("h1").bitwiseXOR(col("q1"))) +
         bit_count(col("h2").bitwiseXOR(col("q2")))).cast("long"))
      .withColumn("hrk", row_number().over(wHam))
      .filter(col("hrk") <= 32)
      .select(col("qid"), col("vec_id"))
    val qv = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val wCos = Window.partitionBy(col("qid"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    val exact = base.join(broadcast(qv), col("vec_id") =!= col("qid"))
      .withColumn("cos_raw",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id"))
    exact.join(kept.withColumn("hit", lit(1L)), Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
           sum(coalesce(col("hit"), lit(0L))).as("n_retained"))
      .orderBy(col("qid"))
  }

  /** MARGIN-BASED PAIR MINING (`emb_margin_mine`) — the bitext-mining
    * scoring rule (Artetxe & Schwenk: a candidate pair is good when its
    * similarity beats BOTH endpoints' neighborhood averages, which
    * kills hub vectors that are "close to everything"): between label
    * groups '0' (x side) and '1' (y side), score every pair by the
    * SUBTRACTIVE margin `8·cos − (Σtop4 fwd + Σtop4 bwd)` and keep each
    * x's best y when the margin is positive. The subtractive form (the
    * paper's `distance` variant) keeps the whole ranking in EXACT
    * integers — cosines floor-quantize to 1e6 BEFORE the top-4 sums,
    * so no ratio-of-doubles ordering exists anywhere ([[maxsimTopk]]'s
    * quantize-before-reduce discipline) — and the twin replays the
    * identical windows. Scale shape: group-blocked all-pairs (the
    * mining unit is a language/label block, never the corpus), two
    * window ranks + two ≤|block|-row neighborhood frames broadcast
    * back. */
  def embMarginMine(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d).localCheckpoint(true)
    val a = base.filter(col("label") === "0")
      .select(col("vec_id").as("x"), col("v").as("xv"), col("n2").as("xn2"))
    val b = base.filter(col("label") === "1")
      .select(col("vec_id").as("y"), col("v").as("yv"), col("n2").as("yn2"))
    val pairs = a.join(broadcast(b), lit(true))
      .withColumn("icos", floor(lit(1000000d) *
        (dot(col("xv"), col("yv")) /
          (sqrt(col("xn2")) * sqrt(col("yn2"))))).cast("long"))
      .select(col("x"), col("y"), col("icos"))
      .localCheckpoint(true) // read by both neighborhood passes + scoring
    val wx = Window.partitionBy(col("x")).orderBy(col("icos").desc, col("y"))
    val fwd = pairs.withColumn("rk", row_number().over(wx))
      .filter(col("rk") <= 4).groupBy(col("x"))
      .agg(sum(col("icos")).as("fwd_sum"))
    val wy = Window.partitionBy(col("y")).orderBy(col("icos").desc, col("x"))
    val bwd = pairs.withColumn("rk", row_number().over(wy))
      .filter(col("rk") <= 4).groupBy(col("y"))
      .agg(sum(col("icos")).as("bwd_sum"))
    val wBest = Window.partitionBy(col("x"))
      .orderBy(col("margin").desc, col("y"))
    pairs.join(broadcast(fwd), Seq("x")).join(broadcast(bwd), Seq("y"))
      .withColumn("margin",
        lit(8L) * col("icos") - col("fwd_sum") - col("bwd_sum"))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1 && col("margin") > 0L)
      .select(col("x"), col("y"), col("margin"))
      .orderBy(col("x"))
  }

  // ---- late-interaction (MaxSim / ColBERT-style) retrieval ----

  private val MsTokens = 16
  private val MsDim = 4

  /** LATE-INTERACTION retrieval (MaxSim — the ColBERT scoring model):
    * each 64-dim embedding reads as [[MsTokens]] token vectors of
    * [[MsDim]] dims, and a document scores against a query as
    * Σᵢ maxⱼ ⟨qᵢ, dⱼ⟩ — the sum over query tokens of each token's
    * best-matching document token. This is the retrieval family BETWEEN
    * single-vector dense scoring ([[cosTopk]] / the IVF-PQ index) and
    * full cross-attention re-ranking: token-level interaction with
    * index-servable document representations.
    *
    * Exactness: every pairwise token dot quantizes to floor(10⁶·dot)
    * BEFORE the max/sum reductions, so the ranking arithmetic is pure
    * integers — reduction order cannot perturb it — and the twin
    * unrolls the IDENTICAL 16×16 integer interaction grid in SQL. The
    * engine side is ONE fused codegen kernel
    * ([[graft.functions.MaxSimExpr]] — two primitive loops, the
    * [[graft.functions.DotProductExpr]] discipline) rather than the
    * equivalent 256-arm static expression tree.
    *
    * Scale shape: queries broadcast (≤[[NQueries]] rows); the corpus
    * streams ONCE through the scoring projection with no shuffle of the
    * embedding column (the top-k window reduces map-side after the
    * integer score projects away the vectors). At production scale the
    * corpus side is first restricted to ANN candidates (the
    * `ann_ivfadc_filtered` posting-list discipline) and MaxSim re-ranks
    * the survivors; the brute-force form graded here is the exact
    * ground truth such a deployment prices its candidate cut against. */
  def maxsimTopk(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("ms_q").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("ms_q", graft.functions.GraftFunctions
        .max_sim(col("qv"), col("v"), MsTokens, MsDim))
      .select(col("qid"), col("vec_id"), col("ms_q"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("ms_q").cast("double") / 1e6d, 6).as("maxsim"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Candidate-pool depth of the two-stage retrieve-then-rerank
    * pipeline ([[maxsimRerank]]). */
  private val MsRerankDepth = 20

  /** TWO-STAGE RETRIEVAL, graded — the composition a production stack
    * actually deploys (and what [[maxsimTopk]]'s scaladoc names as the
    * scale path): a cheap single-vector dense retriever cuts the corpus
    * to a [[MsRerankDepth]]-deep candidate pool per query, then the
    * late-interaction MaxSim kernel re-ranks ONLY the survivors. The
    * emitted `dense_rank` column carries each winner's position in the
    * retriever's own ordering, so the grade proves the re-rank
    * genuinely reorders the pool rather than passing it through.
    *
    * Scale shape: stage 1 is the brute-force cosine here (at corpus
    * scale it is the IVF-PQ index — same contract: a per-query
    * candidate pool), stage 2's cost is |queries|·depth kernel calls —
    * independent of corpus size. Both stages' arithmetic is VERBATIM
    * their standalone graded forms, and the twin composes the same two
    * SQL stages, so the composition itself is what this row grades. */
  def maxsimRerank(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("n2"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val wDense = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    val cands = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("drk", row_number().over(wDense).cast("long"))
      .filter(col("drk") <= MsRerankDepth)
    val wMs = Window.partitionBy(col("qid")).orderBy(col("ms_q").desc, col("vec_id"))
    cands
      .withColumn("ms_q", graft.functions.GraftFunctions
        .max_sim(col("qv"), col("v"), MsTokens, MsDim))
      .withColumn("rank", row_number().over(wMs).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("ms_q").cast("double") / 1e6d, 6).as("maxsim"),
        col("drk").as("dense_rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** INDEX-SERVED TWO-STAGE RETRIEVAL, graded — [[maxsimRerank]] with
    * its stage 1 swapped for the production retriever: the IVF-PQ index
    * serves a [[MsRerankDepth]]-deep ADC candidate pool per query (the
    * corpus is read as codes, never as raw vectors), then the candidate
    * pool ALONE joins back to the embedding table for the raw token
    * grids the MaxSim kernel needs — |queries|·depth rows, broadcast —
    * and re-ranks. This is the full billion-vector serving shape:
    * index scan → tiny exact-rerank fetch → kernel; the raw-vector
    * fetch cost is bounded by the pool, not the corpus. The `adc_rank`
    * column carries each winner's index-stage position, grading that
    * the re-rank genuinely reorders what the index retrieved. */
  def maxsimRerankIvf(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val cents = centroids(e).localCheckpoint(true)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
      .localCheckpoint(true)
    val cands = ivfAdcServe(q, cents, pqCodesOf(e, cents), depth = MsRerankDepth)
      .select(col("qid"), col("vec_id"), col("rank").as("adc_rank"))
    // reuse the checkpointed query slice — a fresh one would re-scan
    // the corpus (the committed scan budget is 2)
    maxsimRerankFromPool(s, d, cands,
      qOpt = Some(q.select(col("qid"), col("qv"))))
  }

  /** The MaxSim re-rank tail over an (qid, vec_id, adc_rank) candidate
    * pool — shared VERBATIM by [[maxsimRerankIvf]] (pool from the inline
    * index) and the live serving grade `emb_stream_maxsim` (pool cut by
    * the STREAMING engine from the persisted store), so the two forms
    * can share one twin: pool rows alone fetch their raw token grids
    * (|queries|·depth rows, broadcast — the corpus is never rescanned
    * for vectors outside the pool) and re-rank through the fused
    * [[graft.functions.MaxSimExpr]] kernel. */
  private[graft] def maxsimRerankFromPool(s: SparkSession, d: String,
                                          cands: DataFrame,
                                          qOpt: Option[DataFrame] = None): DataFrame = {
    val e = vecs(s, d)
    val q = qOpt.getOrElse(e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv")))
    val wMs = Window.partitionBy(col("qid")).orderBy(col("ms_q").desc, col("vec_id"))
    e.select(col("vec_id"), col("v"))
      .join(broadcast(cands), "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("ms_q", graft.functions.GraftFunctions
        .max_sim(col("qv"), col("v"), MsTokens, MsDim))
      .withColumn("rank", row_number().over(wMs).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("ms_q").cast("double") / 1e6d, 6).as("maxsim"),
        col("adc_rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The STREAMING stage of live MaxSim serving (`emb_stream_maxsim`):
    * arriving query vectors cut their [[MsRerankDepth]]-deep ADC
    * candidate pool from the PERSISTED IVF-PQ store, entirely within
    * what a streaming plan allows — no windows, no per-query sorts:
    *
    *   - routing: the ≤|cells| centroid table is collected once and
    *     baked into an `array_sort` expression (the [[annServeStream]]
    *     form), so each query picks its 2 nearest cells map-side with
    *     the same (cellcos DESC, cell) order [[ivfAdcServe]]'s window
    *     uses;
    *   - candidates: a stream-static equi join against the code store
    *     PIVOTED to one row per vector (its 4 codes as columns), so the
    *     per-candidate integer ADC sum is ONE map-side expression —
    *     the LUT join becomes a ≤|cells|-arm CASE per subspace with the
    *     codebook slices as literals, the identical [[pqSubDists]]
    *     arithmetic and floor(d2·10⁶) quantization, summed in exact
    *     BIGINTs (this is also why subspaces are NOT exploded: the
    *     explode would need sum-then-topk, two stacked streaming
    *     aggregations, which the engine forbids);
    *   - pool: the single allowed streaming aggregation —
    *     [[graft.functions.TopKByScoreAgg]] on the NEGATED integer ADC
    *     (ties toward the zero-padded vec_id), which is exactly
    *     [[ivfAdcServe]]'s (adc_q ASC, vec_id ASC) depth cut, revised
    *     across micro-batches in complete mode.
    *
    * The post-stream re-rank ([[maxsimRerankFromPool]]) then runs on
    * the sink's pools; `maxsim_rerank_ivf`'s twin grades the whole
    * composition verbatim. */
  private[graft] def maxsimPoolStream(s: SparkSession, queryStream: DataFrame,
                                      storePath: String, d: String): DataFrame = {
    val (centsDf, codesDf) = loadIvfPq(s, storePath, d)
    val cents = centsDf.collect() // ≤|cells| rows — driver-bounded
    val codes4 = codesDf.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("subspace") === 0, col("code"))).as("c0"),
        (1 until PqSubs).map(j =>
          max(when(col("subspace") === j, col("code"))).as(s"c$j")): _*)
      .localCheckpoint(true)
    val q = vecsOf(queryStream)
      .filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val entries = cents.map { r =>
      val cell = r.getAs[Number]("cell").longValue
      val cv = r.getSeq[Double](r.fieldIndex("cv"))
      val cn2 = r.getAs[Double]("cn2")
      struct(
        (dot(col("qv"), typedlit(cv)) /
          (sqrt(col("qn2")) * sqrt(lit(cn2)))).as("s"),
        lit(cell).as("cell"))
    }
    val cmp = (l: Column, r: Column) =>
      when(l("s") > r("s"), -1).when(l("s") < r("s"), 1)
        .when(l("cell") < r("cell"), -1).when(l("cell") > r("cell"), 1)
        .otherwise(0)
    val routed = q
      .withColumn("cs", array_sort(array(entries.toIndexedSeq: _*), cmp))
      .select(col("qid"), col("qv"), explode(slice(col("cs"), 1, 2)).as("rc"))
      .select(col("qid"), col("qv"), col("rc.cell").as("cell"))
    // per-subspace integer ADC as a literal-codebook CASE — the LUT row
    // for (subspace j, code c) is floor(d2(qv_j, cv_c_j)·10⁶), the same
    // pqSubDists fold with the centroid slice as a literal
    def d2q(j: Int, codeCol: Column): Column = {
      val xs = slice(col("qv"), j * PqDim + 1, PqDim)
      val arms = cents.map { r =>
        val cell = r.getAs[Number]("cell").longValue
        val cs = typedlit(
          r.getSeq[Double](r.fieldIndex("cv")).slice(j * PqDim, (j + 1) * PqDim))
        (cell, dot(xs, xs) - lit(2d) * dot(xs, cs) + dot(cs, cs))
      }
      val d2 = arms.tail.foldLeft(
        when(codeCol === arms.head._1, arms.head._2)) {
        case (acc, (cell, e)) => acc.when(codeCol === cell, e)
      }
      floor(d2 * 1e6d).cast("long")
    }
    routed
      .join(codes4.select(Seq(col("label").cast("long").as("cell"),
        col("vec_id")) ++ (0 until PqSubs).map(j => col(s"c$j")): _*), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc_q",
        (0 until PqSubs).map(j => d2q(j, col(s"c$j"))).reduce(_ + _))
      .groupBy(col("qid"))
      .agg(graft.functions.GraftFunctions.topk_by_score(
        lpad(col("vec_id").cast("string"), 19, "0"),
        -col("adc_q").cast("double"), MsRerankDepth).as("pool"))
  }

  /** 8 deterministic pseudo-random hyperplanes (seed 77), coordinates
    * rounded to 6 decimals so the literal parses to the identical double
    * on both engines. */
  private[llm] val planes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(77)
    Seq.fill(8)(Seq.fill(64)(math.rint((rnd.nextDouble() - 0.5) * 1e6) / 1e6))
  }

  /** LSH signature: one bit per hyperplane (dot > 0), packed to a long. */
  private def sigs(s: SparkSession, d: String): DataFrame =
    planes.zipWithIndex.foldLeft(vecs(s, d)) { case (df, (p, i)) =>
      df.withColumn(s"b$i",
        when(dot(col("v"), typedlit(p)) > 0d, lit(1L << i)).otherwise(lit(0L)))
    }.withColumn("bucket", (0 until planes.size).map(i => col(s"b$i")).reduce(_ + _))

  /** Bucket occupancy (shared buckets only) — the structure the ANN scale
    * path exploits. */
  def annBuckets(s: SparkSession, d: String): DataFrame =
    sigs(s, d).groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy(col("bucket"))

  /** ANN top-3: score only candidates sharing the query's LSH bucket. */
  def annTopk(s: SparkSession, d: String): DataFrame = {
    val e = sigs(s, d).select(col("vec_id"), col("v"), col("n2"), col("bucket"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
              col("bucket").as("qbucket"))
    val cand = e.join(broadcast(q),
      col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"), col("rank"), round(col("cos_raw"), 5).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF-style ANN: a coarse quantizer (cell centroids — label means
    * here; k-means in a general deployment) routes each query to its
    * `nprobe` nearest cells, and only those cells' vectors are scored.
    * Complements the hyperplane-LSH path: IVF probes data-adaptive cells,
    * LSH probes data-independent buckets. Centroid build is one
    * explode + grouped sum (a single pass); search cost is
    * |probed cells| / |corpus| of brute force.
    *
    * Oracle-exact by construction: the centroid mean is computed from
    * QUANTIZED coordinates — `floor(x*1000)` summed as exact integers
    * (sum order cannot change an integer sum), then ONE IEEE division —
    * so Spark and DuckDB produce bit-identical centroids, unlike a raw
    * float avg() whose low bits depend on reduction order. */
  /** Cell centroids: element-wise QUANTIZED mean per label cell —
    * `floor(x*1000)` summed as exact integers then one IEEE division, so
    * Spark and DuckDB produce bit-identical centroids (shared by
    * [[annIvf]] and [[kmeansStep]]). */
  private def centroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("xq", floor(col("x") * 1000d)) // BIGINT, exact
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("xq")).cast("double") / count(lit(1)).cast("double") / 1000d).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label").as("cell"),
        expr("transform(pm, p -> p.m)").as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))

  def annIvf(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("label"), col("v"), col("n2"))
    val cents = centroids(e)
    // route queries to their 2 nearest cells
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val wCells = Window.partitionBy(col("qid")).orderBy(col("cellcos").desc, col("cell"))
    val probed = q.crossJoin(broadcast(cents))
      .withColumn("cellcos", dot(col("qv"), col("cv")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("crk", row_number().over(wCells))
      .filter(col("crk") <= 2)
      .select(col("qid"), col("qv"), col("qn2"), col("cell"))
    // score only the probed cells
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    probed.join(e, col("label") === col("cell") && col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"), col("rank"), round(col("cos_raw"), 5).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Hard-negative mining — the contrastive-training staple: for each
    * query vector, the 2 most-similar vectors carrying a DIFFERENT
    * label. A contrastive or metric-learning objective is only as good
    * as its negatives; the valuable ones are the near-misses this
    * emits, not random draws. Routing composes [[annIvf]]'s machinery
    * with the label constraint PUSHED INTO THE ROUTER: the query ranks
    * only FOREIGN cells (its own label's centroid is filtered before
    * the rank), so the per-query candidate set is 2 foreign cells'
    * members — never the corpus, and never a same-label vector to
    * discard later.
    *
    * Scale shape: identical to [[annIvf]] — broadcast ≤|labels|-row
    * centroid frame, corpus streams once through the cell-membership
    * join, per-query top-2 via the bounded window over probed-cell
    * candidates only. At 100 TB the router would take k-means cells
    * rather than label cells; the label filter stays a constant-cost
    * predicate on the broadcast side. Three embeddings scans (query
    * slice, centroid build, membership side) — the identical committed
    * [[annIvf]] budget in tools/scan_budget.tsv; query and centroid
    * reads prune to the slim column set. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("label"), col("v"), col("n2"))
    val cents = centroids(e)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
              col("v").as("qv"), col("n2").as("qn2"))
    val wCells = Window.partitionBy(col("qid")).orderBy(col("cellcos").desc, col("cell"))
    val probed = q.crossJoin(broadcast(cents))
      .filter(col("cell") =!= col("qlabel"))
      .withColumn("cellcos", dot(col("qv"), col("cv")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("crk", row_number().over(wCells))
      .filter(col("crk") <= 2)
      .select(col("qid"), col("qv"), col("qn2"), col("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    probed.join(e, col("label") === col("cell"))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select(col("qid"), col("vec_id").as("neg_id"), col("rank"),
              round(col("cos_raw"), 5).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Embedding-distribution drift between two corpus slices — the
    * VECTOR twin of `mix_shift`'s token drift: split the corpus by
    * vec_id parity (the deterministic stand-in for two crawl epochs),
    * compute per-(label, slice) QUANTIZED-integer centroids (the
    * [[centroids]] discipline — exact integer sums, one IEEE division
    * per coordinate, so both engines agree bit-for-bit), and emit each
    * label's centroid displacement ‖μ_a − μ_b‖ with the slice
    * populations. A label whose centroid moved between epochs is a
    * cluster whose CONTENT shifted — the retrain/resample signal an
    * embedding-space monitor watches.
    *
    * Scale shape: one corpus scan, map-side quantization, hash agg to
    * the ≤|labels|·2·dim centroid frame (localCheckpointed — both
    * slice branches read it), self-join on (label, pos) over that tiny
    * frame; FP enters once per coordinate plus the dim-term sum,
    * rounded at 5. */
  def embedCentroidDrift(s: SparkSession, d: String): DataFrame = {
    val cm = vecs(s, d)
      .select(col("label"), (col("vec_id") % 2).cast("int").as("half"),
              posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("xq", floor(col("x") * 1000d))
      .groupBy(col("label"), col("half"), col("pos"))
      .agg((sum(col("xq")).cast("double") / count(lit(1)).cast("double") / 1000d).as("m"),
           count(lit(1)).as("n"))
      .localCheckpoint()
    val a = cm.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("m").as("ma"), col("n").as("na"))
    val b = cm.filter(col("half") === 1)
      .select(col("label").as("lb"), col("pos").as("pb"),
              col("m").as("mb"), col("n").as("nb"))
    a.join(b, col("label") === col("lb") && col("pos") === col("pb"))
      .groupBy(col("label").cast("long").as("label"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
           round(sqrt(sum((col("ma") - col("mb")) * (col("ma") - col("mb")))), 5)
             .as("drift"))
      .orderBy(col("label"))
  }

  /** Two power-iteration steps toward the corpus's top principal
    * direction — the PCA kernel an embedding pipeline runs before
    * quantization/whitening, graded like [[kmeansStep]] and
    * `logreg_step` grade their iterations. The Gram matrix
    * C = Σ x xᵀ is accumulated from QUANTIZED coordinates
    * (floor(x·1000), BIGINT products — sum order cannot change an
    * integer), so both engines hold the IDENTICAL matrix; the two
    * matrix-vector steps from v₀ = e₀ each do one join + hash agg over
    * the dim²-row frame with one normalization division per
    * coordinate, rounded at 6.
    *
    * Scale shape: the pair explode costs dim² rows per vector (64² here
    * — the standard Gram-accumulation shape; block matrices take over
    * at transformer dims), map-side combined into the dim²-row C, which
    * is checkpointed once for its two consumers. Iterations touch only
    * C — the corpus is scanned once, and more steps cost dim²-sized
    * aggs, not scans. */
  def pcaPowerStep(s: SparkSession, d: String): DataFrame = {
    val q = vecs(s, d)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("xq", floor(col("x") * 1000d))
      .select(col("vec_id"), col("pos"), col("xq"))
    val cov = q.as("a").join(q.as("b"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.pos").as("j"), col("b.pos").as("k"))
      .agg(sum(col("a.xq") * col("b.xq")).as("c"))
      .localCheckpoint()
    val u1 = cov.filter(col("k") === 0)
      .select(col("j"), col("c").cast("double").as("u"))
    val n1 = u1.agg(sqrt(sum(col("u") * col("u"))).as("nrm"))
    val v1 = u1.crossJoin(broadcast(n1))
      .select(col("j"), (col("u") / col("nrm")).as("v1"))
      .localCheckpoint()
    val u2 = cov.join(v1.withColumnRenamed("j", "k2"), col("k") === col("k2"))
      .groupBy(col("j")).agg(sum(col("c").cast("double") * col("v1")).as("u"))
    val n2 = u2.agg(sqrt(sum(col("u") * col("u"))).as("nrm"))
    u2.crossJoin(broadcast(n2))
      .join(v1, Seq("j"))
      .select(col("j").cast("long").as("pos"),
              round(col("v1"), 6).as("v_step1"),
              round(col("u") / col("nrm"), 6).as("v_step2"))
      .orderBy(col("pos"))
  }

  /** Symmetric int8 quantization stats per label cell: per-vector scale
    * 127/max|x|, saturation = elements hitting the clip boundary
    * (floor(|x|·scale) ≥ 127 — exact integer predicate, so the count is
    * bit-reproducible cross-engine; the scale average is reported rounded).
    * The compression preflight of an embedding-store build: all
    * expression-level array math, one aggregation. */
  def embedQuantize(s: SparkSession, d: String): DataFrame =
    vecs(s, d)
      .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .filter(col("amax") > 0d)
      .withColumn("scale", lit(127d) / col("amax"))
      .withColumn("n_sat",
        size(filter(col("v"), x => floor(abs(x) * col("scale")) >= 127d)).cast("long"))
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
           sum(col("n_sat")).as("total_saturated"),
           round(avg(col("scale")), 3).as("avg_scale"))
      .orderBy(col("label"))

  /** Near-duplicate candidate pairs: same label block, cosine ≥ 0.4.
    * Pair expansion is BOUNDED, mirroring [[HashDedup.boundedBuckets]]:
    * a counted pre-filter caps label blocks at `maxBlock` members (an
    * over-cap block is a mass cluster better served by the LSH/ANN paths
    * than by O(block²) enumeration), and skipped blocks are surfaced via
    * the same `lsh_skew*` observed metric + WARN listener — never a
    * silent truncation. At the graded scale factors the largest label
    * block is ~220 vectors, far under the cap, so results are identical
    * to full enumeration (the DuckDB twin). */
  def nearDup(s: SparkSession, d: String): DataFrame = {
    HashDedup.registerSkewLogging(s)
    nearDupPairs(vecs(s, d), HashDedup.DefaultMaxBucket)
  }

  /** Bounded same-label pair enumeration over an embeddings frame with
    * (label, vec_id, v, n2): block-local pairs via the counted pre-filter
    * + collect_list + nested transform (the [[HashDedup]] bucket-pair
    * shape — per-task work ≤ maxBlock², streamed through codegen, no
    * self-join). */
  private[graft] def nearDupPairs(e: DataFrame, maxBlock: Int): DataFrame =
    HashDedup.boundedBuckets(
        e.select(col("label"), col("vec_id"), col("v"), col("n2")),
        Seq(col("label")), struct(col("vec_id"), col("v"), col("n2")), maxBlock)
      .select(col("label"), HashDedup.pairExpand("ids", "l", "r").as("p"))
      .withColumn("cos_raw",
        dot(col("p.l.v"), col("p.r.v")) / (sqrt(col("p.l.n2")) * sqrt(col("p.r.n2"))))
      .filter(col("cos_raw") >= 0.4d)
      .select(col("label").cast("long").as("label"),
              col("p.l.vec_id").as("a"), col("p.r.vec_id").as("b"),
              round(col("cos_raw"), 4).as("cos"))
      .orderBy(col("a"), col("b"))

  /** SEMANTIC dedup — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540: k-means the embedding space, then within each
    * cluster treat pairs above a cosine threshold as semantic
    * duplicates and KEEP the member farthest from the centroid — the
    * farthest member is the least prototypical, so dropping the inner
    * one debiases the cluster): per cell, the duplicate-pair set is the
    * graded [[nearDup]] lineage (bucket-local bounded pair expansion at
    * cos ≥ 0.4), each pair drops the member NEARER its centroid
    * (higher centroid cosine; vec_id tie-break — deterministic raw-
    * double comparison, the [[cosTopk]] FP-parity discipline), and the
    * audit reports per-cluster volume, duplicate pairs, drops, and the
    * drop rate.
    *
    * Scale shape: ONE checkpointed corpus scan serves the centroid
    * build, the centroid-cosine frame AND the pair expansion; pair
    * expansion stays behind the counted block cap (never all-pairs —
    * the zero-skip pin holds at graded SFs); the drop decision joins
    * the SMALL pair frame against the scored frame twice (pair-sized
    * output); the result is a ≤|cells|-row aggregate of exact integer
    * counts with one rounded division. */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("label"), col("v"), col("n2"))
      .localCheckpoint()
    val scored = e.filter(col("n2") > 0d)
      .join(broadcast(centroids(e)), col("label") === col("cell"))
      .withColumn("cc",
        dot(col("v"), col("cv")) / (sqrt(col("n2")) * sqrt(col("cn2"))))
      .select(col("label"), col("vec_id"), col("cc"))
    val pairs = nearDupPairs(e.filter(col("n2") > 0d), HashDedup.DefaultMaxBucket)
      .select(col("label"), col("a"), col("b"))
    val dropped = pairs
      .join(scored.select(col("vec_id").as("a"), col("cc").as("cca")), Seq("a"))
      .join(scored.select(col("vec_id").as("b"), col("cc").as("ccb")), Seq("b"))
      .select(col("label"),
        when(col("cca") > col("ccb") ||
             (col("cca") === col("ccb") && col("a") > col("b")),
          col("a")).otherwise(col("b")).as("vec_id"))
      .distinct()
    val perCell = scored.groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"))
    perCell
      .join(broadcast(pairs.groupBy(col("label")).agg(count(lit(1)).as("n_pairs"))),
        Seq("label"), "left")
      .join(broadcast(dropped.groupBy(col("label")).agg(count(lit(1)).as("n_dropped"))),
        Seq("label"), "left")
      .select(col("label"), col("n_vecs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        round(coalesce(col("n_dropped"), lit(0L)).cast("double") /
          col("n_vecs"), 4).as("drop_pct"))
      .orderBy(col("label"))
  }

  /** LIVE ANN serving — the query path of [[annIvf]] run by the
    * STREAMING engine: each ARRIVING query vector routes map-side to
    * its 2 nearest cells (the ≤|cells|-row centroid table is collected
    * once and baked into the routing expression — no window, no
    * broadcast join, nothing a streaming plan disallows), probes only
    * those cells' members by stream-static equi-join against the static
    * corpus, and keeps its top-3 in the mergeable [[graft.functions
    * .TopKByScoreAgg]] (its serialize/deserialize IS the streaming
    * state encoding). Complete mode: the sink holds every served
    * query's current answer — the online vector-search serving shape.
    *
    * Determinism: routing sorts a 10-entry array with an integer
    * comparator on (cos desc, cell); candidate ranking pads vec_ids to
    * 19 digits so the aggregate's string order equals numeric order
    * (the [[embedOutliers]] discipline); scores are the shared
    * sequential-fold dot product. */
  def annServeStream(queryStream: DataFrame, corpusRaw: DataFrame): DataFrame = {
    val corpus = corpusRaw
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("n2", dot(col("v"), col("v")))
      .select(col("vec_id"), col("label"), col("v"), col("n2"))
    // ≤|cells| rows — driver-bounded by construction (the
    // centroidDriftReference discipline)
    val cents = centroids(corpus).collect()
    val q = queryStream
      .withColumn("qv", col("embedding").cast("array<double>"))
      .withColumn("qn2", dot(col("qv"), col("qv")))
      .filter(col("qn2") > 0d)
      .select(col("vec_id").as("qid"), col("qv"), col("qn2"))
    val entries = cents.map { r =>
      val cell = r.getAs[Number]("cell").longValue
      val cv = r.getSeq[Double](r.fieldIndex("cv"))
      val cn2 = r.getAs[Double]("cn2")
      struct(
        (dot(col("qv"), typedlit(cv)) /
          (sqrt(col("qn2")) * sqrt(lit(cn2)))).as("s"),
        lit(cell).as("cell"))
    }
    val cmp = (l: Column, r: Column) =>
      when(l("s") > r("s"), -1).when(l("s") < r("s"), 1)
        .when(l("cell") < r("cell"), -1).when(l("cell") > r("cell"), 1)
        .otherwise(0)
    val routed = q
      .withColumn("cs", array_sort(array(entries.toIndexedSeq: _*), cmp))
      .select(col("qid"), col("qv"), col("qn2"),
        explode(slice(col("cs"), 1, 2)).as("rc"))
      .select(col("qid"), col("qv"), col("qn2"), col("rc.cell").as("cell"))
    routed
      .join(corpus.filter(col("n2") > 0d)
          .select(col("label").cast("long").as("cell"),
            col("vec_id"), col("v"), col("n2")),
        Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_raw",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .groupBy(col("qid"))
      .agg(graft.functions.GraftFunctions.topk_by_score(
        lpad(col("vec_id").cast("string"), 19, "0"), col("cos_raw"), 3).as("top"))
  }

  /** One k-means assignment step: every vector scores the 10 broadcast
    * cell centroids and moves to the nearest (cosine, deterministic
    * cell-id tie-break); output is the label→assigned transition matrix.
    * The canonical clustering-iteration shape at scale: centroids are a
    * k-row broadcast, the corpus streams once, counts are integers. */
  def kmeansStep(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d).select(col("vec_id"), col("label"), col("v"), col("n2"))
    // centroids come from the UNFILTERED set (like annIvf and the DuckDB
    // twin — a zero vector still contributes to its cell's mean); only
    // SCORING drops zero vectors (no direction: NaN cos)
    val e = all.filter(col("n2") > 0d)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cellcos").desc, col("cell"))
    e.crossJoin(broadcast(centroids(all)))
      .withColumn("cellcos", dot(col("v"), col("cv")) / (sqrt(col("n2")) * sqrt(col("cn2"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("label").cast("long").as("label"), col("cell").cast("long").as("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned"))
  }

  /** Per-label LSH-neighborhood purity — the label-noise estimate that
    * complements [[embedOutliers]]' centroid view with a LOCAL one: for
    * every vector, how many of its same-bucket co-members share its
    * label? Reported per label as the count of vectors with neighbors,
    * the count sitting in a minority (fewer than half their neighbors
    * agree — the mislabel suspects), and the pooled agreement ratio.
    *
    * Scale shape: NO pair expansion anywhere — a vector's agreement is
    * a pure function of its cell's counts (same = c(bucket, label) − 1,
    * tot = n(bucket) − 1), so the whole audit is one corpus scan into a
    * ≤|buckets|·|labels|-row count frame, then arithmetic on that tiny
    * frame — the bucket total is a window sum OVER THE COUNTS (bounded
    * partitions), not a join back, so there is exactly one lineage and
    * no checkpoint (measured: the checkpointed join form cost ~0.8 s of
    * pure materialization overhead at sf0.1). The minority flag
    * is integer cross-multiplied; the pooled ratio sums exact integer
    * products and divides ONCE (a mean-of-ratios would sum doubles in
    * nondeterministic reduction order — the determinism rule). */
  def labelPurity(s: SparkSession, d: String): DataFrame = {
    val bl = sigs(s, d).groupBy(col("bucket"), col("label"))
      .agg(count(lit(1)).as("c"))
    bl.withColumn("n", sum(col("c")).over(Window.partitionBy(col("bucket"))))
      .filter(col("n") > 1)
      .withColumn("same", col("c") - 1)
      .withColumn("tot", col("n") - 1)
      .groupBy(col("label").cast("long").as("label"))
      .agg(sum(col("c")).as("n_vecs"),
           sum(when(col("same") * 2 < col("tot"), col("c")).otherwise(0L))
             .as("n_minority"),
           round(sum(col("same") * col("c")).cast("double") /
                 sum(col("tot") * col("c")).cast("double"), 4).as("pooled_agree"))
      .orderBy(col("label"))
  }

  /** Label-coherence outliers: the 3 vectors per label whose cosine to
    * their OWN label centroid is lowest — the mislabeled-embedding /
    * polluted-cluster audit run before trusting labels for curation
    * (a vector pointing away from its cluster is a labeling error or a
    * genuine boundary case; either way it's what a human reviews first).
    *
    * Scale shape: centroids are the shared quantized-integer broadcast
    * (bit-identical cross-engine, like [[annIvf]]/[[kmeansStep]]); the
    * corpus streams once through the equi-join with its own cell; the
    * bottom-3 cut is the mergeable [[graft.functions.TopKByScoreAgg]]
    * on the NEGATED score — partial per partition, O(k) merge — so a
    * label holding 90 % of the corpus costs one bounded buffer, never
    * a per-label sort task. vec_ids ride zero-padded so the aggregate's
    * string tie-break equals the oracle's numeric one. */
  def embedOutliers(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d).select(col("vec_id"), col("label"), col("v"), col("n2"))
    all.filter(col("n2") > 0d)
      .join(broadcast(centroids(all)), col("label") === col("cell"))
      .withColumn("cos_raw", dot(col("v"), col("cv")) / (sqrt(col("n2")) * sqrt(col("cn2"))))
      .groupBy(col("label").cast("long").as("label"))
      .agg(graft.functions.GraftFunctions.topk_by_score(
        // pad to max-long width (19 digits): string order == numeric
        // order for EVERY possible id, not just ids < 1e6 — at 100 TB
        // 7+-digit ids would otherwise rank '1000000' before '999999'
        lpad(col("vec_id").cast("string"), 19, "0"), -col("cos_raw"), 3).as("lows"))
      .select(col("label"), posexplode(col("lows")).as(Seq("pos", "t")))
      .select(col("label"), (col("pos") + 1).cast("long").as("rnk"),
              col("t.w").cast("long").as("vec_id"),
              // 0 − score, not −score: keeps an exactly-orthogonal hit at
              // +0.0 (a bare negation would emit −0.0 ≠ the oracle's 0.0)
              round(lit(0d) - col("t.score"), 5).as("cos"))
      .orderBy(col("label"), col("rnk"))
  }

  private val RangeTau = 0.2d

  /** Cosine RANGE search (radius query): every vector within cosine ≥ τ
    * of each query vector — the "all near matches" companion to top-k
    * (dedup sweeps and recall audits want the full neighborhood, not a
    * fixed k). Broadcast query set, one corpus scan, no window: selection
    * is a scalar predicate on the raw double score (identical fold order
    * on both engines), only the reported score is rounded. */
  def annRange(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("n2"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos_raw",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .filter(col("cos_raw") >= lit(RangeTau))
      .select(col("qid"), col("vec_id"), round(col("cos_raw"), 5).as("cos"))
      .orderBy(col("qid"), col("vec_id"))
  }

  /** ANN quality audit: recall@3 of the hyperplane-LSH path against the
    * exact brute-force top-3, per query — the metric that decides whether
    * an approximate index is good enough to ship. Value-identical to
    * joining the graded `ann_cos`/`ann_topk` lineages, but both sides
    * derive from ONE localCheckpointed signature frame (the
    * `ivf_recall_sweep` checkpoint discipline): the corpus is scanned
    * once, the brute-force side simply ignores the bucket column the LSH
    * side keys on — r8 read the embeddings 4×, this reads them once. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val e = sigs(s, d).select(col("vec_id"), col("v"), col("n2"), col("bucket"))
      .localCheckpoint()
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
              col("bucket").as("qbucket"))
    def top3(cand: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
      cand.withColumn("cos_raw",
          dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vec_id"))
    }
    val exact = top3(e.join(broadcast(q.drop("qbucket")),
      col("vec_id") =!= col("qid")))
    val approx = top3(e.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("qid")))
      .select(col("qid").as("aqid"), col("vec_id").as("avid"))
    exact.join(approx,
        col("qid") === col("aqid") && col("vec_id") === col("avid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"), count(col("avid")).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
      .orderBy(col("qid"))
  }

  /** IVF recall/cost SWEEP: recall@3 as a function of nprobe ∈ {1,2,4} —
    * the accuracy-vs-fan-out curve that prices an IVF index before
    * deployment (each probe scans one more cell per query; the curve
    * says where extra scan cost stops buying recall). ONE ranked
    * query→cell frame (crk ≤ max nprobe) serves every sweep point — the
    * nprobe frame is a 3-row broadcast, so the sweep costs one cell-scan
    * join, not three pipelines; recall aggregates exact integer hit
    * counts against the brute-force top-3 with a single rounded division
    * at the end (cross-engine deterministic, like ann_recall). Like
    * ann_recall this is an AUDIT: the brute-force ground truth prices a
    * query SAMPLE (NQueries) — at 100 TB it runs on a held-out query
    * set, never the full corpus — and every consumer (corpus side,
    * query side, centroids, ground truth) reads the ONE checkpointed
    * scan (r9). */
  def ivfRecallSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE embeddings scan: corpus side, query side, centroid build and
    // the brute-force ground truth all derive from this checkpoint
    // (r8 read the embeddings 5×)
    val e = vecs(s, d).select(col("vec_id"), col("label"), col("v"), col("n2"))
      .localCheckpoint()
    val cents = centroids(e)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val wCells = Window.partitionBy(col("qid")).orderBy(col("cellcos").desc, col("cell"))
    val ranked = q.crossJoin(broadcast(cents))
      .withColumn("cellcos",
        dot(col("qv"), col("cv")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("crk", row_number().over(wCells))
      .filter(col("crk") <= 4)
      .select(col("qid"), col("qv"), col("qn2"), col("cell"), col("crk"))
    val probes = Seq(1L, 2L, 4L).toDF("nprobe")
    val wRank = Window.partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    val approx = ranked
      .join(broadcast(probes), col("crk") <= col("nprobe"))
      .join(e, col("label") === col("cell") && col("vec_id") =!= col("qid"))
      .withColumn("cos_raw",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select(col("nprobe").as("anp"), col("qid").as("aqid"), col("vec_id").as("avid"))
    // brute-force ground truth from the SAME checkpoint (value-identical
    // to the graded ann_cos lineage's top-3)
    val wx = Window.partitionBy(col("qid")).orderBy(col("cos_x").desc, col("vec_id"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos_x",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(wx).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"))
    exact.crossJoin(broadcast(probes))
      .join(approx,
        col("nprobe") === col("anp") && col("qid") === col("aqid") &&
          col("vec_id") === col("avid"), "left")
      .groupBy(col("nprobe"))
      .agg(countDistinct(col("qid")).as("n_queries"),
           count(lit(1)).as("n_exact"), count(col("avid")).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
      .orderBy(col("nprobe"))
  }

  private val PqSubs = 4
  private val PqDim = 16

  /** Product-quantization assignment (the IVF-PQ building block): the
    * 64-dim space splits into 4 × 16-dim subspaces, each with its own
    * codebook (the quantized-integer label-mean centroids restricted to
    * the subspace), and every vector picks its nearest code per subspace
    * by squared L2 — ‖x‖² − 2·x·c + ‖c‖², each term a sequential-fold
    * dot product, ties broken by cell id, so the argmin is deterministic
    * cross-engine. Output: code-histogram per subspace (the structure a
    * PQ index stores; a skewed histogram means a bad codebook). Corpus
    * streams once against k broadcast centroids, exactly like
    * [[kmeansStep]]. */
  def embedPq(s: SparkSession, d: String): DataFrame =
    pqCodes(s, d, centroids(vecs(s, d)))
      .groupBy(col("subspace").cast("long").as("subspace"),
               col("code").cast("long").as("cell"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("subspace"), col("cell"))

  /** Per-subspace squared-L2 distance expressions between `vcol`'s j-th
    * `dim`-dim slice and the codebook entry's (`cv`) — the shared
    * arithmetic of PQ assignment and the ADC lookup tables. */
  private def pqSubDists(vcol: Column, subs: Int, dim: Int): Seq[Column] =
    (0 until subs).map { j =>
      val xs = slice(vcol, j * dim + 1, dim)
      val cs = slice(col("cv"), j * dim + 1, dim)
      dot(xs, xs) - lit(2d) * dot(xs, cs) + dot(cs, cs)
    }

  private def pqSubDists(vcol: Column): Seq[Column] =
    pqSubDists(vcol, PqSubs, PqDim)

  /** PQ code assignment per (vector, subspace): nearest sub-codebook
    * entry by squared L2, deterministic cell-id tie-break. Takes the
    * codebook frame as an argument so a caller with a second consumer
    * ([[annAdc]]'s LUT) can materialize it ONCE. */
  private def pqCodes(s: SparkSession, d: String, cents: DataFrame): DataFrame =
    pqCodesOf(vecs(s, d), cents)

  /** PQ code assignment over an explicit vector frame — the form
    * [[appendIvfPq]] needs, where the frame is a delta slice encoded
    * against a FROZEN codebook rather than the whole snapshot. */
  private[graft] def pqCodesOf(vecFrame: DataFrame, cents: DataFrame): DataFrame = {
    val e = vecFrame.select(col("vec_id"), col("label"), col("v"))
    val w = Window.partitionBy(col("vec_id"), col("subspace"))
      .orderBy(col("d2"), col("cell"))
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("cell"),
        posexplode(array(pqSubDists(col("v")): _*)).as(Seq("subspace", "d2")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("subspace"), col("cell").as("code"))
  }

  /** PQ asymmetric-distance (ADC) top-k search — the query path an
    * IVF-PQ index actually serves: each query precomputes a lookup table
    * of squared-L2 distances from its subvectors to every codebook entry,
    * and a candidate's distance is the SUM of 4 table lookups over its
    * stored codes — the corpus is scanned as codes (4 small ints/vector),
    * never as raw floats. Scale shape: codes ⋈ broadcast LUT
    * (queries × 10 cells × 4 subspaces rows) then a map-side partial
    * aggregation on (query, vector); no shuffle of the embedding column.
    * Oracle-exact: LUT entries are floor(d2·10⁶) BIGINTs, so the 4-way
    * sum is an integer — reduction order cannot perturb it — and the
    * reported distance applies ONE division after the integer sum. */
  def annAdc(s: SparkSession, d: String): DataFrame = {
    // the ≤10-row codebook is consumed by BOTH the code assignment and
    // the LUT build; AQE does not reuse identical agg subtrees, so an
    // unmaterialized second consumer would re-scan the corpus (SCALE.md)
    val cents = centroids(vecs(s, d)).localCheckpoint(true)
    val q = vecs(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val lut = q.crossJoin(broadcast(cents))
      .select(col("qid"), col("cell").as("code"),
        posexplode(array(pqSubDists(col("qv")): _*)).as(Seq("subspace", "d2")))
      .withColumn("d2q", floor(col("d2") * 1e6d).cast("long"))
      .select(col("qid"), col("subspace"), col("code"), col("d2q"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_q"), col("vec_id"))
    pqCodes(s, d, cents).join(broadcast(lut), Seq("subspace", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d2q")).as("adc_q"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .withColumn("adc", round(col("adc_q").cast("double") / 1e6d, 6))
      .select(col("qid"), col("vec_id"), col("rank"), col("adc"))
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF-PQ search END TO END — the index layout a billion-vector
    * deployment actually serves (the FAISS IVFADC shape): the coarse
    * quantizer routes each query to its 2 nearest cells ([[annIvf]]'s
    * router), and ONLY those cells' members are scored, by PQ
    * asymmetric distance ([[annAdc]]'s integer lookup tables). The two
    * graded halves compose: the corpus is touched as 4-small-int codes
    * (never raw floats) and only |probed cells| / |cells| of it per
    * query. Here the label-means codebook doubles as the coarse
    * quantizer; a production index trains a separate k-means coarse
    * codebook, but the plan shape — broadcast routing table, broadcast
    * LUT, map-side partial sum over an integer — is identical.
    *
    * Scale shape: the ≤10-row centroid frame is localCheckpointed once
    * for its three consumers (router, code assignment, LUT — SCALE.md:
    * AQE does not reuse identical agg subtrees); the 5-row query slice
    * likewise for its two. Candidate restriction is a BROADCAST join of
    * the (query, cell) routing table onto the code stream — the corpus
    * never shuffles — and the ADC sum is an exact BIGINT, so reduction
    * order cannot perturb the ranking. Three embeddings scans
    * (committed budget): centroid build, query slice, code stream. */
  def annIvfAdc(s: SparkSession, d: String): DataFrame = {
    val cents = centroids(vecs(s, d)).localCheckpoint(true)
    val q = vecs(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
      .localCheckpoint(true)
    ivfAdcServe(q, cents, pqCodes(s, d, cents))
  }

  /** FILTERED ANN — the production vector-search feature the plain
    * top-k path lacks: serve from the SAME IVF-PQ index but restrict
    * candidates to a metadata-selected subset (here: vectors whose
    * document is English — `documents.lang`, the external predicate a
    * per-tenant / license / freshness filter would be). The filter is a
    * BROADCAST posting list semi-joined onto the code stream before the
    * ADC sum — never evaluated per raw vector, never shuffling the
    * corpus — and the cell fan-out widens (nprobe 2 → 4) because the
    * filter thins every probed cell: the standard selectivity↔nprobe
    * trade (very selective filters eventually favor brute-force over
    * the survivors; this grades the indexed regime). Twin: the shared
    * ADC chain with the identical posting-list restriction and widened
    * probe set. */
  def annIvfAdcFiltered(s: SparkSession, d: String): DataFrame =
    filteredIndexedServe(s, d, enDocs(s, d))

  /** The broad-filter graded posting list: English documents. */
  private def enDocs(s: SparkSession, d: String): DataFrame =
    graft.Tables.documents(s, d)
      .filter(col("lang") === "en").select(col("doc_id").as("vec_id"))

  /** The INDEXED filtered serve over an arbitrary posting list — shared
    * verbatim by the fixed graded row ([[annIvfAdcFiltered]]) and the
    * adaptive selector ([[annFilteredAuto]]). */
  private def filteredIndexedServe(s: SparkSession, d: String,
                                   allowed: DataFrame): DataFrame = {
    val cents = centroids(vecs(s, d)).localCheckpoint(true)
    val q = vecs(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
      .localCheckpoint(true)
    ivfAdcServe(q, cents,
      pqCodes(s, d, cents).join(broadcast(allowed), Seq("vec_id"), "left_semi"),
      nprobe = 4)
  }

  /** The IVF-PQ SERVE path, shared verbatim by the inline index
    * ([[annIvfAdc]]) and the persisted artifact ([[annIvfAdcLoaded]]):
    * route each query to its 2 nearest cells, build its integer ADC
    * lookup table, and score only the probed cells' code rows — the
    * index (cents + codes) is DATA here, which is exactly what makes it
    * persistable. */
  private def ivfAdcServe(q: DataFrame, cents: DataFrame,
                          codes: DataFrame, nprobe: Int = 2,
                          depth: Int = 3): DataFrame = {
    val wCells = Window.partitionBy(col("qid")).orderBy(col("cellcos").desc, col("cell"))
    val probed = q.crossJoin(broadcast(cents))
      .withColumn("cellcos",
        dot(col("qv"), col("cv")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("crk", row_number().over(wCells))
      .filter(col("crk") <= nprobe)
      .select(col("qid"), col("cell"))
    val lut = q.crossJoin(broadcast(cents))
      .select(col("qid"), col("cell").as("code"),
        posexplode(array(pqSubDists(col("qv")): _*)).as(Seq("subspace", "d2")))
      .withColumn("d2q", floor(col("d2") * 1e6d).cast("long"))
      .select(col("qid"), col("subspace"), col("code"), col("d2q"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_q"), col("vec_id"))
    codes
      .join(broadcast(probed), col("label") === col("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "subspace", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d2q")).as("adc_q"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= depth)
      .withColumn("adc", round(col("adc_q").cast("double") / 1e6d, 6))
      .select(col("qid"), col("vec_id"), col("rank"), col("adc"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Fingerprint of `dir/embeddings.parquet` — the persisted IVF-PQ
    * index's staleness token. */
  private[graft] def embFingerprint(d: String): String =
    graft.Fingerprint.ofTables(d, "embeddings.parquet")

  /** Persist the IVF-PQ index as an ARTIFACT — the ANN family's index
    * lifecycle step (the [[graft.llm.HashDedup.writeBandStore]] /
    * [[graft.llm.TextOps]] BPE-merges discipline applied to vectors):
    * the coarse/code codebook (`centroids/`, ≤|cells| rows of
    * exact-arithmetic centroid means) and the corpus AS CODES (`codes/`,
    * 4 small ints per vector — the only corpus representation a serving
    * deployment rereads) land under `outPath` with a `_built_from.json`
    * sidecar fingerprinting the embeddings table they were built from.
    * [[loadIvfPq]] fail-fasts on a stale or unfingerprinted store —
    * never silently serves yesterday's index against today's corpus. */
  def writeIvfPq(s: SparkSession, snapshotDir: String, outPath: String): Unit =
    writeIvfPqFrom(vecs(s, snapshotDir), outPath,
      snapshotDir, embFingerprint(snapshotDir))

  /** [[writeIvfPq]] over an explicit vector frame with a caller-supplied
    * fingerprint token — the seam [[annIvfAdcAppend]] uses to build a
    * store from yesterday's (base) slice of the corpus. */
  private[graft] def writeIvfPqFrom(vecFrame: DataFrame, outPath: String,
                                    snapshotDir: String, fp: String): Unit = {
    val cents = centroids(vecFrame).localCheckpoint(true)
    cents.write.mode("overwrite")
      .parquet(new java.io.File(outPath, "centroids").toString)
    pqCodesOf(vecFrame, cents).write.mode("overwrite")
      .parquet(new java.io.File(outPath, "codes").toString)
    writeIvfPqMeta(outPath, snapshotDir, fp, Nil)
  }

  /** The store's maintenance journal lives IN `_built_from.json`:
    * `absorbed` lists the identity of every delta/delete the store has
    * applied since its last full build, so a RETRIED or double-called
    * maintenance op is refused instead of silently applied twice
    * (duplicate (vec_id, subspace) code rows would double the ADC sums
    * while the fingerprint gate still passed). */
  private def writeIvfPqMeta(outPath: String, snapshotDir: String,
                             fp: String, absorbed: Seq[String]): Unit = {
    // the sidecar is written by template and read back by regex; a
    // quote/backslash/']' in an id or path would corrupt it and could
    // silently defeat the duplicate-append refusal — participants are
    // restricted to a JSON-safe alphabet instead of escaped
    (Seq("snapshot dir" -> snapshotDir, "fingerprint" -> fp) ++
      absorbed.map("journal op id" -> _)).foreach { case (kind, v) =>
      require(v.matches("""[A-Za-z0-9:_\-./ ]*"""),
        s"$kind '$v' contains characters outside [A-Za-z0-9:_-./ ] — " +
          "the _built_from.json journal only accepts a JSON-safe alphabet")
    }
    val abs = absorbed.map(a => s""""$a"""").mkString("[", ",", "]")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath, "_built_from.json"),
      s"""{"snapshot_dir":"$snapshotDir","fingerprint":"$fp","absorbed":$abs}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  private def readIvfPqMeta(storePath: String): (Option[String], Seq[String]) = {
    val metaPath = java.nio.file.Paths.get(storePath, "_built_from.json")
    require(java.nio.file.Files.exists(metaPath),
      s"IVF-PQ store at $storePath has no _built_from.json fingerprint — " +
        "rebuild it with writeIvfPq (an unfingerprinted index cannot " +
        "prove it matches any corpus)")
    val meta = new String(java.nio.file.Files.readAllBytes(metaPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val fp = """"fingerprint"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(meta).map(_.group(1))
    val absorbed = """"absorbed"\s*:\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(meta).map(_.group(1)).toSeq
      .flatMap(body => """"([^"]+)"""".r.findAllMatchIn(body).map(_.group(1)))
    (fp, absorbed)
  }

  /** The half-applied-maintenance tombstone: written BEFORE a
    * maintenance op touches `codes/`, cleared only after the meta
    * rewrite lands. While it exists the store is un-loadable and
    * un-maintainable — a crash between the codes write and the meta
    * write can therefore never be served (old fingerprint validating
    * new codes) or retried into duplicate rows; the recovery path is a
    * rebuild. */
  private def pendingPath(storePath: String) =
    java.nio.file.Paths.get(storePath, "_maintenance_pending.json")

  private def requireNotPending(storePath: String, verb: String): Unit =
    require(!java.nio.file.Files.exists(pendingPath(storePath)),
      s"IVF-PQ store at $storePath has a half-applied maintenance op " +
        s"(_maintenance_pending.json exists) — cannot $verb; the codes " +
        "may not match the recorded fingerprint: rebuild with writeIvfPq")

  /** INCREMENTAL index maintenance — the lifecycle step between full
    * rebuilds ([[writeIvfPq]]) that a production index performs when a
    * delta of new vectors lands: the delta is encoded with the store's
    * FROZEN codebooks (centroids are NOT retrained — exactly FAISS
    * `add()` on a trained IVFADC index; [[embedCentroidDrift]] is the
    * audit that decides when drift warrants a rebuild), the code rows
    * append to `codes/`, and the `_built_from` fingerprint advances to
    * the grown snapshot so [[loadIvfPq]] accepts the store against
    * today's corpus. Scale shape: the append touches ONLY the delta
    * (delta × broadcast codebook), never the existing corpus or codes —
    * appending 1% of a billion-vector index costs 1% of a rebuild.
    * Cell membership keeps the family's label-cell convention (the
    * label doubles as the coarse cell, as in [[annIvfAdc]]); a k-means
    * coarse quantizer would route by nearest frozen centroid instead —
    * same plan shape, the routing expression is the only difference.
    *
    * SAFETY (the at-least-once contract of any maintenance driver):
    * `deltaId` names the delta; a store that already absorbed it
    * refuses the duplicate (an accidental double call or a retry after
    * a post-meta crash would otherwise append the code rows twice and
    * silently corrupt every ADC sum), and the pending marker
    * ([[requireNotPending]]) makes a mid-append crash un-servable and
    * un-retriable instead of half-applied. */
  def appendIvfPq(s: SparkSession, storePath: String, delta: DataFrame,
                  snapshotDir: String, newFp: String, deltaId: String): Unit = {
    val (_, absorbed) = readIvfPqMeta(storePath)
    requireNotPending(storePath, s"append delta '$deltaId'")
    require(!absorbed.contains(deltaId),
      s"IVF-PQ store at $storePath already absorbed delta '$deltaId' — " +
        "a duplicate append would double its code rows; nothing to do " +
        "(or name the new delta distinctly)")
    java.nio.file.Files.write(pendingPath(storePath),
      s"""{"op":"append","id":"$deltaId"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cents = s.read.parquet(new java.io.File(storePath, "centroids").toString)
    pqCodesOf(delta, broadcast(cents)).write.mode("append")
      .parquet(new java.io.File(storePath, "codes").toString)
    writeIvfPqMeta(storePath, snapshotDir, newFp, absorbed :+ deltaId)
    java.nio.file.Files.delete(pendingPath(storePath))
  }

  /** The at-least-once driver step of a STREAMING maintenance consumer:
    * absorb `delta` under `opId` unless the store's journal already
    * has it, in which case the redelivery is a silent no-op (returns
    * false). This is [[appendIvfPq]]'s refusal contract turned into the
    * idempotent form a `foreachBatch` consumer needs — a micro-batch
    * redelivered after a driver restart (or a whole replayed stream)
    * re-offers every delta under its original id and the journal
    * absorbs the duplicates instead of throwing, while a genuinely new
    * delta still appends exactly once. */
  def absorbIvfPqAppend(s: SparkSession, storePath: String, delta: DataFrame,
                        snapshotDir: String, newFp: String,
                        opId: String): Boolean = {
    val (_, absorbed) = readIvfPqMeta(storePath)
    if (absorbed.contains(opId)) false
    else {
      appendIvfPq(s, storePath, delta, snapshotDir, newFp, opId)
      true
    }
  }

  /** DELETE propagation into the serving index — the CDC-native
    * lifecycle step [[appendIvfPq]]'s mirror: when source rows are
    * deleted (a takedown, a license revocation, a CDC tombstone), their
    * code rows leave `codes/` so they can never again be served as
    * candidates. The codebook stays FROZEN (FAISS `remove_ids`
    * semantics — a delete never retrains; [[embedCentroidDrift]]
    * decides when accumulated churn warrants a rebuild), so the
    * surviving rows' codes are untouched and a delete-then-append
    * sequence composes in either order. Scale shape: the delete set
    * broadcasts into one anti-join over the code store (4 small ints
    * per corpus row — the cheapest full-store pass there is); the
    * surviving rows are materialized BEFORE the overwrite so the
    * rewrite never reads the directory it is replacing. Same
    * `deltaId`/pending-marker safety contract as append. */
  def deleteIvfPq(s: SparkSession, storePath: String, deleteIds: DataFrame,
                  snapshotDir: String, newFp: String, deleteId: String): Unit = {
    val (_, absorbed) = readIvfPqMeta(storePath)
    requireNotPending(storePath, s"apply delete '$deleteId'")
    require(!absorbed.contains(deleteId),
      s"IVF-PQ store at $storePath already applied delete '$deleteId' — " +
        "refusing the duplicate")
    java.nio.file.Files.write(pendingPath(storePath),
      s"""{"op":"delete","id":"$deleteId"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val codesDir = new java.io.File(storePath, "codes").toString
    val kept = s.read.parquet(codesDir)
      .join(broadcast(deleteIds.select(col("vec_id"))), Seq("vec_id"), "left_anti")
      .localCheckpoint(true) // materialize before overwriting the source dir
    kept.write.mode("overwrite").parquet(codesDir)
    writeIvfPqMeta(storePath, snapshotDir, newFp, absorbed :+ deleteId)
    java.nio.file.Files.delete(pendingPath(storePath))
  }

  /** UPSERT — the CDC update applied to the serving index as ONE
    * journaled maintenance op ([[deleteIvfPq]] + [[appendIvfPq]] fused,
    * the change-batch form a CDC consumer actually applies): the
    * delta's vec_ids leave `codes/` and re-enter RE-ENCODED under the
    * FROZEN codebook — replace, never duplicate (a naive
    * append-without-delete would leave both generations of code rows
    * and double every updated vector's ADC sum). One pending window,
    * one codes rewrite (survivors ∪ re-encoded delta, materialized
    * before the overwrite), one journal entry — so a crash anywhere
    * inside is one un-servable marker, not a half-replaced store.
    * Scale shape: broadcast anti-join over the 4-int code stream plus
    * delta × broadcast codebook — cost is one code-store pass plus the
    * delta encode, independent of corpus width. */
  def upsertIvfPq(s: SparkSession, storePath: String, delta: DataFrame,
                  snapshotDir: String, newFp: String, upsertId: String): Unit = {
    val (_, absorbed) = readIvfPqMeta(storePath)
    requireNotPending(storePath, s"apply upsert '$upsertId'")
    require(!absorbed.contains(upsertId),
      s"IVF-PQ store at $storePath already applied upsert '$upsertId' — " +
        "refusing the duplicate")
    java.nio.file.Files.write(pendingPath(storePath),
      s"""{"op":"upsert","id":"$upsertId"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cents = s.read.parquet(new java.io.File(storePath, "centroids").toString)
    val codesDir = new java.io.File(storePath, "codes").toString
    val next = s.read.parquet(codesDir)
      .join(broadcast(delta.select(col("vec_id"))), Seq("vec_id"), "left_anti")
      .unionByName(pqCodesOf(delta, broadcast(cents)))
      .localCheckpoint(true) // materialize before overwriting the source dir
    next.write.mode("overwrite").parquet(codesDir)
    writeIvfPqMeta(storePath, snapshotDir, newFp, absorbed :+ upsertId)
    java.nio.file.Files.delete(pendingPath(storePath))
  }

  /** Load a persisted IVF-PQ index as (centroids, codes), failing FAST
    * unless its `_built_from` fingerprint still matches `snapshotDir`'s
    * embeddings table AND no maintenance op is half-applied
    * ([[requireNotPending]]). See [[writeIvfPq]]. */
  def loadIvfPq(s: SparkSession, storePath: String,
                snapshotDir: String): (DataFrame, DataFrame) = {
    val (stored, _) = readIvfPqMeta(storePath)
    requireNotPending(storePath, "serve")
    val now = embFingerprint(snapshotDir)
    require(stored.contains(now),
      s"stale IVF-PQ store: $storePath was built from embeddings " +
        s"fingerprint ${stored.getOrElse("<unreadable>")} but $snapshotDir " +
        s"now fingerprints $now — rebuild the index before serving")
    (s.read.parquet(new java.io.File(storePath, "centroids").toString),
     s.read.parquet(new java.io.File(storePath, "codes").toString))
  }

  /** The shared probe tail of every store-backed graded serve: load
    * through [[loadIvfPq]]'s staleness/pending gates, probe with the
    * graded query slice. The raw-vector corpus is read ONLY for the
    * ≤[[NQueries]] query rows; candidates come from the loaded code
    * store — the production read path of a billion-vector index. */
  private[graft] def serveIvfPqStore(s: SparkSession, storePath: String,
                                     d: String): DataFrame = {
    val (cents, codes) = loadIvfPq(s, storePath, d)
    val q = vecs(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
      .localCheckpoint(true)
    ivfAdcServe(q, broadcast(cents), codes)
  }

  /** IVF-PQ served FROM THE PERSISTED ARTIFACT, graded: the index is
    * written once per corpus ([[writeIvfPq]]), re-read through
    * [[loadIvfPq]]'s fingerprint gate, and must answer EXACTLY like the
    * inline-built index — same twin as `ann_ivfadc`, so the hash proves
    * the persist→load round trip loses nothing. The serving plan reads
    * the corpus only as the loaded code store plus one embeddings scan
    * for the query slice; the raw-vector corpus is never rescanned —
    * the production read path of a billion-vector index. */
  def annIvfAdcLoaded(s: SparkSession, d: String): DataFrame =
    serveIvfPqStore(s, ivfPqStorePath(s, d), d)

  /** The JVM-cached persisted-artifact path for `d`'s corpus (building
    * it on first demand) — shared by [[annIvfAdcLoaded]] and the live
    * MaxSim serving grade, which cuts its ADC pools from the SAME store
    * a batch deployment serves. */
  private[graft] def ivfPqStorePath(s: SparkSession, d: String): String =
    graft.Artifacts.jvm("ivfpq.store", d, "embeddings.parquet") {
      val tmp = graft.Artifacts.tempDir("graft_ivfpq_").toString
      writeIvfPq(s, d, tmp)
      tmp
    }

  /** The delta slice an incremental refresh absorbs: every 10th vector
    * (vec_id ≡ 7 mod 10) — disjoint from the query slice so the graded
    * serve exercises both base- and delta-resident candidates. */
  private def isAppendDelta(c: Column): Column = c % 10 === 7

  /** IVF-PQ serving AFTER AN INCREMENTAL APPEND, graded — the steady
    * state of a production index between rebuilds: the store is built
    * from the BASE slice (yesterday's snapshot: vec_id ≢ 7 mod 10), the
    * remaining tenth arrives as a delta absorbed by [[appendIvfPq]]
    * with the codebooks FROZEN, and the fingerprint advances so
    * [[loadIvfPq]]'s staleness gate passes against the full corpus. The
    * twin recomputes the whole thing from scratch — centroids over the
    * base slice only, codes over everything — so the hash proves the
    * append path encodes the delta EXACTLY as a rebuild-with-frozen-
    * codebooks would: no drift, no loss, no re-touching of base codes. */
  def annIvfAdcAppend(s: SparkSession, d: String): DataFrame = {
    val store = graft.Artifacts.jvm("ivfpq.append", d, "embeddings.parquet") {
      val fp = embFingerprint(d)
      val tmp = graft.Artifacts.tempDir("graft_ivfpq_app_").toString
      val all = vecs(s, d)
      writeIvfPqFrom(all.filter(!isAppendDelta(col("vec_id"))), tmp,
        d, "base:" + fp)
      appendIvfPq(s, tmp, all.filter(isAppendDelta(col("vec_id"))),
        d, fp, deltaId = "delta7:" + fp)
      tmp
    }
    serveIvfPqStore(s, store, d)
  }

  /** The slice a CDC delete removes: vec_id ≡ 3 mod 10 — disjoint from
    * the append delta (≡ 7 mod 10), so delete-then-append composes
    * cleanly in specs. It is NOT disjoint from the query slice
    * (vec_id < 5 at the graded NQueries): vec_id 3 sits in both, so in
    * the delete grade qid 3 queries an index it was removed from, and
    * in the upsert grade qid 3 queries with its PRE-update vector
    * against its own re-encoded (reversed) codes — engine and twin
    * apply the identical slice rules, so the grades hold either way. */
  private def isDeleteSlice(c: Column): Column = c % 10 === 3

  /** IVF-PQ serving AFTER A DELETE, graded — the CDC-native engine's
    * take-down path: the store is built from the FULL corpus, a tenth
    * of it (vec_id ≡ 3 mod 10) is then deleted through [[deleteIvfPq]]
    * (codebook frozen, code rows anti-joined out, journal advanced),
    * and the serve must answer EXACTLY like an index that never
    * contained the deleted rows: the twin is the shared ADC chain with
    * the deleted vec_ids excluded from the candidate codes — i.e. the
    * rebuild-without-slice under the same frozen (full-corpus)
    * codebook. A deleted vector surviving anywhere in `codes/` would
    * surface as a candidate and break the hash. */
  def annIvfAdcDelete(s: SparkSession, d: String): DataFrame = {
    val store = graft.Artifacts.jvm("ivfpq.delete", d, "embeddings.parquet") {
      val fp = embFingerprint(d)
      val tmp = graft.Artifacts.tempDir("graft_ivfpq_del_").toString
      writeIvfPq(s, d, tmp)
      deleteIvfPq(s, tmp,
        vecs(s, d).filter(isDeleteSlice(col("vec_id"))).select(col("vec_id")),
        d, fp, deleteId = "takedown3:" + fp)
      tmp
    }
    serveIvfPqStore(s, store, d)
  }

  /** IVF-PQ serving AFTER AN UPSERT, graded — the CDC update path: the
    * store is built from the full corpus, then the delete-slice tenth
    * (vec_id ≡ 3 mod 10) arrives UPDATED — its vectors REVERSED, a
    * deterministic modification both engines can replay — and
    * [[upsertIvfPq]] replaces those rows' codes under the frozen
    * codebook. The serve must answer exactly like an index whose
    * corpus always contained the modified vectors (codebook still
    * trained on the ORIGINAL corpus — frozen through maintenance): the
    * twin re-derives codes over the modified corpus with centroids
    * over the original. An upsert that appended without deleting (or
    * deleted without re-encoding) leaves a different candidate set or
    * doubled ADC sums — either breaks the hash. */
  def annIvfAdcUpsert(s: SparkSession, d: String): DataFrame = {
    val store = graft.Artifacts.jvm("ivfpq.upsert", d, "embeddings.parquet") {
      val fp = embFingerprint(d)
      val tmp = graft.Artifacts.tempDir("graft_ivfpq_ups_").toString
      writeIvfPq(s, d, tmp)
      val updated = vecs(s, d).filter(isDeleteSlice(col("vec_id")))
        .withColumn("v", reverse(col("v")))
      upsertIvfPq(s, tmp, updated, d, fp, upsertId = "update3:" + fp)
      tmp
    }
    serveIvfPqStore(s, store, d)
  }

  /** Recall@3 of the composed IVF-PQ index ([[annIvfAdc]]) against the
    * EXACT squared-L2 top-3 — the ship/no-ship audit of the production
    * index shape, completing the recall family ([[annRecall]] audits
    * the LSH path, [[ivfRecallSweep]] the IVF router alone; this prices
    * the cell restriction AND the PQ quantization TOGETHER against the
    * true metric ADC approximates). Scale shape: the approximate side
    * is the graded [[annIvfAdc]] lineage; the exact side is one
    * broadcast-query corpus pass ranked by raw-double L2 with the
    * vec_id tie-break (the [[cosTopk]] FP-parity discipline); the
    * recall reduction is exact integer hit counts and one rounded
    * division. */
  def ivfadcRecall(s: SparkSession, d: String): DataFrame = {
    val approx = annIvfAdc(s, d)
      .select(col("qid").as("aqid"), col("vec_id").as("avid"))
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("n2"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("d2",
        col("qn2") - lit(2d) * dot(col("qv"), col("v")) + col("n2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("vec_id"))
    exact.join(approx,
        col("qid") === col("aqid") && col("vec_id") === col("avid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"), count(col("avid")).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
      .orderBy(col("qid"))
  }

  /** The OTHER side of the filtered-ANN plan flip: brute-force exact
    * top-3 over the posting-list survivors — the plan a VERY selective
    * filter favors (when the allowed set is small enough, scanning it
    * exactly beats probing widened cells whose members mostly fail the
    * filter; [[annIvfAdcFiltered]] grades the indexed regime, this row
    * grades the exact one, and [[annFilteredRecall]] is the audit that
    * tells a deployment where its filter sits). Distances are the same
    * squared L2 the ADC path approximates. Scale shape: the query slice
    * broadcasts, the semi-joined corpus slice streams once map-side,
    * top-3 via the per-query partitioned window — per-query linear in
    * the SURVIVOR count, not the corpus. */
  def annFilteredExact(s: SparkSession, d: String): DataFrame =
    filteredExactServe(s, d, enDocs(s, d))

  /** The EXACT filtered serve over an arbitrary posting list — shared
    * verbatim by the fixed graded row ([[annFilteredExact]]) and the
    * adaptive selector ([[annFilteredAuto]]). */
  private def filteredExactServe(s: SparkSession, d: String,
                                 allowed: DataFrame): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("n2"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
    e.join(broadcast(allowed), Seq("vec_id"), "left_semi")
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("d2",
        col("qn2") - lit(2d) * dot(col("qv"), col("v")) + col("n2"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id"), col("rank"), round(col("d2"), 6).as("d2"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The PLAN FLIP between [[annIvfAdcFiltered]] and
    * [[annFilteredExact]], made executable: exact wins once the
    * posting list is no larger than the indexed serve's expected probed
    * candidate count `nprobe·N/|cells|` (the widened fan-out times the
    * mean cell occupancy — below that, scanning the survivors exactly
    * touches fewer rows than probing cells whose members mostly fail
    * the filter, and buys recall 1.0 for free). Compared
    * cross-multiplied in integers (`|allowed|·|cells| ≤ nprobe·N`) so
    * the graded twin replays the identical decision arithmetic and the
    * choice can never drift between engines on regenerated data. */
  // (N, |cells|) are corpus constants, memoized so the selector's
  // per-call cost is ONE count over the posting list
  private[graft] def annFilteredChoiceIsExact(s: SparkSession, d: String,
                                              allowed: DataFrame): Boolean = {
    val (n, cells) = graft.Artifacts.jvm("ivf.corpusStats", d, "embeddings.parquet") {
      val st = vecs(s, d)
        .agg(count(lit(1)).as("n"), countDistinct(col("label")).as("cells")).head
      (st.getLong(0), st.getLong(1))
    }
    allowed.count() * cells <= 4L * n
  }

  /** SELECTIVITY-ADAPTIVE filtered ANN, graded: the selector a serving
    * deployment actually runs — count the posting list, pick the plan
    * ([[annFilteredChoiceIsExact]]), serve through the winner's shared
    * lineage. Output normalizes the ranking score to one column name
    * (`score` = ADC estimate on the indexed path, exact squared L2 on
    * the exact path — the rank is the contract, the score names the
    * plan's own metric). The twin computes the SAME integer decision in
    * SQL and unions the two branch twins behind it, so the graded hash
    * proves engine and oracle flip at the same cardinality. */
  def annFilteredAuto(s: SparkSession, d: String): DataFrame = {
    val allowed = enDocs(s, d).localCheckpoint(true)
    if (annFilteredChoiceIsExact(s, d, allowed))
      filteredExactServe(s, d, allowed).withColumnRenamed("d2", "score")
    else filteredIndexedServe(s, d, allowed).withColumnRenamed("adc", "score")
  }

  /** Recall@3 of the FILTERED ANN path ([[annIvfAdcFiltered]]) against
    * the exact ground truth over the SAME allowed subset — prices the
    * nprobe-widening claim: the metadata filter thins every probed
    * cell, so the honest question is how much of the exact filtered
    * top-3 the widened (nprobe 4) index serve still returns. Ground
    * truth is exact squared-L2 restricted to the posting list (self
    * excluded); grading shape shared with [[ivfadcRecall]]. */
  def annFilteredRecall(s: SparkSession, d: String): DataFrame = {
    val approx = annIvfAdcFiltered(s, d)
      .select(col("qid").as("aqid"), col("vec_id").as("avid"))
    val allowed = graft.Tables.documents(s, d)
      .filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("n2"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
    val exact = e.join(broadcast(allowed), Seq("vec_id"), "left_semi")
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("d2",
        col("qn2") - lit(2d) * dot(col("qv"), col("v")) + col("n2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("vec_id"))
    exact.join(approx,
        col("qid") === col("aqid") && col("vec_id") === col("avid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"), count(col("avid")).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
      .orderBy(col("qid"))
  }

  /** The [[ivfadcRecallSweep]] code-budget grid: (subspaces, dims each).
    * 4×16 stores 4 small ints per vector; 8×8 doubles the code budget
    * (finer quantization, 2× the stored bytes). */
  private val SweepBudgets = Seq((4, 16), (8, 8))

  /** Price the COMPOSED IVF-PQ index ([[annIvfAdc]]'s shape): recall@3
    * against the exact squared-L2 top-3 over the full
    * nprobe ∈ {1,2,4} × PQ code budget (4×16 vs 8×8 subspaces) grid —
    * the accuracy/scan/storage trade a deployment actually tunes
    * ([[ivfRecallSweep]] prices the router alone; this prices routing
    * AND quantization together, per operating point). More probed cells
    * monotonically widen the candidate set; a bigger code budget
    * refines the distance the top-3 cut uses.
    *
    * Scale shape: ONE checkpointed embeddings scan serves every
    * consumer (codebook build, query slice, code stream, exact ground
    * truth — the r9 `ivf_recall_sweep` discipline, scan budget 1 vs
    * `ivfadc_recall`'s 3); ONE ranked query→cell frame (crk ≤ max
    * nprobe) serves every nprobe via a 3-row broadcast; ONE code pass
    * computes BOTH budgets' assignments (the per-budget sub-distances
    * are one exploded map-side expression, not a second corpus pass).
    * ADC sums are exact BIGINTs, recall is integer hit counts with one
    * rounded division — cross-engine deterministic. */
  def ivfadcRecallSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d).select(col("vec_id"), col("label"), col("v"), col("n2"))
      .localCheckpoint()
    val cents = centroids(e).localCheckpoint(true)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
      .localCheckpoint(true)
    // every budget's sub-distances in one exploded expression
    def subDistCols(vcol: Column): Column = array(SweepBudgets.flatMap {
      case (subs, dim) =>
        pqSubDists(vcol, subs, dim).zipWithIndex.map { case (d2, j) =>
          struct(lit(subs).as("subs"), lit(j).as("j"), d2.as("d2"))
        }
    }: _*)
    // one ranked query→cell frame serves every nprobe
    val wCells = Window.partitionBy(col("qid")).orderBy(col("cellcos").desc, col("cell"))
    val routing = q.crossJoin(broadcast(cents))
      .withColumn("cellcos",
        dot(col("qv"), col("cv")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("crk", row_number().over(wCells))
      .filter(col("crk") <= 4)
      .join(broadcast(Seq(1L, 2L, 4L).toDF("nprobe")), col("crk") <= col("nprobe"))
      .select(col("nprobe"), col("qid"), col("cell"))
    // one code pass, both budgets
    val wCode = Window.partitionBy(col("vec_id"), col("subs"), col("j"))
      .orderBy(col("d2"), col("cell"))
    val codes = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("cell"),
        explode(subDistCols(col("v"))).as("sd"))
      .select(col("vec_id"), col("label"), col("cell"),
        col("sd.subs").as("subs"), col("sd.j").as("j"), col("sd.d2").as("d2"))
      .withColumn("rk", row_number().over(wCode))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("subs"), col("j"),
        col("cell").as("code"))
    val lut = q.crossJoin(broadcast(cents))
      .select(col("qid"), col("cell"), explode(subDistCols(col("qv"))).as("sd"))
      .select(col("qid"), col("sd.subs").as("subs"), col("sd.j").as("j"),
        col("cell").as("code"), floor(col("sd.d2") * 1e6d).cast("long").as("d2q"))
    val wRank = Window.partitionBy(col("nprobe"), col("subs"), col("qid"))
      .orderBy(col("adc_q"), col("vec_id"))
    val approx = codes
      .join(broadcast(routing), col("label") === col("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "subs", "j", "code"))
      .groupBy(col("nprobe"), col("subs"), col("qid"), col("vec_id"))
      .agg(sum(col("d2q")).as("adc_q"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select(col("nprobe").as("anp"), col("subs").cast("long").as("asubs"),
        col("qid").as("aqid"), col("vec_id").as("avid"))
    // exact ground truth: TRUE squared L2, from the same checkpoint
    val wx = Window.partitionBy(col("qid")).orderBy(col("d2x"), col("vec_id"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("d2x",
        col("qn2") - lit(2d) * dot(col("qv"), col("v")) + col("n2"))
      .withColumn("rk", row_number().over(wx))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("vec_id"))
    val grid = SweepBudgets.map(_._1.toLong).toDF("pq_subs")
      .crossJoin(Seq(1L, 2L, 4L).toDF("nprobe"))
    exact.crossJoin(broadcast(grid))
      .join(approx,
        col("nprobe") === col("anp") && col("pq_subs") === col("asubs") &&
          col("qid") === col("aqid") && col("vec_id") === col("avid"), "left")
      .groupBy(col("pq_subs"), col("nprobe"))
      .agg(count(lit(1)).as("n_exact"), count(col("avid")).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
      .orderBy(col("pq_subs"), col("nprobe"))
  }

  /** Matryoshka (MRL) prefix dimensions retained in [[embedMatryoshka]]:
    * the first quarter of the 64-dim vector. */
  private val MrlDim = 16

  /** Matryoshka truncation audit — the "can we serve the 4×-cheaper
    * prefix index" decision (Kusupati et al. 2022: MRL-trained
    * embeddings keep their head dimensions meaningful, so a prefix
    * slice is a legitimate cheap index): recall@3 of cosine top-3 under
    * the first-[[MrlDim]]-dims metric against the full-64-dim exact
    * top-3, per query. At 100 TB the prefix index is a quarter of the
    * scan bytes and memory; this query prices the recall it costs —
    * the same ship/no-ship audit as [[annRecall]], for dimension
    * truncation instead of hashing.
    *
    * Scale shape: broadcast 5-row query slice, ONE corpus pass scores
    * both metrics per candidate (the prefix slice is a map-side
    * expression, not a second table), one shuffle on the query key
    * serves both rank windows. Selection uses raw doubles with the
    * vec_id tie-break (the [[cosTopk]] FP-parity discipline); counts
    * are exact integers, one rounded division at the end. */
  def embedMatryoshka(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("n2"))
      .withColumn("vp", slice(col("v"), 1, MrlDim))
      .withColumn("pn2", dot(col("vp"), col("vp")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
              col("vp").as("qvp"), col("pn2").as("qpn2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos_full",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("cos_pre",
        dot(col("qvp"), col("vp")) / (sqrt(col("qpn2")) * sqrt(col("pn2"))))
      .select(col("qid"), col("vec_id"), col("cos_full"), col("cos_pre"))
    val wF = Window.partitionBy(col("qid")).orderBy(col("cos_full").desc, col("vec_id"))
    val wP = Window.partitionBy(col("qid")).orderBy(col("cos_pre").desc, col("vec_id"))
    scored
      .withColumn("rf", row_number().over(wF))
      .withColumn("rp", row_number().over(wP))
      .groupBy(col("qid"))
      .agg(sum(when(col("rf") <= 3 && col("rp") <= 3, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("recall", round(col("n_hit").cast("double") / 3d, 4))
      .orderBy(col("qid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivfadc"  -> (annIvfAdc _),
    "ann_ivfadc_filtered" -> (annIvfAdcFiltered _),
    "ann_filtered_recall" -> (annFilteredRecall _),
    "ann_filtered_exact"  -> (annFilteredExact _),
    "ann_filtered_auto"   -> (annFilteredAuto _),
    "ann_ivfadc_loaded" -> (annIvfAdcLoaded _),
    "ann_ivfadc_append" -> (annIvfAdcAppend _),
    "ann_ivfadc_delete" -> (annIvfAdcDelete _),
    "ann_ivfadc_upsert" -> (annIvfAdcUpsert _),
    "ivfadc_recall" -> (ivfadcRecall _),
    "ivfadc_recall_sweep" -> (ivfadcRecallSweep _),
    "semantic_dedup" -> (semanticDedup _),
    "embed_matryoshka" -> (embedMatryoshka _),
    "ann_adc"     -> (annAdc _),
    "ann_recall"  -> (annRecall _),
    "embed_pq"    -> (embedPq _),
    "ann_range"   -> (annRange _),
    "kmeans_step" -> (kmeansStep _),
    "cos_topk"    -> (cosTopk _),
    "ann_hamming" -> (annHamming _),
    "ann_hamming_rerank" -> (annHammingRerank _),
    "ann_hamming_recall" -> (annHammingRecall _),
    "emb_margin_mine" -> (embMarginMine _),
    "maxsim_topk" -> (maxsimTopk _),
    "maxsim_rerank" -> (maxsimRerank _),
    "maxsim_rerank_ivf" -> (maxsimRerankIvf _),
    "ann_buckets" -> (annBuckets _),
    "ann_topk"    -> (annTopk _),
    "ann_ivf"     -> (annIvf _),
    "hard_negatives" -> (hardNegatives _),
    "embed_centroid_drift" -> (embedCentroidDrift _),
    "pca_power_step" -> (pcaPowerStep _),
    "ivf_recall_sweep" -> (ivfRecallSweep _),
    "embed_quantize" -> (embedQuantize _),
    "embed_neardup" -> (nearDup _),
    "embed_outliers" -> (embedOutliers _),
    "label_purity" -> (labelPurity _),
    "embed_label_mix" -> (embedLabelMix _),
    "rrf_fusion" -> (rrfFusion _),
    "mmr_rerank" -> (mmrRerank _))

  private val RrfK = 60
  private val RrfDepth = 20
  private val RrfOut = 10

  /** HYBRID RETRIEVAL — Reciprocal Rank Fusion (Cormack et al., SIGIR
    * 2009), the standard dense+lexical combiner every production RAG
    * retriever runs: per query, fuse the DENSE ranking (exact cosine,
    * the [[cosTopk]] pipeline at depth 20) with a LEXICAL ranking
    * (query-by-example inverted-index overlap: candidates share a term
    * with the query document, scored by Σ integer idf surrogate
    * `N - df(term)` over the shared DISTINCT terms — exact integer
    * arithmetic, so the ranking is bit-deterministic cross-engine) into
    * `rrf = Σ_legs 1/(60 + rank_leg)`, missing legs contributing 0.
    * The rrf double is a sum of two IEEE divisions computed in the same
    * order on both engines; ties break on doc_id.
    *
    * Scale shape: the lexical leg is the inverted-index probe — the big
    * term frame joins a BROADCAST query-term list (queries are few),
    * then one hash aggregation on (qid, doc_id); the dense leg
    * broadcasts the query vectors over one corpus scan (cos_topk's
    * audited shape); the fusion full-outer-joins two ≤ depth·|q| row
    * frames. Nothing all-pairs, no per-candidate rescans. The term
    * frame is localCheckpointed: one documents scan feeds the df table,
    * the query terms AND the candidate side. */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("n2"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val dw = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("doc_id"))
    val dense = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("qid"), col("vec_id").as("doc_id"), col("cos_raw"))
      .withColumn("dense_rank", row_number().over(dw).cast("long"))
      .filter(col("dense_rank") <= RrfDepth)
      .select(col("qid"), col("doc_id"), col("dense_rank"))
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      .localCheckpoint()
    val dfreq = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ntot = Tables.documents(s, d).agg(count(lit(1)).as("n_total"))
    val qterms = terms.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("qid"), col("term"))
    val lw = Window.partitionBy(col("qid")).orderBy(col("lex_score").desc, col("doc_id"))
    val lex = terms.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(ntot))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("n_total") - col("df")).as("lex_score"))
      .withColumn("lex_rank", row_number().over(lw).cast("long"))
      .filter(col("lex_rank") <= RrfDepth)
      .select(col("qid"), col("doc_id"), col("lex_rank"))
    val rw = Window.partitionBy(col("qid")).orderBy(col("rrf_raw").desc, col("doc_id"))
    dense.join(lex, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_raw",
        coalesce(lit(1d) / (lit(RrfK) + col("dense_rank")), lit(0d)) +
        coalesce(lit(1d) / (lit(RrfK) + col("lex_rank")), lit(0d)))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= RrfOut)
      .select(col("qid"), col("doc_id"), col("rank"),
              round(col("rrf_raw"), 9).as("rrf"),
              col("dense_rank"), col("lex_rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** MMR selection depth and the λ=0.7 relevance/diversity trade,
    * carried as INTEGERS (7/10 and 3/10 against 10⁶-quantized cosines)
    * so every MMR score is an exact BIGINT. */
  private[graft] val MmrK = 5

  /** MMR RE-RANK — the stage after hybrid retrieval in a production RAG
    * pipeline (Carbonell & Goldstein, SIGIR 1998): [[rrfFusion]]'s
    * fused candidates are re-scored by EXACT cosine relevance and
    * greedily selected under a Maximal-Marginal-Relevance diversity
    * term — step 1 takes the most relevant candidate, each later step
    * takes `argmax [λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)]`, so
    * near-duplicates of already-selected passages are pushed down and
    * the k passages handed to the generator COVER the query instead of
    * repeating one answer.
    *
    * Exact-arithmetic form (the hash discipline): relevance and
    * pairwise similarity quantize to `floor(10⁶·cos)` BIGINTs and λ
    * scales to integers (7·rel − 3·maxsim), so every greedy comparison
    * is integer with a doc_id tie-break — bit-deterministic
    * cross-engine; the twin replays the identical k-step selection as
    * chained CTEs.
    *
    * Scale shape: beyond the fused frame (checkpointed, ≤ |q|·10 rows)
    * the re-rank touches the corpus ONCE — candidate and query vectors
    * fetched in one broadcast-semi-join scan and materialized (tiny) —
    * and the k-step greedy itself is ONE grouped pass
    * (`flatMapGroups` per qid): the argmax chain is irreducibly
    * sequential (step i's scores depend on step i−1's pick), so
    * expressing it as k chained plan stages only buys k× the fixed
    * job/shuffle overhead (the previous form; measured ~1.5 s of pure
    * per-step scheduling at sf0.1), while per-group state here is
    * ≤ depth² integers — candidate count bounded by retrieval depth,
    * groups distribute across the cluster, no driver loop over data. */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    val fused = rrfFusion(s, d).select(col("qid"), col("doc_id"))
      .localCheckpoint(true)
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("n2"))
    // ONE corpus scan: candidate ∪ query ids, broadcast onto the scan
    val wanted = fused.select(col("doc_id"))
      .union(s.range(0, NQueries).select(col("id").as("doc_id"))).distinct()
    val vv = e.join(broadcast(wanted), col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("v"), col("n2"))
      .localCheckpoint(true)
    val qv = vv.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val cvv = fused.join(vv, col("vec_id") === col("doc_id"))
      .select(col("qid"), col("doc_id"), col("v"), col("n2"))
    // rel and sim quantize OUTSIDE the grouped pass, in the same
    // codegen'd dot-product expressions as every other cosine in this
    // file — the grouped greedy below consumes only their integer
    // results, so the two forms cannot drift numerically
    val rel = cvv.join(broadcast(qv), Seq("qid"))
      .withColumn("rel_q",
        floor(lit(1e6d) * dot(col("qv"), col("v"))
          / (sqrt(col("qn2")) * sqrt(col("n2")))).cast("long"))
      .select(col("qid"), col("doc_id"), col("rel_q"))
    val sim = cvv.select(col("qid"), col("doc_id").as("a"),
        col("v").as("av"), col("n2").as("an2"))
      .join(cvv.select(col("qid"), col("doc_id").as("b"),
        col("v").as("bv"), col("n2").as("bn2")), Seq("qid"))
      .filter(col("a") =!= col("b"))
      .withColumn("sim_q",
        floor(lit(1e6d) * dot(col("av"), col("bv"))
          / (sqrt(col("an2")) * sqrt(col("bn2")))).cast("long"))
      .groupBy(col("qid"), col("a").as("doc_id"))
      .agg(collect_list(struct(col("b"), col("sim_q"))).as("sims"))
    val perCand = rel.join(sim, Seq("qid", "doc_id"), "left")
    implicit val pickEnc: org.apache.spark.sql.Encoder[(Long, Long, Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
    val k = MmrK
    perCand
      .groupByKey(_.getLong(0))(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroups { (qid: Long, rows: Iterator[org.apache.spark.sql.Row]) =>
        // candidates with integer relevance and pairwise-similarity maps
        val cand = rows.map { r =>
          val sims = Option(r.getSeq[org.apache.spark.sql.Row](3))
            .getOrElse(Seq.empty)
            .map(x => x.getLong(0) -> x.getLong(1)).toMap
          (r.getLong(1), r.getLong(2), sims)
        }.toArray
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = Vector.newBuilder[(Long, Long, Long, Long)]
        var step = 1
        var more = true
        while (step <= k && more) {
          var bestId = Long.MinValue
          var bestScore = 0L
          var found = false
          cand.foreach { case (id, relQ, sims) =>
            if (!selected.contains(id)) {
              // step 1: pure relevance; later steps: λ-weighted MMR with
              // msim over the selected docs this candidate has a sim row
              // for — a candidate missing all of them is skipped, exactly
              // the chained-CTE twin's inner msim join
              val score: Option[Long] =
                if (selected.isEmpty) Some(7L * relQ)
                else {
                  val known = selected.flatMap(sims.get)
                  if (known.isEmpty) None else Some(7L * relQ - 3L * known.max)
                }
              score.foreach { sc =>
                if (!found || sc > bestScore || (sc == bestScore && id < bestId)) {
                  found = true; bestScore = sc; bestId = id
                }
              }
            }
          }
          if (!found) more = false
          else {
            selected += bestId
            out += ((qid, step.toLong, bestId, bestScore))
            step += 1
          }
        }
        out.result()
      }
      .toDF("qid", "rank", "doc_id", "mmr_q")
      .orderBy(col("qid"), col("rank"))
  }

  /** Cross-modal mix audit — the one query here that JOINS the text and
    * vector tables: documents with their embedding's cluster label (id
    * equi-join), reduced to per-(source, label) document counts and
    * token mass. The real-pipeline shape: "which embedding clusters
    * does each crawl slice feed, and with how many tokens" — the input
    * to cluster-balanced mix planning. One scan per table, one
    * hash-partitioned equi-join on the 8-byte id, integer output. */
  def embedLabelMix(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(Tables.embeddings(s, d)
              .select(col("vec_id"), col("label").cast("long").as("label")),
            col("doc_id") === col("vec_id"))
      .groupBy(col("source"), col("label"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("label"))

  // ---- DuckDB twins --------------------------------------------------

  private val VecCte =
    "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v, " +
      "list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2 FROM embeddings)"

  /** The sign-sketch pack as a CTE (twin of [[signPack]]'s two halves) —
    * shared by the `ann_hamming*` twins. */
  private val HamBitsCte =
    """bits AS (
      |  SELECT vec_id,
      |         CAST(sum(CASE WHEN embedding[i] > 0
      |              THEN (CAST(1 AS BIGINT) << (32 - i)) ELSE 0 END) AS BIGINT) AS h1,
      |         CAST(sum(CASE WHEN embedding[i + 32] > 0
      |              THEN (CAST(1 AS BIGINT) << (32 - i)) ELSE 0 END) AS BIGINT) AS h2
      |  FROM embeddings, generate_series(1, 32) AS g(i)
      |  GROUP BY vec_id)""".stripMargin

  private def planeSql(p: Seq[Double]): String = p.mkString("[", ", ", "]")

  private val SigCte = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, ${planeSql(p)}) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"sig AS (SELECT vec_id, label, v, n2, $bits AS bucket FROM e)"
  }

  /** DuckDB twin of [[centroids]] (quantized-integer means — the same
    * exact arithmetic, so the lists are bit-identical), over a caller-
    * chosen source relation: `e` for the whole corpus, a base-slice CTE
    * for the frozen-codebook append twin. */
  private def centsCteOver(rel: String): String =
    s"""cq AS (
      |  SELECT label, px.pos AS pos, CAST(floor(px.x * 1000) AS BIGINT) AS xq
      |  FROM (SELECT label,
      |               unnest(list_transform(v, (x, i) -> struct_pack(pos := i, x := x))) AS px
      |        FROM $rel)),
      |cm AS (
      |  SELECT label, pos,
      |         CAST(sum(xq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000.0 AS m
      |  FROM cq GROUP BY 1, 2),
      |cents AS (
      |  SELECT cell, cv, list_dot_product(cv, cv) AS cn2 FROM (
      |    SELECT label AS cell, list(m ORDER BY pos) AS cv FROM cm GROUP BY label))""".stripMargin

  private val CentsCte = centsCteOver("e")

  /** Shared CTE chain of the rrf_fusion twin, ending in the `fused`
    * candidate frame — reused verbatim by the mmr_rerank twin so the
    * re-rank provably runs over the identical fused candidates. */
  private val RrfCtes =
    s"""$VecCte,
       |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < $NQueries),
       |dense AS (
       |  SELECT qid, vec_id AS doc_id,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS BIGINT) AS dense_rank
       |  FROM (SELECT qid, vec_id, list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos_raw
       |        FROM q JOIN e ON vec_id != qid)
       |  QUALIFY dense_rank <= $RrfDepth),
       |terms AS (SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS term FROM documents),
       |dfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
       |ntot AS (SELECT count(*) AS n_total FROM documents),
       |lexs AS (
       |  SELECT qt.doc_id AS qid, t.doc_id AS doc_id, sum(n_total - df) AS lex_score
       |  FROM terms qt
       |  JOIN terms t ON t.term = qt.term AND t.doc_id != qt.doc_id
       |  JOIN dfreq ON dfreq.term = qt.term
       |  CROSS JOIN ntot
       |  WHERE qt.doc_id < $NQueries GROUP BY 1, 2),
       |lex AS (
       |  SELECT qid, doc_id,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY lex_score DESC, doc_id) AS BIGINT) AS lex_rank
       |  FROM lexs QUALIFY lex_rank <= $RrfDepth),
       |fused AS (
       |  SELECT qid, doc_id, rank, rrf, dense_rank, lex_rank FROM (
       |    SELECT qid, doc_id,
       |           CAST(row_number() OVER (PARTITION BY qid ORDER BY
       |             (COALESCE(CAST(1 AS DOUBLE) / ($RrfK + dense_rank), 0) +
       |              COALESCE(CAST(1 AS DOUBLE) / ($RrfK + lex_rank), 0)) DESC, doc_id) AS BIGINT) AS rank,
       |           round(COALESCE(CAST(1 AS DOUBLE) / ($RrfK + dense_rank), 0) +
       |                 COALESCE(CAST(1 AS DOUBLE) / ($RrfK + lex_rank), 0), 9) AS rrf,
       |           dense_rank, lex_rank
       |    FROM dense FULL JOIN lex USING (qid, doc_id))
       |  WHERE rank <= $RrfOut)""".stripMargin

  /** Shared CTE prefix of the ann_ivfadc / ivfadc_recall twins: query
    * slice, routing table (2 nearest cells), PQ code assignment (with
    * cell-membership label), and the per-query integer LUT. */
  /** The serve chain downstream of the codebook (query slice, routing,
    * code assignment over the WHOLE corpus, LUT) — shared by the inline
    * twins (cents over `e`) and the append twin (cents over the base
    * slice `eb`): codes always cover everything, only the training set
    * of the codebook differs. */
  private def ivfAdcTailN(nprobe: Int, codesRel: String = "e") =
    s"""sp AS (SELECT j FROM (VALUES (0), (1), (2), (3)) s(j)),
       |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < $NQueries),
       |probed AS (
       |  SELECT qid, cell FROM (
       |    SELECT qid, cell,
       |           row_number() OVER (PARTITION BY qid ORDER BY cellcos DESC, cell) AS crk
       |    FROM (SELECT qid, cell,
       |                 list_dot_product(qv, cv) / (sqrt(qn2) * sqrt(cn2)) AS cellcos
       |          FROM q CROSS JOIN cents))
       |  WHERE crk <= $nprobe),
       |codes AS (
       |  SELECT vec_id, label, j, cell AS code FROM (
       |    SELECT vec_id, label, j, cell,
       |           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cell) AS rk
       |    FROM (SELECT vec_id, label, cell, j,
       |                 list_dot_product(v[j*$PqDim+1:j*$PqDim+$PqDim], v[j*$PqDim+1:j*$PqDim+$PqDim])
       |                 - 2 * list_dot_product(v[j*$PqDim+1:j*$PqDim+$PqDim], cv[j*$PqDim+1:j*$PqDim+$PqDim])
       |                 + list_dot_product(cv[j*$PqDim+1:j*$PqDim+$PqDim], cv[j*$PqDim+1:j*$PqDim+$PqDim]) AS d2
       |          FROM $codesRel CROSS JOIN cents CROSS JOIN sp))
       |  WHERE rk = 1),
       |lut AS (
       |  SELECT qid, j, cell AS code, CAST(floor(d2 * 1000000) AS BIGINT) AS d2q
       |  FROM (SELECT qid, cell, j,
       |               list_dot_product(qv[j*$PqDim+1:j*$PqDim+$PqDim], qv[j*$PqDim+1:j*$PqDim+$PqDim])
       |               - 2 * list_dot_product(qv[j*$PqDim+1:j*$PqDim+$PqDim], cv[j*$PqDim+1:j*$PqDim+$PqDim])
       |               + list_dot_product(cv[j*$PqDim+1:j*$PqDim+$PqDim], cv[j*$PqDim+1:j*$PqDim+$PqDim]) AS d2
       |        FROM q CROSS JOIN cents CROSS JOIN sp))""".stripMargin

  private val IvfAdcTail = ivfAdcTailN(2)

  private val IvfAdcCtes = s"$VecCte, $CentsCte,\n$IvfAdcTail"

  /** The append twin's CTE chain: the codebook trains on the BASE slice
    * only (`eb` — the corpus minus the delta), codes/LUT/serve identical
    * — the from-scratch recomputation of what [[annIvfAdcAppend]]'s
    * build-then-append store must contain. */
  private val IvfAdcAppendCtes =
    s"""$VecCte,
       |eb AS (SELECT * FROM e WHERE vec_id % 10 != 7),
       |${centsCteOver("eb")},
       |$IvfAdcTail""".stripMargin

  /** The IVF-PQ ranked candidate list (shared final SELECT body);
    * `extraWhere` restricts the candidate code rows (the filtered-ANN
    * posting list). */
  private def ivfAdcRanked(extraWhere: String = "") =
    s"""SELECT qid, vec_id,
       |       CAST(row_number() OVER (PARTITION BY qid ORDER BY adc_q, vec_id) AS BIGINT) AS rank,
       |       round(CAST(adc_q AS DOUBLE) / 1000000, 6) AS adc
       |FROM (SELECT p.qid AS qid, c.vec_id AS vec_id, CAST(sum(d2q) AS BIGINT) AS adc_q
       |      FROM codes c JOIN probed p ON c.label = p.cell
       |      JOIN lut ON lut.qid = p.qid AND lut.j = c.j AND lut.code = c.code
       |      WHERE c.vec_id != p.qid $extraWhere GROUP BY 1, 2)""".stripMargin

  private val IvfAdcRanked = ivfAdcRanked()

  /** The maxsim twins' unrolled 16×16 integer interaction grid over
    * columns `qv`/`v`: greatest over document tokens of each
    * floor-quantized slice dot, summed over query tokens — the exact
    * arithmetic [[graft.functions.MaxSimExpr]] fuses into two loops. */
  private val MsScoreSql: String =
    (0 until MsTokens).map { i =>
      val terms = (0 until MsTokens).map { j =>
        val prods = (0 until MsDim).map(k =>
          s"qv[${i * MsDim + k + 1}] * v[${j * MsDim + k + 1}]").mkString(" + ")
        s"CAST(floor(($prods) * 1000000) AS BIGINT)"
      }.mkString(", ")
      s"greatest($terms)"
    }.mkString("\n        + ")

  /** Twin of the STREAMING-maintained store
    * ([[graft.stream.StreamGrade]]'s `emb_stream_maintained`): the
    * codebook trains on the replay's base third (vec_id < max/3 — the
    * slice-0 snapshot the store was built from; `//` is DuckDB floor
    * division, matching the Scala Long division that sliced the
    * replay), codes cover the whole corpus — the frozen-codebook
    * rebuild the journaled micro-batch appends must equal exactly. */
  private[graft] val MaintainedStreamTwin: String =
    s"""WITH $VecCte,
       |mxv AS (SELECT max(vec_id) // 3 AS b FROM e),
       |eb AS (SELECT e.* FROM e, mxv WHERE vec_id < b),
       |${centsCteOver("eb")},
       |$IvfAdcTail
       |SELECT qid, vec_id, rank, adc FROM ($IvfAdcRanked)
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  val oracle: Map[String, String] = Map(
    "embed_label_mix" ->
      """SELECT source, CAST(label AS BIGINT) AS label,
        |       count(*) AS n_docs,
        |       CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY 1, 2 ORDER BY source, label""".stripMargin,

    "rrf_fusion" ->
      s"""WITH $RrfCtes
         |SELECT qid, doc_id, rank, rrf, dense_rank, lex_rank FROM fused
         |ORDER BY qid, rank""".stripMargin,

    // the greedy k-step MMR selection replayed as chained CTEs — every
    // comparison an exact BIGINT (10^6-quantized cosines, integer λ),
    // step by step the same argmax the Spark loop takes
    "mmr_rerank" -> {
      val steps = (2 to MmrK).map { i =>
        val prevUnion = (1 until i)
          .map(j => s"SELECT qid, doc_id FROM s$j").mkString(" UNION ALL ")
        s"""p$i AS ($prevUnion),
           |m$i AS (
           |  SELECT r.qid, r.doc_id, 7 * r.rel_q - 3 * max(sm.sim_q) AS mmr_q
           |  FROM rel r
           |  JOIN sim sm ON sm.qid = r.qid AND sm.a = r.doc_id
           |  JOIN p$i p ON p.qid = sm.qid AND p.doc_id = sm.b
           |  WHERE NOT EXISTS (SELECT 1 FROM p$i x
           |                    WHERE x.qid = r.qid AND x.doc_id = r.doc_id)
           |  GROUP BY r.qid, r.doc_id, r.rel_q),
           |s$i AS (SELECT qid, doc_id, mmr_q FROM (
           |  SELECT qid, doc_id, mmr_q,
           |         row_number() OVER (PARTITION BY qid ORDER BY mmr_q DESC, doc_id) AS rn
           |  FROM m$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val finalUnion = (1 to MmrK).map(i =>
        s"SELECT qid, CAST($i AS BIGINT) AS rank, doc_id, mmr_q FROM s$i")
        .mkString("\n|UNION ALL ".stripMargin)
      s"""WITH $RrfCtes,
         |cand AS (SELECT qid, doc_id FROM fused),
         |cvv AS (SELECT cand.qid AS qid, cand.doc_id AS doc_id,
         |               e.v AS v, e.n2 AS n2
         |        FROM cand JOIN e ON e.vec_id = cand.doc_id),
         |rel AS (SELECT c.qid AS qid, c.doc_id AS doc_id,
         |               CAST(floor(1000000 * list_dot_product(q.qv, c.v)
         |                    / (sqrt(q.qn2) * sqrt(c.n2))) AS BIGINT) AS rel_q
         |        FROM cvv c JOIN q ON q.qid = c.qid),
         |sim AS (SELECT a.qid AS qid, a.doc_id AS a, b.doc_id AS b,
         |               CAST(floor(1000000 * list_dot_product(a.v, b.v)
         |                    / (sqrt(a.n2) * sqrt(b.n2))) AS BIGINT) AS sim_q
         |        FROM cvv a JOIN cvv b ON b.qid = a.qid AND b.doc_id != a.doc_id),
         |s1 AS (SELECT qid, doc_id, 7 * rel_q AS mmr_q FROM (
         |  SELECT qid, doc_id, rel_q,
         |         row_number() OVER (PARTITION BY qid ORDER BY rel_q DESC, doc_id) AS rn
         |  FROM rel) WHERE rn = 1),
         |$steps
         |$finalUnion
         |ORDER BY qid, rank""".stripMargin
    },

    "label_purity" ->
      s"""WITH $VecCte, $SigCte,
         |bl AS (SELECT bucket, label, CAST(count(*) AS BIGINT) AS c
         |       FROM sig GROUP BY 1, 2),
         |b AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n FROM bl GROUP BY 1),
         |cells AS (
         |  SELECT label, c, c - 1 AS same, n - 1 AS tot
         |  FROM bl JOIN b USING (bucket) WHERE n > 1)
         |SELECT CAST(label AS BIGINT) AS label,
         |       CAST(sum(c) AS BIGINT) AS n_vecs,
         |       CAST(sum(CASE WHEN same * 2 < tot THEN c ELSE 0 END) AS BIGINT)
         |         AS n_minority,
         |       round(CAST(sum(same * c) AS DOUBLE) / CAST(sum(tot * c) AS DOUBLE), 4)
         |         AS pooled_agree
         |FROM cells GROUP BY label ORDER BY label""".stripMargin,

    "embed_outliers" ->
      s"""WITH $VecCte, $CentsCte,
         |scored AS (
         |  SELECT label, vec_id,
         |         list_dot_product(v, cv) / (sqrt(n2) * sqrt(cn2)) AS cos_raw
         |  FROM e JOIN cents ON label = cell WHERE n2 > 0),
         |ranked AS (
         |  SELECT label, vec_id, cos_raw,
         |         CAST(row_number() OVER (PARTITION BY label
         |           ORDER BY cos_raw, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT CAST(label AS BIGINT) AS label, rnk, vec_id,
         |       round(cos_raw, 5) AS cos
         |FROM ranked WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin,

    "ann_recall" ->
      s"""WITH $VecCte, $SigCte,
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < $NQueries),
         |qb AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2, bucket AS qbucket
         |       FROM sig WHERE vec_id < $NQueries),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rank
         |    FROM (SELECT qid, vec_id, list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos_raw
         |          FROM q JOIN e ON vec_id != qid))
         |  WHERE rank <= 3),
         |approx AS (
         |  SELECT qid AS aqid, vec_id AS avid FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rank
         |    FROM (SELECT qid, sig.vec_id AS vec_id,
         |                 list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos_raw
         |          FROM qb JOIN sig ON sig.bucket = qbucket AND sig.vec_id != qid))
         |  WHERE rank <= 3)
         |SELECT qid, count(*) AS n_exact, count(avid) AS n_hit,
         |       round(CAST(count(avid) AS DOUBLE) / count(*), 4) AS recall
         |FROM exact LEFT JOIN approx ON qid = aqid AND vec_id = avid
         |GROUP BY qid ORDER BY qid""".stripMargin,

    "ann_ivfadc" ->
      s"""WITH $IvfAdcCtes
         |SELECT qid, vec_id, rank, adc FROM ($IvfAdcRanked)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // filtered ANN: same index, candidates restricted to the external
    // posting list (English documents), cell fan-out widened 2 -> 4
    "ann_ivfadc_filtered" ->
      s"""WITH $VecCte, $CentsCte,
         |${ivfAdcTailN(4)},
         |allowed AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en')
         |SELECT qid, vec_id, rank, adc
         |FROM (${ivfAdcRanked("AND c.vec_id IN (SELECT vec_id FROM allowed)")})
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the very-selective-regime plan: brute-force exact top-3 over the
    // posting-list survivors (same squared L2 the ADC approximates)
    "ann_filtered_exact" ->
      s"""WITH $VecCte,
         |allowed AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < $NQueries)
         |SELECT qid, vec_id, rank, round(d2, 6) AS d2 FROM (
         |  SELECT qid, vec_id,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS BIGINT) AS rank,
         |         d2
         |  FROM (SELECT qid, vec_id, qn2 - 2 * list_dot_product(qv, v) + n2 AS d2
         |        FROM e CROSS JOIN q
         |        WHERE vec_id != qid AND vec_id IN (SELECT vec_id FROM allowed)))
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the adaptive selector: the SAME integer decision arithmetic
    // (|allowed|*|cells| <= nprobe*N) replayed in SQL, gating a UNION of
    // the two branch twins — engine and oracle must flip together
    "ann_filtered_auto" ->
      s"""WITH $VecCte, $CentsCte,
         |${ivfAdcTailN(4)},
         |allowed AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),
         |pick AS (
         |  SELECT (SELECT count(*) FROM allowed)
         |           * (SELECT count(DISTINCT label) FROM e)
         |         <= 4 * (SELECT count(*) FROM e) AS use_exact)
         |SELECT qid, vec_id, rank, adc AS score
         |FROM (${ivfAdcRanked("AND c.vec_id IN (SELECT vec_id FROM allowed)")})
         |WHERE rank <= 3 AND NOT (SELECT use_exact FROM pick)
         |UNION ALL
         |SELECT qid, vec_id, rank, round(d2, 6) AS score FROM (
         |  SELECT qid, vec_id,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS BIGINT) AS rank,
         |         d2
         |  FROM (SELECT qid, vec_id, qn2 - 2 * list_dot_product(qv, v) + n2 AS d2
         |        FROM e CROSS JOIN q
         |        WHERE vec_id != qid AND vec_id IN (SELECT vec_id FROM allowed)))
         |WHERE rank <= 3 AND (SELECT use_exact FROM pick)
         |ORDER BY qid, rank""".stripMargin,

    // filtered recall: exact ground truth restricted to the same
    // posting list — prices the nprobe-widening of the filtered serve
    "ann_filtered_recall" ->
      s"""WITH $VecCte, $CentsCte,
         |${ivfAdcTailN(4)},
         |allowed AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),
         |approx AS (
         |  SELECT qid, vec_id
         |  FROM (${ivfAdcRanked("AND c.vec_id IN (SELECT vec_id FROM allowed)")})
         |  WHERE rank <= 3),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY qn2 - 2 * list_dot_product(qv, v) + n2, vec_id) AS rk
         |    FROM e CROSS JOIN q
         |    WHERE vec_id != qid AND vec_id IN (SELECT vec_id FROM allowed))
         |  WHERE rk <= 3)
         |SELECT x.qid AS qid, CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(count(a.vec_id) AS BIGINT) AS n_hit,
         |       round(CAST(count(a.vec_id) AS DOUBLE) / count(*), 4) AS recall
         |FROM exact x LEFT JOIN approx a ON x.qid = a.qid AND x.vec_id = a.vec_id
         |GROUP BY 1 ORDER BY qid""".stripMargin,

    // index-served two-stage retrieval: the shared ADC chain cut at
    // depth 20 feeds the identical unrolled MaxSim grid — the
    // composition itself is what the row grades
    "maxsim_rerank_ivf" ->
      s"""WITH $IvfAdcCtes,
         |cand AS (SELECT qid, vec_id, rank AS adc_rank FROM ($IvfAdcRanked)
         |         WHERE rank <= $MsRerankDepth),
         |pair AS (SELECT c.qid AS qid, c.vec_id AS vec_id, c.adc_rank AS adc_rank,
         |                q.qv AS qv, e.v AS v
         |         FROM cand c JOIN e ON e.vec_id = c.vec_id
         |         JOIN q ON q.qid = c.qid)
         |SELECT qid, vec_id, rank, round(CAST(ms_q AS DOUBLE) / 1000000, 6) AS maxsim,
         |       adc_rank
         |FROM (
         |  SELECT qid, vec_id, adc_rank, ms_q,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY ms_q DESC, vec_id) AS BIGINT) AS rank
         |  FROM (SELECT qid, vec_id, adc_rank,
         |        $MsScoreSql AS ms_q
         |        FROM pair))
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the persisted artifact must answer exactly like the inline index:
    // same twin, so the hash proves the persist->load round trip
    "ann_ivfadc_loaded" ->
      s"""WITH $IvfAdcCtes
         |SELECT qid, vec_id, rank, adc FROM ($IvfAdcRanked)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the incrementally-appended store must answer exactly like a
    // from-scratch recompute with the codebook frozen on the base
    // slice: cents over eb (vec_id % 10 != 7), codes over everything
    "ann_ivfadc_append" ->
      s"""WITH $IvfAdcAppendCtes
         |SELECT qid, vec_id, rank, adc FROM ($IvfAdcRanked)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the post-upsert store must answer exactly like an index whose
    // corpus always contained the UPDATED vectors (reversed 3-slice),
    // codebook still trained on the original corpus (frozen through
    // maintenance): codes re-derive over the modified relation
    "ann_ivfadc_upsert" ->
      s"""WITH $VecCte, $CentsCte,
         |em AS (SELECT vec_id, label,
         |         CASE WHEN vec_id % 10 = 3 THEN list_reverse(v) ELSE v END AS v
         |       FROM e),
         |${ivfAdcTailN(2, codesRel = "em")}
         |SELECT qid, vec_id, rank, adc FROM ($IvfAdcRanked)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the post-delete store must answer exactly like an index that
    // never contained the deleted slice: same frozen full-corpus
    // codebook, candidate codes restricted to the survivors
    "ann_ivfadc_delete" ->
      s"""WITH $IvfAdcCtes
         |SELECT qid, vec_id, rank, adc
         |FROM (${ivfAdcRanked("AND c.vec_id % 10 != 3")})
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the exact ground truth is TRUE squared L2 (the metric ADC
    // approximates); recall loss prices BOTH the cell restriction and
    // the PQ quantization
    "ivfadc_recall" ->
      s"""WITH $IvfAdcCtes,
         |approx AS (SELECT qid, vec_id FROM ($IvfAdcRanked) WHERE rank <= 3),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY qn2 - 2 * list_dot_product(qv, v) + n2, vec_id) AS rk
         |    FROM e CROSS JOIN q WHERE vec_id != qid)
         |  WHERE rk <= 3)
         |SELECT x.qid AS qid, CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(count(a.vec_id) AS BIGINT) AS n_hit,
         |       round(CAST(count(a.vec_id) AS DOUBLE) / count(*), 4) AS recall
         |FROM exact x LEFT JOIN approx a ON x.qid = a.qid AND x.vec_id = a.vec_id
         |GROUP BY 1 ORDER BY qid""".stripMargin,

    // the full operating-point grid of the production index shape: each
    // budget's codes/LUT derive from the same (subs, j, dim) driver rows
    // the Spark side explodes map-side
    "ivfadc_recall_sweep" -> {
      val spRows = SweepBudgets.flatMap { case (sb, dim) =>
        (0 until sb).map(j => s"($sb, $j, $dim)")
      }.mkString(", ")
      s"""WITH $VecCte, $CentsCte,
         |sp AS (SELECT subs, j, dim FROM (VALUES $spRows) s(subs, j, dim)),
         |np AS (SELECT n FROM (VALUES (1), (2), (4)) t(n)),
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < $NQueries),
         |ranked AS (
         |  SELECT qid, cell, crk FROM (
         |    SELECT qid, cell,
         |           row_number() OVER (PARTITION BY qid ORDER BY cellcos DESC, cell) AS crk
         |    FROM (SELECT qid, cell,
         |                 list_dot_product(qv, cv) / (sqrt(qn2) * sqrt(cn2)) AS cellcos
         |          FROM q CROSS JOIN cents))
         |  WHERE crk <= 4),
         |codes AS (
         |  SELECT vec_id, label, subs, j, cell AS code FROM (
         |    SELECT vec_id, label, subs, j, cell,
         |           row_number() OVER (PARTITION BY vec_id, subs, j ORDER BY d2, cell) AS rk
         |    FROM (SELECT vec_id, label, cell, subs, j,
         |                 list_dot_product(list_slice(v, j*dim+1, j*dim+dim), list_slice(v, j*dim+1, j*dim+dim))
         |                 - 2 * list_dot_product(list_slice(v, j*dim+1, j*dim+dim), list_slice(cv, j*dim+1, j*dim+dim))
         |                 + list_dot_product(list_slice(cv, j*dim+1, j*dim+dim), list_slice(cv, j*dim+1, j*dim+dim)) AS d2
         |          FROM e CROSS JOIN cents CROSS JOIN sp))
         |  WHERE rk = 1),
         |lut AS (
         |  SELECT qid, subs, j, cell AS code, CAST(floor(d2 * 1000000) AS BIGINT) AS d2q
         |  FROM (SELECT qid, cell, subs, j,
         |               list_dot_product(list_slice(qv, j*dim+1, j*dim+dim), list_slice(qv, j*dim+1, j*dim+dim))
         |               - 2 * list_dot_product(list_slice(qv, j*dim+1, j*dim+dim), list_slice(cv, j*dim+1, j*dim+dim))
         |               + list_dot_product(list_slice(cv, j*dim+1, j*dim+dim), list_slice(cv, j*dim+1, j*dim+dim)) AS d2
         |        FROM q CROSS JOIN cents CROSS JOIN sp)),
         |cand AS (
         |  SELECT np.n AS nprobe, c.subs AS subs, p.qid AS qid, c.vec_id AS vec_id,
         |         CAST(sum(d2q) AS BIGINT) AS adc_q
         |  FROM codes c
         |  JOIN ranked p ON c.label = p.cell
         |  JOIN np ON p.crk <= np.n
         |  JOIN lut ON lut.qid = p.qid AND lut.subs = c.subs
         |          AND lut.j = c.j AND lut.code = c.code
         |  WHERE c.vec_id != p.qid
         |  GROUP BY 1, 2, 3, 4),
         |approx AS (
         |  SELECT nprobe, subs, qid, vec_id FROM (
         |    SELECT nprobe, subs, qid, vec_id,
         |           row_number() OVER (PARTITION BY nprobe, subs, qid
         |             ORDER BY adc_q, vec_id) AS rank
         |    FROM cand)
         |  WHERE rank <= 3),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY qn2 - 2 * list_dot_product(qv, v) + n2, vec_id) AS rk
         |    FROM e CROSS JOIN q WHERE vec_id != qid)
         |  WHERE rk <= 3),
         |grid AS (SELECT DISTINCT subs, n AS nprobe FROM sp CROSS JOIN np)
         |SELECT CAST(g.subs AS BIGINT) AS pq_subs, CAST(g.nprobe AS BIGINT) AS nprobe,
         |       CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(count(a.vec_id) AS BIGINT) AS n_hit,
         |       round(CAST(count(a.vec_id) AS DOUBLE) / count(*), 4) AS recall
         |FROM exact x CROSS JOIN grid g
         |LEFT JOIN approx a ON a.nprobe = g.nprobe AND a.subs = g.subs
         |  AND a.qid = x.qid AND a.vec_id = x.vec_id
         |GROUP BY 1, 2 ORDER BY pq_subs, nprobe""".stripMargin
    },

    // SemDeDup: pair set = the embed_neardup lineage; each pair drops
    // the member nearer its centroid (higher centroid cosine, vec_id
    // tie-break); per-cell integer counts, one rounded division
    "semantic_dedup" ->
      s"""WITH $VecCte, $CentsCte,
         |scored AS (
         |  SELECT label, vec_id,
         |         list_dot_product(v, cv) / (sqrt(n2) * sqrt(cn2)) AS cc
         |  FROM e JOIN cents ON label = cell WHERE n2 > 0),
         |pairs AS (
         |  SELECT x.label AS label, x.vec_id AS a, y.vec_id AS b
         |  FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
         |  WHERE x.n2 > 0 AND y.n2 > 0
         |    AND list_dot_product(x.v, y.v) / (sqrt(x.n2) * sqrt(y.n2)) >= 0.4),
         |dropped AS (
         |  SELECT DISTINCT p.label,
         |         CASE WHEN sa.cc > sb.cc OR (sa.cc = sb.cc AND p.a > p.b)
         |              THEN p.a ELSE p.b END AS vec_id
         |  FROM pairs p
         |  JOIN scored sa ON sa.vec_id = p.a
         |  JOIN scored sb ON sb.vec_id = p.b),
         |pc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM pairs GROUP BY 1),
         |dc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_dropped
         |       FROM dropped GROUP BY 1)
         |SELECT CAST(s.label AS BIGINT) AS label,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       coalesce(any_value(pc.n_pairs), 0) AS n_pairs,
         |       coalesce(any_value(dc.n_dropped), 0) AS n_dropped,
         |       round(CAST(coalesce(any_value(dc.n_dropped), 0) AS DOUBLE)
         |             / count(*), 4) AS drop_pct
         |FROM scored s
         |LEFT JOIN pc ON pc.label = s.label
         |LEFT JOIN dc ON dc.label = s.label
         |GROUP BY s.label ORDER BY label""".stripMargin,

    "embed_matryoshka" ->
      s"""WITH $VecCte,
         |p AS (SELECT vec_id, v, n2, v[1:$MrlDim] AS vp,
         |             list_dot_product(v[1:$MrlDim], v[1:$MrlDim]) AS pn2 FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2, vp AS qvp, pn2 AS qpn2
         |      FROM p WHERE vec_id < $NQueries),
         |sc AS (
         |  SELECT qid, vec_id,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) DESC, vec_id) AS rf,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY list_dot_product(qvp, vp) / (sqrt(qpn2) * sqrt(pn2)) DESC, vec_id) AS rp
         |  FROM p CROSS JOIN q WHERE vec_id != qid)
         |SELECT qid,
         |       CAST(sum(CASE WHEN rf <= 3 AND rp <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |       round(CAST(sum(CASE WHEN rf <= 3 AND rp <= 3 THEN 1 ELSE 0 END) AS DOUBLE) / 3, 4) AS recall
         |FROM sc GROUP BY qid ORDER BY qid""".stripMargin,

    "ann_adc" ->
      s"""WITH $VecCte, $CentsCte,
         |sp AS (SELECT j FROM (VALUES (0), (1), (2), (3)) s(j)),
         |codes AS (
         |  SELECT vec_id, j, cell AS code FROM (
         |    SELECT vec_id, j, cell,
         |           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cell) AS rk
         |    FROM (SELECT vec_id, cell, j,
         |                 list_dot_product(v[j*$PqDim+1:j*$PqDim+$PqDim], v[j*$PqDim+1:j*$PqDim+$PqDim])
         |                 - 2 * list_dot_product(v[j*$PqDim+1:j*$PqDim+$PqDim], cv[j*$PqDim+1:j*$PqDim+$PqDim])
         |                 + list_dot_product(cv[j*$PqDim+1:j*$PqDim+$PqDim], cv[j*$PqDim+1:j*$PqDim+$PqDim]) AS d2
         |          FROM e CROSS JOIN cents CROSS JOIN sp))
         |  WHERE rk = 1),
         |lut AS (
         |  SELECT qid, j, cell AS code, CAST(floor(d2 * 1000000) AS BIGINT) AS d2q
         |  FROM (SELECT qid, cell, j,
         |               list_dot_product(qv[j*$PqDim+1:j*$PqDim+$PqDim], qv[j*$PqDim+1:j*$PqDim+$PqDim])
         |               - 2 * list_dot_product(qv[j*$PqDim+1:j*$PqDim+$PqDim], cv[j*$PqDim+1:j*$PqDim+$PqDim])
         |               + list_dot_product(cv[j*$PqDim+1:j*$PqDim+$PqDim], cv[j*$PqDim+1:j*$PqDim+$PqDim]) AS d2
         |        FROM (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NQueries) q
         |        CROSS JOIN cents CROSS JOIN sp))
         |SELECT qid, vec_id, rank, adc FROM (
         |  SELECT qid, vec_id,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY adc_q, vec_id) AS BIGINT) AS rank,
         |         round(CAST(adc_q AS DOUBLE) / 1000000, 6) AS adc
         |  FROM (SELECT qid, vec_id, CAST(sum(d2q) AS BIGINT) AS adc_q
         |        FROM codes JOIN lut ON codes.j = lut.j AND codes.code = lut.code
         |        WHERE vec_id != qid GROUP BY 1, 2))
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "embed_pq" ->
      s"""WITH $VecCte, $CentsCte,
         |sp AS (SELECT j FROM (VALUES (0), (1), (2), (3)) s(j)),
         |d AS (
         |  SELECT vec_id, cell, j,
         |         list_dot_product(v[j*$PqDim+1:j*$PqDim+$PqDim], v[j*$PqDim+1:j*$PqDim+$PqDim])
         |         - 2 * list_dot_product(v[j*$PqDim+1:j*$PqDim+$PqDim], cv[j*$PqDim+1:j*$PqDim+$PqDim])
         |         + list_dot_product(cv[j*$PqDim+1:j*$PqDim+$PqDim], cv[j*$PqDim+1:j*$PqDim+$PqDim]) AS d2
         |  FROM e CROSS JOIN cents CROSS JOIN sp)
         |SELECT CAST(j AS BIGINT) AS subspace, CAST(cell AS BIGINT) AS cell,
         |       count(*) AS n
         |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cell) AS rk
         |      FROM d)
         |WHERE rk = 1 GROUP BY 1, 2 ORDER BY subspace, cell""".stripMargin,

    "ann_range" ->
      s"""WITH $VecCte,
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < $NQueries)
         |SELECT qid, vec_id, round(cos_raw, 5) AS cos
         |FROM (SELECT qid, vec_id, list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos_raw
         |      FROM q JOIN e ON vec_id != qid)
         |WHERE cos_raw >= $RangeTau ORDER BY qid, vec_id""".stripMargin,

    "kmeans_step" ->
      s"""WITH $VecCte, $CentsCte,
         |scored AS (
         |  SELECT vec_id, label, cell,
         |         row_number() OVER (PARTITION BY vec_id
         |           ORDER BY list_dot_product(v, cv) / (sqrt(n2) * sqrt(cn2)) DESC, cell) AS rk
         |  FROM (SELECT * FROM e WHERE n2 > 0) ev CROSS JOIN cents)
         |SELECT CAST(label AS BIGINT) AS label, CAST(cell AS BIGINT) AS assigned,
         |       count(*) AS n
         |FROM scored WHERE rk = 1 GROUP BY 1, 2 ORDER BY label, assigned""".stripMargin,

    // binary sign-sketch ANN: the identical two-half pack (weights
    // 2^(32−i)) + popcount replayed in SQL — exact integers throughout
    "ann_hamming" ->
      s"""WITH $HamBitsCte,
         |q AS (SELECT vec_id AS qid, h1 AS q1, h2 AS q2 FROM bits
         |      WHERE vec_id < $NQueries)
         |SELECT qid, vec_id, rank, ham FROM (
         |  SELECT q.qid, b.vec_id,
         |         CAST(row_number() OVER (PARTITION BY q.qid ORDER BY
         |           bit_count(xor(b.h1, q.q1)) + bit_count(xor(b.h2, q.q2)),
         |           b.vec_id) AS BIGINT) AS rank,
         |         CAST(bit_count(xor(b.h1, q.q1)) +
         |              bit_count(xor(b.h2, q.q2)) AS BIGINT) AS ham
         |  FROM bits b JOIN q ON b.vec_id != q.qid) t
         |WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin,

    // margin mining: the same blocked pair frame, integer-quantized
    // cosines, top-4 neighborhood sums and subtractive margin replayed
    // window-for-window
    "emb_margin_mine" ->
      s"""WITH $VecCte,
         |a AS (SELECT vec_id AS x, v AS xv, n2 AS xn2 FROM e WHERE label = '0'),
         |b AS (SELECT vec_id AS y, v AS yv, n2 AS yn2 FROM e WHERE label = '1'),
         |pairs AS (
         |  SELECT x, y,
         |         CAST(floor(1000000 * (list_dot_product(xv, yv) /
         |           (sqrt(xn2) * sqrt(yn2)))) AS BIGINT) AS icos
         |  FROM a, b),
         |fwd AS (SELECT x, CAST(sum(icos) AS BIGINT) AS fwd_sum FROM (
         |  SELECT x, icos, row_number() OVER (PARTITION BY x
         |    ORDER BY icos DESC, y) AS rk FROM pairs) t
         |  WHERE rk <= 4 GROUP BY x),
         |bwd AS (SELECT y, CAST(sum(icos) AS BIGINT) AS bwd_sum FROM (
         |  SELECT y, icos, row_number() OVER (PARTITION BY y
         |    ORDER BY icos DESC, x) AS rk FROM pairs) t
         |  WHERE rk <= 4 GROUP BY y)
         |SELECT x, y, margin FROM (
         |  SELECT p.x AS x, p.y AS y,
         |         8 * p.icos - f.fwd_sum - w.bwd_sum AS margin,
         |         row_number() OVER (PARTITION BY p.x
         |           ORDER BY 8 * p.icos - f.fwd_sum - w.bwd_sum DESC,
         |           p.y) AS rk
         |  FROM pairs p JOIN fwd f ON f.x = p.x JOIN bwd w ON w.y = p.y) t
         |WHERE rk = 1 AND margin > 0 ORDER BY x""".stripMargin,

    // two-stage sign-sketch serve: the twin replays BOTH stages (the
    // sketch is lossy, so the grade is stage-faithful, not exact-top-k;
    // ann_hamming_recall measures the loss honestly)
    "ann_hamming_rerank" ->
      s"""WITH $VecCte,
         |$HamBitsCte,
         |q AS (SELECT vec_id AS qid, h1 AS q1, h2 AS q2 FROM bits
         |      WHERE vec_id < $NQueries),
         |pool AS (
         |  SELECT qid, vec_id, ham FROM (
         |    SELECT q.qid, b.vec_id,
         |           CAST(bit_count(xor(b.h1, q.q1)) +
         |                bit_count(xor(b.h2, q.q2)) AS BIGINT) AS ham,
         |           row_number() OVER (PARTITION BY q.qid ORDER BY
         |             bit_count(xor(b.h1, q.q1)) + bit_count(xor(b.h2, q.q2)),
         |             b.vec_id) AS hrk
         |    FROM bits b JOIN q ON b.vec_id != q.qid) t WHERE hrk <= 32),
         |qv AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e
         |       WHERE vec_id < $NQueries)
         |SELECT qid, vec_id, rank, round(cos_raw, 5) AS cos, ham FROM (
         |  SELECT p.qid, p.vec_id, p.ham,
         |         list_dot_product(qv.qv, e.v) / (sqrt(qv.qn2) * sqrt(e.n2)) AS cos_raw,
         |         CAST(row_number() OVER (PARTITION BY p.qid ORDER BY
         |           list_dot_product(qv.qv, e.v) / (sqrt(qv.qn2) * sqrt(e.n2)) DESC,
         |           p.vec_id) AS BIGINT) AS rank
         |  FROM pool p JOIN e ON e.vec_id = p.vec_id
         |              JOIN qv ON qv.qid = p.qid) t
         |WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin,

    "ann_hamming_recall" ->
      s"""WITH $VecCte,
         |$HamBitsCte,
         |q AS (SELECT vec_id AS qid, h1 AS q1, h2 AS q2 FROM bits
         |      WHERE vec_id < $NQueries),
         |pool AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, b.vec_id,
         |           row_number() OVER (PARTITION BY q.qid ORDER BY
         |             bit_count(xor(b.h1, q.q1)) + bit_count(xor(b.h2, q.q2)),
         |             b.vec_id) AS hrk
         |    FROM bits b JOIN q ON b.vec_id != q.qid) t WHERE hrk <= 32),
         |qv AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e
         |       WHERE vec_id < $NQueries),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qv.qid, e.vec_id,
         |           row_number() OVER (PARTITION BY qv.qid ORDER BY
         |             list_dot_product(qv.qv, e.v) / (sqrt(qv.qn2) * sqrt(e.n2)) DESC,
         |             e.vec_id) AS rk
         |    FROM e JOIN qv ON e.vec_id != qv.qid) t WHERE rk <= $TopK)
         |SELECT x.qid AS qid, CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_retained
         |FROM exact x LEFT JOIN pool p
         |  ON p.qid = x.qid AND p.vec_id = x.vec_id
         |GROUP BY x.qid ORDER BY qid""".stripMargin,

    "cos_topk" ->
      s"""WITH $VecCte,
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < $NQueries)
         |SELECT qid, vec_id, rank, round(cos_raw, 5) AS cos FROM (
         |  SELECT qid, vec_id, cos_raw,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS BIGINT) AS rank
         |  FROM (SELECT qid, vec_id, list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos_raw
         |        FROM q JOIN e ON vec_id != qid))
         |WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin,

    // late interaction: the unrolled 16x16 integer interaction grid —
    // greatest over document tokens of each quantized slice dot, summed
    // over query tokens — exactly the arithmetic the engine kernel fuses
    "maxsim_topk" ->
      s"""WITH $VecCte,
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NQueries)
         |SELECT qid, vec_id, rank, round(CAST(ms_q AS DOUBLE) / 1000000, 6) AS maxsim
         |FROM (
         |  SELECT qid, vec_id, ms_q,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY ms_q DESC, vec_id) AS BIGINT) AS rank
         |  FROM (SELECT qid, vec_id,
         |        $MsScoreSql AS ms_q
         |        FROM e CROSS JOIN q WHERE vec_id != qid))
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the two-stage production pipeline: dense cosine retrieves the
    // top-20 candidate pool, MaxSim re-ranks the survivors — both
    // stages' arithmetic identical to their standalone twins
    "maxsim_rerank" ->
      s"""WITH $VecCte,
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < $NQueries),
         |cand AS (
         |  SELECT qid, vec_id, qv, v, drk FROM (
         |    SELECT qid, vec_id, qv, v,
         |           CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS BIGINT) AS drk
         |    FROM (SELECT qid, vec_id, qv, v,
         |                 list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos_raw
         |          FROM q JOIN e ON vec_id != qid))
         |  WHERE drk <= $MsRerankDepth)
         |SELECT qid, vec_id, rank, round(CAST(ms_q AS DOUBLE) / 1000000, 6) AS maxsim,
         |       drk AS dense_rank
         |FROM (
         |  SELECT qid, vec_id, drk, ms_q,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY ms_q DESC, vec_id) AS BIGINT) AS rank
         |  FROM (SELECT qid, vec_id, drk,
         |        $MsScoreSql AS ms_q
         |        FROM cand))
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "ann_buckets" ->
      s"""WITH $VecCte, $SigCte
         |SELECT bucket, count(*) AS n FROM sig GROUP BY bucket
         |HAVING count(*) > 1 ORDER BY bucket""".stripMargin,

    "ann_topk" ->
      s"""WITH $VecCte, $SigCte,
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2, bucket AS qbucket
         |      FROM sig WHERE vec_id < $NQueries)
         |SELECT qid, vec_id, rank, round(cos_raw, 5) AS cos FROM (
         |  SELECT qid, vec_id, cos_raw,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS BIGINT) AS rank
         |  FROM (SELECT qid, sig.vec_id AS vec_id,
         |               list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos_raw
         |        FROM q JOIN sig ON sig.bucket = qbucket AND sig.vec_id != qid))
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "ann_ivf" ->
      s"""WITH $VecCte, $CentsCte,
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < $NQueries),
         |probed AS (
         |  SELECT qid, qv, qn2, cell FROM (
         |    SELECT qid, qv, qn2, cell,
         |           row_number() OVER (PARTITION BY qid ORDER BY cellcos DESC, cell) AS crk
         |    FROM (SELECT qid, qv, qn2, cell,
         |                 list_dot_product(qv, cv) / (sqrt(qn2) * sqrt(cn2)) AS cellcos
         |          FROM q CROSS JOIN cents))
         |  WHERE crk <= 2)
         |SELECT qid, vec_id, rank, round(cos_raw, 5) AS cos FROM (
         |  SELECT qid, vec_id, cos_raw,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS BIGINT) AS rank
         |  FROM (SELECT p.qid AS qid, e.vec_id AS vec_id,
         |               list_dot_product(p.qv, e.v) / (sqrt(p.qn2) * sqrt(e.n2)) AS cos_raw
         |        FROM probed p JOIN e ON e.label = p.cell AND e.vec_id != p.qid))
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // Gram matrix in exact integers; DuckDB's 1-based list index is
    // shifted to the Spark side's 0-based pos at the source.
    "pca_power_step" ->
      s"""WITH $VecCte,
         |q AS (
         |  SELECT vec_id, px.pos - 1 AS pos, CAST(floor(px.x * 1000) AS BIGINT) AS xq
         |  FROM (SELECT vec_id,
         |               unnest(list_transform(v, (x, i) -> struct_pack(pos := i, x := x))) AS px
         |        FROM e)),
         |cov AS (
         |  SELECT a.pos AS j, b.pos AS k, CAST(sum(a.xq * b.xq) AS BIGINT) AS c
         |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |u1 AS (SELECT j, CAST(c AS DOUBLE) AS u FROM cov WHERE k = 0),
         |n1 AS (SELECT sqrt(sum(u * u)) AS nrm FROM u1),
         |v1 AS (SELECT j, u / nrm AS v1 FROM u1 CROSS JOIN n1),
         |u2 AS (
         |  SELECT cov.j AS j, sum(CAST(cov.c AS DOUBLE) * v1.v1) AS u
         |  FROM cov JOIN v1 ON cov.k = v1.j GROUP BY 1),
         |n2 AS (SELECT sqrt(sum(u * u)) AS nrm FROM u2)
         |SELECT CAST(u2.j AS BIGINT) AS pos,
         |       round(v1.v1, 6) AS v_step1,
         |       round(u2.u / n2.nrm, 6) AS v_step2
         |FROM u2 CROSS JOIN n2 JOIN v1 ON v1.j = u2.j
         |ORDER BY pos""".stripMargin,

    "embed_centroid_drift" ->
      s"""WITH $VecCte,
         |cq AS (
         |  SELECT label, half, px.pos AS pos, CAST(floor(px.x * 1000) AS BIGINT) AS xq
         |  FROM (SELECT label, CAST(vec_id % 2 AS INTEGER) AS half,
         |               unnest(list_transform(v, (x, i) -> struct_pack(pos := i, x := x))) AS px
         |        FROM e)),
         |cm AS (
         |  SELECT label, half, pos,
         |         CAST(sum(xq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000.0 AS m,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM cq GROUP BY 1, 2, 3)
         |SELECT CAST(a.label AS BIGINT) AS label,
         |       max(a.n) AS n_a, max(b.n) AS n_b,
         |       round(sqrt(sum((a.m - b.m) * (a.m - b.m))), 5) AS drift
         |FROM (SELECT * FROM cm WHERE half = 0) a
         |JOIN (SELECT * FROM cm WHERE half = 1) b
         |  ON a.label = b.label AND a.pos = b.pos
         |GROUP BY 1 ORDER BY label""".stripMargin,

    "hard_negatives" ->
      s"""WITH $VecCte, $CentsCte,
         |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, n2 AS qn2
         |      FROM e WHERE vec_id < $NQueries),
         |probed AS (
         |  SELECT qid, qv, qn2, cell FROM (
         |    SELECT qid, qv, qn2, cell,
         |           row_number() OVER (PARTITION BY qid ORDER BY cellcos DESC, cell) AS crk
         |    FROM (SELECT qid, qv, qn2, cell,
         |                 list_dot_product(qv, cv) / (sqrt(qn2) * sqrt(cn2)) AS cellcos
         |          FROM q CROSS JOIN cents WHERE cell != qlabel))
         |  WHERE crk <= 2)
         |SELECT qid, neg_id, rank, round(cos_raw, 5) AS cos FROM (
         |  SELECT qid, neg_id, cos_raw,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, neg_id) AS BIGINT) AS rank
         |  FROM (SELECT p.qid AS qid, e.vec_id AS neg_id,
         |               list_dot_product(p.qv, e.v) / (sqrt(p.qn2) * sqrt(e.n2)) AS cos_raw
         |        FROM probed p JOIN e ON e.label = p.cell))
         |WHERE rank <= 2 ORDER BY qid, rank""".stripMargin,

    "ivf_recall_sweep" ->
      s"""WITH $VecCte, $CentsCte,
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id < $NQueries),
         |ranked AS (
         |  SELECT qid, qv, qn2, cell, crk FROM (
         |    SELECT qid, qv, qn2, cell,
         |           row_number() OVER (PARTITION BY qid ORDER BY cellcos DESC, cell) AS crk
         |    FROM (SELECT qid, qv, qn2, cell,
         |                 list_dot_product(qv, cv) / (sqrt(qn2) * sqrt(cn2)) AS cellcos
         |          FROM q CROSS JOIN cents))
         |  WHERE crk <= 4),
         |probes AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe),
         |approx AS (
         |  SELECT nprobe AS anp, qid AS aqid, vec_id AS avid FROM (
         |    SELECT p.nprobe AS nprobe, r.qid AS qid, e.vec_id AS vec_id,
         |           row_number() OVER (PARTITION BY p.nprobe, r.qid
         |             ORDER BY list_dot_product(r.qv, e.v) / (sqrt(r.qn2) * sqrt(e.n2)) DESC,
         |                      e.vec_id) AS rank
         |    FROM ranked r JOIN probes p ON r.crk <= p.nprobe
         |    JOIN e ON e.label = r.cell AND e.vec_id != r.qid)
         |  WHERE rank <= 3),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rank
         |    FROM (SELECT qid, vec_id,
         |                 list_dot_product(qv, v) / (sqrt(qn2) * sqrt(n2)) AS cos_raw
         |          FROM q JOIN e ON vec_id != qid))
         |  WHERE rank <= 3)
         |SELECT nprobe, count(DISTINCT qid) AS n_queries,
         |       count(*) AS n_exact, count(avid) AS n_hit,
         |       round(CAST(count(avid) AS DOUBLE) / count(*), 4) AS recall
         |FROM (SELECT p.nprobe AS nprobe, x.qid AS qid, x.vec_id AS vec_id, a.avid AS avid
         |      FROM exact x CROSS JOIN probes p
         |      LEFT JOIN approx a ON a.anp = p.nprobe AND a.aqid = x.qid
         |                        AND a.avid = x.vec_id)
         |GROUP BY 1 ORDER BY nprobe""".stripMargin,

    "embed_quantize" ->
      s"""WITH $VecCte,
         |qs AS (
         |  SELECT label, 127.0 / amax AS scale, v
         |  FROM (SELECT label, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e)
         |  WHERE amax > 0)
         |SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
         |       CAST(sum(len(list_filter(v, x -> floor(abs(x) * scale) >= 127))) AS BIGINT)
         |         AS total_saturated,
         |       round(avg(scale), 3) AS avg_scale
         |FROM qs GROUP BY 1 ORDER BY label""".stripMargin,

    "embed_neardup" ->
      s"""WITH $VecCte
         |SELECT CAST(label AS BIGINT) AS label, a, b, round(cos_raw, 4) AS cos
         |FROM (
         |  SELECT x.label AS label, x.vec_id AS a, y.vec_id AS b,
         |         list_dot_product(x.v, y.v) / (sqrt(x.n2) * sqrt(y.n2)) AS cos_raw
         |  FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id)
         |WHERE cos_raw >= 0.4
         |ORDER BY a, b""".stripMargin)
}
