package graft.operators

import graft.operators.Checkpoints.CutOps
import graft.expressions.ArrayOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>).
  *
  * Scale design: brute-force top-k broadcasts the (small) query set and
  * streams the corpus — one scan, no shuffle except the final per-query
  * top-k. Pair scoring uses the fused codegen `CosineSimilarity`
  * expression (graft.expressions) — one loop per pair, no per-pair
  * allocation — because the O(n·q) / O(n²) scoring stage is where
  * interpreted higher-order functions die. The IVF variant collects the
  * (tiny, model-parameter-sized) centroid set to the driver and assigns
  * every corpus vector to its bucket in a map-side argmax projection —
  * the corpus is never shuffled for assignment, only for the final
  * bucket join.
  *
  * Corpus sides are repartitioned before scoring: the testdata is one
  * parquet file per table, which would otherwise pin the whole scoring
  * stage to a single task (on a real cluster the many input splits make
  * this a no-op cost-wise).
  */
object Similarity {

  /** Promote float[] to double[] once, on the input side (NOT per pair). */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  def cosine(a: Column, b: Column): Column = ArrayOps.cosineSim(a, b)

  private def fanout(df: DataFrame): DataFrame = graft.GraftSession.fanout(df)

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors. Queries are broadcast. `excludeSelf` removes
    * id-equal matches and assumes queries and corpus SHARE an id space
    * (the self-kNN pattern); pass false for external query sets whose
    * ids are unrelated to the corpus.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv")))
    val c = fanout(corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv")))
    val crossed = q.crossJoin(c)
    val scored = (if (excludeSelf) crossed.filter(col("query_id") =!= col("neighbor_id"))
                  else crossed)
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** All corpus pairs with cosine ≥ threshold (embedding near-dup),
    * EXACT — so inherently O(n²) compute. The join is a
    * shuffle-replicated nested loop (CartesianProduct): both sides stay
    * partitioned and stream, so no executor or the driver ever holds the
    * whole corpus (the previous formulation broadcast it). Because the
    * quadratic cost itself cannot be pruned exactly, the operator
    * refuses loudly above `maxRows` instead of melting a cluster —
    * `rhpCosinePairs` is the approximate scale path past that.
    */
  def cosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
                  threshold: Double, maxRows: Long = 2000000L): DataFrame = {
    // Bounded-size guard that stays O(maxRows), not O(corpus): a plain
    // count() would be a full extra pass over the corpus just to
    // validate; limit(maxRows+1) short-circuits as soon as the cap is
    // provably exceeded. limit() caps at Int.MaxValue, so a larger
    // maxRows (already an absurd cap for an O(n²) operator) falls back
    // to the full count rather than silently never firing.
    val overCap =
      if (maxRows >= Int.MaxValue - 1L) corpus.count() > maxRows
      else corpus.limit(maxRows.toInt + 1).count() > maxRows
    require(!overCap,
      s"cosinePairs is EXACT all-pairs: O(n²) comparisons on > $maxRows rows " +
        "exceeds the guard. Use Similarity.rhpCosinePairs (LSH candidates " +
        "+ exact verify) for corpora this large, or raise maxRows deliberately.")
    val a = fanout(corpus.select(col(idCol).as("id_a"), asDouble(col(vecCol)).as("va")))
    val b = corpus.select(col(idCol).as("id_b"), asDouble(col(vecCol)).as("vb"))
    a.hint("shuffle_replicate_nl").crossJoin(b.hint("shuffle_replicate_nl"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** SemDeDup-style clustered cosine pairs: all pairs with cosine ≥
    * threshold WITHIN a cluster (a trained IVF/k-means assignment at
    * scale; any categorical column works). This is the move that makes
    * embedding dedup tractable at 100 TB: the O(n²) pair space shrinks
    * to Σ|cluster|², and nothing ever crosses cluster boundaries — by
    * the SemDeDup argument, near-duplicates land in the same cluster
    * because they are near the same centroid.
    *
    * Parallelism is the blocked-Jaccard shape: per-cluster adaptive
    * salting (Dedup.saltCensus) spreads each cluster's pair space over
    * ceil(size/maxClusterRows)×saltBuckets reducers, so one hot cluster
    * can't pin the stage, and the skew is logged, not silent.
    */
  def clusteredCosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
                           clusterCol: String, threshold: Double,
                           saltBuckets: Int = 8,
                           maxClusterRows: Int = 4096): DataFrame = {
    val (salts, _) = Dedup.saltCensus(corpus, Seq(clusterCol), saltBuckets, maxClusterRows)
    val t = fanout(corpus.select(col(clusterCol).as("__cl"), col(idCol).as("id"),
        asDouble(col(vecCol)).as("v")))
      .join(broadcast(salts.withColumnRenamed(clusterCol, "__cl")), Seq("__cl"))
    val a = t.select(col("__cl"), col("id").as("id_a"), col("v").as("va"),
        pmod(xxhash64(col("id")), col("__salt_n")).as("salt"))
    val b = t.select(col("__cl"), col("id").as("id_b"), col("v").as("vb"),
        explode(sequence(lit(0L), col("__salt_n") - 1)).as("salt"))
    a.join(b, Seq("__cl", "salt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Brute-force top-k via the bounded `TopKAggregator` instead of a
    * window: partial top-k heaps merge map-side, so the exchange moves
    * k rows per (query, partition) rather than every scored pair —
    * at 1000 executors that is the difference between shuffling k·P
    * rows and shuffling the whole n·q score matrix. Output is identical
    * to bruteForceTopK (same ordering contract), so it shares the
    * oracle.
    */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv")))
    val c = fanout(corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv")))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    val crossed = q.crossJoin(c)
    (if (excludeSelf) crossed.filter(col("query_id") =!= col("neighbor_id"))
     else crossed)
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("entry._1").as("neighbor_id"),
        round(col("entry._2"), 6).as("sim"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most similar corpus vectors with a DIFFERENT
    * label — the highest-value negatives a contrastive loss can see.
    *
    * Scale shape: identical to `bruteForceTopKAgg` (queries broadcast,
    * one corpus scan, bounded `TopKAggregator` partial heaps shuffling k
    * rows per (query, partition)), with the label-inequality filter
    * applied BEFORE the cosine so same-label candidates die without
    * being scored. NULL labels on either side disqualify the pair
    * (SQL `<>` semantics — an unlabeled vector is neither a positive
    * nor a safe negative).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"), asDouble(col(vecCol)).as("qv")))
    val c = fanout(corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__cl"), asDouble(col(vecCol)).as("cv")))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    q.crossJoin(c)
      .filter(col("__ql") =!= col("__cl"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("entry._1").as("neighbor_id"),
        round(col("entry._2"), 6).as("sim"))
  }

  /** Margin-based cross-corpus pair mining (the Artetxe & Schwenk ratio
    * margin, the CCMatrix/LASER bitext-mining score): for each source
    * vector, its best target match scored by
    * `margin = 2·cos(x,y) / (avg_k cos(x, NN_k(x,T)) + avg_k cos(y, NN_k(y,S)))`
    * — raw cosine over-mines hubs (vectors close to everything); the
    * margin normalizes by both endpoints' neighborhood density, which
    * is what makes mined pairs usable as training data. Pairs at or
    * above `minMargin` are emitted.
    *
    * Scale shape: both kNN directions are the bounded `TopKAggregator`
    * scan (k-row partial heaps, no score-matrix shuffle); the margin
    * math then joins three MODEL-SIZED frames (best-match pairs + two
    * per-id neighborhood averages) — the corpora themselves are never
    * exchanged. At 100 TB the two exact kNN stages swap for the IVF
    * layout search (`ivfTopKFromLayout`) — the margin math downstream
    * is identical.
    *
    * Output: (src_id, tgt_id, sim 6dp, margin 6dp). Margins compute
    * over the 6dp-rounded sims so the SQL oracle can reproduce them
    * bit-for-bit.
    */
  def marginMinePairs(src: DataFrame, tgt: DataFrame, idCol: String,
                      vecCol: String, k: Int = 4,
                      minMargin: Double = 1.0): DataFrame = {
    val fwd = bruteForceTopKAgg(tgt, src, idCol, vecCol, k, excludeSelf = false)
    val bwd = bruteForceTopKAgg(src, tgt, idCol, vecCol, k, excludeSelf = false)
    val srcAvg = fwd.groupBy(col("query_id").as("src_id"))
      .agg(avg(col("sim")).as("src_avg"))
    val tgtAvg = bwd.groupBy(col("query_id").as("tgt_id"))
      .agg(avg(col("sim")).as("tgt_avg"))
    fwd.filter(col("rank") === 1)
      .select(col("query_id").as("src_id"),
        col("neighbor_id").as("tgt_id"), col("sim"))
      .join(srcAvg, Seq("src_id"))
      .join(tgtAvg, Seq("tgt_id"))
      .withColumn("margin",
        round(lit(2) * col("sim") / (col("src_avg") + col("tgt_avg")), 6))
      .filter(col("margin") >= minMargin)
      .select(col("src_id"), col("tgt_id"), col("sim"), col("margin"))
  }

  /** Random-hyperplane LSH near-dup pairs: each vector is sketched into
    * `bands` keys of `rowsPerBand` sign bits (sign of the dot product
    * with a seeded Gaussian hyperplane — collision probability
    * 1 - angle/π per bit); vectors sharing any band key become
    * candidates, verified with exact cosine. Same narrow-candidate shape
    * as MinHash-LSH: the band join exchanges (id, key) only. Pruning
    * power depends on the angular gap between target pairs and the
    * background: in a true near-dup regime (cos ≥ 0.8 targets vs ~0.2
    * background) the bands separate sharply; when the gap is narrow
    * (e.g. threshold 0.4 over background 0.3, as in the testdata) most
    * pairs collide somewhere and the operator honestly degenerates
    * toward the exact all-pairs cost. Both regimes are exercised: q49
    * runs the separable planted-duplicate case (16 sign bits/band ⇒
    * near-zero background collisions, deterministic output under a full
    * DuckDB gate), and SimilaritySpec pins the narrow-gap recall floor.
    * In the identical-vector limit recall is exactly 1.0 — equal inputs
    * agree on every sign bit, so they collide in every band.
    *
    * Skew guard: the band self-join is SALTED on hot keys. A degenerate
    * band (many near-identical or zero-norm vectors hashing to one band
    * key) is a quadratic hot key that would pin one reducer at scale —
    * `Dedup.hotKeySaltCensus` collects only the bands larger than
    * `maxBandRows` (band keys are high-cardinality, so a FULL census
    * collect would be O(data) on the driver; the degenerate regime by
    * construction collapses many rows into few keys, so the hot subset
    * stays driver-sized), and those bands fan their pair space over
    * ceil(size/maxBandRows)×saltBuckets reducers with the
    * `blockedJaccardPairs` a-salted/b-replicated scheme: each pair
    * still meets exactly once, so the candidate set — and therefore
    * the output — is salting-invariant (pinned in SimilaritySpec).
    * Cold bands coalesce to one salt slice and pay nothing.
    */
  def rhpCosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, bands: Int = 24, rowsPerBand: Int = 4,
                     seed: Long = 7L, saltBuckets: Int = 8,
                     maxBandRows: Int = 4096): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(bands * rowsPerBand)(Array.fill(dim)(rnd.nextGaussian()))

    val base = fanout(corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")))
    def bandKey(b: Int): Column = {
      val bits = (0 until rowsPerBand).map { r =>
        val plane = typedlit(planes(b * rowsPerBand + r))
        // sign(dot) == sign(cosine): skip the norms on the sketch path
        shiftleft(when(ArrayOps.dot(col("v"), plane) >= 0, 1L).otherwise(0L), r)
      }
      xxhash64(lit(b), bits.reduce(_.bitwiseOR(_)))
    }
    // Materialize the narrow (id, band-key) relation ONCE: three
    // consumers read it (the census and both join sides), and each
    // would otherwise re-scan the corpus and re-run the sketch kernel —
    // at 100 TB that is three full-corpus passes traded for
    // checkpointing a relation ~1% of the corpus bytes (the
    // `nearDupComponents` reasoning).
    val keys = base.select(col("id"),
      explode(array((0 until bands).map(bandKey): _*)).as("key"))
      .cutLineage
    // The census is a narrow per-key partial count over the checkpoint —
    // at 100 TB that is the price of KNOWING the skew before committing
    // the pair stage to it; hot keys land in the logs, not a straggler.
    val (hotSalts, hotRows) =
      Dedup.hotKeySaltCensus(keys, "key", saltBuckets, maxBandRows)
    if (hotRows.nonEmpty) {
      val desc = hotRows.take(20)
        .map(r => s"key=${r.get(0)} salt=${r.getLong(1)}").mkString("; ")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"rhpCosinePairs: hot bands re-salted (cap=$maxBandRows): $desc")
    }
    val keyed = keys.join(broadcast(hotSalts), Seq("key"), "left")
      .withColumn("__salt_n", coalesce(col("__salt_n"), lit(1L)))
    val a = keyed.select(col("key"), col("id").as("id_a"),
      pmod(xxhash64(col("id")), col("__salt_n")).as("salt"))
    val b = keyed.select(col("key"), col("id").as("id_b"),
      explode(sequence(lit(0L), col("__salt_n") - 1)).as("salt"))
    val cand = a.join(b, Seq("key", "salt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** EXACT all-pairs cosine over SPARSE term-frequency document vectors
    * via prefix filtering (the AllPairs/PPJoin family — Bayardo, Ma &
    * Srikant WWW'07; Xiao et al.) — the third leg of the pairs stack:
    * dense-exact (`cosinePairs`, O(n²) with a loud guard),
    * dense-approximate (`rhpCosinePairs`, banded, recall-gated), and
    * sparse-exact here, where a PROVABLE pruning bound — not a sketch —
    * kills the quadratic term, so the output carries a full DuckDB hash
    * gate instead of a recall floor.
    *
    * Each document becomes a unit-normalized smooth TF-IDF vector over
    * word n-gram features (idf = ln((N+1)/(df+1)) + 1 — q72's formula,
    * whose DuckDB parity is already proven; n-grams are the dedup
    * stack's shingle convention). BOTH choices are what make prefix
    * filtering bite: prefix pruning only works when each document owns
    * some rare, high-mass features. Unigrams over a small shared
    * vocabulary have neither (on the testdata corpus every word's df is
    * ~0.77·N — measured: 59M raw candidates from 5000 docs, i.e. the
    * full inverted-index join), and raw TF without IDF parks the norm
    * mass on boilerplate terms so the prefix extends into the
    * huge-postings end of the vocabulary. n-gram features make the
    * space sparse enough for documents to own rare features; IDF keeps
    * the norm mass on them.
    * Terms get a global rarest-first order (rank 1 = smallest df). The
    * rank sort is over the vocabulary, and under Zipf trigram TYPES grow
    * near-linearly with the corpus — so the rank itself must distribute:
    * it runs through `Profile.exactRank`'s two-phase (df, term-prefix)
    * bin machinery (bin census → broadcast exclusive prefix → per-bin
    * local row_number), never a single-partition window. Per document, `ssq(t)` = the squared norm of its
    * rank-suffix from term t inclusive; the PREFIX is the rare end
    * where `ssq ≥ threshold²`. Only prefixes are indexed;
    * probing happens with FULL postings (the asymmetric AllPairs
    * scheme). Completeness: take a qualifying pair (a,b), cos ≥ t, and
    * its rarest shared term t*. If t* were outside b's prefix then by
    * Cauchy-Schwarz cos(a,b) ≤ ‖a‖·‖b_{rank ≥ rank(t*)}‖ =
    * √ssq_b(t*) < t — contradiction. So some shared term is in b's
    * prefix (symmetrically a's), and the full(a) ⋈ prefix(b) term join
    * meets the pair. The prefix test keeps a 1e-9 slack so a borderline
    * float in the running suffix sum can only ADMIT an extra candidate
    * (re-verified exactly), never drop a qualifying one.
    *
    * Scale shape: postings shuffle as (rank, id) — 16 bytes/row, text
    * never moves past the tf stage. df=1 terms are dropped from BOTH
    * postings sides (a term in one document meets nobody; under Zipf
    * that is a large fraction of postings rows) but stay in the vectors,
    * which the exact verify walks with the codegen
    * [[graft.expressions.SparseDotSortedLongs]] merge kernel. The
    * frequent-term postings that make naive inverted-index joins
    * quadratic are exactly the terms prefix filtering keeps OUT of the
    * index: a stopword carries ~no per-doc norm mass, so it appears in
    * ~no prefixes, and its full-postings rows meet only the rare
    * prefix-side rows. Residual hot ranks are re-salted through
    * `Dedup.hotKeySaltCensus` (full side salted, prefix side
    * replicated — each pair meets exactly once, so the candidate set is
    * salting-invariant). The tf relation is checkpointed once for its
    * two consumers (df and the weighted join); the flagged postings
    * relation once for its three (both join sides + the vector roll-up,
    * whose groupBy reuses the window's id-hash partitioning).
    */
  def sparseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, n: Int = 3, saltBuckets: Int = 8,
                        maxTermRows: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0 && threshold <= 1,
      s"sparseCosinePairs: threshold must be in (0, 1], got $threshold " +
        "(at 0 the prefix is the whole vector and the join is the naive " +
        "quadratic inverted index)")
    val base = fanout(docs.select(col(idCol).as("id"), col(textCol).as("text")))
    // Word n-gram features, the dedup stack's shingle convention
    // (DedupQueries.shingleCte): docs shorter than n words contribute
    // their whole text as a single feature, so exact-dup short docs
    // still pair. NULL text falls through to an array(NULL) whose term
    // the filter drops — the doc simply has no vector, like the oracle.
    // wordNgrams, NOT slice-per-index-in-lambda: the latter re-splits
    // the text per element (see the wordBigrams Scaladoc).
    val grams = graft.functions.TextFunctions.wordNgrams(col("text"), n)
    val tf = base
      .select(col("id"), explode(grams).as("term"))
      .filter(col("term").isNotNull && col("term") =!= "")
      .groupBy("id", "term").agg(count(lit(1)).cast("double").as("tf"))
      .cutLineage
    val nDocs = broadcast(docs.agg(count(lit(1)).as("nd")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // Rarest-first term rank — DISTRIBUTED (Profile.exactRank's
    // two-phase (df, term-prefix) bins): under Zipf the n-gram
    // vocabulary grows near-linearly with the corpus, so a naive
    // `row_number() OVER (ORDER BY df, term)` would funnel a
    // corpus-scale relation through one sorting task. Pinned equal to
    // the single-window formulation in SimilaritySpec; PlanSpec pins
    // that no unpartitioned window sits on the vocab path.
    val ranks = Profile.exactRank(dfreq, "df", "term", "rank")
    // q72's smooth idf, token-for-token (the proven-parity expression).
    val tw = tf.join(ranks, Seq("term")).crossJoin(nDocs)
      .select(col("id"), col("rank"), col("df"), (col("tf") *
        (log((col("nd") + 1).cast("double") / (col("df") + 1)) + 1)).as("tw"))
    val nrm = tw.groupBy("id").agg(sqrt(sum(col("tw") * col("tw"))).as("nn"))
    val winDesc = Window.partitionBy("id").orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = tw.join(nrm, Seq("id"))
      .select(col("id"), col("rank"), col("df"), (col("tw") / col("nn")).as("w"))
      .withColumn("ssq", sum(col("w") * col("w")).over(winDesc))
      .cutLineage
    val full = flagged.filter(col("df") >= 2).select(col("rank"), col("id"))
    val pref = flagged.filter(col("df") >= 2 &&
        col("ssq") >= lit(threshold * threshold - 1e-9))
      .select(col("rank"), col("id"))
    val (hotSalts, hotRows) =
      Dedup.hotKeySaltCensus(full, "rank", saltBuckets, maxTermRows)
    if (hotRows.nonEmpty) {
      val desc = hotRows.take(20)
        .map(r => s"rank=${r.get(0)} salt=${r.getLong(1)}").mkString("; ")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"sparseCosinePairs: hot terms re-salted (cap=$maxTermRows): $desc")
    }
    val f = full.join(broadcast(hotSalts), Seq("rank"), "left")
      .withColumn("__salt_n", coalesce(col("__salt_n"), lit(1L)))
      .select(col("rank"), col("id").as("id_f"),
        pmod(xxhash64(col("id")), col("__salt_n")).as("salt"))
    val p = pref.join(broadcast(hotSalts), Seq("rank"), "left")
      .withColumn("__salt_n", coalesce(col("__salt_n"), lit(1L)))
      .select(col("rank"), col("id").as("id_p"),
        explode(sequence(lit(0L), col("__salt_n") - 1)).as("salt"))
    val cand = f.join(p, Seq("rank", "salt"))
      .filter(col("id_f") =!= col("id_p"))
      .select(least(col("id_f"), col("id_p")).as("id_a"),
        greatest(col("id_f"), col("id_p")).as("id_b"))
      .distinct()
    val vecs = flagged
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("rank"), col("w")))).as("tv"))
      .select(col("id"),
        transform(col("tv"), x => x.getField("rank")).as("ks"),
        transform(col("tv"), x => x.getField("w")).as("ws"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("ks").as("ka"),
        col("ws").as("wa")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("ks").as("kb"),
        col("ws").as("wb")), Seq("id_b"))
      .withColumn("cos", round(
        ArrayOps.sparseDotSorted(col("ka"), col("wa"), col("kb"), col("wb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Spherical k-means centroids trained driver-side on a bounded,
    * deterministic sample (order by xxhash64(id), take `sampleSize`) —
    * the sample and the resulting nlist×dim model are model parameters,
    * not data, so collecting them is the same move every ANN library
    * makes; the corpus itself is never collected or shuffled. k-means++
    * seeding + `iters` Lloyd rounds on unit vectors (cosine ⇔ dot);
    * an emptied cluster keeps its previous centroid.
    */
  /** Bounded deterministic training sample shared by the IVF and PQ
    * trainers: hash-ordered, NULL vectors dropped (a NULL in the sample
    * would NPE the driver-side k-means), `sampleSize` rows collected as
    * model input.
    */
  private def sampleVectors(corpus: DataFrame, idCol: String, vecCol: String,
                            sampleSize: Int): Array[Array[Double]] =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .orderBy(xxhash64(col("id")))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)

  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, sampleSize: Int = 4096, iters: Int = 5,
                        seed: Long = 11L): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      var ss = 0.0; var i = 0
      while (i < v.length) { ss += v(i) * v(i); i += 1 }
      val inv = if (ss > 0) 1.0 / math.sqrt(ss) else 0.0
      v.map(_ * inv)
    }
    val sample: Array[Array[Double]] =
      sampleVectors(corpus, idCol, vecCol, sampleSize).map(normalize)
    require(sample.length >= nlist,
      s"IVF training needs at least nlist=$nlist vectors, corpus sample has ${sample.length}")

    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    // k-means++ on the unit sphere: D(x) = 1 - maxdot (angular distance proxy).
    val centroids = Array.ofDim[Array[Double]](nlist)
    centroids(0) = sample(rnd.nextInt(sample.length))
    val bestSim = Array.fill(sample.length)(-1.0)
    var c = 1
    while (c < nlist) {
      var i = 0
      while (i < sample.length) {
        val d = dot(sample(i), centroids(c - 1))
        if (d > bestSim(i)) bestSim(i) = d
        i += 1
      }
      val weights = bestSim.map(s => math.max(1e-12, 1.0 - s))
      val total = weights.sum
      var pick = rnd.nextDouble() * total
      var j = 0
      while (j < weights.length - 1 && pick > weights(j)) { pick -= weights(j); j += 1 }
      centroids(c) = sample(j)
      c += 1
    }
    // Lloyd rounds: assign to argmax dot, mean, renormalize.
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nlist)(new Array[Double](sample.head.length))
      val counts = new Array[Int](nlist)
      var i = 0
      while (i < sample.length) {
        var best = 0; var bs = dot(sample(i), centroids(0))
        var cc = 1
        while (cc < nlist) {
          val s = dot(sample(i), centroids(cc))
          if (s > bs) { bs = s; best = cc }
          cc += 1
        }
        val acc = sums(best)
        var d = 0
        while (d < acc.length) { acc(d) += sample(i)(d); d += 1 }
        counts(best) += 1
        i += 1
      }
      var cc = 0
      while (cc < nlist) {
        if (counts(cc) > 0) centroids(cc) = normalize(sums(cc))
        cc += 1
      }
      it += 1
    }
    centroids
  }

  /** The interpreted argmax formulation `ArgTopKCosine` replaced: an
    * nlist-element (sim, centroid_id) struct array built per row from
    * literal centroid vectors, `array_sort`ed ascending (struct ordering
    * is field-by-field), reversed, sliced. Kept ONLY as the reference
    * semantics for ExpressionsSpec's equivalence property — every
    * higher-order function here is an interpreted per-row lambda, which
    * was most of q33's cost.
    */
  private[graft] def sortFormBuckets(centroids: Array[Array[Double]])(
      vec: Column, take: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (cv, i) =>
      struct(cosine(vec, typedlit(cv)).as("s"), lit(i.toLong).as("c"))
    }: _*)
    transform(slice(reverse(array_sort(scored)), 1, take), x => x.getField("c"))
  }

  /** IVF-style approximate top-k. Centroids are spherical-k-means
    * trained on a bounded deterministic sample (`trainIvfCentroids`) and
    * collected to the driver (nlist rows — a model parameter, not
    * data). Corpus vectors are multi-assigned to their `nassign`
    * nearest centroids in a map-side argmax — the fused codegen
    * `ArgTopKCosine` kernel scoring the literal centroid matrix in one
    * loop per row (no join, no shuffle, no per-row struct-array
    * allocation); queries probe their `nprobe` closest buckets.
    * Multi-assignment is the standard redundant-indexing move for
    * boundary vectors: it costs nassign× index size but rescues
    * neighbors that fall just across a Voronoi edge — on clustered data
    * nassign=1 suffices; the isotropic synthetic testdata is the
    * adversarial case and needs 3. Recall vs bruteForceTopK is pinned in
    * SimilaritySpec.
    */
  /** Distributed Lloyd refinement of a spherical k-means model over the
    * FULL corpus — the scale path that turns the bounded-sample
    * `trainIvfCentroids` model into a corpus-fitted one (the same
    * sample-then-refine split every large ANN build uses). Each round
    * is ONE map-side-combined aggregation: assignment is the fused
    * `ArgTopKCosine` codegen kernel against the literal centroid matrix
    * (no shuffle, no join), and per-cluster running means travel as
    * ≤ k×dim `VecMeanAggregator` partials per partition — the corpus
    * never shuffles and the driver only ever holds the k×dim model.
    * Callers own caching the point relation across rounds.
    *
    * Points are unit-normalized MAP-SIDE so the update step (normalized
    * per-cluster mean) is the exact maximizer of the spherical
    * objective Σ cos(x, c_assign(x)) for fixed assignments — which is
    * what makes the objective NON-DECREASING round over round (the
    * q115 referee gate emits any violation). Emptied clusters and
    * zero-mass means keep their previous centroid (objective
    * unchanged); zero vectors score 0 against every centroid and
    * cannot perturb it.
    *
    * Returns (refined centroids, objective per round); objective(r) is
    * evaluated under round r's assignments BEFORE its update — the
    * classic Lloyd telescoping sequence.
    */
  def kmeansRefine(corpus: DataFrame, idCol: String, vecCol: String,
                   init: Array[Array[Double]], iters: Int)
      : (Array[Array[Double]], Array[Double]) = {
    def norml(v: Array[Double]): Array[Double] = {
      var ss = 0.0; var i = 0
      while (i < v.length) { ss += v(i) * v(i); i += 1 }
      if (ss > 0) { val inv = 1.0 / math.sqrt(ss); v.map(_ * inv) } else v
    }
    val nrm = sqrt(aggregate(col("__v"), lit(0.0), (a, x) => a + x * x))
    val pts = fanout(corpus.filter(col(vecCol).isNotNull)
      .select(asDouble(col(vecCol)).as("__v")))
      .withColumn("__u",
        when(nrm > 0, transform(col("__v"), _ / nrm)).otherwise(col("__v")))
      .select(col("__u"))
    var cents = init.map(norml)
    val objs = Array.ofDim[Double](iters)
    var it = 0
    while (it < iters) {
      val rows = lloydRound(pts, cents).collect()
      objs(it) = rows.map(_.getDouble(2)).sum
      val next = cents.clone()
      rows.foreach { r =>
        val m = norml(r.getSeq[Double](1).toArray)
        if (m.exists(_ != 0.0)) next(r.getLong(0).toInt) = m
      }
      cents = next
      it += 1
    }
    (cents, objs)
  }

  /** One Lloyd round as a relation: (bucket, running mean, partial
    * objective) — exposed so the plan shape (fused assignment kernel,
    * map-side vector partials, single k-keyed exchange) is pinnable in
    * SimilaritySpec. `pts` must carry a unit-normalized `__u` column.
    */
  private[graft] def lloydRound(pts: DataFrame,
                                cents: Array[Array[Double]]): DataFrame = {
    val vmean = udaf(new graft.functions.VecMeanAggregator)
    val matrix = typedlit(cents.map(_.toSeq).toSeq)
    // Unit u · unit centroid ⇒ the dot IS the cosine the assignment
    // kernel maximized; one codegen'd projection, no second pass.
    pts
      .withColumn("__b",
        element_at(ArrayOps.argTopKCosine(col("__u"), cents, 1), 1))
      .withColumn("__cs",
        ArrayOps.dot(col("__u"), element_at(matrix, (col("__b") + 1).cast("int"))))
      .groupBy(col("__b"))
      .agg(vmean(col("__u")).as("__m"), sum(col("__cs")).as("__o"))
  }

  /** Sign-bit signature of an embedding: one bit per dimension (set iff
    * the dim is ≥ 0), folded MSB-first into ONE 64-bit word by a
    * shift-or accumulate — a single codegen HOF pass per vector. Past
    * 64 dims the shift wraps deterministically (earlier bits fall off);
    * the shipped corpus is 64-dim so the map is exact.
    */
  def signBits(vec: Column): Column =
    aggregate(vec, lit(0L), (acc, x) =>
      shiftleft(acc, 1).bitwiseOR(when(x >= 0, lit(1L)).otherwise(lit(0L))))

  /** Sign-bit binary-quantization ANN — the cheapest rung of the
    * quantization ladder (float32 → int8 q78 → PQ q81 → 1 bit/dim
    * here): each vector compresses 32× into one Long, candidate
    * shortlisting is Hamming distance (XOR + bit_count — one integer
    * instruction pair per candidate instead of a 64-multiply cosine
    * loop), and only the `shortlist` best per query rerank by EXACT
    * cosine on full vectors. For centered, roughly isotropic
    * embeddings P(bit mismatch) = θ/π per dimension (the RHP/SimHash
    * identity with the coordinate AXES as hyperplanes), so Hamming
    * estimates angle and recall rises with shortlist/k.
    *
    * Scale shape: signatures compute map-side in one corpus pass;
    * queries (id, sig) broadcast; the per-query shortlist runs as
    * bounded TopKAggregator heaps (shortlist rows per query per
    * partition cross the exchange — never a corpus-wide sort); the
    * rerank joins the shortlist BROADCAST against the corpus, so full
    * vectors of non-candidates are read but never scored, and the
    * final top-k window sees ≤ shortlist rows per query.
    */
  def signBitTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int = 64,
      excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    // signBits folds one bit per dimension into ONE 64-bit word; past
    // 64 dims earlier bits shift off silently and the Hamming
    // shortlist degrades with no error. Loud-fail out-of-contract
    // input (house convention: bradleyTerry, readTokenShards) via a
    // one-row probe — never a corpus scan.
    corpus.select(size(col(vecCol)).as("d")).head(1).foreach { r =>
      require(r.getInt(0) <= 64,
        s"signBitTopK: ${r.getInt(0)}-dim vectors exceed the one-word " +
          "64-bit signature — use the RHP-LSH path (random hyperplanes " +
          "pick the signature width independently of dimension) instead")
    }
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      signBits(col(vecCol)).as("qsig")))
    val c = fanout(corpus.select(col(idCol).as("neighbor_id"),
      signBits(col(vecCol)).as("csig")))
    val crossed = q.crossJoin(c)
    val cand = (if (excludeSelf)
        crossed.filter(col("query_id") =!= col("neighbor_id"))
      else crossed)
      .withColumn("ham",
        bit_count(col("qsig").bitwiseXOR(col("csig"))).cast("double"))
    val topm = udaf(new graft.functions.TopKAggregator(shortlist))
    val short = cand
      .groupBy("query_id")
      .agg(topm(col("neighbor_id"), -col("ham")).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e._1").as("neighbor_id"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cv.join(broadcast(short), Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
              nassign: Int = 3, excludeSelf: Boolean = true): DataFrame =
    ivfTopKWithCentroids(corpus, queries, idCol, vecCol, k,
      trainIvfCentroids(corpus, idCol, vecCol, nlist, iters = 10),
      nprobe, nassign, excludeSelf)

  /** `ivfTopK` against an EXPLICIT centroid model — the search half on
    * its own, for callers that already hold a trained/persisted model
    * (the q107 append gate compares this against the appended layout
    * under the layout's own centroids).
    */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           centroids: Array[Array[Double]], nprobe: Int = 4,
                           nassign: Int = 3,
                           excludeSelf: Boolean = true): DataFrame = {
    def nearestBuckets(vec: Column, take: Int): Column =
      ArrayOps.argTopKCosine(vec, centroids, take)

    val c = fanout(corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv")))
      .withColumn("bucket", explode(nearestBuckets(col("cv"), nassign)))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("bucket", explode(nearestBuckets(col("qv"), nprobe)))

    rankBucketCandidates(broadcast(q).join(c, Seq("bucket")), k, excludeSelf)
  }

  /** Shared scoring/ranking tail of the two IVF paths (in-flight and
    * persisted layout): score, dedup multi-assignment collisions, rank
    * with the deterministic (sim desc, neighbor_id) tie-break. Keeping
    * it shared is what makes the q102 empty-diff gate a meaningful
    * statement about the LAYOUT, not about incidental tail drift.
    */
  private def rankBucketCandidates(joined: DataFrame, k: Int,
                                   excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    // A neighbor multi-assigned into several probed buckets collides more
    // than once — dedup the scored candidates before ranking (the
    // distinct exchanges only the narrow (query, neighbor, sim) triple).
    (if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id")) else joined)
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .distinct()
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Persists the corpus partitioned by its `nassign`-nearest IVF
    * buckets — the durable form of `ivfTopK`'s in-flight index. At
    * 100 TB the layout IS the ANN index: bucket assignment is paid once
    * at write time (one map-side kernel pass), and every search after
    * that reads only its probed partitions. The trained centroids are
    * stored WITH the index (`_graft_ivf_centroids.json`, underscore
    * prefix → invisible to the parquet reader) so a search needs
    * neither the original corpus nor a retrain at query time —
    * `Double.toString`/`parseDouble` round-trips doubles exactly, so
    * the persisted model is bit-identical to the trained one.
    */
  def writeIvfLayout(corpus: DataFrame, idCol: String, vecCol: String,
                     dir: String, nlist: Int, nassign: Int = 3): Unit = {
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, nlist, iters = 10)
    fanout(corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv")))
      .withColumn("bucket",
        explode(ArrayOps.argTopKCosine(col("cv"), centroids, nassign)))
      .withColumn("bucket", col("bucket").cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    val json = centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    // The model file lives WHERE THE INDEX LIVES: resolved through the
    // Hadoop FS API like the parquet beside it, so any URI the layout
    // accepts (HDFS, S3, local) carries its centroids too — java.nio
    // would have written to the driver's local disk on a real cluster.
    val path = centroidsPath(dir)
    val fs = path.getFileSystem(
      corpus.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** REBALANCE a persisted IVF layout — the maintenance op for
    * DISTRIBUTION DRIFT: `appendIvfLayout` deliberately freezes the
    * trained centroids (retraining under an append would shift every
    * stored vector's bucket), so as the corpus drifts the centroids
    * stop describing it and probe recall decays (the q352-family
    * monitors exist to catch exactly this). Rebalancing retrains the
    * centroids on the CURRENT stored corpus (same bounded
    * deterministic sample as any build) and rewrites the layout under
    * the new model into `destDir` — blue/green: the old layout serves
    * reads until the caller swaps, nothing is ever rebuilt in place
    * under a reader. Cost: one scan of the stored index bytes + a
    * model-sized retrain — never a touch of the original corpus.
    */
  def rebalanceIvfLayout(spark: org.apache.spark.sql.SparkSession,
      srcDir: String,
      destDir: String, nlist: Int, nassign: Int = 3): Unit = {
    require(srcDir != destDir,
      "rebalanceIvfLayout: rebuild blue/green into a DIFFERENT dir - an " +
        "in-place rewrite would yank the layout out from under readers")
    val store = spark.read.parquet(srcDir)
      .select(col("neighbor_id"), col("cv"))
      .dropDuplicates("neighbor_id") // stored once per nassign bucket
    writeIvfLayout(store, "neighbor_id", "cv", destDir, nlist, nassign)
  }

  /** Incremental index maintenance: assign NEW vectors with the
    * layout's PERSISTED centroids (no retrain, no rewrite of existing
    * rows) and append them into the bucket partitions. This is the
    * daily-increment half of the ANN story (q96/q99's shape pointed at
    * the index): a 100 TB index absorbs a day's vectors as one map-side
    * kernel pass + a partition-local append — rebuilding would re-scan
    * everything, and re-TRAINING would silently shift every existing
    * vector's bucket assignment out from under the stored layout. The
    * q107 gate pins append ≡ in-flight-search-on-the-union under the
    * same model.
    */
  def appendIvfLayout(layoutDir: String, newVecs: DataFrame, idCol: String,
                      vecCol: String, nassign: Int = 3): Unit = {
    val centroids = readIvfCentroids(layoutDir,
      newVecs.sparkSession.sparkContext.hadoopConfiguration)
    fanout(newVecs.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv")))
      .withColumn("bucket",
        explode(ArrayOps.argTopKCosine(col("cv"), centroids, nassign)))
      .withColumn("bucket", col("bucket").cast("int"))
      .write.mode("append").partitionBy("bucket").parquet(layoutDir)
  }

  /** RIGHT-TO-BE-FORGOTTEN purge: drop `ids`' stored vectors from every
    * bucket partition of a persisted IVF layout (a vector is stored
    * once per `nassign` bucket — all copies go). Victim-partition
    * rewrite: only buckets holding a victim are rewritten. The trained
    * centroids stay — a k-means centroid is a bounded-sample aggregate
    * over thousands of vectors, model parameters rather than anyone's
    * recoverable data (same standing as the Bloom/KMV sketch params) —
    * but after purging a large fraction, `rebalanceIvfLayout` retrains
    * them anyway. Searches can never return a purged id again: scoring
    * only reads stored rows.
    */
  def purgeIvfLayout(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String, ids: Seq[Long]): Unit = {
    readIvfCentroids(layoutDir,
      spark.sparkContext.hadoopConfiguration) // loud on a non-layout dir
    require(ids.nonEmpty, "purgeIvfLayout: empty id set")
    require(ids.length <= (1 << 20),
      "purgeIvfLayout: more than 2^20 ids - batch the purge")
    if (ids.length > ChangeData.inListMaxIds) {
      // past the IN-list bound the literal plan is itself multi-MB:
      // route through the key-relation join (guide §3 — a broadcast
      // hash join beats a giant literal); results pinned equal in
      // PurgeRoutingSpec
      import spark.implicits._
      purgeIvfLayout(spark, layoutDir, ids.toDF("neighbor_id"))
    } else
      ChangeData.purgeRows(spark, layoutDir, "bucket",
        col("neighbor_id").isInCollection(ids))
  }

  /** `purgeIvfLayout` with the forget-list as a KEY RELATION (first
    * column = vector id) — the domain-level purge shape: millions of
    * victim ids join against the store instead of compiling into an
    * IN-list.
    */
  def purgeIvfLayout(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String, ids: DataFrame): Unit = {
    readIvfCentroids(layoutDir,
      spark.sparkContext.hadoopConfiguration) // loud on a non-layout dir
    ChangeData.purgeRowsKeys(spark, layoutDir, "bucket",
      ids.select(col(ids.columns.head).cast("long").as("neighbor_id")),
      Seq("neighbor_id"))
  }

  private def centroidsPath(layoutDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(layoutDir, "_graft_ivf_centroids.json")

  private[graft] def readIvfCentroids(layoutDir: String,
      conf: org.apache.hadoop.conf.Configuration): Array[Array[Double]] = {
    val path = centroidsPath(layoutDir)
    val fs = path.getFileSystem(conf)
    require(fs.exists(path),
      s"ivfTopKFromLayout: $layoutDir has no _graft_ivf_centroids.json - " +
        "not a writeIvfLayout directory (or written by an older build); rebuild it.")
    val in = fs.open(path)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    json.trim
      .stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
      .map(_.split(",").map(java.lang.Double.parseDouble))
  }

  /** IVF search over a `writeIvfLayout` directory: identical semantics
    * to `ivfTopK` (the centroids stored with the layout are the exact
    * trained model, the multi-assignment is frozen in the partitioning,
    * and the scoring tail is shared), but the corpus side is the
    * bucket-partitioned layout and the probe arrives at the scan as a
    * runtime partition prune — the broadcast query buckets become a
    * dynamicpruning subquery on the partition column (q65's mechanism
    * pointed at an ANN index), so a search touches nprobe/nlist of the
    * stored bytes, with no corpus access and no retrain at query time.
    */
  /** Broadcast `df` only when a bounded row-count probe proves it small
    * enough; past the threshold fall back to a plain (shuffle) join
    * side. An UNCONDITIONAL broadcast of a caller-supplied query set is
    * a driver OOM waiting for the first 10M-query batch job — the
    * probe costs one bounded job (`limit(max+1)`, never a full count)
    * and keeps the common small-batch path on the broadcast + dynamic
    * partition pruning fast path.
    *
    * Deliberately NOT cached/checkpointed before probing: DPP only
    * fires when the build side still carries a selective predicate in
    * its LIVE plan — materializing to an RDD scan here measurably
    * killed the layout partition prune (KnnGraphSpec's prune counter
    * went 1/8 → 8/8 partitions read). The probe therefore re-evaluates
    * the input once; callers pass deterministic projections of stored
    * data, for which the double evaluation is a cheap scan and the
    * probe/join can never disagree.
    */
  private[graft] def broadcastIfSmall(df: DataFrame, maxRows: Int): DataFrame =
    if (df.limit(maxRows + 1).count() <= maxRows) broadcast(df) else df

  def ivfTopKFromLayout(layoutDir: String, queries: DataFrame,
                        idCol: String, vecCol: String,
                        k: Int, nprobe: Int = 4,
                        excludeSelf: Boolean = true,
                        maxBroadcastQueries: Int = 1 << 16): DataFrame = {
    val spark = queries.sparkSession
    val centroids =
      readIvfCentroids(layoutDir, spark.sparkContext.hadoopConfiguration)
    val c = spark.read.parquet(layoutDir)
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("bucket",
        explode(ArrayOps.argTopKCosine(col("qv"), centroids, nprobe)))
      .withColumn("bucket", col("bucket").cast("int"))
    // past the broadcast bound the probe-side partition prune is moot
    // anyway: a huge query batch touches most buckets
    rankBucketCandidates(
      broadcastIfSmall(q, maxBroadcastQueries).join(c, Seq("bucket")),
      k, excludeSelf)
  }

  /** Product-quantization codebooks: plain (non-spherical) L2 k-means
    * per contiguous subspace, trained driver-side on the same bounded
    * deterministic sample strategy as `trainIvfCentroids` — the m ×
    * ksub × (dim/m) model is parameters, not data. k-means++ seeding
    * with D² weighting, `iters` Lloyd rounds, emptied clusters keep
    * their previous codeword. Seeded → fully deterministic.
    */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int, ksub: Int, sampleSize: Int = 4096,
                       iters: Int = 5, seed: Long = 13L): Array[Array[Array[Double]]] = {
    val sample: Array[Array[Double]] =
      sampleVectors(corpus, idCol, vecCol, sampleSize)
    require(sample.nonEmpty, "PQ training needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"PQ needs dim % m == 0, got dim=$dim m=$m")
    require(sample.length >= ksub,
      s"PQ training needs at least ksub=$ksub vectors, sample has ${sample.length}")
    val dsub = dim / m

    def sqDist(a: Array[Double], off: Int, b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dsub) { val d = a(off + i) - b(i); s += d * d; i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    Array.tabulate(m) { j =>
      val off = j * dsub
      val book = Array.ofDim[Array[Double]](ksub)
      book(0) = sample(rnd.nextInt(sample.length)).slice(off, off + dsub)
      val bestD = Array.fill(sample.length)(Double.PositiveInfinity)
      var c = 1
      while (c < ksub) {
        var i = 0
        while (i < sample.length) {
          val d = sqDist(sample(i), off, book(c - 1))
          if (d < bestD(i)) bestD(i) = d
          i += 1
        }
        val total = bestD.sum
        var pick = rnd.nextDouble() * math.max(total, 1e-12)
        var p = 0
        while (p < sample.length - 1 && pick > bestD(p)) { pick -= bestD(p); p += 1 }
        book(c) = sample(p).slice(off, off + dsub)
        c += 1
      }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Int](ksub)
        var i = 0
        while (i < sample.length) {
          var best = 0; var bd = sqDist(sample(i), off, book(0))
          var cc = 1
          while (cc < ksub) {
            val d = sqDist(sample(i), off, book(cc))
            if (d < bd) { bd = d; best = cc }
            cc += 1
          }
          val acc = sums(best)
          var t = 0
          while (t < dsub) { acc(t) += sample(i)(off + t); t += 1 }
          counts(best) += 1
          i += 1
        }
        var cc = 0
        while (cc < ksub) {
          if (counts(cc) > 0) book(cc) = sums(cc).map(_ / counts(cc))
          cc += 1
        }
        it += 1
      }
      book
    }
  }

  /** PQ-encode every corpus vector: trains the codebooks, then ONE
    * map-side codegen pass (`PqEncode`) emits each vector's m codes and
    * squared reconstruction error. At 100 TB this is the index-build
    * scan of every PQ-based ANN system: 64 doubles compress to m bytes
    * of codes and the corpus is never shuffled or collected.
    */
  def pqQuantize(corpus: DataFrame, idCol: String, vecCol: String,
                 m: Int = 8, ksub: Int = 16): DataFrame = {
    val books = trainPqCodebooks(corpus, idCol, vecCol, m, ksub)
    corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("pq", ArrayOps.pqEncode(col("v"), books))
      .select(col(idCol), col("pq.codes").as("codes"),
        col("pq.sq_err").as("sq_err"))
  }

  /** PQ-approximated top-k (asymmetric distance: full-precision queries
    * scored against codeword reconstructions of the corpus). The corpus
    * side carries only its m codes (8 bytes/vector at m=8) — the shape
    * that makes a 100 TB ANN index fit in executor memory; scoring
    * rebuilds each candidate from the literal codebooks (m element_at
    * lookups) and the cosine itself stays in the codegen kernel. Recall
    * vs exact is pinned in SimilaritySpec — isotropic testdata is PQ's
    * adversarial case, like IVF's.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
             excludeSelf: Boolean = true): DataFrame = {
    val books = trainPqCodebooks(corpus, idCol, vecCol, m, ksub)
    val litBooks = typedlit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val coded = fanout(corpus.select(col(idCol).as("neighbor_id"),
        ArrayOps.pqEncode(asDouble(col(vecCol)), books).getField("codes").as("codes")))
      .withColumn("recon",
        flatten(zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (c, j) => element_at(element_at(litBooks, j + 1), (c + 1).cast("int")))))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")))
    val crossed = q.crossJoin(coded)
    // Bounded top-k aggregator, not a window: the candidate stage is the
    // corpus-wide scan, and a window would exchange the whole n·q score
    // matrix into per-query sorts — the exact shape TopKAggregator
    // exists to avoid (k-row partial heaps merge map-side instead).
    val topk = udaf(new graft.functions.TopKAggregator(k))
    (if (excludeSelf) crossed.filter(col("query_id") =!= col("neighbor_id"))
     else crossed)
      .withColumn("sim", cosine(col("qv"), col("recon")))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("entry._1").as("neighbor_id"),
        round(col("entry._2"), 6).as("sim"))
  }

  /** PQ candidate generation + exact rerank — the production PQ search
    * shape: the corpus-wide scan ranks CODES (asymmetric distance, no
    * full vectors in flight), then only the `candidates` survivors per
    * query pay a narrow join to fetch their true vectors for exact
    * scoring. At 100 TB the exact side touches candidates·|Q| rows
    * instead of the corpus. Candidate recall at (m=8, ksub=64, C=100)
    * is 0.98-1.0 on the isotropic testdata (SimilaritySpec pins the
    * floor); end-to-end recall equals candidate recall because the
    * rerank is exact.
    */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, candidates: Int = 100,
                   m: Int = 8, ksub: Int = 64,
                   excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(candidates >= k, s"pqRerankTopK: candidates=$candidates < k=$k")
    val cands = pqTopK(corpus, queries, idCol, vecCol, k = candidates,
        m = m, ksub = ksub, excludeSelf = excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    val truth = fanout(corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv")))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cands.join(truth, Seq("neighbor_id")).join(q, Seq("query_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** SQ8 scalar-quantization ranges: exact per-dimension (min, max)
    * from one posexploded census pass (map-side partial min/max, a
    * d-row collect — model, not data). Loud on constant dimensions
    * widened to a degenerate range: a zero step would make every code
    * 0/0.
    */
  def trainSqRanges(corpus: DataFrame, idCol: String,
      vecCol: String): Array[(Double, Double)] = {
    val rows = corpus.select(asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("d").collect()
    require(rows.nonEmpty, "trainSqRanges: empty corpus")
    rows.map { r =>
      val (lo, hi) = (r.getDouble(1), r.getDouble(2))
      // a constant dim still quantizes (all codes 0) — give it a unit
      // step so dequantize reproduces the constant exactly at code 0
      if (hi > lo) (lo, hi) else (lo, lo + 1.0)
    }
  }

  /** SQ8 codes: per-dim affine quantization to 0..255 stored as
    * tinyint (shifted by −128) — 1 byte/dim, a 4× cut vs float and 8×
    * vs double, with NO codebook training (the practical default rung
    * between raw vectors and PQ on the compression ladder). Roundtrip
    * error per dim is ≤ step/2 by construction (q331 gates it).
    */
  def sqQuantize(corpus: DataFrame, idCol: String, vecCol: String,
      ranges: Array[(Double, Double)]): DataFrame = {
    val los = typedLit(ranges.map(_._1).toSeq)
    val steps = typedLit(ranges.map(r => (r._2 - r._1) / 255.0).toSeq)
    corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
      .withColumn("codes",
        zip_with(zip_with(col("v"), los, (x, l) => x - l), steps,
          (xl, st) => (round(xl / st) - 128).cast("tinyint")))
      .select(col("neighbor_id"), col("codes"))
  }

  /** Dequantized vector from SQ8 codes (literal ranges). */
  def sqDequantize(codes: Column, ranges: Array[(Double, Double)]): Column = {
    val los = typedLit(ranges.map(_._1).toSeq)
    val steps = typedLit(ranges.map(r => (r._2 - r._1) / 255.0).toSeq)
    zip_with(zip_with(codes, steps,
      (c, st) => (c.cast("double") + 128.0) * st), los, (t, l) => t + l)
  }

  /** SQ8 search with exact rerank (the q82 shape on the SQ rung):
    * full-precision queries score DEQUANTIZED codes for a `candidates`
    * shortlist — the scan carries 1 byte/dim — then only the shortlist
    * joins back to true vectors for exact cosine ordering.
    */
  def sqRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, candidates: Int = 100,
      excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(candidates >= k, s"sqRerankTopK: candidates=$candidates < k=$k")
    val ranges = trainSqRanges(corpus, idCol, vecCol)
    val codes = fanout(sqQuantize(corpus, idCol, vecCol, ranges))
      .withColumn("rv", sqDequantize(col("codes"), ranges))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")))
    val topc = udaf(new graft.functions.TopKAggregator(candidates))
    val crossed = q.crossJoin(codes)
    val cands = (if (excludeSelf)
        crossed.filter(col("query_id") =!= col("neighbor_id"))
      else crossed)
      .withColumn("asim", cosine(col("qv"), col("rv")))
      .groupBy("query_id").agg(topc(col("neighbor_id"), col("asim")).as("t"))
      .select(col("query_id"), explode(col("t._1")).as("neighbor_id"))
    val truth = fanout(corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cands.join(truth, Seq("neighbor_id")).join(q, Seq("query_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Johnson–Lindenstrauss random projection: map each vector to
    * `outDim` dimensions with a deterministic ±1/√outDim sign matrix —
    * the standard pre-ANN compression move (64→16 dims cuts every
    * downstream scoring scan 4×, with distortion bounded by JL). The
    * sign matrix is never materialized: entry (k, j) is an arithmetic
    * hash of the flat index (multiply–xorshift–multiply–xorshift, all
    * exact BIGINT ops), so both this operator and the q127 DuckDB
    * oracle can recompute any entry independently — a seeded RNG matrix
    * would be engine-private state and unverifiable. One map-side pass;
    * the corpus never shuffles.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDim: Int): DataFrame = {
    require(outDim >= 1, s"randomProject: outDim must be >= 1, got $outDim")
    def bit(idx: Column): Column = {
      val m32 = lit(4294967296L)
      val x1 = pmod(idx.cast("long") * lit(2654435761L), m32)
      val x2 = x1.bitwiseXOR(shiftright(x1, 16))
      val x3 = pmod(x2 * lit(40503L), m32)
      val x4 = x3.bitwiseXOR(shiftright(x3, 15))
      pmod(x4, lit(2L))
    }
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    df.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(outDim - 1)), k =>
          aggregate(
            zip_with(col("__v"), sequence(lit(0), size(col("__v")) - 1),
              (x, j) => x * when(bit(k * size(col("__v")) + j + 1) === 0,
                lit(1.0)).otherwise(lit(-1.0))),
            lit(0.0), (acc, y) => acc + y) * lit(inv)).as("pv"))
  }

  /** IVF-PQ search — the composition every production 100 TB ANN system
    * ships (FAISS IVFPQ, SCANN's tree-AH): an IVF coarse quantizer
    * prunes the scan to the probed buckets, a PQ asymmetric-distance
    * scan ranks the survivors by their m-byte codes, and only the top
    * `candidates` per query pay an exact rerank against true vectors.
    * Cost shape at scale: the index-build pass encodes each vector once
    * map-side (codes + nassign bucket ids, the vector itself is dropped
    * before any exchange); a search touches nprobe/nlist of the code
    * relation and candidates·|Q| full vectors. Codes are encoded on the
    * RAW vectors (not IVF residuals): residual encoding buys accuracy
    * when nlist is large enough that cells are tight — at the nlist
    * this operator targets the simpler raw-vector ADC keeps the encode
    * pass a pure map and lets the q122 gate referee the recall contract
    * directly. Multi-assignment (`nassign`) makes up the boundary
    * recall that raw-vector coarse pruning loses.
    *
    * Output: (query_id, rank, neighbor_id, sim) — identical contract to
    * `pqRerankTopK`/`ivfTopK`, so the recall referee composes unchanged.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
                nassign: Int = 3, candidates: Int = 100,
                m: Int = 8, ksub: Int = 64,
                excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(candidates >= k, s"ivfPqTopK: candidates=$candidates < k=$k")
    val centroids = trainIvfCentroids(corpus, idCol, vecCol, nlist, iters = 10)
    val books = trainPqCodebooks(corpus, idCol, vecCol, m, ksub)
    val litBooks = typedlit(books.map(_.map(_.toSeq).toSeq).toSeq)

    // Index-build scan: ONE map-side pass computes codes and coarse
    // buckets from the vector, then the vector is dropped — from here to
    // the rerank the corpus flows as (id, codes, bucket), ~m bytes+ids.
    val coded = fanout(corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cv")))
      .select(col("neighbor_id"),
        ArrayOps.pqEncode(col("cv"), books).getField("codes").as("codes"),
        explode(ArrayOps.argTopKCosine(col("cv"), centroids, nassign)).as("bucket"))
      .withColumn("recon",
        flatten(zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (c, j) => element_at(element_at(litBooks, j + 1), (c + 1).cast("int")))))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("bucket",
        explode(ArrayOps.argTopKCosine(col("qv"), centroids, nprobe))))

    // ADC candidate stage: probed-bucket equi-join, codegen cosine on
    // reconstructions, distinct to collapse multi-assignment collisions
    // (ADC sim is a pure function of the codes, so duplicates agree),
    // then bounded per-query heaps — never a corpus-wide window.
    val topk = udaf(new graft.functions.TopKAggregator(candidates))
    val scored = q.join(coded, Seq("bucket"))
    val cands = (if (excludeSelf) scored.filter(col("query_id") =!= col("neighbor_id"))
                 else scored)
      .withColumn("sim", cosine(col("qv"), col("recon")))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .distinct()
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), explode(col("top")).as("entry"))
      .select(col("query_id"), col("entry._1").as("neighbor_id"))

    // Exact rerank: only candidates·|Q| true vectors in flight.
    val truth = fanout(corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv")))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cands.join(truth, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** The interpreted formulation `PqEncode` replaces — per subspace, an
    * argmin over a literal struct array via array_min (struct ordering
    * is field-by-field, so ties resolve to the lowest codeword index,
    * matching the kernel). Reference semantics for the q81 exactness
    * gate and ExpressionsSpec; every lambda here is an interpreted
    * per-row evaluator.
    */
  /** Nearest-centroid classification: per-label centroids from `train`
    * (map-side VecMeanAggregator partials — train rows never shuffle),
    * broadcast to `test`, cosine-scored per row, argmax via a
    * max-of-struct aggregation whose partial collapses each test vector
    * to one candidate per partition before the (tiny) final exchange.
    * Ties break to the lowest label via the negated-label struct field.
    *
    * Output: idCol, true_label, pred_label, sim (6 dp).
    */
  def nearestCentroid(train: DataFrame, test: DataFrame,
                      idCol: String, vecCol: String,
                      labelCol: String): DataFrame = {
    val vmean = udaf(new graft.functions.VecMeanAggregator)
    val cents = broadcast(
      train.filter(col(vecCol).isNotNull)
        .select(col(labelCol).as("pred_label"), asDouble(col(vecCol)).as("tv"))
        .groupBy("pred_label").agg(vmean(col("tv")).as("cv")))
    test.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(labelCol).as("true_label"),
        asDouble(col(vecCol)).as("v"))
      .crossJoin(cents)
      .withColumn("cs", cosine(col("v"), col("cv")))
      .groupBy(col(idCol))
      .agg(max(struct(col("cs"), (-col("pred_label")).as("neg_label"),
        col("pred_label"), col("true_label"))).as("m"))
      .select(col(idCol), col("m.true_label").as("true_label"),
        col("m.pred_label").as("pred_label"),
        round(col("m.cs"), 6).as("sim"))
  }

  private[graft] def pqEncodeSortForm(books: Array[Array[Array[Double]]])(
      vec: Column): Column = {
    val dsub = books.head.head.length
    val perSub = books.zipWithIndex.map { case (book, j) =>
      val sub = slice(vec, j * dsub + 1, dsub)
      val scored = array(book.zipWithIndex.map { case (cw, c) =>
        struct(
          aggregate(zip_with(sub, typedlit(cw.toSeq), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, d) => acc + d).as("d"),
          lit(c.toLong).as("c"))
      }: _*)
      array_min(scored).getField("c")
    }
    array(perSub: _*)
  }
}
