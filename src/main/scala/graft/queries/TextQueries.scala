package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Checkpoints.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis battery: language-ID heuristic, quality scoring, token
  * statistics, rolling-hash fingerprinting — all pure column expressions
  * (codegen'd, one scan each) with exact DuckDB mirrors.
  */
object TextQueries {
  import RelationalQueries.Q

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** Referee for an approximate percentile: joins claimed (group, value,
    * n) stats back to the data, computes the value's exact rank range
    * [rank_lt+1, rank_lt+n_eq], and emits every group where the claim
    * is not a real element (n_eq = 0) or its rank range misses the
    * ±n/acc window around p·n — the exact guarantee
    * `percentile_approx` publishes. Exposed for the spec to feed a
    * corrupted stats frame and prove the referee fires.
    */
  private[graft] def percentileViolations(d: DataFrame, groupCol: String,
      valCol: String, stats: DataFrame, p: Double, acc: Int): DataFrame =
    d.join(stats, Seq(groupCol))
      .groupBy(col(groupCol), col("v"), col("n"))
      .agg(sum(when(col(valCol) < col("v"), 1L).otherwise(0L)).as("rank_lt"),
        sum(when(col(valCol) === col("v"), 1L).otherwise(0L)).as("n_eq"))
      .withColumn("lo", floor((lit(p) - lit(1.0) / acc) * col("n")))
      .withColumn("hi", ceil((lit(p) + lit(1.0) / acc) * col("n")))
      .filter(col("n_eq") === 0 ||
        (col("rank_lt") + col("n_eq")) < col("lo") ||
        (col("rank_lt") + 1) > col("hi"))
      .select(col(groupCol), col("v"), col("n"), col("rank_lt"), col("n_eq"))

  /** Multiplicative doc-id hash shared by q45/q70/q76 — one definition
    * so the three Spark sites and their DuckDB mirrors
    * (`(doc_id * 2654435761) % 4294967296`) cannot drift apart.
    * Contract: non-negative ids below ~3.4e9 (pmod and `%` agree and
    * the product stays inside Long), which `doc_id` satisfies by
    * construction in this corpus.
    */
  private[queries] def docHash(id: Column): Column =
    pmod(id * lit(2654435761L), lit(4294967296L))

  /** Deterministic SPDX-header fixture shared by q245 and its
    * streaming twin q249 (one definition so the batch plant, the
    * stream plant, and the DuckDB mirror cannot drift): doc_id % 7 = 0
    * gets a header, MIT/Apache-2.0 alternating by doc_id div 7.
    */
  private[graft] def plantSpdxHeaders(df: DataFrame): DataFrame =
    df.filter(col("text").isNotNull)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(lit("// SPDX-License-Identifier: "),
          when(expr("(doc_id div 7) % 2") === 0, "MIT")
            .otherwise("Apache-2.0"),
          lit("\n"), col("text"))).otherwise(col("text")))

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "los", "de", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "une"))

  /** The q159 PSI drift monitor over (lang, bucket) rows, shared with
    * its q312 sensitivity gate: PSI = Σ_buckets (q−p)·ln(q/p) of every
    * non-'en' language against the 'en' baseline, fixed-width buckets,
    * standard 1e-6 clamp for empty buckets. The only corpus-scale work
    * is the map-side-combinable census; the lang × bucket grid and log
    * arithmetic are model-sized.
    */
  private[graft] def psiProfile(d: DataFrame): DataFrame = {
    val base = d.filter(col("lang") === "en")
      .groupBy("bucket").agg(count(lit(1)).as("nb"))
    val nBase = broadcast(d.filter(col("lang") === "en")
      .agg(count(lit(1)).as("n_base")))
    val cand = d.filter(col("lang") =!= "en")
      .groupBy("lang", "bucket").agg(count(lit(1)).as("nc"))
    val nCand = d.filter(col("lang") =!= "en")
      .groupBy("lang").agg(count(lit(1)).as("n_cand"))
    val grid = d.filter(col("lang") =!= "en").select("lang").distinct()
      .crossJoin(d.select("bucket").distinct())
    val sh = grid
      .join(broadcast(base), Seq("bucket"), "left").crossJoin(nBase)
      .join(broadcast(cand), Seq("lang", "bucket"), "left")
      .join(broadcast(nCand), Seq("lang"))
      .select(col("lang"), col("bucket"),
        greatest(coalesce(col("nb"), lit(0L)) / col("n_base"), lit(1e-6))
          .as("p"),
        greatest(coalesce(col("nc"), lit(0L)) / col("n_cand"), lit(1e-6))
          .as("q"))
    sh.groupBy("lang")
      .agg(round(sum((col("q") - col("p")) * log(col("q") / col("p"))), 6)
        .as("psi"))
      .withColumn("band",
        when(col("psi") < 0.1, "stable")
          .when(col("psi") < 0.25, "moderate").otherwise("action"))
      .orderBy("lang")
  }

  val queries: Map[String, Q] = Map(
    // n-gram/stopword language-ID heuristic with a deterministic argmax.
    // All four marker sets are counted by ONE MarkerHits kernel pass per
    // document (the fused array replaces four alternation-regex scans).
    "q27_lang_id" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("mh", markerHitsAll(col("text"), markers.map(_._2)))
      val scored = markers.zipWithIndex.foldLeft(d) { case (df, ((lg, _), i)) =>
        df.withColumn(s"s_$lg", element_at(col("mh"), i + 1))
      }
      scored.select(col("doc_id"), col("lang"),
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de")
            && col("s_en") >= col("s_fr"), "en")
            .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
            .when(col("s_de") >= col("s_fr"), "de")
            .otherwise("fr").as("predicted_lang"),
          col("s_en"), col("s_es"), col("s_de"), col("s_fr"))
        .orderBy("doc_id")
    }),

    // Mixed-language (code-switching) detection — the document-level
    // QC that catches concatenation artifacts (a crawler gluing an
    // English page to its Spanish footer) which a WHOLE-document
    // language vote hides: q27's marker argmax is applied separately to
    // the first and second half of the token stream, and the halves
    // must agree. Same fused one-pass MarkerHits kernel per half
    // (map-side, zero shuffle before the presentation sort); the
    // corpus has no natural code-switching, so every 20th document is
    // PLANTED with a Spanish-marker tail (the q104 fixture pattern) and
    // the oracle mirrors the plant.
    "q174_mixed_lang" -> ((s, dir) => {
      val esTail = " el la los de que" * 8
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 20 === 0, concat(col("text"), lit(esTail)))
          .otherwise(col("text")))
      val w = words(col("text"))
      val k = expr("(size(split(text, ' ')) + 1) div 2")
      val half1 = array_join(slice(w, lit(1), k), " ")
      val half2 = array_join(slice(w, k + 1, greatest(size(w) - k, lit(0))),
        " ")
      def vote(prefix: String) =
        when(col(s"${prefix}_en") >= col(s"${prefix}_es") &&
            col(s"${prefix}_en") >= col(s"${prefix}_de") &&
            col(s"${prefix}_en") >= col(s"${prefix}_fr"), "en")
          .when(col(s"${prefix}_es") >= col(s"${prefix}_de") &&
            col(s"${prefix}_es") >= col(s"${prefix}_fr"), "es")
          .when(col(s"${prefix}_de") >= col(s"${prefix}_fr"), "de")
          .otherwise("fr")
      val scored = planted
        .withColumn("m1", markerHitsAll(half1, markers.map(_._2)))
        .withColumn("m2", markerHitsAll(half2, markers.map(_._2)))
      val named = markers.zipWithIndex.foldLeft(scored) {
        case (df, ((lg, _), i)) =>
          df.withColumn(s"h1_$lg", element_at(col("m1"), i + 1))
            .withColumn(s"h2_$lg", element_at(col("m2"), i + 1))
      }
      named.select(col("doc_id"), vote("h1").as("lang_first"),
          vote("h2").as("lang_second"))
        .withColumn("mixed", col("lang_first") =!= col("lang_second"))
        .orderBy("doc_id")
    }),

    // Quality scoring: token count, chars/token, stopword ratio, flag.
    "q28_quality_score" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(words(col("text"))).cast("bigint"))
        .withColumn("stop_hits", markerHits(col("text"), markers.head._2).cast("bigint"))
      d.select(col("doc_id"), col("n_tokens"),
          round(length(col("text")).cast("double") / col("n_tokens"), 6)
            .as("chars_per_token"),
          round(col("stop_hits").cast("double") / col("n_tokens"), 6)
            .as("stop_ratio"),
          (col("n_tokens") >= 20 && col("stop_hits") > 0).as("keep"))
        .orderBy("doc_id")
    }),

    // Corpus token statistics by language: whitespace tokens plus a
    // BPE-ish segmentation (letter runs / digit runs / single
    // punctuation — the pre-tokenization shape BPE vocabularies use),
    // counted by the one-pass SubwordCount kernel (the regex form it
    // replaces re-scanned every document with interpreted machinery).
    "q29_token_stats" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("n_tokens", size(words(col("text"))).cast("bigint"))
        .withColumn("n_subwords",
          graft.expressions.TextOps.subwordCount(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum("n_subwords").as("total_subwords"),
          round(avg("n_tokens"), 6).as("avg_tokens"),
          max("n_tokens").as("max_tokens"))
        .orderBy("lang")
    }),

    // Rolling-hash document fingerprint (mod 1e9+7 over codepoints).
    "q30_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), fingerprint("text").as("fp"))
        .orderBy("doc_id")
    }),

    // Deterministic stratified train/val/test split: multiplicative-hash
    // bucket per doc (stable across engines/runs — a sampling decision a
    // 100 TB pipeline must be able to reproduce), stratified counts per
    // lang prove the proportions.
    "q45_split_assign" -> ((s, dir) => {
      val bucket = docHash(col("doc_id")) % 100
      docs(s, dir)
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"))
        .orderBy("lang", "split")
    }),

    // Exact interpolated quantiles of document length per language —
    // the oracle default. `lengthQuantiles(_, approx = true)` is the
    // 100 TB path (see its doc); its error contract is pinned in
    // TextFunctionsSpec.
    "q46_length_quantiles" -> ((s, dir) => lengthQuantiles(docs(s, dir), approx = false)),

    // Per-language ADAPTIVE length filter: keep documents inside their
    // own language's [p05, p95] length band — fixed length thresholds
    // are wrong across languages (CJK chars ≠ Latin chars), so
    // multilingual pipelines derive the band per language. Composition:
    // the exact interpolated `percentile` (q46 gates its ≡ to DuckDB's
    // quantile_cont; state is bounded by distinct lengths per language,
    // approx_percentile is the documented sketch fallback) produces a
    // language-count-sized bounds dim that BROADCASTS back, and the
    // filter is one map-side corpus scan — the text never shuffles.
    "q98_adaptive_length_filter" -> ((s, dir) => {
      val d = docs(s, dir)
      val bounds = d.groupBy("lang").agg(
        expr("percentile(n_chars, 0.05)").as("lo"),
        expr("percentile(n_chars, 0.95)").as("hi"))
      d.join(broadcast(bounds), "lang")
        .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // PMI collocations (tokenizer/vocab analysis): the top-20 bigrams by
    // pointwise mutual information with a min-count floor — the classic
    // multi-word-expression miner a tokenizer-design pass runs. Scale
    // shape: the corpus pays ONE bigram explode into the model-sized
    // pair-count aggregate (checkpointed once for its four consumers);
    // margins re-aggregate that model table (Σ over one side — never a
    // second corpus pass), broadcast back, and PMI is the ADDITIVE log
    // form ln(nab)+ln(n)-ln(na)-ln(nb) so no count product can overflow
    // a long at 100 TB (DuckDB would auto-promote to HUGEINT; Spark
    // would silently wrap — the sum of logs sidesteps the divergence).
    "q101_pmi_collocations" -> ((s, dir) => {
      val bi = docs(s, dir)
        .select(explode(wordBigramStructs(col("text"))).as("g"))
        .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("nab"))
        .cutLineage
      val ca = c2.groupBy("w1").agg(sum("nab").as("na"))
      val cb = c2.groupBy("w2").agg(sum("nab").as("nb"))
      val n = broadcast(c2.agg(sum("nab").as("n")))
      c2.filter(col("nab") >= 5)
        .join(broadcast(ca), Seq("w1"))
        .join(broadcast(cb), Seq("w2"))
        .crossJoin(n)
        .withColumn("pmi", round(
          log(col("nab")) + log(col("n")) - log(col("na")) - log(col("nb")), 6))
        .select(col("w1"), col("w2"), col("nab"), col("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Token-budget cap per language (mixture design): keep documents in
    // doc_id order while each language's running token total stays
    // ≤ 2000. Implemented as a DISTRIBUTED PREFIX SUM (binned partial
    // sums → tiny bin-prefix table broadcast back → local cumsum), not a
    // per-language window — a plain window funnels each language through
    // ONE task at 100 TB. binSize=100 forces the multi-bin path on the
    // fixture; PackingSpec pins bin-size invariance and ≡ to the
    // single-window formulation.
    "q100_token_budget_cap" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("n_tokens",
        size(split(col("text"), " ")).cast("bigint"))
      graft.operators.Packing.tokenBudgetCap(d, "lang", "doc_id", "n_tokens",
          budget = 2000, binSize = 100)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    }),

    // Temperature-scaled source mixing (mBERT/XLM/T5 sampling, alpha =
    // 0.5): per-language budgets proportional to sqrt(language token
    // total) — en holds ~44% of the corpus tokens but draws only ~31%
    // of the budget, the low-resource languages over-sample — then the
    // q100 per-group cap keeps docs in doc_id order within each derived
    // budget. All arithmetic is integer except the IEEE-exact
    // floor(sqrt(bigint)), so the oracle reproduces the budgets
    // bit-for-bit (see temperatureMix's determinism contract).
    "q179_temperature_mix" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("n_tokens",
        size(split(col("text"), " ")).cast("bigint"))
      graft.operators.Packing.temperatureMix(d, "lang", "doc_id", "n_tokens",
          totalBudget = 8000, binSize = 100)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"),
          col("grp_budget"))
        .orderBy("doc_id")
    }),

    // Deterministic proportional interleave (stride scheduling): the
    // per-language shards merge into one training order occupying every
    // prefix at ~natural-share rates; first 100 slots emitted, per-slot
    // rank windowed over the survivors only. The stride key is one IEEE
    // division of exact integers — engine-identical.
    "q183_stride_interleave" -> ((s, dir) =>
      graft.operators.Packing.proportionalInterleave(
          docs(s, dir), "lang", "doc_id", take = 100, binSize = 100)),

    // Temperature-rate curriculum: the q179 sqrt exponent applied to
    // the ORDER (stride weights floor(sqrt(count))) — low-resource
    // languages surface earlier/oftener than their natural rate; en's
    // slot share in the head flattens from ~44% toward its sqrt share.
    "q187_temperature_interleave" -> ((s, dir) =>
      graft.operators.Packing.proportionalInterleave(
          docs(s, dir), "lang", "doc_id", take = 100, sqrtWeights = true,
          binSize = 100)),

    // Frequent-token downsampling (word2vec's subsample heuristic):
    // head words thin toward sqrt-scaled counts under a deterministic
    // positional-hash coin; the droppable-word set is provably ≤ 1000
    // entries at the default threshold, so the rewrite is a pure
    // map-side array filter against a literal ceiling map — the corpus
    // never shuffles. The oracle restates hash, ceilings, and
    // reassembly in exact integer arithmetic.
    "q182_token_downsample" -> ((s, dir) =>
      graft.operators.Scrub.downsampleFrequentTokens(
          docs(s, dir), "doc_id", "text", thresholdPpb = 1000000000L)
        .orderBy("doc_id")),

    // Distributed BPE-merge learning gate (tokenizer induction): the
    // corpus pays ONE census pass; every merge iteration runs over the
    // vocabulary-sized symbol table (weighted pair aggregate →
    // deterministic 1-row argmax → map-side merge fold). The gate
    // diffs the distributed learner's merge table against the bounded
    // driver-side reference implementation of the same algorithm —
    // empty when the fold, tie-break, and weighting agree exactly
    // (iterative state has no SQL restatement, so the referee is the
    // oracle, the q110/q115 move).
    "q194_bpe_merges_gate" -> ((s, dir) => {
      import graft.operators.Bpe
      val d = docs(s, dir)
      val learned = Bpe.learnMerges(d, "text", numMerges = 12)
      val census = Bpe.wordCensus(d, "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val sp = s
      import sp.implicits._
      val ref = Bpe.learnMergesReference(census, numMerges = 12)
        .toDF("merge_rank", "left", "right", "pair_count")
      learned.exceptAll(ref).withColumn("side", lit("learned_only"))
        .unionAll(ref.exceptAll(learned).withColumn("side", lit("ref_only")))
        .orderBy("merge_rank", "side")
    }),

    // BATCHED BPE-merge learning gate — q194's scale-path sibling: the
    // sequential learner pays one driver round-trip (one Spark job)
    // per merge, which caps practical vocabularies (50k merges = 50k
    // jobs); the batched learner selects up to `batch` mutually
    // symbol-DISJOINT merges per pair census (disjointness keeps each
    // selected pair's count valid under the others' application — the
    // standard batched-BPE compatibility rule) and applies them in one
    // fold, cutting driver round-trips ~batch×. The gate empty-diffs
    // the distributed batched learner against the driver reference
    // extended with the SAME batching rule (identical candidate-cap
    // truncation, greedy scan, tie-breaks); the batched(k=1) ≡
    // sequential law pins in BpeSpec.
    "q308_bpe_batched_gate" -> ((s, dir) => {
      import graft.operators.Bpe
      val d = docs(s, dir)
      val learned = Bpe.learnMergesBatched(d, "text", numMerges = 12,
        batch = 4)
      val census = Bpe.wordCensus(d, "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val sp = s
      import sp.implicits._
      val ref = Bpe.learnMergesBatchedReference(census, numMerges = 12,
          batch = 4)
        .toDF("merge_rank", "round", "left", "right", "pair_count")
      learned.exceptAll(ref).withColumn("side", lit("learned_only"))
        .unionAll(ref.exceptAll(learned).withColumn("side", lit("ref_only")))
        .orderBy("merge_rank", "side")
    }),

    // Deterministic balanced OVERSAMPLING — the upsampling half of
    // mixture design (q70 downsamples to the min; temperature mixing
    // caps budgets; low-resource languages instead REPLICATE toward
    // the max): every doc gets floor(max_n/n_lang) copies, and the
    // remainder spreads by the multiplicative id hash (residue mod
    // n_lang < max_n mod n_lang — deterministic, join-free,
    // oracle-expressible; no per-language rank window anywhere). The
    // fan-out is a map-side sequence explode against two broadcast
    // scalars: the corpus never shuffles to replicate.
    "q201_balanced_oversample" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"))
      val counts = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val maxN = broadcast(counts.agg(max("n_lang").as("max_n")))
      d.join(broadcast(counts), Seq("lang"))
        .crossJoin(maxN)
        .withColumn("copies",
          expr("max_n div n_lang") +
            when(pmod(docHash(col("doc_id")), col("n_lang"))
              < pmod(col("max_n"), col("n_lang")), 1L).otherwise(0L))
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1L), col("copies"))).as("copy_no"))
        .orderBy("doc_id", "copy_no")
    }),

    // Per-language tokenizer-fertility profile — the tokenizer-fairness
    // diagnostic (a BPE trained on a mixed corpus fragments
    // low-resource languages into more subwords per word; the
    // per-language fertility gap IS that bias, measured): q195's
    // per-doc stats reduce to one row per language. Referee-gated like
    // the rest of the BPE family: distributed profile ≡ the driver
    // reference tokenization aggregated the same way.
    "q199_fertility_by_lang" -> ((s, dir) => {
      import graft.operators.Bpe
      val d = docs(s, dir)
      val merges = Bpe.learnMerges(d, "text", numMerges = 12)
        .orderBy("merge_rank")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      // Trained full-corpus; profiled on the q206 half slice.
      val dd = d.filter(col("doc_id") % 2 === 0)
      def profile(stats: DataFrame) = stats
        .join(dd.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_words"), lit(0L)).as("sum_words"),
          coalesce(sum("n_subwords"), lit(0L)).as("sum_subwords"))
        .withColumn("fertility",
          round(col("sum_subwords").cast("double") / col("sum_words"), 6))
      val learned = profile(Bpe.subwordStats(dd, "doc_id", "text", merges))
      val sp = s
      import sp.implicits._
      val refStats = dd.select(col("doc_id"), col("text"))
        .as[(Long, Option[String])].collect().toSeq
        .map { case (id, txt) =>
          val ws = txt.map(_.split(" ", -1).filter(_.nonEmpty)).getOrElse(Array.empty)
          (id, txt.map(_ => ws.length.toLong),
            txt.map(_ => ws.map(w =>
              Bpe.tokenizeReference(w, merges).size.toLong).sum))
        }.toDF("doc_id", "n_words", "n_subwords")
      val ref = profile(refStats)
      learned.exceptAll(ref).withColumn("side", lit("learned_only"))
        .unionAll(ref.exceptAll(learned).withColumn("side", lit("ref_only")))
        .orderBy("lang", "side")
    }),

    // Streaming twin of q195: the merge fold is a pure per-row
    // projection, so tokenization runs stateless at the ingestion door
    // with the corpus-trained merges; the gate diffs the bounded drain
    // against the batch operator (empty — per-row rewrite).
    "q198_stream_bpe_tokenize" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingSubwordStats(s, dir)),

    // Quality-first temperature mixing — the composition a mixture
    // designer actually wants: each language's sqrt-temperature budget
    // (q179) is spent on its BEST documents first, "best" being the
    // q163 fused rank (stopword ratio + length, both through the
    // distributed exact-rank machinery — never a whole-corpus window).
    // The order key packs (-fused_rank_sum, doc_id) into one integer
    // so the per-group prefix sum stays on the exact integer path
    // (unique per doc; doc_id < 2^20 by corpus contract).
    "q197_quality_temperature_mix" -> ((s, dir) => {
      import graft.operators.{Packing, Profile}
      val nTokD = size(words(col("text"))).cast("double")
      val sr = markerHits(col("text"), markers.head._2).cast("double") / nTokD
      val base = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        floor(sr * 1e6).cast("long").as("sr_q"),
        col("doc_id").cast("string").as("tie"))
      val r1 = Profile.exactRank(
        base.select(col("doc_id"), col("sr_q"), col("tie")),
        "sr_q", "tie", "r_stop")
      val r2 = Profile.exactRank(
        base.select(col("doc_id"), col("n_chars"), col("tie")),
        "n_chars", "tie", "r_len")
      val scored = base.select("doc_id", "lang", "n_tokens")
        .join(r1.select("doc_id", "r_stop"), Seq("doc_id"))
        .join(r2.select("doc_id", "r_len"), Seq("doc_id"))
        .withColumn("okey",
          -(col("r_stop") + col("r_len")) * lit(1048576L) + col("doc_id"))
      Packing.temperatureMix(scored, "lang", "okey", "n_tokens",
          totalBudget = 8000)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens"), col("grp_budget"))
        .orderBy("doc_id")
    }),

    // BPE tokenize-apply gate — the consumer side of q194: the learned
    // merge list ships as literals and each word folds through it
    // map-side (the corpus never shuffles); per-doc subword counts and
    // fertility come out of the same projection. The gate diffs the
    // distributed tokenization against the driver reference applied to
    // the collected corpus (bounded gate work; the distributed path is
    // the deployment).
    "q195_bpe_tokenize_gate" -> ((s, dir) => {
      import graft.operators.Bpe
      val d = docs(s, dir)
      val merges = Bpe.learnMerges(d, "text", numMerges = 12)
        .orderBy("merge_rank")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      // Trained full-corpus; the apply≡reference diff runs on the q206
      // deterministic half slice (referee-fixture rationale).
      val dd = d.filter(col("doc_id") % 2 === 0)
      val learned = Bpe.subwordStats(dd, "doc_id", "text", merges)
      val sp = s
      import sp.implicits._
      val ref = dd.select(col("doc_id"), col("text"))
        .as[(Long, Option[String])].collect().toSeq
        .map { case (id, txt) =>
          val counts = txt.map { t =>
            val ws = t.split(" ", -1).filter(_.nonEmpty)
            val subs = ws.map(w => Bpe.tokenizeReference(w, merges).size.toLong)
            (ws.length.toLong, subs.sum)
          }
          (id, counts.map(_._1), counts.map(_._2),
            counts.flatMap { case (nw, ns) =>
              if (nw == 0) None
              else Some(BigDecimal(ns.toDouble / nw)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            })
        }.toDF("doc_id", "n_words", "n_subwords", "fertility")
      learned.exceptAll(ref).withColumn("side", lit("learned_only"))
        .unionAll(ref.exceptAll(learned).withColumn("side", lit("ref_only")))
        .orderBy("doc_id", "side")
    }),

    // Distributed unigram-LM (SentencePiece-style) learning gate — the
    // EM sibling of q194 and the tokenizer family of T5/mT5/XLM-R. The
    // corpus pays the one word-census pass; the seed explodes
    // code-point substrings of the CENSUS; each EM iteration is a
    // census-scale kernel map into a vocab-sized INTEGER aggregate
    // (per-word expected counts are 1e-6-quantized before the shuffle,
    // so the distributed sum is exact — what makes EM refereeable).
    // The gate diffs the distributed learner's final piece table
    // against the bounded driver reference of the same published
    // algorithm (Kudo 2018) — empty when seed, quantized E-step, and
    // prune tie-breaks agree exactly.
    "q205_unigram_learn_gate" -> ((s, dir) => {
      import graft.operators.{Bpe, Unigram}
      val d = docs(s, dir)
      val learned = Unigram.learn(d, "text", multiVocab = 48,
        maxLen = 3, iters = 2)
      val census = Bpe.wordCensus(d, "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val sp = s
      import sp.implicits._
      val ref = Unigram.learnReference(census, multiVocab = 48,
        maxLen = 3, iters = 2).toDF("piece", "cnt_q")
      learned.exceptAll(ref).withColumn("side", lit("learned_only"))
        .unionAll(ref.exceptAll(learned).withColumn("side", lit("ref_only")))
        .orderBy("piece", "side")
    }),

    // Unigram tokenize-apply gate — q195's twin for the Viterbi
    // segmenter: the learned piece table ships as literals and each
    // word's max-probability segmentation runs as one imperative
    // map-side kernel pass (strict-greater tie rule, length-ascending
    // candidates — the pinned order both engines follow). Diffed
    // against the driver reference applied to the collected corpus.
    "q206_unigram_tokenize_gate" -> ((s, dir) => {
      import graft.operators.Unigram
      val d = docs(s, dir)
      val learned = Unigram.learn(d, "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // Trained on the full corpus; the apply≡reference diff runs on a
      // deterministic half slice (the q154 referee-fixture rationale —
      // the per-row law is equally binding on any non-vacuous slice).
      val dd = d.filter(col("doc_id") % 2 === 0)
      val stats = Unigram.pieceStats(dd, "doc_id", "text", learned)
      val sp = s
      import sp.implicits._
      val vc = Unigram.viterbiCounterReference(learned)
      val ref = dd.select(col("doc_id"), col("text"))
        .as[(Long, Option[String])].collect().toSeq
        .map { case (id, txt) =>
          val counts = txt.map { t =>
            val ws = t.split(" ", -1).filter(_.nonEmpty)
            val ps = ws.map(w => vc(w).toLong)
            (ws.length.toLong, ps.sum)
          }
          (id, counts.map(_._1), counts.map(_._2),
            counts.flatMap { case (nw, np) =>
              if (nw == 0) None
              else Some(BigDecimal(np.toDouble / nw)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            })
        }.toDF("doc_id", "n_words", "n_pieces", "fertility")
      stats.exceptAll(ref).withColumn("side", lit("learned_only"))
        .unionAll(ref.exceptAll(stats).withColumn("side", lit("ref_only")))
        .orderBy("doc_id", "side")
    }),

    // Per-language unigram fertility profile — q199's twin: the
    // tokenizer-fairness gap under the Viterbi segmenter, refereed the
    // same way (distributed profile ≡ driver reference aggregated
    // identically).
    "q207_unigram_fertility" -> ((s, dir) => {
      import graft.operators.Unigram
      val d = docs(s, dir)
      val learned = Unigram.learn(d, "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // Trained full-corpus; profiled on the q206 half slice.
      val dd = d.filter(col("doc_id") % 2 === 0)
      def profile(stats: DataFrame) = stats
        .join(dd.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_words"), lit(0L)).as("sum_words"),
          coalesce(sum("n_pieces"), lit(0L)).as("sum_pieces"))
        .withColumn("fertility",
          round(col("sum_pieces").cast("double") / col("sum_words"), 6))
      val learnedProf = profile(Unigram.pieceStats(dd, "doc_id", "text", learned))
      val sp = s
      import sp.implicits._
      val vc = Unigram.viterbiCounterReference(learned)
      val refStats = dd.select(col("doc_id"), col("text"))
        .as[(Long, Option[String])].collect().toSeq
        .map { case (id, txt) =>
          val ws = txt.map(_.split(" ", -1).filter(_.nonEmpty))
            .getOrElse(Array.empty)
          (id, txt.map(_ => ws.length.toLong),
            txt.map(_ => ws.map(w => vc(w).toLong).sum))
        }.toDF("doc_id", "n_words", "n_pieces")
      val ref = profile(refStats)
      learnedProf.exceptAll(ref).withColumn("side", lit("learned_only"))
        .unionAll(ref.exceptAll(learnedProf).withColumn("side", lit("ref_only")))
        .orderBy("lang", "side")
    }),

    // Gopher-style composite quality rules (Rae et al. 2021, table A1
    // adapted): word-count bounds, mean-word-length bounds,
    // symbol-to-word ratio, alphabetic-word fraction, stopword
    // presence — the classic pre-filter battery, evaluated in ONE
    // map-side projection over existing kernels (no UDFs, no second
    // scan). Fractions follow this round's exactness rule: emitted as
    // BIGINT ppm via integer division, so the oracle restates every
    // rule digit-for-digit. Violating docs are PLANTED (every 10th doc
    // gets symbol noise + numeric words, the q165 move) so each rule
    // demonstrably fires.
    "q210_gopher_rules" -> ((s, dir) => {
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(col("text"),
              lit(" ## ### 12345 67890 ... 00 11 22 33 44 55 66 77")))
            .otherwise(col("text")))
      val w = words(col("text"))
      planted.select(col("doc_id"),
          col("text"),
          size(w).cast("bigint").as("n_words"),
          markerHits(col("text"), markers.head._2).cast("bigint")
            .as("stop_hits"))
        .withColumn("n_hash",
          (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
            .cast("bigint"))
        .withColumn("n_ellipsis", expr(
          "CAST((length(text) - length(replace(text, '...', ''))) div 3" +
            " AS BIGINT)"))
        .withColumn("n_alpha_words",
          size(filter(w, x => x.rlike("[a-z]"))).cast("bigint"))
        .withColumn("mwl_ppm", expr(
          "(length(text) - n_words + 1) * 1000000 div n_words"))
        .withColumn("sym_ppm",
          expr("(n_hash + n_ellipsis) * 1000000 div n_words"))
        .withColumn("alpha_ppm", expr("n_alpha_words * 1000000 div n_words"))
        .withColumn("r_wordcount",
          col("n_words") >= 20 && col("n_words") <= 100000)
        .withColumn("r_meanlen",
          col("mwl_ppm") >= 3000000L && col("mwl_ppm") <= 10000000L)
        .withColumn("r_symbols", col("sym_ppm") <= 100000L)
        .withColumn("r_alpha", col("alpha_ppm") >= 800000L)
        .withColumn("r_stopwords", col("stop_hits") >= 2)
        .withColumn("keep", col("r_wordcount") && col("r_meanlen") &&
          col("r_symbols") && col("r_alpha") && col("r_stopwords"))
        .select("doc_id", "n_words", "mwl_ppm", "sym_ppm", "alpha_ppm",
          "stop_hits", "r_wordcount", "r_meanlen", "r_symbols", "r_alpha",
          "r_stopwords", "keep")
        .orderBy("doc_id")
    }),

    // Unicode NFC normalization — the canonical-composition pass a
    // multilingual pipeline runs BEFORE dedup: decomposed "café"
    // (e + combining acute) and precomposed "café" are different byte
    // strings that md5/xxhash64/shingles/BPE alphabets all treat as
    // different text, so un-normalized corpora under-dedup. The corpus
    // is ASCII by construction, so decomposed text is PLANTED (every
    // 4th doc gains a suffix with combining acute U+0301 and cedilla
    // U+0327); the gate hashes the engine's JDK Normalizer output
    // against DuckDB's independent nfc_normalize — two NFC
    // implementations agreeing byte-for-byte, plus the changed flag
    // and the char-count contraction the composition causes.
    // Concat-and-chunk context-window boundary map — the pretraining
    // layout step itself (GPT/Llama: concat every doc in training
    // order, cut into fixed 512-token windows) emitted as each doc's
    // absolute offset + window range. The global running offset is the
    // two-phase binned prefix sum (census of 64-wide doc_id bins +
    // bin-local cumsum — NO single-reducer orderBy window), and every
    // column is exact integer arithmetic the oracle restates with a
    // plain SQL cumulative window at gate scale.
    "q226_context_windows" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
        .select("doc_id", "n_tokens")
      graft.operators.Packing.contextWindows(d, "doc_id", "n_tokens",
          windowTokens = 512, binSize = 64)
        .select(col("doc_id"), col("n_tokens"), col("start_tok"),
          col("first_window"), col("last_window"), col("n_windows"))
        .orderBy("doc_id")
    }),

    "q212_nfc_normalize" -> ((s, dir) => {
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("text",
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" cafe\u0301 franc\u0327ais")))
            .otherwise(col("text")))
      planted.select(col("doc_id"),
          graft.expressions.TextOps.nfcNormalize(col("text")).as("nfc"),
          length(col("text")).cast("bigint").as("n_chars_raw"))
        .select(col("doc_id"), md5(col("nfc")).as("nfc_md5"),
          length(col("nfc")).cast("bigint").as("n_chars_nfc"),
          col("n_chars_raw"),
          (length(col("nfc")) =!= col("n_chars_raw")).as("changed"))
        .orderBy("doc_id")
    }),

    // C4-style LINE-level dedup — the cleanup that removes cross-site
    // boilerplate (nav bars, subscribe prompts) that document dedup is
    // too blunt for and span dedup too surgical for: lines appearing
    // in ≥ minDf DISTINCT docs drop, the rest keep their order. The
    // corpus has no multi-line docs, so boilerplate lines are PLANTED
    // (every 3rd doc gains a subscribe prompt, every 5th a rights
    // notice). The census half shuffles 8-byte line hashes; the drop
    // set ships as a plan literal under a loud bound and the rewrite
    // is pure map-side (`Scrub.dropFrequentLines` — the q182 ceiling
    // discipline). FULL hash gate via md5 of the cleaned text.
    "q211_line_dedup" -> ((s, dir) => {
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit("\nsubscribe to our newsletter today")))
            .otherwise(col("text")))
        .withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\nall rights reserved")))
            .otherwise(col("text")))
      graft.operators.Scrub
        .dropFrequentLines(planted, "doc_id", "text", minDf = 5)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          length(col("clean_text")).cast("bigint").as("n_chars_clean"),
          col("n_dropped"))
        .orderBy("doc_id")
    }),

    // q211's UNBOUNDED-drop-set regime — the "Bloom + anti-join path"
    // its guard names, run for real: the boilerplate census never
    // ships to the driver; exploded (doc, pos, line) rows LEFT ANTI
    // join the distributed drop set on 8-byte hashes (broadcast while
    // small, SMJ + runtime Bloom past that) and docs re-assemble with
    // a per-doc array_sort — no global sort, no plan literal, no
    // census bound. Same planted fixture and the same FULL DuckDB
    // oracle as q211: the two regimes must produce byte-identical
    // cleaned corpora (ScrubSpec additionally pins them equal on
    // all-dropped and NULL docs).
    "q215_line_dedup_antijoin" -> ((s, dir) => {
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit("\nsubscribe to our newsletter today")))
            .otherwise(col("text")))
        .withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\nall rights reserved")))
            .otherwise(col("text")))
      graft.operators.Scrub
        .dropFrequentLinesDistributed(planted, "doc_id", "text", minDf = 5)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          length(col("clean_text")).cast("bigint").as("n_chars_clean"),
          col("n_dropped"))
        .orderBy("doc_id")
    }),

    // CONSISTENT pseudonymization — q104/q185's redaction upgraded to
    // referential integrity: each email is replaced by a stable token
    // derived from the match itself (first 8 md5 hex), so the same
    // address tokenizes identically corpus-wide and cross-document
    // entity structure survives the scrub. Pure codegen'd map-side
    // rebuild (split + zip_with re-interleave — no per-match UDF, no
    // driver token vault), restated in SQL by the oracle. Emails are
    // PLANTED with doc-derived user numbers so the same address recurs
    // across many docs — the md5 gate then proves token stability.
    "q219_pseudonymize" -> ((s, dir) => {
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("text",
          when(col("doc_id") % 4 === 1,
            concat(col("text"), lit(" contact user"),
              (col("doc_id") % 7).cast("string"),
              lit("@example.com or user"),
              ((col("doc_id") + 3) % 7).cast("string"),
              lit("@example.org")))
            .otherwise(col("text")))
      planted.select(col("doc_id"),
          md5(graft.operators.Scrub.pseudonymizeEmails(col("text")))
            .as("pseudo_md5"),
          size(regexp_extract_all(col("text"),
            lit(graft.operators.Scrub.EmailRe), lit(0)))
            .cast("bigint").as("n_emails"))
        .orderBy("doc_id")
    }),

    // Streaming twin of q206 (the q198 move for the unigram family):
    // the Viterbi fold is a pure per-row projection, so piece
    // accounting runs stateless at the ingestion door with the
    // corpus-trained table; the gate diffs the bounded drain against
    // the batch operator (empty — per-row rewrite).
    "q209_stream_unigram_tokenize" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingUnigramStats(s, dir)),

    // Epoch plan — the composition a trainer actually consumes each
    // epoch: deterministic reshuffle (q106's multiplicative-hash
    // shards; a new seed is a new permutation, shard assignment stable
    // under appends) then greedy sequence packing WITHIN each shard in
    // shuffle order (q69's reset-on-overflow walk, one keyed exchange,
    // O(1) state). Both stages previously gated; the gate here is the
    // composition, restated by the oracle as the recursive packing
    // walk over the recomputed shard/pos assignment.
    "q193_epoch_packing" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("n_tokens",
        size(split(col("text"), " ")).cast("bigint"))
      val sharded = graft.operators.Packing.shardShuffle(
        d.select(col("doc_id"), col("n_tokens")), "doc_id",
        nShards = 4, seed = 7L)
      val packed = graft.operators.Packing
        .packGreedy(sharded, "shard", "pos", "n_tokens", budget = 256)
        .withColumn("shard", col("shard").cast("bigint"))
      packed.join(sharded.select(col("shard"), col("pos"), col("doc_id")),
          Seq("shard", "pos"))
        .select(col("shard"), col("pos"), col("doc_id"), col("n_tokens"),
          col("seq_no"))
        .orderBy("shard", "pos")
    }),

    // Streaming twin of q182: ceilings from the standing corpus
    // census, the rewrite applied per-row in-flight (stateless, Append
    // mode). Bounded drain ≡ batch; shares q182's oracle.
    "q191_stream_token_downsample" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingTokenDownsample(s, dir)),

    // Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    // Spirakis A-ES): each doc draws u from the q45/q70 multiplicative
    // hash (exact integer → one double division, engine-identical) and
    // keeps the 200 smallest -ln(u)/w keys, w = n_chars — the
    // quality-weighted subsample pass of a training-data pipeline,
    // reproducible from (corpus, hash) alone. Scale shape: the keyed
    // scan is map-side and the selection is a bounded
    // TakeOrderedAndProject (k-row partial heaps merge map-side,
    // PlanSpec-pinned) — never a global sort; the rank window runs over
    // the 200 SELECTED rows only.
    "q130_weighted_sample" -> ((s, dir) => {
      val u = (docHash(col("doc_id")) + 1).cast("double") / lit(4294967297.0)
      val keyed = docs(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars"),
        (-log(u) / greatest(col("n_chars"), lit(1L)).cast("double"))
          .as("es_key"))
      val top = keyed.orderBy(col("es_key"), col("doc_id")).limit(200)
      val win = org.apache.spark.sql.expressions.Window
        .orderBy(col("es_key"), col("doc_id"))
      top.withColumn("sample_rank", row_number().over(win).cast("bigint"))
        .select(col("sample_rank"), col("doc_id"), col("lang"),
          col("n_chars"), round(col("es_key"), 9).as("es_key"))
        .orderBy("sample_rank")
    }),

    // Feature lift curve (the filter-audit report a pipeline produces
    // before trusting a quality signal): docs ranked by the boilerplate
    // marker ratio — q110's planted contamination supplies ground truth
    // — and bucketed into EXACT equal-count deciles via the distributed
    // rank (`Profile.equiHeightBuckets`, binScale stretching the [0,1]
    // score domain over real bins — never a whole-table window); per
    // decile, mean score and empirical positive rate. A well-ranking
    // signal concentrates the positives in the top deciles; the whole
    // curve is arithmetic, so unlike the trained-model gate (q110) it
    // takes a FULL cross-engine hash gate.
    "q129_lift_curve" -> ((s, dir) => {
      val boiler = Seq("lorem", "ipsum", "dolor", "sit", "amet")
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" lorem ipsum dolor sit amet lorem ipsum")))
          .otherwise(col("text")))
      val nTok = greatest(size(words(col("text"))), lit(1)).cast("double")
      val feats = planted.select(col("doc_id"),
        (markerHits(col("text"), boiler).cast("double") / nTok).as("score"),
        (col("doc_id") % 3 === 0).cast("long").as("label"))
      graft.operators.Profile.equiHeightBuckets(feats, "score", "doc_id",
          buckets = 10, binSize = 1, binScale = 1000.0)
        .groupBy(col("bucket").as("decile"))
        .agg(count(lit(1)).as("n_rows"),
          round(avg(col("score")), 6).as("mean_score"),
          round(avg(col("label").cast("double")), 6).as("pos_rate"))
        .orderBy("decile")
    }),

    // Temperature-scaled mixture weights (the multinomial α-sampling
    // recipe of XLM-R/mT5, α=0.3): per-source token shares p_i flatten
    // to q_i ∝ p_i^α, the standard rebalance that up-samples tail
    // domains without q70's hard equalization. Everything after the
    // per-source token count (one partial-agg scan) is arithmetic over
    // the 10-row domain table — two broadcast scalars, no second corpus
    // pass.
    "q128_temperature_mixture" -> ((s, dir) => {
      val per = docs(s, dir)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      val tot = broadcast(per.agg(sum("n_tokens").as("tot")))
      val scored = per.crossJoin(tot)
        .withColumn("p", col("n_tokens").cast("double") / col("tot"))
        .withColumn("pa", pow(col("p"), lit(0.3)))
      val z = broadcast(scored.agg(sum("pa").as("z")))
      scored.crossJoin(z)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("p"), 6).as("p_share"),
          round(col("pa") / col("z"), 6).as("q_temp"),
          round((col("pa") / col("z")) / col("p"), 6).as("boost"))
        .orderBy("source")
    }),

    // DSIR-style importance selection (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): smoothed unigram
    // LMs for a curated target slice (source = src0) and the raw pool
    // (everything else), per-token log importance ratio
    // ln(p_target/p_raw), per-doc mean over token instances, keep raw
    // docs whose 6dp-rounded weight is > 0 ("more target-like than
    // raw"). Scale shape: both LMs live in ONE vocab-sized term table
    // (model-sized → broadcast back to the token stream, the q72/q92
    // move), the corpus pays two map-heavy scans (count, score) and
    // shuffles only tokens→terms; selection itself is a map-side
    // filter. At open-vocab 100 TB the DSIR paper's hashed n-gram
    // bucketing drops in by replacing `term` with a fixed-width bucket
    // id — the pipeline shape is unchanged.
    "q123_dsir_resample" -> ((s, dir) => {
      import graft.functions.TextFunctions.words
      val toks = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          (col("source") === "src0").as("in_tgt"),
          explode(words(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val counts = toks.groupBy("term").agg(
        sum(when(col("in_tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("in_tgt"), 1L).otherwise(0L)).as("cr"))
      val tot = broadcast(counts.agg(
        sum("ct").as("tt"), sum("cr").as("tr"), count(lit(1)).as("v")))
      val lm = broadcast(counts.crossJoin(tot)
        .select(col("term"),
          (log((col("ct") + 1).cast("double") / (col("tt") + col("v"))) -
           log((col("cr") + 1).cast("double") / (col("tr") + col("v"))))
            .as("log_ratio")))
      toks.filter(!col("in_tgt"))
        .join(lm, Seq("term"))
        .groupBy(col("doc_id"), col("lang"), col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(col("log_ratio")), 6).as("dsir_weight"))
        .filter(col("dsir_weight") > 0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
          col("dsir_weight"))
        .orderBy("doc_id")
    }),

    // Sequence packing (LLM training-data prep): greedy concatenation of
    // documents into ≤ 256-token training sequences per language, in
    // doc_id order. One keyed exchange + a streaming O(1)-state walk per
    // partition — the oracle mirrors the greedy recurrence with a
    // recursive CTE.
    "q69_seq_packing" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
      graft.operators.Packing.packGreedy(d, "lang", "doc_id", "n_tokens",
          budget = 256)
        .orderBy("lang", "doc_id")
    }),

    // Domain-mixture resampling (LLM training prep): rebalance languages
    // to the minority language's share by hash-thresholding — doc kept
    // iff u(doc_id) · n_lang < 2³² · min_n, with u the same Knuth
    // multiplicative hash q45's split uses. EXACT integer arithmetic on
    // both engines (no float rate compare to drift), so the kept SET
    // itself is hash-gated, not just counts. Scale shape: per-group
    // rates are a broadcast dim; the corpus pays one map-side filter and
    // never shuffles.
    "q70_mixture_resample" -> ((s, dir) => {
      val d = docs(s, dir)
      val counts = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val minN = counts.agg(min("n_lang").as("mn"))
      d.join(broadcast(counts), "lang")
        .crossJoin(broadcast(minN))
        .withColumn("u", docHash(col("doc_id")))
        .filter(col("u") * col("n_lang") < lit(4294967296L) * col("mn"))
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }),

    // TF-IDF top terms per document. tf: one (doc_id, term) groupBy with
    // map-side combine; df: a vocabulary-sized re-aggregation of tf (AQE
    // broadcasts it back when small); idf = ln((N+1)/(df+1)) + 1 (smooth).
    // The per-doc window is safe at 100 TB because its partition is one
    // document's DISTINCT terms — bounded by doc length, not corpus size
    // (the unbounded-group top-k case is what q50's TopKAggregator is
    // for). Ranking uses the ROUNDED score so the tiebreak is decided on
    // exactly what both engines hash.
    "q72_tfidf_topterms" -> ((s, dir) => {
      val d = docs(s, dir)
      val nDocs = broadcast(d.agg(count(lit(1)).as("n_docs")))
      // tf feeds both the scoring join and the df re-aggregation;
      // without the checkpoint each branch would re-run scan + explode
      // + groupBy over the raw text, which is strictly larger than tf
      // itself — materializing once is the cheaper side of the
      // persist-vs-recompute tradeoff at every scale.
      val tf = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .cutLineage
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
      tf.join(dfreq, "term")
        .crossJoin(nDocs)
        .withColumn("tfidf", round(col("tf") *
          (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1), 6))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "tf", "df", "tfidf")
        .orderBy("doc_id", "rnk")
    }),

    // Model-based quality filter GATE (the GPT-3/CCNet learned filter,
    // q77's referee pattern): a logistic classifier is trained
    // driver-side on a bounded hash-ordered sample and applied to the
    // whole corpus as a literal-weight sigmoid — one map-side codegen
    // pass, zero shuffle for scoring. The corpus text is
    // label-independent by construction (marker ratios are flat across
    // langs — verified), so the learnable signal is PLANTED,
    // q104-style: every third document gets a boilerplate suffix, and
    // the model must learn to flag contaminated docs from marker-ratio
    // features (the label is the plant rule, never fed to the model as
    // a feature). The gate emits a row only if full-corpus accuracy
    // drops below 0.95; the oracle is the EMPTY relation. Zero-init
    // fixed-iteration GD keeps the fit deterministic given the corpus.
    "q110_quality_classifier_gate" -> ((s, dir) => {
      import graft.operators.QualityModel
      val boiler = Seq("lorem", "ipsum", "dolor", "sit", "amet")
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" lorem ipsum dolor sit amet lorem ipsum")))
          .otherwise(col("text")))
      val nTok = greatest(size(words(col("text"))), lit(1)).cast("double")
      val feats = planted
        .withColumn("mh", markerHitsAll(col("text"), Seq(boiler, markers.head._2)))
        .select(col("doc_id"),
          (element_at(col("mh"), 1) / nTok).as("f_boiler"),
          (element_at(col("mh"), 2) / nTok).as("f_stop"),
          (col("doc_id") % 3 === 0).cast("double").as("label"))
      val fcols = Seq("f_boiler", "f_stop")
      val model = QualityModel.trainLogistic(
        QualityModel.sampleFeatures(feats, "doc_id", fcols, "label"),
        iters = 2000, lr = 2.0)
      feats
        .withColumn("pred",
          (model.score(fcols.map(col)) >= 0.5).cast("double"))
        .agg(avg((col("pred") === col("label")).cast("double")).as("accuracy"))
        .filter(col("accuracy") < 0.95)
        .select(round(col("accuracy"), 6).as("accuracy"),
          lit(0.95).as("floor"))
    }),

    // Distributed FULL-CORPUS quality-model training gate — q110's
    // scale fix: `trainLogistic` fits on a driver-bounded sample (512
    // rows, a real cap on what the filter can learn); `trainLogisticFull`
    // runs each GD step as ONE map-side-combinable aggregate over the
    // whole feature relation with per-row gradients quantized to the
    // 1e-6 integer grid (exact, order-independent sums — the Unigram
    // E-step discipline), so the trained weights are bit-reproducible.
    // The gate fits the same planted fixture as q110 and emits a row
    // for (a) any weight/bias that is not the IDENTICAL double the
    // bounded driver reference produces (the collect here is the
    // referee inside a gate, loudly bounded in the reference), or
    // (b) full-corpus accuracy below the same 0.95 floor. Oracle: the
    // empty relation.
    "q309_quality_model_full" -> ((s, dir) => {
      import graft.operators.QualityModel
      val boiler = Seq("lorem", "ipsum", "dolor", "sit", "amet")
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" lorem ipsum dolor sit amet lorem ipsum")))
          .otherwise(col("text")))
      val nTok = greatest(size(words(col("text"))), lit(1)).cast("double")
      val feats = planted
        .withColumn("mh", markerHitsAll(col("text"), Seq(boiler, markers.head._2)))
        .select(col("doc_id"),
          (element_at(col("mh"), 1) / nTok).as("f_boiler"),
          (element_at(col("mh"), 2) / nTok).as("f_stop"),
          (col("doc_id") % 3 === 0).cast("double").as("label"))
      val fcols = Seq("f_boiler", "f_stop")
      val model = QualityModel.trainLogisticFull(feats, fcols, "label",
        iters = 60, lr = 100.0)
      val rows = feats.select(col("f_boiler"), col("f_stop"), col("label"))
        .na.drop().collect()
        .map(r => (Array(r.getDouble(0), r.getDouble(1)), r.getDouble(2)))
      val ref = QualityModel.trainLogisticFullReference(rows,
        iters = 60, lr = 100.0)
      val wDiff = ((model.weights :+ model.bias) zip (ref.weights :+ ref.bias))
        .zipWithIndex.collect { case ((e, r), i) if e != r =>
          (s"weight_$i", e, r) }.toSeq
      val acc = feats
        .withColumn("pred",
          (model.score(fcols.map(col)) >= 0.5).cast("double"))
        .agg(avg((col("pred") === col("label")).cast("double")))
        .head().getDouble(0)
      val accRows = if (acc >= 0.95) Seq.empty[(String, Double, Double)]
        else Seq(("accuracy", acc, 0.95))
      val sp = s
      import sp.implicits._
      (wDiff ++ accRows).toDF("kind", "engine_val", "ref_val")
        .select(col("kind"), round(col("engine_val"), 6).as("engine_val"),
          round(col("ref_val"), 6).as("ref_val"))
        .orderBy("kind")
    }),

    // Hashed-linear language ID — the REAL langid operator behind
    // q27's marker-count stand-in (fastText's shape: hashed byte
    // 3-gram histogram → multinomial softmax → literal-weight argmax,
    // prediction entirely map-side). Trained with the distributed
    // full-corpus machinery (one exact-integer gradient aggregate per
    // step — q309's discipline generalized to L classes). The corpus
    // has no ground-truth languages beyond its single-source `lang`
    // column, so the signal is PLANTED (the q104/q110 method): label
    // = doc_id % 4, and each doc's text becomes that language's
    // marker+function-word soup plus an 8-word tail of the original
    // text (per-doc variation the classifier must see through). Gate:
    // FULL hash of (doc_id, pred_lang) against the plant rule — the
    // classifier must recover every planted label exactly. The
    // beats-the-marker-heuristic law (pool words carry NO markers, so
    // q27's vote defaults to "en" while the trigram model still
    // separates) pins in LangIdSpec.
    "q310_langid_hashed" -> ((s, dir) => {
      import graft.operators.LangId
      val pools = Seq(
        "through should because people world never might while",
        "también están mucho años señor ciudad cuando entonces",
        "zwischen während müssen schön öffnen vielleicht immer heute",
        "être déjà toujours français beaucoup même aussi jamais")
      val soups = markers.map(_._1).zip(pools).map { case (lg, pool) =>
        val mk = markers.find(_._1 == lg).get._2.mkString(" ")
        ((mk + " " + pool + " ") * 3).trim
      }
      val soupExpr = when(col("label") === 0, soups(0))
        .when(col("label") === 1, soups(1))
        .when(col("label") === 2, soups(2))
        .otherwise(soups(3))
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("label", col("doc_id") % 4)
        .withColumn("text", concat(soupExpr, lit(" "),
          array_join(slice(words(col("text")), 1, 8), " ")))
        .select(col("doc_id"), col("label"), col("text"))
      val (feat, fcols) = LangId.withNgramFeatures(planted, "text",
        n = 3, buckets = 32)
      val model = LangId.trainSoftmaxFull(feat, fcols, "label",
        numClasses = 4, iters = 25, lr = 3.0)
      val names = markers.map(_._1)
      feat.select(col("doc_id"),
          model.predict(fcols.map(col)).as("pred"))
        .withColumn("pred_lang",
          when(col("pred") === 0, names(0)).when(col("pred") === 1, names(1))
            .when(col("pred") === 2, names(2)).otherwise(names(3)))
        .select("doc_id", "pred_lang")
        .orderBy("doc_id")
    }),

    // CONFIDENT-LEARNING label-noise audit (the cleanlab move, run at
    // corpus scale): observed labels are q310's planted-language rule
    // with a DETERMINISTIC corruption at doc_id % 17 == 3 (observed =
    // true+1 mod 4 — ~6% noise). The softmax trains on the NOISY
    // labels, still learns the dominant clean signal (the soups are
    // strongly separable), and the audit flags every row whose
    // prediction disagrees with its observed label — which must be
    // EXACTLY the corrupted rows: one model slip on a clean row, or
    // one corrupted row the model absorbed, fails the FULL hash. Same
    // scale shape as q310 (treeAggregate GD, codegen argmax predict).
    "q322_label_noise_audit" -> ((s, dir) => {
      import graft.operators.LangId
      val pools = Seq(
        "through should because people world never might while",
        "también están mucho años señor ciudad cuando entonces",
        "zwischen während müssen schön öffnen vielleicht immer heute",
        "être déjà toujours français beaucoup même aussi jamais")
      val soups = markers.map(_._1).zip(pools).map { case (lg, pool) =>
        val mk = markers.find(_._1 == lg).get._2.mkString(" ")
        ((mk + " " + pool + " ") * 3).trim
      }
      val soupExpr = when(col("true_label") === 0, soups(0))
        .when(col("true_label") === 1, soups(1))
        .when(col("true_label") === 2, soups(2))
        .otherwise(soups(3))
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("true_label", col("doc_id") % 4)
        .withColumn("observed",
          when(col("doc_id") % 17 === 3, (col("true_label") + 1) % 4)
            .otherwise(col("true_label")))
        .withColumn("text", concat(soupExpr, lit(" "),
          array_join(slice(words(col("text")), 1, 8), " ")))
        .select(col("doc_id"), col("observed"), col("text"))
      val (feat, fcols) = LangId.withNgramFeatures(planted, "text",
        n = 3, buckets = 32)
      val model = LangId.trainSoftmaxFull(feat, fcols, "observed",
        numClasses = 4, iters = 25, lr = 3.0)
      feat.select(col("doc_id"), col("observed"),
          model.predict(fcols.map(col)).cast("bigint").as("pred"))
        .filter(col("pred") =!= col("observed"))
        .orderBy("doc_id")
    }),

    // Vocabulary OOV-rate profile (tokenizer-coverage diagnostic): the
    // top-100 corpus vocabulary stands in for a fixed tokenizer vocab;
    // per doc, the fraction of token OCCURRENCES falling outside it —
    // the metric that decides whether a tokenizer (or vocab cut) fits a
    // corpus. One corpus scan builds the checkpointed (doc, term, tf)
    // frame (q72's reasoning); the vocab derives from it model-sized
    // and joins back BROADCAST, so the per-doc fold never re-reads
    // text and the only wide exchange carries (doc_id, term, tf).
    // Approximate-percentile referee gate: `percentile_approx` is the
    // mergeable quantile sketch a 100 TB length/quality profile runs on
    // (exact percentiles need a full sort; the sketch merges map-side).
    // Its published contract — the returned value is a REAL element
    // whose exact rank lies within ±n/accuracy of the target — is
    // re-checked here against exact rank counts; violations emit,
    // oracle is the empty relation.
    "q117_percentile_gate" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("n_tokens",
        size(split(col("text"), " ")).cast("bigint"))
      val stats = d.groupBy(col("lang"))
        .agg(percentile_approx(col("n_tokens"), lit(0.5), lit(100)).as("v"),
          count(lit(1)).as("n"))
      percentileViolations(d, "lang", "n_tokens", stats, p = 0.5, acc = 100)
    }),

    "q109_oov_rate" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(words(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .cutLineage
      val vocab = tf.groupBy("term").agg(sum("tf").as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(100)
        .select(col("term"), lit(1L).as("__in"))
      tf.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(sum("tf").as("n_tokens"),
          sum(when(col("__in").isNull, col("tf")).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
        .orderBy("doc_id")
    }),

    // Fixed-size token chunking with overlap (context-window prep):
    // chunk starts are a per-row `sequence` + `posexplode` — pure
    // map-side fan-out, no shuffle, so it streams at scan speed on any
    // corpus size. 32-token chunks, stride 24 (8-token overlap).
    "q73_token_chunks" -> ((s, dir) => {
      val C = 32
      val S = 24
      val d = docs(s, dir)
        .withColumn("w", words(col("text")))
        .withColumn("nw", size(col("w")))
      d.select(col("doc_id"), col("w"), col("nw"),
          posexplode(when(col("nw") > 0, sequence(lit(0), col("nw") - 1, lit(S)))
            .otherwise(array().cast("array<int>"))).as(Seq("pos", "st")))
        .select(col("doc_id"),
          (col("pos") + 1).cast("bigint").as("chunk_no"),
          col("st").cast("bigint").as("start_tok"),
          least(lit(C), col("nw") - col("st")).cast("bigint").as("n_tok"),
          concat_ws(" ", slice(col("w"), col("st") + 1, lit(C))).as("chunk_text"))
        .orderBy("doc_id", "chunk_no")
    }),

    // Corpus vocabulary head (Zipf top-20 terms with corpus share).
    // The term aggregate is vocabulary-sized with map-side combine;
    // the head is TakeOrderedAndProject (bounded), and the rank window
    // runs over the already-limited 20 rows — never the vocabulary.
    "q75_vocab_head" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(explode(words(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      // total token count map-side from the array length — re-deriving
      // it from tf would recompute the whole explode+groupBy branch.
      // NULL text must contribute 0, not size(NULL) = -1 (this config
      // runs legacy sizeOfNull semantics under ANSI-off — verified, so
      // coalesce would NOT catch it), matching the oracle's explode-drop.
      val tot = broadcast(docs(s, dir)
        .agg(sum(when(col("text").isNotNull,
            size(filter(words(col("text")), t => t =!= ""))).otherwise(lit(0)))
          .cast("bigint").as("total")))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("term").asc)
      tf.orderBy(col("cnt").desc, col("term").asc).limit(20)
        .crossJoin(tot)
        .withColumn("share", round(col("cnt").cast("double") / col("total"), 6))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .select("rnk", "term", "cnt", "share")
        .orderBy("rnk")
    }),

    // Deterministic k-per-stratum sample: rank by a multiplicative hash
    // of doc_id and keep each language's k best via the bounded
    // TopKAggregator — partial k-row heaps merge map-side, so the
    // exchange moves k rows per (lang, partition) where the window
    // formulation (the oracle) must sort EVERY row of the stratum.
    // Exactly-k, reproducible, and one scan — the training-data
    // sampling contract a reservoir can't give deterministically.
    "q76_stratified_sample" -> ((s, dir) => {
      val k = 25
      val topk = udaf(new graft.functions.TopKAggregator(k))
      docs(s, dir)
        .withColumn("h",
          docHash(col("doc_id")))
        .groupBy("lang")
        .agg(topk(col("doc_id"), col("h").cast("double")).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "entry")))
        .select(col("lang"), (col("pos") + 1).cast("bigint").as("rnk"),
          col("entry._1").as("doc_id"), col("entry._2").cast("bigint").as("h"))
        .orderBy("lang", "rnk")
    }),

    // Bigram-LM quality score (the CCNet-style perplexity filter): a
    // corpus bigram model scores each document's average log
    // P(w2|w1) with add-1 smoothing over the context vocabulary.
    // The exploded bigram frame feeds THREE consumers (bigram counts,
    // context counts, scoring join) — checkpointed once; the scoring
    // join keys on the bigram so the model shuffles once, and the
    // context-count side is vocabulary-sized (AQE broadcasts it when
    // it fits). One corpus text scan total at any scale.
    "q79_bigram_logprob" -> ((s, dir) => {
      val bi = docs(s, dir)
        .select(col("doc_id"),
          explode(wordBigramStructs(col("text"))).as("g"))
        .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
        .cutLineage
      val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      // c1 (context counts) re-aggregates the MODEL-sized c2, not the
      // corpus-sized bi: Σ_w2 c2(w1, w2) = c1(w1) exactly, and it
      // saves a second full pass over the checkpointed bigram frame.
      val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
      val vctx = broadcast(c1.agg(count(lit(1)).as("vctx")))
      // fold c1 into the bigram model first (model-sized join) so the
      // CORPUS-sized bi frame pays one shuffle join, not two
      val model = c2.join(c1, Seq("w1"))
      bi.join(model, Seq("w1", "w2")).crossJoin(vctx)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log((col("c2") + 1) / (col("c1") + col("vctx")))), 6)
            .as("avg_logp"))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser–Ney bigram scoring — the smoothing the real
    // CCNet/KenLM perplexity filter uses (q79's add-1 is the teaching
    // baseline; KN is what ships): P(w2|w1) = (c(w1,w2) − D)/c(w1)
    // + D·N1+(w1,·)/c(w1) · N1+(·,w2)/B with D = 0.75, where the
    // continuation weight N1+(·,w2)/B scores how many CONTEXTS a word
    // follows, not how often it occurs — the "Francisco problem".
    // Plan shape inherits q79's discipline: the exploded bigram frame
    // checkpoints once; c1, both N1+ tables, and B all re-aggregate
    // the MODEL-sized c2 (never the corpus frame); the model folds to
    // one (w1,w2)-keyed relation so the corpus pays exactly one
    // shuffle join. Every scored bigram is in-model (same-corpus
    // training), so c2 ≥ 1 > D and the discount never clips.
    "q235_kn_bigram_logprob" -> ((s, dir) => {
      val D = 0.75
      val bi = docs(s, dir)
        .select(col("doc_id"),
          explode(wordBigramStructs(col("text"))).as("g"))
        .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
        .cutLineage
      val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        .cutLineage
      val left = c2.groupBy("w1")
        .agg(sum("c2").as("c1"), count(lit(1)).as("n1f"))
      val right = c2.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val btot = broadcast(c2.agg(count(lit(1)).as("b")))
      val model = c2.join(left, Seq("w1")).join(right, Seq("w2"))
      bi.join(model, Seq("w1", "w2")).crossJoin(btot)
        .withColumn("logp", log(
          (col("c2") - D) / col("c1") +
            lit(D) * col("n1f") / col("c1") * col("n1b") / col("b")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("logp")), 6).as("avg_logp_kn"))
        .orderBy("doc_id")
    }),

    // Length-bucketed batch assembly — the dataloader op that decides
    // how much of a training step is padding: within each shard
    // (q106's multiplicative doc-hash mod 16 — batches assemble
    // per-shard at scale, never across the cluster), rows group into
    // batches of 8 under TWO policies, 'arrival' (doc_id order — the
    // naive loader) and 'sorted' (length-descending — bucketed
    // batching), and each batch pays pad = 8·max_len − Σlen. Both
    // policies are one rank window per shard + one aggregation; the
    // sorted policy's total pad is provably ≤ arrival's per shard
    // (spec-pinned), which is the entire reason dataloaders sort.
    // Exact integers; shards parallelize the windows.
    "q242_batch_padding" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("n_tokens", size(words(col("text"))).cast("bigint"))
        .withColumn("shard", expr(
          "(doc_id * 2654435761) % 4294967296 % 16"))
        .select("shard", "doc_id", "n_tokens")
      def assemble(policy: String,
                   order: Seq[Column]): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy(order: _*)
        d.withColumn("rn", row_number().over(w).cast("bigint"))
          .withColumn("batch_no", expr("(rn - 1) div 8"))
          .groupBy("shard", "batch_no")
          .agg(count(lit(1)).as("n_rows"), max("n_tokens").as("max_len"),
            sum("n_tokens").as("sum_len"))
          .withColumn("pad_tokens",
            col("n_rows") * col("max_len") - col("sum_len"))
          .withColumn("policy", lit(policy))
      }
      assemble("arrival", Seq(col("doc_id").asc))
        .unionByName(assemble("sorted",
          Seq(col("n_tokens").desc, col("doc_id").asc)))
        .select("policy", "shard", "batch_no", "n_rows", "max_len",
          "sum_len", "pad_tokens")
        .orderBy("policy", "shard", "batch_no")
    }),

    // Preference-pair mining — the DPO/RLHF data-prep op: within each
    // comparable group (language × 32-token length bucket standing in
    // for "same prompt"), rank docs by an exact-integer quality score
    // (1000·stop_hits + n_tokens; deterministic, doc_id tiebreak) and
    // pair best-vs-worst inward (rank i vs rank G+1−i, i ≤ G/2) — the
    // max-margin pairing that makes preference labels least ambiguous.
    // Tied scores drop (margin > 0): a pair the scorer cannot order is
    // not a preference. One window shuffle builds rank + group size;
    // the pairing is an equi-join on (group, G+1−i) — no cross join,
    // no per-group driver work; groups parallelize.
    "q241_preference_pairs" -> ((s, dir) => {
      val nTok = size(words(col("text"))).cast("bigint")
      val d = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("n_tokens", nTok)
        .withColumn("score",
          lit(1000L) * markerHits(col("text"), markers.head._2).cast("bigint")
            + col("n_tokens"))
        .withColumn("bucket", expr("n_tokens div 32"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "bucket")
        .orderBy(col("score").desc, col("doc_id").asc)
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "bucket")
      val ranked = d.select(col("lang"), col("bucket"), col("doc_id"),
          col("score"))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .withColumn("g", count(lit(1)).over(wg))
      val top = ranked.filter(col("rnk") <= expr("g div 2"))
        .select(col("lang"), col("bucket"), col("rnk").as("pair_no"),
          col("doc_id").as("chosen_id"), col("score").as("chosen_score"),
          (col("g") + 1 - col("rnk")).as("want"))
      val bot = ranked.select(col("lang"), col("bucket"),
        col("rnk").as("want"), col("doc_id").as("rejected_id"),
        col("score").as("rejected_score"))
      top.join(bot, Seq("lang", "bucket", "want"))
        .filter(col("chosen_score") > col("rejected_score"))
        .select(col("lang"), col("bucket"), col("pair_no"),
          col("chosen_id"), col("rejected_id"),
          (col("chosen_score") - col("rejected_score")).as("margin"))
        .orderBy("lang", "bucket", "pair_no")
    }),

    // T5-style span corruption — the denoising-objective data prep:
    // deterministic hash decisions (h = (doc·1000003 + p·7919) mod
    // 1e9+7) plant a span START at ~5% of positions (h mod 20 = 0)
    // with length 1 + (h div 20) mod 3, overlapping spans merge, and
    // the masked set is summarized per doc (count, maximal-island span
    // count, ppm ratio, and an order-sensitive position hash so the
    // gate pins EXACTLY which tokens mask, not just how many). Seeded
    // by (doc_id, position) — reproducible across epochs and engines,
    // which is the property a training-data mask must have. Coverage
    // at p is a bounded 3-position lookback, so the whole operator is
    // per-row HOFs over the token sequence: one scan, zero shuffle
    // before the presentation sort, codegen end to end.
    "q240_span_corruption" -> ((s, dir) => {
      val P = 1000000007L
      def h1(p: Column): Column =
        (col("doc_id") * 1000003L + p * 7919L) % P
      def startsAt(p: Column): Column = h1(p) % 20 === 0
      def lenAt(p: Column): Column =
        floor(h1(p) / 20).cast("long") % 3 + 1
      val wsa = words(col("text"))
      val d = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("n_tokens", size(wsa).cast("bigint"))
        .withColumn("cov", transform(sequence(lit(0), size(wsa) - 1),
          p => when(startsAt(p)
            .or(p >= 1 && startsAt(p - 1) && lenAt(p - 1) > 1)
            .or(p >= 2 && startsAt(p - 2) && lenAt(p - 2) > 2), 1L)
            .otherwise(0L)))
      d.select(col("doc_id"), col("n_tokens"),
          aggregate(col("cov"), lit(0L), (a, x) => a + x).as("n_masked"),
          aggregate(sequence(lit(0), col("n_tokens") - 1), lit(0L),
            (a, p) => a + when(element_at(col("cov"), (p + 1).cast("int")) === 1
              && when(p === 0, lit(0L))
                .otherwise(element_at(col("cov"), p.cast("int"))) === 0,
              1L).otherwise(0L)).as("n_spans"),
          aggregate(sequence(lit(0), col("n_tokens") - 1), lit(0L),
            (a, p) => when(element_at(col("cov"), (p + 1).cast("int")) === 1,
              (a * 131L + p) % P).otherwise(a)).as("mask_hash"))
        .withColumn("mask_ppm", expr("(1000000 * n_masked) div n_tokens"))
        .select("doc_id", "n_tokens", "n_masked", "n_spans", "mask_ppm",
          "mask_hash")
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity buckets: per LANGUAGE, documents split
    // into head/middle/tail terciles of the KN score (head = best
    // logp = lowest perplexity) — the bucketing CCNet publishes so a
    // training mix can oversample the head and drop the tail. Ordering
    // is on the ROUNDED score with doc_id tiebreak, so the tercile
    // boundary cannot flip on sub-1e-6 float noise between engines.
    // The per-lang window is an exact tercile: it sorts within each
    // language partition (languages parallelize; production CCNet
    // fixes cutoffs from a sample to avoid even that sort — the exact
    // form is the referee-able one). Only scored docs (≥1 bigram)
    // bucket, matching the model's domain.
    "q236_ppl_buckets" -> ((s, dir) => {
      val scored = queries("q235_kn_bigram_logprob")(s, dir)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(col("avg_logp_kn").desc, col("doc_id").asc)
      docs(s, dir).select(col("doc_id"), col("lang"))
        .join(scored, Seq("doc_id"))
        .withColumn("tercile", ntile(3).over(win).cast("bigint"))
        .withColumn("bucket",
          when(col("tercile") === 1, "head")
            .when(col("tercile") === 2, "middle").otherwise("tail"))
        .select(col("doc_id"), col("lang"), col("avg_logp_kn"),
          col("tercile"), col("bucket"))
        .orderBy("doc_id")
    }),

    // Count-min-sketch heavy-hitter GATE: at 100 TB the sketch pass
    // REPLACES the exact vocabulary aggregate (fixed 80 KB state,
    // map-side mergeable partials, no vocabulary shuffle); here the
    // exact side plays referee and the query emits every top-20 term
    // the sketch UNDERESTIMATES — the one direction CMS guarantees
    // deterministically (counters only ever over-count), so the oracle
    // is the EMPTY relation on ANY data and an underestimate is always
    // a real sketch bug. The eps·N upper bound holds only with
    // per-probe probability ≥ confidence, so it is NOT gated here —
    // SketchSpec pins it on the fixed testdata (deterministic given
    // data + seed 42). Driver-side state is the 80 KB sketch + 20 rows
    // (model-parameter sized, like the IVF centroids).
    "q77_cms_bound_gate" -> ((s, dir) => {
      val eps = 0.001
      def terms = docs(s, dir)
        .select(explode(words(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val top = terms.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term").asc).limit(20)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val row = terms.agg(
          expr(s"count_min_sketch(term, ${eps}d, 0.99d, 42)").as("sk"),
          count(lit(1)).as("total"))
        .head()
      val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("sk")))
      val slack = math.ceil(eps * row.getAs[Long]("total")).toLong
      val viol = top.toSeq.flatMap { case (t, ex) =>
        val est = sk.estimateCount(t)
        if (est >= ex) None else Some((t, ex, est, slack))
      }
      import s.implicits._
      viol.toDF("term", "exact_cnt", "est_cnt", "slack").orderBy("term")
    }),

    // Misra–Gries heavy-hitters GATE — the sketch complement of q77:
    // CMS point-queries keys you already hold; MG SURFACES the heavy
    // keys themselves in one pass with 64 counters of mergeable state
    // (map-side partials, pointwise-sum merge). At 100 TB the summary
    // pass replaces the corpus-scale phrase-frequency aggregate; here
    // the exact aggregate plays referee. Runs over word BIGRAMS (q79's
    // construction) — the unigram vocabulary of this corpus fits in the
    // summary, which would never exercise the decrement path — and the
    // counter VALUES are merge-order dependent, but the MG contract is
    // not, so the query emits every contract violation and the oracle
    // is the empty relation on ANY data: (a) a counter exceeding the
    // true count — MG counters only ever lose mass; (b) an undercount
    // beyond the summary's exact accumulated decrement `err`; (c) a key
    // with true count > err absent from the summary. Driver-side state
    // is the 64-entry summary + err (model-parameter sized, q77's
    // shape); the referee join broadcasts it, so the exact side never
    // shuffles twice.
    "q154_mg_heavy_hitters_gate" -> ((s, dir) => {
      val mg = udaf(new graft.functions.HeavyHittersAggregator(64),
        org.apache.spark.sql.Encoders.STRING)
      // Deterministic half-corpus slice + one materialization of the
      // bigram explode: this gate deliberately prices TWO engines
      // (sketch + exact referee), and the contract is equally binding
      // on any non-vacuous slice — the sketch operator's scale path is
      // exercised by its consumers, not by the referee's fixture size.
      val terms = graft.operators.Checkpoints.cut(
        docs(s, dir).filter(col("doc_id") % 2 === 0).select(
          explode(wordBigrams(col("text"))).as("term"))
          .filter(col("term") =!= ""))
      val hh = terms.agg(mg(col("term")).as("hh")).head().getStruct(0)
      val err = hh.getLong(1)
      val items = hh.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getLong(1)))
      import s.implicits._
      val est = broadcast(items.toDF("term", "est_cnt"))
      terms.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .join(est, Seq("term"), "left")
        .withColumn("kind",
          when(col("est_cnt") > col("exact_cnt"), lit("overcount"))
            .when(col("est_cnt").isNotNull &&
              col("est_cnt") < col("exact_cnt") - err, lit("undercount"))
            .when(col("est_cnt").isNull && col("exact_cnt") > err,
              lit("missing_heavy")))
        .filter(col("kind").isNotNull)
        .select(col("kind"), col("term"), col("exact_cnt"), col("est_cnt"),
          lit(err).as("err_bound"))
        .orderBy("kind", "term")
    }),

    // KMV (bottom-k) cross-corpus vocabulary-overlap GATE — the set
    // algebra HLL cannot do: HLL unions but never intersects, and the
    // question contamination/diversity audits ask is OVERLAP ("how much
    // of source A's n-gram vocabulary does B share?"). Each source's
    // trigram vocabulary folds into a 256-value bottom-k sketch
    // (`Sketches.kmvSketch` — mergeable, map-side k-row partials,
    // deterministic: the sketch IS the k smallest xxhash64 values, so
    // unlike MG the numbers are partition-order invariant and the gate
    // can pin estimate ERRORS, not just laws). The 20-row sketch
    // relation self-joins for all 190 pairwise union/intersection/
    // Jaccard estimates — model-sized arithmetic; at 100 TB that is the
    // whole comparison cost, where the exact formulation reshuffles the
    // corpus-scale gram domain per audit. The exact referee (only
    // feasible at gate scale) emits every estimate outside the
    // concentration-bound slack, C=6 over the published σ: distinct —
    // nd/√(k−2) (Beyer et al.); intersection — the binomial
    // |K∩A∩B| ~ Bin(k, ρ) term union_ex/(2√k) plus the union-estimate
    // term int_ex/√(k−2). The measured worst case on this data sits
    // 2.3-2.8× inside the band, and the estimates are
    // hash-deterministic, so the gate is stable; the oracle is the
    // empty relation.
    "q157_kmv_overlap_gate" -> ((s, dir) => {
      val k = 256
      val c = 6.0
      import graft.operators.Sketches
      // Half-corpus slice, materialized once for the sketch, the exact
      // distinct, and the exact-intersection self-join (the q154
      // referee-fixture rationale).
      val grams = graft.operators.Checkpoints.cut(
        docs(s, dir).filter(col("doc_id") % 2 === 0).select(col("source"),
          explode(shingles(col("text"), 3)).as("g")))
      val sk = Sketches.kmvSketch(grams, Seq("source"), "g", k)
      val g = grams.distinct()
      val nd = g.groupBy("source").agg(count(lit(1)).as("nd"))
      val dViol = sk.join(nd, Seq("source"))
        .withColumn("est_v", round(Sketches.kmvDistinct(col("sk"), k), 6))
        .withColumn("slack", round(lit(c / math.sqrt(k - 2.0)) * col("nd"), 6))
        .filter(abs(col("est_v") - col("nd")) > col("slack"))
        .select(lit("distinct").as("kind"), col("source").as("src_a"),
          lit(null).cast("string").as("src_b"), col("nd").as("exact_v"),
          col("est_v"), col("slack"))
      val inter = g.select(col("source").as("src_a"), col("g"))
        .join(g.select(col("source").as("src_b"), col("g")), Seq("g"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("int_exact"))
      val est = sk.select(col("source").as("src_a"), col("sk").as("ska"))
        .join(sk.select(col("source").as("src_b"), col("sk").as("skb")),
          col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          Sketches.kmvOverlap(col("ska"), col("skb"), k).as("ov"))
      val iViol = est.join(inter, Seq("src_a", "src_b"), "left")
        .withColumn("int_exact", coalesce(col("int_exact"), lit(0L)))
        .join(nd.select(col("source").as("src_a"), col("nd").as("nd_a")),
          Seq("src_a"))
        .join(nd.select(col("source").as("src_b"), col("nd").as("nd_b")),
          Seq("src_b"))
        .withColumn("union_ex", col("nd_a") + col("nd_b") - col("int_exact"))
        .withColumn("est_v", round(col("ov.intersect_est"), 6))
        .withColumn("slack", round(
          lit(c) * (col("union_ex") / lit(2.0 * math.sqrt(k.toDouble)) +
            col("int_exact") / lit(math.sqrt(k - 2.0))), 6))
        .filter(abs(col("est_v") - col("int_exact")) > col("slack"))
        .select(lit("intersect").as("kind"), col("src_a"), col("src_b"),
          col("int_exact").as("exact_v"), col("est_v"), col("slack"))
      dViol.unionByName(iViol).orderBy("kind", "src_a", "src_b")
    }),

    // Deterministic training-order shuffle: multiplicative-hash
    // position, shard = hash mod 8, within-shard rank. One keyed
    // exchange, per-shard independent sorts, shard assignment stable
    // under corpus appends; the identical arithmetic runs in the oracle
    // (the q45/q70/q76 docHash family with a seed term).
    "q106_shard_shuffle" -> ((s, dir) => {
      graft.operators.Packing.shardShuffle(
          docs(s, dir).select(col("doc_id")), "doc_id",
          nShards = 8, seed = 7L)
        .orderBy("shard", "pos")
    }),

    // Deterministic EPOCH-RESUME slice (the crashed-training-run
    // bookkeeping): the epoch order is the q106 multiplicative-hash
    // permutation, docs pack greedily into 2k-token global steps, and
    // resume-from-step-5 is a FILTER on the step column — the suffix an
    // uninterrupted run would have fed from step 5 on, bit-identical
    // (FULL hash: the oracle restates the hash order, the window
    // cumsum, and the floor-divide step rule). Scale shape: the global
    // running total is the q100 binned two-phase prefix sum — a ≤256-
    // cell broadcast offset table, per-bin windows, never one reducer.
    "q324_resume_slice" -> ((s, dir) => {
      graft.operators.Packing.resumeSlice(
          docs(s, dir).filter(col("n_chars").isNotNull)
            .select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", batchTokens = 2000L, fromStep = 5L)
        .select(col("doc_id"), col("step"), col("cum_before"))
        .orderBy("doc_id")
    }),

    // TEMPLATE-NORMALIZATION dedup (instruction-data reality: prompts
    // identical up to numbers and spacing flood a dataset): normalize
    // digits→#, squeeze whitespace, lowercase — all codegen
    // regexp_replace — then census the normalized templates. Groups
    // with n > 1 are template families exact dedup misses; the oracle
    // replays the identical normalization, so the FULL hash certifies
    // the normalized bytes via md5.
    "q344_template_dedup" -> ((s, dir) => {
      val norm = lower(regexp_replace(regexp_replace(col("text"),
        "[0-9]+", "#"), " +", " "))
      // planted template family: every 23rd doc becomes the same
      // prompt up to its numbers (the clean corpus has no natural
      // families — q344 would be vacuous without the plant)
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("text",
          when(col("doc_id") % 23 === 7,
            concat(lit("Order ID "), col("doc_id"),
              lit("  please process within "), col("doc_id") % 9,
              lit(" days")))
            .otherwise(col("text")))
      planted
        .select(col("doc_id"), md5(norm).as("tpl_md5"))
        .groupBy("tpl_md5")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("tpl_md5")
    }),

    // CONTRASTIVE TRIPLET construction (the retrieval-training data
    // build): anchor = a q334 chunk, positive = the NEXT overlapping
    // chunk of the same doc (8 shared tokens — the standard
    // in-document positive), negative = chunk 0 of a DIFFERENT doc
    // picked deterministically: docs pair within 64 hash buckets by
    // next-higher (hash, id) with wraparound (the sorted-neighborhood
    // shape — per-bucket windows, never one global reducer; B scales
    // with the corpus). All three chunk payloads md5-certified. Docs
    // with a single chunk have no positive and drop — the oracle
    // states the same rule.
    "q341_contrastive_triplets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ch = slidingChunks(docs(s, dir))
        .withColumn("chunk_md5", md5(concat_ws(" ", col("chunk"))))
        .select(col("doc_id"), col("chunk_no"), col("chunk_md5"))
      val wd = Window.partitionBy(col("doc_id"))
      val anchors = ch
        .withColumn("n_chunks", max(col("chunk_no")).over(wd) + 1)
        .filter(col("chunk_no") < col("n_chunks") - 1)
      val positives = ch.select(col("doc_id"),
        (col("chunk_no") - 1).as("chunk_no"),
        col("chunk_md5").as("pos_md5"))
      val head = ch.filter(col("chunk_no") === 0)
        .select(col("doc_id"), col("chunk_md5").as("head_md5"))
        .withColumn("h", pmod(col("doc_id") * lit(2654435761L),
          lit(4294967296L)))
        .withColumn("bucket", pmod(col("h"), lit(64L)))
      val wb = Window.partitionBy(col("bucket"))
        .orderBy(col("h").asc, col("doc_id").asc)
      val negatives = head
        .withColumn("neg_doc_id", coalesce(lead(col("doc_id"), 1).over(wb),
          first(col("doc_id")).over(wb.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))))
        .withColumn("neg_md5", coalesce(lead(col("head_md5"), 1).over(wb),
          first(col("head_md5")).over(wb.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))))
        .select(col("doc_id"), col("neg_doc_id"), col("neg_md5"))
      anchors.join(positives, Seq("doc_id", "chunk_no"))
        .join(negatives, Seq("doc_id"))
        .filter(col("neg_doc_id") =!= col("doc_id"))
        .select(col("doc_id"), col("chunk_no"),
          col("chunk_md5").as("anchor_md5"), col("pos_md5"),
          col("neg_doc_id"), col("neg_md5"))
        .orderBy("doc_id", "chunk_no")
    }),

    // T5/UL2 span-corruption MATERIALIZATION — q240 gates the masking
    // PLAN (which positions mask, island census); this query emits the
    // artifact a trainer actually consumes (different hash family, so
    // the two gates cannot share a bug):
    // ~15% of token positions mask via the deterministic q106-style
    // hash, adjacent masked positions merge into spans, each span
    // becomes a <extra_id_K> sentinel in the INPUT and contributes
    // "<extra_id_K> tokens..." to the TARGET — the exact (input,
    // target) pair a T5 trainer consumes. Both sequences md5 per doc
    // (byte-certified against the oracle's window restatement) plus
    // the span census. One posexplode + two windows per doc; text
    // shuffles as (doc, pos, token) rows once.
    "q337_span_corruption" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          posexplode(words(col("text"))).as(Seq("pos", "tok")))
        .withColumn("flag",
          // reduce BEFORE the Knuth multiply (the q202 discipline):
          // 3e9 * 2654435761 stays inside Long where the raw
          // (doc_id*100003 + pos) product overflows past doc_id ~43k
          when(pmod(pmod(col("doc_id") * 100003L + col("pos") + 1,
            lit(3000000000L)) * lit(2654435761L),
            lit(4294967296L)) % 100 < 15, 1L)
            .otherwise(0L))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val spanned = toks
        .withColumn("brk", when(col("flag") === 1 &&
          coalesce(lag(col("flag"), 1).over(w), lit(0L)) === 0, 1L)
          .otherwise(0L))
        .withColumn("span_id", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val inputPiece = when(col("flag") === 0, col("tok"))
        .when(col("brk") === 1,
          concat(lit("<extra_id_"), col("span_id") - 1, lit(">")))
      val targetPiece = when(col("flag") === 1,
        when(col("brk") === 1, concat(lit("<extra_id_"),
            col("span_id") - 1, lit("> "), col("tok")))
          .otherwise(col("tok")))
      spanned.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum("flag").as("n_masked"),
          sum("brk").as("n_spans"),
          md5(concat_ws(" ", flatten(transform(array_sort(
            collect_list(struct(col("pos"),
              array(inputPiece).as("p")))), t => filter(t("p"),
              x => x.isNotNull))))).as("input_md5"),
          md5(concat_ws(" ", flatten(transform(array_sort(
            collect_list(struct(col("pos"),
              array(targetPiece).as("p")))), t => filter(t("p"),
              x => x.isNotNull))))).as("target_md5"))
        .orderBy("doc_id")
    }),

    // Chunking LOSSLESSNESS gate: rebuild every document from ONLY its
    // q334 chunks (non-last chunks contribute their stride prefix, the
    // last contributes whole) and md5 the reconstruction — the oracle
    // is simply md5(text) of the original table, so the gate proves the
    // sliding chunks carry the corpus byte-for-byte without the oracle
    // restating the chunker at all. One keyed exchange (doc), chunk
    // lists bounded by doc length.
    "q335_chunk_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id"))
      slidingChunks(docs(s, dir))
        .withColumn("last_no", max(col("chunk_no")).over(w))
        .withColumn("kept",
          when(col("chunk_no") === col("last_no"), col("chunk"))
            .otherwise(slice(col("chunk"), 1, 24)))
        .groupBy(col("doc_id"))
        .agg(md5(concat_ws(" ",
          flatten(transform(array_sort(collect_list(struct(
              col("chunk_no"), col("kept")))), t => t("kept")))))
          .as("text_md5"))
        .orderBy("doc_id")
    }),

    // Streaming twin of q73 — chunking at the ingestion door: the
    // explode+slice projection is per-row and stateless, so the plan
    // drains in Append mode (the deployed form is exactly this plus a
    // sink). Emits q73's exact projection and shares its oracle.
    "q336_stream_chunks" -> ((s, dir) => {
      val d = graft.streaming.DocumentStreams.readDocumentsStream(s, dir)
        .withColumn("w", words(col("text")))
        .withColumn("nw", size(col("w")))
      val out = d.select(col("doc_id"), col("w"), col("nw"),
          posexplode(when(col("nw") > 0,
            sequence(lit(0), col("nw") - 1, lit(24)))
            .otherwise(array().cast("array<int>"))).as(Seq("pos", "st")))
        .select(col("doc_id"),
          (col("pos") + 1).cast("bigint").as("chunk_no"),
          col("st").cast("bigint").as("start_tok"),
          least(lit(32), col("nw") - col("st")).cast("bigint").as("n_tok"),
          concat_ws(" ", slice(col("w"), col("st") + 1, lit(32)))
            .as("chunk_text"))
      graft.streaming.EventStreams.runToMemory(out,
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("doc_id", "chunk_no")
    }),

    // Content-addressed DATASET DIGEST (the "which bytes trained this
    // model" identity card): per source, row count + additive modular
    // content digest (md5 of the canonical row key, 60-bit cut, summed
    // mod 2^61−1) — order- and partitioning-invariant by construction
    // and INCREMENTAL: the gate also merges an (80%, 20%) history+delta
    // split pointwise and emits MERGE: violation rows unless the merge
    // bit-equals the from-scratch digest (the oracle has none). FULL
    // hash of the digests themselves against the oracle's restatement.
    "q329_dataset_digest" -> ((s, dir) => {
      import graft.operators.Profile
      val key = concat_ws("|", col("doc_id"),
        coalesce(col("lang"), lit("∅")),
        coalesce(col("source"), lit("∅")),
        coalesce(col("n_chars").cast("string"), lit("∅")),
        md5(coalesce(col("text"), lit("∅"))))
      val d = docs(s, dir)
      val full = Profile.datasetDigest(d, "source", key)
      val hist = Profile.datasetDigest(
        d.filter(col("doc_id") % 5 =!= 4), "source", key)
      val delta = Profile.datasetDigest(
        d.filter(col("doc_id") % 5 === 4), "source", key)
      val merged = Profile.mergeDigests(hist, delta, "source")
      val viol = merged.exceptAll(full)
        .unionAll(full.exceptAll(merged))
        .select(concat(lit("MERGE:"), col("source")).as("source"),
          col("n_rows"), col("digest"))
      full.unionByName(viol).orderBy("source")
    }),

    // Streaming twin of q329 — the live per-source dataset digest at
    // the ingestion door (state: one (count, sum) pair per source; the
    // additive digest is exactly the streamable shape). Bounded drain
    // ≡ batch; shares q329's oracle.
    "q330_stream_digest" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingDatasetDigest(s, dir)),

    // Deterministic POISSON-BOOTSTRAP CI for the per-source mean doc
    // length — the uncertainty bars a quality monitor needs before it
    // alarms on a mean shift. The bootstrap is DERANDOMIZED (q106
    // multiplicative hash thresholded on exact integer Poisson(1) CDF
    // cut points) and every replicate mean is an exact integer milli
    // value, so the whole resampling procedure — 64 replicates, order
    // statistics and all — is FULL-hash-gated against the oracle's
    // restatement. One map-side pass over docs × 64 weight terms into
    // a (source, b) census; the windows run over census rows only.
    "q328_bootstrap_ci" -> ((s, dir) =>
      graft.operators.Profile.bootstrapMeanCiMilli(
          docs(s, dir).filter(col("n_chars").isNotNull),
          "doc_id", "source", "n_chars", b = 64, loRank = 2)
        .orderBy("source")),

    // Aho–Corasick BLOCKLIST census (the multi-phrase scrub kernel at
    // 100 TB: K patterns in ONE byte pass per row instead of K regex
    // scans; phrases may span word boundaries — the capability the
    // word-exact MarkerHits kernel deliberately lacks). Planted
    // fixture: spam phrases appended on exact doc_id rules, counted by
    // the kernel per doc and FULL-hash-gated against the oracle's
    // split-based occurrence counts (patterns are borderless, so
    // non-overlapping split counts equal all occurrences; the
    // overlapping-hit semantics pin in ExpressionsSpec).
    "q326_blocklist_census" -> ((s, dir) => {
      val pats = Seq("buy cheap", "cheap now", "casino jackpot", "free win")
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("text",
          when(col("doc_id") % 7 === 2,
            concat(col("text"), lit(" Buy cheap now buy CHEAP now")))
          .when(col("doc_id") % 11 === 5,
            concat(col("text"), lit(" casino jackpot free win free win")))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
          graft.expressions.TextOps.ahoCorasickCounts(col("text"), pats)
            .as("c"))
        .select(col("doc_id"),
          col("c")(0).as("n_buy_cheap"), col("c")(1).as("n_cheap_now"),
          col("c")(2).as("n_casino"), col("c")(3).as("n_free_win"))
        .filter(col("n_buy_cheap") + col("n_cheap_now")
          + col("n_casino") + col("n_free_win") > 0)
        .orderBy("doc_id")
    }),

    // PII scrub profile (q49's planted-fixture pattern): the corpus
    // text contains no PII by construction, so every 25th document is
    // planted with an email + IPv4 + card-number suffix — the oracle
    // mirrors the plant — and the scrubber must (a) count each class
    // exactly and (b) produce the byte-identical redacted text,
    // hash-gated via md5. Entirely map-side codegen'd regex (zero
    // shuffle before the presentation sort); patterns stay inside the
    // Java∩RE2 regex subset so both engines read them identically.
    "q104_pii_scrub" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 25 === 0,
          concat(col("text"), lit(" contact alice.w@example.org from " +
            "10.0.0.1 ref 4111111111111111"))).otherwise(col("text")))
      graft.operators.Scrub.piiStats(planted, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Streaming twin of q104: the scrub is per-row codegen regex, so
    // the streaming plan is fully stateless (Append mode) — redaction
    // at the ingestion door. Bounded drain ≡ batch piiStats; shares
    // q104's oracle.
    "q185_stream_pii_scrub" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingPiiScrub(s, dir)),

    // Stratified weighted sampling: q130's A-ES keys selected PER
    // LANGUAGE through bounded per-group heaps (q76's
    // TopKAggregator shape — k-row partials merge map-side, no
    // stratum ever sorts) — equal per-language quotas with
    // quality-proportional within-stratum odds, the mixture+quality
    // sampling pass combined. Keys are continuous (exact-integer hash
    // → one division → ln), so heap order and the oracle's window
    // order agree without a tiebreak ever firing.
    "q151_stratified_weighted_sample" -> ((s, dir) => {
      val k = 25
      val topk = udaf(new graft.functions.TopKAggregator(k))
      val u = (docHash(col("doc_id")) + 1).cast("double") / lit(4294967297.0)
      docs(s, dir)
        .withColumn("es_key",
          -log(u) / greatest(col("n_chars"), lit(1L)).cast("double"))
        .groupBy("lang")
        .agg(topk(col("doc_id"), -col("es_key")).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "entry")))
        .select(col("lang"), (col("pos") + 1).cast("bigint").as("rnk"),
          col("entry._1").as("doc_id"),
          round(-col("entry._2"), 9).as("es_key"))
        .orderBy("lang", "rnk")
    }),

    // Dataset-card summary (the per-source statistics table a corpus
    // release documents): doc/token counts, language spread, bytes per
    // token, share of substantial documents. One partial-agg corpus
    // scan; every number derives from exact counts so the rounds are
    // digit-stable.
    "q148_dataset_card" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          round(sum("n_chars").cast("double") / sum("n_tok"), 6)
            .as("chars_per_token"),
          round(avg((col("n_tok") >= 100).cast("double")), 6).as("pct_long"))
        .orderBy("source")
    }),

    // Shard token-balance gate: the q106/q146 shards must stay within a
    // 1.5× max/min token ratio — a skewed shard starves every trainer
    // reading round-robin (the load-balance failure multiplicative-hash
    // sharding exists to prevent). Violations emit; empty oracle.
    "q149_shard_balance_gate" -> ((s, dir) => {
      val m = graft.operators.Packing
        .shardShuffle(docs(s, dir), "doc_id", nShards = 8, seed = 7L)
        .select(col("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("shard").agg(sum("n_tok").as("n_tokens"))
      m.agg(max("n_tokens").as("max_tokens"), min("n_tokens").as("min_tokens"))
        // An EMPTY shard (min_tokens = 0) is the worst possible skew:
        // its ratio is undefined (NULL under non-ANSI division), so it
        // must trip the gate explicitly — a bare `ratio > 1.5` filter
        // would drop the NULL row and let it silently pass.
        .withColumn("ratio",
          when(col("min_tokens") === 0, lit(null).cast("double"))
            .otherwise(round(col("max_tokens").cast("double") / col("min_tokens"), 6)))
        .filter(col("ratio") > 1.5 || col("min_tokens") === 0)
        .select(col("max_tokens"), col("min_tokens"), col("ratio"),
          lit(1.5).as("bound"))
    }),

    // Population-stability-index drift profile (the between-snapshot /
    // between-slice distribution check run before retraining filters or
    // mixing a new crawl in): PSI of the document-length distribution of
    // every non-baseline language against the 'en' baseline,
    // PSI = Σ_buckets (q−p)·ln(q/p) over fixed-width n_chars buckets
    // with the standard 1e-6 clamp for empty buckets (PSI is undefined
    // at zero mass; the clamp keeps a vanished bucket loud but finite).
    // Scale shape: the only corpus-scale work is one map-side-combinable
    // (lang, bucket) census; the lang × bucket grid (built by crossing
    // the two distinct sets, so a bucket missing from EITHER side still
    // contributes) and all the log arithmetic are model-sized. The
    // conventional read: PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25
    // action — emitted as a band column so the profile is actionable
    // without memorizing thresholds.
    "q159_psi_drift" -> ((s, dir) =>
      psiProfile(docs(s, dir).select(col("lang"),
        floor(col("n_chars") / lit(100.0)).cast("long").as("bucket")))),

    // Sensitivity gate for the q159 PSI monitor (the q305 discipline):
    // plant a genuinely SHIFTED length distribution — every 'de' doc's
    // n_chars quintuples, the distribution-shape pathology a swapped
    // crawler or changed extractor produces — and re-run the profile
    // on base and planted. Violations: `shift_missed` if the planted
    // language does not land in the 'action' band (PSI > 0.25), and
    // `bystander_changed` if any OTHER language's psi moves at all —
    // the plant adds new buckets to the shared grid, but a bucket
    // empty on both sides clamps p = q = 1e-6 and contributes exactly
    // (q−p)·ln(q/p) = 0, so unplanted languages must be bit-stable.
    // Plus the loud `vacuous` row if the planted language vanishes.
    // Oracle: the empty relation.
    "q312_psi_sensitivity" -> ((s, dir) => {
      def bucketed(mult: Column) = docs(s, dir).select(col("lang"),
        floor(col("n_chars") * mult / lit(100.0)).cast("long").as("bucket"))
      val before = psiProfile(bucketed(lit(1L)))
      val after = psiProfile(bucketed(
        when(col("lang") === "de", 5L).otherwise(1L)))
      val j = before.select(col("lang"), col("psi").as("psi_b"))
        .join(after.select(col("lang"), col("psi").as("psi_a"),
          col("band").as("band_a")), Seq("lang"))
      j.filter(col("lang") === "de" && col("band_a") =!= "action")
        .select(lit("shift_missed").as("violation"), col("lang"))
        .unionByName(j.filter(col("lang") =!= "de" &&
            !(col("psi_a") <=> col("psi_b")))
          .select(lit("bystander_changed").as("violation"), col("lang")))
        .unionByName(j.filter(col("lang") === "de")
          .agg(count(lit(1)).as("nv")).filter(col("nv") === 0)
          .select(lit("vacuous").as("violation"),
            lit(null).cast("string").as("lang")))
        .orderBy("violation", "lang")
    }),

    // Positional-inverted-index phrase search (the serving-side "find
    // every document containing this exact phrase" primitive; also the
    // lookup an ExactSubstr-style audit issues per suspect span). The
    // token relation is filtered to the QUERY'S OWN WORDS immediately
    // after the map-side explode — nothing but the phrase words'
    // postings ever reaches an exchange; at 100 TB the same join runs
    // against a PERSISTED (word, doc_id, pos) postings table bucketed
    // by word, where the IN-filter becomes real scan pruning and the
    // lookup never touches the corpus. Adjacency = equi-join on
    // (doc_id, pos−offset) per phrase word — no window, no array
    // re-walk; the oracle recomputes occurrences with DuckDB list
    // lambdas over the raw text.
    "q160_phrase_search" -> ((s, dir) => {
      val phrase = Seq("table", "part")
      val toks = docs(s, dir)
        .select(col("doc_id"), posexplode(words(col("text"))))
        .toDF("doc_id", "pos", "w")
        .filter(col("w").isin(phrase: _*))
      phrase.zipWithIndex
        .map { case (word, i) =>
          toks.filter(col("w") === word)
            .select(col("doc_id"), (col("pos") - i).as("pos"))
        }
        .reduce(_.join(_, Seq("doc_id", "pos")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
        .orderBy("doc_id")
    }),

    // Persisted positional-postings phrase search — q160's declared
    // scale path DELIVERED (the q102 move: when a docstring promises
    // "at corpus scale this runs against a persisted layout", ship the
    // layout and gate it). The (w, doc_id, pos) postings persist
    // bucketed-and-sorted on `w` (pay-the-shuffle-once); each phrase
    // word's lookup then BUCKET-PRUNES the scan — the plan reads 1 of
    // 16 buckets per word (PlanSpec pins SelectedBucketsCount), which
    // at 100 TB is the difference between an index lookup and a corpus
    // scan. Adjacency is q160's equi-join; the result is q160's, so it
    // shares q160's oracle (the q153 pattern).
    "q172_postings_phrase_search" -> ((s, dir) => {
      val phrase = Seq("table", "part")
      val postings = docs(s, dir)
        .select(col("doc_id"), posexplode(words(col("text"))))
        .toDF("doc_id", "pos", "w")
        .select(col("w"), col("doc_id"), col("pos"))
      graft.Bucketing.ensureBucketedTable(postings, "bq_postings_w",
        buckets = 16, key = "w",
        token = dir + "|" + graft.Tables.sourceToken(dir, "documents"))
      val tb = s.table("bq_postings_w")
      phrase.zipWithIndex
        .map { case (word, i) =>
          tb.filter(col("w") === word)
            .select(col("doc_id"), (col("pos") - i).as("pos"))
        }
        .reduce(_.join(_, Seq("doc_id", "pos")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
        .orderBy("doc_id")
    }),

    // Incremental postings-index maintenance — the q107 move applied
    // to q172's search index: a new batch's postings APPEND to the
    // bucketed table with the same bucket spec (each append file lands
    // in its word's bucket, still sorted), so the index absorbs a
    // day's documents without rewriting history — at 100 TB a rebuild
    // pays the whole corpus for a 0.1% delta. The lookup over the
    // appended table must equal the from-scratch answer: same result
    // relation as q160/q172, same oracle. Rebuilt-then-appended fresh
    // on every invocation so the gate exercises the append path
    // deterministically.
    // Postings tombstone delete — the third leg of the index lifecycle
    // (build q172, append q176, delete here): retention deletes mark a
    // tombstone set instead of rewriting the bucketed index, and the
    // search applies them as one broadcast anti-join AFTER the
    // bucket-pruned lookups — deletions are visible immediately at
    // read time while the physical purge (a per-bucket rewrite, q177's
    // move on a bucketed table) can run whenever maintenance windows
    // allow. The oracle restates the phrase search over the corpus
    // minus the deleted split (32 → 23 matching docs at sf0.01, so the
    // tombstones provably bite).
    "q186_postings_delete" -> ((s, dir) => {
      val phrase = Seq("table", "part")
      val postings = docs(s, dir)
        .select(col("doc_id"), posexplode(words(col("text"))))
        .toDF("doc_id", "pos", "w")
        .select(col("w"), col("doc_id"), col("pos"))
      graft.Bucketing.ensureBucketedTable(postings, "bq_postings_w",
        buckets = 16, key = "w",
        token = dir + "|" + graft.Tables.sourceToken(dir, "documents"))
      val tomb = docs(s, dir).filter(col("doc_id") % 5 === 0)
        .select("doc_id")
      val tb = s.table("bq_postings_w")
      phrase.zipWithIndex
        .map { case (word, i) =>
          tb.filter(col("w") === word)
            .select(col("doc_id"), (col("pos") - i).as("pos"))
        }
        .reduce(_.join(_, Seq("doc_id", "pos")))
        .join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
        .orderBy("doc_id")
    }),

    // PHYSICAL POSTINGS PURGE — the maintenance job behind q186's
    // read-time tombstones (the fourth leg of the index lifecycle:
    // build q172, append q176, tombstone q186, reclaim here): the
    // bucketed index rewrites WITHOUT the tombstoned docs' rows under
    // its own catalog bucket spec (every bucket genuinely holds
    // victims in a word-bucketed index — a full rewrite IS the
    // victim-partition rewrite), after which the search needs NO
    // tombstone anti-join and still bucket-prunes. In-gate referees:
    // zero victim postings remain (CENSUS), a second purge removes
    // nothing (NOT_IDEMPOTENT), the rewritten table still carries its
    // bucket spec (NOT_BUCKETED), and the purge actually bit
    // (NO_VICTIMS). Same result relation as q186 — shares its oracle.
    "q390_postings_purge" -> ((s, dir) => {
      val phrase = Seq("table", "part")
      val postings = docs(s, dir)
        .select(col("doc_id"), posexplode(words(col("text"))))
        .toDF("doc_id", "pos", "w")
        .select(col("w"), col("doc_id"), col("pos"))
      // fresh every invocation: purge MUTATES the table (the q176
      // recreate pattern, not the q172 ensure-once pattern)
      graft.Bucketing.recreateBucketedTable(postings, "bq_postings_purge",
        buckets = 16, key = "w")
      val victim = col("doc_id") % 5 === 0
      val n = graft.Bucketing.purgeBucketedTable(s, "bq_postings_purge",
        victim)
      val n2 = graft.Bucketing.purgeBucketedTable(s, "bq_postings_purge",
        victim)
      val tb = s.table("bq_postings_purge")
      // post-purge final state — the victim census rides the final job
      val leftover = tb.filter(victim)
      val stillBucketed = s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("bq_postings_purge"))
        .bucketSpec.exists(_.numBuckets == 16)
      val hits = phrase.zipWithIndex
        .map { case (word, i) =>
          tb.filter(col("w") === word)
            .select(col("doc_id"), (col("pos") - i).as("pos"))
        }
        .reduce(_.join(_, Seq("doc_id", "pos")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
      def viol(cond: Boolean, tag: Long) = s.range(1).filter(lit(cond))
        .select(lit(-1L).as("doc_id"), lit(tag).as("n_occ"))
      hits
        .unionByName(GateOps.sentinel(leftover, lit(-1L).as("doc_id"),
          lit(1L).as("n_occ")))
        .unionByName(viol(n2 != 0L, 2L))
        .unionByName(viol(!stillBucketed, 3L))
        .unionByName(viol(n == 0L, 4L))
        .orderBy("doc_id")
    }),

    "q176_postings_append" -> ((s, dir) => {
      val phrase = Seq("table", "part")
      def postings(d: DataFrame) = d
        .select(col("doc_id"), posexplode(words(col("text"))))
        .toDF("doc_id", "pos", "w")
        .select(col("w"), col("doc_id"), col("pos"))
      val all = docs(s, dir)
      graft.Bucketing.recreateBucketedTable(
        postings(all.filter(col("doc_id") % 4 =!= 0)),
        "bq_postings_inc", buckets = 16, key = "w")
      postings(all.filter(col("doc_id") % 4 === 0))
        .write.mode("append").bucketBy(16, "w").sortBy("w")
        .saveAsTable("bq_postings_inc")
      val tb = s.table("bq_postings_inc")
      phrase.zipWithIndex
        .map { case (word, i) =>
          tb.filter(col("w") === word)
            .select(col("doc_id"), (col("pos") - i).as("pos"))
        }
        .reduce(_.join(_, Seq("doc_id", "pos")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
        .orderBy("doc_id")
    }),

    // Incremental KMV sketch-table maintenance GATE — the operating
    // mode that makes per-group sketches a 100 TB primitive: the
    // corpus-scale aggregation runs once per arriving batch; absorbing
    // the batch into the standing per-source vocabulary profile is a
    // group-keyed join of two model-sized sketch tables
    // (`Sketches.mergeKmvTables`), history never re-read. KMV merge is
    // exact set-union-then-truncate, so the maintained table must be
    // BIT-IDENTICAL to a from-scratch sketch of the whole corpus — the
    // gate emits any (source, position) where the two sketch arrays
    // differ, and the oracle is the empty relation. (q93 is the same
    // law for additive aggregates; this is its sketch-state sibling.)
    "q166_kmv_incremental" -> ((s, dir) => {
      val k = 256
      import graft.operators.Sketches
      def grams(d: DataFrame) = d.select(col("source"),
        explode(shingles(col("text"), 3)).as("g"))
      // Half-corpus referee slice (the q154 rationale): this gate runs
      // the incremental merge AND a from-scratch rebuild by contract;
      // the evens still split %4 into history (2 mod 4) vs delta (0
      // mod 4), so the maintained-vs-scratch law stays non-vacuous.
      val all = docs(s, dir).filter(col("doc_id") % 2 === 0)
      val history = Sketches.kmvSketch(
        grams(all.filter(col("doc_id") % 4 =!= 0)), Seq("source"), "g", k)
      val delta = Sketches.kmvSketch(
        grams(all.filter(col("doc_id") % 4 === 0)), Seq("source"), "g", k)
      val maintained = Sketches.mergeKmvTables(history, delta,
        Seq("source"), k)
      val scratch = Sketches.kmvSketch(grams(all), Seq("source"), "g", k)
      maintained.withColumnRenamed("sk", "sk_inc")
        .join(scratch.withColumnRenamed("sk", "sk_scratch"),
          Seq("source"), "full")
        .filter(col("sk_inc").isNull || col("sk_scratch").isNull ||
          col("sk_inc") =!= col("sk_scratch"))
        .select(col("source"), size(col("sk_inc")).as("n_inc"),
          size(col("sk_scratch")).as("n_scratch"))
        .orderBy("source")
    }),

    // Streaming per-source vocabulary sketch — the KMV trio's third
    // leg (build q157, incremental q166, streaming here): the sketch
    // folds inside the streaming aggregation with k longs of state per
    // source; merge-order invariance makes the drained sketch
    // BIT-IDENTICAL to the batch referee, so the gate needs no
    // tolerance band (contrast q131's HLL monitor).
    "q175_stream_vocab_sketch" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingVocabSketch(s, dir)),

    // Markup stripping (the WET-extraction stage: tags and
    // script/style payloads are boilerplate, entity-encoded text
    // miscounts tokens). The corpus is markup-free by construction, so
    // every 10th document is PLANTED with a full wrapper — nested tags
    // with attributes, a <script> whose body contains a bare `<`, a
    // <style> block, and entity-encoded text (`&amp;` + `&lt;tag&gt;`,
    // which must decode to literal text, not resurrect as a tag) — and
    // the scrubbed output is hash-gated byte-for-byte (the q104
    // pattern). Entirely map-side codegen regex in the Java∩RE2
    // subset; spec-side: clean docs pass through byte-identical, and
    // the scrub is idempotent except where entity decoding legitimately
    // produced literal <...> text — the documented reason it runs ONCE
    // at ingest.
    "q165_markup_strip" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 10 === 0, concat(
          lit("<html><body onload=\"x()\"><p class=\"a\">"), col("text"),
          lit("</p><script type=\"text/javascript\">var x = 1 < 2;" +
            "</script><style>.a{color:red}</style> Fish &amp; Chips " +
            "&lt;tag&gt;</body></html>")))
          .otherwise(col("text")))
      planted.filter(col("doc_id") % 10 === 0)
        .withColumn("clean", graft.operators.Scrub.stripMarkup(col("text")))
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          length(col("clean")).cast("bigint").as("n_chars_clean"))
        .orderBy("doc_id")
    }),

    // Rendezvous (highest-random-weight) re-sharding: growing a
    // sharded 100 TB corpus from 8 to 9 shards must NOT be `hash mod
    // n` — mod re-sharding relocates (n−1)/n ≈ 89% of every shard;
    // rendezvous hashing relocates only the ≈ 1/9 of docs whose argmax
    // lands on the new shard, and everything else stays byte-for-byte
    // where it was. Owner = argmax over shards of
    // h(doc, s) = (mix(doc)·mix(s)) mod p — the per-(doc, shard)
    // weight must mix doc and s NONLINEARLY: an affine family like
    // mix(doc + s·c) makes h(·, s) an arithmetic progression in s, the
    // same shard wins the argmax almost everywhere, and the layout
    // collapses (observed: 64% of the corpus on one shard). The
    // multiply-mod-prime form keeps both operands < 2³¹ so the product
    // stays exact in BIGINT, and lands balanced (52-75 docs/shard
    // here) with ≈ 1/9 movement. Computed MAP-SIDE as an array fold
    // with the tie-free packing h·16+s (owner = max % 16 — no window,
    // no explode, no shuffle before the 8-row summary aggregate); the
    // output compares rendezvous movement against the mod baseline per
    // shard, exact integer arithmetic end-to-end, so the oracle
    // restates it verbatim.
    "q164_rendezvous_reshard" -> ((s, dir) => {
      def owner(n: Int) = array_max(transform(
        sequence(lit(0L), lit(n - 1L)),
        i => ((col("doc_id") * lit(2654435761L) % lit(2147483648L) + 1L) *
          ((i + lit(131L)) * lit(2654435761L) % lit(2147483648L) + 1L))
          % lit(1000000007L) * lit(16L) + i)) % lit(16L)
      docs(s, dir)
        .select(col("doc_id"), owner(8).as("shard8"), owner(9).as("shard9"),
          (col("doc_id") % 8).as("mod8"), (col("doc_id") % 9).as("mod9"))
        .groupBy("shard8")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(when(col("mod8") =!= col("mod9"), 1L).otherwise(0L))
            .as("n_moved_mod"))
        // Exact BIGINT parts-per-million — floating fractions are
        // banned from gate outputs (DuckDB's `x * 1.0 / y` chain is
        // DECIMAL or DOUBLE depending on version; integer division is
        // one value everywhere).
        .withColumn("move_frac_ppm",
          expr("n_moved * 1000000 div n_docs"))
        .withColumn("move_frac_mod_ppm",
          expr("n_moved_mod * 1000000 div n_docs"))
        .orderBy("shard8")
    }),

    // Source-level (domain-level) duplication filter — the hierarchical
    // cleanup web pipelines run BEFORE document-level dedup: a source
    // whose pages are mostly copies of each other is a template farm,
    // and dropping the whole source is cheaper and safer than pairwise
    // deduping its members (C4/RefinedWeb drop high-duplication domains
    // outright). Per-source dup_rate = 1 − distinct/total over text
    // digests: the distinct count shuffles 16-byte md5 digests keyed by
    // source — text never moves (the q96 fingerprint discipline) and
    // the decision table is source-count-sized, broadcast back to
    // filter at corpus scale. The corpus has no natural template farms,
    // so two are PLANTED (the q104/q110 fixture pattern — src4/src9
    // collapse to 3 rotating templates); the oracle mirrors the plant,
    // and the filter must quarantine exactly those two sources.
    "q162_source_dup_filter" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("source").isin("src4", "src9"),
          concat(lit("template boilerplate page variant "),
            (col("doc_id") % 3).cast("string")))
          .otherwise(col("text")))
      planted.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(md5(col("text"))).as("n_distinct"))
        .withColumn("dup_rate_ppm",
          expr("(n_docs - n_distinct) * 1000000 div n_docs"))
        .withColumn("kept", col("dup_rate_ppm") <= 500000L)
        .select("source", "n_docs", "n_distinct", "dup_rate_ppm", "kept")
        .orderBy("source")
    }),

    // Rank-based score fusion (quantile normalization): combining two
    // quality signals with incomparable scales by EXACT rank — each
    // signal's distributed rank comes from the q125 two-phase machinery
    // (`Profile.exactRank`), never a whole-corpus single-partition
    // window — then averaging rank percentiles. Contract pinned
    // explicitly: the stopword signal is 1e-6-quantized (floor) before
    // ranking and ties break on the STRING form of doc_id, so both
    // engines sort identically; the top-20 selection is a bounded
    // TakeOrderedAndProject. This is the scale-correct form of "blend
    // two filter scores" — z-scores need distributional assumptions,
    // min-max is outlier-hostage; rank fusion needs only the exact rank
    // the engine already distributes.
    "q163_rank_fusion" -> ((s, dir) => {
      import graft.operators.Profile
      val nTok = size(words(col("text"))).cast("double")
      val sr = markerHits(col("text"), markers.head._2).cast("double") / nTok
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"),
        floor(sr * 1e6).cast("long").as("sr_q"),
        col("doc_id").cast("string").as("tie"))
      val r1 = Profile.exactRank(
        d.select(col("doc_id"), col("sr_q"), col("tie")),
        "sr_q", "tie", "r_stop")
      val r2 = Profile.exactRank(
        d.select(col("doc_id"), col("n_chars"), col("tie")),
        "n_chars", "tie", "r_len")
      val n = broadcast(docs(s, dir).agg(count(lit(1)).as("n")))
      r1.select("doc_id", "r_stop")
        .join(r2.select("doc_id", "r_len"), Seq("doc_id"))
        .crossJoin(n)
        .select(col("doc_id"), col("r_stop"), col("r_len"),
          round((col("r_stop") + col("r_len")) / (lit(2.0) * col("n")), 6)
            .as("fused"))
        .orderBy(col("fused").desc, col("doc_id")).limit(20)
    }),

    // Length–quality correlation profile: per-language Pearson r between
    // token count and stopword ratio — the quick collinearity check run
    // before trusting either as an independent filter signal. corr is a
    // single-pass co-moment aggregate (partial+final) on both engines;
    // the 6dp round absorbs their accumulation-order drift.
    "q150_length_quality_corr" -> ((s, dir) => {
      val nTok = size(words(col("text"))).cast("double")
      val d = docs(s, dir)
        .withColumn("n_tok", nTok)
        .withColumn("stop_ratio",
          markerHits(col("text"), markers.head._2).cast("double") / nTok)
      d.groupBy("lang")
        .agg(count(lit(1)).as("n"),
          round(corr(col("n_tok"), col("stop_ratio")), 6).as("len_stop_corr"))
        .orderBy("lang")
    }),

    // Training-shard integrity manifest: per shard of the q106
    // deterministic shuffle, doc/token counts plus an ORDER-INVARIANT
    // content checksum (sum of the q30 polynomial fingerprints — exact
    // BIGINT, so re-materializing a shard in any row order reproduces
    // the manifest bit-for-bit). This is the artifact a training run
    // records so a re-export, a backfill, or a corrupted shard is
    // caught by diffing two 8-row tables instead of re-reading the
    // corpus. One map-side pass (hash + fingerprint per row) + an
    // 8-group aggregate.
    "q146_shard_manifest" -> ((s, dir) => {
      import graft.functions.TextFunctions.fingerprint
      graft.operators.Packing
        .shardShuffle(docs(s, dir), "doc_id", nShards = 8, seed = 7L)
        .select(col("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          fingerprint("text").as("fp"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          sum("fp").as("content_sum"))
        .orderBy("shard")
    }),

    // PII-scrub IDEMPOTENCE gate: redactPii(redactPii(text)) must equal
    // redactPii(text) on the q104 planted corpus — the property that
    // makes re-running a scrub pass over already-clean data safe (a
    // non-idempotent redactor that mangles its own placeholders
    // corrupts every rerun). Violating doc_ids emit; the oracle is the
    // EMPTY relation. Two map-side kernel passes, no shuffle but the
    // presentation sort.
    "q147_scrub_idempotence" -> ((s, dir) => {
      import graft.operators.Scrub.redactPii
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 25 === 0,
          concat(col("text"), lit(" contact alice.w@example.org from " +
            "10.0.0.1 ref 4111111111111111"))).otherwise(col("text")))
      planted.withColumn("once", redactPii(col("text")))
        .withColumn("twice", redactPii(col("once")))
        .filter(col("once") =!= col("twice"))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition filters: duplicate-word fraction and
    // most-frequent-bigram fraction, both from ONE RepetitionStats
    // kernel pass per document — no per-gram explode, no shuffle of
    // gram rows (the formulation a naive groupBy(doc, gram) would pay
    // corpus-wide at 100 TB).
    "q60_repetition" -> ((s, dir) => {
      val stats = graft.expressions.TextOps.repetitionStats(col("text"))
      docs(s, dir)
        .withColumn("__r", stats)
        .select(col("doc_id"),
          round(element_at(col("__r"), 1), 6).as("dup_word_frac"),
          round(element_at(col("__r"), 2), 6).as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // Corpus drift: add-1-smoothed unigram KL divergence (both
    // directions) and Jensen-Shannon divergence between the even- and
    // odd-doc_id slices — the distribution-shift monitor a training-data
    // pipeline runs between corpus versions. One token explode + one
    // term-keyed aggregation; the divergence itself is a tiny second
    // aggregate over the (vocab-sized) term frame.
    "q92_corpus_drift" -> ((s, dir) => {
      import graft.functions.TextFunctions.words
      val toks = docs(s, dir)
        .select((col("doc_id") % 2 === 0).as("in_a"),
          explode(words(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val counts = toks.groupBy("term").agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("cb"))
      val tot = broadcast(counts.agg(
        sum("ca").as("tot_a"), sum("cb").as("tot_b"),
        count(lit(1)).as("v")))
      counts.crossJoin(tot)
        .withColumn("p", (col("ca") + 1).cast("double") / (col("tot_a") + col("v")))
        .withColumn("q", (col("cb") + 1).cast("double") / (col("tot_b") + col("v")))
        .withColumn("m", (col("p") + col("q")) / 2)
        .agg(
          first(col("v")).as("n_terms"),
          first(col("tot_a")).as("tot_a"),
          first(col("tot_b")).as("tot_b"),
          round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl_ab"),
          round(sum(col("q") * log(col("q") / col("p"))), 6).as("kl_ba"),
          round(sum(col("p") * log(col("p") / col("m")) +
            col("q") * log(col("q") / col("m"))) / 2, 6).as("jsd"))
    }),

    // Fill-in-the-middle transform (Bavarian et al. 2022) — the code-
    // corpus prep that moves a hash-chosen middle span to the end so a
    // causal LM learns infilling. Split points derive from doc_id
    // (reproducible across epochs and engines); half the corpus
    // transforms (the paper's 50% FIM rate), split evenly between PSM
    // (<PRE>p<SUF>s<MID>m) and joined SPM (<PRE><SUF>s<MID>p·m)
    // rendering. Pure per-row string arithmetic: one scan, zero
    // shuffle before the presentation sort, codegen end to end. The
    // md5 pins the exact transformed bytes; the three length columns
    // pin the char-conservation law n_pre + n_mid + n_suf = len(text).
    "q243_fim_transform" -> ((s, dir) =>
      fimTransform(docs(s, dir)).orderBy("doc_id")),

    // Streaming twin of q243: the FIM rewrite is per-row string
    // arithmetic, so the streaming plan is fully stateless (Append
    // mode) — objective prep at the ingestion door. Bounded drain ≡
    // batch; shares q243's oracle.
    "q260_stream_fim_transform" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingStatelessDocs(s, dir,
        fimTransform)),

    // Chat-template flattening + loss-mask accounting — the SFT data
    // prep: docs group into 4-turn conversations (conv_id = doc_id/4,
    // turn order = doc_id mod 4), roles alternate user/assistant by
    // doc_id parity, each turn renders as <|role|>text<|end|>, and the
    // conversation is the ordered concatenation. The loss mask is the
    // assistant-token set: user/role tokens are context-only. Per-turn
    // token cost is words+2 (role marker + end marker); an assistant
    // turn contributes words+1 to the loss (its text + its end marker —
    // the model never predicts its own role token). ONE groupBy(conv)
    // shuffle of pre-rendered turn strings; the concat is an ordered
    // array fold inside the aggregate — no window, no driver state.
    // NULL-text docs drop before grouping (an empty turn is not a
    // turn), so n_turns ≤ 4 and conversations parallelize freely.
    "q244_chat_flatten" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("conv_id", expr("doc_id div 4"))
        .withColumn("pos", col("doc_id") % 4)
        .withColumn("role",
          when(col("doc_id") % 2 === 0, "user").otherwise("assistant"))
        .withColumn("n_words", size(words(col("text"))).cast("bigint"))
        .withColumn("rendered", concat(lit("<|"), col("role"), lit("|>"),
          col("text"), lit("<|end|>")))
        .withColumn("t_tok", col("n_words") + 2L)
        .withColumn("t_loss", when(col("role") === "assistant",
          col("n_words") + 1L).otherwise(0L))
      d.groupBy("conv_id")
        .agg(count(lit(1)).as("n_turns"),
          sum("t_tok").as("n_tokens"),
          sum("t_loss").as("n_loss"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("rendered")))),
            x => x.getField("rendered")), "")).as("flat_md5"))
        .withColumn("loss_ppm", expr("(1000000 * n_loss) div n_tokens"))
        .select("conv_id", "n_turns", "n_tokens", "n_loss", "loss_ppm",
          "flat_md5")
        .orderBy("conv_id")
    }),

    // SPDX license-header detection + strip — the code-corpus
    // compliance op: a source-file crawl must classify the license (to
    // admit/exclude by policy) and remove the header before training so
    // the model doesn't parrot boilerplate. Headers are planted
    // deterministically (doc_id % 7 = 0; MIT/Apache-2.0 alternating by
    // doc_id div 7) and detected with ONE anchored regex in the
    // Java∩RE2 dialect (the q104 discipline: both engines run the
    // byte-identical pattern). strip∘plant is the identity on this
    // corpus, so stripped_md5 doubles as a full inverse gate. Pure
    // per-row regex — one scan, codegen, no shuffle before the sort.
    "q245_license_scrub" -> ((s, dir) =>
      graft.operators.Scrub.licenseScrub(
        plantSpdxHeaders(docs(s, dir)), "doc_id", "text")
        .orderBy("doc_id")),

    // Streaming twin of q245: the classify+strip is per-row codegen
    // regex, so the streaming plan is fully stateless (Append mode) —
    // license compliance at the ingestion door, before a source file
    // ever lands in the lake. Bounded drain ≡ batch; shares q245's
    // oracle.
    "q249_stream_license_scrub" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingLicenseScrub(s, dir)),

    // Best-of-n rejection sampling — the RLHF/distillation selector:
    // within each candidate group ("prompt" = doc_id div 8), keep the
    // argmax of the deterministic reward (q241's exact-integer score,
    // 1000·stop_hits + n_tokens, doc_id tiebreak) and record the margin
    // over the runner-up — the confidence signal a distillation
    // pipeline logs to decide whether the prompt is worth keeping.
    // One window shuffle on the group key; groups parallelize (the
    // partition key has corpus/8 cardinality, nothing funnels), no
    // driver state. Sole-candidate groups report margin 0.
    "q247_best_of_n" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("prompt_id", expr("doc_id div 8"))
        .withColumn("reward",
          lit(1000L) * markerHits(col("text"), markers.head._2).cast("bigint")
            + size(words(col("text"))).cast("bigint"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("prompt_id")
        .orderBy(col("reward").desc, col("doc_id").asc)
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy("prompt_id")
      d.withColumn("rnk", row_number().over(w))
        .withColumn("n_cands", count(lit(1)).over(wg).cast("bigint"))
        .withColumn("runner_up", lead(col("reward"), 1).over(w))
        .filter(col("rnk") === 1)
        .select(col("prompt_id"), col("doc_id").as("best_doc"),
          col("reward").as("best_reward"),
          coalesce(col("reward") - col("runner_up"), lit(0L)).as("margin"),
          col("n_cands"))
        .orderBy("prompt_id")
    }),

    // Distinct-n diversity (Li et al. 2016's distinct-1/distinct-2,
    // run as a corpus monitor): per source, the ratio of distinct
    // unigrams/bigrams to totals, in exact ppm. A collapsing ratio
    // flags template spam or synthetic-data mode collapse before it
    // trains in. Each n runs census-first — groupBy(source, gram)
    // count, then a source-keyed rollup of (rows, Σcnt): the census is
    // map-side combinable so repeated grams collapse before the
    // exchange, the rollup input is vocabulary-sized, and no Expand
    // doubles the exploded rows the way a mixed count_distinct+count
    // aggregate would. The bigram build is `wordBigrams` — see its
    // Scaladoc for the O(len²) lambda re-split this avoids (measured
    // 11× on this query's sf1 census).
    "q248_distinct_ngrams" -> ((s, dir) => {
      val base = docs(s, dir).filter(col("text").isNotNull)
      def stats(grams: DataFrame, dn: String, tn: String): DataFrame =
        grams.groupBy("source", "g").agg(count(lit(1)).as("cnt"))
          .groupBy("source")
          .agg(count(lit(1)).as(dn), sum("cnt").as(tn))
      val uni = stats(
        base.select(col("source"), explode(words(col("text"))).as("g")),
        "distinct_1", "total_1")
      val bi = stats(
        base.select(col("source"), explode(wordBigrams(col("text"))).as("g")),
        "distinct_2", "total_2")
      uni.join(bi, Seq("source"))
        .withColumn("d1_ppm", expr("(1000000 * distinct_1) div total_1"))
        .withColumn("d2_ppm", expr("(1000000 * distinct_2) div total_2"))
        .select("source", "distinct_1", "total_1", "distinct_2", "total_2",
          "d1_ppm", "d2_ppm")
        .orderBy("source")
    }),

    // UL2 mixture-of-denoisers task assignment (Tay et al. 2022) — the
    // objective-mix data prep behind UL2/PaLM-2: each doc draws a
    // denoiser by hash (50% R: short spans at 15%, 25% X: extreme
    // 16-32-token spans at 1/64 starts, 25% S: prefix-LM masking the
    // suffix half) and the EXACT mask set materializes per task — the
    // q240 coverage machinery generalized to a 32-position lookback
    // with task-conditional rate/length, all parameters hash-derived
    // from (doc_id, position) so every epoch and engine rebuilds the
    // identical mask. Per-row HOFs over the token sequence (the
    // lookback bound is a constant 32): one scan, zero shuffle before
    // the presentation sort. The order-sensitive mask_hash pins WHICH
    // tokens mask, not just how many.
    "q253_ul2_denoiser_mix" -> ((s, dir) => {
      val P = 1000000007L
      def h(q: Column): Column = (col("doc_id") * 1000003L + q * 7919L) % P
      def startsAt(q: Column): Column =
        when(col("task") === "r", h(q) % 20 < 3)
          .when(col("task") === "x", h(q) % 64 === 0)
          .otherwise(lit(false))
      def lenAt(q: Column): Column =
        when(col("task") === "r", floor(h(q) / 20).cast("long") % 3 + 1)
          .otherwise(floor(h(q) / 64).cast("long") % 17 + 16)
      val wsa = words(col("text"))
      val d = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("task",
          when(docHash(col("doc_id")) % 4 <= 1, "r")
            .when(docHash(col("doc_id")) % 4 === 2, "x").otherwise("s"))
        .withColumn("n_tokens", size(wsa).cast("bigint"))
        .withColumn("cov", transform(sequence(lit(0), size(wsa) - 1),
          p => when(col("task") === "s",
            when(p >= col("n_tokens") - expr("n_tokens div 2"), 1L)
              .otherwise(0L))
            .otherwise(when(exists(
              // lookback only as far as the task's max span length
              // (r: 3, x: 32) — the window drives the per-element HOF
              // cost, and HOF lambdas run interpreted.
              sequence(greatest(lit(0),
                p - when(col("task") === "r", 2L).otherwise(31L)), p),
              q => startsAt(q) && lenAt(q) > p - q), 1L).otherwise(0L))))
      d.select(col("doc_id"), col("task"), col("n_tokens"),
          aggregate(col("cov"), lit(0L), (a, x) => a + x).as("n_masked"),
          aggregate(sequence(lit(0), col("n_tokens") - 1), lit(0L),
            (a, p) => when(
              element_at(col("cov"), (p + 1).cast("int")) === 1,
              (a * 131L + p) % P).otherwise(a)).as("mask_hash"))
        .withColumn("mask_ppm", expr("(1000000 * n_masked) div n_tokens"))
        .select("doc_id", "task", "n_tokens", "n_masked", "mask_ppm",
          "mask_hash")
        .orderBy("doc_id")
    }),

    // Duplicate-aware epoch allocation (Muennighoff et al. 2023,
    // "Scaling Data-Constrained Language Models"): repeating data is
    // nearly free for ~4 epochs and decays after, so a doc's epoch
    // budget shrinks with its duplicate count — singletons train 4
    // epochs, 2-3-way dups 3, 4-7-way 2, heavier 1 (explicit CASE
    // thresholds, NOT floor(log2): float log at exact powers of two is
    // an engine-divergence hazard). Dup counts come from ONE window
    // over the md5 fingerprint — text never shuffles, no join-back —
    // and the planted template spam (q162's fixture) gives the decay
    // real mass. Effective tokens = epochs × tokens is the number the
    // mixture designer actually budgets.
    "q254_dup_aware_epochs" -> ((s, dir) => {
      val wd = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      docs(s, dir).filter(col("text").isNotNull)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(lit("template boilerplate page variant "),
            (expr("(doc_id div 10) % 5")).cast("string")))
          .otherwise(col("text")))
        .withColumn("fp", md5(col("text")))
        .withColumn("n_tokens", size(words(col("text"))).cast("bigint"))
        .withColumn("dup_count", count(lit(1)).over(wd).cast("bigint"))
        .withColumn("n_epochs",
          when(col("dup_count") >= 8, 1L)
            .when(col("dup_count") >= 4, 2L)
            .when(col("dup_count") >= 2, 3L).otherwise(4L))
        .select(col("doc_id"), col("dup_count"), col("n_epochs"),
          col("n_tokens"),
          (col("n_epochs") * col("n_tokens")).as("effective_tokens"))
        .orderBy("doc_id")
    }),

    // In-batch duplicate-collision accounting — the contrastive-
    // training hazard check: retrieval/embedding trainers use other
    // in-batch examples as negatives, and two near-identical docs in
    // one batch poison the loss with false negatives. Batches are
    // hash-assigned (16 of ~corpus/16 docs); per batch, the duplicate
    // census (batch, fingerprint) → Σ C(k,2) counts colliding pairs
    // exactly, against the planted template spam. One shuffle into the
    // census; pair math is closed-form on group sizes — no pair
    // enumeration, no self-join, so it scales as the census, not the
    // collisions.
    "q255_inbatch_collisions" -> ((s, dir) => {
      val b = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(lit("template boilerplate page variant "),
            (expr("(doc_id div 10) % 5")).cast("string")))
          .otherwise(col("text")))
        .select((docHash(col("doc_id")) % 16).as("batch"),
          md5(col("text")).as("fp"))
      b.groupBy("batch", "fp").agg(count(lit(1)).as("k"))
        .groupBy("batch")
        .agg(sum("k").as("n_docs"),
          sum(expr("k * (k - 1) div 2")).as("n_dup_pairs"))
        .withColumn("collision_ppm",
          when(col("n_docs") >= 2,
            expr("(2000000 * n_dup_pairs) div (n_docs * (n_docs - 1))"))
            .otherwise(0L))
        .select("batch", "n_docs", "n_dup_pairs", "collision_ppm")
        .orderBy("batch")
    }),

    // BERT-style MLM masking with the 80/10/10 rule (Devlin et al.
    // 2018): 15% of positions mask (h % 20 < 3), and a masked position
    // becomes [MASK] (80%), a deterministic "random" same-doc token
    // (10%), or stays itself (10%) — every decision hash-derived from
    // (doc_id, position), so epochs and engines rebuild the identical
    // corruption. Completes the objective-prep family (CLM packing,
    // span corruption q240, FIM q243, UL2 q253). The token array
    // materializes ONCE per row as a column and every lambda indexes
    // that attribute — never a split inside a lambda (the wordBigrams
    // hazard). One scan, zero shuffle before the sort; out_md5 pins
    // the exact corrupted bytes, decision_hash the per-position rule.
    "q256_mlm_masking" -> ((s, dir) =>
      mlmMasking(docs(s, dir)).orderBy("doc_id")),

    // Streaming twin of q256: the corruption is per-row column
    // arithmetic over the materialized token array, so the streaming
    // plan is fully stateless (Append mode). Bounded drain ≡ batch;
    // shares q256's oracle.
    "q261_stream_mlm_masking" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingStatelessDocs(s, dir,
        mlmMasking)),

    // Streaming twin of q247: best-of-n as a streaming aggregation —
    // a bounded TopKAggregator(2) per prompt carries the winner AND
    // the runner-up the margin needs (map-side-combinable partials,
    // 16 bytes of state per group in Complete mode). The reward
    // expression is passed in so both twins score identically.
    // Bounded drain ≡ batch; shares q247's oracle.
    "q258_stream_best_of_n" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingBestOfN(s, dir,
        lit(1000L) * markerHits(col("text"), markers.head._2).cast("bigint")
          + size(words(col("text"))).cast("bigint"))),

    // Incremental anchor-census maintenance — q252 under daily-batch
    // arrival (the q166 mergeKmvTables discipline): the standing
    // (target, anchor, cnt) census merges with the new batch's census
    // by pointwise count addition — history TEXT is never re-read; the
    // merge is census-sized — and the release (in-degree, unique
    // anchors, top anchor) recomputes from the merged census alone.
    // The gate is bit-identity with the from-scratch q252 relation
    // (shared oracle), which is exactly the law an incremental
    // maintainer must satisfy. Link-target hashing uses the FULL
    // corpus size on both paths (targets are defined over the whole
    // id space, not per batch).
    "q259_anchor_incremental" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).filter(col("text").isNotNull)
      val n = broadcast(d.agg(count(lit(1)).as("__n")))
      def census(part: DataFrame): DataFrame = part.crossJoin(n)
        .select(col("doc_id"), col("__n"),
          array_join(slice(words(col("text")), 1, 3), " ").as("anchor"))
        .withColumn("k", explode(sequence(lit(0L), lit(2L))))
        .select(((col("doc_id") * 1000003L + col("k") * 7919L + 13L)
          % col("__n")).as("target_id"), col("anchor"))
        .groupBy("target_id", "anchor").agg(count(lit(1)).as("cnt"))
      val current = census(d.filter(col("doc_id") % 5 =!= 0))
      val delta = census(d.filter(col("doc_id") % 5 === 0))
      val merged = current.unionByName(delta)
        .groupBy("target_id", "anchor").agg(sum("cnt").as("cnt"))
      val wg = Window.partitionBy("target_id")
      val w = Window.partitionBy("target_id")
        .orderBy(col("cnt").desc, col("anchor").asc)
      merged
        .withColumn("n_links", sum("cnt").over(wg))
        .withColumn("n_unique_anchors", count(lit(1)).over(wg).cast("bigint"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("target_id"), col("n_links"), col("n_unique_anchors"),
          col("anchor").as("top_anchor"), col("cnt").as("top_cnt"))
        .orderBy("target_id")
    }),

    // Streaming twin of q248: the per-(source, gram) census maintains
    // as a streaming aggregation (Complete mode — vocabulary-sized
    // state, the monitor a corpus-intake dashboard actually holds) and
    // the source-level distinct/total rollup computes on each drained
    // snapshot. Bounded drain ≡ batch; shares q248's oracle.
    "q257_stream_distinct_ngrams" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingDistinctNgrams(s, dir)),

    // Negative-sampling distribution (word2vec, Mikolov et al. 2013
    // §2.2): sampling weight ∝ cnt^0.75 — the flattened-unigram table
    // every contrastive/embedding trainer builds. Determinism
    // engineering: cnt^0.75 computes as (sqrt(sqrt(cnt)))³ — sqrt and
    // multiply are IEEE-correctly-rounded in BOTH engines (pow is
    // not), so the weight is bit-identical cross-engine; it then
    // QUANTIZES to a 1e-3 grid so the normalizing total is an exact
    // BIGINT sum (order-independent — a float Σ over the vocabulary
    // would hash-diverge on aggregation order). One census pass;
    // everything after is vocabulary-sized.
    "q264_negative_sampling" -> ((s, dir) => {
      val census = docs(s, dir).filter(col("text").isNotNull)
        .select(explode(words(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val s2 = sqrt(sqrt(col("cnt").cast("double")))
      val wq = census
        .withColumn("wq", floor(s2 * s2 * s2 * 1000d).cast("bigint"))
      val tot = broadcast(wq.agg(sum("wq").as("tot")))
      wq.crossJoin(tot)
        .withColumn("w_ppm", expr("(1000000 * wq) div tot"))
        .select("term", "cnt", "wq", "w_ppm")
        .orderBy(col("cnt").desc, col("term").asc)
        .limit(200)
    }),

    // Shuffle-quality audit — did the shard shuffle actually break up
    // source runs and duplicate adjacency? Training order matters:
    // consecutive same-source (or near-identical) examples correlate
    // gradients, and a shuffle that leaves runs is a silent data bug.
    // Over q106's exact shard layout (multiplicative hash, (hh,
    // doc_id) order), each shard reports adjacent same-source pairs
    // and adjacent duplicate-fingerprint pairs (against the planted
    // template spam) in exact ppm of its adjacencies. One window pass
    // per shard — shards parallelize; the lag is within-shard only.
    "q265_shuffle_quality" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(lit("template boilerplate page variant "),
            (expr("(doc_id div 10) % 5")).cast("string")))
          .otherwise(col("text")))
        .withColumn("hh",
          pmod((col("doc_id") + 7L) * lit(2654435761L), lit(4294967296L)))
        .withColumn("shard", pmod(col("hh"), lit(8L)))
        .withColumn("fp", md5(col("text")))
      val w = Window.partitionBy("shard").orderBy("hh", "doc_id")
      planted
        .withColumn("prev_source", lag(col("source"), 1).over(w))
        .withColumn("prev_fp", lag(col("fp"), 1).over(w))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("source") === col("prev_source"), 1L).otherwise(0L))
            .as("n_adj_same_source"),
          sum(when(col("fp") === col("prev_fp"), 1L).otherwise(0L))
            .as("n_adj_dup"))
        .withColumn("same_source_ppm",
          when(col("n_docs") >= 2,
            expr("(1000000 * n_adj_same_source) div (n_docs - 1)"))
            .otherwise(0L))
        .withColumn("adj_dup_ppm",
          when(col("n_docs") >= 2,
            expr("(1000000 * n_adj_dup) div (n_docs - 1)")).otherwise(0L))
        .select("shard", "n_docs", "n_adj_same_source", "same_source_ppm",
          "n_adj_dup", "adj_dup_ppm")
        .orderBy("shard")
    }),

    // Epoch-order displacement audit — do two epochs actually see the
    // corpus in different orders? A seeded per-epoch permutation
    // (rank of a salted multiplicative hash) that accidentally
    // correlates across epochs re-feeds examples in near-identical
    // order, quietly reintroducing order bias. Each epoch's rank is
    // the DISTRIBUTED two-phase exactRank (no single sorting reducer —
    // the q125/q119 machinery with a fresh consumer); the audit bins
    // |rank₀ − rank₁| into 10 equal-width buckets with exact-integer
    // stats. Tie order within a hash collision is the doc_id STRING
    // (exactRank's bin prefix is textual) — mirrored in the oracle.
    "q266_epoch_order_audit" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      def h(c: Long) =
        pmod((col("doc_id") + lit(c)) * lit(2654435761L), lit(4294967296L))
      def ranked(c: Long, name: String): DataFrame =
        graft.operators.Profile.exactRank(
          d.withColumn("h", h(c))
            .withColumn("tie", col("doc_id").cast("string")),
          "h", "tie", "rnk")
          .select(col("doc_id"), col("rnk").cast("bigint").as(name))
      val n = broadcast(d.agg(count(lit(1)).as("n")))
      ranked(3L, "r0").join(ranked(10L, "r1"), "doc_id")
        .withColumn("disp", abs(col("r0") - col("r1")))
        .crossJoin(n)
        .withColumn("bin", expr("(10 * disp) div n"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("disp").as("sum_disp"),
          max("disp").as("max_disp"))
        .orderBy("bin")
    }),

    // Contrastive two-crop pairs (SimCSE/CLIP-text style augmentation):
    // each doc yields two hash-derived character crops of half its
    // length — the positive pair a contrastive pretrainer feeds — and
    // the audit accounts the EXACT overlap between the crops (too much
    // overlap → trivial positives, too little → false positives), in
    // chars and ppm of crop length, plus md5s of both crop payloads.
    // Pure per-row substring arithmetic (q243's discipline): one scan,
    // zero shuffle before the presentation sort, codegen end to end.
    "q267_contrastive_crops" -> ((s, dir) =>
      contrastiveCrops(docs(s, dir)).orderBy("doc_id")),

    // Streaming twin of q267: the crop/overlap projection is factored
    // below and is pure per-row substring arithmetic — stateless,
    // Append mode, shares q267's oracle.
    "q268_stream_contrastive_crops" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingStatelessDocs(s, dir,
        contrastiveCrops)),

    // Skip-gram pair census (word2vec window = 2): the (center,
    // context) multiset a skip-gram/embedding trainer actually feeds —
    // distance-1 AND distance-2 neighbors on both sides, which is
    // exactly what adjacency bigrams (q79) and PMI (q101) do NOT
    // cover. Built as four zip_with legs over shifted slices (the
    // wordBigrams discipline — no split recompute inside lambdas),
    // exploded once, one census shuffle; top-100 by (count, center,
    // context) is a total order. Symmetric pairs stay directional
    // (the trainer's view: center predicts context).
    "q269_skipgram_census" -> ((s, dir) =>
      skipgramPairs(docs(s, dir))
        .groupBy("center", "context").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("center"), col("context"))
        .limit(100)),

    // Packing-budget sweep — the context-length tuning table: the
    // greedy packer (q69) runs at budgets 128/256/512 and each
    // (budget, lang) cell reports sequence count and slack (unused
    // capacity) in exact ppm — the waste curve that decides what
    // context length a training run can actually fill. Three packer
    // passes (each one keyed exchange + O(1)-state partition walk);
    // the summary is group-sized. Overlong single docs form their own
    // over-budget sequence (greedy semantics), so slack clamps at 0
    // per sequence rather than going negative.
    "q270_packing_sweep" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(words(col("text"))).cast("bigint"))
      Seq(128L, 256L, 512L).map { b =>
        graft.operators.Packing.packGreedy(d, "lang", "doc_id", "n_tokens",
            budget = b)
          .withColumn("budget", lit(b))
      }.reduce(_ unionByName _)
        .groupBy("budget", "lang", "seq_no").agg(sum("n_tokens").as("fill"))
        .groupBy("budget", "lang")
        .agg(count(lit(1)).as("n_seqs"), sum("fill").as("sum_tokens"),
          sum(greatest(lit(0L), col("budget") - col("fill"))).as("slack"))
        .withColumn("slack_ppm",
          expr("(1000000 * slack) div (n_seqs * budget)"))
        .select("budget", "lang", "n_seqs", "sum_tokens", "slack",
          "slack_ppm")
        .orderBy("budget", "lang")
    }),

    // Streaming twin of q269: the pair census maintains as a
    // Complete-mode streaming aggregation (state = the (center,
    // context) vocabulary — what a live co-occurrence monitor holds);
    // the top-100 cut computes on the drained snapshot. Shares q269's
    // oracle.
    "q271_stream_skipgram_census" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingSkipgramCensus(s, dir)),

    // Per-source compliance dashboard — the governance rollup a data
    // steward reads before admitting a source: PII incidence (q104's
    // planted fixture and regexes) and license-header incidence
    // (q245's plant) aggregated per source in exact ppm. Both signals
    // are per-row codegen regex; the rollup is one source-keyed agg,
    // so the corpus scans once and shuffles only source-sized rows.
    "q272_compliance_dashboard" -> ((s, dir) => {
      import graft.operators.Scrub
      val planted = plantSpdxHeaders(docs(s, dir))
        .withColumn("text", when(col("doc_id") % 25 === 0,
          concat(col("text"), lit(" contact alice.w@example.org from " +
            "10.0.0.1 ref 4111111111111111"))).otherwise(col("text")))
      planted
        .withColumn("has_pii",
          size(regexp_extract_all(col("text"), lit(Scrub.EmailRe), lit(0)))
            + size(regexp_extract_all(col("text"), lit(Scrub.Ipv4Re), lit(0)))
            + size(regexp_extract_all(col("text"), lit(Scrub.LongNumRe),
              lit(0))) > 0)
        .withColumn("has_lic",
          regexp_extract(col("text"), Scrub.SpdxHeaderRe, 1) =!= "")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_pii"),
          sum(when(col("has_lic"), 1L).otherwise(0L)).as("n_licensed"))
        .withColumn("pii_ppm", expr("(1000000 * n_pii) div n_docs"))
        .withColumn("lic_ppm", expr("(1000000 * n_licensed) div n_docs"))
        .select("source", "n_docs", "n_pii", "pii_ppm", "n_licensed",
          "lic_ppm")
        .orderBy("source")
    }),

    // Anchor-text aggregation — the web-graph op behind every anchor
    // dataset (and PageRank's text sibling): each document emits 3
    // hash-derived outlinks carrying its first-3-words anchor, and the
    // per-target anchor BAG aggregates to (in-degree, unique anchors,
    // most-frequent anchor with count-desc/lexicographic tiebreak) —
    // the signal used for target-page titles, query expansion, and
    // link-spam screens. Row-level data shuffles ONCE, into the
    // (target, anchor) census; the per-target stats and the top-anchor
    // pick are window passes over census rows (anchor-bag sized, not
    // corpus sized). The link fan-out is a map-side sequence explode.
    "q252_anchor_text" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).filter(col("text").isNotNull)
      val n = broadcast(d.agg(count(lit(1)).as("__n")))
      val links = d.crossJoin(n)
        .select(col("doc_id"), col("__n"),
          array_join(slice(words(col("text")), 1, 3), " ").as("anchor"))
        .withColumn("k", explode(sequence(lit(0L), lit(2L))))
        .select(((col("doc_id") * 1000003L + col("k") * 7919L + 13L)
          % col("__n")).as("target_id"), col("anchor"))
      val census = links.groupBy("target_id", "anchor")
        .agg(count(lit(1)).as("cnt"))
      val wg = Window.partitionBy("target_id")
      val w = Window.partitionBy("target_id")
        .orderBy(col("cnt").desc, col("anchor").asc)
      census
        .withColumn("n_links", sum("cnt").over(wg))
        .withColumn("n_unique_anchors", count(lit(1)).over(wg).cast("bigint"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("target_id"), col("n_links"), col("n_unique_anchors"),
          col("anchor").as("top_anchor"), col("cnt").as("top_cnt"))
        .orderBy("target_id")
    }),

    // Okapi BM25 top-k retrieval (Robertson–Spärck Jones idf in the
    // Lucene "+1" form; k1 = 1.2, b = 0.75) — the lexical scorer behind
    // production search and the sparse half of hybrid RAG retrieval.
    // Scale shape: the corpus text scans ONCE into a checkpointed
    // (doc_id, dl, query-term tokens) frame — the term filter runs
    // BEFORE the tf census, so everything downstream is sized by the
    // query-term postings, not the corpus token stream; df and the
    // query plan are model-sized broadcasts; corpus stats (N, Σdl) are
    // a 1-row broadcast; and the per-query top-10 runs as bounded
    // TopKAggregator heaps (10 rows per query per partition cross the
    // exchange), never a single-reducer window over all candidates.
    // Scores round to 6 dp BEFORE ranking so the order is engine-stable
    // (cross-engine float-sum order differs only past ~1e-15); ties
    // break on doc_id ascending inside the aggregator.
    "q273_bm25_topk" -> ((s, dir) => {
      val topk = udaf(new graft.functions.TopKAggregator(10))
      bm25Scores(s, dir)
        .groupBy("query_id")
        .agg(topk(col("doc_id"), col("score_r")).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rnk"),
          col("e._1").as("doc_id"), col("e._2").as("score"))
        .orderBy("query_id", "rnk")
    }),

    // RANKING-DRIFT MONITOR via rank-biased overlap (Webber et al.) —
    // the index-ops question the relevance metrics (q286/q338) can't
    // answer: how much did adding documents PERTURB the rankings? Two
    // index states (full corpus vs pre-append doc_id%5≠0 slice) score
    // the same queries; RBO@10 with p=0.9 weighs prefix agreement,
    // top-heavy. EXACT integers: the (1−p)p^(d−1) weights ride as ppm
    // literals shared by plan and oracle (the q357 ladder discipline),
    // each depth's term is an integer div, no float sum exists.
    // Corpus-scale work = the two q273-shaped scorings; the RBO itself
    // runs over ≤10-row-per-query prefixes.
    "q371_rbo_drift" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def top10(d: DataFrame, rc: String) = {
        val w = Window.partitionBy("query_id")
          .orderBy(col("score_r").desc, col("doc_id").asc)
        d.withColumn(rc, row_number().over(w).cast("bigint"))
          .filter(col(rc) <= 10)
          .select("query_id", "doc_id", rc)
      }
      val a = top10(bm25Scores(s, dir), "ra")
      val b = top10(bm25ScoresOver(s,
        docs(s, dir).filter(col("doc_id") % 5 =!= 0)), "rb")
      val both = a.join(b, Seq("query_id", "doc_id"))
      val terms = both
        .withColumn("d", explode(sequence(
          greatest(col("ra"), col("rb")), lit(10L))))
        .groupBy("query_id", "d").agg(count(lit(1)).as("overlap"))
      val wts = rboWeightsMicro.zipWithIndex.map { case (wt, i) =>
        (i + 1L, wt)
      }
      import s.implicits._
      val wdf = broadcast(wts.toDF("d", "w_micro"))
      terms.join(wdf, Seq("d"))
        .withColumn("term", expr("(w_micro * overlap) div d"))
        .groupBy("query_id").agg(sum("term").as("rbo_micro"))
        .orderBy("query_id")
    }),

    // UNBIASED pass@k (Chen et al. 2021 — THE code-eval metric, and the
    // complement of q284's mean-best-of-n curve): per problem with n
    // samples and c passes, pass@k = 1 − C(n−c,k)/C(n,k), computed in
    // the cancellation-free product form Π(n−c−i)/Π(n−i) so everything
    // is EXACT integers (factors clamped at 0: c > n−k means no
    // all-fail draw exists and pass@k = 1). Problems = q284's arm
    // groups, pass = reward divisible by 3; problems with n < k drop
    // from that k's row in both engines. One census aggregate; the k
    // fan-out is 3 rows per problem.
    "q360_pass_at_k" -> ((s, dir) => {
      val reward = (lit(1000L) *
        markerHits(col("text"), markers.head._2).cast("bigint")) +
        size(words(col("text"))).cast("bigint")
      val per = docs(s, dir).filter(col("text").isNotNull)
        .select(expr("doc_id div 8").as("pid"), reward.as("r"))
        .groupBy("pid")
        .agg(count(lit(1)).as("n"),
          sum(when(col("r") % 3 === 0, 1L).otherwise(0L)).as("c"))
      def f(i: Int) = greatest(lit(0L), col("n") - col("c") - lit(i.toLong))
      def g(i: Int) = col("n") - lit(i.toLong)
      per.withColumn("k", explode(array(lit(1L), lit(2L), lit(4L))))
        .filter(col("n") >= col("k"))
        .withColumn("__num",
          when(col("k") === 1, f(0))
            .when(col("k") === 2, f(0) * f(1))
            .otherwise(f(0) * f(1) * f(2) * f(3)))
        .withColumn("__den",
          when(col("k") === 1, g(0))
            .when(col("k") === 2, g(0) * g(1))
            .otherwise(g(0) * g(1) * g(2) * g(3)))
        .withColumn("ppm",
          lit(1000000L) - expr("(1000000 * __num) div __den"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_problems"), sum("ppm").as("sum_ppm"))
        .withColumn("mean_ppm", expr("sum_ppm div n_problems"))
        .select("k", "n_problems", "sum_ppm", "mean_ppm")
        .orderBy("k")
    }),

    // TOKEN-WEIGHTED length quantiles (weighted type-1, exact): "half
    // the token MASS sits in docs shorter than X" — the curation
    // statistic the unweighted q46 percentile misreads when a million
    // tiny docs drag the median down. Integer-exact end to end: ppm
    // probabilities, a decimal(38,0) threshold compare (the q303
    // overflow discipline), min-value selection. Census-sized windows.
    "q354_weighted_quantiles" -> ((s, dir) =>
      graft.operators.Profile.weightedCensusQuantiles(
        docs(s, dir).filter(col("text").isNotNull)
          .select(col("lang"), col("n_chars"),
            size(words(col("text"))).cast("bigint").as("n_tokens")),
        "lang", "n_chars", "n_tokens",
        Seq(250000L, 500000L, 750000L, 900000L))
        .orderBy("lang", "p_ppm")),

    // MAXSCORE-PRUNED BM25 TOP-K (Turtle–Flood upper-bound pruning, the
    // posting-skip move production search runs on every query): docs
    // holding only non-essential terms — those whose ub-ascending
    // cumulative sum stays under the champion-term θ₀ — are never
    // scored, and the pruned ranking is PROVABLY the exhaustive one
    // (see operators/MaxScore). The gate makes that theorem cross-
    // engine: the engine ranks the PRUNED way, the oracle scores
    // EXHAUSTIVELY, and contributions are frozen to integer micros so
    // equality is exact. On this corpus the common terms ('customer',
    // 'join', …) carry low idf·ub, so the pruning genuinely fires —
    // MaxScoreSpec pins that non-vacuity plus the planted common-term
    // law. Scale shape: ub/θ₀/essential are model-sized or bounded
    // heaps; only candidate docs reach the scoring aggregate.
    "q347_maxscore_bm25" -> ((s, dir) =>
      graft.operators.MaxScore
        .prunedTopK(bm25ContribsMicro(s, dir).cutLineage,
          k = 10)
        .orderBy("query_id", "rnk")),

    // Bradley–Terry strength fitting over the best-of-n sampling arms —
    // the preference-learning step after q241/q247: which of the 8
    // candidate "arms" (doc_id mod 8 within each q247 prompt group)
    // systematically wins pairwise reward comparisons. The corpus-scale
    // stages are declarative: the within-prompt pairing is a
    // group-bounded self-join (≤ 28 pairs per prompt — the q263 basket
    // discipline), decided games collapse into an arm×arm win census
    // (≤ 56 cells) before anything leaves the cluster, and
    // Preference.bradleyTerry fits strengths from that census in exact
    // fixed-point integer MM iterations (see its Scaladoc) — the
    // centroid-pull discipline, so the gate is a FULL hash with zero
    // float hazard. Ties carry no decision, exactly as in the oracle.
    "q274_bradley_terry" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
        .select(expr("doc_id div 8").as("prompt_id"),
          expr("doc_id % 8").as("arm"),
          (lit(1000L) * markerHits(col("text"), markers.head._2).cast("bigint")
            + size(words(col("text"))).cast("bigint")).as("reward"))
      val a = d.select(col("prompt_id"), col("arm").as("arm_a"),
        col("reward").as("r_a"))
      val b = d.select(col("prompt_id"), col("arm").as("arm_b"),
        col("reward").as("r_b"))
      val wins = a.join(b, Seq("prompt_id"))
        .filter(col("arm_a") < col("arm_b"))
        .filter(col("r_a") =!= col("r_b"))
        .select(when(col("r_a") > col("r_b"), col("arm_a"))
            .otherwise(col("arm_b")).as("winner"),
          when(col("r_a") > col("r_b"), col("arm_b"))
            .otherwise(col("arm_a")).as("loser"))
        .groupBy("winner", "loser").agg(count(lit(1)).as("n"))
      graft.operators.Preference.bradleyTerry(wins, "winner", "loser", "n")
    }),

    // Group-relative advantage normalization (the GRPO / RLOO reward
    // prep): within each prompt's candidate group, standardize rewards
    // to z-scores — computed ENTIRELY in integers so the gate is a full
    // hash. z_i = (n·r_i − Σr)/√V with V = n·Σr² − (Σr)²; the square
    // root is an exact integer isqrt (floor-sqrt with a ±1 adjustment
    // — double sqrt IS correctly rounded per IEEE-754, the adjustment
    // removes the one-ulp boundary risk), and the divide is
    // sign-split floor division so both engines truncate identically
    // on negative advantages. Window partitions are candidate groups
    // (≤ 8 rows) — bounded by construction, no straggler reducer.
    "q275_grpo_advantage" -> ((s, dir) =>
      groupAdvantage(docs(s, dir).filter(col("text").isNotNull)
        .withColumn("prompt_id", expr("doc_id div 8"))
        .withColumn("reward",
          lit(1000L) * markerHits(col("text"), markers.head._2).cast("bigint")
            + size(words(col("text"))).cast("bigint"))
        .select("prompt_id", "doc_id", "reward"))),

    // Within-group self-overlap — the mode-collapse audit for sampled
    // candidate groups (self-BLEU's set-overlap cousin): mean pairwise
    // distinct-bigram Jaccard across each prompt's candidates, in exact
    // ppm. A rising curve means the sampler is emitting near-copies —
    // the signal that kills best-of-n and contrastive value before
    // training does. Scale shape: per-doc distinct bigrams leave the
    // scan as sorted 8-byte xxhash64 arrays (text never shuffles — the
    // house dedup discipline); the pairing is the group-bounded
    // self-join (≤ 28 pairs per prompt); intersection is an
    // array_intersect on sorted hash arrays; all ratios are integer
    // ppm floor-divides.
    "q276_group_self_overlap" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
        .select(expr("doc_id div 8").as("prompt_id"), col("doc_id"),
          array_sort(array_distinct(transform(wordBigrams(col("text")),
            g => xxhash64(g)))).as("hs"))
      val a = d.select(col("prompt_id"), col("doc_id").as("id_a"),
        col("hs").as("ha"))
      val b = d.select(col("prompt_id"), col("doc_id").as("id_b"),
        col("hs").as("hb"))
      a.join(b, Seq("prompt_id")).filter(col("id_a") < col("id_b"))
        .withColumn("inter",
          size(array_intersect(col("ha"), col("hb"))).cast("bigint"))
        .withColumn("uni",
          size(col("ha")).cast("bigint") + size(col("hb")) - col("inter"))
        .withColumn("jac_ppm", when(col("uni") > 0,
          expr("(1000000 * inter) div uni")).otherwise(lit(0L)))
        .groupBy("prompt_id")
        .agg(count(lit(1)).as("n_pairs"), sum("jac_ppm").as("sum_jac"))
        .select(col("prompt_id"), col("n_pairs"),
          expr("sum_jac div n_pairs").as("mean_jac_ppm"))
        .orderBy("prompt_id")
    }),

    // Per-source unigram entropy — the corpus-health twin of q248's
    // distinct-ngram ratios: Shannon entropy of each source's word
    // distribution (H = ln T − (Σ c·ln c)/T over the vocabulary census)
    // plus the vocabulary-normalized form H/ln V. Collapsing entropy
    // flags template spam and synthetic mode collapse; it is also the
    // quantity perplexity-based mixture weights key on. The census is
    // map-side combinable; the entropy sums run census-side
    // (vocabulary-sized, not corpus-sized); ROUND(6) absorbs
    // cross-engine float-sum order (the q79 ln discipline).
    "q278_entropy_profile" -> ((s, dir) =>
      entropyProfile(docs(s, dir).filter(col("text").isNotNull)
        .select(col("source"), explode(words(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cnt")))),

    // Zipf-slope fit per source — the other classic corpus-health
    // monitor: OLS slope of ln(count) on ln(rank) over each source's
    // top-30 terms (natural text sits near −1; template spam flattens
    // toward 0, boilerplate steepens). The rank window runs over the
    // CENSUS (vocabulary-sized partitions — the census-side window
    // discipline), the OLS moments are five sums over ≤ 30 rows per
    // source, and ROUND(6) absorbs float-sum order.
    "q279_zipf_slope" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(col("cnt").desc, col("w").asc)
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("source"), explode(words(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 30)
        .select(col("source"), log(col("rnk").cast("double")).as("x"),
          log(col("cnt").cast("double")).as("y"))
        .groupBy("source")
        .agg(count(lit(1)).cast("double").as("n"), sum("x").as("sx"),
          sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("slope", round((col("n") * col("sxy")
          - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")), 6))
        .withColumn("intercept", round((col("sy") - (col("n") * col("sxy")
          - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx"))
          / col("n"), 6))
        .select(col("source"), col("n").cast("bigint").as("n_terms"),
          col("slope"), col("intercept"))
        .orderBy("source")
    }),

    // Streaming twin of q275: per-prompt BOUNDED collect_list state
    // (≤ 8 candidates per group), drained snapshot re-standardized by
    // the shared groupAdvantage. Bounded drain ≡ batch; shares q275's
    // oracle.
    "q280_stream_grpo_advantage" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingGroupAdvantage(s, dir,
        lit(1000L) * markerHits(col("text"), markers.head._2).cast("bigint")
          + size(words(col("text"))).cast("bigint"))),

    // Streaming twin of q278: the (source, word) vocabulary census in
    // Complete mode, entropy rollup on the drained snapshot via the
    // shared entropyProfile. Bounded drain ≡ batch; shares q278's
    // oracle.
    "q281_stream_entropy_profile" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingEntropyProfile(s, dir)),

    // Streaming twin of q273: frozen corpus model (driver-pulled,
    // model-sized), map-side per-document scoring, ONE Complete-mode
    // TopKAggregator(10) per query. Bounded drain ≡ batch; shares
    // q273's oracle.
    "q282_stream_bm25" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingBm25TopK(s, dir)),

    // Hybrid retrieval fusion — the RAG-stack composition of the two
    // retrieval paths this engine ships: per query, reciprocal-rank
    // fusion of the BM25 lexical run (top-20 of q273's scored frame,
    // bounded TopKAggregator heaps) with a dense cosine run (top-20
    // around the query's anchor embedding — vec_id aligns with doc_id
    // in the testdata, the cross-modal join key). RRF runs in EXACT
    // integers: each run contributes floor(1e6/(60+rank)) ppm (the
    // k=60 of Cormack et al.), absent runs contribute 0, so the fused
    // score is a BIGINT sum with zero float hazard — the q163 lesson
    // applied to true two-system fusion. The fused candidate pool is
    // ≤ 40 rows per query, so the final window is bounded.
    // UNCERTAINTY-AWARE drift monitor (q328's bootstrap put to work,
    // with the q305 plant-the-pathology audit built in): a source
    // drifts when the HISTORY mean falls outside the bootstrap CI of
    // the CURRENT slice — the CI makes the alarm sample-size-aware
    // where a fixed threshold over- or under-fires. The gate runs the
    // monitor twice: baseline, then with a +500-char shift planted
    // into src3's current slice. src3 must flag under the plant, and
    // every OTHER source's flag status must be IDENTICAL across runs
    // (bystander stability — natural flags are fine, flips are not).
    // Violations emit; oracle is the empty relation.
    "q342_ci_drift_monitor" -> ((s, dir) => {
      import graft.operators.Profile
      val d = docs(s, dir).filter(col("n_chars").isNotNull)
        // hash split, NOT doc_id%5: source is doc_id%20, so a modulus
        // slice would starve 16 of the 20 sources entirely
        .withColumn("cur_slice",
          pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 5 === 4)
      val hist = d.filter(!col("cur_slice"))
        .groupBy("source")
        .agg(expr("(1000 * sum(n_chars)) div count(1)").as("hist_milli"))
      def flags(cur: org.apache.spark.sql.DataFrame) =
        Profile.bootstrapMeanCiMilli(cur, "doc_id", "source", "n_chars")
          .join(hist, Seq("source"))
          .select(col("source"),
            (col("hist_milli") < col("lo_milli") ||
              col("hist_milli") > col("hi_milli")).as("drifted"))
      val cur = d.filter(col("cur_slice"))
      val base = flags(cur)
      val planted = flags(cur.withColumn("n_chars",
        when(col("source") === "src3", col("n_chars") + 500L)
          .otherwise(col("n_chars"))))
      val silent = planted.filter(col("source") === "src3")
        .filter(!col("drifted"))
        .select(lit("planted_not_flagged").as("violation"), col("source"))
      val flipped = base.select(col("source"), col("drifted").as("b"))
        .join(planted.select(col("source"), col("drifted").as("p")),
          Seq("source"))
        .filter(col("source") =!= "src3" && col("b") =!= col("p"))
        .select(lit("bystander_flipped").as("violation"), col("source"))
      val vacuous = s.range(1)
        .filter(lit(cur.filter(col("source") === "src3").isEmpty))
        .select(lit("vacuous_fixture").as("violation"),
          lit("src3").as("source"))
      silent.unionByName(flipped).unionByName(vacuous)
        .orderBy("violation", "source")
    }),

    // TOKEN-BUDGET APPORTIONMENT (Hamilton / largest-remainder): split
    // a 1,000,000-token budget across sources proportional to their
    // token mass, in EXACT integers — base = (N·cnt) div total, the
    // leftover goes to the largest remainders (ties to source asc).
    // The method satisfies the quota rule BY CONSTRUCTION (every
    // allocation is floor-or-ceil of its exact share) and sums to N
    // exactly — the mixture-sampling budget a 100 TB pipeline hands
    // each source, with none of the FP drift a rate-multiply would
    // carry. Census-sized; FULL hash.
    "q339_budget_apportionment" -> ((s, dir) =>
      hamiltonAllocate(
        docs(s, dir).filter(col("text").isNotNull)
          .select(col("source"),
            size(words(col("text"))).cast("bigint").as("nt"))
          .groupBy("source").agg(sum("nt").as("cnt")))),

    // Streaming twin of q339 — the live mixture budget at the
    // ingestion door: the (source → token count) census is Complete-
    // mode state (one pair per source), and the Hamilton split runs on
    // the bounded drained snapshot (q281's rollup-on-the-drain shape).
    // Shares q339's oracle.
    "q340_stream_apportionment" -> ((s, dir) => {
      val census = graft.streaming.DocumentStreams
        .readDocumentsStream(s, dir)
        .filter(col("text").isNotNull)
        .select(col("source"),
          size(words(col("text"))).cast("bigint").as("nt"))
        .groupBy("source").agg(sum("nt").as("cnt"))
      hamiltonAllocate(graft.streaming.EventStreams.runToMemory(census,
        org.apache.spark.sql.streaming.OutputMode.Complete()))
    }),

    // PRECISION/RECALL@k SWEEP over the BM25 runs (the eval-curve
    // harness a retrieval stack is tuned against): relevance = docs
    // holding ALL the query's terms (the q286 rule), cutoffs k ∈
    // {1, 3, 5, 10} — every number an EXACT integer (hits, rel counts,
    // milli ratios via integer div), zero float hazard across engines.
    // One ranked-run window (≤10 rows/query) and one relevance census,
    // joined; the sweep explodes 4 cutoff rows per query.
    "q338_pr_at_k" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w10 = Window.partitionBy("query_id")
        .orderBy(col("score_r").desc, col("doc_id").asc)
      val run = bm25Scores(s, dir)
        .withColumn("rnk", row_number().over(w10).cast("bigint"))
        .filter(col("rnk") <= 10)
      val ws = words(col("text"))
      val relArr = array(bm25QueryDefs.map { case (qid, ts) =>
        struct(lit(qid).as("query_id"),
          ts.map(t => array_contains(ws, t)).reduce(_ && _).as("rel"))
      }: _*)
      val rel = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), explode(relArr).as("r"))
        .filter(col("r.rel"))
        .select(col("r.query_id").as("query_id"), col("doc_id"),
          lit(1L).as("hit"))
      val nRel = rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
      run.join(rel, Seq("query_id", "doc_id"), "left")
        .withColumn("hit", coalesce(col("hit"), lit(0L)))
        .withColumn("k", explode(array(lit(1L), lit(3L), lit(5L),
          lit(10L))))
        .filter(col("rnk") <= col("k"))
        .groupBy("query_id", "k")
        .agg(sum("hit").as("hits"), count(lit(1)).as("returned"))
        .join(broadcast(nRel), Seq("query_id"), "left")
        .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
        .withColumn("p_milli", expr("(1000 * hits) div returned"))
        .withColumn("r_milli", when(col("n_rel") > 0,
          expr("(1000 * hits) div n_rel")).otherwise(lit(0L)))
        .select("query_id", "k", "hits", "returned", "n_rel",
          "p_milli", "r_milli")
        .orderBy("query_id", "k")
    }),

    "q283_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val topk = udaf(new graft.functions.TopKAggregator(20))
      val lex = bm25Scores(s, dir)
        .groupBy("query_id")
        .agg(topk(col("doc_id"), col("score_r")).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("query_id"), (col("pos") + 1).cast("bigint").as("r_lex"),
          col("e._1").as("doc_id"))
      val emb = Tables.load(s, dir, "embeddings")
      val anchors = emb.filter(col("vec_id").isin(
        bm25QueryDefs.map(_._1): _*))
      val dense = graft.operators.Similarity.bruteForceTopK(
          emb, anchors, "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("rank").as("r_dense"),
          col("neighbor_id").as("doc_id"))
      val fused = lex.join(dense, Seq("query_id", "doc_id"), "full")
        .withColumn("rrf_ppm",
          coalesce(expr("1000000 div (60 + r_lex)"), lit(0L))
            + coalesce(expr("1000000 div (60 + r_dense)"), lit(0L)))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
      fused.withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("rnk"), col("doc_id"),
          coalesce(col("r_lex"), lit(0L)).as("r_lex"),
          coalesce(col("r_dense"), lit(0L)).as("r_dense"),
          col("rrf_ppm"))
        .orderBy("query_id", "rnk")
    }),

    // RM3 PSEUDO-RELEVANCE-FEEDBACK query expansion (the classic IR
    // move layered on q273's BM25): the top-10 feedback docs per query
    // vote expansion terms with weight Σ_d (tf·1e6 div dl) ·
    // score_micro — EXACT integers end to end (the only FP is q273's
    // already-gated 6dp score, frozen to micros before the sum), so
    // the cross-engine sum-order hazard of a double Σ over feedback
    // docs cannot exist. Original query terms are excluded; top-5 new
    // terms per query by (weight desc, term asc). FULL hash. Scale
    // shape: the feedback set is broadcast-sized (queries × 10), the
    // term explosion runs over ONLY those docs, and the final window
    // ranks ≤ |vocab of 10 docs| rows per query.
    "q325_rm3_expansion" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w10 = Window.partitionBy("query_id")
        .orderBy(col("score_r").desc, col("doc_id").asc)
      val fb = bm25Scores(s, dir)
        .withColumn("rnk", row_number().over(w10))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("doc_id"),
          round(col("score_r") * 1000000).cast("bigint").as("score_micro"))
      val fbDocs = fb.select("doc_id").distinct()
      val tf2 = docs(s, dir).filter(col("text").isNotNull)
        .join(broadcast(fbDocs), Seq("doc_id"))
        .select(col("doc_id"),
          size(words(col("text"))).cast("bigint").as("dl"),
          explode(words(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
      val qt = broadcast(bm25QueryDefs
        .flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("query_id", "w"))
      val weights = tf2.join(broadcast(fb), Seq("doc_id"))
        .withColumn("contrib",
          expr("(tf * 1000000 div dl) * score_micro"))
        .groupBy("query_id", "w").agg(sum("contrib").as("weight"))
        .join(qt, Seq("query_id", "w"), "left_anti")
      val wr = Window.partitionBy("query_id")
        .orderBy(col("weight").desc, col("w").asc)
      weights.withColumn("rnk", row_number().over(wr).cast("bigint"))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("rnk"), col("w"), col("weight"))
        .orderBy("query_id", "rnk")
    }),

    // Best-of-n scaling curve — the inference-compute question ("how
    // much does reward improve with more samples?") answered exactly:
    // for n ∈ {1,2,4,8}, the mean best reward when each prompt keeps
    // only its first n candidates (arm < n — the deterministic "first
    // n samples" prefix). All integer arithmetic; the n fan-out is a
    // 4-element map-side explode, the per-(n, prompt) max is one
    // shuffle of 4×|corpus| skinny rows with map-side combine.
    "q284_bon_scaling" -> ((s, dir) => {
      docs(s, dir).filter(col("text").isNotNull)
        .select(expr("doc_id div 8").as("prompt_id"),
          expr("doc_id % 8").as("arm"),
          (lit(1000L) * markerHits(col("text"), markers.head._2).cast("bigint")
            + size(words(col("text"))).cast("bigint")).as("reward"))
        .withColumn("n", explode(array(lit(1L), lit(2L), lit(4L), lit(8L))))
        .filter(col("arm") < col("n"))
        .groupBy("n", "prompt_id").agg(max("reward").as("best"))
        .groupBy("n").agg(count(lit(1)).as("n_prompts"),
          sum("best").as("sum_best"))
        .withColumn("mean_best_milli",
          expr("(1000 * sum_best) div n_prompts"))
        .select("n", "n_prompts", "sum_best", "mean_best_milli")
        .orderBy("n")
    }),

    // Shared-prefix audit — the vLLM/prefix-cache accounting question:
    // best-of-n candidates of one prompt share the rendered prompt
    // prefix (planted here as "prompt <id> : " + text), and a
    // prefix-caching server stores that prefix ONCE. Per group the
    // common prefix is LCP(min, max) — the classic identity: the
    // lexicographic extremes bound every member, so their common
    // prefix is the group's (capped at 200 chars; the fold is a
    // monotone zip_with + aggregate, linear in the cap, zero shuffle
    // beyond the group agg). saved_chars = (n−1)·LCP is the cache win.
    "q285_prefix_sharing" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("prompt_id", expr("doc_id div 8"))
        .withColumn("rendered", concat(lit("prompt "),
          col("prompt_id").cast("string"), lit(" : "), col("text")))
      val g = d.groupBy("prompt_id").agg(count(lit(1)).as("n_cands"),
        min("rendered").as("lo"), max("rendered").as("hi"))
      val la = split(substring(col("lo"), 1, 200), "")
      val lb = split(substring(col("hi"), 1, 200), "")
      val eq = zip_with(la, lb,
        (x, y) => when(x === y, 1L).otherwise(0L))
      g.withColumn("lcp", aggregate(eq,
          struct(lit(0L).as("c"), lit(1L).as("g")),
          (acc, v) => struct(
            (acc.getField("c") + acc.getField("g") * v).as("c"),
            (acc.getField("g") * v).as("g")),
          acc => acc.getField("c")))
        .withColumn("saved_chars", (col("n_cands") - 1) * col("lcp"))
        .select("prompt_id", "n_cands", "lcp", "saved_chars")
        .orderBy("prompt_id")
    }),

    // Retrieval evaluation — the metrics harness a retriever ships
    // with: MRR, recall@10, and nDCG@10 of the q273 BM25 run against
    // EXACT binary qrels (relevant ⇔ the document contains every query
    // term — deterministic and SQL-restatable, so the whole eval is
    // oracle-gated, unlike real-world graded qrels). MRR and recall
    // are integer (milli / ppm floor divides); DCG/IDCG use
    // ln(r+1)/ln 2 with ROUND(6) (the q79 ln discipline). The run is
    // 10 rows per query; the qrels join is query-keyed; the IDCG is a
    // bounded 10-term fold — nothing here scales past the run size
    // except the one relevance scan.
    "q286_retrieval_metrics" -> ((s, dir) => {
      val topk = udaf(new graft.functions.TopKAggregator(10))
      val run = bm25Scores(s, dir).groupBy("query_id")
        .agg(topk(col("doc_id"), col("score_r")).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rnk"),
          col("e._1").as("doc_id"))
      val ws = words(col("text"))
      val relArr = array(bm25QueryDefs.map { case (qid, ts) =>
        struct(lit(qid).as("query_id"),
          ts.map(t => array_contains(ws, t)).reduce(_ && _).as("rel"))
      }: _*)
      val rel = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), explode(relArr).as("r"))
        .filter(col("r.rel"))
        .select(col("r.query_id").as("query_id"), col("doc_id"),
          lit(1L).as("hit"))
      val nRel = rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
      run.join(rel, Seq("query_id", "doc_id"), "left")
        .withColumn("hit", coalesce(col("hit"), lit(0L)))
        .groupBy("query_id")
        .agg(min(when(col("hit") === 1, col("rnk"))).as("first_rel"),
          sum("hit").as("hits10"),
          sum(when(col("hit") === 1,
            lit(1.0) / (log(col("rnk") + lit(1)) / log(lit(2.0))))
            .otherwise(lit(0.0))).as("dcg"))
        .join(broadcast(nRel), Seq("query_id"), "left")
        .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
        .withColumn("mrr_milli", when(col("first_rel").isNotNull,
          expr("1000 div first_rel")).otherwise(lit(0L)))
        .withColumn("recall10_ppm", when(col("n_rel") > 0,
          expr("(1000000 * hits10) div n_rel")).otherwise(lit(0L)))
        .withColumn("idcg", when(col("n_rel") > 0,
          aggregate(sequence(lit(1L), least(col("n_rel"), lit(10L))),
            lit(0.0), (acc, i) =>
              acc + lit(1.0) / (log(i + lit(1)) / log(lit(2.0)))))
          .otherwise(lit(0.0)))
        .withColumn("ndcg10", when(col("idcg") > 0,
          round(col("dcg") / col("idcg"), 6)).otherwise(lit(0.0)))
        .select("query_id", "n_rel", "mrr_milli", "hits10",
          "recall10_ppm", "ndcg10")
        .orderBy("query_id")
    }),

    // Packed-sequence attention-mask accounting — what document packing
    // (q69) costs and saves inside the attention kernel: with
    // block-diagonal (per-document) masking, a packed sequence of
    // lengths ℓᵢ attends over Σℓᵢ² positions instead of the budget²
    // full square. mask_ppm is that density; xdoc_saved_ppm is the
    // cross-document attention the mask removes (the contamination
    // leak a NAIVE packer without masking trains on — used²−Σℓᵢ²).
    // Pure integer rollup over q69's pack relation, one group agg.
    "q288_pack_mask_density" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
      graft.operators.Packing.packGreedy(d, "lang", "doc_id", "n_tokens",
          budget = 256)
        .groupBy(col("lang"), col("seq_no"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("used"),
          sum(col("n_tokens") * col("n_tokens")).as("sum_sq"))
        .withColumn("mask_ppm", expr("(1000000 * sum_sq) div (256 * 256)"))
        .withColumn("xdoc_saved_ppm",
          expr("(1000000 * (used * used - sum_sq)) div (256 * 256)"))
        .select("lang", "seq_no", "n_docs", "used", "sum_sq", "mask_ppm",
          "xdoc_saved_ppm")
        .orderBy("lang", "seq_no")
    }),

    // Policy-vs-reference logprob monitor — the RLHF KL-budget
    // dashboard shape, instantiated on the two LMs this engine ships:
    // per document, Δ = add-1 logprob (q79, the "policy" stand-in)
    // minus Kneser–Ney logprob (q235, the "reference"), rolled up per
    // language as mean drift plus the ppm of documents past a ±0.5 nat
    // clip — exactly the telemetry an RLHF loop reads to keep the
    // policy on-distribution. COMPOSES the two published score
    // relations by doc-keyed join (shared scoring definitions — the
    // q260/q261 reuse discipline); both scores are pre-rounded at 6 dp
    // so the deltas live on an exact 1e-6 grid and the clip compare is
    // engine-stable. Rollup is language-sized.
    "q289_kl_monitor" -> ((s, dir) => {
      val lp1 = queries("q79_bigram_logprob")(s, dir)
        .select(col("doc_id"), col("avg_logp"))
      val lp2 = queries("q235_kn_bigram_logprob")(s, dir)
        .select(col("doc_id"), col("avg_logp_kn"))
      val langs = docs(s, dir).select(col("doc_id"), col("lang"))
      lp1.join(lp2, Seq("doc_id")).join(langs, Seq("doc_id"))
        .withColumn("delta", col("avg_logp") - col("avg_logp_kn"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("delta")), 6).as("mean_delta"),
          sum(when(abs(col("delta")) > 0.5, 1L).otherwise(0L))
            .as("n_clipped"))
        .withColumn("clipped_ppm", expr("(1000000 * n_clipped) div n_docs"))
        .select("lang", "n_docs", "mean_delta", "n_clipped", "clipped_ppm")
        .orderBy("lang")
    }),

    // Triangle census + local clustering coefficient — the third leg of
    // the web-graph stack (PageRank q126 ranks, components q43 cluster,
    // triangles measure local density: link farms and mirror clusters
    // light up as high-LCC pockets). Exact, via Graphs.triangleCensus's
    // DEGREE-ORIENTED wedge enumeration: edges re-orient from the
    // lower-(degree, id) endpoint before the wedge self-join, so the
    // per-key wedge volume is bounded O(E^{3/2}) under ANY skew — an
    // id-oriented join's Σdeg² blows one partition on a power-law hub.
    // Two equi-joins, no cartesian, every relation integer-keyed; the
    // link fan-out is q252's hash rule, so the graph is deterministic
    // and SQL-restatable (the oracle restates semantics, not the
    // orientation — identical output either way).
    "q290_triangle_census" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
      val n = broadcast(d.agg(count(lit(1)).as("__n")))
      val und = d.crossJoin(n)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(2L))).as("k"), col("__n"))
        .select(col("doc_id").as("src"),
          ((col("doc_id") * 1000003L + col("k") * 7919L + 13L)
            % col("__n")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
        .cutLineage
      graft.operators.Graphs.triangleCensus(und)
    }),

    // Incremental BM25 model maintenance — the q107/q176 index-
    // lifecycle move applied to the retrieval MODEL: the corpus
    // statistics BM25 needs (per-term df, N, Σdl) are all sums over
    // disjoint document sets, so a history model absorbs a delta batch
    // by POINTWISE ADDITION (the mergeKmvTables discipline on integer
    // censuses — at 100 TB the day's delta never re-reads history).
    // Here the corpus splits 90/10 by the q45 hash, each side builds
    // its own model, the models merge, and the search over the merged
    // model must equal q273's from-scratch run EXACTLY (merged counts
    // are the same integers, so every idf/norm double is bit-identical)
    // — the gate shares q273's oracle.
    "q294_bm25_incremental" -> ((s, dir) => {
      import s.implicits._
      val termSet = bm25QueryDefs.flatMap(_._2).distinct
      val qt = broadcast(bm25QueryDefs
        .flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("query_id", "w"))
      val base = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(words(col("text"))).cast("bigint").as("dl"),
          filter(words(col("text")),
            w => w.isInCollection(termSet)).as("qtoks"))
        .withColumn("part",
          when(pmod(col("doc_id") * 2654435761L, lit(4294967296L)) % 10 < 9,
            "hist").otherwise("delta"))
        .cutLineage
      val tf = base
        .select(col("part"), col("doc_id"), col("dl"),
          explode(col("qtoks")).as("w"))
        .groupBy("part", "doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
      // per-partition model stats, then the POINTWISE merge
      val dfw = tf.groupBy("part", "w").agg(count(lit(1)).as("pdf"))
        .groupBy("w").agg(sum("pdf").as("df"))
      val global = broadcast(
        base.groupBy("part").agg(count(lit(1)).as("pn"), sum("dl").as("ps"))
          .agg(sum("pn").as("n_docs"), sum("ps").as("sum_dl")))
      val topk = udaf(new graft.functions.TopKAggregator(10))
      tf.drop("part").join(broadcast(dfw), Seq("w")).join(qt, Seq("w"))
        .crossJoin(global)
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5))))
        .withColumn("num", col("tf") * lit(2.2))
        .withColumn("den", col("tf") + lit(1.2) * (lit(0.25)
          + lit(0.75) * col("dl") * col("n_docs") / col("sum_dl")))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("idf") * col("num") / col("den")).as("score"))
        .withColumn("score_r", round(col("score"), 6))
        .groupBy("query_id")
        .agg(topk(col("doc_id"), col("score_r")).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rnk"),
          col("e._1").as("doc_id"), col("e._2").as("score"))
        .orderBy("query_id", "rnk")
    }),

    // BPE merge-count sweep — the tokenizer-size tuning curve (q287's
    // sweep discipline on the BPE stack), gated on the merge-prefix
    // THEOREM: learnMerges is greedy-deterministic, so the 12-merge
    // list's prefixes ARE the 3- and 6-merge models, and tokenization
    // folds the list in rank order — applying the extra merges can
    // only merge further, so every document's subword count is
    // NON-INCREASING in the merge budget, as integers. The gate emits
    // every document violating either step; DedupSpec-style
    // non-vacuity (counts strictly drop corpus-wide) pins in
    // TextFunctionsSpec. Oracle: empty.
    "q295_bpe_merge_sweep" -> ((s, dir) => {
      import graft.operators.Bpe
      val d = docs(s, dir)
      val merges = Bpe.learnMerges(d, "text", numMerges = 12)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      def counts(p: Int) =
        Bpe.subwordStats(d, "doc_id", "text", merges.take(p))
          .select(col("doc_id"), col("n_subwords").as(s"c$p"))
      counts(3).join(counts(6), "doc_id").join(counts(12), "doc_id")
        .filter(col("c6") > col("c3") || col("c12") > col("c6"))
        .select(col("doc_id"), col("c3"), col("c6"), col("c12"))
        .orderBy("doc_id")
    }),

    // Corpus health scorecard — the one-page per-source verdict a data
    // steward reads before admission, composing this round's monitors
    // off ONE (source, word) census (a single corpus scan, a single
    // map-side-combinable exchange; every signal after it is
    // census-sided): type-token diversity (vocab/total ppm), Shannon
    // entropy + its ln-V-normalized form (q278's algebra), the Zipf
    // slope over the top-30 ranks (q279's OLS), and integer verdict
    // flags at fixed thresholds (vocabulary < 16 → template spam — an
    // ABSOLUTE floor, because a ppm diversity ratio scales with corpus
    // size and sleeps through planted spam at small SFs, which the
    // q305 sensitivity gate caught on this scorecard's first cut;
    // norm-entropy < 0.55 → collapsed distribution; slope > -0.35 →
    // un-Zipfian/templated). Flags are booleans over ROUND(6)'d
    // doubles and exact integers, so the compare is engine-stable.
    "q298_corpus_scorecard" -> ((s, dir) =>
      corpusScorecard(docs(s, dir).filter(col("text").isNotNull)
        .select(col("source"), explode(words(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cnt")))),

    // Streaming twin of q298: the (source, word) census maintains in
    // Complete mode at the ingestion door (the q281 census state), the
    // scorecard rollup runs on the drained snapshot via the SHARED
    // corpusScorecard — live source-admission governance. Bounded
    // drain ≡ batch; shares q298's oracle.
    "q299_stream_scorecard" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val census = graft.streaming.DocumentStreams
        .readDocumentsStream(s, dir)
        .filter(col("text").isNotNull)
        .select(col("source"), explode(words(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      corpusScorecard(graft.streaming.EventStreams.runToMemory(census,
        OutputMode.Complete()))
    }),

    // Incremental scorecard maintenance — the q259/q294 census-merge
    // move applied to governance: the history census and the day's
    // delta census (built independently — the delta never re-reads
    // history) merge by pointwise count addition, and the scorecard
    // over the merged census must BIT-EQUAL the from-scratch q298
    // relation (merged counts are the same integers, so every rounded
    // signal and flag is identical). Shares q298's oracle.
    "q306_scorecard_incremental" -> ((s, dir) => {
      val base = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("part",
          when(pmod(col("doc_id") * 2654435761L, lit(4294967296L)) % 10 < 9,
            "hist").otherwise("delta"))
      def census(p: String) = base.filter(col("part") === p)
        .select(col("source"), explode(words(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      val merged = census("hist").unionByName(census("delta"))
        .groupBy("source", "w").agg(sum("cnt").as("cnt"))
      corpusScorecard(merged)
    }),

    // Scorecard sensitivity gate — monitors are only worth their cost
    // if they DETECT the pathology they claim to. Template spam plants
    // into src4/src9 (q162's fixture: every doc collapses to one of 3
    // template strings — diversity and entropy crater), the scorecard
    // runs on baseline and planted corpora, and the gate emits (a)
    // planted sources still admitted after planting and (b) unplanted
    // sources whose admission CHANGED — so it neither assumes the
    // baseline verdicts nor lets the monitors sleep through a planted
    // regression. Two scans (two corpora by design); oracle: empty.
    "q305_scorecard_sensitivity" -> ((s, dir) => {
      def census(d: DataFrame) = d.filter(col("text").isNotNull)
        .select(col("source"), explode(words(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      val base = docs(s, dir)
      val planted = base.withColumn("text",
        when(col("source").isin("src4", "src9"),
          concat(lit("template boilerplate page variant "),
            (col("doc_id") % 3).cast("string")))
          .otherwise(col("text")))
      val a = corpusScorecard(census(base))
        .select(col("source"), col("admitted").as("adm_before"))
      val b = corpusScorecard(census(planted))
        .select(col("source"), col("admitted").as("adm_after"))
      val j = a.join(b, Seq("source"))
      j.filter(col("source").isin("src4", "src9") && col("adm_after"))
        .select(lit("spam_admitted").as("violation"), col("source"))
        .unionByName(j.filter(!col("source").isin("src4", "src9")
            && col("adm_before") =!= col("adm_after"))
          .select(lit("bystander_flipped").as("violation"), col("source")))
        .orderBy("violation", "source")
    }),

    // Preference length-bias audit — the classic reward-hacking
    // pathology check on q241's DPO pairs: if "chosen" wins mostly by
    // being LONGER, the reward signal is teaching verbosity, not
    // quality. Per-language rollup: chosen-longer ppm, mean token
    // delta in exact milli (sign-split floor divide), and the margin
    // mass split by whether length agrees with the preference — all
    // integers over q241's group-bounded pair machinery, one rollup
    // more.
    "q300_preference_length_bias" -> ((s, dir) => {
      val nTok = size(words(col("text"))).cast("bigint")
      val d = docs(s, dir).filter(col("text").isNotNull)
        .withColumn("n_tokens", nTok)
        .withColumn("score",
          lit(1000L) * markerHits(col("text"), markers.head._2).cast("bigint")
            + col("n_tokens"))
        .withColumn("bucket", expr("n_tokens div 32"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "bucket")
        .orderBy(col("score").desc, col("doc_id").asc)
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "bucket")
      val ranked = d.select(col("lang"), col("bucket"), col("doc_id"),
          col("score"), col("n_tokens"))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .withColumn("g", count(lit(1)).over(wg))
      val top = ranked.filter(col("rnk") <= expr("g div 2"))
        .select(col("lang"), col("bucket"), col("score").as("c_score"),
          col("n_tokens").as("c_tok"),
          (col("g") + 1 - col("rnk")).as("want"))
      val bot = ranked.select(col("lang"), col("bucket"),
        col("rnk").as("want"), col("score").as("r_score"),
        col("n_tokens").as("r_tok"))
      top.join(bot, Seq("lang", "bucket", "want"))
        .filter(col("c_score") > col("r_score"))
        .withColumn("longer", col("c_tok") > col("r_tok"))
        .withColumn("margin", col("c_score") - col("r_score"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("longer"), 1L).otherwise(0L)).as("n_chosen_longer"),
          sum(col("c_tok") - col("r_tok")).as("sum_tok_delta"),
          sum(when(col("longer"), col("margin")).otherwise(0L))
            .as("margin_longer"),
          sum(when(!col("longer"), col("margin")).otherwise(0L))
            .as("margin_not_longer"))
        .withColumn("chosen_longer_ppm",
          expr("(1000000 * n_chosen_longer) div n_pairs"))
        .withColumn("mean_tok_delta_milli", signum(col("sum_tok_delta"))
          .cast("bigint")
          * expr("(abs(sum_tok_delta) * 1000) div n_pairs"))
        .select("lang", "n_pairs", "n_chosen_longer", "chosen_longer_ppm",
          "mean_tok_delta_milli", "margin_longer", "margin_not_longer")
        .orderBy("lang")
    })
  )

  /** Per-language length quantiles. `approx = false` uses exact
    * `percentile`, which buffers every group's values — fine per-group
    * at test scale, memory-prohibitive on a 100 TB group. `approx =
    * true` switches to `approx_percentile` (Greenwald-Khanna sketch,
    * accuracy 10000 → rank error ≤ n/10000): constant memory per group,
    * mergeable partials, and it returns an actual data value rather
    * than an interpolation — the scale contract, pinned against exact
    * in TextFunctionsSpec.
    */
  private[graft] def lengthQuantiles(d: org.apache.spark.sql.DataFrame,
                                     approx: Boolean): org.apache.spark.sql.DataFrame = {
    def pct(p: Double, name: String) =
      if (approx)
        round(expr(s"approx_percentile(n_chars, $p, 10000)").cast("double"), 6).as(name)
      else round(expr(s"percentile(n_chars, $p)"), 6).as(name)
    d.groupBy(col("lang"))
      .agg(pct(0.5, "p50"), pct(0.9, "p90"), pct(0.99, "p99"))
      .orderBy("lang")
  }

  private def markerSql(lg: String, c: String = "text"): String =
    s"CAST(len(regexp_extract_all(lower($c), '\\b(${markers.toMap.apply(lg).mkString("|")})\\b')) AS BIGINT)"

  /** Shared by q160 (in-plan postings) and q172 (persisted bucketed
    * postings): occurrences of the adjacent pair via DuckDB list
    * lambdas over the raw text.
    */
  private val phraseSearchOracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      | m AS (SELECT doc_id,
      |    CAST(len(list_filter(range(1, len(w)),
      |      i -> w[i] = 'table' AND w[i + 1] = 'part')) AS BIGINT) AS n_occ
      |  FROM t)
      |SELECT doc_id, n_occ FROM m WHERE n_occ > 0
      |ORDER BY doc_id""".stripMargin

  /** Shared by q104 (batch) and q185 (streaming): the planted-PII
    * fixture, detection counts, and redacted-text md5 restated in
    * RE2 regex - one oracle for both execution modes.
    */
  /** Shared by q182 (batch) and q191 (streaming): hash, ceilings, and
    * reassembly restated in exact integer arithmetic.
    */
  private val tokenDownsampleOracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM documents WHERE text IS NOT NULL),
        | wp AS (SELECT doc_id, pos, w[pos+1] AS word
        |   FROM (SELECT doc_id, w, unnest(range(len(w))) AS pos FROM t)),
        | f AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM wp GROUP BY 1),
        | n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wp),
        | m AS (SELECT word, CAST(FLOOR(SQRT(CAST(
        |     (1000000000 * (SELECT n FROM n)) // cnt AS DOUBLE))) AS BIGINT)
        |     AS maxh
        |   FROM f),
        | kept AS (SELECT wp.doc_id, wp.pos, wp.word
        |   FROM wp JOIN m USING (word)
        |   WHERE ((((wp.doc_id * 1000003 + wp.pos + 1) % 3000000000)
        |     * 2654435761) % 1000000) <= m.maxh),
        | agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS ct,
        |   CAST(COUNT(*) AS BIGINT) AS nk FROM kept GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(a.ct, CASE WHEN d.text IS NULL THEN NULL ELSE '' END)
        |    AS ds_text,
        |  COALESCE(a.nk, CASE WHEN d.text IS NULL THEN NULL
        |    ELSE CAST(0 AS BIGINT) END) AS n_kept
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin

  /** Fill-in-the-middle projection shared by batch q243 and its
    * streaming twin q260 (per-row string arithmetic, stateless —
    * streaming-legal as-is). Mode bit from docHash bit 1, NOT h1
    * parity: h1 = id·1000003+17 stays below P for small ids, so its
    * parity is id's — every FIM'd (even-id) doc would land in one
    * mode.
    */
  private[graft] val fimTransform: DataFrame => DataFrame = { in =>
    val P = 1000000007L
    val cut = col("len") + 1L
    val d = in.filter(col("text").isNotNull)
      .withColumn("len", length(col("text")).cast("bigint"))
      .withColumn("h1", (col("doc_id") * 1000003L + 17L) % P)
      .withColumn("h2", (col("doc_id") * 1000003L + 89L) % P)
      .withColumn("fim", docHash(col("doc_id")) % 2 === 0)
      .withColumn("lo", least(col("h1") % cut, col("h2") % cut))
      .withColumn("hi", greatest(col("h1") % cut, col("h2") % cut))
      .withColumn("mode", when(!col("fim"), "none")
        .when(docHash(col("doc_id")) % 4 === 0, "psm").otherwise("spm"))
      .withColumn("pre", expr("substring(text, 1, int(lo))"))
      .withColumn("mid", expr("substring(text, int(lo) + 1, int(hi - lo))"))
      .withColumn("suf", expr("substring(text, int(hi) + 1)"))
      .withColumn("rendered", when(col("mode") === "none", col("text"))
        .when(col("mode") === "psm",
          concat(lit("<PRE>"), col("pre"), lit("<SUF>"), col("suf"),
            lit("<MID>"), col("mid")))
        .otherwise(concat(lit("<PRE><SUF>"), col("suf"), lit("<MID>"),
          col("pre"), col("mid"))))
    d.select(col("doc_id"), col("mode"),
      when(col("mode") === "none", col("len")).otherwise(col("lo"))
        .as("n_pre"),
      when(col("mode") === "none", 0L).otherwise(col("hi") - col("lo"))
        .as("n_mid"),
      when(col("mode") === "none", 0L).otherwise(col("len") - col("hi"))
        .as("n_suf"),
      length(col("rendered")).cast("bigint").as("n_out"),
      md5(col("rendered")).as("out_md5"))
  }

  /** MLM 80/10/10 projection shared by batch q256 and its streaming
    * twin q261 (per-row column arithmetic over the materialized token
    * array — stateless, streaming-legal as-is). Class codes:
    * 0 = unmasked, 1 = [MASK], 2 = random, 3 = keep.
    */
  private[graft] val mlmMasking: DataFrame => DataFrame = { in =>
    val P = 1000000007L
    def h(p: Column): Column =
      (col("doc_id") * 1000003L + p * 7919L + 31L) % P
    def clsAt(p: Column): Column =
      when(h(p) % 20 >= 3, 0L)
        .when(floor(h(p) / 20).cast("long") % 10 < 8, 1L)
        .when(floor(h(p) / 20).cast("long") % 10 === 8, 2L)
        .otherwise(3L)
    val d = in.filter(col("text").isNotNull)
      .withColumn("w", words(col("text")))
      .withColumn("n", size(col("w")).cast("bigint"))
      .withColumn("cls", transform(sequence(lit(0), size(col("w")) - 1),
        p => clsAt(p)))
      .withColumn("rendered", array_join(
        transform(sequence(lit(0), size(col("w")) - 1), p => {
          val c = element_at(col("cls"), (p + 1).cast("int"))
          when(c === 1L, lit("[MASK]"))
            .when(c === 2L, element_at(col("w"),
              (floor(h(p) / 200).cast("long") % col("n") + 1).cast("int")))
            .otherwise(element_at(col("w"), (p + 1).cast("int")))
        }), " "))
    d.select(col("doc_id"), col("n").as("n_tokens"),
      aggregate(col("cls"), lit(0L),
        (a, c) => a + when(c > 0, 1L).otherwise(0L)).as("n_masked"),
      aggregate(col("cls"), lit(0L),
        (a, c) => a + when(c === 1L, 1L).otherwise(0L)).as("n_mask_tok"),
      aggregate(col("cls"), lit(0L),
        (a, c) => a + when(c === 2L, 1L).otherwise(0L)).as("n_random"),
      aggregate(col("cls"), lit(0L),
        (a, c) => a + when(c === 3L, 1L).otherwise(0L)).as("n_keep"),
      aggregate(sequence(lit(0), col("n") - 1), lit(0L),
        (a, p) => when(
          element_at(col("cls"), (p + 1).cast("int")) > 0,
          (a * 131L + (p * 4L
            + element_at(col("cls"), (p + 1).cast("int")))) % P)
          .otherwise(a)).as("decision_hash"),
      md5(col("rendered")).as("out_md5"))
  }

  /** Two-crop contrastive projection shared by batch q267 and its
    * streaming twin q268 (per-row substring arithmetic, stateless —
    * streaming-legal as-is). Crop starts land in [0, len − span];
    * the +1 at the substring sites is substr's 1-base.
    */
  private[graft] val contrastiveCrops: DataFrame => DataFrame = { in =>
    val P = 1000000007L
    val d = in.filter(col("text").isNotNull)
      .withColumn("len", length(col("text")).cast("bigint"))
      .withColumn("span", expr("len div 2"))
      .withColumn("s1",
        (col("doc_id") * 1000003L + 41L) % P % (col("len") - col("span") + 1))
      .withColumn("s2",
        (col("doc_id") * 1000003L + 97L) % P % (col("len") - col("span") + 1))
      .withColumn("crop1", expr("substring(text, int(s1) + 1, int(span))"))
      .withColumn("crop2", expr("substring(text, int(s2) + 1, int(span))"))
      .withColumn("overlap", greatest(lit(0L),
        least(col("s1") + col("span"), col("s2") + col("span"))
          - greatest(col("s1"), col("s2"))))
    d.select(col("doc_id"), col("span"), col("s1"), col("s2"),
      col("overlap"),
      when(col("span") > 0, expr("(1000000 * overlap) div span"))
        .otherwise(0L).as("overlap_ppm"),
      md5(col("crop1")).as("crop1_md5"),
      md5(col("crop2")).as("crop2_md5"))
  }

  /** Skip-gram (window = 2) pair projection shared by batch q269 and
    * its streaming twin q271: distance-1 and -2 neighbors, both
    * directions, as four zip_with legs over shifted slices (the
    * wordBigrams discipline — no split recompute inside lambdas).
    */
  private[graft] val skipgramPairs: DataFrame => DataFrame = { in =>
    val w = words(col("text"))
    def leg(dist: Int, rev: Boolean): Column = {
      val a = slice(w, lit(1), size(w) - dist)
      val b = slice(w, lit(1 + dist), size(w) - dist)
      if (rev) zip_with(b, a,
        (x, y) => struct(x.as("center"), y.as("context")))
      else zip_with(a, b,
        (x, y) => struct(x.as("center"), y.as("context")))
    }
    in.filter(col("text").isNotNull)
      .select(explode(concat(
        leg(1, rev = false), leg(1, rev = true),
        leg(2, rev = false), leg(2, rev = true))).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
  }

  /** The BM25 query workload shared by q273 (batch), q282 (streaming
    * twin), and q283 (hybrid fusion).
    */
  private[graft] val bm25QueryDefs: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("customer", "query"),
    2L -> Seq("vector", "merge"),
    3L -> Seq("stream", "window", "sort"),
    4L -> Seq("hash", "join"))

  /** BM25 scored candidates (query_id, doc_id, score_r) shared by q273
    * and q283 — see q273's Scaladoc for the scale shape (one
    * checkpointed term-filtered scan, model-sized broadcasts, scores
    * rounded BEFORE any ranking).
    */
  private[graft] def bm25Scores(s: SparkSession, dir: String): DataFrame =
    bm25ScoresOver(s, docs(s, dir))

  /** [[bm25Scores]] over an arbitrary corpus slice — the q371 ranking-
    * drift monitor scores the same queries against two index states.
    */
  private[graft] def bm25ScoresOver(s: SparkSession,
      d0: DataFrame): DataFrame = {
    import s.implicits._
    val termSet = bm25QueryDefs.flatMap(_._2).distinct
    val qt = broadcast(bm25QueryDefs
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "w"))
    val base = d0.filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(words(col("text"))).cast("bigint").as("dl"),
        filter(words(col("text")),
          w => w.isInCollection(termSet)).as("qtoks"))
      .cutLineage
    val global = broadcast(base.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("sum_dl")))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("qtoks")).as("w"))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
    val dfw = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfw), Seq("w")).join(qt, Seq("w"))
      .crossJoin(global)
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .withColumn("num", col("tf") * lit(2.2))
      .withColumn("den", col("tf") + lit(1.2) * (lit(0.25)
        + lit(0.75) * col("dl") * col("n_docs") / col("sum_dl")))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("idf") * col("num") / col("den")).as("score"))
      .withColumn("score_r", round(col("score"), 6))
      .select("query_id", "doc_id", "score_r")
  }

  /** Per-(query, term, doc) BM25 contribution frozen to integer micros
    * (the q325 freeze discipline applied one level deeper): the same
    * tf/df/idf algebra as [[bm25Scores]], but each term's contribution
    * is rounded at 6 dp and scaled to a BIGINT before any sum — so the
    * additive total is EXACT integers and the MaxScore pruning theorem
    * (q347) carries zero float hazard across engines. Scale shape is
    * bm25Scores': one checkpointed term-filtered scan, model-sized
    * df/query broadcasts, a 1-row corpus-stats broadcast.
    */
  private[graft] def bm25ContribsMicro(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val termSet = bm25QueryDefs.flatMap(_._2).distinct
    val qt = broadcast(bm25QueryDefs
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "w"))
    val base = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(words(col("text"))).cast("bigint").as("dl"),
        filter(words(col("text")),
          w => w.isInCollection(termSet)).as("qtoks"))
      .cutLineage
    val global = broadcast(base.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("sum_dl")))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("qtoks")).as("w"))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
    val dfw = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfw), Seq("w")).join(qt, Seq("w"))
      .crossJoin(global)
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .withColumn("num", col("tf") * lit(2.2))
      .withColumn("den", col("tf") + lit(1.2) * (lit(0.25)
        + lit(0.75) * col("dl") * col("n_docs") / col("sum_dl")))
      .select(col("query_id"), col("w"), col("doc_id"),
        round(round(col("idf") * col("num") / col("den"), 6) * 1000000)
          .cast("bigint").as("c_micro"))
  }

  /** Group-relative advantage shared by batch q275 and streaming twin
    * q280: standardize each (prompt_id, doc_id, reward) row against its
    * group ENTIRELY in integers — z_i = (n·r_i − Σr)/√V with
    * V = n·Σr² − (Σr)², isqrt via floor-sqrt with the ±1 adjustment
    * (double sqrt is IEEE-correctly-rounded; the adjustment removes the
    * one-ulp boundary), divide sign-split so both engines floor
    * identically on negative advantages. Window partitions are
    * candidate groups (≤ 8 rows) — bounded by construction.
    */
  private[graft] def groupAdvantage(d: DataFrame): DataFrame = {
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("prompt_id")
    d.withColumn("n_cands", count(lit(1)).over(wg).cast("bigint"))
      .withColumn("sum_r", sum("reward").over(wg))
      .withColumn("sum_r2", sum(col("reward") * col("reward")).over(wg))
      .withColumn("__num", col("n_cands") * col("reward") - col("sum_r"))
      .withColumn("__v", col("n_cands") * col("sum_r2")
        - col("sum_r") * col("sum_r"))
      .withColumn("__r0", floor(sqrt(col("__v").cast("double"))).cast("long"))
      .withColumn("__isq", when(col("__v") <= 0, lit(0L))
        .when((col("__r0") + 1) * (col("__r0") + 1) <= col("__v"),
          col("__r0") + 1)
        .when(col("__r0") * col("__r0") > col("__v"), col("__r0") - 1)
        .otherwise(col("__r0")))
      .withColumn("adv_milli", when(col("__isq") > 0,
        signum(col("__num")).cast("long")
          * expr("(abs(__num) * 1000) div __isq")).otherwise(lit(0L)))
      .select(col("prompt_id"), col("doc_id"), col("reward"),
        col("n_cands"), col("adv_milli"))
      .orderBy("prompt_id", "doc_id")
  }

  /** Entropy rollup shared by batch q278 and streaming twin q281: from
    * a (source, w, cnt) vocabulary census to per-source Shannon entropy
    * H = ln T − (Σ c·ln c)/T and the ln-V-normalized form. All sums run
    * census-side (vocabulary-sized); ROUND(6) absorbs cross-engine
    * float-sum order (the q79 ln discipline).
    */
  private[graft] def entropyProfile(census: DataFrame): DataFrame =
    census.groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("cnt").as("total"),
        sum(col("cnt").cast("double") * log(col("cnt").cast("double")))
          .as("sclogc"))
      .withColumn("entropy",
        round(log(col("total")) - col("sclogc") / col("total"), 6))
      .withColumn("norm_entropy", when(col("vocab") > 1,
        round((log(col("total")) - col("sclogc") / col("total"))
          / log(col("vocab")), 6)))
      .select("source", "vocab", "total", "entropy", "norm_entropy")
      .orderBy("source")

  /** The BM25 scoring CTE block (query terms → scored candidates `sc`),
    * shared by the q273/q282 oracle and q283's lexical leg.
    */
  /** (1−p)·p^(d−1) RBO weights at p = 0.9, d = 1..10, as ppm literals —
    * shared by the q371 plan and oracle so the metric is exact-integer
    * in both engines.
    */
  private[graft] lazy val rboWeightsMicro: Seq[Long] =
    (1 to 10).map(d => math.round(0.1 * math.pow(0.9, d - 1) * 1e6))

  /** One BM25 CTE stack over a corpus slice, CTE names suffixed — the
    * q371 oracle runs two index states side by side.
    */
  private def bm25SliceSql(sfx: String, extraWhere: String): String =
    s"""base$sfx AS (SELECT doc_id,
       |     CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |     string_split(text, ' ') AS ws
       |   FROM documents WHERE text IS NOT NULL$extraWhere),
       | g$sfx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |     CAST(SUM(dl) AS BIGINT) AS sum_dl FROM base$sfx),
       | tok$sfx AS (SELECT doc_id, dl, unnest(ws) AS w FROM base$sfx),
       | tf$sfx AS (SELECT doc_id, dl, w, CAST(COUNT(*) AS BIGINT) AS tf
       |   FROM tok$sfx WHERE w IN (SELECT w FROM qt) GROUP BY 1, 2, 3),
       | dfw$sfx AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df
       |   FROM tf$sfx GROUP BY 1),
       | sc$sfx AS (SELECT qt.query_id, tf$sfx.doc_id,
       |     SUM(ln(1.0 + (g$sfx.n_docs - dfw$sfx.df + 0.5)
       |         / (dfw$sfx.df + 0.5)) * (tf$sfx.tf * 2.2)
       |       / (tf$sfx.tf + 1.2 * (0.25 + 0.75 * tf$sfx.dl
       |           * g$sfx.n_docs / g$sfx.sum_dl))) AS score
       |   FROM tf$sfx JOIN dfw$sfx USING (w) JOIN qt USING (w)
       |   CROSS JOIN g$sfx GROUP BY 1, 2),
       | r$sfx AS (SELECT query_id, doc_id,
       |     ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY ROUND(score, 6) DESC, doc_id) AS rnk
       |   FROM sc$sfx)""".stripMargin

  private lazy val bm25CoreSql =
    """qt(query_id, w) AS (VALUES
      |    (1, 'customer'), (1, 'query'), (2, 'vector'), (2, 'merge'),
      |    (3, 'stream'), (3, 'window'), (3, 'sort'),
      |    (4, 'hash'), (4, 'join')),
      | base AS (SELECT doc_id,
      |     CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |     string_split(text, ' ') AS ws
      |   FROM documents WHERE text IS NOT NULL),
      | g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |     CAST(SUM(dl) AS BIGINT) AS sum_dl FROM base),
      | tok AS (SELECT doc_id, dl, unnest(ws) AS w FROM base),
      | tf AS (SELECT doc_id, dl, w, CAST(COUNT(*) AS BIGINT) AS tf
      |   FROM tok WHERE w IN (SELECT w FROM qt) GROUP BY 1, 2, 3),
      | dfw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      | sc AS (SELECT qt.query_id, tf.doc_id,
      |     SUM(ln(1.0 + (g.n_docs - dfw.df + 0.5) / (dfw.df + 0.5))
      |       * (tf.tf * 2.2)
      |       / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl * g.n_docs / g.sum_dl)))
      |       AS score
      |   FROM tf JOIN dfw USING (w) JOIN qt USING (w) CROSS JOIN g
      |   GROUP BY 1, 2)""".stripMargin

  /** Hamilton largest-remainder split of a 1M-token budget over a
    * (source, cnt) census — exact integers, quota rule by construction;
    * shared by q339 (batch census) and q340 (streaming drain). The one
    * global window ranks the source domain (~20 rows), never data.
    */
  private[graft] def hamiltonAllocate(cnt: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = 1000000L
    val tot = cnt.agg(sum("cnt").as("total"))
    val wr = Window.orderBy(col("rem").desc, col("source").asc)
    cnt.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(${n}L * cnt) div total"))
      .withColumn("rem", expr(s"(${n}L * cnt) % total"))
      .withColumn("leftover",
        (lit(n) - sum("base").over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing))))
      .withColumn("rnk", row_number().over(wr).cast("bigint"))
      .withColumn("alloc",
        col("base") + when(col("rnk") <= col("leftover"), 1L)
          .otherwise(0L))
      .select(col("source"), col("cnt"), col("base"), col("rem"),
        col("alloc"))
      .orderBy("source")
  }

  /** Shared by q339 (batch) and q340 (streaming census twin): the
    * exact-integer Hamilton apportionment restatement.
    */
  private lazy val apportionmentOracle =
    """WITH c AS (SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS cnt
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        | t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        | b AS (SELECT c.source, c.cnt,
        |    CAST((1000000 * c.cnt) // t.total AS BIGINT) AS base,
        |    CAST((1000000 * c.cnt) % t.total AS BIGINT) AS rem
        |  FROM c CROSS JOIN t),
        | l AS (SELECT *,
        |    1000000 - SUM(base) OVER () AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rnk
        |  FROM b)
        |SELECT source, cnt, base, rem,
        |  CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM l ORDER BY source""".stripMargin

  /** Shared by q73 (batch) and q336 (streaming stateless twin). */
  private lazy val tokenChunksOracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      | s AS (SELECT doc_id, w, len(w) AS nw,
      |         unnest(range(0, len(w), 24)) AS st FROM t)
      |SELECT doc_id, CAST(st // 24 + 1 AS BIGINT) AS chunk_no,
      |  CAST(st AS BIGINT) AS start_tok,
      |  CAST(least(32, nw - st) AS BIGINT) AS n_tok,
      |  array_to_string(w[CAST(st + 1 AS BIGINT):CAST(least(st + 32, nw) AS BIGINT)], ' ')
      |    AS chunk_text
      |FROM s ORDER BY doc_id, chunk_no""".stripMargin

  /** Sliding 32/24 token windows (doc_id, chunk_no, start, chunk) as
    * RAW ARRAYS — q73's chunking (same window/stride) kept as token
    * lists for downstream composition (q335's losslessness rebuild,
    * q341's triplet payloads); q73 itself emits the serialized text.
    */
  private[graft] def slidingChunks(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    d.filter(col("text").isNotNull)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("n", size(col("ws")).cast("bigint"))
      .filter(col("n") >= 1)
      .withColumn("start",
        explode(sequence(lit(0L), col("n") - 1, lit(24L))))
      .withColumn("chunk", slice(col("ws"), col("start") + 1, lit(32)))
      .select(col("doc_id"),
        (col("start") / 24L).cast("bigint").as("chunk_no"),
        col("start"), col("chunk"))

  /** Shared by q329 (batch, with in-gate merge law) and q330 (streaming
    * Complete-mode census twin): the content-digest restatement.
    */
  private lazy val datasetDigestOracle =
    """WITH h AS (SELECT source,
        |    CAST(('0x' || substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || COALESCE(lang, '∅')
        |      || '|' || COALESCE(source, '∅')
        |      || '|' || COALESCE(CAST(n_chars AS VARCHAR), '∅')
        |      || '|' || md5(COALESCE(text, '∅'))), 1, 15)) AS BIGINT) AS hv
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(hv) % 2305843009213693951 AS BIGINT) AS digest
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by q273 (batch) and q282 (streaming frozen-model twin). */
  private lazy val bm25TopKOracle =
    s"""WITH $bm25CoreSql,
       | r AS (SELECT query_id, doc_id, ROUND(score, 6) AS score,
       |     ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY ROUND(score, 6) DESC, doc_id) AS rnk
       |   FROM sc)
       |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT)
       |    AS rnk, doc_id, score
       |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** Shared by q275 (batch window) and q280 (streaming bounded
    * collect_list twin): the integer z-score prep.
    */
  private lazy val grpoAdvantageOracle =
    s"""WITH d AS (SELECT doc_id, doc_id // 8 AS prompt_id,
       |    1000 * ${markerSql("en")}
       |      + len(string_split(text, ' ')) AS reward
       |  FROM documents WHERE text IS NOT NULL),
       | g AS (SELECT prompt_id, doc_id, reward,
       |    COUNT(*) OVER w AS n, SUM(reward) OVER w AS sr,
       |    SUM(reward * reward) OVER w AS sr2
       |  FROM d WINDOW w AS (PARTITION BY prompt_id)),
       | v AS (SELECT *, n * sr2 - sr * sr AS vv,
       |    n * reward - sr AS num FROM g),
       | q AS (SELECT *, CAST(FLOOR(SQRT(CAST(vv AS DOUBLE))) AS BIGINT)
       |    AS r0 FROM v),
       | z AS (SELECT *, CASE WHEN vv <= 0 THEN 0
       |    WHEN (r0 + 1) * (r0 + 1) <= vv THEN r0 + 1
       |    WHEN r0 * r0 > vv THEN r0 - 1 ELSE r0 END AS isq FROM q)
       |SELECT CAST(prompt_id AS BIGINT) AS prompt_id, doc_id,
       |  CAST(reward AS BIGINT) AS reward, CAST(n AS BIGINT) AS n_cands,
       |  CAST(CASE WHEN isq > 0 THEN CAST(SIGN(num) AS BIGINT)
       |      * ((ABS(num) * 1000) // isq) ELSE 0 END AS BIGINT)
       |    AS adv_milli
       |FROM z ORDER BY prompt_id, doc_id""".stripMargin

  /** Shared by q278 (batch census) and q281 (streaming Complete-mode
    * census twin): the per-source entropy rollup.
    */
  private lazy val entropyProfileOracle =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      | c AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM toks GROUP BY 1, 2),
      | a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
      |    CAST(SUM(cnt) AS BIGINT) AS total,
      |    SUM(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) AS sclogc
      |  FROM c GROUP BY 1)
      |SELECT source, vocab, total,
      |  ROUND(ln(total) - sclogc / total, 6) AS entropy,
      |  CASE WHEN vocab > 1
      |    THEN ROUND((ln(total) - sclogc / total) / ln(vocab), 6)
      |  END AS norm_entropy
      |FROM a ORDER BY source""".stripMargin

  /** Corpus health scorecard shared by batch q298 and streaming twin
    * q299: from a (source, w, cnt) census to per-source diversity,
    * entropy, Zipf slope, and deterministic verdict flags — see q298's
    * query comment for thresholds and scale shape. The census
    * checkpoints here because two consumers (entropy rollup + Zipf
    * rank window) read it.
    */
  private[graft] def corpusScorecard(censusIn: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("w").asc)
    val census = censusIn.cutLineage
    val ent = census.groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("cnt").as("total"),
        sum(col("cnt").cast("double") * log(col("cnt").cast("double")))
          .as("sclogc"))
      .withColumn("entropy",
        round(log(col("total")) - col("sclogc") / col("total"), 6))
      .withColumn("norm_entropy", when(col("vocab") > 1,
        round((log(col("total")) - col("sclogc") / col("total"))
          / log(col("vocab")), 6)))
      .withColumn("diversity_ppm", expr("(1000000 * vocab) div total"))
      .select("source", "vocab", "total", "diversity_ppm", "entropy",
        "norm_entropy")
    val zipf = census.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 30)
      .select(col("source"), log(col("rnk").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
      .groupBy("source")
      .agg(count(lit(1)).cast("double").as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope", round((col("n") * col("sxy")
        - col("sx") * col("sy"))
        / (col("n") * col("sxx") - col("sx") * col("sx")), 6))
      .select("source", "slope")
    ent.join(zipf, Seq("source"))
      .withColumn("flag_diversity", col("vocab") < 16L)
      .withColumn("flag_entropy", col("norm_entropy") < 0.55)
      .withColumn("flag_zipf", col("slope") > -0.35)
      .withColumn("admitted", !col("flag_diversity")
        && !col("flag_entropy") && !col("flag_zipf"))
      .orderBy("source")
  }

  /** Shared by q298 (batch census) and q299 (streaming Complete-mode
    * census twin): the scorecard rollup.
    */
  private lazy val scorecardOracle =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      | c AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM toks GROUP BY 1, 2),
      | a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
      |    CAST(SUM(cnt) AS BIGINT) AS total,
      |    SUM(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) AS sclogc
      |  FROM c GROUP BY 1),
      | e AS (SELECT source, vocab, total,
      |    CAST((1000000 * vocab) // total AS BIGINT) AS diversity_ppm,
      |    ROUND(ln(total) - sclogc / total, 6) AS entropy,
      |    CASE WHEN vocab > 1
      |      THEN ROUND((ln(total) - sclogc / total) / ln(vocab), 6)
      |    END AS norm_entropy
      |  FROM a),
      | r AS (SELECT source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY cnt DESC, w) AS rnk, cnt
      |  FROM c),
      | x AS (SELECT source, ln(CAST(rnk AS DOUBLE)) AS x,
      |    ln(CAST(cnt AS DOUBLE)) AS y FROM r WHERE rnk <= 30),
      | m AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
      |    SUM(x * x) AS sxx
      |  FROM x GROUP BY 1),
      | z AS (SELECT source,
      |    ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
      |  FROM m)
      |SELECT e.source, e.vocab, e.total, e.diversity_ppm, e.entropy,
      |  e.norm_entropy, z.slope,
      |  e.vocab < 16 AS flag_diversity,
      |  e.norm_entropy < 0.55 AS flag_entropy,
      |  z.slope > -0.35 AS flag_zipf,
      |  NOT (e.vocab < 16) AND NOT (e.norm_entropy < 0.55)
      |    AND NOT (z.slope > -0.35) AS admitted
      |FROM e JOIN z ON z.source = e.source
      |ORDER BY e.source""".stripMargin

  /** Shared by q247 (batch window) and q258 (streaming bounded-heap
    * twin): per-prompt argmax with runner-up margin.
    */
  private lazy val bestOfNOracle =
    s"""WITH d AS (SELECT doc_id, doc_id // 8 AS prompt_id,
       |    1000 * ${markerSql("en")}
       |      + len(string_split(text, ' ')) AS reward
       |  FROM documents WHERE text IS NOT NULL),
       | r AS (SELECT prompt_id, doc_id, reward,
       |    ROW_NUMBER() OVER (PARTITION BY prompt_id
       |      ORDER BY reward DESC, doc_id) AS rnk,
       |    LEAD(reward, 1) OVER (PARTITION BY prompt_id
       |      ORDER BY reward DESC, doc_id) AS ru,
       |    COUNT(*) OVER (PARTITION BY prompt_id) AS n
       |  FROM d)
       |SELECT prompt_id, doc_id AS best_doc,
       |  CAST(reward AS BIGINT) AS best_reward,
       |  CAST(COALESCE(reward - ru, 0) AS BIGINT) AS margin,
       |  CAST(n AS BIGINT) AS n_cands
       |FROM r WHERE rnk = 1 ORDER BY prompt_id""".stripMargin

  /** Shared by q243 (batch) and q260 (streaming twin): the FIM rule
    * as plain substr arithmetic.
    */
  private val fimOracle =
    """WITH t AS (SELECT doc_id, text,
      |    CAST(length(text) AS BIGINT) AS len,
      |    (doc_id * 1000003 + 17) % 1000000007 AS h1,
      |    (doc_id * 1000003 + 89) % 1000000007 AS h2,
      |    (doc_id * 2654435761) % 4294967296 % 2 = 0 AS fim
      |  FROM documents WHERE text IS NOT NULL),
      | s AS (SELECT doc_id, text, len,
      |    LEAST(h1 % (len + 1), h2 % (len + 1)) AS lo,
      |    GREATEST(h1 % (len + 1), h2 % (len + 1)) AS hi,
      |    CASE WHEN NOT fim THEN 'none'
      |      WHEN (doc_id * 2654435761) % 4294967296 % 4 = 0 THEN 'psm'
      |      ELSE 'spm' END AS mode
      |  FROM t),
      | r AS (SELECT doc_id, mode, len, lo, hi,
      |    CASE WHEN mode = 'none' THEN text
      |      WHEN mode = 'psm' THEN '<PRE>' || substr(text, 1, lo)
      |        || '<SUF>' || substr(text, hi + 1)
      |        || '<MID>' || substr(text, lo + 1, hi - lo)
      |      ELSE '<PRE><SUF>' || substr(text, hi + 1)
      |        || '<MID>' || substr(text, 1, lo)
      |        || substr(text, lo + 1, hi - lo) END AS rendered
      |  FROM s)
      |SELECT doc_id, mode,
      |  CAST(CASE WHEN mode = 'none' THEN len ELSE lo END AS BIGINT)
      |    AS n_pre,
      |  CAST(CASE WHEN mode = 'none' THEN 0 ELSE hi - lo END AS BIGINT)
      |    AS n_mid,
      |  CAST(CASE WHEN mode = 'none' THEN 0 ELSE len - hi END AS BIGINT)
      |    AS n_suf,
      |  CAST(length(rendered) AS BIGINT) AS n_out,
      |  md5(rendered) AS out_md5
      |FROM r ORDER BY doc_id""".stripMargin

  /** Shared by q256 (batch) and q261 (streaming twin): the 80/10/10
    * rule with list indexing.
    */
  private val mlmOracle =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents WHERE text IS NOT NULL),
      | m AS (SELECT doc_id, w, n,
      |    list_transform(range(0, n), p -> CASE
      |      WHEN (doc_id * 1000003 + p * 7919 + 31) % 1000000007 % 20 >= 3
      |        THEN 0
      |      WHEN ((doc_id * 1000003 + p * 7919 + 31) % 1000000007 // 20)
      |        % 10 < 8 THEN 1
      |      WHEN ((doc_id * 1000003 + p * 7919 + 31) % 1000000007 // 20)
      |        % 10 = 8 THEN 2
      |      ELSE 3 END) AS cls
      |  FROM t),
      | r AS (SELECT doc_id, n, cls,
      |    array_to_string(list_transform(range(0, n), p -> CASE
      |      WHEN cls[p + 1] = 1 THEN '[MASK]'
      |      WHEN cls[p + 1] = 2 THEN w[CAST(
      |        ((doc_id * 1000003 + p * 7919 + 31) % 1000000007 // 200) % n
      |        + 1 AS BIGINT)]
      |      ELSE w[p + 1] END), ' ') AS rendered
      |  FROM m)
      |SELECT doc_id, n AS n_tokens,
      |  CAST(len(list_filter(cls, c -> c > 0)) AS BIGINT) AS n_masked,
      |  CAST(len(list_filter(cls, c -> c = 1)) AS BIGINT) AS n_mask_tok,
      |  CAST(len(list_filter(cls, c -> c = 2)) AS BIGINT) AS n_random,
      |  CAST(len(list_filter(cls, c -> c = 3)) AS BIGINT) AS n_keep,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_filter(range(0, n), p -> cls[p + 1] > 0),
      |        p -> CAST(p * 4 + cls[p + 1] AS BIGINT))),
      |    (a, v) -> (a * 131 + v) % 1000000007) AS BIGINT)
      |    AS decision_hash,
      |  md5(rendered) AS out_md5
      |FROM r ORDER BY doc_id""".stripMargin

  /** Shared by q269 (batch) and q271 (streaming census twin): the
    * four shifted-slice legs as list lambdas.
    */
  private val skipgramOracle =
    """WITH t AS (SELECT string_split(text, ' ') AS w
      |  FROM documents WHERE text IS NOT NULL),
      | p AS (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |    i -> {'c': w[i], 'x': w[i+1]})) AS g FROM t WHERE len(w) >= 2
      |  UNION ALL
      |  SELECT unnest(list_transform(range(1, len(w)),
      |    i -> {'c': w[i+1], 'x': w[i]})) AS g FROM t WHERE len(w) >= 2
      |  UNION ALL
      |  SELECT unnest(list_transform(range(1, len(w) - 1),
      |    i -> {'c': w[i], 'x': w[i+2]})) AS g FROM t WHERE len(w) >= 3
      |  UNION ALL
      |  SELECT unnest(list_transform(range(1, len(w) - 1),
      |    i -> {'c': w[i+2], 'x': w[i]})) AS g FROM t WHERE len(w) >= 3)
      |SELECT g.c AS center, g.x AS context, CAST(COUNT(*) AS BIGINT) AS n
      |FROM p GROUP BY 1, 2
      |ORDER BY n DESC, center, context LIMIT 100""".stripMargin

  /** Shared by q267 (batch) and q268 (streaming twin): the crop and
    * overlap arithmetic.
    */
  private val contrastiveCropsOracle =
    """WITH t AS (SELECT doc_id, text,
      |    CAST(length(text) AS BIGINT) AS len,
      |    CAST(length(text) AS BIGINT) // 2 AS span
      |  FROM documents WHERE text IS NOT NULL),
      | s AS (SELECT doc_id, text, len, span,
      |    (doc_id * 1000003 + 41) % 1000000007 % (len - span + 1) AS s1,
      |    (doc_id * 1000003 + 97) % 1000000007 % (len - span + 1) AS s2
      |  FROM t),
      | c AS (SELECT doc_id, span, s1, s2,
      |    substr(text, s1 + 1, span) AS crop1,
      |    substr(text, s2 + 1, span) AS crop2,
      |    GREATEST(0, LEAST(s1 + span, s2 + span) - GREATEST(s1, s2))
      |      AS overlap
      |  FROM s)
      |SELECT doc_id, span, s1, s2, overlap,
      |  CAST(CASE WHEN span > 0 THEN 1000000 * overlap // span
      |    ELSE 0 END AS BIGINT) AS overlap_ppm,
      |  md5(crop1) AS crop1_md5, md5(crop2) AS crop2_md5
      |FROM c ORDER BY doc_id""".stripMargin

  /** Shared by q252 (from-scratch) and q259 (incremental census
    * merge): the anchor bag release.
    */
  private val anchorTextOracle =
    """WITH d AS (SELECT doc_id,
      |    array_to_string((string_split(text, ' '))[1:3], ' ') AS anchor
      |  FROM documents WHERE text IS NOT NULL),
      | n AS (SELECT COUNT(*) AS n FROM d),
      | l AS (SELECT (d.doc_id * 1000003 + k.k * 7919 + 13) % n.n
      |    AS target_id, d.anchor
      |  FROM d CROSS JOIN n
      |    CROSS JOIN (SELECT unnest(range(0, 3)) AS k) k),
      | c AS (SELECT target_id, anchor, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM l GROUP BY 1, 2),
      | r AS (SELECT target_id, anchor, cnt,
      |    CAST(SUM(cnt) OVER (PARTITION BY target_id) AS BIGINT) AS n_links,
      |    CAST(COUNT(*) OVER (PARTITION BY target_id) AS BIGINT)
      |      AS n_unique_anchors,
      |    ROW_NUMBER() OVER (PARTITION BY target_id
      |      ORDER BY cnt DESC, anchor) AS rnk
      |  FROM c)
      |SELECT CAST(target_id AS BIGINT) AS target_id, n_links,
      |  n_unique_anchors, anchor AS top_anchor, cnt AS top_cnt
      |FROM r WHERE rnk = 1 ORDER BY target_id""".stripMargin

  /** Shared by q248 (batch) and q257 (streaming twin): per-source
    * distinct/total unigram and bigram ratios.
    */
  private val distinctNgramsOracle =
    """WITH t AS (SELECT source, string_split(text, ' ') AS w
      |  FROM documents WHERE text IS NOT NULL),
      | u AS (SELECT source, unnest(w) AS g FROM t),
      | a1 AS (SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_1,
      |    CAST(COUNT(*) AS BIGINT) AS total_1 FROM u GROUP BY 1),
      | b AS (SELECT source, unnest(list_transform(range(len(w) - 1),
      |        i -> w[i+1] || ' ' || w[i+2])) AS g
      |      FROM t WHERE len(w) >= 2),
      | a2 AS (SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_2,
      |    CAST(COUNT(*) AS BIGINT) AS total_2 FROM b GROUP BY 1)
      |SELECT source, distinct_1, total_1, distinct_2, total_2,
      |  CAST(1000000 * distinct_1 // total_1 AS BIGINT) AS d1_ppm,
      |  CAST(1000000 * distinct_2 // total_2 AS BIGINT) AS d2_ppm
      |FROM a1 JOIN a2 USING (source) ORDER BY source""".stripMargin

  /** Shared by q245 (batch) and q249 (streaming twin): the SPDX plant,
    * the Java∩RE2 detection pattern, and the strip, restated in
    * DuckDB.
    */
  private val licenseScrubOracle =
    """WITH planted AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN '// SPDX-License-Identifier: ' ||
      |        CASE WHEN (doc_id // 7) % 2 = 0 THEN 'MIT'
      |          ELSE 'Apache-2.0' END || chr(10) || text
      |      ELSE text END AS text
      |  FROM documents WHERE text IS NOT NULL),
      | x AS (SELECT doc_id, text,
      |    regexp_extract(text,
      |      '^// SPDX-License-Identifier: ([A-Za-z0-9.-]+)\n', 1) AS lic,
      |    regexp_replace(text,
      |      '^// SPDX-License-Identifier: ([A-Za-z0-9.-]+)\n', '') AS stripped
      |  FROM planted)
      |SELECT doc_id,
      |  CASE WHEN lic = '' THEN 'none' ELSE lic END AS license,
      |  lic <> '' AS had_header,
      |  CAST(length(text) - length(stripped) AS BIGINT) AS n_chars_stripped,
      |  md5(stripped) AS stripped_md5
      |FROM x ORDER BY doc_id""".stripMargin

  private val piiScrubOracle =
    """WITH t AS (SELECT doc_id,
      |    CASE WHEN doc_id % 25 = 0 THEN text ||
      |      ' contact alice.w@example.org from 10.0.0.1 ref 4111111111111111'
      |    ELSE text END AS text
      |  FROM documents),
      | m AS (SELECT doc_id,
      |    len(regexp_extract_all(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |    len(regexp_extract_all(text,
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
      |    len(regexp_extract_all(text, '\b\d{9,}\b')) AS n_nums,
      |    md5(regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |      '\b\d{9,}\b', '<NUM>', 'g')) AS clean_md5
      |  FROM t)
      |SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
      |  CAST(n_ips AS BIGINT) AS n_ips, CAST(n_nums AS BIGINT) AS n_nums,
      |  clean_md5
      |FROM m WHERE n_emails + n_ips + n_nums > 0 ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q172_postings_phrase_search" -> phraseSearchOracle,
    "q176_postings_append" -> phraseSearchOracle,
    // The phrase search minus the tombstoned split: read-time deletes
    // must be indistinguishable from an index built without those docs.
    "q186_postings_delete" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 5 <> 0),
        | m AS (SELECT doc_id,
        |    CAST(len(list_filter(range(1, len(w)),
        |      i -> w[i] = 'table' AND w[i + 1] = 'part')) AS BIGINT) AS n_occ
        |  FROM t)
        |SELECT doc_id, n_occ FROM m WHERE n_occ > 0
        |ORDER BY doc_id""".stripMargin,
    // The physically-purged index searches exactly like the tombstoned
    // view — q186's oracle verbatim; no CENSUS / NOT_IDEMPOTENT /
    // NOT_BUCKETED / NO_VICTIMS sentinel rows.
    "q390_postings_purge" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 5 <> 0),
        | m AS (SELECT doc_id,
        |    CAST(len(list_filter(range(1, len(w)),
        |      i -> w[i] = 'table' AND w[i + 1] = 'part')) AS BIGINT) AS n_occ
        |  FROM t)
        |SELECT doc_id, n_occ FROM m WHERE n_occ > 0
        |ORDER BY doc_id""".stripMargin,
    "q60_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | base AS (
        |  SELECT doc_id, len(w) AS nw,
        |    CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_word_frac
        |  FROM t),
        | g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(w)-1), i -> w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM t WHERE len(w) >= 2),
        | counts AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1,2),
        | topg AS (SELECT doc_id, MAX(c) AS mc FROM counts GROUP BY 1)
        |SELECT b.doc_id, ROUND(b.dup_word_frac, 6) AS dup_word_frac,
        |  ROUND(COALESCE(CAST(t2.mc AS DOUBLE) / (b.nw - 1), 0.0), 6) AS top_bigram_frac
        |FROM base b LEFT JOIN topg t2 ON b.doc_id = t2.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q27_lang_id" ->
      s"""WITH sc AS (
         |  SELECT doc_id, lang,
         |    ${markerSql("en")} AS s_en, ${markerSql("es")} AS s_es,
         |    ${markerSql("de")} AS s_de, ${markerSql("fr")} AS s_fr
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         |       WHEN s_de >= s_fr THEN 'de'
         |       ELSE 'fr' END AS predicted_lang,
         |  s_en, s_es, s_de, s_fr
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q28_quality_score" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  ROUND(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token,
         |  ROUND(CAST(${markerSql("en")} AS DOUBLE) / len(string_split(text, ' ')), 6) AS stop_ratio,
         |  (len(string_split(text, ' ')) >= 20 AND ${markerSql("en")} > 0) AS keep
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q29_token_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
        |    AS total_subwords,
        |  ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens,
        |  CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q45_split_assign" ->
      """WITH b AS (
        |  SELECT lang, doc_id, (doc_id * 2654435761) % 4294967296 % 100 AS bucket
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS min_id
        |FROM b GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q46_length_quantiles" ->
      """SELECT lang,
        |  ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
        |  ROUND(quantile_cont(n_chars, 0.99), 6) AS p99
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Margins derive from the pair-count model (Σ_w2 nab = na exactly),
    // mirroring the Spark side; the additive log form is the identical
    // expression tree in both engines. LIMIT's order is total
    // (pmi DESC, w1, w2) so ties cannot flip the cut.
    "q101_pmi_collocations" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | b AS (SELECT unnest(list_transform(range(len(w) - 1),
        |         i -> {'w1': w[i+1], 'w2': w[i+2]})) AS g
        |       FROM t WHERE len(w) >= 2),
        | bi AS (SELECT g.w1 AS w1, g.w2 AS w2 FROM b),
        | c2 AS (SELECT w1, w2, COUNT(*) AS nab FROM bi GROUP BY 1, 2),
        | ca AS (SELECT w1, SUM(nab) AS na FROM c2 GROUP BY 1),
        | cb AS (SELECT w2, SUM(nab) AS nb FROM c2 GROUP BY 1),
        | n AS (SELECT SUM(nab) AS n FROM c2),
        | p AS (SELECT w1, w2, nab,
        |        ROUND(LN(nab) + LN(n.n) - LN(na) - LN(nb), 6) AS pmi
        |       FROM c2 JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN n
        |       WHERE nab >= 5)
        |SELECT w1, w2, nab, pmi FROM p
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    // The oracle states the SEMANTICS as the plain window cumsum; the
    // operator's binned two-phase prefix sum must be indistinguishable.
    // CAST the window SUM back to BIGINT: DuckDB widens SUM(BIGINT) to
    // HUGEINT, which reaches the checker as float64 and hash-diverges
    // from Spark's int64 even when every value is equal (q69 likewise).
    "q100_token_budget_cap" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | c AS (SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 2000 ORDER BY doc_id""".stripMargin,
    // Budget arithmetic mirrors temperatureMix exactly: floor(sqrt()) is
    // IEEE-correctly-rounded in both engines, everything else is integer
    // (DuckDB // floor-division == BigInt truncation on non-negatives;
    // SUM(w) is cast back from HUGEINT before dividing).
    "q179_temperature_mix" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | tot AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS total
        |   FROM t GROUP BY 1),
        | w AS (SELECT lang, CAST(FLOOR(SQRT(total)) AS BIGINT) AS w FROM tot),
        | b AS (SELECT lang, CAST(8000 * w //
        |     (SELECT CAST(SUM(w) AS BIGINT) FROM w) AS BIGINT) AS grp_budget
        |   FROM w),
        | c AS (SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t)
        |SELECT c.doc_id, c.lang, c.n_tokens, c.cum_tokens, b.grp_budget
        |FROM c JOIN b USING (lang)
        |WHERE c.cum_tokens <= b.grp_budget ORDER BY c.doc_id""".stripMargin,
    // Stride key restated with the same single IEEE division; ties
    // across groups break by lang, within a group keys strictly
    // increase, so the 100-slot head is a total deterministic order.
    "q183_stride_interleave" ->
      """WITH t AS (SELECT doc_id, lang FROM documents),
        | k AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER
        |    (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS k FROM t),
        | w AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS w FROM t GROUP BY 1),
        | s AS (SELECT k.doc_id, k.lang, k.k, w.w,
        |    CAST(2*k.k - 1 AS DOUBLE) / w.w AS key
        |   FROM k JOIN w USING (lang)),
        | top AS (SELECT * FROM s ORDER BY key, lang LIMIT 100)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY key, lang) AS BIGINT) AS ord,
        |  lang, doc_id, k, w
        |FROM top ORDER BY ord""".stripMargin,
    // q183 with stride weights floor(sqrt(count)) — the IEEE-exact
    // sqrt both engines share (q179's determinism argument).
    "q187_temperature_interleave" ->
      """WITH t AS (SELECT doc_id, lang FROM documents),
        | k AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER
        |    (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS k FROM t),
        | w AS (SELECT lang, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS w
        |   FROM t GROUP BY 1),
        | s AS (SELECT k.doc_id, k.lang, k.k, w.w,
        |    CAST(2*k.k - 1 AS DOUBLE) / w.w AS key
        |   FROM k JOIN w USING (lang)),
        | top AS (SELECT * FROM s ORDER BY key, lang LIMIT 100)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY key, lang) AS BIGINT) AS ord,
        |  lang, doc_id, k, w
        |FROM top ORDER BY ord""".stripMargin,
    // Keep rule: h6(doc,pos)² · cnt ≤ t_ppb · N, restated as
    // h6 ≤ floor(sqrt(t_ppb·N // cnt)) — exact because the argument is
    // < 2^53 and the root is far below the floor(sqrt) rounding hazard
    // (see downsampleFrequentTokens). Same positional hash, 0-based pos.
    "q182_token_downsample" -> tokenDownsampleOracle,
    "q191_stream_token_downsample" -> tokenDownsampleOracle,
    "q110_quality_classifier_gate" ->
      """SELECT CAST(NULL AS DOUBLE) AS accuracy, CAST(NULL AS DOUBLE) AS floor
        |WHERE FALSE""".stripMargin,
    // Referee gate (distributed full-corpus trainer ≡ driver reference,
    // bit-identical weights; + the q110 accuracy floor): empty.
    "q309_quality_model_full" ->
      """SELECT CAST(NULL AS VARCHAR) AS kind,
        |  CAST(NULL AS DOUBLE) AS engine_val, CAST(NULL AS DOUBLE) AS ref_val
        |WHERE FALSE""".stripMargin,
    // FULL hash: the trained classifier must recover every planted
    // label; the oracle restates the plant rule, not the model.
    "q310_langid_hashed" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'en'
        |    WHEN 1 THEN 'es' WHEN 2 THEN 'de' ELSE 'fr' END AS pred_lang
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,
    // FULL hash: flagged rows are exactly the corruption plant — the
    // oracle restates the flip rule, not the model.
    "q322_label_noise_audit" ->
      """SELECT doc_id, CAST((doc_id % 4 + 1) % 4 AS BIGINT) AS observed,
        |  CAST(doc_id % 4 AS BIGINT) AS pred
        |FROM documents WHERE text IS NOT NULL AND doc_id % 17 = 3
        |ORDER BY doc_id""".stripMargin,
    "q117_percentile_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS v,
        |  CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS rank_lt,
        |  CAST(NULL AS BIGINT) AS n_eq
        |WHERE FALSE""".stripMargin,
    // Vocab cut by (cnt DESC, term ASC) rank <= 100, identical on both
    // sides; SUMs cast back to BIGINT (DuckDB HUGEINT widening).
    "q109_oov_rate" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        | tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |        FROM w WHERE term <> '' GROUP BY 1, 2),
        | vc AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY 1),
        | v AS (SELECT term FROM (
        |        SELECT term, ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC)
        |          AS rn FROM vc) WHERE rn <= 100),
        | d AS (SELECT tf.doc_id,
        |        CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |        CAST(SUM(CASE WHEN v.term IS NULL THEN tf.tf ELSE 0 END)
        |          AS BIGINT) AS n_oov
        |       FROM tf LEFT JOIN v USING (term) GROUP BY 1)
        |SELECT doc_id, n_tokens, n_oov,
        |  ROUND(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate
        |FROM d ORDER BY doc_id""".stripMargin,
    "q151_stratified_weighted_sample" ->
      """WITH kk AS (SELECT lang, doc_id,
        |    -ln(((doc_id * 2654435761) % 4294967296 + 1) / 4294967297.0)
        |      / greatest(n_chars, 1) AS es_key
        |  FROM documents),
        | r AS (SELECT lang, doc_id, es_key,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY es_key, doc_id) AS BIGINT) AS rnk
        |  FROM kk)
        |SELECT lang, rnk, doc_id, ROUND(es_key, 9) AS es_key
        |FROM r WHERE rnk <= 25 ORDER BY lang, rnk""".stripMargin,
    "q148_dataset_card" ->
      """WITH d AS (SELECT source, lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  ROUND(SUM(n_chars) / CAST(SUM(n_tok) AS DOUBLE), 6)
        |    AS chars_per_token,
        |  ROUND(AVG(CASE WHEN n_tok >= 100 THEN 1.0 ELSE 0.0 END), 6)
        |    AS pct_long
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q149_shard_balance_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS max_tokens,
        |  CAST(NULL AS BIGINT) AS min_tokens,
        |  CAST(NULL AS DOUBLE) AS ratio, CAST(NULL AS DOUBLE) AS bound
        |WHERE FALSE""".stripMargin,
    "q150_length_quality_corr" ->
      s"""WITH d AS (SELECT lang,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         |    ${markerSql("en")} / CAST(len(string_split(text, ' ')) AS DOUBLE)
         |      AS stop_ratio
         |  FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         |  ROUND(corr(n_tok, stop_ratio), 6) AS len_stop_corr
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q166_kmv_incremental" ->
      """SELECT CAST(NULL AS VARCHAR) AS source,
        |  CAST(NULL AS INTEGER) AS n_inc,
        |  CAST(NULL AS INTEGER) AS n_scratch
        |WHERE FALSE""".stripMargin,
    "q175_stream_vocab_sketch" ->
      """SELECT CAST(NULL AS VARCHAR) AS source,
        |  CAST(NULL AS INTEGER) AS n_stream,
        |  CAST(NULL AS INTEGER) AS n_batch
        |WHERE FALSE""".stripMargin,
    "q165_markup_strip" ->
      """WITH planted AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN '<html><body onload="x()"><p class="a">' || text ||
        |        '</p><script type="text/javascript">var x = 1 < 2;' ||
        |        '</script><style>.a{color:red}</style> Fish &amp; Chips ' ||
        |        '&lt;tag&gt;</body></html>'
        |      ELSE text END AS text
        |  FROM documents),
        | c AS (SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(regexp_replace(text,
        |                  '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |                  '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |                '<[^>]*>', ' ', 'g'),
        |              '&lt;', '<', 'g'),
        |            '&gt;', '>', 'g'),
        |          '&quot;', '"', 'g'),
        |        '&amp;', '&', 'g'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM planted WHERE doc_id % 10 = 0)
        |SELECT doc_id, md5(clean) AS clean_md5,
        |  CAST(length(clean) AS BIGINT) AS n_chars_clean
        |FROM c ORDER BY doc_id""".stripMargin,
    "q164_rendezvous_reshard" ->
      """WITH o AS (SELECT doc_id,
        |    list_max(list_transform(range(0, 8), i ->
        |      ((doc_id * 2654435761) % 2147483648 + 1) *
        |      (((i + 131) * 2654435761) % 2147483648 + 1)
        |      % 1000000007 * 16 + i)) % 16 AS shard8,
        |    list_max(list_transform(range(0, 9), i ->
        |      ((doc_id * 2654435761) % 2147483648 + 1) *
        |      (((i + 131) * 2654435761) % 2147483648 + 1)
        |      % 1000000007 * 16 + i)) % 16 AS shard9,
        |    doc_id % 8 AS mod8, doc_id % 9 AS mod9
        |  FROM documents)
        |SELECT CAST(shard8 AS BIGINT) AS shard8,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_moved,
        |  CAST(SUM(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_moved_mod,
        |  CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS move_frac_ppm,
        |  CAST(SUM(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS move_frac_mod_ppm
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    "q162_source_dup_filter" ->
      """WITH planted AS (
        |  SELECT source, doc_id,
        |    CASE WHEN source IN ('src4', 'src9')
        |      THEN 'template boilerplate page variant ' ||
        |        CAST(doc_id % 3 AS VARCHAR)
        |      ELSE text END AS text
        |  FROM documents),
        | a AS (SELECT source, COUNT(*) AS n_docs,
        |    COUNT(DISTINCT md5(text)) AS n_distinct
        |  FROM planted GROUP BY 1)
        |SELECT source, n_docs, n_distinct,
        |  CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT)
        |    AS dup_rate_ppm,
        |  (n_docs - n_distinct) * 1000000 // n_docs <= 500000 AS kept
        |FROM a ORDER BY source""".stripMargin,
    "q163_rank_fusion" ->
      s"""WITH d AS (SELECT doc_id, n_chars,
        |    CAST(floor(CAST(${markerSql("en")} AS DOUBLE)
        |      / len(string_split(text, ' ')) * 1e6) AS BIGINT) AS sr_q
        |  FROM documents),
        | r AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY sr_q, CAST(doc_id AS VARCHAR))
        |      AS r_stop,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, CAST(doc_id AS VARCHAR))
        |      AS r_len,
        |    COUNT(*) OVER () AS n
        |  FROM d)
        |SELECT doc_id, r_stop, r_len,
        |  ROUND((r_stop + r_len) / (2.0 * n), 6) AS fused
        |FROM r ORDER BY fused DESC, doc_id LIMIT 20""".stripMargin,
    "q159_psi_drift" ->
      """WITH d AS (SELECT lang,
        |    CAST(floor(n_chars / 100.0) AS BIGINT) AS bucket FROM documents),
        | bs AS (SELECT bucket, COUNT(*) AS nb FROM d WHERE lang = 'en'
        |   GROUP BY 1),
        | nb AS (SELECT COUNT(*) AS n_base FROM d WHERE lang = 'en'),
        | cs AS (SELECT lang, bucket, COUNT(*) AS nc FROM d
        |   WHERE lang <> 'en' GROUP BY 1, 2),
        | nc AS (SELECT lang, COUNT(*) AS n_cand FROM d WHERE lang <> 'en'
        |   GROUP BY 1),
        | grid AS (SELECT l.lang, b.bucket
        |   FROM (SELECT DISTINCT lang FROM d WHERE lang <> 'en') l
        |   CROSS JOIN (SELECT DISTINCT bucket FROM d) b),
        | sh AS (SELECT g.lang, g.bucket,
        |    GREATEST(CAST(COALESCE(bs.nb, 0) AS DOUBLE) / nb.n_base,
        |      1e-6) AS p,
        |    GREATEST(CAST(COALESCE(cs.nc, 0) AS DOUBLE) / nc.n_cand,
        |      1e-6) AS q
        |  FROM grid g CROSS JOIN nb
        |  LEFT JOIN bs USING (bucket)
        |  JOIN nc ON g.lang = nc.lang
        |  LEFT JOIN cs ON cs.lang = g.lang AND cs.bucket = g.bucket),
        | t AS (SELECT lang, ROUND(SUM((q - p) * ln(q / p)), 6) AS psi
        |  FROM sh GROUP BY 1)
        |SELECT lang, psi,
        |  CASE WHEN psi < 0.1 THEN 'stable'
        |       WHEN psi < 0.25 THEN 'moderate' ELSE 'action' END AS band
        |FROM t ORDER BY lang""".stripMargin,
    // Sensitivity gate: a planted ×5 'de' length shift must band
    // 'action' and no other language's psi may move — empty.
    "q312_psi_sensitivity" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |  CAST(NULL AS VARCHAR) AS lang
        |WHERE FALSE""".stripMargin,
    "q160_phrase_search" -> phraseSearchOracle,
    "q174_mixed_lang" ->
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 20 = 0
         |      THEN text || '${" el la los de que" * 8}'
         |      ELSE text END AS text
         |  FROM documents),
         | sp AS (SELECT doc_id, string_split(text, ' ') AS w,
         |    (len(string_split(text, ' ')) + 1) // 2 AS k FROM p),
         | h AS (SELECT doc_id,
         |    array_to_string(w[1:k], ' ') AS h1,
         |    array_to_string(w[k+1:len(w)], ' ') AS h2 FROM sp),
         | sc AS (SELECT doc_id,
         |    ${markerSql("en", "h1")} AS a_en, ${markerSql("es", "h1")} AS a_es,
         |    ${markerSql("de", "h1")} AS a_de, ${markerSql("fr", "h1")} AS a_fr,
         |    ${markerSql("en", "h2")} AS b_en, ${markerSql("es", "h2")} AS b_es,
         |    ${markerSql("de", "h2")} AS b_de, ${markerSql("fr", "h2")} AS b_fr
         |  FROM h),
         | v AS (SELECT doc_id,
         |    CASE WHEN a_en >= a_es AND a_en >= a_de AND a_en >= a_fr THEN 'en'
         |         WHEN a_es >= a_de AND a_es >= a_fr THEN 'es'
         |         WHEN a_de >= a_fr THEN 'de' ELSE 'fr' END AS lang_first,
         |    CASE WHEN b_en >= b_es AND b_en >= b_de AND b_en >= b_fr THEN 'en'
         |         WHEN b_es >= b_de AND b_es >= b_fr THEN 'es'
         |         WHEN b_de >= b_fr THEN 'de' ELSE 'fr' END AS lang_second
         |  FROM sc)
         |SELECT doc_id, lang_first, lang_second,
         |  lang_first <> lang_second AS mixed
         |FROM v ORDER BY doc_id""".stripMargin,
    // q106's shard arithmetic + q30's fingerprint recurrence, summed
    // per shard — all exact BIGINT, so the manifest is a full hash gate.
    "q146_shard_manifest" ->
      """WITH h AS (SELECT text,
        |    ((doc_id + 7) * 2654435761) % 4294967296 AS hh FROM documents),
        | f AS (SELECT CAST(hh % 8 AS BIGINT) AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(text) + 1),
        |          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |  FROM h)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(fp) AS BIGINT) AS content_sum
        |FROM f GROUP BY 1 ORDER BY shard""".stripMargin,
    "q147_scrub_idempotence" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id WHERE FALSE""".stripMargin,
    "q106_shard_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |    ((doc_id + 7) * 2654435761) % 4294967296 AS hh FROM documents),
        | s AS (SELECT doc_id, hh % 8 AS shard,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY hh % 8
        |      ORDER BY hh, doc_id) AS BIGINT) AS pos
        |   FROM h)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    // Identical normalization replayed: digits to #, whitespace
    // squeeze, lowercase.
    "q344_template_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    md5(lower(regexp_replace(regexp_replace(
        |      CASE WHEN doc_id % 23 = 7
        |        THEN 'Order ID ' || CAST(doc_id AS VARCHAR)
        |          || '  please process within '
        |          || CAST(doc_id % 9 AS VARCHAR) || ' days'
        |        ELSE text END,
        |      '[0-9]+', '#', 'g'), ' +', ' ', 'g'))) AS tpl_md5
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT tpl_md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc
        |FROM t GROUP BY 1 HAVING COUNT(*) > 1
        |ORDER BY tpl_md5""".stripMargin,
    // Chunk arithmetic + hash-bucket pairing restated; singleton-chunk
    // docs drop, self-negatives (singleton buckets) drop.
    "q341_contrastive_triplets" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents WHERE text IS NOT NULL),
        | ch AS (SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_no,
        |    md5(array_to_string(ws[start + 1 : LEAST(start + 32, n)], ' '))
        |      AS chunk_md5
        |  FROM (SELECT doc_id, ws, n,
        |      unnest(generate_series(0, CAST(n - 1 AS BIGINT), 24))
        |        AS start FROM d)),
        | nc AS (SELECT doc_id, MAX(chunk_no) + 1 AS n_chunks
        |   FROM ch GROUP BY 1),
        | hd AS (SELECT ch.doc_id, ch.chunk_md5 AS head_md5,
        |    (ch.doc_id * 2654435761) % 4294967296 AS h,
        |    (ch.doc_id * 2654435761) % 4294967296 % 64 AS bucket
        |  FROM ch WHERE ch.chunk_no = 0),
        | ng AS (SELECT doc_id,
        |    COALESCE(LEAD(doc_id) OVER wb, FIRST_VALUE(doc_id) OVER wf)
        |      AS neg_doc_id,
        |    COALESCE(LEAD(head_md5) OVER wb,
        |      FIRST_VALUE(head_md5) OVER wf) AS neg_md5
        |  FROM hd WINDOW
        |    wb AS (PARTITION BY bucket ORDER BY h, doc_id),
        |    wf AS (PARTITION BY bucket ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT a.doc_id, a.chunk_no, a.chunk_md5 AS anchor_md5,
        |  p.chunk_md5 AS pos_md5, ng.neg_doc_id, ng.neg_md5
        |FROM ch a
        |JOIN nc ON a.doc_id = nc.doc_id AND a.chunk_no < nc.n_chunks - 1
        |JOIN ch p ON p.doc_id = a.doc_id AND p.chunk_no = a.chunk_no + 1
        |JOIN ng ON ng.doc_id = a.doc_id
        |WHERE ng.neg_doc_id <> a.doc_id
        |ORDER BY a.doc_id, a.chunk_no""".stripMargin,
    // The same hash, span islands, and sentinel layout restated;
    // string_agg skips the NULL continuation pieces exactly as the
    // engine's filter does, and an unmasked doc's empty target
    // coalesces to md5('').
    "q337_span_corruption" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents WHERE text IS NOT NULL),
        | t AS (SELECT doc_id, i, ws[i] AS tok,
        |    CASE WHEN (((doc_id * 100003 + i) % 3000000000)
        |      * 2654435761) % 4294967296 % 100 < 15
        |      THEN 1 ELSE 0 END AS flag
        |  FROM (SELECT doc_id, ws,
        |      unnest(generate_series(1, CAST(n AS BIGINT))) AS i FROM d)),
        | b AS (SELECT *, CASE WHEN flag = 1 AND COALESCE(LAG(flag)
        |      OVER (PARTITION BY doc_id ORDER BY i), 0) = 0
        |    THEN 1 ELSE 0 END AS brk FROM t),
        | sp AS (SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY i)
        |    AS span_id FROM b)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(flag) AS BIGINT) AS n_masked,
        |  CAST(SUM(brk) AS BIGINT) AS n_spans,
        |  md5(COALESCE(string_agg(CASE WHEN flag = 0 THEN tok
        |    WHEN brk = 1 THEN '<extra_id_' || CAST(span_id - 1 AS VARCHAR)
        |      || '>' END, ' ' ORDER BY i), '')) AS input_md5,
        |  md5(COALESCE(string_agg(CASE WHEN flag = 1 THEN
        |    CASE WHEN brk = 1 THEN '<extra_id_'
        |      || CAST(span_id - 1 AS VARCHAR) || '> ' || tok
        |    ELSE tok END END, ' ' ORDER BY i), '')) AS target_md5
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q336 is q73's projection at the ingestion door.
    "q336_stream_chunks" -> tokenChunksOracle,
    // Losslessness: the oracle does not restate the chunker at all —
    // reconstruction must reproduce the original text bytes.
    "q335_chunk_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    // The digest restated (same canonical key, same 60-bit md5 cut,
    // same Mersenne modulus); no MERGE: rows. The streaming twin q330
    // drains the same census.
    "q329_dataset_digest" -> datasetDigestOracle,
    "q330_stream_digest" -> datasetDigestOracle,
    // The whole derandomized bootstrap restated: same hash, same exact
    // Poisson CDF cut points, same integer milli means, same order
    // statistics.
    "q328_bootstrap_ci" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents
        |    WHERE n_chars IS NOT NULL),
        | rep AS (SELECT d.source AS g, d.doc_id, d.n_chars, bb.b
        |   FROM d CROSS JOIN
        |     (SELECT unnest(generate_series(0, 63)) AS b) bb),
        | ww AS (SELECT g, b, n_chars,
        |    (CASE WHEN u >= 1580030168 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 3160060337 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 3950075421 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 4213413783 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 4279248373 THEN 1 ELSE 0 END) AS w
        |   FROM (SELECT g, b, n_chars,
        |      ((doc_id * 64 + b + 1) * 2654435761) % 4294967296 AS u
        |     FROM rep)),
        | m AS (SELECT g, b, SUM(w * n_chars) AS sv, SUM(w) AS sw
        |   FROM ww GROUP BY 1, 2),
        | mm AS (SELECT g, b, (1000 * sv) // sw AS mean_milli
        |   FROM m WHERE sw > 0),
        | r AS (SELECT g, b, mean_milli,
        |    ROW_NUMBER() OVER (PARTITION BY g
        |      ORDER BY mean_milli, b) AS rnk,
        |    COUNT(*) OVER (PARTITION BY g) AS n_b FROM mm)
        |SELECT g AS source, CAST(MAX(n_b) AS BIGINT) AS n_reps,
        |  CAST(MAX(CASE WHEN rnk = 2 THEN mean_milli END) AS BIGINT)
        |    AS lo_milli,
        |  CAST(MAX(CASE WHEN rnk = n_b - 1 THEN mean_milli END) AS BIGINT)
        |    AS hi_milli
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // Planted text restated; counts via split on lower(text) — the
    // patterns are borderless, so split's non-overlapping count is the
    // total occurrence count the kernel reports.
    "q326_blocklist_census" ->
      """WITH p AS (SELECT doc_id,
        |    lower(CASE WHEN doc_id % 7 = 2
        |        THEN text || ' Buy cheap now buy CHEAP now'
        |      WHEN doc_id % 11 = 5
        |        THEN text || ' casino jackpot free win free win'
        |      ELSE text END) AS t
        |  FROM documents WHERE text IS NOT NULL),
        | c AS (SELECT doc_id,
        |    CAST(len(string_split(t, 'buy cheap')) - 1 AS BIGINT)
        |      AS n_buy_cheap,
        |    CAST(len(string_split(t, 'cheap now')) - 1 AS BIGINT)
        |      AS n_cheap_now,
        |    CAST(len(string_split(t, 'casino jackpot')) - 1 AS BIGINT)
        |      AS n_casino,
        |    CAST(len(string_split(t, 'free win')) - 1 AS BIGINT)
        |      AS n_free_win
        |  FROM p)
        |SELECT * FROM c
        |WHERE n_buy_cheap + n_cheap_now + n_casino + n_free_win > 0
        |ORDER BY doc_id""".stripMargin,
    // Hash order + window cumsum + floor-divide step, restated; `//` is
    // DuckDB's integer floor division (operands non-negative, so it
    // agrees with Spark's `div`).
    "q324_resume_slice" ->
      """WITH h AS (SELECT doc_id, n_chars,
        |    (doc_id * 2654435761) % 4294967296 AS pos
        |  FROM documents WHERE n_chars IS NOT NULL),
        | c AS (SELECT doc_id, n_chars,
        |    COALESCE(SUM(n_chars) OVER (ORDER BY pos, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM h)
        |SELECT doc_id, CAST(cum_before // 2000 AS BIGINT) AS step,
        |  CAST(cum_before AS BIGINT) AS cum_before
        |FROM c WHERE cum_before // 2000 >= 5 ORDER BY doc_id""".stripMargin,
    // The oracle re-plants the same PII suffix and runs the same
    // Java∩RE2 patterns through RE2; md5 of the redacted text makes the
    // hash gate validate the exact redaction bytes, not just counts.
    "q104_pii_scrub" -> piiScrubOracle,
    // The streaming scrub drains to the same flagged set on bounded
    // input - one oracle for both execution modes.
    "q185_stream_pii_scrub" -> piiScrubOracle,
    // Same interpolation definition both engines (q46 gates it); the
    // band compare runs on the identical doubles, so the boundary
    // rows resolve identically.
    "q98_adaptive_length_filter" ->
      """WITH b AS (SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
        |             quantile_cont(n_chars, 0.95) AS hi
        |           FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN b USING (lang)
        |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
        |ORDER BY d.doc_id""".stripMargin,
    // ln on both sides; DuckDB's `/` on integers is already double
    // division. Ranking orders by the ROUNDED score in both engines so
    // the term-asc tiebreak resolves identically.
    "q72_tfidf_topterms" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM w WHERE term <> '' GROUP BY 1, 2),
        | dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        | n AS (SELECT COUNT(*) AS n_docs FROM documents),
        | sc AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    ROUND(tf.tf * (ln((n.n_docs + 1) / (dfreq.df + 1)) + 1), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        | r AS (
        |  SELECT doc_id, term, tf, df, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
        |  FROM sc)
        |SELECT doc_id, rnk, term, tf, df, tfidf
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    // `//` for integer division (DuckDB `/` promotes to double);
    // range() excludes the stop like Spark's sequence(0, nw-1, S);
    // list slices are 1-based inclusive like Spark's slice().
    "q73_token_chunks" -> tokenChunksOracle,
    "q75_vocab_head" ->
      """WITH tf AS (
        |  SELECT term, COUNT(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> '' GROUP BY 1),
        | t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM tf),
        | r AS (SELECT term, cnt,
        |         ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rnk FROM tf)
        |SELECT rnk, term, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / (SELECT total FROM t), 6) AS share
        |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    "q79_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | b AS (SELECT doc_id,
        |         unnest(list_transform(range(len(w) - 1),
        |           i -> {'w1': w[i+1], 'w2': w[i+2]})) AS g
        |       FROM t WHERE len(w) >= 2),
        | bi AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM b),
        | c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
        | c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
        | v AS (SELECT COUNT(*) AS vctx FROM c1)
        |SELECT bi.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(ln((c2.c2 + 1) / (c1.c1 + v.vctx))), 6) AS avg_logp
        |FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |GROUP BY bi.doc_id ORDER BY bi.doc_id""".stripMargin,
    // Interpolated Kneser–Ney restated: discount 0.75, forward/backward
    // continuation counts and the bigram-type total all from the c2
    // relation, exactly as the engine derives them.
    "q235_kn_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | b AS (SELECT doc_id,
        |         unnest(list_transform(range(len(w) - 1),
        |           i -> {'w1': w[i+1], 'w2': w[i+2]})) AS g
        |       FROM t WHERE len(w) >= 2),
        | bi AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM b),
        | c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
        | l AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1f FROM c2 GROUP BY 1),
        | r AS (SELECT w2, COUNT(*) AS n1b FROM c2 GROUP BY 1),
        | bt AS (SELECT COUNT(*) AS b FROM c2)
        |SELECT bi.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(ln((c2.c2 - 0.75) / l.c1
        |    + 0.75 * l.n1f / l.c1 * r.n1b / bt.b)), 6) AS avg_logp_kn
        |FROM bi JOIN c2 USING (w1, w2) JOIN l USING (w1) JOIN r USING (w2)
        |  CROSS JOIN bt
        |GROUP BY bi.doc_id ORDER BY bi.doc_id""".stripMargin,
    // Both assembly policies restated as windows over the shard hash.
    "q242_batch_padding" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    (doc_id * 2654435761) % 4294967296 % 16 AS shard
        |  FROM documents WHERE text IS NOT NULL),
        | a AS (SELECT 'arrival' AS policy, shard, doc_id, n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        |  FROM d
        |  UNION ALL
        |  SELECT 'sorted', shard, doc_id, n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY shard
        |      ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM d)
        |SELECT policy, CAST(shard AS BIGINT) AS shard,
        |  CAST((rn - 1) // 8 AS BIGINT) AS batch_no,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MAX(n_tokens) AS BIGINT) AS max_len,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_len,
        |  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
        |    AS pad_tokens
        |FROM a GROUP BY 1, 2, 3 ORDER BY policy, shard, batch_no""".stripMargin,
    // The rank/group windows and inward pairing restated; score from
    // the same stop-hit regex as q28.
    "q241_preference_pairs" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    1000 * ${markerSql("en")}
         |      + len(string_split(text, ' ')) AS score
         |  FROM documents WHERE text IS NOT NULL),
         | r AS (SELECT doc_id, lang, n_tokens // 32 AS bucket, score,
         |    ROW_NUMBER() OVER (PARTITION BY lang, n_tokens // 32
         |      ORDER BY score DESC, doc_id) AS rnk,
         |    COUNT(*) OVER (PARTITION BY lang, n_tokens // 32) AS g
         |  FROM d)
         |SELECT a.lang, CAST(a.bucket AS BIGINT) AS bucket,
         |  CAST(a.rnk AS BIGINT) AS pair_no,
         |  a.doc_id AS chosen_id, b.doc_id AS rejected_id,
         |  CAST(a.score - b.score AS BIGINT) AS margin
         |FROM r a JOIN r b ON a.lang = b.lang AND a.bucket = b.bucket
         |  AND b.rnk = a.g + 1 - a.rnk
         |WHERE a.rnk <= a.g // 2 AND a.score > b.score
         |ORDER BY a.lang, a.bucket, pair_no""".stripMargin,
    // The mask rule restated: hash starts/lengths, 3-position bounded
    // lookback for coverage, LAG islands, ordered list_reduce for the
    // position hash (q229's fold pattern).
    "q240_span_corruption" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n
        |  FROM documents WHERE text IS NOT NULL),
        | pp AS (SELECT doc_id, n, unnest(range(0, n)) AS p FROM t),
        | hh AS (SELECT doc_id, n, p,
        |    (doc_id*1000003 + p*7919) % 1000000007 AS h1 FROM pp),
        | c AS (SELECT a.doc_id, a.n, a.p,
        |    MAX(CASE WHEN b.h1 % 20 = 0
        |      AND 1 + (b.h1 // 20) % 3 > a.p - b.p THEN 1 ELSE 0 END) AS cov
        |  FROM hh a JOIN hh b ON a.doc_id = b.doc_id
        |    AND b.p BETWEEN a.p - 2 AND a.p
        |  GROUP BY 1, 2, 3),
        | i AS (SELECT doc_id, n, p, cov,
        |    LAG(cov, 1, 0) OVER (PARTITION BY doc_id ORDER BY p) AS pcov
        |  FROM c)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
        |  CAST(SUM(cov) AS BIGINT) AS n_masked,
        |  CAST(SUM(CASE WHEN cov = 1 AND pcov = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_spans,
        |  CAST(1000000 * SUM(cov) // MAX(n) AS BIGINT) AS mask_ppm,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list(p ORDER BY p) FILTER (cov = 1)),
        |    (a, v) -> (a * 131 + v) % 1000000007) AS BIGINT) AS mask_hash
        |FROM i GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Per-language terciles of the KN score, rounded-score ordering
    // with doc_id tiebreak (the determinism contract above).
    "q236_ppl_buckets" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | b AS (SELECT doc_id,
        |         unnest(list_transform(range(len(w) - 1),
        |           i -> {'w1': w[i+1], 'w2': w[i+2]})) AS g
        |       FROM t WHERE len(w) >= 2),
        | bi AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM b),
        | c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
        | l AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1f FROM c2 GROUP BY 1),
        | r AS (SELECT w2, COUNT(*) AS n1b FROM c2 GROUP BY 1),
        | bt AS (SELECT COUNT(*) AS b FROM c2),
        | s AS (SELECT bi.doc_id, COUNT(*) AS n_bigrams,
        |    ROUND(AVG(ln((c2.c2 - 0.75) / l.c1
        |      + 0.75 * l.n1f / l.c1 * r.n1b / bt.b)), 6) AS avg_logp_kn
        |  FROM bi JOIN c2 USING (w1, w2) JOIN l USING (w1) JOIN r USING (w2)
        |    CROSS JOIN bt
        |  GROUP BY bi.doc_id),
        | k AS (SELECT d.doc_id, d.lang, s.avg_logp_kn,
        |    NTILE(3) OVER (PARTITION BY d.lang
        |      ORDER BY s.avg_logp_kn DESC, d.doc_id) AS tercile
        |  FROM documents d JOIN s ON d.doc_id = s.doc_id)
        |SELECT doc_id, lang, avg_logp_kn, CAST(tercile AS BIGINT) AS tercile,
        |  CASE WHEN tercile = 1 THEN 'head' WHEN tercile = 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM k ORDER BY doc_id""".stripMargin,
    "q77_cms_bound_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS term, CAST(NULL AS BIGINT) AS exact_cnt,
        |  CAST(NULL AS BIGINT) AS est_cnt, CAST(NULL AS BIGINT) AS slack
        |WHERE FALSE""".stripMargin,
    "q154_mg_heavy_hitters_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS term,
        |  CAST(NULL AS BIGINT) AS exact_cnt, CAST(NULL AS BIGINT) AS est_cnt,
        |  CAST(NULL AS BIGINT) AS err_bound
        |WHERE FALSE""".stripMargin,
    "q157_kmv_overlap_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS src_a,
        |  CAST(NULL AS VARCHAR) AS src_b, CAST(NULL AS BIGINT) AS exact_v,
        |  CAST(NULL AS DOUBLE) AS est_v, CAST(NULL AS DOUBLE) AS slack
        |WHERE FALSE""".stripMargin,
    "q76_stratified_sample" ->
      """WITH b AS (
        |  SELECT lang, doc_id, (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents),
        | r AS (SELECT lang, doc_id, h,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY h DESC, doc_id) AS rnk FROM b)
        |SELECT lang, rnk, doc_id, CAST(h AS BIGINT) AS h
        |FROM r WHERE rnk <= 25 ORDER BY lang, rnk""".stripMargin,
    "q70_mixture_resample" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1),
        | m AS (SELECT MIN(n_lang) AS mn FROM c)
        |SELECT d.lang, d.doc_id
        |FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN m
        |WHERE ((d.doc_id * 2654435761) % 4294967296) * c.n_lang
        |      < 4294967296 * m.mn
        |ORDER BY 1, 2""".stripMargin,
    // The greedy packing recurrence (reset-on-overflow running sum) has
    // no window-function form; the oracle walks it with a recursive CTE
    // over the per-language rank.
    // q163's fused ranks + q179's budget arithmetic, spent best-first.
    "q197_quality_temperature_mix" ->
      s"""WITH d AS (SELECT doc_id, lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(floor(CAST(${markerSql("en")} AS DOUBLE)
        |      / len(string_split(text, ' ')) * 1e6) AS BIGINT) AS sr_q
        |  FROM documents),
        | r AS (SELECT doc_id, lang, n_tokens,
        |    ROW_NUMBER() OVER (ORDER BY sr_q, CAST(doc_id AS VARCHAR))
        |      AS r_stop,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, CAST(doc_id AS VARCHAR))
        |      AS r_len
        |  FROM d),
        | k AS (SELECT doc_id, lang, n_tokens,
        |    -(r_stop + r_len) * 1048576 + doc_id AS okey FROM r),
        | tot AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS total
        |   FROM k GROUP BY 1),
        | w2 AS (SELECT lang, CAST(FLOOR(SQRT(total)) AS BIGINT) AS w FROM tot),
        | b2 AS (SELECT lang, CAST(8000 * w //
        |     (SELECT CAST(SUM(w) AS BIGINT) FROM w2) AS BIGINT) AS grp_budget
        |   FROM w2),
        | c2 AS (SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY okey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM k)
        |SELECT c2.doc_id, c2.lang, c2.n_tokens, c2.cum_tokens, b2.grp_budget
        |FROM c2 JOIN b2 USING (lang)
        |WHERE c2.cum_tokens <= b2.grp_budget ORDER BY c2.doc_id""".stripMargin,
    // Same replication arithmetic; lateral generate_series fans copies.
    "q201_balanced_oversample" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang
        |   FROM documents GROUP BY 1),
        | m AS (SELECT CAST(MAX(n_lang) AS BIGINT) AS max_n FROM c),
        | k AS (SELECT d.doc_id, d.lang,
        |    CAST((SELECT max_n FROM m) // c.n_lang
        |      + CASE WHEN ((d.doc_id * 2654435761) % 4294967296) % c.n_lang
        |          < (SELECT max_n FROM m) % c.n_lang THEN 1 ELSE 0 END
        |      AS BIGINT) AS copies
        |  FROM documents d JOIN c USING (lang))
        |SELECT k.doc_id, k.lang,
        |  CAST(unnest(range(1, k.copies + 1)) AS BIGINT) AS copy_no
        |FROM k ORDER BY doc_id, copy_no""".stripMargin,
    // Referee gate (distributed profile ≡ driver reference): empty.
    "q199_fertility_by_lang" ->
      """SELECT CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS n_docs,
        |  CAST(NULL AS BIGINT) AS sum_words, CAST(NULL AS BIGINT) AS sum_subwords,
        |  CAST(NULL AS DOUBLE) AS fertility, CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    // Streaming ≡ batch empty-diff on the bounded drain.
    "q198_stream_bpe_tokenize" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_words,
        |  CAST(NULL AS BIGINT) AS n_subwords, CAST(NULL AS DOUBLE) AS fertility,
        |  CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    // Referee gate (distributed tokenize ≡ driver reference): empty.
    "q195_bpe_tokenize_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_words,
        |  CAST(NULL AS BIGINT) AS n_subwords, CAST(NULL AS DOUBLE) AS fertility,
        |  CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    // The boundary map restated with a plain cumulative window — what
    // the binned prefix sum must be indistinguishable from. All
    // integers; n_tokens >= 1 always (whitespace split of non-null
    // text), so the NULL-window branch never fires here.
    "q226_context_windows" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        | c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_tok
        |  FROM t)
        |SELECT doc_id, n_tokens, start_tok,
        |  CAST(start_tok // 512 AS BIGINT) AS first_window,
        |  CAST((start_tok + n_tokens - 1) // 512 AS BIGINT) AS last_window,
        |  CAST((start_tok + n_tokens - 1) // 512 - start_tok // 512 + 1
        |    AS BIGINT) AS n_windows
        |FROM c ORDER BY doc_id""".stripMargin,
    // Two independent NFC implementations (JDK Normalizer vs DuckDB)
    // must agree byte-for-byte on the planted decomposed text.
    "q212_nfc_normalize" ->
      """WITH planted AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN text || ' cafe' || chr(769) || ' franc' || chr(807)
        |        || 'ais'
        |      ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, md5(nfc_normalize(text)) AS nfc_md5,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
        |  CAST(length(text) AS BIGINT) AS n_chars_raw,
        |  length(nfc_normalize(text)) <> length(text) AS changed
        |FROM planted ORDER BY doc_id""".stripMargin,
    "q210_gopher_rules" ->
      s"""WITH planted AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text ||
        |      ' ## ### 12345 67890 ... 00 11 22 33 44 55 66 77'
        |      ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        | b AS (SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    ${markerSql("en")} AS stop_hits,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((length(text) - length(replace(text, '...', ''))) // 3
        |      AS BIGINT) AS n_ellipsis,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words
        |  FROM planted),
        | c AS (SELECT *,
        |    CAST((length(text) - n_words + 1) * 1000000 // n_words
        |      AS BIGINT) AS mwl_ppm,
        |    CAST((n_hash + n_ellipsis) * 1000000 // n_words AS BIGINT)
        |      AS sym_ppm,
        |    CAST(n_alpha_words * 1000000 // n_words AS BIGINT) AS alpha_ppm
        |  FROM b)
        |SELECT doc_id, n_words, mwl_ppm, sym_ppm, alpha_ppm, stop_hits,
        |  n_words >= 20 AND n_words <= 100000 AS r_wordcount,
        |  mwl_ppm BETWEEN 3000000 AND 10000000 AS r_meanlen,
        |  sym_ppm <= 100000 AS r_symbols,
        |  alpha_ppm >= 800000 AS r_alpha,
        |  stop_hits >= 2 AS r_stopwords,
        |  (n_words >= 20 AND n_words <= 100000)
        |    AND (mwl_ppm BETWEEN 3000000 AND 10000000)
        |    AND sym_ppm <= 100000 AND alpha_ppm >= 800000
        |    AND stop_hits >= 2 AS keep
        |FROM c ORDER BY doc_id""".stripMargin,
    // The pseudonymization rebuild restated: RE2 splits/extracts with
    // the same pattern, tokens re-derive per match, md5 over the
    // re-interleaved text must agree with the engine byte-for-byte.
    "q219_pseudonymize" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 1 THEN text || ' contact user'
        |      || CAST(doc_id % 7 AS VARCHAR) || '@example.com or user'
        |      || CAST((doc_id + 3) % 7 AS VARCHAR) || '@example.org'
        |    ELSE text END AS t
        |  FROM documents WHERE text IS NOT NULL),
        | r AS (SELECT doc_id, t,
        |    regexp_split_to_array(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS segs,
        |    regexp_extract_all(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS m
        |  FROM p)
        |SELECT doc_id,
        |  md5(COALESCE(array_to_string(list_transform(range(1, len(m) + 1),
        |      i -> segs[i] || '<EMAIL:' || substr(md5(m[i]), 1, 8) || '>'),
        |    ''), '') || segs[len(m) + 1]) AS pseudo_md5,
        |  CAST(len(m) AS BIGINT) AS n_emails
        |FROM r ORDER BY doc_id""".stripMargin,
    // q215 runs the distributed anti-join regime over the SAME planted
    // fixture — the oracle is q211's verbatim: both regimes must clean
    // identically.
    "q215_line_dedup_antijoin" ->
      """WITH p1 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || chr(10) ||
        |      'subscribe to our newsletter today' ELSE text END AS t1
        |  FROM documents WHERE text IS NOT NULL),
        | p2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN t1 || chr(10) ||
        |      'all rights reserved' ELSE t1 END AS text FROM p1),
        | t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM p2),
        | e AS (SELECT doc_id, k, ls[k] AS line
        |  FROM t, unnest(range(1, len(ls) + 1)) AS u(k)
        |  WHERE ls[k] <> ''),
        | dfc AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM e
        |  GROUP BY 1),
        | kept AS (SELECT doc_id, k, line FROM e
        |  WHERE line NOT IN (SELECT line FROM dfc WHERE df >= 5)),
        | agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY k)
        |    AS clean_text, COUNT(*) AS n_kept FROM kept GROUP BY 1),
        | base AS (SELECT doc_id,
        |    len(list_filter(ls, x -> x <> '')) AS n_lines FROM t)
        |SELECT b.doc_id, md5(COALESCE(a.clean_text, '')) AS clean_md5,
        |  CAST(length(COALESCE(a.clean_text, '')) AS BIGINT)
        |    AS n_chars_clean,
        |  CAST(b.n_lines - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    "q211_line_dedup" ->
      """WITH p1 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || chr(10) ||
        |      'subscribe to our newsletter today' ELSE text END AS t1
        |  FROM documents WHERE text IS NOT NULL),
        | p2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN t1 || chr(10) ||
        |      'all rights reserved' ELSE t1 END AS text FROM p1),
        | t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM p2),
        | e AS (SELECT doc_id, k, ls[k] AS line
        |  FROM t, unnest(range(1, len(ls) + 1)) AS u(k)
        |  WHERE ls[k] <> ''),
        | dfc AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM e
        |  GROUP BY 1),
        | kept AS (SELECT doc_id, k, line FROM e
        |  WHERE line NOT IN (SELECT line FROM dfc WHERE df >= 5)),
        | agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY k)
        |    AS clean_text, COUNT(*) AS n_kept FROM kept GROUP BY 1),
        | base AS (SELECT doc_id,
        |    len(list_filter(ls, x -> x <> '')) AS n_lines FROM t)
        |SELECT b.doc_id, md5(COALESCE(a.clean_text, '')) AS clean_md5,
        |  CAST(length(COALESCE(a.clean_text, '')) AS BIGINT)
        |    AS n_chars_clean,
        |  CAST(b.n_lines - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    // Streaming ≡ batch empty-diff on the bounded drain.
    "q209_stream_unigram_tokenize" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_words,
        |  CAST(NULL AS BIGINT) AS n_pieces, CAST(NULL AS DOUBLE) AS fertility,
        |  CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    // Referee gates (distributed unigram-LM ≡ driver reference): empty.
    "q205_unigram_learn_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS piece, CAST(NULL AS BIGINT) AS cnt_q,
        |  CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    "q206_unigram_tokenize_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_words,
        |  CAST(NULL AS BIGINT) AS n_pieces, CAST(NULL AS DOUBLE) AS fertility,
        |  CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    "q207_unigram_fertility" ->
      """SELECT CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS n_docs,
        |  CAST(NULL AS BIGINT) AS sum_words, CAST(NULL AS BIGINT) AS sum_pieces,
        |  CAST(NULL AS DOUBLE) AS fertility, CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    // Referee gate (distributed learner ≡ driver reference): empty.
    "q194_bpe_merges_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS merge_rank,
        |  CAST(NULL AS VARCHAR) AS "left", CAST(NULL AS VARCHAR) AS "right",
        |  CAST(NULL AS BIGINT) AS pair_count, CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    // Referee gate (batched learner ≡ batched driver reference): empty.
    "q308_bpe_batched_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS merge_rank,
        |  CAST(NULL AS BIGINT) AS round,
        |  CAST(NULL AS VARCHAR) AS "left", CAST(NULL AS VARCHAR) AS "right",
        |  CAST(NULL AS BIGINT) AS pair_count, CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    // q106's shard/pos arithmetic + q69's recursive packing walk, per
    // shard in shuffle order.
    "q193_epoch_packing" ->
      """WITH RECURSIVE b AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ((doc_id + 7) * 2654435761) % 4294967296 AS h
        |  FROM documents),
        | sh AS (SELECT doc_id, n_tokens, h % 4 AS shard,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY h % 4 ORDER BY h, doc_id)
        |      AS BIGINT) AS pos
        |  FROM b),
        | p AS (
        |  SELECT shard, pos, doc_id, n_tokens,
        |    n_tokens AS fill, CAST(1 AS BIGINT) AS seq_no
        |  FROM sh WHERE pos = 1
        |  UNION ALL
        |  SELECT s2.shard, s2.pos, s2.doc_id, s2.n_tokens,
        |    CASE WHEN p.fill + s2.n_tokens > 256 THEN s2.n_tokens
        |         ELSE p.fill + s2.n_tokens END,
        |    CASE WHEN p.fill + s2.n_tokens > 256 THEN p.seq_no + 1
        |         ELSE p.seq_no END
        |  FROM p JOIN sh s2 ON s2.shard = p.shard AND s2.pos = p.pos + 1)
        |SELECT CAST(shard AS BIGINT) AS shard, pos, doc_id, n_tokens, seq_no
        |FROM p ORDER BY shard, pos""".stripMargin,
    "q69_seq_packing" ->
      """WITH RECURSIVE t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        | p AS (
        |  SELECT lang, doc_id, n_tokens, rn,
        |    n_tokens AS fill, CAST(1 AS BIGINT) AS seq_no
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.lang, t.doc_id, t.n_tokens, t.rn,
        |    CASE WHEN p.fill + t.n_tokens > 256 THEN t.n_tokens
        |         ELSE p.fill + t.n_tokens END,
        |    CASE WHEN p.fill + t.n_tokens > 256 THEN p.seq_no + 1
        |         ELSE p.seq_no END
        |  FROM p JOIN t ON t.lang = p.lang AND t.rn = p.rn + 1)
        |SELECT lang, doc_id, n_tokens, seq_no
        |FROM p ORDER BY lang, doc_id""".stripMargin,
    // Same exact-integer hash → one double division → -ln(u)/w; the
    // rank orders UNROUNDED keys (continuous, cross-engine-identical
    // arithmetic) with the doc_id tiebreak; only the output key is
    // rounded.
    "q130_weighted_sample" ->
      """WITH k AS (SELECT doc_id, lang, n_chars,
        |    -ln(((doc_id * 2654435761) % 4294967296 + 1) / 4294967297.0)
        |      / greatest(n_chars, 1) AS es_key
        |  FROM documents),
        | r AS (SELECT doc_id, lang, n_chars, es_key,
        |    CAST(ROW_NUMBER() OVER (ORDER BY es_key, doc_id) AS BIGINT)
        |      AS sample_rank
        |  FROM k)
        |SELECT sample_rank, doc_id, lang, n_chars,
        |  ROUND(es_key, 9) AS es_key
        |FROM r WHERE sample_rank <= 200 ORDER BY sample_rank""".stripMargin,
    // Single-window statement of the decile rank (the operator's
    // two-phase form must be indistinguishable); the score is the same
    // regexp marker count over the same planted text, and the rank
    // tiebreak (score, doc_id) makes the bucketing fully deterministic.
    "q129_lift_curve" ->
      """WITH planted AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' lorem ipsum dolor sit amet lorem ipsum'
        |      ELSE text END AS text
        |  FROM documents),
        | f AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '\b(lorem|ipsum|dolor|sit|amet)\b')) AS DOUBLE)
        |      / greatest(len(string_split(text, ' ')), 1) AS score,
        |    CAST(doc_id % 3 = 0 AS BIGINT) AS label
        |  FROM planted),
        | r AS (SELECT score, label,
        |    CAST(ROW_NUMBER() OVER (ORDER BY score, doc_id) AS BIGINT) AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM f)
        |SELECT ((rk - 1) * 10) // n + 1 AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  ROUND(AVG(score), 6) AS mean_score,
        |  ROUND(AVG(CAST(label AS DOUBLE)), 6) AS pos_rate
        |FROM r GROUP BY 1 ORDER BY decile""".stripMargin,
    "q128_temperature_mixture" ->
      """WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        | tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per),
        | sc AS (SELECT source, n_docs, n_tokens,
        |          n_tokens / CAST(tot AS DOUBLE) AS p,
        |          pow(n_tokens / CAST(tot AS DOUBLE), 0.3) AS pa
        |        FROM per CROSS JOIN tot),
        | z AS (SELECT SUM(pa) AS z FROM sc)
        |SELECT source, n_docs, n_tokens, ROUND(p, 6) AS p_share,
        |  ROUND(pa / z.z, 6) AS q_temp, ROUND((pa / z.z) / p, 6) AS boost
        |FROM sc CROSS JOIN z ORDER BY source""".stripMargin,
    // Mirrors the engine's split of rounding: the per-token log ratios
    // are exact doubles, only the per-doc AVG is 6dp-rounded before the
    // > 0 keep test, so boundary decisions agree across engines.
    "q123_dsir_resample" ->
      """WITH toks AS (SELECT doc_id, lang, source, (source = 'src0') AS in_tgt,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        | tk AS (SELECT * FROM toks WHERE term <> ''),
        | c AS (SELECT term,
        |         CAST(SUM(CASE WHEN in_tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |         CAST(SUM(CASE WHEN in_tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
        |       FROM tk GROUP BY 1),
        | t AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
        |         CAST(SUM(cr) AS BIGINT) AS tr, COUNT(*) AS v FROM c),
        | lm AS (SELECT term,
        |          ln((ct + 1) / CAST(tt + v AS DOUBLE))
        |            - ln((cr + 1) / CAST(tr + v AS DOUBLE)) AS log_ratio
        |        FROM c CROSS JOIN t),
        | sc AS (SELECT tk.doc_id, tk.lang, tk.source,
        |          CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |          ROUND(AVG(lm.log_ratio), 6) AS dsir_weight
        |        FROM tk JOIN lm USING (term) WHERE NOT tk.in_tgt
        |        GROUP BY 1, 2, 3)
        |SELECT doc_id, lang, source, n_tokens, dsir_weight
        |FROM sc WHERE dsir_weight > 0 ORDER BY doc_id""".stripMargin,
    "q92_corpus_drift" ->
      """WITH toks AS (
        |  SELECT (doc_id % 2 = 0) AS in_a,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        | c AS (SELECT term,
        |         CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |       FROM toks WHERE term <> '' GROUP BY 1),
        | t AS (SELECT CAST(SUM(ca) AS BIGINT) AS tot_a,
        |         CAST(SUM(cb) AS BIGINT) AS tot_b,
        |         COUNT(*) AS v FROM c),
        | pq AS (SELECT (ca + 1) / CAST(tot_a + v AS DOUBLE) AS p,
        |               (cb + 1) / CAST(tot_b + v AS DOUBLE) AS q
        |        FROM c CROSS JOIN t)
        |SELECT (SELECT v FROM t) AS n_terms,
        |  (SELECT tot_a FROM t) AS tot_a, (SELECT tot_b FROM t) AS tot_b,
        |  ROUND(SUM(p * ln(p / q)), 6) AS kl_ab,
        |  ROUND(SUM(q * ln(q / p)), 6) AS kl_ba,
        |  ROUND(SUM(p * ln(p / ((p + q) / 2))
        |          + q * ln(q / ((p + q) / 2))) / 2, 6) AS jsd
        |FROM pq""".stripMargin,
    // The FIM rule restated as plain substr arithmetic: same hash
    // split points, same PSM/SPM rendering, md5 over the transformed
    // bytes. substr is 1-based char-indexed in both engines. The
    // streaming twin q260 drains to the identical relation.
    "q243_fim_transform" -> fimOracle,
    "q260_stream_fim_transform" -> fimOracle,
    // The chat template restated with an ordered string_agg; token
    // accounting is words+2 per turn, words+1 of loss per assistant
    // turn.
    "q244_chat_flatten" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS conv_id, doc_id % 4 AS pos,
        |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, text
        |  FROM documents WHERE text IS NOT NULL),
        | t AS (SELECT conv_id, pos,
        |    '<|' || role || '|>' || text || '<|end|>' AS rendered,
        |    n_words + 2 AS t_tok,
        |    CASE WHEN role = 'assistant' THEN n_words + 1 ELSE 0 END AS t_loss
        |  FROM d)
        |SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
        |  CAST(SUM(t_tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(t_loss) AS BIGINT) AS n_loss,
        |  CAST(1000000 * SUM(t_loss) // SUM(t_tok) AS BIGINT) AS loss_ppm,
        |  md5(string_agg(rendered, '' ORDER BY pos)) AS flat_md5
        |FROM t GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    // Same plant, same Java∩RE2 pattern through RE2, same strip; the
    // md5 gates the exact post-strip bytes (= the original text, since
    // strip∘plant is the identity here). The streaming twin q249
    // drains to the identical relation on bounded input.
    "q245_license_scrub" -> licenseScrubOracle,
    "q249_stream_license_scrub" -> licenseScrubOracle,
    // Per-prompt argmax with the q241 reward, margin from LEAD over
    // the same total order. The streaming twin q258 drains to the
    // identical relation.
    "q247_best_of_n" -> bestOfNOracle,
    "q258_stream_best_of_n" -> bestOfNOracle,
    // Distinct/total n-gram ratios per source; the bigram build is
    // q101's list-lambda construction joined with a space. The
    // streaming twin q257 drains to the identical relation.
    "q248_distinct_ngrams" -> distinctNgramsOracle,
    "q257_stream_distinct_ngrams" -> distinctNgramsOracle,
    // The 80/10/10 rule restated: same per-position hash, same class
    // codes, the corrupted sequence rebuilt with list indexing and
    // md5'd, the decision fold in ascending position order. The
    // streaming twin q261 drains to the identical relation.
    "q256_mlm_masking" -> mlmOracle,
    "q261_stream_mlm_masking" -> mlmOracle,
    // The three denoisers restated: r/x coverage via the 32-window
    // self-join with task-conditional rate/length, s as the suffix-half
    // predicate, the same ordered fold for the mask hash.
    "q253_ul2_denoiser_mix" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n,
        |    CASE WHEN (doc_id * 2654435761) % 4294967296 % 4 <= 1 THEN 'r'
        |      WHEN (doc_id * 2654435761) % 4294967296 % 4 = 2 THEN 'x'
        |      ELSE 's' END AS task
        |  FROM documents WHERE text IS NOT NULL),
        | pp AS (SELECT doc_id, n, task, unnest(range(0, n)) AS p FROM t),
        | hh AS (SELECT doc_id, n, task, p,
        |    (doc_id * 1000003 + p * 7919) % 1000000007 AS h FROM pp),
        | c AS (SELECT a.doc_id, a.n, a.task, a.p,
        |    MAX(CASE
        |      WHEN a.task = 'r' AND b.h % 20 < 3
        |        AND 1 + (b.h // 20) % 3 > a.p - b.p THEN 1
        |      WHEN a.task = 'x' AND b.h % 64 = 0
        |        AND 16 + (b.h // 64) % 17 > a.p - b.p THEN 1
        |      ELSE 0 END) AS covrx
        |  FROM hh a JOIN hh b ON a.doc_id = b.doc_id
        |    AND b.p BETWEEN a.p - 31 AND a.p
        |  GROUP BY 1, 2, 3, 4),
        | i AS (SELECT doc_id, n, task, p,
        |    CASE WHEN task = 's'
        |      THEN CASE WHEN p >= n - n // 2 THEN 1 ELSE 0 END
        |      ELSE covrx END AS cov
        |  FROM c)
        |SELECT doc_id, task, CAST(MAX(n) AS BIGINT) AS n_tokens,
        |  CAST(SUM(cov) AS BIGINT) AS n_masked,
        |  CAST(1000000 * SUM(cov) // MAX(n) AS BIGINT) AS mask_ppm,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list(p ORDER BY p) FILTER (cov = 1)),
        |    (a, v) -> (a * 131 + v) % 1000000007) AS BIGINT) AS mask_hash
        |FROM i GROUP BY doc_id, task ORDER BY doc_id""".stripMargin,
    // The decay thresholds restated over the same planted dup fixture;
    // the window count is a plain GROUP-join-free COUNT OVER.
    "q254_dup_aware_epochs" ->
      """WITH planted AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN 'template boilerplate page variant ' ||
        |        CAST((doc_id // 10) % 5 AS VARCHAR)
        |      ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        | d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT)
        |      AS dup_count
        |  FROM planted)
        |SELECT doc_id, dup_count,
        |  CAST(CASE WHEN dup_count >= 8 THEN 1 WHEN dup_count >= 4 THEN 2
        |    WHEN dup_count >= 2 THEN 3 ELSE 4 END AS BIGINT) AS n_epochs,
        |  n_tokens,
        |  CAST(CASE WHEN dup_count >= 8 THEN 1 WHEN dup_count >= 4 THEN 2
        |    WHEN dup_count >= 2 THEN 3 ELSE 4 END * n_tokens AS BIGINT)
        |    AS effective_tokens
        |FROM d ORDER BY doc_id""".stripMargin,
    // The collision census restated: per (batch, md5) sizes, pair
    // count closed-form, ppm guarded against singleton batches.
    "q255_inbatch_collisions" ->
      """WITH planted AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN 'template boilerplate page variant ' ||
        |        CAST((doc_id // 10) % 5 AS VARCHAR)
        |      ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        | b AS (SELECT (doc_id * 2654435761) % 4294967296 % 16 AS batch,
        |    md5(text) AS fp FROM planted),
        | c AS (SELECT batch, fp, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM b GROUP BY 1, 2),
        | s AS (SELECT CAST(batch AS BIGINT) AS batch,
        |    CAST(SUM(k) AS BIGINT) AS n_docs,
        |    CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS n_dup_pairs
        |  FROM c GROUP BY 1)
        |SELECT batch, n_docs, n_dup_pairs,
        |  CAST(CASE WHEN n_docs >= 2
        |    THEN 2000000 * n_dup_pairs // (n_docs * (n_docs - 1))
        |    ELSE 0 END AS BIGINT) AS collision_ppm
        |FROM s ORDER BY batch""".stripMargin,
    // q69's greedy recursion unrolled at each budget; slack clamps at
    // 0 per sequence, ppm over n_seqs·budget capacity.
    "q270_packing_sweep" ->
      """WITH RECURSIVE t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        | p128 AS (
        |  SELECT lang, n_tokens, rn, n_tokens AS fill,
        |    CAST(1 AS BIGINT) AS seq_no FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.lang, t.n_tokens, t.rn,
        |    CASE WHEN p128.fill + t.n_tokens > 128 THEN t.n_tokens
        |         ELSE p128.fill + t.n_tokens END,
        |    CASE WHEN p128.fill + t.n_tokens > 128 THEN p128.seq_no + 1
        |         ELSE p128.seq_no END
        |  FROM p128 JOIN t ON t.lang = p128.lang AND t.rn = p128.rn + 1),
        | p256 AS (
        |  SELECT lang, n_tokens, rn, n_tokens AS fill,
        |    CAST(1 AS BIGINT) AS seq_no FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.lang, t.n_tokens, t.rn,
        |    CASE WHEN p256.fill + t.n_tokens > 256 THEN t.n_tokens
        |         ELSE p256.fill + t.n_tokens END,
        |    CASE WHEN p256.fill + t.n_tokens > 256 THEN p256.seq_no + 1
        |         ELSE p256.seq_no END
        |  FROM p256 JOIN t ON t.lang = p256.lang AND t.rn = p256.rn + 1),
        | p512 AS (
        |  SELECT lang, n_tokens, rn, n_tokens AS fill,
        |    CAST(1 AS BIGINT) AS seq_no FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.lang, t.n_tokens, t.rn,
        |    CASE WHEN p512.fill + t.n_tokens > 512 THEN t.n_tokens
        |         ELSE p512.fill + t.n_tokens END,
        |    CASE WHEN p512.fill + t.n_tokens > 512 THEN p512.seq_no + 1
        |         ELSE p512.seq_no END
        |  FROM p512 JOIN t ON t.lang = p512.lang AND t.rn = p512.rn + 1),
        | u AS (
        |  SELECT CAST(128 AS BIGINT) AS budget, lang, seq_no, n_tokens
        |  FROM p128
        |  UNION ALL
        |  SELECT CAST(256 AS BIGINT), lang, seq_no, n_tokens FROM p256
        |  UNION ALL
        |  SELECT CAST(512 AS BIGINT), lang, seq_no, n_tokens FROM p512),
        | f AS (SELECT budget, lang, seq_no,
        |    CAST(SUM(n_tokens) AS BIGINT) AS fill
        |  FROM u GROUP BY 1, 2, 3)
        |SELECT budget, lang, CAST(COUNT(*) AS BIGINT) AS n_seqs,
        |  CAST(SUM(fill) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(GREATEST(0, budget - fill)) AS BIGINT) AS slack,
        |  CAST(1000000 * SUM(GREATEST(0, budget - fill))
        |    // (COUNT(*) * budget) AS BIGINT) AS slack_ppm
        |FROM f GROUP BY 1, 2 ORDER BY budget, lang""".stripMargin,
    // Same hash starts, same substr crops, same interval-intersection
    // overlap. The streaming twin q268 drains to the identical
    // relation.
    "q268_stream_contrastive_crops" -> contrastiveCropsOracle,
    // The four shifted-slice legs restated as list lambdas; top-100
    // on the same (n, center, context) total order. The streaming
    // twin q271 drains to the identical relation.
    "q271_stream_skipgram_census" -> skipgramOracle,
    "q269_skipgram_census" -> skipgramOracle,
    "q267_contrastive_crops" -> contrastiveCropsOracle,
    // Two plain window ranks (the two-phase rank must be
    // indistinguishable), same string tie, same bins.
    "q266_epoch_order_audit" ->
      """WITH d AS (SELECT doc_id FROM documents),
        | r0 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY
        |    ((doc_id + 3) * 2654435761) % 4294967296,
        |    CAST(doc_id AS VARCHAR)) AS r FROM d),
        | r1 AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY
        |    ((doc_id + 10) * 2654435761) % 4294967296,
        |    CAST(doc_id AS VARCHAR)) AS r FROM d),
        | n AS (SELECT COUNT(*) AS n FROM d),
        | j AS (SELECT d.doc_id, ABS(r0.r - r1.r) AS disp
        |   FROM d JOIN r0 USING (doc_id) JOIN r1 USING (doc_id))
        |SELECT CAST((10 * disp) // n.n AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(disp) AS BIGINT) AS sum_disp,
        |  CAST(MAX(disp) AS BIGINT) AS max_disp
        |FROM j CROSS JOIN n GROUP BY 1 ORDER BY bin""".stripMargin,
    // Both plants in the same order (license header first, PII suffix
    // second), the same Java∩RE2 patterns, per-source exact ppm.
    "q272_compliance_dashboard" ->
      """WITH lic AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN '// SPDX-License-Identifier: ' ||
        |        CASE WHEN (doc_id // 7) % 2 = 0 THEN 'MIT'
        |          ELSE 'Apache-2.0' END || chr(10) || text
        |      ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        | t AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 25 = 0 THEN text ||
        |      ' contact alice.w@example.org from 10.0.0.1 ref 4111111111111111'
        |    ELSE text END AS text
        |  FROM lic),
        | f AS (SELECT source,
        |    CASE WHEN len(regexp_extract_all(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |      + len(regexp_extract_all(text,
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |      + len(regexp_extract_all(text, '\b\d{9,}\b')) > 0
        |      THEN 1 ELSE 0 END AS has_pii,
        |    CASE WHEN regexp_extract(text,
        |        '^// SPDX-License-Identifier: ([A-Za-z0-9.-]+)\n', 1) <> ''
        |      THEN 1 ELSE 0 END AS has_lic
        |  FROM t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(has_pii) AS BIGINT) AS n_pii,
        |  CAST(1000000 * SUM(has_pii) // COUNT(*) AS BIGINT) AS pii_ppm,
        |  CAST(SUM(has_lic) AS BIGINT) AS n_licensed,
        |  CAST(1000000 * SUM(has_lic) // COUNT(*) AS BIGINT) AS lic_ppm
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin,
    // q106's layout restated with LAG per shard; same plant, exact
    // ppm of adjacencies.
    "q265_shuffle_quality" ->
      """WITH planted AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 0
        |      THEN 'template boilerplate page variant ' ||
        |        CAST((doc_id // 10) % 5 AS VARCHAR)
        |      ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        | h AS (SELECT doc_id, source, md5(text) AS fp,
        |    ((doc_id + 7) * 2654435761) % 4294967296 AS hh
        |  FROM planted),
        | o AS (SELECT CAST(hh % 8 AS BIGINT) AS shard, source, fp,
        |    LAG(source, 1) OVER (PARTITION BY hh % 8
        |      ORDER BY hh, doc_id) AS prev_source,
        |    LAG(fp, 1) OVER (PARTITION BY hh % 8
        |      ORDER BY hh, doc_id) AS prev_fp
        |  FROM h)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN source = prev_source THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_adj_same_source,
        |  CAST(CASE WHEN COUNT(*) >= 2 THEN 1000000 *
        |      SUM(CASE WHEN source = prev_source THEN 1 ELSE 0 END)
        |      // (COUNT(*) - 1) ELSE 0 END AS BIGINT)
        |    AS same_source_ppm,
        |  CAST(SUM(CASE WHEN fp = prev_fp THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_adj_dup,
        |  CAST(CASE WHEN COUNT(*) >= 2 THEN 1000000 *
        |      SUM(CASE WHEN fp = prev_fp THEN 1 ELSE 0 END)
        |      // (COUNT(*) - 1) ELSE 0 END AS BIGINT) AS adj_dup_ppm
        |FROM o GROUP BY 1 ORDER BY shard""".stripMargin,
    // cnt^0.75 as the same composed-sqrt product (bit-identical in
    // both engines), same 1e-3 quantization, same integer total.
    "q264_negative_sampling" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        | c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
        |   FROM toks WHERE term <> '' GROUP BY 1),
        | w AS (SELECT term, cnt,
        |    CAST(FLOOR(sqrt(sqrt(CAST(cnt AS DOUBLE)))
        |      * sqrt(sqrt(CAST(cnt AS DOUBLE)))
        |      * sqrt(sqrt(CAST(cnt AS DOUBLE))) * 1000) AS BIGINT) AS wq
        |  FROM c),
        | t AS (SELECT CAST(SUM(wq) AS BIGINT) AS tot FROM w),
        | r AS (SELECT term, cnt, wq,
        |    CAST(1000000 * wq // t.tot AS BIGINT) AS w_ppm,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rnk
        |  FROM w CROSS JOIN t)
        |SELECT term, cnt, wq, w_ppm FROM r WHERE rnk <= 200
        |ORDER BY cnt DESC, term""".stripMargin,
    // The link rule and anchor bag restated; the top pick uses the
    // same (cnt DESC, anchor) total order. q259's incremental census
    // merge must be bit-identical to this from-scratch relation.
    "q252_anchor_text" -> anchorTextOracle,
    "q259_anchor_incremental" -> anchorTextOracle,

    // BM25 restated term-for-term: same +1 idf, same k1/b constants in
    // the same association, scores rounded to 6 dp BEFORE ranking (the
    // cross-engine float-sum-order guard), ties on doc_id. The
    // streaming twin q282 scores against the frozen model map-side and
    // drains to the identical relation.
    "q273_bm25_topk" -> bm25TopKOracle,
    // q273's core + the integer RM3 vote: feedback scores freeze to
    // micros BEFORE the sum, contributions are (tf·1e6 // dl) ·
    // score_micro Longs, so engine and oracle add the same integers.
    "q325_rm3_expansion" ->
      s"""WITH $bm25CoreSql,
         | r AS (SELECT query_id, doc_id, ROUND(score, 6) AS score,
         |     ROW_NUMBER() OVER (PARTITION BY query_id
         |       ORDER BY ROUND(score, 6) DESC, doc_id) AS rnk
         |   FROM sc),
         | fb AS (SELECT query_id, doc_id,
         |     CAST(ROUND(score * 1000000) AS BIGINT) AS score_micro
         |   FROM r WHERE rnk <= 10),
         | tok2 AS (SELECT b.doc_id, b.dl, unnest(b.ws) AS w
         |   FROM base b WHERE b.doc_id IN (SELECT doc_id FROM fb)),
         | tf2 AS (SELECT doc_id, dl, w, CAST(COUNT(*) AS BIGINT) AS tf
         |   FROM tok2 WHERE w <> '' GROUP BY 1, 2, 3),
         | c AS (SELECT f.query_id, t.w,
         |     SUM((t.tf * 1000000 // t.dl) * f.score_micro) AS weight
         |   FROM fb f JOIN tf2 t USING (doc_id) GROUP BY 1, 2),
         | x AS (SELECT c.query_id, c.w, c.weight FROM c
         |   WHERE NOT EXISTS (SELECT 1 FROM qt
         |     WHERE qt.query_id = c.query_id AND qt.w = c.w)),
         | e AS (SELECT query_id, w, weight,
         |     ROW_NUMBER() OVER (PARTITION BY query_id
         |       ORDER BY weight DESC, w ASC) AS rnk FROM x)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(rnk AS BIGINT) AS rnk, w, CAST(weight AS BIGINT) AS weight
         |FROM e WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // Two BM25 index states side by side, the shared ppm weights, the
    // same integer-div depth terms.
    "q371_rbo_drift" -> {
      val wvals = rboWeightsMicro.zipWithIndex
        .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
      s"""WITH qt(query_id, w) AS (VALUES
         |    (1, 'customer'), (1, 'query'), (2, 'vector'), (2, 'merge'),
         |    (3, 'stream'), (3, 'window'), (3, 'sort'),
         |    (4, 'hash'), (4, 'join')),
         | ${bm25SliceSql("a", "")},
         | ${bm25SliceSql("b", " AND doc_id % 5 <> 0")},
         | j AS (SELECT ra.query_id, GREATEST(ra.rnk, rb.rnk) AS mx
         |   FROM ra JOIN rb ON ra.query_id = rb.query_id
         |     AND ra.doc_id = rb.doc_id
         |   WHERE ra.rnk <= 10 AND rb.rnk <= 10),
         | t AS (SELECT query_id, d.d, CAST(COUNT(*) AS BIGINT) AS overlap
         |   FROM j CROSS JOIN (SELECT unnest(range(1, 11)) AS d) d
         |   WHERE j.mx <= d.d GROUP BY 1, 2),
         | wt(d, w_micro) AS (VALUES $wvals)
         |SELECT CAST(t.query_id AS BIGINT) AS query_id,
         |  CAST(SUM((wt.w_micro * t.overlap) // t.d) AS BIGINT)
         |    AS rbo_micro
         |FROM t JOIN wt USING (d) GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // The product-form pass@k restated with the same clamped integer
    // factors — C(n,k) never materializes, so nothing overflows.
    "q360_pass_at_k" ->
      s"""WITH d AS (SELECT doc_id // 8 AS pid,
         |    1000 * ${markerSql("en")}
         |      + len(string_split(text, ' ')) AS r
         |  FROM documents WHERE text IS NOT NULL),
         | p AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN r % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c
         |  FROM d GROUP BY 1),
         | x AS (SELECT p.*, k.k FROM p
         |   CROSS JOIN (SELECT unnest([1, 2, 4]) AS k) k WHERE n >= k),
         | y AS (SELECT k, 1000000 - (1000000 *
         |    CASE k WHEN 1 THEN GREATEST(0, n - c)
         |      WHEN 2 THEN GREATEST(0, n - c) * GREATEST(0, n - c - 1)
         |      ELSE GREATEST(0, n - c) * GREATEST(0, n - c - 1)
         |        * GREATEST(0, n - c - 2) * GREATEST(0, n - c - 3) END)
         |    // (CASE k WHEN 1 THEN n WHEN 2 THEN n * (n - 1)
         |      ELSE n * (n - 1) * (n - 2) * (n - 3) END) AS ppm
         |  FROM x)
         |SELECT CAST(k AS BIGINT) AS k,
         |  CAST(COUNT(*) AS BIGINT) AS n_problems,
         |  CAST(SUM(ppm) AS BIGINT) AS sum_ppm,
         |  CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_ppm
         |FROM y GROUP BY 1 ORDER BY 1""".stripMargin,

    // Weighted type-1 quantile restated: DuckDB promotes cum·1e6 to
    // HUGEINT natively, matching the engine's decimal(38,0) compare.
    "q354_weighted_quantiles" ->
      """WITH c AS (SELECT lang, n_chars AS v,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS w
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1, 2),
        | s AS (SELECT lang, v, w,
        |    SUM(w) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |    SUM(w) OVER (PARTITION BY lang) AS total FROM c),
        | x AS (SELECT lang, v, p.p_ppm FROM s CROSS JOIN
        |    (SELECT unnest([250000, 500000, 750000, 900000]) AS p_ppm) p
        |  WHERE cum * 1000000 >= p_ppm * total)
        |SELECT lang, CAST(p_ppm AS BIGINT) AS p_ppm,
        |  CAST(MIN(v) AS BIGINT) AS q
        |FROM x GROUP BY 1, 2 ORDER BY lang, p_ppm""".stripMargin,

    // The EXHAUSTIVE ranking over the same micro-frozen contributions —
    // the engine side ranks through MaxScore pruning, so the hash
    // equality IS the pruning theorem, checked across engines.
    "q347_maxscore_bm25" ->
      s"""WITH $bm25CoreSql,
         | c AS (SELECT qt.query_id, tf.doc_id,
         |     CAST(ROUND(ROUND(
         |       ln(1.0 + (g.n_docs - dfw.df + 0.5) / (dfw.df + 0.5))
         |         * (tf.tf * 2.2)
         |         / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl * g.n_docs
         |             / g.sum_dl)), 6) * 1000000) AS BIGINT) AS c_micro
         |   FROM tf JOIN dfw USING (w) JOIN qt USING (w) CROSS JOIN g),
         | s2 AS (SELECT query_id, doc_id,
         |     CAST(SUM(c_micro) AS BIGINT) AS score_micro
         |   FROM c GROUP BY 1, 2),
         | r AS (SELECT query_id, doc_id, score_micro,
         |     ROW_NUMBER() OVER (PARTITION BY query_id
         |       ORDER BY score_micro DESC, doc_id) AS rnk FROM s2)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(rnk AS BIGINT) AS rnk, doc_id, score_micro
         |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    "q282_stream_bm25" -> bm25TopKOracle,
    // The merged history+delta model carries the same integer counts as
    // the from-scratch model, so the search result is q273's.
    "q294_bm25_incremental" -> bm25TopKOracle,
    "q295_bpe_merge_sweep" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS c3,
        |  CAST(NULL AS BIGINT) AS c6, CAST(NULL AS BIGINT) AS c12
        |WHERE FALSE""".stripMargin,

    // The scorecard restated off the same single census: entropy/Zipf
    // algebra verbatim from the q278/q279 oracles, flags on the
    // rounded values. The streaming twin q299 drains the same census.
    "q298_corpus_scorecard" -> scorecardOracle,
    "q299_stream_scorecard" -> scorecardOracle,
    "q306_scorecard_incremental" -> scorecardOracle,
    "q305_scorecard_sensitivity" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |  CAST(NULL AS VARCHAR) AS source
        |WHERE FALSE""".stripMargin,

    // q241's pair construction verbatim, one bias rollup more: the
    // same rank/group windows and inward pairing, length comparison
    // on the same token counts, sign-split integer mean.
    "q300_preference_length_bias" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    1000 * ${markerSql("en")}
         |      + len(string_split(text, ' ')) AS score
         |  FROM documents WHERE text IS NOT NULL),
         | r AS (SELECT doc_id, lang, n_tokens, n_tokens // 32 AS bucket,
         |    score,
         |    ROW_NUMBER() OVER (PARTITION BY lang, n_tokens // 32
         |      ORDER BY score DESC, doc_id) AS rnk,
         |    COUNT(*) OVER (PARTITION BY lang, n_tokens // 32) AS g
         |  FROM d),
         | p AS (SELECT a.lang,
         |    a.score AS c_score, a.n_tokens AS c_tok,
         |    b.score AS r_score, b.n_tokens AS r_tok
         |  FROM r a JOIN r b ON a.lang = b.lang AND a.bucket = b.bucket
         |    AND b.rnk = a.g + 1 - a.rnk
         |  WHERE a.rnk <= a.g // 2 AND a.score > b.score),
         | m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN c_tok > r_tok THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_chosen_longer,
         |    CAST(SUM(c_tok - r_tok) AS BIGINT) AS sum_tok_delta,
         |    CAST(SUM(CASE WHEN c_tok > r_tok THEN c_score - r_score
         |      ELSE 0 END) AS BIGINT) AS margin_longer,
         |    CAST(SUM(CASE WHEN NOT (c_tok > r_tok)
         |      THEN c_score - r_score ELSE 0 END) AS BIGINT)
         |      AS margin_not_longer
         |  FROM p GROUP BY 1)
         |SELECT lang, n_pairs, n_chosen_longer,
         |  CAST((1000000 * n_chosen_longer) // n_pairs AS BIGINT)
         |    AS chosen_longer_ppm,
         |  CAST(CAST(SIGN(sum_tok_delta) AS BIGINT)
         |    * ((ABS(sum_tok_delta) * 1000) // n_pairs) AS BIGINT)
         |    AS mean_tok_delta_milli,
         |  margin_longer, margin_not_longer
         |FROM m ORDER BY lang""".stripMargin,

    // Both runs restated (lexical from the shared BM25 CTE block, dense
    // from list_cosine_similarity around the anchor vectors), then the
    // same integer RRF: floor(1e6/(60+rank)) per present run.
    "q283_hybrid_rrf" ->
      s"""WITH $bm25CoreSql,
         | lex AS (SELECT query_id, doc_id,
         |     ROW_NUMBER() OVER (PARTITION BY query_id
         |       ORDER BY ROUND(score, 6) DESC, doc_id) AS r_lex
         |   FROM sc QUALIFY r_lex <= 20),
         | qv AS (SELECT vec_id AS query_id,
         |     CAST(embedding AS DOUBLE[]) AS v
         |   FROM embeddings WHERE vec_id IN (1, 2, 3, 4)),
         | cv AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
         |   FROM embeddings),
         | dn AS (SELECT qv.query_id, cv.doc_id,
         |     ROW_NUMBER() OVER (PARTITION BY qv.query_id
         |       ORDER BY list_cosine_similarity(qv.v, cv.v) DESC,
         |         cv.doc_id) AS r_dense
         |   FROM qv CROSS JOIN cv WHERE qv.query_id <> cv.doc_id
         |   QUALIFY r_dense <= 20),
         | f AS (SELECT COALESCE(lex.query_id, dn.query_id) AS query_id,
         |     COALESCE(lex.doc_id, dn.doc_id) AS doc_id,
         |     lex.r_lex, dn.r_dense,
         |     COALESCE(1000000 // (60 + lex.r_lex), 0)
         |       + COALESCE(1000000 // (60 + dn.r_dense), 0) AS rrf_ppm
         |   FROM lex FULL JOIN dn
         |     ON lex.query_id = dn.query_id AND lex.doc_id = dn.doc_id),
         | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY rrf_ppm DESC, doc_id) AS rnk FROM f)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(rnk AS BIGINT) AS rnk, doc_id,
         |  CAST(COALESCE(r_lex, 0) AS BIGINT) AS r_lex,
         |  CAST(COALESCE(r_dense, 0) AS BIGINT) AS r_dense,
         |  CAST(rrf_ppm AS BIGINT) AS rrf_ppm
         |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // The curve restated: the same [1,2,4,8] fan-out, arm-prefix
    // filter, and integer mean.
    "q284_bon_scaling" ->
      s"""WITH d AS (SELECT doc_id // 8 AS prompt_id, doc_id % 8 AS arm,
         |    1000 * ${markerSql("en")}
         |      + len(string_split(text, ' ')) AS reward
         |  FROM documents WHERE text IS NOT NULL),
         | f AS (SELECT n.n, d.prompt_id, MAX(d.reward) AS best
         |   FROM d CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS n) n
         |   WHERE d.arm < n.n GROUP BY 1, 2)
         |SELECT CAST(n AS BIGINT) AS n,
         |  CAST(COUNT(*) AS BIGINT) AS n_prompts,
         |  CAST(SUM(best) AS BIGINT) AS sum_best,
         |  CAST(CAST(1000 * SUM(best) AS BIGINT) // COUNT(*) AS BIGINT)
         |    AS mean_best_milli
         |FROM f GROUP BY n ORDER BY n""".stripMargin,

    // The run from the shared BM25 CTE block, qrels from list_has_all,
    // the same integer MRR/recall and ln-ratio DCG with ROUND(6).
    // Planted drift must flag, bystanders must not flip: empty.
    "q342_ci_drift_monitor" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |  CAST(NULL AS VARCHAR) AS source
        |WHERE FALSE""".stripMargin,
    // Same exact-integer Hamilton arithmetic: floor shares, largest
    // remainders get the leftover, ties to source asc. The streaming
    // twin q340 drains the same census.
    "q339_budget_apportionment" -> apportionmentOracle,
    "q340_stream_apportionment" -> apportionmentOracle,
    // The q286 relevance rule + the integer sweep: P/R at each cutoff
    // as exact milli ratios.
    "q338_pr_at_k" ->
      s"""WITH $bm25CoreSql,
         | run AS (SELECT query_id, doc_id,
         |     ROW_NUMBER() OVER (PARTITION BY query_id
         |       ORDER BY ROUND(score, 6) DESC, doc_id) AS rnk
         |   FROM sc QUALIFY rnk <= 10),
         | qt2 AS (SELECT query_id, list(w) AS terms FROM qt GROUP BY 1),
         | rel AS (SELECT qt2.query_id, b.doc_id
         |   FROM base b CROSS JOIN qt2
         |   WHERE list_has_all(b.ws, qt2.terms)),
         | nr AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
         |   FROM rel GROUP BY 1),
         | h AS (SELECT run.query_id, run.rnk,
         |     CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |   FROM run LEFT JOIN rel
         |     ON run.query_id = rel.query_id AND run.doc_id = rel.doc_id),
         | sw AS (SELECT h.query_id, k.k, h.rnk, h.hit
         |   FROM h CROSS JOIN (SELECT unnest([1, 3, 5, 10]) AS k) k
         |   WHERE h.rnk <= k.k),
         | m AS (SELECT query_id, CAST(k AS BIGINT) AS k,
         |     CAST(SUM(hit) AS BIGINT) AS hits,
         |     CAST(COUNT(*) AS BIGINT) AS returned
         |   FROM sw GROUP BY 1, 2)
         |SELECT CAST(m.query_id AS BIGINT) AS query_id, m.k, m.hits,
         |  m.returned, COALESCE(nr.n_rel, 0) AS n_rel,
         |  CAST((1000 * m.hits) // m.returned AS BIGINT) AS p_milli,
         |  CAST(CASE WHEN COALESCE(nr.n_rel, 0) > 0
         |    THEN (1000 * m.hits) // nr.n_rel ELSE 0 END AS BIGINT)
         |    AS r_milli
         |FROM m LEFT JOIN nr ON m.query_id = nr.query_id
         |ORDER BY query_id, k""".stripMargin,
    "q286_retrieval_metrics" ->
      s"""WITH $bm25CoreSql,
         | run AS (SELECT query_id, doc_id,
         |     ROW_NUMBER() OVER (PARTITION BY query_id
         |       ORDER BY ROUND(score, 6) DESC, doc_id) AS rnk
         |   FROM sc QUALIFY rnk <= 10),
         | qt2 AS (SELECT query_id, list(w) AS terms FROM qt GROUP BY 1),
         | rel AS (SELECT qt2.query_id, b.doc_id
         |   FROM base b CROSS JOIN qt2
         |   WHERE list_has_all(b.ws, qt2.terms)),
         | nr AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
         |   FROM rel GROUP BY 1),
         | h AS (SELECT run.query_id, run.rnk,
         |     CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |   FROM run LEFT JOIN rel
         |     ON run.query_id = rel.query_id AND run.doc_id = rel.doc_id),
         | m AS (SELECT query_id,
         |     MIN(CASE WHEN hit = 1 THEN rnk END) AS first_rel,
         |     CAST(SUM(hit) AS BIGINT) AS hits10,
         |     SUM(CASE WHEN hit = 1
         |       THEN 1.0 / (ln(rnk + 1) / ln(2.0)) ELSE 0.0 END) AS dcg
         |   FROM h GROUP BY 1),
         | j AS (SELECT m.query_id, COALESCE(nr.n_rel, 0) AS n_rel,
         |     m.first_rel, m.hits10, m.dcg,
         |     CASE WHEN COALESCE(nr.n_rel, 0) > 0
         |       THEN list_sum(list_transform(
         |         range(1, CAST(least(nr.n_rel, 10) AS BIGINT) + 1),
         |         i -> 1.0 / (ln(i + 1) / ln(2.0))))
         |       ELSE 0.0 END AS idcg
         |   FROM m LEFT JOIN nr ON m.query_id = nr.query_id)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(n_rel AS BIGINT) AS n_rel,
         |  CAST(CASE WHEN first_rel IS NOT NULL THEN 1000 // first_rel
         |    ELSE 0 END AS BIGINT) AS mrr_milli,
         |  hits10,
         |  CAST(CASE WHEN n_rel > 0 THEN (1000000 * hits10) // n_rel
         |    ELSE 0 END AS BIGINT) AS recall10_ppm,
         |  CASE WHEN idcg > 0 THEN ROUND(dcg / idcg, 6) ELSE 0.0 END
         |    AS ndcg10
         |FROM j ORDER BY query_id""".stripMargin,

    // q69's recursive pack walk extended with the Σℓ² rollup; same
    // integer ppm divides.
    "q288_pack_mask_density" ->
      """WITH RECURSIVE t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        | p AS (
        |  SELECT lang, doc_id, n_tokens, rn,
        |    n_tokens AS fill, CAST(1 AS BIGINT) AS seq_no
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.lang, t.doc_id, t.n_tokens, t.rn,
        |    CASE WHEN p.fill + t.n_tokens > 256 THEN t.n_tokens
        |         ELSE p.fill + t.n_tokens END,
        |    CASE WHEN p.fill + t.n_tokens > 256 THEN p.seq_no + 1
        |         ELSE p.seq_no END
        |  FROM p JOIN t ON t.lang = p.lang AND t.rn = p.rn + 1)
        |SELECT lang, seq_no, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS used,
        |  CAST(SUM(n_tokens * n_tokens) AS BIGINT) AS sum_sq,
        |  CAST(CAST(1000000 * SUM(n_tokens * n_tokens) AS BIGINT)
        |    // (256 * 256) AS BIGINT) AS mask_ppm,
        |  CAST(CAST(1000000 * (SUM(n_tokens) * SUM(n_tokens)
        |      - SUM(n_tokens * n_tokens)) AS BIGINT)
        |    // (256 * 256) AS BIGINT) AS xdoc_saved_ppm
        |FROM p GROUP BY 1, 2 ORDER BY lang, seq_no""".stripMargin,

    // Both LM scores from ONE shared bigram-model CTE stack (identical
    // algebra to the q79/q235 oracles), each rounded at 6 dp before the
    // difference — the deltas live on the same 1e-6 grid the engine's
    // join of pre-rounded relations produces.
    "q289_kl_monitor" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |     FROM documents),
        | b AS (SELECT doc_id,
        |         unnest(list_transform(range(len(w) - 1),
        |           i -> {'w1': w[i+1], 'w2': w[i+2]})) AS g
        |       FROM t WHERE len(w) >= 2),
        | bi AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM b),
        | c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
        | l AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1f FROM c2 GROUP BY 1),
        | r AS (SELECT w2, COUNT(*) AS n1b FROM c2 GROUP BY 1),
        | bt AS (SELECT COUNT(*) AS b FROM c2),
        | v AS (SELECT COUNT(*) AS vctx FROM l),
        | s AS (SELECT bi.doc_id,
        |     ROUND(AVG(ln((c2.c2 + 1) / (l.c1 + v.vctx))), 6) AS lp1,
        |     ROUND(AVG(ln((c2.c2 - 0.75) / l.c1
        |       + 0.75 * l.n1f / l.c1 * r.n1b / bt.b)), 6) AS lp2
        |   FROM bi JOIN c2 USING (w1, w2) JOIN l USING (w1)
        |     JOIN r USING (w2) CROSS JOIN bt CROSS JOIN v
        |   GROUP BY bi.doc_id),
        | d AS (SELECT s.doc_id, doc.lang, s.lp1 - s.lp2 AS delta
        |   FROM s JOIN documents doc ON doc.doc_id = s.doc_id)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  ROUND(AVG(delta), 6) AS mean_delta,
        |  CAST(SUM(CASE WHEN ABS(delta) > 0.5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clipped,
        |  CAST(CAST(1000000 * SUM(CASE WHEN ABS(delta) > 0.5 THEN 1
        |      ELSE 0 END) AS BIGINT) // COUNT(*) AS BIGINT) AS clipped_ppm
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    // The same oriented-simple-graph construction and two-join closure;
    // all integers.
    "q290_triangle_census" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
        | n AS (SELECT COUNT(*) AS nn FROM d),
        | raw AS (SELECT doc_id AS src,
        |     (doc_id * 1000003 + k.k * 7919 + 13) % n.nn AS dst
        |   FROM d CROSS JOIN n
        |     CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k),
        | und AS (SELECT DISTINCT least(src, dst) AS u,
        |     greatest(src, dst) AS v
        |   FROM raw WHERE src <> dst),
        | deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |     SELECT u AS node FROM und
        |     UNION ALL SELECT v FROM und) GROUP BY 1),
        | tri AS (SELECT a.u, a.v, b.v AS w
        |   FROM und a JOIN und b ON a.u = b.u AND a.v < b.v
        |   JOIN und c ON c.u = a.v AND c.v = b.v),
        | tpn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
        |   FROM (SELECT u AS node FROM tri
        |         UNION ALL SELECT v FROM tri
        |         UNION ALL SELECT w FROM tri) GROUP BY 1)
        |SELECT deg.node, deg.degree,
        |  CAST(COALESCE(tpn.triangles, 0) AS BIGINT) AS triangles,
        |  CAST(CASE WHEN deg.degree >= 2
        |    THEN (2000000 * COALESCE(tpn.triangles, 0))
        |      // (deg.degree * (deg.degree - 1))
        |    ELSE 0 END AS BIGINT) AS lcc_ppm
        |FROM deg LEFT JOIN tpn ON tpn.node = deg.node
        |ORDER BY deg.node""".stripMargin,

    // LCP(min, max) restated with the prefix-equality sum (monotone, so
    // the sum IS the common-prefix length), same 200-char cap, same
    // planted "prompt <id> : " rendering.
    "q285_prefix_sharing" ->
      """WITH d AS (SELECT doc_id // 8 AS prompt_id,
        |    'prompt ' || CAST(doc_id // 8 AS VARCHAR) || ' : ' || text
        |      AS rendered
        |  FROM documents WHERE text IS NOT NULL),
        | g AS (SELECT prompt_id, CAST(COUNT(*) AS BIGINT) AS n_cands,
        |    substr(MIN(rendered), 1, 200) AS lo,
        |    substr(MAX(rendered), 1, 200) AS hi
        |  FROM d GROUP BY 1),
        | l AS (SELECT prompt_id, n_cands,
        |    CAST(COALESCE(list_sum(list_transform(
        |      range(1, least(len(lo), len(hi)) + 1),
        |      i -> CASE WHEN substr(lo, 1, CAST(i AS INTEGER))
        |          = substr(hi, 1, CAST(i AS INTEGER))
        |        THEN 1 ELSE 0 END)), 0) AS BIGINT) AS lcp
        |  FROM g)
        |SELECT CAST(prompt_id AS BIGINT) AS prompt_id, n_cands, lcp,
        |  CAST((n_cands - 1) * lcp AS BIGINT) AS saved_chars
        |FROM l ORDER BY prompt_id""".stripMargin,

    // The MM loop restated in the SAME fixed-point integers: the win
    // census densifies into a games matrix + wins vector (lists indexed
    // by the sorted-player position), each iteration is the identical
    // Long floor-divide arithmetic (int128 only where the engine uses
    // BigInt), and the t = 16 snapshot publishes. Integer sums are
    // order-free, so the recursion carries zero float hazard.
    "q274_bradley_terry" ->
      s"""WITH RECURSIVE
         | d AS (SELECT doc_id // 8 AS prompt_id, doc_id % 8 AS arm,
         |     1000 * ${markerSql("en")}
         |       + len(string_split(text, ' ')) AS reward
         |   FROM documents WHERE text IS NOT NULL),
         | pair AS (SELECT
         |     CASE WHEN a.reward > b.reward THEN a.arm ELSE b.arm END
         |       AS winner,
         |     CASE WHEN a.reward > b.reward THEN b.arm ELSE a.arm END
         |       AS loser
         |   FROM d a JOIN d b
         |     ON a.prompt_id = b.prompt_id AND a.arm < b.arm
         |   WHERE a.reward <> b.reward),
         | wc AS (SELECT winner, loser, CAST(COUNT(*) AS BIGINT) AS n
         |   FROM pair GROUP BY 1, 2),
         | pl AS (SELECT arm, CAST(ROW_NUMBER() OVER (ORDER BY arm)
         |     AS BIGINT) AS pi
         |   FROM (SELECT winner AS arm FROM wc
         |         UNION SELECT loser FROM wc)),
         | np AS (SELECT CAST(COUNT(*) AS BIGINT) AS p FROM pl),
         | sym AS (SELECT i, j, CAST(SUM(n) AS BIGINT) AS n FROM (
         |     SELECT pw.pi AS i, pli.pi AS j, n FROM wc
         |       JOIN pl pw ON pw.arm = wc.winner
         |       JOIN pl pli ON pli.arm = wc.loser
         |     UNION ALL
         |     SELECT pli.pi, pw.pi, n FROM wc
         |       JOIN pl pw ON pw.arm = wc.winner
         |       JOIN pl pli ON pli.arm = wc.loser)
         |   GROUP BY 1, 2),
         | nm AS (SELECT list(rowl ORDER BY i) AS nmat FROM (
         |     SELECT pi.pi AS i,
         |       list(CAST(COALESCE(s.n, 0) AS BIGINT) ORDER BY pj.pi)
         |         AS rowl
         |     FROM pl pi CROSS JOIN pl pj
         |       LEFT JOIN sym s ON s.i = pi.pi AND s.j = pj.pi
         |     GROUP BY pi.pi)),
         | wpp AS (SELECT pl.pi AS pi, pl.arm AS arm,
         |     CAST(COALESCE(SUM(wc.n), 0) AS BIGINT) AS wn
         |   FROM pl LEFT JOIN wc ON wc.winner = pl.arm GROUP BY 1, 2),
         | wv AS (SELECT list(wn ORDER BY pi) AS wvec FROM wpp),
         | it(t, s) AS (
         |   SELECT 0, (SELECT list(CAST(1000000 AS BIGINT) ORDER BY pi)
         |     FROM pl)
         |   UNION ALL
         |   SELECT t + 1,
         |     list_transform(raw, r -> GREATEST(CAST(1 AS BIGINT),
         |       CAST(CAST(r AS HUGEINT) * p * 1000000 // list_sum(raw)
         |         AS BIGINT)))
         |   FROM (
         |     SELECT t, p, list_transform(range(1, CAST(p + 1 AS BIGINT)),
         |         i -> CASE WHEN den[i] > 0
         |           THEN CAST((wvec[i] * 1000000000000) // den[i] AS BIGINT)
         |           ELSE CAST(1000000 AS BIGINT) END) AS raw
         |     FROM (
         |       SELECT t, p, wvec,
         |         list_transform(range(1, CAST(p + 1 AS BIGINT)), i ->
         |           list_sum(list_transform(range(1, CAST(p + 1 AS BIGINT)),
         |             j -> CASE WHEN j <> i AND nmat[i][j] > 0
         |               THEN (nmat[i][j] * 1000000000000) // (s[i] + s[j])
         |               ELSE CAST(0 AS BIGINT) END))) AS den
         |       FROM it, nm, wv, np WHERE t < 16) q1) q2),
         | fin AS (SELECT s FROM it WHERE t = 16),
         | gpp AS (SELECT i AS pi, CAST(SUM(n) AS BIGINT) AS games
         |   FROM sym GROUP BY 1)
         |SELECT CAST(w.arm AS BIGINT) AS player,
         |  CAST(COALESCE(g.games, 0) AS BIGINT) AS n_games,
         |  CAST(w.wn AS BIGINT) AS n_wins,
         |  CAST(f.s[w.pi] AS BIGINT) AS strength_micro
         |FROM wpp w LEFT JOIN gpp g ON g.pi = w.pi CROSS JOIN fin f
         |ORDER BY player""".stripMargin,

    // The z-score restated in the same integers: V and the numerator
    // from the window sums, the same floor-sqrt ±1 adjustment, the
    // same sign-split floor divide. The streaming twin q280 drains to
    // the identical relation (shared groupAdvantage).
    "q275_grpo_advantage" -> grpoAdvantageOracle,
    "q280_stream_grpo_advantage" -> grpoAdvantageOracle,

    // Pairwise distinct-bigram Jaccard over the literal grams (the
    // engine's 8-byte hashes are collision-free at these set sizes, the
    // q25 equivalence); same integer ppm floor divides.
    "q276_group_self_overlap" ->
      """WITH d AS (SELECT doc_id, doc_id // 8 AS prompt_id,
        |    string_split(text, ' ') AS w
        |  FROM documents WHERE text IS NOT NULL),
        | g AS (SELECT doc_id, prompt_id,
        |    CASE WHEN len(w) >= 2 THEN list_distinct(
        |        list_transform(range(len(w) - 1),
        |          i -> w[i + 1] || ' ' || w[i + 2]))
        |      ELSE CAST([] AS VARCHAR[]) END AS gs
        |  FROM d),
        | p AS (SELECT a.prompt_id,
        |    CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS inter,
        |    CAST(len(a.gs) + len(b.gs)
        |      - len(list_intersect(a.gs, b.gs)) AS BIGINT) AS uni
        |  FROM g a JOIN g b
        |    ON a.prompt_id = b.prompt_id AND a.doc_id < b.doc_id)
        |SELECT CAST(prompt_id AS BIGINT) AS prompt_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(CAST(SUM(CASE WHEN uni > 0 THEN (1000000 * inter) // uni
        |      ELSE 0 END) AS BIGINT) // COUNT(*) AS BIGINT)
        |    AS mean_jac_ppm
        |FROM p GROUP BY prompt_id ORDER BY prompt_id""".stripMargin,

    // Entropy from the same census algebra (H = ln T − Σ c·ln c / T);
    // ROUND(6) absorbs float-sum order, the q79 ln discipline. The
    // streaming twin q281 drains the same census (shared entropyProfile).
    "q278_entropy_profile" -> entropyProfileOracle,
    "q281_stream_entropy_profile" -> entropyProfileOracle,

    // The OLS moments over the same top-30 rank census, the same
    // slope/intercept association, ROUND(6).
    "q279_zipf_slope" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        | c AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY 1, 2),
        | r AS (SELECT source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY cnt DESC, w) AS rnk, cnt
        |  FROM c),
        | x AS (SELECT source, ln(CAST(rnk AS DOUBLE)) AS x,
        |    ln(CAST(cnt AS DOUBLE)) AS y FROM r WHERE rnk <= 30),
        | m AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |    SUM(x * x) AS sxx
        |  FROM x GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_terms,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
        |    6) AS intercept
        |FROM m ORDER BY source""".stripMargin
  )
}
