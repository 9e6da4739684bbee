package graft

/** Plan-quality regression tests: the properties that make these queries
  * scale (broadcast joins on dims, filter pushdown into the scan,
  * whole-stage codegen in pair scoring, narrow LSH band exchange) are
  * asserted on the optimized plans, so a refactor that silently
  * reintroduces a shuffle or breaks pushdown fails CI, not the bench.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** Plan AFTER execution — AQE stages (and their codegen spans) only
    * materialize in the final adaptive plan.
    */
  private def finalPlanOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q12 star joins stay broadcast (no sort-merge on dims)") {
    val p = planOf("q12_star_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SMJ:\n" + p.take(2000))
  }

  test("q19 filters are pushed into the parquet scan") {
    val p = planOf("q19_filter_pushdown")
    // toString elides long filter lists — assert the prefix and that the
    // data filters made it below the scan at all.
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    assert(p.contains("DataFilters: [isnotnull(l_shipdate"), p.take(2000))
  }

  test("q19 scan reads only the projected columns") {
    val p = planOf("q19_filter_pushdown")
    // ReadSchema must not include unprojected wide columns like l_comment.
    assert(!p.contains("l_comment"), "column pruning broken:\n" + p.take(2000))
  }

  test("q121 box predicates reach the z-ordered parquet scan as pushed filters") {
    // Both range dimensions must land in PushedFilters — that is the
    // entire point of the layout: ordinary stats pruning, no special
    // reader. toString elides long filter lists, so read the scan's
    // metadata directly.
    val scan = SparkEntry.queries("q121_zorder_box")(spark, sfDir)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scan.nonEmpty, "no parquet scan found")
    val pushed = scan.map(_.metadata("PushedFilters")).mkString("; ")
    Seq("GreaterThanOrEqual(o_custkey,100)", "LessThanOrEqual(o_custkey,199)",
      "GreaterThanOrEqual(o_orderdate,", "LessThanOrEqual(o_orderdate,")
      .foreach(b => assert(pushed.contains(b), s"missing $b in: $pushed"))
  }

  test("q90 ORC scan pushes the status filter; q91 JSON scan reads the explicit schema only") {
    val orc = planOf("q90_orc_roundtrip")
    assert(orc.contains("ORC") || orc.contains("orc"), orc.take(500))
    assert(orc.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      "ORC pushdown missing:\n" + orc.take(2000))
    // Projection pruning: the unread o_comment-ish columns (o_orderkey is
    // unused here too) must not appear in ReadSchema.
    assert(!orc.contains("o_custkey"), "ORC column pruning broken:\n" + orc.take(2000))
    val json = planOf("q91_json_roundtrip")
    assert(json.contains("json") || json.contains("Json"), json.take(500))
    assert(!json.contains("props"), "JSON scan read beyond the explicit schema:\n" + json.take(2000))
  }

  test("q31 pair scoring runs inside whole-stage codegen") {
    val p = finalPlanOf("q31_cosine_topk")
    // codegen spans are marked `*(n)` in the final adaptive plan
    assert(p.contains("*("), p.take(2000))
    assert(p.contains("cosine_similarity"), p.take(3000))
  }

  test("q35 feature projection runs inside whole-stage codegen (no mapPartitions)") {
    val p = finalPlanOf("q35_multimodal_features")
    assert(p.contains("*("), "no codegen span:\n" + p.take(2000))
    assert(p.contains("byte_mean"), p.take(3000))
    assert(!p.contains("MapPartitions") && !p.contains("DeserializeToObject"),
      "q35 benched path fell back to the typed decoder boundary:\n" + p.take(3000))
  }

  test("q33 IVF bucket assignment uses the fused ArgTopKCosine kernel") {
    val p = planOf("q33_ivf_ann")
    assert(p.contains("argtopk_cosine"), p.take(3000))
    assert(!p.contains("array_sort"),
      "interpreted array_sort argmax is back in the IVF plan:\n" + p.take(3000))
  }

  test("q24 candidate generation stays narrow (ids only, no shingle sets)") {
    // The post-band-join distinct must aggregate exactly (id_a, id_b):
    // if the shingle sets were still attached here, they would appear in
    // the Deduplicate/Aggregate keys and every exchange after it.
    val p = SparkEntry.queries("q24_minhash_neardup")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    val dedupLines = p.linesIterator
      .filter(l => l.contains("Aggregate [id_a") || l.contains("Deduplicate [id_a")).toSeq
    assert(dedupLines.nonEmpty, "candidate distinct not found:\n" + p.take(3000))
    assert(dedupLines.forall(!_.contains("hs")),
      "candidate distinct carries shingle sets:\n" + dedupLines.mkString("\n"))
  }

  test("q49 band self-join is keyed on (key, salt) — hot bands can spread") {
    val p = planOf("q49_rhp_pairs")
    // The candidate join must carry the salt in its equi-keys: without
    // it a degenerate band is a quadratic hot key on one reducer. The
    // join TYPE is scale-dependent (BHJ at spec scale, SMJ/SHJ at
    // 100 TB) — the pinned property is the KEY LIST [key#.., salt#..],
    // which every keyed join operator prints the same way.
    val joinLines = p.linesIterator.filter(l =>
      l.contains("Join [key#")).toSeq
    assert(joinLines.nonEmpty, "no keyed band join found:\n" + p.take(3000))
    assert(joinLines.exists(_.contains("salt#")),
      "band join keys lack the salt:\n" + joinLines.mkString("\n"))
  }

  test("q119 term join is keyed on (rank, salt); candidate distinct is ids-only") {
    val p = planOf("q119_sparse_allpairs")
    // Hot-term spreading needs the salt in the equi-keys (the q49
    // property, same reasoning).
    val joinLines = p.linesIterator.filter(_.contains("Join [rank#")).toSeq
    assert(joinLines.nonEmpty, "no keyed term join found:\n" + p.take(3000))
    assert(joinLines.exists(_.contains("salt#")),
      "term join keys lack the salt:\n" + joinLines.mkString("\n"))
    // The candidate distinct must aggregate exactly (id_a, id_b): if the
    // sparse vectors were attached here they would ride every exchange
    // after it (the q24 property).
    val dedupLines = p.linesIterator
      .filter(l => l.contains("Aggregate [id_a") || l.contains("HashAggregate(keys=[id_a")).toSeq
    assert(dedupLines.nonEmpty, "candidate distinct not found:\n" + p.take(3000))
    assert(dedupLines.forall(l => !l.contains("ks#") && !l.contains("ws#")),
      "candidate distinct carries sparse vectors:\n" + dedupLines.mkString("\n"))
  }

  test("q104 PII scrub is map-side: the only exchange is the presentation sort") {
    val p = planOf("q104_pii_scrub")
    val ex = p.indexOf("Exchange")
    assert(ex >= 0 && p.indexOf("Exchange", ex + 1) < 0,
      "scrub must not shuffle (one presentation-sort exchange only):\n" + p.take(3000))
    assert(p.contains("rangepartitioning"),
      "the single exchange should be the orderBy:\n" + p.take(2000))
  }

  test("q103 gram frequency aggregates partially; scan reads only (doc_id, text)") {
    val p = planOf("q103_repeated_grams")
    assert(p.contains("partial_count"),
      "gram doc-frequency must map-side combine:\n" + p.take(3000))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "documents scan must be pruned to (doc_id, text):\n" + p.take(3000))
  }

  test("q112 span profile: scan pruned to (doc_id, text); gram agg partial") {
    val p = planOf("q112_duplicate_spans")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "documents scan must be pruned to (doc_id, text):\n" + p.take(3000))
    assert(p.contains("partial_count"),
      "gram doc-frequency must map-side combine:\n" + p.take(3000))
  }

  test("q113 excision rewrite is a codegen'd higher-order filter, not a UDF") {
    val p = planOf("q113_span_excision")
    assert(p.toLowerCase.contains("lambdafunction"),
      "word-keep rewrite must be a higher-order array filter:\n" + p.take(3000))
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("mappartitions"),
      "rewrite must stay on the codegen path:\n" + p.take(3000))
  }

  test("q116 probes the codegen'd bloom kernel below the anti-join") {
    val p = planOf("q116_bloom_incremental")
    assert(p.contains("bloom_might_contain_long"),
      "batch must be bloom-prefiltered before the anti-join:\n" + p.take(3000))
    assert(p.contains("LeftAnti"),
      "sketch positives must still verify via the exact anti-join:\n" + p.take(3000))
  }

  test("q114 overlap matrix has no gram self-join: set agg + broadcast sizes only") {
    val p = planOf("q114_source_overlap")
    assert(p.toLowerCase.contains("partial_collect_set"),
      "per-gram group sets must map-side combine:\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "the gram relation must never self-join:\n" + p.take(3000))
    assert(p.contains("BroadcastHashJoin"),
      "size lookups must broadcast:\n" + p.take(3000))
  }

  test("q50 top-k aggregator merges partial heaps map-side") {
    val p = planOf("q50_topk_aggregator").toLowerCase
    assert(p.contains("partial_topkaggregator"),
      "no partial top-k aggregation:\n" + p.take(2000))
  }

  test("q97 hard negatives: broadcast query set, label filter below the partial heaps") {
    val p = planOf("q97_hard_negatives")
    assert(p.toLowerCase.contains("partial_topkaggregator"),
      "no partial top-k aggregation:\n" + p.take(2000))
    // query side broadcasts (BuildLeft BNLJ) — the corpus is never shuffled
    // for scoring, and the label-inequality filter sits below the agg.
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BuildLeft"),
      p.take(2000))
    assert(p.contains("NOT (__ql") || p.contains("__ql") && p.contains("__cl"),
      "label-inequality filter missing from the scoring stage:\n" + p.take(2000))
  }

  test("q102 layout search prunes to the probed IVF partitions at runtime") {
    import org.apache.spark.sql.functions.col
    val e = Tables.load(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    val layoutDir = Tables.embeddingsIvfLayout(spark, sfDir)
    val df = graft.operators.Similarity.ivfTopKFromLayout(layoutDir, queries,
      "vec_id", "embedding", k = 5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // The probe must reach the layout scan as a partition filter — the
    // broadcast query buckets arrive as a dynamicpruning subquery (q65's
    // mechanism pointed at the ANN index).
    assert(p.contains("dynamicpruning"),
      "layout scan is not runtime-pruned:\n" + p.take(3000))
  }

  test("q100 prefix sum never windows a whole language: detail window is per (lang, bin)") {
    val p = planOf("q100_token_budget_cap")
    // The detail-side running sum must partition by (lang, __bin) — a
    // windowspec over lang alone is the one-task-per-language plan this
    // operator exists to avoid. The bin-offset table joins back broadcast.
    val windows = p.split("windowspecdefinition").toSeq.drop(1)
    assert(windows.exists(w => w.contains("__bin") && w.contains("doc_id")),
      "detail cumsum must be (lang, __bin)-partitioned:\n" + p.take(3000))
    assert(p.contains("BroadcastExchange"),
      "bin offsets must broadcast back:\n" + p.take(3000))
  }

  test("q226 context windows: the global prefix sum is bin-partitioned, " +
      "never one task for the whole stream") {
    val p = planOf("q226_context_windows")
    val windows = p.split("windowspecdefinition").toSeq.drop(1)
    assert(windows.nonEmpty && windows.forall(_.contains("__bin")),
      "every detail cumsum must be __bin-partitioned:\n" + p.take(3000))
    assert(p.contains("BroadcastExchange"),
      "bin offsets must broadcast back:\n" + p.take(3000))
  }

  test("q72 tf is computed once (checkpoint reuse) and the rank limit is pushed") {
    val p = planOf("q72_tfidf_topterms")
    // both consumers of tf read the materialized checkpoint, not a
    // re-run of scan+explode+groupBy
    assert(p.contains("ExistingRDD"), "tf not checkpoint-reused:\n" + p.take(2000))
    assert(p.split("Scan parquet", -1).length - 1 == 1,
      "documents must be scanned exactly once outside the checkpoint:\n" + p.take(2000))
    // Spark's WindowGroupLimit prunes each doc's terms to the top 3
    // BEFORE the window exchange — the shuffle moves ≤3+ rows per doc
    assert(p.contains("WindowGroupLimit"), "rank limit not pushed:\n" + p.take(2000))
  }

  test("q73 chunking fans out map-side (no exchange below the fan-out)") {
    val p = planOf("q73_token_chunks")
    val gen = p.indexOf("Generate")
    val ex = p.indexOf("Exchange")
    assert(gen >= 0, p.take(2000))
    // the only Exchange is the final presentation sort, ABOVE the fan-out
    assert(ex >= 0 && ex < gen, "fan-out must not sit above a shuffle:\n" + p.take(2000))
    assert(p.indexOf("Exchange", ex + 1) < 0,
      "chunking should shuffle once (the orderBy), found more:\n" + p.take(2000))
  }

  test("q74 centroid aggregation merges vector partials map-side") {
    val p = planOf("q74_label_centroids").toLowerCase
    assert(p.contains("partial_vecmeanaggregator"),
      "no partial vector-mean aggregation:\n" + p.take(2000))
    assert(p.contains("broadcasthashjoin"),
      "centroids must broadcast back, not shuffle the corpus:\n" + p.take(2000))
  }

  test("q75 vocabulary head is a bounded TakeOrderedAndProject") {
    val p = planOf("q75_vocab_head")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // the corpus-total branch is a map-side array-length sum — only the
    // head branch pays the explode
    assert(p.split("Generate", -1).length - 1 == 1,
      "total must not re-run the explode:\n" + p.take(2000))
  }

  test("q76 stratified sample merges bounded heaps map-side (no stratum sort)") {
    val p = planOf("q76_stratified_sample").toLowerCase
    assert(p.contains("partial_topkaggregator"),
      "no partial top-k aggregation:\n" + p.take(2000))
    assert(!p.contains("window"),
      "sample must not window-sort the strata:\n" + p.take(2000))
  }

  test("q79 model join degrades to a keyed SMJ when broadcast is off (scale path)") {
    // At sf0.01 stats the bigram model broadcasts; at 100 TB it will
    // not fit. Pin the fallback: with broadcast disabled the scoring
    // join must become a sort-merge join keyed on the bigram — never a
    // nested-loop — and the result must be unchanged.
    val conf = spark.conf
    val old = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    def restore(): Unit = {
      old.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      oldAqe.fold(conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
    }
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q79_bigram_logprob")(spark, sfDir)
      val rows = df.collect()
      val p = df.queryExecution.executedPlan.toString
      // The corpus-side scoring join must become a keyed shuffle join
      // on the bigram (SMJ, or SHJ if AQE downgrades it) — the shape
      // that survives scale. The remaining BroadcastNestedLoopJoin
      // Cross in the plan is the intentional 1-row vctx cross join.
      assert(p.contains("SortMergeJoin [w1") || p.contains("ShuffledHashJoin [w1"),
        "no keyed shuffle-join fallback on the bigram keys:\n" + p.take(3000))
      assert(!p.contains("BroadcastHashJoin"),
        "a broadcast join leaked through the disabled threshold:\n" + p.take(3000))
      restore()
      val broadcastRows = SparkEntry.queries("q79_bigram_logprob")(spark, sfDir).collect()
      assert(rows.toSeq === broadcastRows.toSeq,
        "SMJ and broadcast plans must produce identical results")
    } finally restore()
  }

  test("q01 aggregation is partial+final (map-side combine)") {
    val p = planOf("q01_agg_returnflag")
    assert(p.contains("partial_"), "no partial aggregation:\n" + p.take(2000))
  }

  test("q95 salt census is a collected local relation; salts stay long") {
    val p = planOf("q95_clustered_pairs")
    // The census must replay from the driver-collected rows — if it ever
    // recomputes as a live aggregate, a third corpus scan appears here.
    assert(p.contains("LocalTableScan"),
      "census must be a collected local relation:\n" + p.take(3000))
    assert(p.split("Scan parquet").length - 1 === 2,
      "corpus must scan exactly twice (pair side A and B):\n" + p.take(3000))
    // The round-5 int-wrap hazard: no int cast anywhere on the salt path.
    assert(!p.contains("cast(pmod"),
      "salt must stay LONG end-to-end:\n" + p.take(3000))
  }

  test("q96 anti-joins on fingerprints; history scan reads only the text column") {
    val p = planOf("q96_incremental_new")
    assert(p.contains("LeftAnti"), "incremental dedup must be an anti-join:\n" + p.take(3000))
    assert(p.contains("xxhash64"), p.take(3000))
    // History side is column-pruned to the text it fingerprints (plus
    // doc_id for the fixture's %3 split) — lang/source/n_chars must
    // never be read there.
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "history scan must read only (doc_id, text):\n" + p.take(3000))
  }

  test("q32 exact pairs never broadcast the corpus (CartesianProduct path)") {
    val p = planOf("q32_cosine_pairs")
    assert(!p.contains("BroadcastExchange"),
      "exact all-pairs must not hold the corpus in executor/driver memory:\n" + p.take(3000))
    assert(p.contains("CartesianProduct"), p.take(3000))
  }

  test("q57 as-of join is one keyed exchange + window — no inequality join") {
    val p = planOf("q57_asof_join")
    // The union+window formulation must not degrade into any join
    // operator at all (a naive t-range join would be BNLJ/cartesian).
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "as-of became a join:\n" + p.take(3000))
    assert(p.contains("Window"), p.take(3000))
    assert(p.split("Exchange hashpartitioning").length - 1 === 1,
      "as-of should shuffle exactly once on the key:\n" + p.take(3000))
  }

  test("q58 range join stays an equi-join on (key, bin)") {
    val p = planOf("q58_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join degraded to a nested-loop/cartesian:\n" + p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q63 bucketed join plans with no Exchange (bucket layout replaces the shuffle)") {
    val p = planOf("q63_bucketed_join")
    // The only exchange allowed is the final single-partition sort for
    // the ORDER BY; the JOIN itself must read the bucket layout.
    assert(p.contains("SortMergeJoin"), "merge-hinted join missing:\n" + p.take(3000))
    val joinSection = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinSection.contains("Exchange hashpartitioning"),
      "bucketed join still shuffles on the key:\n" + p.take(3000))
    assert(p.contains("Bucketed: true"), p.take(3000))
  }

  test("q68 applies a runtime Bloom filter to the fact side before the shuffle") {
    val df = SparkEntry.queries("q68_bloom_join")(spark, sfDir)
    // The frame lives on q68's scoped demo-regime session, so the
    // Bloom-filtered plan actually RUNS here, and the result it
    // produces is compared against the plain-join answer.
    val viaBloom = df.collect().map(_.toString).toSeq
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      "no runtime Bloom filter on the fact side:\n" + p.take(3000))
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "demo regime (both sides too big to broadcast) not in effect:\n" + p.take(3000))
    // The demo confs must not leak into the session after plan pinning.
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") !== "-1")
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy("l_returnflag").collect().map(_.toString).toSeq
    assert(viaBloom === expected, "Bloom-filtered plan changed the answer")
  }

  test("q65 runtime-prunes the date-partitioned fact scan (dynamic partition pruning)") {
    val df = SparkEntry.queries("q65_dpp_busy_days")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty, "busy-days join returned no rows")
    val p = df.queryExecution.executedPlan
    assert(p.toString.contains("dynamicpruningexpression"),
      "no DPP filter on the fact scan:\n" + p.toString.take(3000))
    // Runtime proof, not just plan shape: the fact scan must have read
    // strictly fewer day directories than the layout holds.
    val finalPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    // AQE wraps materialized stages in QueryStageExec whose inner plan is
    // not a TreeNode child — descend manually.
    def scansOf(plan: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(q.plan)
      }.flatten
    val scan = scansOf(finalPlan)
      .filter(_.metadata.get("Location").exists(_.contains("events_by_day")))
      .head
    val read = scan.metrics("numPartitions").value
    val layout = new java.io.File(Tables.eventsDayLayout(spark, sfDir))
    val total = layout.listFiles().count(_.getName.startsWith("dt="))
    assert(read > 0 && read < total,
      s"DPP read $read of $total partitions — no runtime pruning")
    assert(rows.length === read,
      "one output row per surviving partition (busy day) expected")
  }

  test("q125 rank never windows the whole table: detail window is per-bin") {
    val p = planOf("q125_equiheight_histogram")
    // The detail-side row_number must partition by __bin — an
    // unpartitioned windowspec over (v, id) is the one-reducer global
    // sort the two-phase rank exists to avoid. Offsets broadcast back.
    val windows = p.split("windowspecdefinition").toSeq.drop(1)
    assert(windows.exists(w => w.contains("__bin#")),
      "detail row_number must be __bin-partitioned:\n" + p.take(3000))
    assert(p.contains("BroadcastExchange"),
      "bin offsets must broadcast back:\n" + p.take(3000))
    // Collect-and-replay: the bin census replays from the driver rows.
    assert(p.contains("LocalTableScan"),
      "bin offsets must replay from the collected census:\n" + p.take(3000))
  }

  test("exactRank (the q119 vocab path) never windows the detail relation unpartitioned") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions._
    // The q119 rank runs behind an eager checkpoint, so its plan must be
    // pinned at the operator itself: the detail-side row_number is
    // __bin-partitioned; the ONLY unpartitioned window replays the
    // collected bin census (LocalTableScan leaves, maxBins-bounded) —
    // never the vocabulary relation.
    val docs = Tables.load(spark, sfDir, "documents")
    val dfreq = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val plan = graft.operators.Profile.exactRank(dfreq, "df", "term", "rank")
      .queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "two-phase rank lost its windows:\n" + plan.toString.take(3000))
    val unpart = windows.filter(_.partitionSpec.isEmpty)
    unpart.foreach { w =>
      val leaves = w.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalTableScanExec]),
        "unpartitioned window over detail data - the single-reducer " +
          "global sort the two-phase rank exists to avoid:\n" + w.toString.take(3000))
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "detail row_number must be bin-partitioned:\n" + plan.toString.take(3000))
  }

  test("q122 ADC candidate stage drops the full vectors (codes-only scan)") {
    // The IVF-PQ candidate scan must carry (query, neighbor, sim) into
    // its distinct/heap stages — if the true corpus vectors (cv) were
    // still attached past the encode projection, they'd appear in the
    // aggregate keys and every exchange of the candidate stage.
    val p = SparkEntry.queries("q122_ivfpq_gate")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    val dedupLines = p.linesIterator
      .filter(l => l.contains("Aggregate [query_id") ||
        l.contains("Deduplicate [query_id")).toSeq
    assert(dedupLines.nonEmpty, "candidate distinct not found:\n" + p.take(3000))
    assert(dedupLines.forall(l => !l.contains("cv#") && !l.contains("recon")),
      "candidate stage still carries vectors:\n" + dedupLines.mkString("\n"))
  }

  test("q208 referee pool stays capped on both sides of the margin mine") {
    // The margin-mine referee is O(n²) by contract and was trimmed to a
    // 2000-pair slice once already; this pin keeps fixture growth from
    // quietly re-inflating it. Both the caption scan and the decoded
    // image-signature side must carry the doc_id < 2000 cap.
    val p = planOf("q208_crossmodal_pairing")
    assert(p.contains("LessThan(doc_id,2000)") || p.contains("doc_id#"),
      "plan rendered unexpectedly:\n" + p.take(2000))
    val caps = p.linesIterator.count(_.contains("< 2000"))
    assert(caps >= 2,
      s"expected the < 2000 referee cap on both pool sides, found $caps:\n" +
        p.take(3000))
    // caption side: the cap reaches the parquet scan as a pushed filter
    assert(p.contains("LessThan(doc_id,2000)"),
      "caption cap not pushed to the documents scan:\n" + p.take(3000))
  }

  test("q229 token-shard read: .bin bytes never enter the pair join") {
    // The .idx is the manifest; the .bin side of the stem join projects
    // only its path (content pruned at the binaryFile scan) and each
    // task side-opens its shard's .bin. At 100 TB the .bin bytes are
    // the whole tokenized corpus — a content-carrying join would
    // shuffle every token once.
    val p = SparkEntry.queries("q229_token_shards_roundtrip")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.size >= 2, "expected both binaryFile scans:\n" + p.take(3000))
    val withContent = scans.count(_.contains("content"))
    assert(withContent === 1,
      s"exactly the idx scan may read content, found $withContent:\n" +
        scans.mkString("\n"))
  }

  test("q132 chunking is a Generate over the pruned scan; only the presentation sort exchanges") {
    val p = planOf("q132_cdc_chunks")
    assert(p.contains("Generate"), p.take(2000))
    assert(p.toLowerCase.contains("readschema: struct<doc_id:bigint,text:string>"),
      "chunk scan must read only (doc_id, text):\n" + p.take(2000))
    assert(p.split("Exchange").length - 1 <= 2,
      "chunking should exchange only for the presentation sort:\n" + p.take(2000))
  }

  test("q142 transition matrix: user-bounded window, broadcast out-count join") {
    val p = planOf("q142_transition_matrix")
    val windows = p.split("windowspecdefinition").toSeq.drop(1)
    assert(windows.exists(_.contains("user_id")),
      "lead() must partition by user_id:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "out-count join must broadcast (25-row dim):\n" + p.take(2000))
  }

  test("q130 weighted sample selects via bounded TakeOrderedAndProject, not a global sort") {
    val p = planOf("q130_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "A-ES selection must be a bounded top-k:\n" + p.take(2000))
  }

  test("q123 LM table broadcasts back to the token stream (corpus never shuffles for scoring)") {
    val p = planOf("q123_dsir_resample")
    assert(p.contains("BroadcastHashJoin"),
      "token→LM scoring join must be broadcast (the LM is model-sized):\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "scoring join degraded to a corpus-wide SMJ:\n" + p.take(2000))
  }

  test("q124 centroids build from map-side vector partials and broadcast back") {
    val p = planOf("q124_prototype_prune").toLowerCase
    assert(p.contains("partial_vecmeanaggregator"),
      "no partial vector-mean aggregation:\n" + p.take(2000))
    assert(p.contains("broadcasthashjoin"),
      "centroids must broadcast back, not shuffle the corpus:\n" + p.take(2000))
  }

  test("q164 rendezvous owners are a pure projection: no explode, " +
      "partial+final agg, two exchanges only") {
    val p = planOf("q164_rendezvous_reshard")
    assert(!p.contains("Generate"),
      "owner must be an array fold, not an exploded shard join:\n" + p.take(2000))
    assert(p.contains("partial_count"),
      "summary must combine map-side:\n" + p.take(2000))
    val n = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(n <= 2, s"expected <= 2 exchanges (groupBy + sort), got $n:\n" +
      p.take(3000))
  }

  test("q160 phrase search: word filter sits below the position join; " +
      "no cartesian stage") {
    val p = planOf("q160_phrase_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "adjacency must be an equi-join on (doc_id, pos):\n" + p.take(3000))
    assert(p.contains("= table") || p.contains("= part"),
      "the query words' equality filters must appear below the join:\n" +
        p.take(3000))
  }

  test("q165 markup strip is map-side: the only exchange is the " +
      "presentation sort") {
    val p = planOf("q165_markup_strip")
    val ex = p.indexOf("Exchange")
    assert(ex >= 0 && p.indexOf("Exchange", ex + 1) < 0,
      "scrub must not shuffle (one presentation-sort exchange only):\n" +
        p.take(3000))
    assert(p.contains("rangepartitioning"),
      "the single exchange should be the orderBy:\n" + p.take(2000))
  }

  test("q179/q183 mixing plans: detail windows stay per (group, bin), " +
      "budgets/weights broadcast back") {
    Seq("q179_temperature_mix", "q183_stride_interleave").foreach { q =>
      val p = planOf(q)
      // no windowspec partitioned by the group alone on the corpus side —
      // the one-task-per-language plan the binned machinery exists to avoid
      val windows = p.split("windowspecdefinition").toSeq.drop(1)
      val corpusWindows = windows.filterNot(_.take(120).contains("__key"))
      assert(corpusWindows.forall(w => w.contains("__bin")),
        s"$q: detail window must include the bin key:\n" + p.take(3000))
      assert(p.contains("BroadcastExchange"),
        s"$q: offsets/budgets must broadcast back:\n" + p.take(2000))
    }
    // q183's final ord window runs over the bounded take=100 head only
    val p183 = planOf("q183_stride_interleave")
    assert(p183.contains("TakeOrderedAndProject") || p183.contains("GlobalLimit"),
      "interleave head must be a bounded top-k:\n" + p183.take(3000))
  }

  test("q182 downsample rewrite is one scan, zero corpus shuffle") {
    val p = planOf("q182_token_downsample")
    // the ceilings are a plan literal, so the rewrite side is Scan →
    // Project(filter HOF) → presentation sort: exactly one parquet scan
    // and exactly one exchange (the orderBy)
    assert(p.split("Scan parquet", -1).length - 1 === 1,
      "rewrite must not rescan for the vocabulary (collected at build):\n" +
        p.take(3000))
    val ex = p.indexOf("Exchange")
    assert(ex >= 0 && p.indexOf("Exchange", ex + 1) < 0,
      "rewrite must not shuffle (one presentation-sort exchange only):\n" +
        p.take(3000))
  }

  test("q211 line-dedup rewrite is map-side: one scan, one presentation " +
      "exchange (drop set is a plan literal)") {
    val p = planOf("q211_line_dedup")
    assert(p.split("Scan parquet", -1).length - 1 === 1,
      "rewrite must not rescan for the line census (collected at build):\n" +
        p.take(3000))
    val ex = p.indexOf("Exchange")
    assert(ex >= 0 && p.indexOf("Exchange", ex + 1) < 0,
      "rewrite must not shuffle (one presentation-sort exchange only):\n" +
        p.take(3000))
  }

  test("q215 anti-join line dedup: distributed drop set joins LeftAnti, " +
      "re-assembly sorts within docs (no global sort, no plan literal)") {
    val p = planOf("q215_line_dedup_antijoin")
    assert(p.contains("LeftAnti"),
      "the drop set must stay distributed as an anti-join:\n" + p.take(3000))
    assert(!p.contains("isInCollection") && !p.contains("INSET"),
      "the distributed regime must not ship the drop set as a literal:\n" +
        p.take(3000))
    // re-assembly is a per-doc collect_list aggregate (array_sort folds
    // into its result expression, which the plan string elides) — and
    // never a plan-level Sort over the exploded line relation: the only
    // Sort node allowed is the final presentation sort
    assert(p.contains("collect_list"),
      "line order must re-assemble per doc via collect_list + array_sort:\n" +
        p.take(3000))
    assert(p.linesIterator.count(_.trim.startsWith("+- Sort")) <= 1,
      "no Sort operator below the presentation sort (per-doc array_sort " +
        "only):\n" + p.take(3000))
  }

  test("q210 gopher rules and q212 nfc normalize are single-scan map-side " +
      "projections") {
    Seq("q210_gopher_rules", "q212_nfc_normalize").foreach { q =>
      val p = planOf(q)
      assert(p.split("Scan parquet", -1).length - 1 === 1,
        s"$q must scan once:\n" + p.take(2000))
      val ex = p.indexOf("Exchange")
      assert(ex >= 0 && p.indexOf("Exchange", ex + 1) < 0,
        s"$q must not shuffle beyond its presentation sort:\n" + p.take(2000))
    }
  }

  test("q224 url canonicalization is a map-side projection: one scan, one " +
      "dedup exchange + presentation sort, no UDF") {
    val p = planOf("q224_url_canonicalize")
    assert(p.split("Scan parquet", -1).length - 1 === 1,
      "q224 must scan documents once:\n" + p.take(2000))
    assert(p.split("Exchange", -1).length - 1 <= 2,
      "q224 must shuffle only for the dedup groupBy + presentation sort:\n" +
        p.take(2000))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "canonicalization must stay in codegen'd built-ins:\n" + p.take(2000))
  }

  test("q225 blocklist applies as a broadcast anti-join") {
    val p = planOf("q225_domain_blocklist")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "the blocklist must broadcast and anti-join:\n" + p.take(3000))
    assert(p.split("Scan parquet", -1).length - 1 === 1,
      "q225 must scan documents once:\n" + p.take(2000))
  }

  test("q186 tombstoned postings search: bucket-pruned lookups + broadcast " +
      "anti-join, no index rewrite") {
    val p = planOf("q186_postings_delete")
    assert(p.contains("SelectedBucketsCount: 1 out of 16"),
      "lookups must still bucket-prune with tombstones applied:\n" + p.take(3000))
    assert(p.contains("BroadcastHashJoin LeftAnti") ||
      (p.contains("LeftAnti") && p.contains("BroadcastExchange")),
      "tombstones must apply as a broadcast anti-join:\n" + p.take(3000))
  }

  test("q172 persisted postings lookups bucket-prune: 1 of 16 buckets " +
      "per phrase word") {
    val p = planOf("q172_postings_phrase_search")
    assert(p.contains("SelectedBucketsCount: 1 out of 16"),
      "each word's equality filter must prune to its bucket:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q250 MaxSim: query slices broadcast, corpus scans once, no " +
      "CartesianProduct, all 16 cosines in codegen") {
    val p = planOf("q250_maxsim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the query side must broadcast:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "corpus×corpus cartesian would be the scale-killer:\n" + p.take(3000))
    assert(p.split("Scan parquet", -1).length - 1 === 2,
      "one corpus scan + one (filtered) query scan:\n" + p.take(2000))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "MaxSim must stay in the codegen cosine kernel:\n" + p.take(2000))
  }

  test("q252 anchor text: row-level data shuffles once into the census; " +
      "stats are census-sized windows") {
    val p = planOf("q252_anchor_text")
    assert(p.split("Scan parquet", -1).length - 1 === 2,
      "docs scan + the 1-row count scan only:\n" + p.take(2000))
    // hash exchanges: census groupBy + census→window repartition — the
    // EXPLODED link rows cross exactly the first one; everything else
    // is the broadcast of the 1-row count and the presentation sort
    assert(p.split("Exchange hashpartitioning", -1).length - 1 <= 2,
      "link rows must shuffle once (census), windows run census-side:\n" +
        p.take(3000))
    assert(p.split("Exchange rangepartitioning", -1).length - 1 === 1,
      "one presentation sort:\n" + p.take(3000))
  }

  test("q263 co-purchase: the cut basket feeds all four consumers — " +
      "lineitem scans once, no cartesian") {
    val p = planOf("q263_copurchase_lift")
    assert(p.split("Scan parquet", -1).length - 1 <= 1,
      "the deduped basket must materialize once:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"),
      "only the 1-row order total may cross-join (broadcast NLJ):\n" +
        p.take(2000))
  }

  test("q269 skip-gram census: one scan, one census exchange before " +
      "the bounded top-k") {
    val p = planOf("q269_skipgram_census")
    assert(p.split("Scan parquet", -1).length - 1 === 1,
      "documents must scan once:\n" + p.take(2000))
    assert(p.split("Exchange hashpartitioning", -1).length - 1 <= 1,
      "pair rows shuffle once into the census:\n" + p.take(2000))
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must be the bounded operator, not a global sort:\n" +
        p.take(2000))
  }

  test("q273 BM25: checkpointed base (no re-scan), broadcast df/query " +
      "joins, no sort-merge, bounded top-k aggregation") {
    val p = planOf("q273_bm25_topk")
    assert(!p.contains("Scan parquet"),
      "the corpus must come from the checkpointed term-filtered base, " +
        "never a second text scan:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "df/query-term joins must broadcast (model-sized sides):\n" +
        p.take(2000))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("Window"),
      "per-query top-10 must be the bounded aggregator, not a window " +
        "sort:\n" + p.take(2000))
  }

  test("q276 self-overlap: hashes travel (no text column past the scan), " +
      "one prompt-keyed exchange per side") {
    val p = planOf("q276_group_self_overlap")
    assert(!p.contains("CartesianProduct"),
      "pairing must be the prompt-keyed equi-join:\n" + p.take(2000))
    // the scan reads text (to hash it map-side), but every EXCHANGE must
    // carry only (prompt_id, id, hash-array) — text never shuffles
    val shufflingText = p.linesIterator
      .filter(_.contains("Exchange")).filter(_.contains("text#"))
    assert(shufflingText.isEmpty,
      "text crossed an exchange:\n" + p.take(2000))
  }

  test("q290 triangles: no cartesian; the edge relation is checkpointed " +
      "(three consumers, zero re-scans)") {
    val p = planOf("q290_triangle_census")
    assert(!p.contains("CartesianProduct"),
      "wedge/closure must be equi-joins:\n" + p.take(2000))
    assert(!p.contains("Scan parquet"),
      "und must come from the checkpoint, not re-derived scans:\n" +
        p.take(2000))
    // Degree-orientation pin: the wedge self-join must key on the
    // oriented low-(degree, id) endpoint (__lo) — keying on a raw
    // id-ordered endpoint reintroduces the Σdeg² hub explosion.
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(l => l.contains("__lo#")),
      "wedge join lost its degree-oriented key:\n" +
        joinLines.mkString("\n"))
    // and the closure join keys on BOTH high endpoints at once.
    assert(joinLines.exists(l =>
        l.contains("__hi#") && l.contains("__hi2#")),
      "closure join must be the (hi, hi2) equi-join:\n" +
        joinLines.mkString("\n"))
  }

  test("q296 late-data: the corpus-sized window is BIN-partitioned — " +
      "only the 64-row census prefix may be unpartitioned") {
    val p = planOf("q296_late_data_audit")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.size >= 2, "expected census + row-level windows:\n" + p.take(2000))
    // the row-level running max must carry a partition spec on bin
    assert(windows.exists(w => w.contains("[bin#")),
      "row-level window lost its bin partitioning:\n" + windows.mkString("\n"))
  }

  test("fanout is a no-op on inputs that are already well split") {
    import spark.implicits._
    val target = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val df = (1 to 1000).toDF("x").repartition(target * 2)
    // already >= shuffle-partition target → same frame back, no new exchange
    assert(GraftSession.fanout(df).rdd.getNumPartitions === target * 2)
    val narrow = (1 to 1000).toDF("x").coalesce(1)
    assert(GraftSession.fanout(narrow).rdd.getNumPartitions === target)
    // A frame with a join/aggregate in its lineage must pass through
    // untouched (its shuffle already split it) — and must not crash on
    // the unprepared physical plan (missing BroadcastExchange).
    val joined = (1 to 100).toDF("x")
      .join((1 to 100).toDF("x"), "x")
      .groupBy("x").count()
    assert(GraftSession.fanout(joined) eq joined)
  }

  test("q326 blocklist census is one scan of codegen kernels, no UDF, no regex scans") {
    val p = planOf("q326_blocklist_census")
    assert(p.split("Scan parquet", -1).length - 1 === 1,
      "q326 must scan documents once:\n" + p.take(2000))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "the Aho-Corasick kernel must be an Expression, not a UDF:\n" +
        p.take(2000))
    assert(p.contains("aho_corasick_counts"),
      "the kernel must appear once as a single expression:\n" + p.take(2000))
  }

  test("q341 triplet build joins on keys only — no cartesian, no nested-loop") {
    val p = planOf("q341_contrastive_triplets")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "anchor/positive/negative joins must stay keyed:\n" + p.take(3000))
  }

  test("q347 MaxScore prunes through broadcast semi-joins; scoring heaps are partial") {
    val p = planOf("q347_maxscore_bm25")
    // the MODEL-SIZED essential-term set must broadcast into its semi
    // join (the candidate semi may legitimately shuffle — it is
    // candidate-set-sized, not model-sized); and nothing may fall back
    // to a cartesian
    assert("BroadcastHashJoin .*LeftSemi".r.findAllIn(p).nonEmpty,
      "essential-term admission must be a broadcast semi-join:\n" +
        p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "no cartesian anywhere in the pruning pipeline:\n" + p.take(3000))
    // bounded top-k heaps, map-side partials (the q273 discipline)
    assert(p.contains("partial_topkaggregator"),
      "final ranking must merge bounded partial heaps:\n" + p.take(3000))
  }

  test("q352 CUSUM windows run over the day census, below the aggregate") {
    val p = planOf("q352_cusum_changepoint")
    val w = p.indexOf("Window")
    assert(w >= 0, "no window in the CUSUM plan:\n" + p.take(2000))
    assert(p.indexOf("HashAggregate", w) >= 0,
      "the CUSUM window must consume the daily census aggregate:\n" +
        p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "baseline join must broadcast, not cross:\n" + p.take(2000))
  }

  test("q354 weighted quantiles window the census aggregate; threshold compare is decimal") {
    val p = planOf("q354_weighted_quantiles")
    val w = p.indexOf("Window")
    assert(w >= 0, "no window in the weighted-quantile plan:\n" + p.take(2000))
    assert(p.indexOf("HashAggregate", w) >= 0,
      "the quantile windows must consume the (group, value) census:\n" +
        p.take(3000))
    assert(p.contains("decimal(38,0)") || p.contains("as decimal"),
      "the threshold compare must run in decimal(38,0):\n" + p.take(3000))
  }

  test("q360 pass@k stays keyed end to end (no cartesian, no UDF)") {
    val p = planOf("q360_pass_at_k")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("q339 apportionment's global window ranks the source census, not the corpus") {
    // the window's input must be an aggregated relation: a HashAggregate
    // appears strictly BELOW the Window in the plan tree
    val p = planOf("q339_budget_apportionment")
    val w = p.indexOf("Window")
    assert(w >= 0, "no window in the apportionment plan:\n" + p.take(2000))
    assert(p.indexOf("HashAggregate", w) >= 0 ||
      p.substring(w).contains("Aggregate"),
      "the global window must consume the per-source aggregate, not rows:\n" +
        p.take(3000))
  }
}
