package graftbench

import graft.functions.TextFunctions
import graft.operators.{Dedup, Scrub, Similarity}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, size}
import scala.jdk.CollectionConverters._

/** The document-battery queries a curation pass runs: one builder from
  * each of the text, streaming and graph families of `TextQueries`, so
  * every run times the same mix (the workload seed varies only the
  * corpus). Each is the cheapest of its family that has a DuckDB oracle
  * (measured once on a 600-document corpus: q249 0.45 s against 0.5 to
  * 3.5 s for the other streaming builders; q290 is the only graph one),
  * which keeps a pass short enough for several to fit in a run.
  */
object QueryPool {
  /** The layer a query's execution belongs to. */
  def family(name: String): String =
    if (name == "q290_triangle_census") "graphs"
    else if (name.contains("_stream_")) "streaming"
    else "text"

  val Sampled: Seq[String] =
    Seq("q147_scrub_idempotence", "q249_stream_license_scrub", "q290_triangle_census")
}

/** One LLM-data curation pass over a seeded corpus: text cleaning and
  * length filtering, exact and near-duplicate detection with connected
  * components, an IVF index build plus top-10 search over clustered
  * embeddings, and a sample of the document query battery (text,
  * streaming and graph builders) run through the `noop` sink. Quality is
  * checked against the planted duplicates and clones, brute-force top-10
  * computed once in set-up, and the queries' DuckDB oracles.
  */
final class Curation(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._

  private val spark = ctx.spark
  private val sfDir = ctx.work.resolve("tables").toString
  private val docsPath = s"$sfDir/documents.parquet"
  private val vecsPath = s"$sfDir/embeddings.parquet"
  private val cleanPath = ctx.work.resolve("clean").toString
  private val layoutPath = ctx.work.resolve("ivf").toString
  private val MinWords = 20
  private val K = 10

  private var corpus: Gen.Corpus = _
  private var bruteTop: Map[Long, Set[Long]] = Map.empty
  private var exact: Set[(Long, Long)] = Set.empty
  private var pairs: Set[(Long, Long)] = Set.empty
  private var reps: Map[Long, Long] = Map.empty
  private var ivfTop: Map[Long, Set[Long]] = Map.empty

  private val sampled = QueryPool.Sampled

  def nominalPassS: Double = 4.5
  def opSamples: Seq[String] = Seq("query")

  private def vecs: DataFrame = spark.read.parquet(vecsPath)
  private def queries: DataFrame = vecs.filter(col("vec_id").isin(corpus.queryIds: _*))

  def prepare(rep: Int): Unit = {
    corpus = Gen.corpus(ctx.seed, docs = 600, vectors = 1000)
    // Laid out as the engine's table directory (documents, embeddings),
    // so the query builders read them as they read any table set.
    corpus.docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(docsPath)
    corpus.vectors.toDF("vec_id", "embedding", "label").write.mode("overwrite").parquet(vecsPath)
    // Ground truth is computed once per seed.
    if (rep == 0)
      bruteTop = topK(Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", K))
  }

  private def topK(df: DataFrame): Map[Long, Set[Long]] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .as[(Long, Long)].collect().groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

  def pass(): Unit = ctx.timed("curation", "curation pass") {
    ctx.op("step", "text", "Scrub+TextFunctions.clean") {
      spark.read.parquet(docsPath)
        .withColumn("text", Scrub.redactPii(Scrub.stripMarkup(col("text"))))
        .filter(size(TextFunctions.words(col("text"))) >= MinWords)
        .write.mode("overwrite").parquet(cleanPath)
    }
    val clean = spark.read.parquet(cleanPath)
    ctx.op("step", "dedup", "Dedup.exactDuplicates") {
      exact = Dedup.exactDuplicates(clean, "doc_id", Seq("text"))
        .filter(col("n_dups") > 1).select(col("keep_id").cast("long"), col("n_dups").cast("long"))
        .as[(Long, Long)].collect().toSet
    }
    ctx.op("step", "dedup", "Dedup.lshNearDupPairs") {
      pairs = Dedup.lshNearDupPairs(clean, "doc_id", "text", 0.8)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect().toSet
    }
    ctx.op("step", "dedup", "Dedup.nearDupComponents") {
      reps = Dedup.nearDupComponents(pairs.toSeq.toDF("id_a", "id_b"))
        .select(col("doc_id").cast("long"), col("rep_id").cast("long"))
        .as[(Long, Long)].collect().toMap
    }
    ctx.op("step", "similarity", "Similarity.writeIvfLayout")(
      Similarity.writeIvfLayout(vecs, "vec_id", "embedding", layoutPath, nlist = 16, nassign = 2))
    ctx.op("step", "similarity", "Similarity.ivfTopKFromLayout") {
      ivfTop = topK(Similarity.ivfTopKFromLayout(layoutPath, queries, "vec_id", "embedding", K,
        nprobe = 3))
    }
    sampled.foreach { q =>
      ctx.timed("query", q) {
        val df = ctx.trace.span("queries", s"$q build")(
          graft.queries.TextQueries.queries(q)(spark, sfDir))
        ctx.trace.span(QueryPool.family(q), s"$q execute")(
          df.write.format("noop").mode("overwrite").save())
      }
    }
  }

  /** Each sampled query's result for its oracle, or, without one, its
    * row count against an independent rebuild.
    */
  override def pending(): Seq[Pending] = {
    val oracles = graft.queries.TextQueries.oracles
    val tables = Map("documents" -> s"$docsPath/*.parquet", "embeddings" -> s"$vecsPath/*.parquet")
    sampled.map { q =>
      def build() = graft.queries.TextQueries.queries(q)(spark, sfDir)
      val got = ctx.dir("check").resolve(q).toString
      build().write.mode("overwrite").parquet(got)
      oracles.get(q) match {
        case Some(sql) => Pending(s"curation.$q", got, sql, tables)
        case None => Pending(s"curation.$q", got, "", tables, build().count())
      }
    }
  }

  private def neardupRecall: Double =
    (corpus.plantedPairs intersect pairs).size.toDouble / corpus.plantedPairs.size

  private def annAgree: Int =
    corpus.queryIds.map(q => (bruteTop.getOrElse(q, Set.empty) intersect
      ivfTop.getOrElse(q, Set.empty)).size).sum

  def checks(): Seq[Check] = {
    val cleaned = spark.read.parquet(cleanPath).select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
    val tidy = cleaned.count { case (_, t) => !t.contains("@") && !t.contains("<b>") }
    val found = (corpus.plantedPairs intersect pairs).size
    val extra = (pairs -- corpus.plantedPairs).size
    // Every detected pair lands in one component, labelled by its minimum.
    val joined = pairs.count { case (a, b) =>
      reps.get(a).exists(r => reps.get(b).contains(r) && r <= math.min(a, b)) }
    val cloneHits = corpus.clones.count { case (o, c) =>
      !corpus.queryIds.contains(o) || ivfTop.getOrElse(o, Set.empty).contains(c) }
    val annExpected = K * corpus.queryIds.size
    Seq(
      Check("curation.text_clean",
        cleaned.map(_._1).toSet == corpus.keptIds && tidy == cleaned.length,
        corpus.keptIds.size, tidy),
      Check("curation.exact_dups", exact == corpus.exactGroups,
        corpus.exactGroups.size, (exact intersect corpus.exactGroups).size),
      Check("curation.neardup_pairs", neardupRecall >= 0.95 && extra == 0,
        corpus.plantedPairs.size, found),
      Check("curation.components", joined == pairs.size, pairs.size, joined),
      Check("curation.ann_top10", annAgree >= 0.9 * annExpected, annExpected, annAgree),
      Check("curation.clones", cloneHits == corpus.clones.size, corpus.clones.size, cloneHits))
  }

  def named(): Map[String, Double] = Map(
    "curation_s" -> Stats.median(ctx.samples.get("curation")),
    "query_p50_s" -> Stats.median(ctx.samples.get("query")),
    "neardup_recall" -> neardupRecall,
    "ann_recall_at_10" -> annAgree.toDouble / (K * corpus.queryIds.size))

  override def counters(tr: Traced, passes: Int): Map[String, Double] = {
    val layoutBytes = Files.walk(ctx.work.resolve("ivf")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).map(Files.size).sum
    Map(
      "dedup.pairs_per_doc" -> pairs.size.toDouble / corpus.docs.size,
      "similarity.scan_frac" ->
        tr.inputBytesIn("Similarity.ivfTopKFromLayout") / passes.toDouble / layoutBytes,
      "neardup_recall" -> neardupRecall,
      "ann_recall_at_10" -> annAgree.toDouble / (K * corpus.queryIds.size))
  }
}
