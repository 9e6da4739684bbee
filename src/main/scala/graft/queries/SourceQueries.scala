package graft.queries

import graft.Tables
import graft.operators.Par
import graft.operators.Checkpoints.CutOps
import org.apache.spark.sql.functions._

/** Source-format round-trips beyond parquet/CSV: ORC and JSON lines.
  * Each query writes a derived copy of a testdata table in the target
  * format (build-once, fingerprint-guarded — see `Tables.derivedLayout`),
  * reads it back through the format's native Spark source, and
  * aggregates; the oracle computes the same answer from the original
  * parquet, so the hash gate proves the round-trip is lossless,
  * including doubles (Spark's JSON writer emits shortest-round-trip
  * literals) and timestamps (carried as epoch-µs longs in JSON).
  */
object SourceQueries {
  import RelationalQueries.Q

  val queries: Map[String, Q] = Map(
    // DATA-CONTRACT EXPECTATIONS (the Great-Expectations / dbt-test
    // capability): a declarative 6-check suite — not-null, range,
    // regex, set-membership, unique-key, referential-integrity —
    // compiled by `operators.Expectations` into ONE fused aggregate
    // pass for the row-local checks plus one keyed census and one
    // broadcast anti-join for the heavy ones (never one job per check,
    // the reference's N+1 trap). The fixture plants one violation
    // family per check with coprime moduli so every census row is
    // non-zero and independently wrong if any rule drifts; the oracle
    // restates each count arithmetically. FULL hash.
    "q350_expectations" -> ((s, dir) =>
      graft.operators.Expectations
        .validate(corruptedOrders(Tables.load(s, dir, "orders")),
          expectationSuite(s, dir))
        .orderBy("check", "target")),

    // Streaming twin of q350 — the data contract enforced AT THE
    // INGESTION DOOR, decomposed into streaming-legal pieces: the fused
    // row-local block is ONE Complete-mode aggregation (state = one
    // row), the unique-key census is one keyed Complete-mode count
    // (state = one entry per key, the streaming-dedup bound), and
    // ref-integrity is a STATELESS stream-static broadcast anti-join
    // with a count. The three drained snapshots assemble the exact
    // 6-row census of the batch run — shares q350's oracle.
    "q351_stream_expectations" -> ((s, dir) => {
      import graft.operators.Expectations
      import org.apache.spark.sql.streaming.OutputMode
      val checks = expectationSuite(s, dir)
      val o = corruptedOrders(Tables.readTableStream(s, dir, "orders"))
      def drain(d: org.apache.spark.sql.DataFrame) =
        graft.streaming.EventStreams.runToMemory(d, OutputMode.Complete())
      val dimB = broadcast(Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey")).distinct())
      // the three expectation legs drain three INDEPENDENT streams over
      // the same bounded source — overlap the drains (guide §2.6; each
      // drain scopes its state-store width to its own cloned session)
      val (rowLocalDrained, keyCensus, refDrain) = Par.all(
        () => drain(Expectations.rowLocalAggRow(o, checks)),
        () => drain(o.groupBy("o_orderkey")
          .agg(count(lit(1)).as("__c"))),
        () => drain(o.filter(col("o_custkey").isNotNull)
          .join(dimB, Seq("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_violations"))))
      val rowLocal = Expectations.rowLocalCensus(rowLocalDrained, checks)
      val uniq = keyCensus.agg(
          coalesce(sum(col("__c") - 1L), lit(0L)).as("n_violations"),
          coalesce(sum(col("__c")), lit(0L)).as("n_rows"))
        .select(lit("unique_key").as("check"),
          lit("o_orderkey").as("target"), col("n_violations"),
          col("n_rows"))
      val total = keyCensus.agg(coalesce(sum(col("__c")), lit(0L))
        .as("n_rows"))
      val ref = refDrain.crossJoin(broadcast(total))
        .select(lit("ref_integrity").as("check"),
          lit("o_custkey").as("target"), col("n_violations"),
          col("n_rows"))
      rowLocal.unionByName(uniq).unionByName(ref)
        .orderBy("check", "target")
    }),

    // ROW-LEVEL QUARANTINE (the dbt store_failures face of q350's
    // suite): the violating ROWS, each tagged with the sorted list of
    // checks it failed — multi-violation rows (moduli coincide) carry
    // compound reason strings, and BOTH copies of a duplicated key
    // flag unique_key (quarantine shows all members, not the
    // statistical excess). FULL hash of (row identity, reasons).
    "q365_quarantine" -> ((s, dir) =>
      graft.operators.Expectations
        .quarantine(corruptedOrders(Tables.load(s, dir, "orders")),
          expectationSuite(s, dir))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("reasons"))
        .orderBy("o_orderkey", "reasons")),

    // Streaming twin of q365 — quarantine routing AT THE DOOR: the
    // row-local checks are pure codegen columns and ref-integrity is a
    // stateless stream-static broadcast join, so the bad-row stream is
    // Append-mode with ZERO state. UniqueKey is deliberately absent —
    // duplicate detection needs cross-row state (that contract lives
    // with the streaming dedup family, q99/q118) and a door-side
    // quarantine should not buffer the world. Oracle restates the
    // stateless reason subset.
    "q366_stream_quarantine" -> ((s, dir) => {
      import graft.operators.Expectations._
      import org.apache.spark.sql.streaming.OutputMode
      val checks = expectationSuite(s, dir)
        .filterNot(_.isInstanceOf[UniqueKey])
      val o = corruptedOrders(Tables.readTableStream(s, dir, "orders"))
      val bad = graft.operators.Expectations.quarantine(o, checks)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("reasons"))
      graft.streaming.EventStreams.runToMemory(bad, OutputMode.Append())
        .orderBy("o_orderkey", "reasons")
    }),

    // Parquet schema evolution: the v1 files predate the `quality`
    // column the v2 files carry; `mergeSchema` widens the unified read
    // schema and fills v1 rows with NULLs — history is never rewritten
    // (the lakehouse column-add path; at 100 TB a backfill rewrite of
    // every old file is the alternative, and it is not an option). The
    // oracle restates the evolved content arithmetically over the raw
    // table, so the gate proves both the NULL-fill and the v2 values.
    "q145_schema_evolution" -> ((s, dir) => {
      val path = Tables.documentsEvolvedLayout(s, dir)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          count(col("quality")).as("n_quality"),
          round(avg(col("quality")), 6).as("avg_quality"))
        .orderBy("lang")
    }),

    // Small-files compaction (the OPTIMIZE maintenance pass): the
    // 64-tiny-file accreted layout is rewritten by
    // `operators.Compaction.compact` into ⌈bytes/target⌉ size-targeted
    // files via one round-robin exchange — at 100 TB, scan cost on an
    // uncompacted table is file-OPEN cost (listing, footer reads, task
    // scheduling), not byte cost. The gate reads the compacted layout
    // back and hashes the FULL content against the original table —
    // compaction must be semantically invisible; CompactionSpec pins
    // the 64 → few file-count collapse and the size targeting.
    "q170_compaction" -> ((s, dir) => {
      val path = Tables.documentsCompactedLayout(s, dir)
      s.read.parquet(path)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    // ORC scan with predicate pushdown: the status filter reaches the
    // ORC reader (PushedFilters), same scan path as parquet.
    // binaryFile-source ingestion — the multimodal front door: a
    // directory of raw per-document payload files reads as (path,
    // content) rows, doc ids recover from filenames, and the q35
    // codegen byte-feature projection runs unchanged on the content
    // column. At 100 TB this is how image/audio corpora enter the
    // engine (binaryFile parallelizes per file and prunes by glob);
    // the hash gate proves file round-trip + id recovery are lossless
    // byte-for-byte against the parquet-side restatement.
    // REAL image decode through the batched codec boundary: the fixture
    // plants one genuine PNG per doc whose dimensions and pixels are
    // exact-integer functions of (doc_id, x, y)
    // (`Tables.documentsPngFilesLayout`), the engine reads them through
    // binaryFile and DECODES them with the JDK's ImageIO
    // (`Multimodal.decodeImageFeatures` — width/height, per-channel
    // BIGINT sums, nearest-neighbor-4×4 rolling hash, all from decoded
    // pixels), and the oracle restates the planted rule arithmetically —
    // PNG is lossless, so a FULL hash gate on a codec path with no
    // codec in DuckDB. A wrong pixel anywhere breaks a sum or the
    // resize hash.
    "q204_image_decode" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val path = Tables.documentsPngFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.png$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("image/png").as("mime"))
        .as[Multimodal.MediaRow]
      Multimodal.decodeImageFeatures(media, rz = 4)
        .toDF()
        .orderBy("doc_id")
    }),

    // Cross-modal caption↔image pairing — the one LLM-pipeline family
    // that joins TEXT to MEDIA: real-decoded image signatures
    // (`Multimodal.imageSignature` — PNG decode → 4×4 red-channel
    // vector + constant bias, the vision-encoder slot) margin-mined
    // against the caption side's aligned-encoder output (the planted
    // stand-in: the q204 pixel rule — an exactly-aligned encoder; at
    // 100 TB both slots hold trained encoders, the pairing machinery
    // is identical). The bias element is load-bearing: ids congruent
    // mod 256 produce pixel patterns that are exact scalings/shifts of
    // each other, which raw cosine cannot tell apart — the bias pins
    // the scale so only the own image scores 1.0.
    // `Similarity.marginMinePairs` normalizes by BOTH
    // endpoints' neighborhood density (Artetxe & Schwenk), the
    // hub-robust score bitext/caption mining actually uses. Gate: every
    // caption must mine ITS OWN image as best match at margin ≥ 1 —
    // violations emit, the oracle is the empty relation (planted
    // recall, the q141 pattern; misalignment is spec-pinned to fire).
    "q208_crossmodal_pairing" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{Multimodal, Similarity}
      val path = Tables.documentsPngFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.png$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("image/png").as("mime"))
        .as[Multimodal.MediaRow]
      // Decode ONCE (both mining directions consume the signatures —
      // without the cut each re-lists and re-decodes the 5000-file
      // layout) and cap the referee at 2000 aligned pairs: the
      // planted-recall law is equally binding on any non-vacuous slice
      // (the q141 rationale), and the margin-mine referee is O(n²) by
      // contract.
      val imgs = graft.operators.Checkpoints.cut(
        Multimodal.imageSignature(media, rz = 4)
          .filter(col("doc_id") < 2000))
      val caps = Tables.load(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("doc_id") < 2000)
        .select(col("doc_id"), expr(
          """transform(sequence(0L, 18L), k -> CAST(CASE
            |  WHEN k = 16 THEN 8 + doc_id % 9
            |  WHEN k = 17 THEN 8 + doc_id % 7
            |  WHEN k = 18 THEN 255
            |  ELSE (doc_id*31 + ((k % 4) * (8 + doc_id % 9) div 4) * 7
            |      + ((k div 4) * (8 + doc_id % 7) div 4) * 13) % 256
            |  END AS DOUBLE))""".stripMargin)
          .as("sig"))
      val mined = Similarity.marginMinePairs(caps, imgs, "doc_id", "sig",
        k = 4, minMargin = 1.0)
      caps.select(col("doc_id").as("src_id"))
        .join(mined, Seq("src_id"), "left")
        .filter(col("tgt_id").isNull || col("tgt_id") =!= col("src_id"))
        .select(col("src_id"), col("tgt_id"))
        .orderBy("src_id")
    }),

    // REAL audio decode through the batched codec boundary — the WAV
    // sibling of q204: the fixture plants one genuine RIFF/PCM16 file
    // per doc whose length and samples are exact-integer functions of
    // (doc_id, t) (`Tables.documentsWavFilesLayout`), the engine reads
    // them through binaryFile and DECODES them with the JDK's
    // javax.sound.sampled (`Multimodal.decodeAudioFeatures` — sample
    // count, rate, Σs, Σs², sign-change count, rolling hash, all from
    // decoded PCM), and the oracle restates the planted rule
    // arithmetically — PCM is lossless, so a FULL hash gate on an audio
    // codec path with no codec in DuckDB. A wrong sample anywhere
    // breaks a sum, the crossing count, or the track hash.
    "q213_audio_decode" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val path = Tables.documentsWavFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.wav$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("audio/wav").as("mime"))
        .as[Multimodal.MediaRow]
      Multimodal.decodeAudioFeatures(media)
        .toDF()
        .orderBy("doc_id")
    }),

    // Silence trimming over the same decoded tracks — the lead/tail cut
    // an audio pipeline runs before feature extraction. A frame is
    // silent iff its decoded energy is EXACTLY zero (the only
    // codec-exact, refereeable silence definition), and the fixture
    // plants silence in whole frames (leading frames by doc_id % 3,
    // every third frame interior) so lead, interior, and tail trims all
    // demonstrably fire. Decode + trim are one map-side pass — the
    // audio never shuffles; the oracle recomputes frame energies from
    // the planted rule.
    "q214_silence_trim" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val path = Tables.documentsWavFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.wav$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("audio/wav").as("mime"))
        .as[Multimodal.MediaRow]
      Multimodal.trimSilence(media, frameLen = 16)
        .toDF()
        .orderBy("doc_id")
    }),

    // WebDataset-style tar-shard round trip — the interchange format
    // large multimodal training reads (one tar per shard, samples as
    // named entries, sequential I/O). The corpus exports through ONE
    // keyed exchange + streaming per-partition tar writes (O(1) task
    // memory, atomic rename publish; `Shards.writeTarShards`), reads
    // back through binaryFile + a STRICT ustar parser that validates
    // every header checksum, and the gate hashes every payload plus
    // its multiplicative-hash shard assignment against the original
    // table — export must be byte-lossless and deterministic.
    "q216_tar_shards_roundtrip" -> ((s, dir) => {
      val path = Tables.documentsTarShardsLayout(s, dir, nShards = 8)
      graft.operators.Shards.readTarShards(s, path)
        .select(col("doc_id"), col("shard"),
          octet_length(col("payload")).cast("bigint").as("n_bytes"),
          md5(col("payload")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // Streaming twin of q216 — shard export at the ingestion door:
    // each micro-batch writes a GENERATION of tar shards via
    // foreachBatch (idempotent under batch replay), and the union of
    // generations read back through the strict parser must reproduce
    // the corpus byte-for-byte. Shares q216's oracle.
    "q223_stream_tar_export" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingTarShardExport(s, dir)),

    // EXACTLY-ONCE streaming ingest into a transactional-manifest
    // layout: every micro-batch publishes as ONE batch-stamped manifest
    // commit, and the gate re-delivers every batch (foreachBatch called
    // twice with the same batchId — the crash-replay case) to prove the
    // stamp turns at-least-once delivery into exactly-once publication.
    // The read-back per-source census must equal the batch census of
    // the table (full hash); a replay that re-committed would either
    // double the census or emit the REPLAYED row — the oracle has
    // neither.
    "q319_stream_manifest_ingest" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingManifestIngest(s, dir)),

    // URL canonicalization + canonical-URL dedup — the FIRST pass of
    // every crawl-derived corpus (C4/CCNet dedup by canonical URL
    // before reading a byte of content). The fixture plants one messy
    // URL per doc from an exact rule on j = doc_id % 24 (case-mangled
    // scheme/host, default and non-default ports, dot-segment paths,
    // shuffled query params with utm_/gclid junk, fragments — the
    // MESS varies per doc_id, the canonical form only per j), the
    // engine canonicalizes with the generic `Urls.canonicalize`
    // column expression (parse_url + codegen HOFs, zero UDF, zero
    // shuffle until the dedup groupBy), and docs collapse ~21:1 onto
    // 24 canonical URLs. The oracle restates the canonical string
    // arithmetically — a wrong case fold, an unstripped :443, a
    // surviving utm_ param or fragment, or a bad dot-segment pop all
    // change a group key and break the hash.
    "q224_url_canonicalize" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .withColumn("url", graft.operators.Urls.canonicalize(
          plantedUrl(col("doc_id") % 24, col("doc_id"))))
        .groupBy("url")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
        .orderBy("url")
    }),

    // Registrable-domain (eTLD+1) rollup + broadcast blocklist
    // admission — crawl politeness, blocklists, and per-site caps all
    // key on the registrable domain, not the hostname. Hosts from the
    // q224 fixture extract under a public-suffix list that includes
    // both `uk` and `co.uk` (so the LONGEST-match PSL rule is load-
    // bearing: shop.site3.co.uk → site3.co.uk, not co.uk); every
    // *.example.com host collapses to example.com. The blocklist is a
    // DATA-side table (broadcast LEFT ANTI — the shape a 10k-domain
    // production blocklist takes; a literal IN-list would not scale),
    // planted to block co.uk sites with even site number. The oracle
    // restates hosts, registrable domains, and the block rule
    // arithmetically.
    "q225_domain_blocklist" -> ((s, dir) => {
      import s.implicits._
      val suffixes = Seq("uk", "co.uk", "com", "org")
      val hosts = Tables.load(s, dir, "documents")
        .withColumn("host", graft.operators.Urls.hostOf(
          plantedUrl(col("doc_id") % 24, col("doc_id"))))
        .withColumn("registrable_domain",
          graft.operators.Urls.registrableDomain(col("host"), suffixes))
      val blocklist = Seq("site0.co.uk", "site2.co.uk", "site4.co.uk")
        .toDF("registrable_domain")
      hosts.join(broadcast(blocklist), Seq("registrable_domain"),
          "left_anti")
        .groupBy("registrable_domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("host").as("n_hosts"))
        .orderBy("registrable_domain")
    }),

    // Per-host politeness scheduling — the crawl-frontier op that
    // turns a URL set into a fetch timetable respecting each host's
    // crawl-delay (the robots.txt contract every crawler honors).
    // Each host's URLs serialize at its delay (here planted from the
    // host string: 250·(1 + len(host) mod 4) ms, the role a parsed
    // robots.txt delay plays); slot k fetches at (k−1)·delay, and
    // slots fold into 10 s scheduler rounds. The whole schedule is ONE
    // window partitioned by host: cross-host parallelism is free, and
    // a hot host's long chain is not skew to fix — serialization at
    // the delay IS the politeness semantics; the scheduler's job is
    // exactly to surface it (max_slot per round = the frontier's
    // drain time). Exact integer throughout.
    "q237_crawl_schedule" -> ((s, dir) => {
      val hosts = Tables.load(s, dir, "documents")
        .withColumn("host", graft.operators.Urls.hostOf(
          plantedUrl(col("doc_id") % 24, col("doc_id"))))
        .withColumn("delay_ms",
          (lit(250) * (lit(1) + length(col("host")) % 4)).cast("bigint"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("host").orderBy("doc_id")
      hosts
        .withColumn("rank", row_number().over(w).cast("bigint"))
        .withColumn("slot_ms", (col("rank") - 1) * col("delay_ms"))
        .withColumn("sched_round", expr("slot_ms div 10000"))
        .select("host", "doc_id", "rank", "delay_ms", "slot_ms",
          "sched_round")
        .orderBy("host", "rank")
    }),

    // Streaming twin of q213 — the codec boundary at the ingestion
    // door: WAV files arrive through the binaryFile FILE STREAM source
    // and decode per-row (stateless, Append mode, zero shuffle). The
    // bounded drain equals batch q213, whose arithmetic oracle this
    // gate shares.
    "q217_stream_audio_decode" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingAudioDecode(s, dir)),

    // BANDED audio near-dup recall gate — the q152 law on the THIRD
    // modality: every fixture track is planted again verbatim under a
    // shifted id, tracks decode to fixed-dim energy envelopes
    // (`Multimodal.audioEnvelope` — what survives re-encoding; raw
    // bytes do not), and the envelope space runs through the same
    // hot-band-salted RHP-LSH + exact-cosine-verify machinery as text
    // shingles, embeddings, and byte histograms. Identical tracks give
    // identical envelopes → every sign bit agrees → banded recall on
    // exact duplicates is 1.0: the gate emits every planted pair the
    // banding missed, and the oracle is the empty relation.
    "q218_audio_banded_neardup" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{Multimodal, Similarity}
      val shift = 1L << 20
      val ids = Tables.load(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("doc_id") < 500)
        .select(col("doc_id")).as[Long]
      val media = ids.flatMap { id =>
        val p = Multimodal.plantedWavBytes(id)
        Seq(Multimodal.MediaRow(id, p, "audio/wav"),
          Multimodal.MediaRow(id + shift, p, "audio/wav"))
      }
      val env = Multimodal.audioEnvelope(media, bins = 16)
      val found = Similarity
        .rhpCosinePairs(env, "doc_id", "env", threshold = 0.999)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      ids.toDF("id_a")
        .select(col("id_a"), (col("id_a") + shift).as("id_b"))
        .join(found, Seq("id_a", "id_b"), "left")
        .filter(col("hit").isNull)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // Silence-delimited segmentation — sessionization for audio:
    // maximal non-silent frame runs become numbered segments (the
    // per-utterance unit a speech pipeline transcribes/embeds).
    // Decode + the gaps-and-islands walk are ONE map-side pass per
    // track (a track's frames live together in its payload — no
    // shuffle, unlike event sessionization); the oracle restates the
    // islands with SQL windows over the planted frame energies.
    "q220_audio_segments" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val path = Tables.documentsWavFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.wav$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("audio/wav").as("mime"))
        .as[Multimodal.MediaRow]
      Multimodal.segmentBySilence(media, frameLen = 16)
        .toDF()
        .orderBy("doc_id", "seg_no")
    }),

    // Sample-rate downconversion round trip — decode → stride-2
    // resample → lossless re-encode → decode AGAIN and feature-extract:
    // the full codec chain must reproduce the planted rule at stride 2
    // (n' = ⌈n/2⌉, s'_t = s_2t, rate 4000), which the oracle restates
    // arithmetically. Any bug in the stride walk or the re-encoded
    // RIFF header breaks a sum, the crossing count, or the track hash.
    "q221_audio_resample" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val path = Tables.documentsWavFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.wav$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("audio/wav").as("mime"))
        .as[Multimodal.MediaRow]
      Multimodal.decodeAudioFeatures(Multimodal.resampleAudio(media, 2))
        .toDF()
        .orderBy("doc_id")
    }),

    // Video frame sampling with REAL per-frame decode — the third
    // modality's decode leg: each doc's planted frame container (magic
    // + index + length-prefixed real PNGs, the structure every real
    // container shares) is parsed strictly, every 2nd frame decodes
    // through the PNG codec, and per-frame channel sums come from the
    // DECODED pixels. The oracle restates the sampled frames' pixel
    // rule arithmetically (frame k's image id is doc_id·131 + k·17) —
    // a container + codec gate with neither in DuckDB.
    "q222_video_frame_sample" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val path = Tables.documentsVidFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.gftv")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.gftv$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("video/x-gftv").as("mime"))
        .as[Multimodal.MediaRow]
      Multimodal.sampleVideoFrames(media, stride = 2)
        .toDF()
        .orderBy("doc_id", "frame_no")
    }),

    // Shot-boundary detection — the classic mean-color-difference cut
    // detector over REAL per-frame decodes: a cut opens a new shot
    // where consecutive frames' summed per-channel mean difference
    // exceeds 40% of the 3·255 maximum. All arithmetic is exact-integer
    // (cross-multiplied means, floor-divided ppm scores), so the oracle
    // restates every cut decision AND every shot's opening score from
    // the planted pixel rule — a segmentation gate over a codec path
    // with no codec in DuckDB. One map-side pass, zero shuffle until
    // the presentation sort: a video's frames live together in its
    // payload (the segmentBySilence scale argument).
    "q227_shot_boundaries" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val path = Tables.documentsVidFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.gftv")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.gftv$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("video/x-gftv").as("mime"))
        .as[Multimodal.MediaRow]
      Multimodal.detectShots(media, thrPermille = 80)
        .toDF()
        .orderBy("doc_id", "shot_no")
    }),

    // PNG metadata scrubbing — the image-side sibling of the q104 text
    // PII scrub (EXIF-class privacy payloads live in annotation
    // chunks: camera serials, GPS fixes, author names). The fixture
    // plants 1 + doc_id % 3 CRC-correct tEXt chunks (28 bytes each)
    // into each planted PNG, the engine strips exactly the
    // pure-annotation chunk set via a strict CRC-validating chunk walk
    // (pixel-affecting ancillary chunks are NEVER touched — the
    // contract is pixel-losslessness, proven by re-DECODING the
    // scrubbed bytes), and the oracle restates the decoded pixel sums
    // from the planted rule plus the metadata accounting from the
    // deterministic plant. One map-side pass; payloads never shuffle.
    "q228_png_meta_scrub" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val path = Tables.documentsPngFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.png$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("image/png").as("mime"))
        .as[Multimodal.MediaRow]
      Multimodal.pngScrubGate(media)
        .toDF()
        .orderBy("doc_id")
    }),

    // Token-id binary shard round trip — the memmap artifact LLM
    // pretraining actually consumes (Megatron-LM `.bin`/`.idx`,
    // nanoGPT's flat token file): fixed-width md5-derived token ids
    // concatenated per shard plus a fixed-width per-doc index, written
    // with the tar exporter's discipline (one keyed exchange, O(1)
    // task memory, attempt-safe tmps, atomic rename — `.bin` before
    // `.idx` so a visible index implies its data). The gate reads the
    // shards back through the STRICT pair-joining parser and hashes
    // every doc's token count, id sum, and an ORDER-SENSITIVE rolling
    // id hash against the oracle's restatement from raw text — a
    // byte-level container gate where the oracle re-derives every
    // token id arithmetically.
    "q229_token_shards_roundtrip" -> ((s, dir) => {
      import graft.operators.TokenShards
      val path = Tables.documentsTokenShardsLayout(s, dir, nShards = 8)
      TokenShards.readTokenShards(s, path)
        .select(col("doc_id"), col("shard"),
          size(col("ids")).cast("bigint").as("n_tokens"),
          aggregate(col("ids"), lit(0L), (a, v) => a + v).as("id_sum"),
          aggregate(col("ids"), lit(0L),
            (a, v) => (a * 1000003L + v) % 1000000007L).as("id_hash"))
        .orderBy("doc_id")
    }),

    // Streaming twin of q227 — shot detection at the ingestion door
    // (the video leg of the streaming decode matrix: audio q217,
    // tokens q230). detectShots is a stateless per-payload map, so the
    // bounded drain equals the batch operator on the q217-style
    // referee slice (docs 0-999, listing-pruning glob).
    "q231_stream_shot_boundaries" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingShotBoundaries(s, dir)),

    // Streaming twin of q238's decode — image admission profiling at
    // the ingestion door (the image leg of the streaming decode
    // matrix: audio q217, video q231, tokens q230). imageProfile is a
    // stateless per-payload map (dims + perceptual dHash in one
    // decode); bounded drain on the q217 referee slice (docs 0-999).
    "q239_stream_image_profile" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingImageProfile(s, dir)),

    // Streaming twin of q229 — token-shard export at the ingestion
    // door: each micro-batch writes a GENERATION of .bin/.idx pairs
    // (idempotent under replay), and the union of generations must
    // re-derive every document's token stream. Shares q229's oracle.
    "q230_stream_token_shards" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingTokenShardExport(s, dir)),

    // WebDataset PAIRED-modality round trip — the layout multimodal
    // training actually streams: each sample's caption and image are
    // ADJACENT entries in the same shard tar (<id>.txt + <id>.png), so
    // a trainer reads a sample's modalities with sequential I/O and no
    // join at read time. The fixture builds the pairs with the honest
    // cross-modal join (table x media directory), exports through the
    // attempt-safe tar writer, reads back through the strict parser,
    // and the gate verifies BOTH modalities end to end: caption md5
    // against the table, and the image entries RE-DECODED with the
    // pixel sums + resize hash restated from the planted rule.
    "q232_wds_sample_roundtrip" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{Multimodal, Shards}
      val path = Tables.documentsWdsShardsLayout(s, dir)
      val rows = graft.operators.Checkpoints.cut(
        Shards.readTarSampleShards(s, path))
      val txt = rows.filter(col("ext") === "txt")
        .select(col("doc_id"), col("shard"), md5(col("payload")).as("text_md5"))
      val img = Multimodal.decodeImageFeatures(
        rows.filter(col("ext") === "png")
          .select(col("doc_id"), col("payload"),
            lit("image/png").as("mime"))
          .as[Multimodal.MediaRow]).toDF()
      txt.join(img, Seq("doc_id")).orderBy("doc_id")
    }),

    // Perceptual difference hash (dHash) from REAL decodes — the
    // image-dedup primitive production crawls bucket on (re-encodes
    // and resizes change bytes, not gradients): 9x8 nearest-neighbor
    // luma grid, bit k = j*8+i set iff luma(i+1,j) > luma(i,j), luma =
    // raw channel sum (monotone-equivalent, division-free). Every bit
    // is an exact-integer decision, so the oracle restates the FULL
    // 64-bit hash (as two 32-bit halves) and the popcount in SQL — a
    // full hash gate on a perceptual hash with no codec in DuckDB.
    "q233_image_dhash" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val path = Tables.documentsPngFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.png$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("image/png").as("mime"))
        .as[Multimodal.MediaRow]
      Multimodal.imageDHash(media).toDF().orderBy("doc_id")
    }),

    // Banded Hamming near-dup over the perceptual hash — the workflow
    // image dedup actually runs (dHash + Hamming <= r via LSH-style
    // banding: 4 x 16-bit bands, <= 2 differing bits leaves >= 2 bands
    // intact, so every planted pair MUST share a band). The fixture
    // plants, for each base image, a copy whose (i=4, j=3) grid pixel
    // is forced to white — a one-pixel re-touch that moves at most 2
    // dHash bits, the perceptual-dup regime byte hashing cannot see.
    // Gate: every planted (base, copy) pair must surface from the
    // band join with verified Hamming <= 8 — violations emit, the
    // oracle is the empty relation (planted recall, the q218 pattern;
    // misalignment is spec-pinned to fire).
    "q234_image_banded_neardup" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val shift = 1L << 20
      val media = s.range(0L, 200L).flatMap { id =>
        def png(img: java.awt.image.BufferedImage): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        val base = Multimodal.plantedImage(id)
        val pert = Multimodal.plantedImage(id)
        pert.setRGB(4 * pert.getWidth / 9, 3 * pert.getHeight / 8, 0xffffff)
        Seq(Multimodal.MediaRow(id, png(base), "image/png"),
          Multimodal.MediaRow(id + shift, png(pert), "image/png"))
      }
      val hashes = graft.operators.Checkpoints.cut(
        Multimodal.imageDHash(media).toDF())
      val bands = hashes.select(col("doc_id"), explode(array(
        col("dhash_lo") % 65536,
        shiftright(col("dhash_lo"), 16) + lit(1L << 17),
        (col("dhash_hi") % 65536) + lit(2L << 17),
        shiftright(col("dhash_hi"), 16) + lit(3L << 17)))
        .as("band"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
      val verified = cand
        .join(hashes.select(col("doc_id").as("id_a"),
          col("dhash_hi").as("ha"), col("dhash_lo").as("la")), Seq("id_a"))
        .join(hashes.select(col("doc_id").as("id_b"),
          col("dhash_hi").as("hb"), col("dhash_lo").as("lb")), Seq("id_b"))
        .filter(bit_count(expr("ha ^ hb")) + bit_count(expr("la ^ lb"))
          <= lit(8))
        .select(col("id_a"), col("id_b"))
      s.range(0L, 200L).toDF("id_a")
        .select(col("id_a"), (col("id_a") + shift).as("id_b"))
        .join(verified, Seq("id_a", "id_b"), "left_anti")
        .orderBy("id_a")
    }),

    // Incremental perceptual image dedup — the missing cell of the
    // incremental-dedup matrix (exact text q96 / LSH text q111 /
    // chunks q139 / images HERE): an arriving batch is screened
    // against a dHash HISTORY by the q234 band join — candidates are
    // batch-keys × history-keys (batch-bounded, never a self-join,
    // history never rescans) — with the exact Hamming ≤ 8 verify on
    // candidates only. The fixture plants 75 one-pixel re-crawls of
    // history images (each MUST drop — identical pixels but one, so
    // ≤ 8 dHash bits move and at least one 16-bit band is untouched)
    // plus 50 unseen planted images; the survival direction gates in
    // AGGREGATE (at least one unseen image survives) because distinct
    // planted images are not pairwise-far in dHash space by
    // construction — a per-image survival claim would encode fixture
    // coincidence, not operator semantics. Oracle: empty.
    "q301_image_incremental" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val shift = 1L << 20
      def png(img: java.awt.image.BufferedImage): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val history = s.range(0L, 150L).map { id =>
        Multimodal.MediaRow(id, png(Multimodal.plantedImage(id)),
          "image/png")
      }
      val batch = s.range(0L, 125L).map { i =>
        if (i < 75L) {
          val pert = Multimodal.plantedImage(i)
          pert.setRGB(4 * pert.getWidth / 9, 3 * pert.getHeight / 8,
            0xffffff)
          Multimodal.MediaRow(i + shift, png(pert), "image/png")
        } else {
          val id = 150L + (i - 75L)
          Multimodal.MediaRow(id + shift,
            png(Multimodal.plantedImage(id)), "image/png")
        }
      }
      val hHist = graft.operators.Checkpoints.cut(
        Multimodal.imageDHash(history).toDF())
      val hBatch = graft.operators.Checkpoints.cut(
        Multimodal.imageDHash(batch).toDF())
      def bands(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), explode(array(
          col("dhash_lo") % 65536,
          shiftright(col("dhash_lo"), 16) + lit(1L << 17),
          (col("dhash_hi") % 65536) + lit(2L << 17),
          shiftright(col("dhash_hi"), 16) + lit(3L << 17))).as("band"))
      val dropped = bands(hBatch).as("x")
        .join(bands(hHist).select(col("doc_id").as("hid"), col("band")),
          Seq("band"))
        .select(col("doc_id"), col("hid")).distinct()
        .join(hBatch.select(col("doc_id"), col("dhash_hi").as("bh"),
          col("dhash_lo").as("bl")), Seq("doc_id"))
        .join(hHist.select(col("doc_id").as("hid"),
          col("dhash_hi").as("hh"), col("dhash_lo").as("hl")), Seq("hid"))
        .filter(bit_count(expr("bh ^ hh")) + bit_count(expr("bl ^ hl"))
          <= lit(8))
        .select(col("doc_id")).distinct()
      val kept = hBatch.select(col("doc_id"))
        .join(dropped, Seq("doc_id"), "left_anti")
      // violations, both directions
      val noSurvivor = kept.filter(col("doc_id") >= shift + 150L)
        .agg(count(lit(1)).as("n")).filter(col("n") === 0)
        .select(lit("no_new_survivor").as("violation"),
          lit(-1L).as("doc_id"))
      kept.filter(col("doc_id") < shift + 75L)
        .withColumn("violation", lit("recrawl_survived"))
        .select("violation", "doc_id")
        .unionByName(noSurvivor)
        .orderBy("violation", "doc_id")
    }),

    // Image-curation admission pipeline — the LAION-style pass that
    // turns a raw image crawl into a training set: decode once, apply
    // the size floor (min dim ≥ 9) and aspect bound (max/min ≤ 3/2 as
    // the exact-integer cross-multiplication 2·max ≤ 3·min), then
    // keep-first perceptual dedup on the exact dHash among admission
    // survivors. The fixture re-ingests every corpus PNG a second time
    // under a shifted id (the re-crawled re-encode case perceptual
    // hashing exists for), so the dup branch is non-vacuous by
    // construction: each copy collapses onto its base (keeper = min
    // id). ONE decode per payload (`imageProfile` fuses dims + hash);
    // after the decode only (id, dims, two 32-bit halves) shuffle —
    // pixels never do. Statuses are mutually exclusive in priority
    // order too_small > bad_aspect > perceptual_dup > admitted, and
    // the oracle restates dims, the full hash, and both rules.
    "q238_image_curation" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val shift = 1L << 20
      val path = Tables.documentsPngFilesLayout(s, dir)
      val base = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.png$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"),
          lit("image/png").as("mime"))
      val media = base.union(base.select(
        (col("doc_id") + shift).as("doc_id"), col("payload"), col("mime")))
        .as[Multimodal.MediaRow]
      val prof = graft.operators.Checkpoints.cut(
        Multimodal.imageProfile(media).toDF())
      val mn = least(col("width"), col("height"))
      val mx = greatest(col("width"), col("height"))
      val flagged = prof.withColumn("filter_status",
        when(mn < 9, "too_small")
          .when(mx * 2 > mn * 3, "bad_aspect"))
      val keepers = flagged.filter(col("filter_status").isNull)
        .groupBy("dhash_hi", "dhash_lo").agg(min("doc_id").as("kp"))
      flagged.join(keepers, Seq("dhash_hi", "dhash_lo"), "left")
        .select(col("doc_id"), col("width"), col("height"),
          when(col("filter_status").isNotNull, col("filter_status"))
            .when(col("doc_id") === col("kp"), "admitted")
            .otherwise("perceptual_dup").as("status"),
          when(col("filter_status").isNull, col("kp"))
            .otherwise(lit(null).cast("bigint")).as("keeper"))
        .orderBy("doc_id")
    }),

    "q184_binaryfile_ingest" -> ((s, dir) => {
      val path = Tables.documentsBinFilesLayout(s, dir)
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
        .select(regexp_extract(col("path"), "(\\d+)\\.bin$", 1)
          .cast("bigint").as("doc_id"),
          col("content").as("payload"))
      graft.operators.Multimodal.featureColumns(media)
        .select(col("doc_id"), col("n_bytes"), col("sha256_hex"),
          round(col("brightness"), 6).as("brightness"))
        .orderBy("doc_id")
    }),

    "q90_orc_roundtrip" -> ((s, dir) => {
      val path = Tables.ordersOrcLayout(s, dir)
      s.read.orc(path)
        .filter(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_price"))
        .orderBy("o_orderpriority")
    }),

    // Avro scan: row-major format with an embedded writer schema (no
    // inference pass, no explicit schema needed) and timestamp-micros
    // logical types — the oracle aggregates the original parquet, so
    // the hash gate proves doubles AND timestamps survive the
    // round-trip bit-exactly.
    "q94_avro_roundtrip" -> ((s, dir) => {
      val path = Tables.lineitemAvroLayout(s, dir)
      s.read.format(Tables.AvroFormat).load(path)
        .filter(col("l_quantity") >= 25)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_extendedprice"), 2).as("total_price"),
          min("l_shipdate").as("min_ship"), max("l_shipdate").as("max_ship"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Z-ordered layout under a 2-D box predicate: the scan reads the
    // Morton-clustered copy of orders (ZOrder.writeZOrdered — one range
    // exchange at build time, min-max-prunable files forever after) and
    // both range filters reach the reader as PushedFilters (PlanSpec);
    // the oracle runs the same box on the ORIGINAL parquet, so the hash
    // gate proves the clustering is pure layout — zero semantic drift.
    // The pruning geometry itself (files touched per box vs a linear
    // sort) is pinned in ZOrderSpec.
    "q121_zorder_box" -> ((s, dir) => {
      val path = Tables.ordersZOrderLayout(s, dir)
      s.read.parquet(path)
        .filter(col("o_custkey").between(100, 199) &&
          col("o_orderdate").between(
            lit("1997-01-01").cast("timestamp"),
            lit("1997-12-31").cast("timestamp")))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
          "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // JSON-lines scan with an EXPLICIT schema — inference would add a
    // full pass over the data at scale.
    // PERMISSIVE-mode corrupt-record quarantine — the ingestion reality
    // q91's clean round trip skips: real JSONL feeds carry broken
    // lines, and the contract is (a) good rows parse untouched, (b)
    // corrupt lines land in `_corrupt_record` VERBATIM and are
    // quarantined with an audit census, (c) nothing disappears
    // silently. The fixture plants "BAD <id>" for every event_id
    // % 13 == 0 (content-derived, so deterministic under any file
    // order); the corrupt census carries (count, Σ of the ids parsed
    // BACK out of the quarantined raw lines) — an order-free exact
    // fingerprint, no corpus-sized collect_list (the oracle recomputes
    // both from the id rule). The parsed frame checkpoints once (the
    // Spark restriction on referencing only the corrupt column, and
    // two consumers).
    "q307_json_quarantine" -> ((s, dir) => {
      val path = Tables.eventsDirtyJsonLayout(s, dir)
      val parsed = s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "value DOUBLE, ts_us BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cutLineage
      val good = parsed.filter(col("_corrupt_record").isNull)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .select(lit("good").as("kind"), col("event_type").as("key"),
          col("n"))
      val bad = parsed.filter(col("_corrupt_record").isNotNull)
        .select(substring(col("_corrupt_record"), 5, 32).cast("bigint")
          .as("bad_id"))
        .agg(count(lit(1)).as("n"), sum("bad_id").as("id_sum"))
        .select(lit("corrupt").as("kind"),
          col("id_sum").cast("string").as("key"), col("n"))
      good.unionByName(bad).orderBy("kind", "key")
    }),

    "q91_json_roundtrip" -> ((s, dir) => {
      val path = Tables.eventsJsonLayout(s, dir)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "value DOUBLE, ts_us BIGINT")
        .json(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          min(col("ts_us")).as("min_ts_us"), max(col("ts_us")).as("max_ts_us"))
        .orderBy("event_type")
    })
  )

  /** The q224/q225 messy-URL fixture: one URL per doc whose CANONICAL
    * form depends only on j = doc_id % 24 while the surface mess
    * (letter case, planted default port, dot-segments, param order,
    * tracking junk, fragments) varies with the full doc_id — so
    * canonicalization must actually do its job for docs to collapse
    * onto their 24 canonical URLs. Kept injective per j (CRT on the
    * rule moduli), restatable arithmetically by the oracles.
    */
  private def plantedUrl(j: org.apache.spark.sql.Column,
                         id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val scheme = when(j % 3 === 0,
        when(id % 2 === 0, lit("HTTPS")).otherwise(lit("https")))
      .otherwise(when(id % 2 === 0, lit("HTTP")).otherwise(lit("hTtp")))
    val hostCore = concat(lit("SiTe"), (j % 8).cast("string"))
    val host = when(j % 5 === 0,
        concat(lit("Shop."), hostCore, lit(".CO.UK")))
      .otherwise(concat(
        when(j % 4 === 0, lit("WWW.")).otherwise(lit("")),
        hostCore, lit(".ExAmPle.COM")))
    val port = when(j % 3 === 0 && id % 2 === 0, lit(":443"))
      .when(j % 3 =!= 0 && j % 8 === 1, lit(":8080"))
      .otherwise(lit(""))
    val path = when(j % 7 === 0,
        when(id % 3 === 0, lit("/.")).otherwise(lit("")))
      .otherwise(when(id % 3 === 0,
          concat(lit("/a/../p"), (j % 6).cast("string"), lit("/./x/")))
        .otherwise(concat(lit("/p"), (j % 6).cast("string"), lit("/x"))))
    val query = when(j % 11 === 0, lit(""))
      .otherwise(when(id % 2 === 0,
          concat(lit("?utm_source=n"), (id % 7).cast("string"),
            lit("&b="), (j % 2).cast("string"), lit("&A=1")))
        .otherwise(concat(lit("?b="), (j % 2).cast("string"),
          lit("&gclid=g"), (id % 3).cast("string"), lit("&A=1"))))
    val frag = when(id % 2 === 1,
      concat(lit("#s"), (id % 4).cast("string"))).otherwise(lit(""))
    concat(scheme, lit("://"), host, port, path, query, frag)
  }

  /** The q350/q351 planted-corruption fixture: one violation family per
    * check on coprime moduli (89 null date, 97 negative price, 101 bad
    * priority, 103 bad status, 107 orphan custkey, 113 duplicated row)
    * so every census row is non-zero and independently wrong if any
    * check rule drifts. Streaming-legal (pure column ops + a self
    * union).
    */
  private def corruptedOrders(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val o = orders
      .withColumn("o_orderdate",
        when(col("o_orderkey") % 89 === 0,
          lit(null).cast("timestamp_ntz"))
          .otherwise(col("o_orderdate")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 101 === 0, lit("9-BAD"))
          .otherwise(col("o_orderpriority")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 103 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
      .withColumn("o_custkey",
        when(col("o_orderkey") % 107 === 0,
          col("o_custkey") + 1000000000L).otherwise(col("o_custkey")))
    o.unionByName(o.filter(col("o_orderkey") % 113 === 0))
  }

  /** The 6-check contract both q350 (batch) and q351 (streaming) run. */
  private def expectationSuite(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[graft.operators.Expectations.Check] = {
    import graft.operators.Expectations._
    Seq(NotNull("o_orderdate"),
      InRange("o_totalprice", 0.0, 1e9),
      Matches("o_orderpriority", "[1-5]-[A-Z ]+"),
      InSet("o_orderstatus", Seq("O", "F", "P")),
      UniqueKey(Seq("o_orderkey")),
      RefIntegrity("o_custkey", Tables.load(s, dir, "customer"),
        "c_custkey"))
  }

  /** Shared by q350 (batch) and q351 (streaming twin): each planted
    * violation family restated arithmetically over the same dupped
    * fixture; unique-key excess = rows − distinct keys.
    */
  private lazy val expectationsOracle =
    """WITH d AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 89 = 0 THEN NULL
        |      ELSE o_orderdate END AS o_orderdate,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
        |      ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 101 = 0 THEN '9-BAD'
        |      ELSE o_orderpriority END AS o_orderpriority,
        |    CASE WHEN o_orderkey % 103 = 0 THEN 'X'
        |      ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 107 = 0 THEN o_custkey + 1000000000
        |      ELSE o_custkey END AS o_custkey
        |  FROM orders),
        | u AS (SELECT * FROM d
        |   UNION ALL SELECT * FROM d WHERE o_orderkey % 113 = 0),
        | t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM u)
        |SELECT c."check", c.target, c.n_violations, t.n_rows
        |FROM (
        |  SELECT 'in_range' AS "check", 'o_totalprice' AS target,
        |    (SELECT CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
        |       AND (o_totalprice < 0 OR o_totalprice > 1000000000)
        |       THEN 1 ELSE 0 END) AS BIGINT) FROM u) AS n_violations
        |  UNION ALL
        |  SELECT 'in_set', 'o_orderstatus',
        |    (SELECT CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
        |       AND o_orderstatus NOT IN ('O', 'F', 'P')
        |       THEN 1 ELSE 0 END) AS BIGINT) FROM u)
        |  UNION ALL
        |  SELECT 'matches', 'o_orderpriority',
        |    (SELECT CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
        |       AND NOT regexp_full_match(o_orderpriority, '[1-5]-[A-Z ]+')
        |       THEN 1 ELSE 0 END) AS BIGINT) FROM u)
        |  UNION ALL
        |  SELECT 'not_null', 'o_orderdate',
        |    (SELECT CAST(SUM(CASE WHEN o_orderdate IS NULL
        |       THEN 1 ELSE 0 END) AS BIGINT) FROM u)
        |  UNION ALL
        |  SELECT 'ref_integrity', 'o_custkey',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM u
        |     WHERE o_custkey IS NOT NULL
        |       AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        |  UNION ALL
        |  SELECT 'unique_key', 'o_orderkey',
        |    (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
        |     FROM u)
        |) c CROSS JOIN t
        |ORDER BY c."check", c.target""".stripMargin

  val oracles: Map[String, String] = Map(
    // The streaming twin assembles the identical 6-row census from its
    // three drained snapshots — one shared restatement.
    "q351_stream_expectations" -> expectationsOracle,
    // The stateless reason subset (no unique_key) over the same dupped
    // fixture — duplicated keys still appear TWICE as rows (the union
    // replays), they just can't carry the cross-row reason.
    "q366_stream_quarantine" ->
      """WITH d AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 89 = 0 THEN NULL
        |      ELSE o_orderdate END AS o_orderdate,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
        |      ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 101 = 0 THEN '9-BAD'
        |      ELSE o_orderpriority END AS o_orderpriority,
        |    CASE WHEN o_orderkey % 103 = 0 THEN 'X'
        |      ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 107 = 0 THEN o_custkey + 1000000000
        |      ELSE o_custkey END AS o_custkey
        |  FROM orders),
        | u AS (SELECT * FROM d
        |   UNION ALL SELECT * FROM d WHERE o_orderkey % 113 = 0),
        | r AS (SELECT u.*, list_sort(list_filter([
        |    CASE WHEN o_orderdate IS NULL
        |      THEN 'not_null:o_orderdate' END,
        |    CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0 OR o_totalprice > 1000000000)
        |      THEN 'in_range:o_totalprice' END,
        |    CASE WHEN o_orderpriority IS NOT NULL
        |      AND NOT regexp_full_match(o_orderpriority, '[1-5]-[A-Z ]+')
        |      THEN 'matches:o_orderpriority' END,
        |    CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O', 'F', 'P')
        |      THEN 'in_set:o_orderstatus' END,
        |    CASE WHEN o_custkey IS NOT NULL
        |      AND o_custkey NOT IN (SELECT c_custkey FROM customer)
        |      THEN 'ref_integrity:o_custkey' END
        |  ], x -> x IS NOT NULL)) AS rl FROM u)
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  array_to_string(rl, ',') AS reasons
        |FROM r WHERE len(rl) > 0
        |ORDER BY o_orderkey, reasons""".stripMargin,
    // Per-row reasons restated over the same dupped fixture; both
    // copies of a duplicated key flag, sorted compound reasons match
    // the engine's concat_ws of a sorted array.
    "q365_quarantine" ->
      """WITH d AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 89 = 0 THEN NULL
        |      ELSE o_orderdate END AS o_orderdate,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
        |      ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 101 = 0 THEN '9-BAD'
        |      ELSE o_orderpriority END AS o_orderpriority,
        |    CASE WHEN o_orderkey % 103 = 0 THEN 'X'
        |      ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 107 = 0 THEN o_custkey + 1000000000
        |      ELSE o_custkey END AS o_custkey
        |  FROM orders),
        | u AS (SELECT * FROM d
        |   UNION ALL SELECT * FROM d WHERE o_orderkey % 113 = 0),
        | dupk AS (SELECT o_orderkey FROM u GROUP BY 1 HAVING COUNT(*) > 1),
        | r AS (SELECT u.*, list_sort(list_filter([
        |    CASE WHEN o_orderdate IS NULL
        |      THEN 'not_null:o_orderdate' END,
        |    CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0 OR o_totalprice > 1000000000)
        |      THEN 'in_range:o_totalprice' END,
        |    CASE WHEN o_orderpriority IS NOT NULL
        |      AND NOT regexp_full_match(o_orderpriority, '[1-5]-[A-Z ]+')
        |      THEN 'matches:o_orderpriority' END,
        |    CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O', 'F', 'P')
        |      THEN 'in_set:o_orderstatus' END,
        |    CASE WHEN o_orderkey IN (SELECT o_orderkey FROM dupk)
        |      THEN 'unique_key:o_orderkey' END,
        |    CASE WHEN o_custkey IS NOT NULL
        |      AND o_custkey NOT IN (SELECT c_custkey FROM customer)
        |      THEN 'ref_integrity:o_custkey' END
        |  ], x -> x IS NOT NULL)) AS rl FROM u)
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  array_to_string(rl, ',') AS reasons
        |FROM r WHERE len(rl) > 0
        |ORDER BY o_orderkey, reasons""".stripMargin,
    // Each planted violation family restated arithmetically over the
    // same dupped fixture; unique-key excess = rows − distinct keys.
    "q350_expectations" -> expectationsOracle,
    // Canonical form restated arithmetically from the j = doc_id % 24
    // rule (the planted mess is exactly what canonicalization removes).
    "q224_url_canonicalize" ->
      """WITH d AS (SELECT doc_id, doc_id % 24 AS j FROM documents),
        | c AS (SELECT doc_id,
        |  'http' || CASE WHEN j%3=0 THEN 's' ELSE '' END || '://' ||
        |  CASE WHEN j%5=0
        |    THEN 'shop.site' || CAST(j%8 AS VARCHAR) || '.co.uk'
        |    ELSE CASE WHEN j%4=0 THEN 'www.' ELSE '' END
        |      || 'site' || CAST(j%8 AS VARCHAR) || '.example.com' END ||
        |  CASE WHEN j%3<>0 AND j%8=1 THEN ':8080' ELSE '' END ||
        |  CASE WHEN j%7=0 THEN '/'
        |    ELSE '/p' || CAST(j%6 AS VARCHAR) || '/x' END ||
        |  CASE WHEN j%11=0 THEN ''
        |    ELSE '?A=1&b=' || CAST(j%2 AS VARCHAR) END AS url
        | FROM d)
        |SELECT url, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(doc_id) AS keeper
        |FROM c GROUP BY url ORDER BY url""".stripMargin,
    // Hosts, registrable domains, and the blocklist rule (co.uk sites
    // with even site number) restated from the same fixture.
    "q225_domain_blocklist" ->
      """WITH d AS (SELECT doc_id, doc_id % 24 AS j FROM documents),
        | r AS (SELECT doc_id, j,
        |  CASE WHEN j%5=0
        |    THEN 'shop.site' || CAST(j%8 AS VARCHAR) || '.co.uk'
        |    ELSE CASE WHEN j%4=0 THEN 'www.' ELSE '' END
        |      || 'site' || CAST(j%8 AS VARCHAR) || '.example.com' END
        |    AS host,
        |  CASE WHEN j%5=0
        |    THEN 'site' || CAST(j%8 AS VARCHAR) || '.co.uk'
        |    ELSE 'example.com' END AS registrable_domain
        | FROM d)
        |SELECT registrable_domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
        |FROM r WHERE NOT (j%5=0 AND (j%8)%2=0)
        |GROUP BY registrable_domain ORDER BY registrable_domain""".stripMargin,
    // Hosts from the j-rule, the len-derived delay, and the politeness
    // timetable window restated.
    "q237_crawl_schedule" ->
      """WITH d AS (SELECT doc_id, doc_id % 24 AS j FROM documents),
        | r AS (SELECT doc_id,
        |  CASE WHEN j%5=0
        |    THEN 'shop.site' || CAST(j%8 AS VARCHAR) || '.co.uk'
        |    ELSE CASE WHEN j%4=0 THEN 'www.' ELSE '' END
        |      || 'site' || CAST(j%8 AS VARCHAR) || '.example.com' END
        |    AS host
        | FROM d),
        | t AS (SELECT host, doc_id,
        |    CAST(250 * (1 + length(host) % 4) AS BIGINT) AS delay_ms,
        |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS rank
        |  FROM r)
        |SELECT host, doc_id, CAST(rank AS BIGINT) AS rank, delay_ms,
        |  CAST((rank - 1) * delay_ms AS BIGINT) AS slot_ms,
        |  CAST((rank - 1) * delay_ms // 10000 AS BIGINT) AS sched_round
        |FROM t ORDER BY host, rank""".stripMargin,
    // Planted-recall referee gate: empty.
    "q208_crossmodal_pairing" ->
      """SELECT CAST(NULL AS BIGINT) AS src_id, CAST(NULL AS BIGINT) AS tgt_id
        |WHERE FALSE""".stripMargin,
    // Planted-recall referee gate (banded audio near-dup): empty.
    "q218_audio_banded_neardup" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
        |WHERE FALSE""".stripMargin,
    // Every cut decision and opening score restated from the planted
    // frame rule: per-frame channel sums from the q204 pixel rule at
    // image id d·131 + k·17, cross-multiplied mean differences, the
    // 80‰ threshold, and a running-sum islands grouping. Within a
    // shot only its opening row carries cut=1, so MAX(score) is the
    // opening cut's score.
    "q227_shot_boundaries" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id IS NOT NULL),
        | fx AS (SELECT doc_id, unnest(range(0, nf)) AS k FROM d),
        | dm AS (SELECT doc_id, k, doc_id*131 + k*17 AS fid FROM fx),
        | d2 AS (SELECT doc_id, k, fid, 8 + fid % 9 AS w, 8 + fid % 7 AS h
        |  FROM dm),
        | xs AS (SELECT doc_id, k, fid, w, h, unnest(range(0, w)) AS x
        |  FROM d2),
        | px AS (SELECT doc_id, k, fid, w, h, x, unnest(range(0, h)) AS y
        |  FROM xs),
        | f AS (SELECT doc_id, k, MAX(w*h) AS a,
        |    SUM((fid*31 + x*7 + y*13) % 256) AS r,
        |    SUM((fid*17 + x*11 + y*5) % 256) AS g,
        |    SUM((fid*23 + x*3 + y*19) % 256) AS b
        |  FROM px GROUP BY doc_id, k),
        | dl AS (SELECT doc_id, k, a, r, g, b,
        |    LAG(a) OVER w AS pa, LAG(r) OVER w AS pr,
        |    LAG(g) OVER w AS pg, LAG(b) OVER w AS pb
        |  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY k)),
        | ct AS (SELECT doc_id, k,
        |    CASE WHEN pa IS NOT NULL AND
        |        1000*(abs(r*pa - pr*a) + abs(g*pa - pg*a) + abs(b*pa - pb*a))
        |          > 80*765*a*pa
        |      THEN 1 ELSE 0 END AS cut,
        |    CASE WHEN pa IS NOT NULL AND
        |        1000*(abs(r*pa - pr*a) + abs(g*pa - pg*a) + abs(b*pa - pb*a))
        |          > 80*765*a*pa
        |      THEN 1000000*(abs(r*pa - pr*a) + abs(g*pa - pg*a)
        |        + abs(b*pa - pb*a)) // (765*a*pa)
        |      ELSE 0 END AS score
        |  FROM dl),
        | gr AS (SELECT doc_id, k, cut, score,
        |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY k) AS shot_idx
        |  FROM ct)
        |SELECT doc_id, CAST(shot_idx + 1 AS BIGINT) AS shot_no,
        |  CAST(MIN(k) AS BIGINT) AS start_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(MAX(score) AS BIGINT) AS cut_score_ppm
        |FROM gr GROUP BY doc_id, shot_idx
        |ORDER BY doc_id, shot_no""".stripMargin,
    // Every token id re-derived from raw text (single-space split,
    // empties kept; id = first 32 md5 bits — the q219 hex discipline),
    // the shard from the multiplicative hash, and the rolling hash
    // order-sensitive: a swapped, dropped, or mis-sliced token anywhere
    // in a shard's .bin breaks id_hash.
    "q229_token_shards_roundtrip" ->
      """WITH t AS (SELECT doc_id,
        |    list_transform(string_split(text, ' '),
        |      tk -> CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT)) AS ids
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST((doc_id * 2654435761) % 4294967296 % 8 AS BIGINT) AS shard,
        |  CAST(len(ids) AS BIGINT) AS n_tokens,
        |  CAST(list_aggregate(ids, 'sum') AS BIGINT) AS id_sum,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ids),
        |    (a, v) -> (a * 1000003 + v) % 1000000007) AS BIGINT) AS id_hash
        |FROM t ORDER BY doc_id""".stripMargin,
    // The q233 dims+hash restatement on the streaming referee slice
    // (docs 0-999 — 1-3 digit filenames).
    "q239_stream_image_profile" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id < 1000),
        | jj AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS j FROM d),
        | ij AS (SELECT doc_id, w, h, j, unnest(range(0, 9)) AS i FROM jj),
        | lum AS (SELECT doc_id, j, i,
        |      (doc_id*31 + (i*w//9)*7 + (j*h//8)*13) % 256
        |    + (doc_id*17 + (i*w//9)*11 + (j*h//8)*5) % 256
        |    + (doc_id*23 + (i*w//9)*3 + (j*h//8)*19) % 256 AS v
        |  FROM ij),
        | bits AS (SELECT a.doc_id, a.j*8 + a.i AS k,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON a.doc_id = b.doc_id AND a.j = b.j
        |    AND b.i = a.i + 1
        |  WHERE a.i < 8),
        | hsh AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN k >= 32
        |      THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
        |      AS BIGINT) AS dhash_hi,
        |    CAST(SUM(CASE WHEN k < 32
        |      THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END)
        |      AS BIGINT) AS dhash_lo
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  hsh.dhash_hi, hsh.dhash_lo
        |FROM d JOIN hsh USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // The q227 restatement on the streaming referee slice (docs
    // 0-999 — 1-3 digit filenames).
    "q231_stream_shot_boundaries" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id < 1000),
        | fx AS (SELECT doc_id, unnest(range(0, nf)) AS k FROM d),
        | dm AS (SELECT doc_id, k, doc_id*131 + k*17 AS fid FROM fx),
        | d2 AS (SELECT doc_id, k, fid, 8 + fid % 9 AS w, 8 + fid % 7 AS h
        |  FROM dm),
        | xs AS (SELECT doc_id, k, fid, w, h, unnest(range(0, w)) AS x
        |  FROM d2),
        | px AS (SELECT doc_id, k, fid, w, h, x, unnest(range(0, h)) AS y
        |  FROM xs),
        | f AS (SELECT doc_id, k, MAX(w*h) AS a,
        |    SUM((fid*31 + x*7 + y*13) % 256) AS r,
        |    SUM((fid*17 + x*11 + y*5) % 256) AS g,
        |    SUM((fid*23 + x*3 + y*19) % 256) AS b
        |  FROM px GROUP BY doc_id, k),
        | dl AS (SELECT doc_id, k, a, r, g, b,
        |    LAG(a) OVER w AS pa, LAG(r) OVER w AS pr,
        |    LAG(g) OVER w AS pg, LAG(b) OVER w AS pb
        |  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY k)),
        | ct AS (SELECT doc_id, k,
        |    CASE WHEN pa IS NOT NULL AND
        |        1000*(abs(r*pa - pr*a) + abs(g*pa - pg*a) + abs(b*pa - pb*a))
        |          > 80*765*a*pa
        |      THEN 1 ELSE 0 END AS cut,
        |    CASE WHEN pa IS NOT NULL AND
        |        1000*(abs(r*pa - pr*a) + abs(g*pa - pg*a) + abs(b*pa - pb*a))
        |          > 80*765*a*pa
        |      THEN 1000000*(abs(r*pa - pr*a) + abs(g*pa - pg*a)
        |        + abs(b*pa - pb*a)) // (765*a*pa)
        |      ELSE 0 END AS score
        |  FROM dl),
        | gr AS (SELECT doc_id, k, cut, score,
        |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY k) AS shot_idx
        |  FROM ct)
        |SELECT doc_id, CAST(shot_idx + 1 AS BIGINT) AS shot_no,
        |  CAST(MIN(k) AS BIGINT) AS start_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(MAX(score) AS BIGINT) AS cut_score_ppm
        |FROM gr GROUP BY doc_id, shot_idx
        |ORDER BY doc_id, shot_no""".stripMargin,
    // The full 64-bit dHash restated bit-for-bit: luma sums on the
    // 9x8 floor-sampled grid from the planted pixel rule, horizontal
    // gradient comparisons, halves assembled by shifted bit sums.
    "q233_image_dhash" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id IS NOT NULL),
        | jj AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS j FROM d),
        | ij AS (SELECT doc_id, w, h, j, unnest(range(0, 9)) AS i FROM jj),
        | lum AS (SELECT doc_id, j, i,
        |      (doc_id*31 + (i*w//9)*7 + (j*h//8)*13) % 256
        |    + (doc_id*17 + (i*w//9)*11 + (j*h//8)*5) % 256
        |    + (doc_id*23 + (i*w//9)*3 + (j*h//8)*19) % 256 AS v
        |  FROM ij),
        | bits AS (SELECT a.doc_id, a.j*8 + a.i AS k,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON a.doc_id = b.doc_id AND a.j = b.j
        |    AND b.i = a.i + 1
        |  WHERE a.i < 8)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN k >= 32
        |    THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
        |    AS BIGINT) AS dhash_hi,
        |  CAST(SUM(CASE WHEN k < 32
        |    THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END)
        |    AS BIGINT) AS dhash_lo,
        |  CAST(SUM(bit) AS BIGINT) AS n_bits_set
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Planted-recall referee gate (banded perceptual near-dup): empty.
    "q234_image_banded_neardup" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
        |WHERE FALSE""".stripMargin,
    "q301_image_incremental" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |  CAST(NULL AS BIGINT) AS doc_id
        |WHERE FALSE""".stripMargin,
    // Both censuses restated from the planting rule: good rows are the
    // non-%13 events per type; the corrupt fingerprint is the id sum.
    "q307_json_quarantine" ->
      """SELECT 'corrupt' AS kind,
        |  CAST(CAST(SUM(event_id) AS BIGINT) AS VARCHAR) AS key,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events WHERE event_id % 13 = 0
        |UNION ALL
        |SELECT 'good', event_type, CAST(COUNT(*) AS BIGINT)
        |FROM events WHERE event_id % 13 <> 0 GROUP BY 2
        |ORDER BY kind, key""".stripMargin,
    // Dims + the full dHash from the planted pixel rule (the q233
    // restatement keyed on the BASE id — the shifted copy shares its
    // base's payload), then the size/aspect rules and keep-first
    // grouping.
    "q238_image_curation" ->
      """WITH ids AS (
        |  SELECT doc_id, doc_id AS base FROM documents
        |  WHERE doc_id IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 1048576, doc_id FROM documents
        |  WHERE doc_id IS NOT NULL),
        | d AS (SELECT DISTINCT base, 8 + base % 9 AS w, 8 + base % 7 AS h
        |  FROM ids),
        | jj AS (SELECT base, w, h, unnest(range(0, 8)) AS j FROM d),
        | ij AS (SELECT base, w, h, j, unnest(range(0, 9)) AS i FROM jj),
        | lum AS (SELECT base, j, i,
        |      (base*31 + (i*w//9)*7 + (j*h//8)*13) % 256
        |    + (base*17 + (i*w//9)*11 + (j*h//8)*5) % 256
        |    + (base*23 + (i*w//9)*3 + (j*h//8)*19) % 256 AS v
        |  FROM ij),
        | bits AS (SELECT a.base, a.j*8 + a.i AS k,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON a.base = b.base AND a.j = b.j
        |    AND b.i = a.i + 1
        |  WHERE a.i < 8),
        | hsh AS (SELECT base,
        |    CAST(SUM(CASE WHEN k >= 32
        |      THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
        |      AS BIGINT) AS dhash_hi,
        |    CAST(SUM(CASE WHEN k < 32
        |      THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END)
        |      AS BIGINT) AS dhash_lo
        |  FROM bits GROUP BY base),
        | p AS (SELECT ids.doc_id, d.w, d.h, hsh.dhash_hi, hsh.dhash_lo
        |  FROM ids JOIN d ON ids.base = d.base JOIN hsh ON ids.base = hsh.base),
        | f AS (SELECT doc_id, w, h, dhash_hi, dhash_lo,
        |    CASE WHEN least(w, h) < 9 THEN 'too_small'
        |      WHEN 2*greatest(w, h) > 3*least(w, h) THEN 'bad_aspect'
        |    END AS fs
        |  FROM p),
        | k AS (SELECT dhash_hi, dhash_lo, MIN(doc_id) AS kp
        |  FROM f WHERE fs IS NULL GROUP BY 1, 2)
        |SELECT f.doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CASE WHEN fs IS NOT NULL THEN fs
        |    WHEN f.doc_id = k.kp THEN 'admitted'
        |    ELSE 'perceptual_dup' END AS status,
        |  CASE WHEN fs IS NULL THEN k.kp END AS keeper
        |FROM f LEFT JOIN k USING (dhash_hi, dhash_lo)
        |ORDER BY f.doc_id""".stripMargin,
    // Both modalities restated: caption md5 from the table, image
    // dims/sums/resize-hash from the q204 pixel rule, shard from the
    // multiplicative hash; the sample set is docs with non-null text
    // (a sample is whole or absent).
    "q232_wds_sample_roundtrip" ->
      """WITH d AS (SELECT doc_id, text, 8 + doc_id % 9 AS w,
        |    8 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        | xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
        | px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
        | sums AS (SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
        |    CAST(SUM((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS r_sum,
        |    CAST(SUM((doc_id*17 + x*11 + y*5) % 256) AS BIGINT) AS g_sum,
        |    CAST(SUM((doc_id*23 + x*3 + y*19) % 256) AS BIGINT) AS b_sum
        |  FROM px GROUP BY 1),
        | rz AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      flatten(list_transform(range(0, 16), k ->
        |        [(doc_id*31 + ((k % 4) * w // 4)*7
        |            + ((k // 4) * h // 4)*13) % 256,
        |         (doc_id*17 + ((k % 4) * w // 4)*11
        |            + ((k // 4) * h // 4)*5) % 256,
        |         (doc_id*23 + ((k % 4) * w // 4)*3
        |            + ((k // 4) * h // 4)*19) % 256]))),
        |      (a, v) -> (a * 1000003 + v) % 1000000007) AS rz_hash
        |  FROM d)
        |SELECT d.doc_id,
        |  CAST((d.doc_id * 2654435761) % 4294967296 % 8 AS BIGINT) AS shard,
        |  md5(d.text) AS text_md5,
        |  CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
        |  r_sum, g_sum, b_sum, CAST(rz_hash AS BIGINT) AS rz_hash
        |FROM d JOIN sums ON d.doc_id = sums.doc_id
        |  JOIN rz ON d.doc_id = rz.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // The q229 restatement verbatim: the generation layout must be
    // invisible to the reader.
    "q230_stream_token_shards" ->
      """WITH t AS (SELECT doc_id,
        |    list_transform(string_split(text, ' '),
        |      tk -> CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT)) AS ids
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST((doc_id * 2654435761) % 4294967296 % 8 AS BIGINT) AS shard,
        |  CAST(len(ids) AS BIGINT) AS n_tokens,
        |  CAST(list_aggregate(ids, 'sum') AS BIGINT) AS id_sum,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ids),
        |    (a, v) -> (a * 1000003 + v) % 1000000007) AS BIGINT) AS id_hash
        |FROM t ORDER BY doc_id""".stripMargin,
    // Scrubbed pixels restated from the planted rule (the q204
    // restatement — pixel-losslessness) plus the metadata accounting
    // from the deterministic plant: 1 + doc_id % 3 tEXt chunks of
    // exactly 28 bytes each, all removed.
    "q228_png_meta_scrub" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id IS NOT NULL),
        | xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
        | px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id, CAST(MAX(w) AS BIGINT) AS width,
        |  CAST(MAX(h) AS BIGINT) AS height,
        |  CAST(SUM((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS r_sum,
        |  CAST(SUM((doc_id*17 + x*11 + y*5) % 256) AS BIGINT) AS g_sum,
        |  CAST(SUM((doc_id*23 + x*3 + y*19) % 256) AS BIGINT) AS b_sum,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_meta_before,
        |  CAST(0 AS BIGINT) AS n_meta_after,
        |  CAST(28 * (1 + doc_id % 3) AS BIGINT) AS bytes_removed
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The sampled frames' planted-pixel rule restated: frame k of doc
    // d (k even) is the q204 pixel rule at image id d·131 + k·17.
    "q222_video_frame_sample" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id IS NOT NULL),
        | fx AS (SELECT doc_id, unnest(range(0, nf)) AS k FROM d),
        | sel AS (SELECT doc_id, k, doc_id*131 + k*17 AS fid
        |  FROM fx WHERE k % 2 = 0),
        | dim AS (SELECT doc_id, k, fid, 8 + fid % 9 AS w, 8 + fid % 7 AS h
        |  FROM sel),
        | xs AS (SELECT doc_id, k, fid, w, h, unnest(range(0, w)) AS x
        |  FROM dim),
        | px AS (SELECT doc_id, k, fid, w, h, x, unnest(range(0, h)) AS y
        |  FROM xs)
        |SELECT doc_id, CAST(k AS BIGINT) AS frame_no,
        |  CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
        |  CAST(SUM((fid*31 + x*7 + y*13) % 256) AS BIGINT) AS r_sum,
        |  CAST(SUM((fid*17 + x*11 + y*5) % 256) AS BIGINT) AS g_sum,
        |  CAST(SUM((fid*23 + x*3 + y*19) % 256) AS BIGINT) AS b_sum
        |FROM px GROUP BY doc_id, k ORDER BY doc_id, frame_no""".stripMargin,
    // Gaps-and-islands over the planted frame energies: non-silent
    // frames grouped by f - ROW_NUMBER() (consecutive-run key), each
    // run a segment.
    "q220_audio_segments" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 97 AS n
        |  FROM documents WHERE doc_id IS NOT NULL),
        | ts AS (SELECT doc_id, unnest(range(0, n)) AS t FROM d),
        | s AS (SELECT doc_id, t, t // 16 AS f,
        |    CASE WHEN (t // 16) < doc_id % 3 OR (t // 16) % 3 = 2 THEN 0
        |      ELSE ((doc_id*37 + t*t*13 + t*29) % 65536) - 32768
        |    END AS v FROM ts),
        | fr AS (SELECT doc_id, f, COUNT(*) AS fn, SUM(v*v) AS fe
        |  FROM s GROUP BY 1, 2),
        | ns AS (SELECT doc_id, f, fn, fe,
        |    f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS grp
        |  FROM fr WHERE fe > 0),
        | seg AS (SELECT doc_id, grp, MIN(f) AS start_frame,
        |    COUNT(*) AS n_frames, SUM(fn) AS n_samples, SUM(fe) AS energy
        |  FROM ns GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame)
        |    AS BIGINT) AS seg_no,
        |  CAST(start_frame AS BIGINT) AS start_frame,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(energy AS BIGINT) AS energy
        |FROM seg ORDER BY doc_id, seg_no""".stripMargin,
    // The planted rule at stride 2 (n' = ceil(n/2), s'_t = s_2t,
    // rate 4000) — what the decode→resample→re-encode→decode chain
    // must reproduce.
    "q221_audio_resample" ->
      """WITH d AS (SELECT doc_id, (64 + doc_id % 97 + 1) // 2 AS n
        |  FROM documents WHERE doc_id IS NOT NULL),
        | ts AS (SELECT doc_id, unnest(range(0, n)) AS t FROM d),
        | s AS (SELECT doc_id, t,
        |    CASE WHEN ((2*t) // 16) < doc_id % 3 OR ((2*t) // 16) % 3 = 2
        |      THEN 0
        |      ELSE ((doc_id*37 + (2*t)*(2*t)*13 + (2*t)*29) % 65536) - 32768
        |    END AS v FROM ts),
        | w AS (SELECT doc_id, t, v,
        |    LAG(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv FROM s),
        | agg AS (SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_samples,
        |    CAST(SUM(v) AS BIGINT) AS sum_s,
        |    CAST(SUM(v*v) AS BIGINT) AS energy,
        |    CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS zero_x
        |  FROM w GROUP BY 1),
        | hs AS (SELECT doc_id, CAST(list_reduce(
        |      list_prepend(CAST(0 AS BIGINT), list(v + 32768 ORDER BY t)),
        |      (a, x) -> (a * 1000003 + x) % 1000000007) AS BIGINT) AS s_hash
        |  FROM s GROUP BY 1)
        |SELECT a.doc_id, a.n_samples, CAST(4000 AS BIGINT) AS sample_rate,
        |  a.sum_s, a.energy, a.zero_x, h.s_hash
        |FROM agg a JOIN hs h USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Byte-lossless tar export: payload md5/length straight off the
    // original text, shard from the q106/q196/q201 multiplicative hash
    // (q223 is the streaming-generation export of the same corpus and
    // shares this restatement).
    "q223_stream_tar_export" ->
      """SELECT doc_id,
        |  CAST((doc_id * 2654435761) % 4294967296 % 8 AS BIGINT) AS shard,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS text_md5
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    // Replay-proof manifest ingest: the per-source census of the table,
    // exactly once — no REPLAYED row, no doubled counts.
    "q319_stream_manifest_ingest" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q216_tar_shards_roundtrip" ->
      """SELECT doc_id,
        |  CAST((doc_id * 2654435761) % 4294967296 % 8 AS BIGINT) AS shard,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS text_md5
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    // The planted-sample rule of documentsWavFilesLayout restated in
    // exact integer SQL — what javax.sound.sampled must read back out
    // of the WAVs (q217 is the streaming drain of the same decode and
    // shares it). Sign-change counting via LAG; the rolling hash via
    // the same list_reduce shape as q204's.
    "q217_stream_audio_decode" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 97 AS n
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id < 1000),
        | ts AS (SELECT doc_id, unnest(range(0, n)) AS t FROM d),
        | s AS (SELECT doc_id, t,
        |    CASE WHEN (t // 16) < doc_id % 3 OR (t // 16) % 3 = 2 THEN 0
        |      ELSE ((doc_id*37 + t*t*13 + t*29) % 65536) - 32768
        |    END AS v FROM ts),
        | w AS (SELECT doc_id, t, v,
        |    LAG(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv FROM s),
        | agg AS (SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_samples,
        |    CAST(SUM(v) AS BIGINT) AS sum_s,
        |    CAST(SUM(v*v) AS BIGINT) AS energy,
        |    CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS zero_x
        |  FROM w GROUP BY 1),
        | hs AS (SELECT doc_id, CAST(list_reduce(
        |      list_prepend(CAST(0 AS BIGINT), list(v + 32768 ORDER BY t)),
        |      (a, x) -> (a * 1000003 + x) % 1000000007) AS BIGINT) AS s_hash
        |  FROM s GROUP BY 1)
        |SELECT a.doc_id, a.n_samples, CAST(8000 AS BIGINT) AS sample_rate,
        |  a.sum_s, a.energy, a.zero_x, h.s_hash
        |FROM agg a JOIN hs h USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q213_audio_decode" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 97 AS n
        |  FROM documents WHERE doc_id IS NOT NULL),
        | ts AS (SELECT doc_id, unnest(range(0, n)) AS t FROM d),
        | s AS (SELECT doc_id, t,
        |    CASE WHEN (t // 16) < doc_id % 3 OR (t // 16) % 3 = 2 THEN 0
        |      ELSE ((doc_id*37 + t*t*13 + t*29) % 65536) - 32768
        |    END AS v FROM ts),
        | w AS (SELECT doc_id, t, v,
        |    LAG(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv FROM s),
        | agg AS (SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_samples,
        |    CAST(SUM(v) AS BIGINT) AS sum_s,
        |    CAST(SUM(v*v) AS BIGINT) AS energy,
        |    CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS zero_x
        |  FROM w GROUP BY 1),
        | hs AS (SELECT doc_id, CAST(list_reduce(
        |      list_prepend(CAST(0 AS BIGINT), list(v + 32768 ORDER BY t)),
        |      (a, x) -> (a * 1000003 + x) % 1000000007) AS BIGINT) AS s_hash
        |  FROM s GROUP BY 1)
        |SELECT a.doc_id, a.n_samples, CAST(8000 AS BIGINT) AS sample_rate,
        |  a.sum_s, a.energy, a.zero_x, h.s_hash
        |FROM agg a JOIN hs h USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Frame energies from the same planted rule; a frame is silent iff
    // its energy is exactly 0, trims are the runs of silent frames at
    // each end, n_kept counts surviving SAMPLES (tail frame partial).
    "q214_silence_trim" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 97 AS n
        |  FROM documents WHERE doc_id IS NOT NULL),
        | ts AS (SELECT doc_id, unnest(range(0, n)) AS t FROM d),
        | s AS (SELECT doc_id, t, t // 16 AS f,
        |    CASE WHEN (t // 16) < doc_id % 3 OR (t // 16) % 3 = 2 THEN 0
        |      ELSE ((doc_id*37 + t*t*13 + t*29) % 65536) - 32768
        |    END AS v FROM ts),
        | fr AS (SELECT doc_id, f, COUNT(*) AS fn, SUM(v*v) AS fe
        |  FROM s GROUP BY 1, 2),
        | fl AS (SELECT doc_id, COUNT(*) AS nf,
        |    SUM(CASE WHEN fe = 0 THEN 1 ELSE 0 END) AS n_silent,
        |    MIN(CASE WHEN fe > 0 THEN f END) AS fmin,
        |    MAX(CASE WHEN fe > 0 THEN f END) AS fmax
        |  FROM fr GROUP BY 1),
        | k AS (SELECT doc_id, nf, n_silent,
        |    COALESCE(fmin, nf) AS lead_trim,
        |    CASE WHEN fmax IS NULL THEN 0 ELSE nf - 1 - fmax END AS tail_trim
        |  FROM fl),
        | kept AS (SELECT k.doc_id,
        |    SUM(CASE WHEN fr.f >= k.lead_trim AND fr.f < k.nf - k.tail_trim
        |      THEN fr.fn ELSE 0 END) AS n_kept
        |  FROM fr JOIN k USING (doc_id) GROUP BY 1)
        |SELECT k.doc_id, CAST(k.nf AS BIGINT) AS n_frames,
        |  CAST(k.n_silent AS BIGINT) AS n_silent,
        |  CAST(k.lead_trim AS BIGINT) AS lead_trim,
        |  CAST(k.tail_trim AS BIGINT) AS tail_trim,
        |  CAST(kept.n_kept AS BIGINT) AS n_kept
        |FROM k JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,
    // The planted-pixel rule of documentsPngFilesLayout restated in
    // exact integer SQL — what ImageIO must read back out of the PNGs.
    // rz_hash iterates resized pixels row-major (k//4 = row j, k%4 =
    // col i) with channels r,g,b per pixel, source pixel at
    // (i*w//4, j*h//4) — mirroring decodeImageFeatures' loop exactly.
    "q204_image_decode" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id IS NOT NULL),
        | xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
        | px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
        | sums AS (SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
        |    CAST(SUM((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS r_sum,
        |    CAST(SUM((doc_id*17 + x*11 + y*5) % 256) AS BIGINT) AS g_sum,
        |    CAST(SUM((doc_id*23 + x*3 + y*19) % 256) AS BIGINT) AS b_sum
        |  FROM px GROUP BY 1),
        | rz AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      flatten(list_transform(range(0, 16), k ->
        |        [(doc_id*31 + ((k % 4) * w // 4)*7
        |            + ((k // 4) * h // 4)*13) % 256,
        |         (doc_id*17 + ((k % 4) * w // 4)*11
        |            + ((k // 4) * h // 4)*5) % 256,
        |         (doc_id*23 + ((k % 4) * w // 4)*3
        |            + ((k // 4) * h // 4)*19) % 256]))),
        |      (a, v) -> (a * 1000003 + v) % 1000000007) AS rz_hash
        |  FROM d)
        |SELECT s.doc_id, CAST(width AS BIGINT) AS width,
        |  CAST(height AS BIGINT) AS height, r_sum, g_sum, b_sum,
        |  CAST(rz_hash AS BIGINT) AS rz_hash
        |FROM sums s JOIN rz USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q170_compaction" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q145_schema_evolution" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(CASE WHEN doc_id % 2 <> 0 THEN 1 END) AS BIGINT)
        |    AS n_quality,
        |  ROUND(AVG(CASE WHEN doc_id % 2 <> 0
        |    THEN CAST(n_chars % 7 AS DOUBLE) END), 6) AS avg_quality
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q35's byte-feature restatement, minus the docs that have no file
    // (NULL text) — the binaryFile read must reproduce every payload
    // byte-exactly for the sha/brightness to hash-match.
    "q184_binaryfile_ingest" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha256_hex,
        |  ROUND(CAST((SELECT SUM(x) FROM UNNEST(list_transform(range(1, length(text) + 1),
        |      i -> ascii(substr(text, i, 1)))) AS t(x)) AS DOUBLE) / octet_length(encode(text)), 6)
        |    AS brightness
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,
    "q90_orc_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice), 2) AS total_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q94_avro_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        |  ROUND(SUM(l_extendedprice), 2) AS total_price,
        |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
        |FROM lineitem WHERE l_quantity >= 25
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q121_zorder_box" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
        |  o_orderstatus
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 199
        |  AND o_orderdate BETWEEN TIMESTAMP '1997-01-01'
        |                      AND TIMESTAMP '1997-12-31'
        |ORDER BY o_orderkey""".stripMargin,
    "q91_json_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
