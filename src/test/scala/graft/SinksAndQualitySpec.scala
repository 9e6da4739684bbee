package graft

import graft.pipeline._
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Covers the surfaces the end-to-end golden spec doesn't reach: the
  * Derby JDBC sink (the reference's S6 JDBC surface on the offline
  * classpath), the two distinct duplicate-counting semantics, and the
  * batched mapPartitions multimodal path.
  */
class SinksAndQualitySpec extends SparkSpec {
  import spark.implicits._

  test("JdbcSink writes and reads back through Derby (S6 parity surface)") {
    val df = Seq((1, "a", true), (2, "b", false)).toDF("id", "name", "flag")
    val url = "jdbc:derby:/tmp/graft_derby_test;create=true"
    new JdbcSink(url, "org.apache.derby.jdbc.EmbeddedDriver", "overwrite")
      .write("t_sink_spec", df)
    val back = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", "t_sink_spec")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load()
    assert(back.count() === 2)
    assert(back.columns.map(_.toLowerCase).sorted === Array("flag", "id", "name"))
  }

  test("SqliteCompatSink reproduces the reference DB shape: date→epoch-ms, bool→0/1") {
    // Reference testing/sql_queries.ipynb cell 6: SELECT over sales_curated
    // shows date as epoch-millis INTEGER and is_holiday as 0/1.
    val df = Seq(
      (java.sql.Date.valueOf("2010-02-05"), true, 1, 24924.5),
      (java.sql.Date.valueOf("2010-02-12"), false, 1, 46039.49)
    ).toDF("date", "is_holiday", "store_id", "weekly_sales")
    val out = new SqliteCompatSink(new ParquetSink("/tmp/graft_compat_test", "overwrite"))
      .compat(df)
    assert(out.schema("date").dataType.typeName === "long")
    assert(out.schema("is_holiday").dataType.typeName === "long")
    // untouched columns keep their types
    assert(out.schema("store_id").dataType.typeName === "integer")
    assert(out.schema("weekly_sales").dataType.typeName === "double")
    val rows = out.select("date", "is_holiday").as[(Long, Long)].collect().sortBy(_._1)
    // 2010-02-05T00:00:00Z epoch ms (UTC session timezone pins this)
    assert(rows(0) === (1265328000000L, 1L))
    assert(rows(1) === (1265932800000L, 0L))
    // null-safety: null date/bool stay null, not 0
    val withNull = Seq((Option.empty[java.sql.Date], Option.empty[Boolean]))
      .toDF("date", "is_holiday")
    val nulled = new SqliteCompatSink(new ParquetSink("/tmp/graft_compat_test", "overwrite"))
      .compat(withNull).head()
    assert(nulled.isNullAt(0) && nulled.isNullAt(1))
  }

  test("partitioned ParquetSink lays out hive-style dirs and readers prune them") {
    val df = Seq((2010, 1, 10.0), (2010, 2, 20.0), (2011, 1, 30.0))
      .toDF("year", "store", "sales")
    new ParquetSink("/tmp/graft_part_test", "overwrite", Seq("year"))
      .write("t_part", df)
    assert(new java.io.File("/tmp/graft_part_test/t_part/year=2010").isDirectory)
    val back = spark.read.parquet("/tmp/graft_part_test/t_part")
      .filter($"year" === 2011)
    assert(back.count() === 1)
    // partition pruning: the predicate lands in PartitionFilters, and no
    // row-group filter is needed on data columns.
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(year"), plan.take(1500))
  }

  test("acquire refuses to rebuild a non-temp work_dir it did not create") {
    import java.nio.file.{Files, Paths}
    // outside java.io.tmpdir: temp paths are always considered scratch
    val base = Files.createDirectories(Paths.get("target/guard_spec"))
    val dir = Files.createTempDirectory(base, "occupied")
    Files.writeString(dir.resolve("precious.txt"), "user data")
    val raw = RetailRaw.write(Files.createTempDirectory("retail_raw"))
    val cfg = IngestConfig(rawDir = raw.toString,
      workDir = dir.toString, filePatterns = Seq("train.csv"))
    val ex = intercept[IllegalArgumentException](Ingest.acquire(cfg))
    assert(ex.getMessage.contains("refusing to rebuild"))
    // the foreign file survived
    assert(Files.exists(dir.resolve("precious.txt")))
    // an EMPTY pre-existing dir is fine, and re-running over our own
    // marker-stamped dir is fine too (idempotent rebuild)
    val empty = Files.createTempDirectory(base, "empty")
    val cfg2 = cfg.copy(workDir = empty.toString)
    assert(Ingest.acquire(cfg2).nonEmpty)
    assert(Ingest.acquire(cfg2).nonEmpty)
  }

  test("duplicate rows (total-distinct) vs duplicate groups (keys with >1 row) differ") {
    // 3 copies of one row + 2 of another: 5 rows, 2 distinct → 3 dup rows,
    // but 2 duplicate GROUPS — the reference exposes both numbers.
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("b", 2), ("b", 2)).toDF("k", "v")
    assert(Quality.countDuplicateRows(df) === 3L)
    assert(Quality.countDuplicateGroups(df, Seq("k")) === 2L)
  }

  test("profile: empty-string and null both count; numeric columns never match ''") {
    val df = Seq(
      (Some("x"), Some(1)), (Some(""), Some(2)), (None: Option[String], None: Option[Int])
    ).toDF("s", "n")
    val Quality.Profile(rows, distinct, fracs) = Quality.profile(df)
    assert(rows === 3L && distinct === 3L)
    val m = fracs.toMap
    assert(math.abs(m("s") - 2.0 / 3) < 1e-9) // "" and null
    assert(math.abs(m("n") - 1.0 / 3) < 1e-9) // only null
  }

  test("histogramNearDupPairs: banded ⊆ exact with equal sims; planted duplicates always found") {
    import graft.expressions.ArrayOps
    val docs = Tables.load(spark, sfDir, "documents")
      .filter($"text".isNotNull && length($"text") > 0).limit(30)
    val media = Multimodal.toMedia(docs).toDF()
    val shift = 100000L
    val planted = media.unionAll(
      media.withColumn("doc_id", $"doc_id" + shift))
    val banded = Multimodal.histogramNearDupPairs(planted, threshold = 0.99)
      .as[(Long, Long, Double)].collect().toSet
    // The exact q138 formulation over the same planted corpus.
    val h = planted.select($"doc_id",
      transform(ArrayOps.byteHistogram($"payload"), x => x.cast("double")).as("hv"))
    val exact = h.select($"doc_id".as("id_a"), $"hv".as("ha"))
      .join(h.select($"doc_id".as("id_b"), $"hv".as("hb")), $"id_a" < $"id_b")
      .withColumn("sim", round(ArrayOps.cosineSim($"ha", $"hb"), 6))
      .filter($"sim" >= 0.99).select("id_a", "id_b", "sim")
      .as[(Long, Long, Double)].collect().toSet
    // Exact-cosine verify after the band join ⇒ precision 1.0.
    assert(banded.nonEmpty && banded.subsetOf(exact))
    // Identical payloads collide in every band ⇒ planted recall 1.0.
    docs.select($"doc_id").as[Long].collect().foreach { id =>
      assert(banded.exists(t => t._1 == id && t._2 == id + shift),
        s"missed planted pair ($id, ${id + shift})")
    }
  }

  test("multimodal decoder-boundary, column-expression, and SQL q35 formulations all agree") {
    val docs = Tables.load(spark, sfDir, "documents").limit(50)
    val viaPartitions = Multimodal.extractFeatures(Multimodal.toMedia(docs), batchSize = 16)
      .select($"doc_id", $"n_bytes", $"sha256_hex", round($"brightness", 6).as("brightness"))
      .orderBy("doc_id").collect()
    val viaColumns = Multimodal.featureColumns(Multimodal.toMedia(docs).toDF())
      .select($"doc_id", $"n_bytes", $"sha256_hex", round($"brightness", 6).as("brightness"))
      .orderBy("doc_id").collect()
    val viaSql = docs.select(
        $"doc_id",
        octet_length($"text").cast("long").as("n_bytes"),
        sha2($"text".cast("binary"), 256).as("sha256_hex"),
        round(expr(
          "aggregate(transform(sequence(1, length(text)), i -> ascii(substr(text, i, 1))), " +
            "0L, (acc, c) -> acc + c) / cast(octet_length(text) as double)"), 6).as("brightness"))
      .orderBy("doc_id").collect()
    assert(viaPartitions.length === viaSql.length)
    viaPartitions.zip(viaSql).foreach { case (a, b) => assert(a === b) }
    viaColumns.zip(viaPartitions).foreach { case (a, b) => assert(a === b) }
  }

  test("decodeImageFeatures reads real pixels back out of real PNGs") {
    val ids = Seq(3L, 17L, 1000L)
    val rows = ids.map { id =>
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(Multimodal.plantedImage(id), "png", bos)
      Multimodal.MediaRow(id, bos.toByteArray, "image/png")
    }
    val got = Multimodal
      .decodeImageFeatures(rows.toDS(), rz = 4, batchSize = 2)
      .collect().map(f => f.doc_id -> f).toMap
    ids.foreach { id =>
      val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
      val px = for (y <- 0 until h; x <- 0 until w) yield
        ((id * 31 + x * 7 + y * 13) % 256, (id * 17 + x * 11 + y * 5) % 256,
          (id * 23 + x * 3 + y * 19) % 256)
      var hsh = 0L
      for (j <- 0 until 4; i <- 0 until 4) {
        val sx = i * w / 4; val sy = j * h / 4
        Seq((id * 31 + sx * 7 + sy * 13) % 256,
          (id * 17 + sx * 11 + sy * 5) % 256,
          (id * 23 + sx * 3 + sy * 19) % 256)
          .foreach(v => hsh = (hsh * 1000003L + v) % 1000000007L)
      }
      val f = got(id)
      assert(f.width === w.toLong && f.height === h.toLong)
      assert(f.r_sum === px.map(_._1).sum && f.g_sum === px.map(_._2).sum &&
        f.b_sum === px.map(_._3).sum)
      assert(f.rz_hash === hsh)
    }
  }

  test("decodeAudioFeatures reads real PCM back out of real WAVs") {
    val ids = Seq(0L, 5L, 19L, 1000L)
    val rows = ids.map(id =>
      Multimodal.MediaRow(id, Multimodal.plantedWavBytes(id), "audio/wav"))
    val got = Multimodal.decodeAudioFeatures(rows.toDS(), batchSize = 2)
      .collect().map(f => f.doc_id -> f).toMap
    ids.foreach { id =>
      val s = Multimodal.plantedSamples(id)
      val f = got(id)
      assert(f.n_samples === s.length.toLong && f.sample_rate === 8000L)
      assert(f.sum_s === s.map(_.toLong).sum)
      assert(f.energy === s.map(v => v.toLong * v).sum)
      assert(f.zero_x === s.indices.drop(1)
        .count(i => (s(i) >= 0) != (s(i - 1) >= 0)).toLong)
      val h = s.foldLeft(0L)((a, v) => (a * 1000003L + v + 32768L) % 1000000007L)
      assert(f.s_hash === h)
    }
    // undecodable/mis-encoded payloads fail loudly, never skip
    val junk = Seq(Multimodal.MediaRow(7L, Array[Byte](1, 2, 3), "audio/wav"))
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudioFeatures(junk.toDS()).collect()
    }
  }

  test("trimSilence cuts exactly the lead/tail zero-energy frames") {
    // planted rule: leading frames < id%3 silent, every third frame
    // interior silent — lead, interior, and tail trims all exercised
    val ids = Seq(1L, 2L, 3L, 64L, 101L)
    val rows = ids.map(id =>
      Multimodal.MediaRow(id, Multimodal.plantedWavBytes(id), "audio/wav"))
    val got = Multimodal.trimSilence(rows.toDS(), frameLen = 16, batchSize = 2)
      .collect().map(t => t.doc_id -> t).toMap
    ids.foreach { id =>
      val s = Multimodal.plantedSamples(id)
      val nf = (s.length + 15) / 16
      val silent = (0 until nf).map { f =>
        (f * 16 until math.min((f + 1) * 16, s.length))
          .forall(t => s(t) == 0)
      }
      val first = silent.indexWhere(!_); val last = silent.lastIndexWhere(!_)
      val t = got(id)
      assert(t.n_frames === nf.toLong)
      assert(t.n_silent === silent.count(identity).toLong)
      assert(t.lead_trim === first.toLong)
      assert(t.tail_trim === (nf - 1 - last).toLong)
      assert(t.n_kept ===
        (math.min((last + 1) * 16, s.length) - first * 16).toLong)
      assert(id % 3 != 1 || t.lead_trim >= 1L) // the lead plant fires
    }
    // an all-silent track trims to nothing (lead_trim = n_frames)
    val mute = {
      val bytes = Multimodal.plantedWavBytes(0L)
      java.util.Arrays.fill(bytes, 44, bytes.length, 0.toByte)
      Seq(Multimodal.MediaRow(99L, bytes, "audio/wav"))
    }
    val mt = Multimodal.trimSilence(mute.toDS(), frameLen = 16).collect().head
    assert(mt.n_silent === mt.n_frames && mt.lead_trim === mt.n_frames &&
      mt.tail_trim === 0L && mt.n_kept === 0L)
  }

  test("decodeWav fast path ≡ javax.sound on the same payload; " +
      "non-canonical layouts take the codec fallback") {
    val ids = Seq(0L, 7L, 123L)
    ids.foreach { id =>
      val payload = Multimodal.plantedWavBytes(id)
      val (rate, fast) = Multimodal.decodeWav(id, payload)
      // reference decode through the general codec
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val bytes = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ref = Array.tabulate(bytes.length / 2)(i => bb.getShort(2 * i).toInt)
      assert(rate === in.getFormat.getSampleRate.toLong)
      assert(fast.toSeq === ref.toSeq)
      // a payload with an extra chunk before `data` is NOT canonical —
      // it must still decode (fallback), with identical samples
      val extra = {
        val base = Multimodal.plantedWavBytes(id)
        val pad = java.nio.ByteBuffer.allocate(12)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        pad.put("LIST".getBytes("US-ASCII")).putInt(4)
          .put("INFO".getBytes("US-ASCII"))
        val out = java.nio.ByteBuffer
          .allocate(base.length + 12)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        out.put(base, 0, 36)               // header through fmt chunk
        out.put(pad.array())               // foreign chunk
        out.put(base, 36, base.length - 36) // data chunk
        // fix the RIFF size field for the inserted 12 bytes
        out.putInt(4, base.length + 12 - 8)
        out.array()
      }
      val (rate2, viaFallback) = Multimodal.decodeWav(id, extra)
      assert(rate2 === rate && viaFallback.toSeq === fast.toSeq,
        "non-canonical WAV must decode identically through the fallback")
    }
  }

  test("sampleVideoFrames: strict container parse, stride semantics, " +
      "decoded pixels match the planted rule") {
    val id = 42L
    val media = Seq(Multimodal.MediaRow(id,
      Multimodal.plantedVideoBytes(id), "video/x-gftv")).toDS()
    val frames = Multimodal.sampleVideoFrames(media, stride = 2)
      .collect().sortBy(_.frame_no)
    val nF = (2 + id % 4).toInt
    assert(frames.map(_.frame_no).toSeq ===
      (0 until nF).filter(_ % 2 == 0).map(_.toLong))
    frames.foreach { f =>
      val fid = id * 131 + f.frame_no * 17
      val w = (8 + fid % 9).toInt; val h = (8 + fid % 7).toInt
      val px = for (y <- 0 until h; x <- 0 until w) yield
        ((fid * 31 + x * 7 + y * 13) % 256, (fid * 17 + x * 11 + y * 5) % 256,
          (fid * 23 + x * 3 + y * 19) % 256)
      assert(f.width === w.toLong && f.height === h.toLong)
      assert(f.r_sum === px.map(_._1).sum && f.g_sum === px.map(_._2).sum &&
        f.b_sum === px.map(_._3).sum)
    }
    // bad magic fails loudly
    val junk = Seq(Multimodal.MediaRow(9L,
      "NOPE".getBytes("US-ASCII") ++ new Array[Byte](8), "video/x-gftv")).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.sampleVideoFrames(junk, stride = 1).collect()
    }
  }

  test("scrubPngMetadata: plant-then-scrub is byte-identity; non-meta " +
      "ancillary chunks survive; corruption fails loudly") {
    val id = 13L
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(Multimodal.plantedImage(id), "png", bos)
    val original = bos.toByteArray
    val dirty = Multimodal.plantPngText(id, original)
    assert(dirty.length === original.length + 28 * (1 + id % 3).toInt)
    // scrubbing removes exactly the planted chunks → original bytes back
    val scrubbed = Multimodal.scrubPngMetadata(
      Seq(Multimodal.MediaRow(id, dirty, "image/png")).toDS())
      .collect().head.payload
    assert(java.util.Arrays.equals(scrubbed, original))
    // idempotent: a clean payload passes through byte-identical
    val again = Multimodal.scrubPngMetadata(
      Seq(Multimodal.MediaRow(id, scrubbed, "image/png")).toDS())
      .collect().head.payload
    assert(java.util.Arrays.equals(again, original))
    // a pixel-affecting ancillary chunk (gAMA) is NOT metadata and must
    // survive the scrub even though it is ancillary
    val gama = Multimodal.pngChunk("gAMA",
      java.nio.ByteBuffer.allocate(4).putInt(45455).array())
    val chunks = Multimodal.pngChunks(id, original)
    val withGama = new java.io.ByteArrayOutputStream()
    withGama.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    chunks.foreach { case (typ, raw) =>
      withGama.write(raw)
      if (typ == "IHDR") withGama.write(gama)
    }
    val keptTypes = Multimodal.pngChunks(id,
      Multimodal.scrubPngMetadata(
        Seq(Multimodal.MediaRow(id,
          Multimodal.plantPngText(id, withGama.toByteArray), "image/png"))
          .toDS()).collect().head.payload).map(_._1)
    assert(keptTypes.contains("gAMA") && !keptTypes.contains("tEXt"))
    // flipped byte inside a chunk body -> CRC validation fails loudly
    val corrupt = dirty.clone()
    corrupt(40) = (corrupt(40) ^ 0x01).toByte
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.scrubPngMetadata(
        Seq(Multimodal.MediaRow(id, corrupt, "image/png")).toDS()).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("CRC mismatch")))
  }

  test("imageDHash: solid is all-zero, monotone gradient is all-ones, " +
      "a one-pixel retouch moves at most 2 bits, divergence fires") {
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def mk(w: Int, h: Int)(f: (Int, Int) => Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      img
    }
    def hashOf(id: Long, img: java.awt.image.BufferedImage) =
      Multimodal.imageDHash(
        Seq(Multimodal.MediaRow(id, png(img), "image/png")).toDS())
        .collect().head
    // solid: no gradient anywhere -> zero hash
    val solid = hashOf(1L, mk(9, 8)((_, _) => 0x808080))
    assert((solid.dhash_hi, solid.dhash_lo, solid.n_bits_set) === (0L, 0L, 0L))
    // strictly increasing luma left to right -> all 64 bits set
    val grad = hashOf(2L, mk(9, 8)((x, _) => (x * 20) << 16))
    assert(grad.n_bits_set === 64L)
    assert(grad.dhash_hi === 0xffffffffL && grad.dhash_lo === 0xffffffffL)
    def hamming(a: Multimodal.ImageDHash, b: Multimodal.ImageDHash): Int =
      java.lang.Long.bitCount(a.dhash_hi ^ b.dhash_hi) +
        java.lang.Long.bitCount(a.dhash_lo ^ b.dhash_lo)
    // the q234 plant: forcing the (i=4, j=3) grid pixel white moves at
    // most the two bits that compare against that sample point
    (0L until 24L).foreach { id =>
      val base = Multimodal.plantedImage(id)
      val pert = Multimodal.plantedImage(id)
      pert.setRGB(4 * pert.getWidth / 9, 3 * pert.getHeight / 8, 0xffffff)
      assert(hamming(hashOf(id, base), hashOf(id, pert)) <= 2)
    }
    // divergent images are far in Hamming space — the gate CAN fire.
    // plantedImage is a linear ramp (mostly-ones hash), so build the
    // divergent fixture from bit-mixed pixels: independent seeds give
    // ~Bernoulli(1/2) bits, expected Hamming ~32.
    def mixed(seed: Long) = mk(16, 16) { (x, y) =>
      var z = seed * 0x9e3779b97f4a7c15L + x * 0xbf58476d1ce4e5b9L +
        y * 0x94d049bb133111ebL
      z ^= z >>> 31; z *= 0xff51afd7ed558ccdL; z ^= z >>> 33
      (z & 0xffffff).toInt
    }
    val far = (0L until 24L).map { id =>
      hamming(hashOf(id, mixed(id)), hashOf(id, mixed(id + 100)))
    }
    assert(far.count(_ > 8) === 24, s"divergent Hamming too small: $far")
    // the planted-recall gate itself: empty on the aligned fixture
    assert(SparkEntry.queries("q234_image_banded_neardup")(spark, sfDir)
      .count() === 0L)
  }

  test("q238 curation: statuses follow the dims rules, every keeper is an " +
      "admitted group-minimum, every surviving copy collapses onto a base") {
    val shift = 1L << 20
    val out = SparkEntry.queries("q238_image_curation")(spark, sfDir)
      .as[(Long, Long, Long, String, Option[Long])].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    out.foreach { case (id, w, h, status, keeper) =>
      val fs = if (math.min(w, h) < 9) Some("too_small")
        else if (2 * math.max(w, h) > 3 * math.min(w, h)) Some("bad_aspect")
        else None
      fs match {
        case Some(f) =>
          assert(status === f, s"doc $id"); assert(keeper.isEmpty, s"doc $id")
        case None =>
          assert(Set("admitted", "perceptual_dup")(status), s"doc $id")
          assert(keeper.exists(_ <= id), s"doc $id")
          // the keeper of any passing row is itself admitted
          assert(byId(keeper.get)._4 === "admitted", s"doc $id")
          assert(status === (if (keeper.get == id) "admitted"
            else "perceptual_dup"), s"doc $id")
      }
    }
    // every copy shares its base's payload → its keeper is < shift
    out.filter(r => r._1 >= shift && r._5.isDefined)
      .foreach(r => assert(r._5.get < shift, s"copy ${r._1}"))
    assert(out.count(_._4 == "admitted") > 0)
    assert(out.count(_._4 == "perceptual_dup") > 0)
    assert(out.count(_._4 == "too_small") > 0)
    assert(out.count(_._4 == "bad_aspect") > 0)
  }

  test("detectShots: identical frames merge, a hard cut splits, scores " +
      "are exact") {
    // Handcrafted container: two identical mid-gray frames (distance 0
    // — must merge into one shot) followed by a white frame (mean jump
    // 255·3 of 765 = 100% — must cut at any threshold < 1000‰).
    def solidPng(v: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def container(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bb = java.nio.ByteBuffer
        .allocate(8 + frames.map(_.length + 4).sum)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("GFTV".getBytes("US-ASCII")).putInt(frames.length)
      frames.foreach { f => bb.putInt(f.length); bb.put(f) }
      bb.array()
    }
    val gray = solidPng(128, 6, 4)
    val white = solidPng(255, 6, 4)
    val media = Seq(Multimodal.MediaRow(7L,
      container(Seq(gray, gray, white)), "video/x-gftv")).toDS()
    val shots = Multimodal.detectShots(media, thrPermille = 400)
      .collect().sortBy(_.shot_no)
    assert(shots.map(s => (s.shot_no, s.start_frame, s.n_frames)).toSeq ===
      Seq((1L, 0L, 2L), (2L, 2L, 1L)))
    // shot 1 opens the video: score 0; shot 2's opening cut is the
    // gray→white jump: |255-128|·3/765 exactly = 127/255 → 498039 ppm
    // (cross-multiplied: 10⁶·(127·24·24·3)/(765·24·24))
    assert(shots.map(_.cut_score_ppm).toSeq === Seq(0L, 498039L))
    // one-frame video: a single shot, score 0
    val single = Seq(Multimodal.MediaRow(8L,
      container(Seq(gray)), "video/x-gftv")).toDS()
    assert(Multimodal.detectShots(single, thrPermille = 0).collect()
      .map(s => (s.shot_no, s.start_frame, s.n_frames, s.cut_score_ppm))
      .toSeq === Seq((1L, 0L, 1L, 0L)))
    // fixture non-vacuity at the q227 threshold: both merged multi-frame
    // shots and single-frame shots occur on the planted corpus
    val planted = (0L until 40L).map(i => Multimodal.MediaRow(i,
      Multimodal.plantedVideoBytes(i), "video/x-gftv")).toDS()
    val ps = Multimodal.detectShots(planted, thrPermille = 80).collect()
    assert(ps.exists(_.n_frames > 1L) && ps.exists(_.n_frames === 1L))
    assert(ps.groupBy(_.doc_id).forall { case (d, ss) =>
      ss.map(_.n_frames).sum === 2 + d % 4 })
  }

  test("segmentBySilence: segments partition the non-silent frames and " +
      "tile exactly with trimSilence") {
    val ids = Seq(1L, 2L, 5L, 64L, 101L)
    val rows = ids.map(id =>
      Multimodal.MediaRow(id, Multimodal.plantedWavBytes(id), "audio/wav"))
    val segs = Multimodal.segmentBySilence(rows.toDS(), frameLen = 16)
      .collect().groupBy(_.doc_id)
    val trims = Multimodal.trimSilence(rows.toDS(), frameLen = 16)
      .collect().map(t => t.doc_id -> t).toMap
    ids.foreach { id =>
      val s = Multimodal.plantedSamples(id)
      val nf = (s.length + 15) / 16
      val silent = (0 until nf).map(f =>
        (f * 16 until math.min((f + 1) * 16, s.length)).forall(s(_) == 0))
      val ss = segs(id).sortBy(_.seg_no)
      // seg_no dense from 1; segments disjoint, ordered, non-silent runs
      assert(ss.map(_.seg_no).toSeq === (1L to ss.length))
      ss.foreach { g =>
        (g.start_frame until g.start_frame + g.n_frames).foreach(f =>
          assert(!silent(f.toInt), s"segment covers silent frame $f"))
        assert(g.start_frame + g.n_frames >= nf ||
          silent((g.start_frame + g.n_frames).toInt))
        assert(g.start_frame == 0L || silent(g.start_frame.toInt - 1))
      }
      // first segment starts at the trim lead; last ends at nf - tail
      val t = trims(id)
      assert(ss.head.start_frame === t.lead_trim)
      assert(ss.last.start_frame + ss.last.n_frames === nf - t.tail_trim)
      // total non-silent frames across segments = nf - n_silent
      assert(ss.map(_.n_frames).sum === nf - t.n_silent)
    }
  }

  test("resampleAudio halves the track: decoded output is the stride-2 " +
      "sample sequence at half the rate") {
    val id = 17L
    val media = Seq(Multimodal.MediaRow(id,
      Multimodal.plantedWavBytes(id), "audio/wav")).toDS()
    val out = Multimodal.resampleAudio(media, factor = 2).collect().head
    val f = Multimodal.decodeAudioFeatures(Seq(out).toDS()).collect().head
    val s = Multimodal.plantedSamples(id)
    val expected = s.indices.collect { case t if t % 2 == 0 => s(t) }
    assert(f.sample_rate === 4000L)
    assert(f.n_samples === expected.length.toLong)
    assert(f.sum_s === expected.map(_.toLong).sum)
    assert(f.energy === expected.map(v => v.toLong * v).sum)
  }

  test("resampleAudio fails loudly when the factor does not divide the " +
      "sample rate") {
    // 8 kHz at factor 3 would truncate to a wrong 2666 Hz header; the
    // codec-boundary contract is loud failure, not silent mis-encode.
    val media = Seq(Multimodal.MediaRow(17L,
      Multimodal.plantedWavBytes(17L), "audio/wav")).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.resampleAudio(media, factor = 3).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("does not divide sample rate")))
  }

  test("q218 audio banded near-dup: all planted dups found, and a " +
      "diverged copy fires the gate") {
    import graft.operators.Similarity
    assert(SparkEntry.queries("q218_audio_banded_neardup")(spark, sfDir)
      .count() === 0L)
    // non-vacuity: swap one shifted copy's track for a different one —
    // its planted pair must surface as a miss
    val shift = 1L << 20
    val ids = (0L until 40L)
    val media = ids.flatMap { id =>
      val dupOf = if (id == 5L) 6L else id // diverge id 5's copy
      Seq(Multimodal.MediaRow(id, Multimodal.plantedWavBytes(id), "audio/wav"),
        Multimodal.MediaRow(id + shift, Multimodal.plantedWavBytes(dupOf),
          "audio/wav"))
    }.toDS()
    val env = Multimodal.audioEnvelope(media, bins = 16)
    val found = Similarity
      .rhpCosinePairs(env, "doc_id", "env", threshold = 0.999)
      .select($"id_a", $"id_b", lit(1L).as("hit"))
    val misses = ids.toDF("id_a")
      .select($"id_a", ($"id_a" + shift).as("id_b"))
      .join(found, Seq("id_a", "id_b"), "left")
      .filter($"hit".isNull).select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet
    assert(misses === Set((5L, 5L + shift)),
      s"exactly the diverged pair must miss, got $misses")
  }

  test("q208 cross-modal pairing: empty on the aligned plant, fires on " +
      "a misaligned one") {
    assert(SparkEntry.queries("q208_crossmodal_pairing")(spark, sfDir)
      .count() === 0L)
    // Non-vacuity: shift the caption→image alignment by one and the
    // planted-recall law must fire for (nearly) every caption.
    import graft.operators.{Multimodal, Similarity}
    val path = Tables.documentsPngFilesLayout(spark, sfDir)
    val media = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(path)
      .select(regexp_extract(col("path"), "(\\d+)\\.png$", 1)
        .cast("bigint").as("doc_id"),
        col("content").as("payload"), lit("image/png").as("mime"))
      .as[Multimodal.MediaRow]
    val imgs = Multimodal.imageSignature(media, rz = 4)
    val nDocs = imgs.count()
    val capsShifted = Tables.load(spark, sfDir, "documents")
      .where($"doc_id".isNotNull)
      .select((($"doc_id" + 1) % nDocs).as("doc_id"), expr(
        """transform(sequence(0L, 18L), k -> CAST(CASE
          |  WHEN k = 16 THEN 8 + doc_id % 9
          |  WHEN k = 17 THEN 8 + doc_id % 7
          |  WHEN k = 18 THEN 255
          |  ELSE (doc_id*31 + ((k % 4) * (8 + doc_id % 9) div 4) * 7
          |      + ((k div 4) * (8 + doc_id % 7) div 4) * 13) % 256
          |  END AS DOUBLE))""".stripMargin).as("sig"))
    val mined = Similarity.marginMinePairs(capsShifted, imgs, "doc_id",
      "sig", k = 4, minMargin = 1.0)
    // The shifted caption for id i carries (i+1)%n's signature, so its
    // best image is (i+1)%n, not i — every row violates own-match.
    val misses = mined.filter($"tgt_id" =!= $"src_id").count()
    assert(misses >= nDocs * 9 / 10,
      s"misaligned plant fired only $misses/$nDocs violations")
  }

  test("resizeImage re-encodes losslessly: decoded output pixels follow " +
      "the nearest-neighbor rule") {
    val id = 42L
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(Multimodal.plantedImage(id), "png", bos)
    val media = Seq(Multimodal.MediaRow(id, bos.toByteArray, "image/png")).toDS()
    val resized = Multimodal.resizeImage(media, w = 5, h = 3).collect().head
    assert(resized.mime === "image/png")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized.payload))
    assert(img.getWidth === 5 && img.getHeight === 3)
    val sw = (8 + id % 9).toInt; val sh = (8 + id % 7).toInt
    for (j <- 0 until 3; i <- 0 until 5) {
      val sx = i * sw / 5; val sy = j * sh / 3
      val expected = ((((id * 31 + sx * 7 + sy * 13) % 256) << 16) |
        (((id * 17 + sx * 11 + sy * 5) % 256) << 8) |
        ((id * 23 + sx * 3 + sy * 19) % 256)).toInt
      assert((img.getRGB(i, j) & 0xffffff) === expected,
        s"pixel ($i,$j) diverged after resize+re-encode")
    }
  }

  test("schema enforcement adds missing columns as typed nulls and prunes extras") {
    val df = Seq(("1", "x", "extra")).toDF("A", "B", "Z")
    val (out, ok, issues) = Quality.enforceSchema(df,
      Seq("A" -> "integer", "B" -> "string", "C" -> "double"), failOnMismatch = false)
    assert(out.columns === Array("A", "B", "C"))
    assert(out.schema("A").dataType.typeName === "integer")
    assert(out.schema("C").dataType.typeName === "double")
    assert(out.head.isNullAt(2))
    assert(ok) // fail_on_mismatch=false ⇒ always ok (reference semantics)
    assert(issues.exists(_.contains("Added missing column: C")))
    assert(issues.exists(_.contains("Z")))
  }

  test("'NA' and 'TRUE' coercions via cast (the reference's load-bearing semantics)") {
    val df = Seq(("NA", "TRUE"), ("1.5", "FALSE"), ("", "bogus")).toDF("d", "b")
    val (out, _, _) = Quality.enforceSchema(df,
      Seq("d" -> "double", "b" -> "boolean"), failOnMismatch = false)
    val rows = out.collect()
    assert(rows(0).isNullAt(0) && rows(0).getBoolean(1) === true)
    assert(rows(1).getDouble(0) === 1.5 && rows(1).getBoolean(1) === false)
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
  }

  test("q246 k-anonymity: released cells ≥ k, event conservation, " +
      "brute-force release plan") {
    val k = 5L
    val rows = SparkEntry.queries("q246_k_anonymity")(spark, sfDir)
      .as[(String, String, String, Long)].collect().toSeq
    // EVERY released cell — including the suppressed residue — has ≥ k
    // members; an under-k residue is withheld entirely.
    rows.foreach { r => assert(r._4 >= k, s"released cell $r under k") }
    assert(rows.map(r => (r._1, r._2, r._3)).distinct.size === rows.size)
    // brute force the whole release plan from the raw (type, hour) census
    val census = Tables.load(spark, sfDir, "events")
      .select($"event_type", hour($"ts").cast("long").as("hh"))
      .as[(String, Long)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val exact = census.collect { case ((t, h), n) if n >= k =>
      ("exact", t, h.toString, n) }
    val small = census.filter(_._2 < k)
      .groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toSeq
    val gen = small.collect { case (t, n) if n >= k =>
      ("generalized", t, "*", n) }
    val suppN = small.filter(_._2 < k).map(_._2).sum
    val supp = if (suppN >= k) Seq(("suppressed", "*", "*", suppN)) else Nil
    val expected = (exact ++ gen ++ supp)
      .sortBy(r => (r._1, r._2, r._3))
    assert(rows === expected)
    // conservation: released + withheld residue accounts for every event
    val withheld = if (suppN < k) suppN else 0L
    val total = Tables.load(spark, sfDir, "events").count()
    assert(rows.map(_._4).sum + withheld === total)
  }

  test("q291 l-diversity: release plan matches q246 cell-for-cell; " +
      "diversity equals the brute-force distinct count") {
    val k246 = SparkEntry.queries("q246_k_anonymity")(spark, sfDir)
      .as[(String, String, String, Long)].collect().toSeq
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    val ldiv = SparkEntry.queries("q291_l_diversity")(spark, sfDir)
      .as[(String, String, String, Long, Long, Boolean)].collect().toSeq
    // identical released cells with identical member counts
    assert(ldiv.map(r => (r._1, r._2, r._3) -> r._4).toMap === k246)
    // brute-force sensitive diversity per released cell
    val ev = Tables.load(spark, sfDir, "events")
      .select($"event_type", hour($"ts").cast("long"), $"user_id" % 8)
      .as[(String, Long, Long)].collect().toSeq
    ldiv.foreach { case (level, t, h, _, nSens, lOk) =>
      val members = level match {
        case "exact" => ev.filter(e => e._1 == t && e._2.toString == h)
        case "generalized" =>
          // the small cells of this type (those NOT released exactly)
          ev.filter(e => e._1 == t &&
            !k246.contains(("exact", t, e._2.toString)))
        case _ =>
          ev.filter(e => !k246.contains(("exact", e._1, e._2.toString)) &&
            !k246.contains(("generalized", e._1, "*")))
      }
      assert(members.map(_._3).distinct.size.toLong === nSens,
        s"cell ($level,$t,$h)")
      assert(lOk === (nSens >= 3L))
    }
  }
}
