package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * arguments: the same seed gives byte-identical inputs.
  */
object Gen {

  // ---- Walmart-shaped raw retail files ---------------------------------

  /** Raw files as the reference ships them: zipped `train.csv`, flat and
    * zipped `features.csv` with literal "NA" markdowns and trailing "NA"
    * CPI/unemployment rows, `TRUE`/`FALSE` booleans, a bare-CR
    * `stores.csv`, a zipped `test.csv` that acquisition retains but the
    * pipeline never reads, and a zipped `sampleSubmission.csv` that
    * acquisition must quarantine.
    */
  def retailRaw(seed: Long, stores: Int, weeks: Int, depts: Int): Map[String, Array[Byte]] = {
    val rng = new Random(seed)
    val start = LocalDate.of(2010, 2, 5)
    val featureWeeks = weeks + 26
    val testWeeks = 8
    def date(w: Int) = start.plusWeeks(w.toLong).toString
    def holiday(w: Int) = Set(6, 36, 47, 52)(start.plusWeeks(w.toLong).get(
      java.time.temporal.IsoFields.WEEK_OF_WEEK_BASED_YEAR))
    def bool(b: Boolean) = if (b) "TRUE" else "FALSE"
    def money(x: Double) = f"$x%.2f"

    val storeRows = (1 to stores).map { s =>
      val t = rng.nextInt(10) match { case r if r < 5 => "A"; case r if r < 8 => "B"; case _ => "C" }
      (s, t, 34875 + rng.nextInt(184747))
    }
    val deptsOf = (1 to stores).map { s =>
      s -> (1 to depts).filter(_ => rng.nextDouble() < 0.6)
    }.toMap

    val train = new StringBuilder("Store,Dept,Date,Weekly_Sales,IsHoliday\n")
    for (s <- 1 to stores; d <- deptsOf(s)) {
      val base = 500.0 + rng.nextDouble() * 40000.0
      for (w <- 0 until weeks) {
        val lift = if (holiday(w)) 1.3 else 1.0
        val sales =
          if (rng.nextDouble() < 0.01) -rng.nextDouble() * 2000.0
          else base * lift * (0.7 + 0.6 * rng.nextDouble())
        train ++= s"$s,$d,${date(w)},${money(sales)},${bool(holiday(w))}\n"
      }
    }

    val features = new StringBuilder(
      "Store,Date,Temperature,Fuel_Price,MarkDown1,MarkDown2,MarkDown3," +
        "MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday\n")
    for (s <- 1 to stores; w <- 0 until featureWeeks) {
      def markdown() =
        if (w < 40 || rng.nextDouble() < 0.3) "NA" else money(rng.nextDouble() * 20000.0)
      val trailing = w >= weeks + 13
      val cpi = if (trailing) "NA" else f"${210.0 + 0.05 * w + rng.nextDouble()}%.7f"
      val unemp = if (trailing) "NA" else f"${5.0 + 4.0 * rng.nextDouble()}%.3f"
      features ++= Seq(s.toString, date(w), money(-5.0 + 100.0 * rng.nextDouble()),
        f"${2.5 + 1.5 * rng.nextDouble()}%.3f", markdown(), markdown(), markdown(),
        markdown(), markdown(), cpi, unemp, bool(holiday(w))).mkString(",") + "\n"
    }

    val storesCsv = ("Store,Type,Size" +: storeRows.map { case (s, t, z) => s"$s,$t,$z" })
      .mkString("", "\r", "\r")

    val test = new StringBuilder("Store,Dept,Date,IsHoliday\n")
    val sample = new StringBuilder("Id,Weekly_Sales\n")
    for (s <- 1 to stores; d <- deptsOf(s); w <- weeks until weeks + testWeeks) {
      test ++= s"$s,$d,${date(w)},${bool(holiday(w))}\n"
      sample ++= s"${s}_${d}_${date(w)},0\n"
    }

    val featuresBytes = features.toString.getBytes(UTF_8)
    Map(
      "train.csv.zip" -> zip("train.csv", train.toString.getBytes(UTF_8)),
      "features.csv" -> featuresBytes,
      "features.csv.zip" -> zip("features.csv", featuresBytes),
      "stores.csv" -> storesCsv.getBytes(UTF_8),
      "test.csv.zip" -> zip("test.csv", test.toString.getBytes(UTF_8)),
      "sampleSubmission.csv.zip" -> zip("sampleSubmission.csv", sample.toString.getBytes(UTF_8)))
  }

  /** A one-entry zip with a fixed entry time, so the bytes are stable. */
  def zip(name: String, bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    val e = new ZipEntry(name)
    e.setTime(1262304000000L)
    z.putNextEntry(e)
    z.write(bytes)
    z.closeEntry()
    z.close()
    bos.toByteArray
  }

  def writeFiles(dir: Path, files: Map[String, Array[Byte]]): Long = {
    Files.createDirectories(dir)
    files.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    files.values.map(_.length.toLong).sum
  }

  // ---- curation corpus ---------------------------------------------------

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Corpus(
      docs: Seq[Doc],
      exactGroups: Set[(Long, Long)],  // (kept id, group size)
      plantedPairs: Set[(Long, Long)], // (smaller id, larger id)
      keptIds: Set[Long],              // documents that survive the length filter
      vectors: Seq[(Long, Array[Float], Int)], // (id, embedding, cluster)
      clones: Set[(Long, Long)],       // (original id, clone id)
      queryIds: Seq[Long])

  private val Syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "ze", "pa", "do", "gu", "fe", "hi", "jo", "bu")
  /** A fixed 400-word vocabulary shared by every seed. */
  val Vocab: IndexedSeq[String] = {
    val r = new Random(7)
    Iterator.continually((1 to 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(16))).mkString)
      .distinct.take(400).toIndexedSeq
  }

  /** Documents with planted exact and near duplicates, markup, e-mail
    * addresses and too-short documents; and clustered embeddings with
    * planted near-identical clones.
    */
  def corpus(seed: Long, docs: Int, vectors: Int): Corpus = {
    val dim = 32
    val rng = new Random(seed)
    def words(n: Int) = IndexedSeq.fill(n)(Vocab(rng.nextInt(Vocab.size)))
    val langs = Seq("en", "fr", "es", "de", "zh")
    var nextId = 0L
    val out = mutable.ArrayBuffer.empty[Doc]
    def add(text: String): Long = {
      val id = nextId; nextId += 1
      out += Doc(id, text, langs(rng.nextInt(langs.size)), s"src${rng.nextInt(20)}")
      id
    }
    val background = (0 until docs).map(_ => words(60 + rng.nextInt(40)))
    val ids = background.map(w => add(w.mkString(" ")))
    // Originals for planting are distinct and carry no markup or PII.
    val originals = rng.shuffle(ids.indices.toList)
    val nExact = docs / 40
    val nNear = docs / 20
    val exactFrom = originals.take(nExact)
    val nearFrom = originals.slice(nExact, nExact + nNear)
    val decorated = originals.drop(nExact + nNear).take(docs / 5)
    decorated.zipWithIndex.foreach { case (i, j) =>
      val w = background(i).toBuffer
      if (j % 2 == 0) w.insert(w.size / 2, s"mail ${w.head}${j}@example.com now")
      else w(w.size / 3) = s"<b>${w(w.size / 3)}</b>"
      out(i) = out(i).copy(text = w.mkString(" "))
    }
    val exactPairs = exactFrom.map(i => (ids(i), add(background(i).mkString(" "))))
    val nearPairs = nearFrom.map { i =>
      val w = background(i).toBuffer
      val pos = rng.nextInt(w.size)
      w(pos) = Vocab((Vocab.indexOf(w(pos)) + 1 + rng.nextInt(Vocab.size - 1)) % Vocab.size)
      (ids(i), add(w.mkString(" ")))
    }
    val shortIds = (0 until docs / 50).map(_ => add(words(3 + rng.nextInt(8)).mkString(" ")))
    val planted = (exactPairs ++ nearPairs).toSet

    val centers = IndexedSeq.fill(16)(Array.fill(dim)(rng.nextGaussian()))
    val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float], Int)]
    (0 until vectors).foreach { i =>
      val c = rng.nextInt(centers.size)
      vecs += ((i.toLong, centers(c).map(x => (x + 0.45 * rng.nextGaussian()).toFloat), c))
    }
    val cloneFrom = rng.shuffle((0 until vectors).toList).take(vectors / 50)
    val clones = cloneFrom.zipWithIndex.map { case (i, j) =>
      val id = (vectors + j).toLong
      vecs += ((id, vecs(i)._2.map(x => (x + 0.01 * rng.nextGaussian()).toFloat), vecs(i)._3))
      (i.toLong, id)
    }.toSet
    val queryIds = (cloneFrom.take(20) ++
      rng.shuffle((0 until vectors).toList).filterNot(cloneFrom.contains).take(30))
      .map(_.toLong)

    Corpus(out.toSeq, exactPairs.map { case (o, _) => (o, 2L) }.toSet, planted,
      out.map(_.id).toSet -- shortIds, vecs.toSeq, clones, queryIds)
  }
}
