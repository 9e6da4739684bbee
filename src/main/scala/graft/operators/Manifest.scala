package graft.operators

import graft.operators.Checkpoints.CutOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** TRANSACTIONAL MANIFEST layout — the atomic-publish protocol the
  * dynamic-partition-overwrite lifecycles (q140 backfill, q177 purge,
  * q107/q176 appends) lack. A dynamic overwrite replaces partition
  * directories one rename at a time, so a concurrent reader listing the
  * directory mid-rewrite can see HALF a multi-partition commit (day 3
  * new, day 5 still old) and a crashed writer leaves half its output
  * live. Here data files are IMMUTABLE and invisible until published:
  *
  *   - every write lands in a fresh `data/c{version}/` commit directory;
  *   - a snapshot is a manifest file `_manifests/v{version}.json`
  *     listing exactly the (partition, file) pairs that constitute it;
  *   - commit is ONE atomic rename of the manifest into place (rename
  *     fails loudly if a concurrent committer won the version — no
  *     silent lost update);
  *   - readers pin a manifest version up front and read exactly its
  *     files, so a mid-rewrite read is the OLD snapshot or the NEW one,
  *     never a mix, and a crashed writer's orphan files (data written,
  *     manifest never renamed) are invisible forever;
  *   - old versions stay readable (time travel / audit) until `vacuum`,
  *     which drops every data file the LATEST manifest doesn't
  *     reference plus the superseded manifests.
  *
  * Scale shape: one Spark write job per commit (hive-routed by a COPY
  * of the partition column, so data files keep the real column and
  * snapshot reads need no re-attachment join); the manifest is
  * partition-domain × files-per-partition sized — the same
  * driver-bounded census q140/q177 already ride on — and
  * `readPartitions` prunes to the matching manifest entries so a
  * point lookup reads |hit partitions| worth of bytes, not the table.
  */
object Manifest {

  private val PartDir = "__p"

  /** One snapshot member: partition value, relative file path, and —
    * when the layout tracks stats columns — the file's min/max of the
    * primary (`lo`/`hi`) and optional secondary (`lo2`/`hi2`) stats
    * column (None when every row's stats value is NULL; such a file is
    * conservatively INCLUDED by every range read). Two dimensions
    * because a Z-ORDER-clustered layout skips on either — one sorted
    * dimension can only ever serve itself.
    */
  private[graft] case class Entry(p: String, file: String,
      lo: Option[Long] = None, hi: Option[Long] = None,
      bloom: Option[String] = None,
      lo2: Option[Long] = None, hi2: Option[Long] = None,
      kmv: Option[String] = None)

  /** Resolve an entry's data-file path: branch manifests reference
    * foreign (source-layout) files by ABSOLUTE path — the zero-copy
    * mechanism; everything else stays dir-relative.
    */
  private def filePath(dir: String, file: String): String =
    if (isAbsolute(file)) file else s"$dir/$file"

  /** Absolute = rooted ("/...") OR scheme-qualified ("s3://...",
    * "hdfs://...") — a bare leading-slash test silently re-prefixes
    * branch entries on any non-default filesystem, doubling the path.
    */
  private def isAbsolute(p: String): Boolean =
    p.startsWith("/") || p.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:/.*")

  private def fs(dir: String, conf: Configuration) =
    new Path(dir).getFileSystem(conf)

  private def manifestPath(dir: String, version: Int) =
    new Path(s"$dir/_manifests", f"v$version%06d.json")

  /** Largest committed version, or 0 if none. */
  def latestVersion(dir: String, conf: Configuration): Int = {
    val mdir = new Path(s"$dir/_manifests")
    val f = fs(dir, conf)
    if (!f.exists(mdir)) return 0
    f.listStatus(mdir).map(_.getPath.getName)
      .collect { case s if s.matches("v\\d{6}\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max)
  }

  /** Version-level metadata carried in the manifest header line:
    * `batch` (exactly-once streaming stamp), `dv` (the ordered list of
    * immutable deletion-vector delta dirs constituting this version's
    * DV — merge-on-read state), `bloomK`/`kmvK` (the hash count every
    * per-entry Bloom bitset was built with — bits derive from each
    * bitset's own byte length — and the KMV sketch size), `op` (the
    * history tag) and `n` (the entry count, set by the writer).
    *
    * Carry rule: a commit built over a base version heads itself with
    * `base.next(op, schema, batch)`, which carries `dv`, `bloomK` and
    * `kmvK` forward and never `batch` or `n` — a stamp belongs to the
    * one commit that applied its batch (history hashes it), and the
    * count belongs to the entries written. Carrying the DV is what
    * stops a routine append from resurrecting merge-on-read-deleted
    * rows, so a verb that changes it says so with `.copy(dv = …)`: a
    * delete appends its delta, `applyDeletes`/`compact`/`clusterZOrder`
    * fold it to Nil, a merge drops every base delta whose victims all
    * lie in partitions it rewrote (their files leave the snapshot), a
    * branch absolutizes it and a branch merge appends the branch's own
    * deltas.
    *
    * `schema` (round 18) is the snapshot's UNION column schema as
    * `StructType.json` — exactly what a `mergeSchema` read over the
    * version's files yields (base columns in base order, appended
    * columns appended; common-column nullability unioned). When
    * present, snapshot reads pass it as an explicit read schema and
    * skip the per-read distributed parquet-footer merge job entirely
    * (guide §6: read one line, not N footers). Commits record it only
    * when it is PROVABLY the union of the surviving files' schemas
    * (append-like commits merge base+new; entry-dropping commits
    * require the new files to cover every base column; pure carries
    * copy the base's); anywhere the union cannot be proven the field
    * stays empty and reads fall back to `mergeSchema` — identical
    * behavior, footer cost and all.
    */
  private[graft] case class Header(batch: Long = -1L, bloomK: Int = -1,
      dv: Seq[String] = Nil, kmvK: Int = -1, op: String = "",
      n: Long = -1L, schema: String = "") {
    def next(op: String, schema: String, batch: Long = -1L): Header =
      Header(batch, bloomK, dv, kmvK, op, schema = schema)
  }

  /** Per-layout commit lock: the exists-then-rename CAS below is atomic
    * on HDFS/object stores (rename onto an existing destination fails)
    * but NOT on a raw local FS (POSIX rename silently replaces), and a
    * multi-threaded driver — a streaming ingest leg plus a maintenance
    * job in one Spark app — genuinely races it. The JVM-wide lock
    * closes the window for every writer in this process; cross-process
    * local-FS racers should use a real cluster FS (where the rename
    * precondition holds server-side).
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def commitLock(dir: String): Object =
    commitLocks.computeIfAbsent(dir, _ => new Object)

  /** One-rename commit: the version is taken or it isn't — a lost race
    * is a loud failure, never a silent overwrite of someone else's
    * snapshot.
    */
  private[graft] def commitManifest(dir: String, version: Int,
      entries: Seq[Entry], conf: Configuration, h: Header = Header()): Unit =
    commitManifestStreamed(dir, version,
      entries.sortBy(e => (e.p, e.file)).iterator, conf,
      h.copy(n = entries.length))

  /** The streaming form of the commit writer: entries arrive as an
    * ITERATOR (the distributed carry paths feed it one executor
    * partition at a time via `toLocalIterator`), so the driver's
    * working set is one line, never the table's file census. `h.n`
    * must already count them because the header is the first line.
    */
  private def commitManifestStreamed(dir: String, version: Int,
      entries: Iterator[Entry], conf: Configuration, h: Header): Unit = {
    val f = fs(dir, conf)
    // tmp names must be unique per ATTEMPT, not per process: two
    // threads of one driver racing the same version otherwise write
    // (and rename away) each other's staged manifest
    val tmp = new Path(s"$dir/_manifests",
      s".tmp-${ProcessHandle.current().pid()}" +
        s"-t${Thread.currentThread().getId}" +
        s"x${System.nanoTime().toHexString}-v$version")
    val out = f.create(tmp, true)
    try {
      out.write(headerLine(version, h)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      entries.foreach { e =>
        val stats = (e.lo, e.hi) match {
          case (Some(l), Some(h)) => s""","lo":$l,"hi":$h"""
          case _ => ""
        }
        val stats2 = (e.lo2, e.hi2) match {
          case (Some(l), Some(h)) => s""","lo2":$l,"hi2":$h"""
          case _ => ""
        }
        val bloom = e.bloom.map(b => s""","bloom":"$b"""").getOrElse("")
        val kmv = e.kmv.map(b => s""","kmv":"$b"""").getOrElse("")
        out.write(
          s"""{"p":"${e.p}","file":"${e.file}"$stats$stats2$bloom$kmv}\n"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } finally out.close()
    val target = manifestPath(dir, version)
    val won = commitLock(dir).synchronized {
      publishCas(f, tmp, target)
    }
    if (!won) f.delete(tmp, false) // loser's staged manifest is debris
    require(won,
      s"manifest commit v$version lost the race (another writer " +
        s"published it) - rebase on latestVersion and retry")
  }

  /** The publish CAS: target taken ⇒ false, else tmp becomes target
    * atomically. On a LOCAL filesystem the exists+rename pair is a
    * TOCTOU hole for CROSS-PROCESS writers (POSIX rename silently
    * REPLACES an existing target; the JVM commit lock can't see a
    * second process), so there the publish is a hard LINK — link(2)
    * fails with EEXIST atomically, the true compare-and-swap. HDFS
    * rename already refuses an existing destination and object-store
    * committers layer their own CAS, so the Hadoop route stays for
    * every other scheme.
    */
  private def publishCas(f: org.apache.hadoop.fs.FileSystem,
      tmp: Path, target: Path): Boolean = {
    val scheme = target.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val s = java.nio.file.Paths.get(tmp.toUri.getPath)
      val t = java.nio.file.Paths.get(target.toUri.getPath)
      try {
        java.nio.file.Files.createLink(t, s)
        f.delete(tmp, false) // drops the staging name (+ crc sidecar)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // a local fs without link(2) (exotic mounts) keeps the legacy
        // exists+rename — same guarantees as before this hardening
        case _: UnsupportedOperationException |
            _: java.nio.file.FileSystemException =>
          !f.exists(target) && f.rename(tmp, target)
      }
    } else !f.exists(target) && f.rename(tmp, target)
  }

  // ---- The entry census: one regime switch ----------------------------
  //
  // Every lifecycle op asks some question of a version's entries —
  // "which partitions changed", "which files intersect this range",
  // "carry every entry except these partitions forward". Each question
  // is written ONCE, as Scala functions over `Entry` (a key or
  // predicate `Entry => Option[K]`, a carry `Entry => Option[Entry]`, a
  // merge `(A, A) => A`), and `census` decides where they run from the
  // headers' `n` (headers from before the field count as large —
  // conservative, never wrong). At or below
  // `graft.manifest.driverCensusMaxFiles` (default 100k) they run over
  // the driver's regex parse of the manifest: zero Spark jobs,
  // microseconds at gate scale. Above it the driver would become a
  // single-threaded JSON parser holding the whole file census — the
  // layer's 100 TB ceiling — so the same functions run as typed Dataset
  // ops over `entriesRelation` (the parquet checkpoint when fresh, else
  // the distributed text parse): executors parse, the driver sees only
  // the question's answer and, for carry-forward commits, a one-line-
  // at-a-time stream. The small regime is deliberately NOT a DataFrame
  // over a LocalRelation: at local[2] over 120 entries a filter folding
  // to a LocalRelation costs ~25 ms (0.04 ms for the Seq), distinct /
  // groupBy / anti-join launch 2 jobs each (83-116 ms), and a sorted,
  // persisted carry 5 jobs (~790 ms) — against a ~0.6 s commit.

  private def driverCensus(spark: SparkSession, n: Long): Boolean =
    n >= 0 && n <=
      spark.conf.get("graft.manifest.driverCensusMaxFiles", "100000").toLong

  /** Per-pass cap on the index builds' todo list (the paths must reach
    * the driver as `spark.read.parquet` arguments): a maintenance pass
    * indexes at most this many unscanned files and commits; repeated
    * passes converge (`addBloomIndex`/`addDistinctSketch` return false
    * when nothing is left), so a freshly unindexed 10^7-file table
    * never materializes its file census on the driver in one gulp.
    */
  private def indexBatchMax(spark: SparkSession): Int =
    spark.conf.get("graft.manifest.indexBatchMaxFiles", "100000").toInt

  private def enc[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()

  /** `f` over a distributed entry relation, as a typed relation. */
  private def rows[K: TypeTag](ds: Dataset[Entry],
      f: Entry => Option[K]): Dataset[K] =
    ds.flatMap(e => f(e).toSeq)(enc[K])

  /** A key set held where its census runs: a driver set below the
    * threshold, an executor relation above it.
    */
  private type Keys = Either[Set[String], Dataset[String]]

  /** How a distributed census projects the `bloom`/`kmv` payloads:
    * absent from the map = NULL (the parquet read prunes the column),
    * `isSet` = "" when present, `identity` = the bytes.
    */
  private type Payload = Map[String, Column => Column]
  private val isSet: Column => Column = c => when(c.isNotNull, lit(""))
  private val allPayloads: Payload = Map("bloom" -> identity, "kmv" -> identity)

  /** The entries of one or more manifest versions ("legs") in the
    * regime `census` picked: `local` (driver-parsed) below the
    * threshold, else `dist` (distributed). Each primitive runs per-entry
    * functions as collection ops on the driver or as typed Dataset ops
    * in the executors, so every census over it is written once.
    */
  private final class Census(spark: SparkSession, local: Seq[Seq[Entry]],
      dist: Seq[Dataset[Entry]], ns: Seq[Long]) {
    val small: Boolean = dist.isEmpty

    /** What `f` yields over leg `i` (in manifest order on the driver),
      * at most `limit` values when `limit >= 0`.
      */
    def collect[K: TypeTag](i: Int, f: Entry => Option[K],
        limit: Int = -1): Seq[K] =
      if (small) {
        val it = local(i).iterator.flatMap(f)
        (if (limit >= 0) it.take(limit) else it).toVector
      } else {
        val r = rows(dist(i), f)
        (if (limit >= 0) r.limit(limit) else r).collect().toSeq
      }

    /** What `f` yields over leg `i`, as a key set. */
    def keys(i: Int, f: Entry => Option[String]): Keys =
      if (small) Left(local(i).flatMap(f).toSet) else Right(rows(dist(i), f))

    /** Distinct `out` of the entries of legs `at` whose `key` is (`anti`:
      * is not) among `among` — driver set ops below the threshold, one
      * executor semi/anti-join above it.
      */
    def join(key: Entry => String, among: Keys, anti: Boolean = false,
        at: Seq[Int] = Seq(0))(out: Entry => String): Seq[String] =
      if (small) {
        val s = among.fold(identity, _.collect().toSet)
        at.flatMap(local).filter(e => s(key(e)) != anti).map(out).distinct
      } else {
        val k = among.fold(s => spark.createDataset(s.toSeq)(Encoders.STRING),
          identity).toDF("__k")
        at.map(i => rows(dist(i), e => Some((key(e), out(e)))))
          .reduce(_ union _)
          .join(k, col("_1") === col("__k"),
            if (anti) "left_anti" else "left_semi")
          .select("_2").distinct().as(Encoders.STRING).collect().toSeq
      }

    /** `out` of leg `i`'s entries whose file the other leg of a
      * two-version census lacks — the file-level diff.
      */
    def onlyIn(i: Int)(out: Entry => String): Seq[String] =
      join(_.file, keys(1 - i, e => Some(e.file)), anti = true,
        at = Seq(i))(out)

    /** `f`'s keyed values over leg `i`, merged per key with `merge`. */
    def reduce[K: TypeTag, A: TypeTag](i: Int, f: Entry => Option[(K, A)])(
        merge: (A, A) => A): Map[K, A] =
      if (small) local(i).flatMap(f).groupMapReduce(_._1)(_._2)(merge)
      else rows(dist(i), f).groupByKey(_._1)(enc[K])
        .mapValues(_._2)(enc[A]).reduceGroups(merge).collect().toMap

    /** Files per partition of the first leg. */
    def perPartition(): Map[String, Long] =
      reduce(0, e => Some(e.p -> 1L))(_ + _)

    /** Leg `i`'s entry count: the header's `n`; counted only for
      * manifests from before the field.
      */
    def size(i: Int): Long = if (ns(i) >= 0) ns(i) else dist(i).count()

    /** Every leg's entries through its carry: a driver list, or one
      * relation for the streaming writer.
      */
    def carry(fs: Seq[Entry => Option[Entry]]): Either[Seq[Entry], DataFrame] =
      if (small) Left(local.zip(fs).flatMap { case (es, f) => es.flatMap(f) })
      else Right(dist.zip(fs).map { case (ds, f) => rows(ds, f).toDF() }
        .reduce(_ unionAll _))
  }

  /** The regime switch: reads each leg's header `n` once; when every leg
    * is at or below `graft.manifest.driverCensusMaxFiles` the legs are
    * the driver's manifest parse, else `entriesRelation` with the
    * payloads projected by `payload` — a typed read must not ship
    * payload bytes its census never looks at.
    */
  private def census(spark: SparkSession, legs: Seq[(String, Int)],
      payload: Payload = Map.empty): Census = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ns = legs.map { case (d, v) => readHeader(d, v, conf).n }
    if (ns.forall(driverCensus(spark, _)))
      new Census(spark, legs.map { case (d, v) => readManifest(d, v, conf) },
        Nil, ns)
    else new Census(spark, Nil, legs.map { case (d, v) =>
      Seq("bloom", "kmv").foldLeft(entriesRelation(spark, d, v))((r, c) =>
        r.withColumn(c, payload.getOrElse(c,
          (_: Column) => lit(null).cast("string"))(col(c))))
        .as(enc[Entry])
    }, ns)
  }

  private val entryCols = Seq("p", "file", "lo", "hi", "lo2", "hi2",
    "bloom", "kmv")

  /** One carried slice of an existing manifest: `carry` keeps, drops or
    * rewrites each entry (filter by partition, absolutize for the
    * zero-copy branch move).
    */
  private case class CarryLeg(dir: String, version: Int,
      carry: Entry => Option[Entry])

  /** Publish `newVersion` of `dstDir` as (the legs' carried entries) ++
    * `extra` — the carry-forward shape of every non-create commit. Small
    * legs carry on the driver with zero Spark jobs; any large leg routes
    * the WHOLE carry through the streaming writer, so the driver never
    * materializes a table-census entry list.
    */
  private def commitCarry(spark: SparkSession, dstDir: String,
      newVersion: Int, legs: Seq[CarryLeg], extra: Seq[Entry],
      conf: Configuration, h: Header): Unit =
    census(spark, legs.map(l => (l.dir, l.version)), allPayloads)
      .carry(legs.map(_.carry)) match {
      case Left(es) => commitManifest(dstDir, newVersion, es ++ extra, conf, h)
      case Right(rel) =>
        commitRelationStreamed(dstDir, newVersion, rel, extra, conf, h)
    }

  /** Publish an entry RELATION (any DataFrame with the entry columns)
    * as `newVersion`, streaming it through the driver one executor
    * partition at a time — the carrier for every distributed-census
    * commit, including maintenance passes that TRANSFORM entries
    * (bloom/sketch builds). The carried stream and `extra` MERGE by
    * (p, file) — both are already sorted — so the manifest is globally
    * sorted and the bytes this path emits for given logical content are
    * identical to the driver path's (`commitManifest` sorts
    * carried++extra together); byte-level regime divergence would defeat
    * manifest diffing and any content-addressed replication of the
    * manifest log.
    */
  private[graft] def commitRelationStreamed(dstDir: String, newVersion: Int,
      rel: DataFrame, extra: Seq[Entry], conf: Configuration,
      h: Header): Unit = {
    val carry = rel.select(entryCols.map(col): _*)
      .orderBy("p", "file").as(enc[Entry]).persist()
    try {
      val n = carry.count() + extra.length
      val it = mergeByKey(toScalaIterator(carry.toLocalIterator()),
        extra.sortBy(e => (e.p, e.file)).iterator)
      commitManifestStreamed(dstDir, newVersion, it, conf, h.copy(n = n))
    } finally carry.unpersist()
  }

  /** Merge two (p, file)-sorted entry streams into one sorted stream —
    * O(1) driver state, ties drain the left side first (carried before
    * extra; (p, file) never collides across commits in practice, files
    * are commit-dir-unique).
    */
  private def mergeByKey(a: Iterator[Entry],
      b: Iterator[Entry]): Iterator[Entry] = {
    val ab = a.buffered
    val bb = b.buffered
    new Iterator[Entry] {
      def hasNext: Boolean = ab.hasNext || bb.hasNext
      def next(): Entry =
        if (!bb.hasNext) ab.next()
        else if (!ab.hasNext) bb.next()
        else {
          val ka = (ab.head.p, ab.head.file)
          val kb = (bb.head.p, bb.head.file)
          if (Ordering[(String, String)].lteq(ka, kb)) ab.next()
          else bb.next()
        }
    }
  }

  private def toScalaIterator[T](it: java.util.Iterator[T]): Iterator[T] = {
    import scala.jdk.CollectionConverters._
    it.asScala
  }

  /** The single-source carry: `fromVersion`'s entries minus `dropParts`,
    * plus `extra`, into `dir`'s `newVersion`.
    */
  private def commitCarryExcept(spark: SparkSession, dir: String,
      fromVersion: Int, newVersion: Int, dropParts: Set[String],
      extra: Seq[Entry], conf: Configuration, h: Header): Unit =
    commitCarry(spark, dir, newVersion, Seq(CarryLeg(dir, fromVersion,
      e => Option.unless(dropParts(e.p))(e))), extra, conf, h)

  /** Rows of the data files `files` of `dir`, schemas merged. */
  private def readFiles(spark: SparkSession, dir: String,
      files: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(files.map(filePath(dir, _)): _*)

  /** `__p=<v>/<file>` of a scanned row's data file — the key deletion
    * vectors and index payloads are recorded under.
    */
  private def metaTail: Column = {
    val segs = split(col("_metadata.file_path"), "/")
    concat_ws("/", element_at(segs, -2), element_at(segs, -1))
  }

  /** `df`'s rows (file tail, row position)-joined to `dv` by `how`, with
    * `df`'s columns — the merge-on-read filter (`left_anti`) and the
    * victim materialization (`left_semi`).
    */
  private def byPos(df: DataFrame, dv: DataFrame, how: String): DataFrame =
    df.withColumn("__file", metaTail)
      .withColumn("__pos", col("_metadata.row_index"))
      .join(dv, Seq("__file", "__pos"), how)
      .select(df.columns.map(col).toSeq: _*)

  /** Whether a file with stats [lo, hi] may hold a value in [l, h]
    * (stats-less files conservatively may).
    */
  private def overlaps(lo: Option[Long], hi: Option[Long], l: Long,
      h: Long): Boolean =
    lo.forall(_ <= h) && hi.forall(_ >= l)

  private def manifestLines(dir: String, version: Int,
      conf: Configuration): Vector[String] = {
    val p = manifestPath(dir, version)
    val f = fs(dir, conf)
    require(f.exists(p),
      s"$dir has no manifest v$version - not a Manifest layout, or the " +
        "version was vacuumed")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toVector finally in.close()
  }

  private[graft] def readHeader(dir: String, version: Int,
      conf: Configuration): Header = {
    // first line ONLY — a header question must never load the entry
    // census (at 10^7 files that is gigabytes of driver heap)
    val p = manifestPath(dir, version)
    val f = fs(dir, conf)
    require(f.exists(p),
      s"$dir has no manifest v$version - not a Manifest layout, or the " +
        "version was vacuumed")
    val in = f.open(p)
    val head = try {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(in,
        java.nio.charset.StandardCharsets.UTF_8))
      Option(r.readLine()).getOrElse("")
    } finally in.close()
    val B = """"batch":(\d+)""".r
    val N = """"n":(\d+)""".r
    val K = """"bloomk":(\d+)""".r
    val KM = """"kmvk":(\d+)""".r
    val OP = """"op":"([a-z\-]+)"""".r
    val D = """"dv":\[([^\]]*)\]""".r
    val S = """"([^"]+)"""".r
    // the scalar fields live BEFORE the schema key (the writer puts it
    // last); scanning the schema's nested JSON would let a column named
    // like a header field shadow the real one
    val scalars = headerPrefix(head)
    val schema = {
      val i = head.indexOf(SchemaKey)
      if (i < 0) ""
      // the header line is one JSON object; the schema object is its
      // last member, so it spans to the line's closing brace
      else head.substring(i + SchemaKey.length, head.lastIndexOf('}'))
    }
    Header(
      batch = B.findFirstMatchIn(scalars).map(_.group(1).toLong).getOrElse(-1L),
      n = N.findFirstMatchIn(scalars).map(_.group(1).toLong).getOrElse(-1L),
      bloomK = K.findFirstMatchIn(scalars).map(_.group(1).toInt).getOrElse(-1),
      kmvK = KM.findFirstMatchIn(scalars).map(_.group(1).toInt).getOrElse(-1),
      op = OP.findFirstMatchIn(scalars).map(_.group(1)).getOrElse(""),
      dv = D.findFirstMatchIn(scalars).map(_.group(1)).toSeq
        .flatMap(a => S.findAllMatchIn(a).map(_.group(1)).toSeq),
      schema = schema)
  }

  /** The header line `readHeader` parses: optional fields appear only
    * when set, in a fixed order. The entry COUNT rides the header so
    * census consumers (DESCRIBE HISTORY) never parse entry lines — one
    * header line per version is the driver's whole working set however
    * many files there are.
    */
  private def headerLine(version: Int, h: Header): String = {
    val fields = Seq(s""""version":$version""", s""""n":${h.n}""") ++
      (if (h.batch >= 0) Seq(s""""batch":${h.batch}""") else Nil) ++
      (if (h.bloomK >= 1) Seq(s""""bloomk":${h.bloomK}""") else Nil) ++
      (if (h.kmvK >= 1) Seq(s""""kmvk":${h.kmvK}""") else Nil) ++
      (if (h.op.nonEmpty) Seq(s""""op":"${h.op}"""") else Nil) ++
      (if (h.dv.nonEmpty)
        Seq(s""""dv":[${h.dv.map(p => s""""$p"""").mkString(",")}]""")
      else Nil) ++
      // schema LAST: the scalar-field regex scans stop at its key, so
      // the nested StructType JSON can never shadow a header field
      (if (h.schema.nonEmpty) Seq(s""""schema":${h.schema}""") else Nil)
    fields.mkString("{", ",", "}") + "\n"
  }

  private val SchemaKey = "\"schema\":"

  /** The header line up to (excluding) the schema member — the region
    * the scalar-field regexes may scan.
    */
  private def headerPrefix(line: String): String = {
    val i = line.indexOf(SchemaKey)
    if (i < 0) line else line.substring(0, i)
  }

  private def readManifest(dir: String, version: Int,
      conf: Configuration): Seq[Entry] = {
    val lines = manifestLines(dir, version, conf)
    val Line =
      ("""\{"p":"([^"]*)","file":"([^"]*)"(?:,"lo":(-?\d+),"hi":(-?\d+))?""" +
        """(?:,"lo2":(-?\d+),"hi2":(-?\d+))?""" +
        """(?:,"bloom":"([A-Za-z0-9+/=]*)")?""" +
        """(?:,"kmv":"([A-Za-z0-9+/=]*)")?\}""").r
    lines.drop(1).map { case Line(pv, file, lo, hi, lo2, hi2, bloom, kmv) =>
      Entry(pv, file, Option(lo).map(_.toLong), Option(hi).map(_.toLong),
        Option(bloom), Option(lo2).map(_.toLong), Option(hi2).map(_.toLong),
        Option(kmv))
    }
  }

  // ---- Header schema tracking (round 18) ------------------------------
  //
  // Every snapshot read used to pay `mergeSchema` — a DISTRIBUTED
  // parquet-footer merge job per read — to survive widened appends.
  // The union schema is knowable at COMMIT time for free (the writer
  // holds the DataFrame), so commits record it in the header and reads
  // pass it explicitly. The recording rules are conservative: a commit
  // writes the field only when the recorded value provably equals what
  // a mergeSchema read of the new version's files would infer;
  // otherwise it writes nothing and readers keep the mergeSchema path.

  private def parseSchema(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Union schema for an APPEND-like commit (NO entries dropped): base
    * columns in base order (nullability unioned where the new data also
    * carries the column), new columns appended in their own order —
    * exactly the fold parquet's mergeSchemasInParallel performs over
    * old-then-new footers under append-only evolution. Returns "" (stay
    * on mergeSchema) when the base schema is unknown or a common column
    * changed type (type-widening merges are footer territory).
    */
  private def appendSchemaJson(base: String,
      add: org.apache.spark.sql.types.StructType): String = {
    if (base.isEmpty) return ""
    val b = parseSchema(base)
    val byName = add.fields.map(f => f.name -> f).toMap
    if (b.fields.exists(f =>
        byName.get(f.name).exists(_.dataType != f.dataType))) return ""
    val merged = b.fields.map(f => byName.get(f.name)
      .map(g => f.copy(nullable = f.nullable || g.nullable)).getOrElse(f))
    val have = b.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      merged ++ add.fields.filterNot(f => have(f.name))).json
  }

  /** Union schema for a commit that DROPS entries while writing files
    * of schema `add`: exact ONLY when the new files carry every base
    * column (then merge(survivors ∪ new) = merge(base, add) regardless
    * of which base files survived — survivors' schemas are subsets of
    * base and the new files cover it). "" (mergeSchema fallback) when
    * the new data narrows the schema: whether a dropped file was the
    * last holder of a column is not knowable without footer reads.
    */
  private def coveringSchemaJson(base: String,
      add: org.apache.spark.sql.types.StructType): String = {
    if (base.isEmpty) return ""
    val b = parseSchema(base)
    val byName = add.fields.map(f => f.name -> f).toMap
    val covered = b.fields.forall(f =>
      byName.get(f.name).exists(_.dataType == f.dataType))
    if (covered) appendSchemaJson(base, add) else ""
  }

  /** Write `df` as an UNCOMMITTED commit directory and return its
    * manifest entries. Public only through the lifecycle ops below and
    * the crash-simulation gates: files written here are invisible to
    * every reader until a manifest referencing them is renamed in.
    */
  private[graft] def writeCommitFiles(df: DataFrame, dir: String,
      partCol: String, version: Int, statsCol: String = null,
      suffix: String = "", statsCol2: String = null): Seq[Entry] = {
    require(statsCol2 == null || statsCol != null,
      "writeCommitFiles: statsCol2 requires statsCol")
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val commitRel = f"data/c$version%06d$suffix%s"
    // WRITE DISTRIBUTION (round 18 — Iceberg's write.distribution-mode):
    // `none` (default) writes the frame's existing task layout — at
    // cluster scale a commit from an N-thousand-task frame emits up to
    // tasks × partitions files. `hash` clusters rows by the partition
    // column first, bounding each partition's files to one task's
    // output (the shuffle is the price; AQE sizes it). Parameterized,
    // not local-tuned: the default keeps commits byte-identical to the
    // pre-round layout, ManifestScaleSpec pins the hash mode's file
    // bound on a many-task fixture. Under `none` the rewrites that lay
    // out their own files keep that layout: `merge` rebalances by
    // partition, `autoCompact` runs one task per hot partition, and
    // `compact` / `clusterZOrder` write their requested files per
    // partition; `hash` re-clusters every frame written here, theirs
    // included.
    val clustered =
      spark.conf.get("graft.manifest.distributionMode", "none") match {
        case "none" => df
        case "hash" => df.repartition(col(partCol))
        case other => sys.error(
          s"graft.manifest.distributionMode: unknown mode '$other' " +
            "(expected none|hash)")
      }
    // overwrite: version N's dir can only pre-exist as the debris of a
    // CRASHED attempt at N (a committed N forces later writers to N+1),
    // so a retry reclaims it cleanly. One writer per version — the
    // manifest rename CAS serializes commits, not concurrent file
    // writes into the same uncommitted dir.
    clustered.withColumn(PartDir, col(partCol).cast("string"))
      .write.mode("overwrite").partitionBy(PartDir)
      .parquet(s"$dir/$commitRel")
    // per-file min/max of the stats column(s) for range skipping: ONE
    // scan of ONLY the just-written bytes, keyed by physical file (both
    // dimensions in the same aggregation — never a second pass)
    val stats: Map[String, ((Long, Long), Option[(Long, Long)])] =
      if (statsCol == null) Map.empty
      else {
        val aggs = Seq(min(col(statsCol).cast("long")).as("lo"),
          max(col(statsCol).cast("long")).as("hi")) ++
          (if (statsCol2 == null) Nil
           else Seq(min(col(statsCol2).cast("long")).as("lo2"),
             max(col(statsCol2).cast("long")).as("hi2")))
        spark.read.parquet(s"$dir/$commitRel")
          .groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .filter(col("lo").isNotNull)
          .collect()
          .map { r =>
            val second =
              if (statsCol2 != null && !r.isNullAt(3))
                Some((r.getLong(3), r.getLong(4)))
              else None
            tailKey(r.getString(0)) -> ((r.getLong(1), r.getLong(2)), second)
          }
          .toMap
      }
    val f = fs(dir, conf)
    f.listStatus(new Path(s"$dir/$commitRel")).toSeq
      .filter(_.isDirectory).flatMap { d =>
        val p = d.getPath.getName match {
          case PartSeg(v) => v
          case other => sys.error(s"unexpected commit subdir $other")
        }
        require(p.matches("[-A-Za-z0-9_.:]+"),
          s"partition value '$p' is not hive-path-safe - the manifest " +
            "protocol requires plain date/number/word partition values")
        f.listStatus(d.getPath).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map { s =>
            val name = s.getPath.getName
            // a task writing several partitions reuses its part-file
            // name in each __p= dir, so the stats key carries both
            val st = stats.get(s"$PartDir=$p/$name")
            Entry(p, s"$commitRel/$PartDir=$p/$name",
              st.map(_._1._1), st.map(_._1._2),
              lo2 = st.flatMap(_._2).map(_._1),
              hi2 = st.flatMap(_._2).map(_._2))
          }
      }
  }

  /** Last two path segments — `__p=<v>/<file>` — the within-commit
    * unique key for a data file.
    */
  private def tailKey(uri: String): String = {
    val i = uri.lastIndexOf('/')
    val j = uri.lastIndexOf('/', i - 1)
    uri.substring(j + 1)
  }

  /** `__p=<v>`, the commit subdir of partition value v (group 1). */
  private val PartSeg = s"$PartDir=([^/]+)".r

  /** The partition value of a file-tail column (`__p=<v>/<file>`, as
    * `tailKey` and `metaTail` give it).
    */
  private def tailPartition(tail: Column): Column =
    regexp_extract(tail, s"^${PartSeg.regex}/", 1)

  /** Create a new manifested layout (v1). Loud if one already exists.
    * `statsCol` (optional, a long-castable column) turns on per-file
    * min/max tracking for `readRange` data skipping — every later
    * commit into the layout must pass the same column.
    */
  def create(df: DataFrame, dir: String, partCol: String,
      statsCol: String = null): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    require(latestVersion(dir, conf) == 0,
      s"$dir already holds a manifested layout - use append/overwrite")
    commitManifest(dir, 1, writeCommitFiles(df, dir, partCol, 1, statsCol),
      conf, Header(op = "create", schema = df.schema.json))
  }

  /** Batch ids already committed into this layout. Served from the
    * checkpoint's persisted stamp set plus the header lines of only
    * the versions AFTER it — so a streaming sink's per-micro-batch
    * replay check opens O(commits since last checkpoint) files, not
    * O(all versions), and (crucially) stamps SURVIVE vacuum: vacuum
    * deletes superseded manifests, which without the checkpoint would
    * silently forget old stamps and let a months-later replay of an
    * already-applied batch re-apply. Without a checkpoint this is the
    * full header scan (one line per manifest).
    */
  def committedBatches(dir: String, conf: Configuration): Set[Long] = {
    val mdir = new Path(s"$dir/_manifests")
    val f = fs(dir, conf)
    if (!f.exists(mdir)) return Set.empty
    val ckptV = lastCheckpoint(dir, conf)
    val V = """v(\d{6})\.json""".r
    checkpointBatches(dir, conf) ++ f.listStatus(mdir).toSeq
      .map(_.getPath.getName)
      .collect { case V(v) if v.toInt > ckptV =>
        readHeader(dir, v.toInt, conf).batch }
      .filter(_ >= 0).toSet
  }

  /** EXACTLY-ONCE streaming sink commit (the foreachBatch contract):
    * append `df` as one atomic commit STAMPED with the micro-batch id.
    * A replayed batch — Structured Streaming re-delivers the same
    * batchId after a crash or rebalance — is detected by the stamp and
    * skipped BEFORE any file is written, so retries cannot duplicate
    * rows or even shed orphans. Returns whether the batch committed
    * (false = replay no-op). The at-least-once foreachBatch delivery
    * plus this idempotent commit is exactly-once publication.
    */
  def commitBatch(df: DataFrame, dir: String, partCol: String,
      batchId: Long, statsCol: String = null): Boolean = {
    require(batchId >= 0, s"commitBatch: batchId must be >= 0, got $batchId")
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    if (committedBatches(dir, conf).contains(batchId)) return false
    // empty micro-batches (streaming engines deliver them) publish
    // nothing; re-skipping an unstamped empty replay is harmless
    if (df.isEmpty) return false
    val base = latestVersion(dir, conf)
    val entries = writeCommitFiles(df, dir, partCol, base + 1, statsCol,
      suffix = writerToken())
    appendEntries(df.sparkSession, dir, entries, batchId = batchId,
      dfSchema = df.schema)
    true
  }

  /** Writer-unique staging suffix: concurrent committers must never
    * share a commit directory — a same-base rival's mode("overwrite")
    * write would clobber staged files before their manifest lands.
    */
  private def writerToken(): String =
    s"-w${ProcessHandle.current().pid()}" +
      s"t${Thread.currentThread().getId}" +
      s"x${System.nanoTime().toHexString}"

  /** THE optimistic-concurrency publish (the Delta/Iceberg commit
    * protocol), shared by every verb that stages bytes first and
    * publishes them over whatever version is latest: appends, prepared
    * overwrites, merges and merge-on-read deletes. The staged bytes —
    * `entries`' data files plus any other `staged` path (a DV delta) —
    * are manifest-invisible until this lands, and `entries` replace the
    * partitions in `touched`. Each attempt, in order:
    *
    *   1. reads the latest version;
    *   2. re-checks the batch stamp: if a racing duplicate delivery
    *      already committed it, returns None and publishes nothing;
    *   3. checks that the staged bytes still exist — until published
    *      they are orphans a `vacuum` legally reaps, and a snapshot
    *      naming reaped bytes breaks every later read;
    *   4. when `touched` is non-empty, fails on write-write conflicts
    *      since `base`: partitions whose file set changed, and
    *      partitions holding victims of DV deltas committed after
    *      `base` (a DV-only delete is invisible to the file-set diff,
    *      and the staged rewrite, computed through base's DV, would
    *      resurrect its victims);
    *   5. runs the caller's `check` on the latest version;
    *   6. commits over latest, headed by `header(latest, its header)`.
    *      A lost CAS rebases: the next attempt starts again at 1, up to
    *      `maxAttempts` retries — the staged bytes never move, only the
    *      manifest merge is redone, so a retry is census-cheap.
    *
    * Returns the committed version. `abort` runs on every exit that
    * does not publish (a delete drops its staged delta there).
    */
  private def publish(spark: SparkSession, dir: String, what: String,
      redo: String, entries: Seq[Entry], staged: Seq[String] = Nil,
      base: Int = 0, touched: Set[String] = Set.empty, batch: Long = -1L,
      maxAttempts: Int = 5, check: Int => Unit = _ => (),
      abort: () => Unit = () => ())(
      header: (Int, Header) => Header): Option[Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(dir, conf)
    val paths = entries.map(e => filePath(dir, e.file)) ++ staged
    lazy val baseDv = readHeader(dir, base, conf).dv.toSet
    def parts(ps: Set[String]) = ps.toSeq.sorted.mkString(", ")
    @annotation.tailrec
    def go(attempt: Int): Option[Int] = {
      val latest = latestVersion(dir, conf)
      // stamp re-check AFTER the latest read: a rival publishing our
      // batch id between check and CAS makes the CAS lose (the version
      // is taken), and the retry's fresh read then sees the stamp — no
      // interleaving lands a duplicate
      if (batch >= 0 && committedBatches(dir, conf).contains(batch)) None
      else {
        val h = if (latest >= 1) readHeader(dir, latest, conf) else Header()
        val reaped = paths.filterNot(p => f.exists(new Path(p)))
        require(reaped.isEmpty,
          s"$what: ${reaped.length} staged path(s) no longer exist " +
            s"(first: ${reaped.headOption.getOrElse("")}) - a vacuum ran " +
            s"between staging and publish; $redo")
        if (touched.nonEmpty) {
          val conflicts = changedPartitions(spark, dir, base, latest, conf)
            .intersect(touched)
          require(conflicts.isEmpty,
            s"$what: write-write conflict on partitions ${parts(conflicts)}" +
              s": they changed after base v$base - $redo")
          val dvConf = dvPartitions(spark, dir, latest,
            h.dv.filterNot(baseDv)).intersect(touched)
          require(dvConf.isEmpty,
            s"$what: concurrent merge-on-read delete on partitions " +
              s"${parts(dvConf)} landed after base v$base - $redo")
        }
        check(latest)
        val won =
          try {
            if (latest >= 1)
              commitCarryExcept(spark, dir, latest, latest + 1, touched,
                entries, conf, header(latest, h))
            else commitManifest(dir, 1, entries, conf, header(latest, h))
            true
          } catch {
            case e: IllegalArgumentException if attempt < maxAttempts =>
              false // lost the rename race - rebase and retry
          }
        if (won) Some(latest + 1) else go(attempt + 1)
      }
    }
    val out = try go(0) catch { case e: Throwable => abort(); throw e }
    if (out.isEmpty) abort()
    out
  }

  /** Publish pure-addition entries: an append touches nothing that
    * exists, so it never conflicts, and a lost CAS just rebases. A
    * stamped append whose batch a racing duplicate delivery already
    * committed publishes nothing (None); otherwise returns the
    * committed version.
    */
  private[graft] def appendEntries(spark: SparkSession, dir: String,
      entries: Seq[Entry], batchId: Long = -1L, op: String = null,
      dfSchema: org.apache.spark.sql.types.StructType = null): Option[Int] = {
    val opTag = if (op != null) op
                else if (batchId >= 0) "append-batch" else "append"
    publish(spark, dir, opTag, "re-write and re-append", entries,
        batch = batchId, maxAttempts = 20) { (latest, h) =>
      // pure addition: union schema = merge(base, new data); an entry-
      // less commit (stamped no-op) carries the base's verbatim
      val schema =
        if (latest >= 1) {
          if (dfSchema != null) appendSchemaJson(h.schema, dfSchema)
          else h.schema
        } else if (dfSchema != null) dfSchema.json else ""
      h.next(opTag, schema, batchId)
    }
  }

  /** Append-only commit: old entries survive untouched, and so do the
    * base version's deletion vector and Bloom/KMV parameters — an
    * append must never resurrect merge-on-read-deleted rows. Race-
    * tolerant: a lost CAS rebases (pure addition cannot conflict).
    */
  def append(df: DataFrame, dir: String, partCol: String,
      statsCol: String = null): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    val entries = writeCommitFiles(df, dir, partCol, base + 1, statsCol,
      suffix = writerToken())
    appendEntries(df.sparkSession, dir, entries, dfSchema = df.schema)
  }

  /** Multi-partition overwrite published as ONE commit: every partition
    * present in `df` swaps to the new files in the same manifest rename
    * — the atomic twin of `ChangeData.overwritePartitions`.
    */
  def overwritePartitions(df: DataFrame, dir: String,
      partCol: String): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    val entries = writeCommitFiles(df, dir, partCol, base + 1)
    val touched = entries.map(_.p).toSet
    // DV carries forward verbatim: its rows key on (file tail, pos), so
    // entries for the dropped generation simply never match again —
    // stale-but-harmless, folded away by the next applyDeletes
    val h = readHeader(dir, base, conf)
    commitCarryExcept(df.sparkSession, dir, base, base + 1, touched,
      entries, conf,
      h.next("overwrite", coveringSchemaJson(h.schema, df.schema)))
  }

  /** A prepared-but-unpublished partition overwrite: data files are on
    * disk (in a writer-unique commit dir, so concurrent preparers can
    * never clobber each other) and invisible until `commitPrepared`
    * publishes them. `base` is the snapshot version the writer read
    * its inputs from — the conflict check anchors there.
    */
  case class PreparedCommit(base: Int, entries: Seq[Entry],
      touched: Set[String], schemaJson: String = "")

  /** Partitions whose file set differs between versions `from` and `to`
    * — the write-set a snapshot-isolation conflict check compares
    * against. File paths are unique per commit, so ANY rewrite/append/
    * drop in the window surfaces as a set difference.
    */
  private[graft] def changedPartitions(spark: SparkSession, dir: String,
      from: Int, to: Int, conf: Configuration): Set[String] =
    if (to <= from) Set.empty
    else {
      // file paths are commit-unique (a file names its partition), so
      // the partitions whose file SET changed are exactly those owning a
      // file on one side only — a partition-domain-bounded answer
      val c = census(spark, Seq(dir -> from, dir -> to))
      (c.onlyIn(0)(_.p) ++ c.onlyIn(1)(_.p)).toSet
    }

  /** Stage a partition overwrite from the CURRENT snapshot without
    * publishing it — the optimistic-concurrency prepare phase. Files
    * land in a commit dir salted with a writer-unique token, so two
    * writers preparing from the same base cannot collide on disk.
    */
  def prepareOverwrite(df: DataFrame, dir: String,
      partCol: String): PreparedCommit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    val entries = writeCommitFiles(df, dir, partCol, base + 1,
      suffix = writerToken())
    PreparedCommit(base, entries, entries.map(_.p).toSet, df.schema.json)
  }

  /** Publish a prepared overwrite under SNAPSHOT-ISOLATION optimistic
    * concurrency (the Delta/Iceberg commit protocol, `publish`): commits
    * that landed after `prep.base` are examined — if any touched one of
    * the writer's partitions, by a rewrite or a merge-on-read delete,
    * the publish fails LOUDLY (first committer wins; the loser must
    * re-read and re-prepare, because its inputs may be stale); if all
    * are disjoint, the writer's delta REBASES onto the latest manifest
    * and retries the one-rename CAS. Staged files a `vacuum` reaped fail
    * it loudly too; both checks run again on every attempt. A writer
    * that loses the rename race itself (two publishes in the same
    * instant) re-reads and retries up to `maxAttempts` times. Returns
    * the committed version.
    */
  def commitPrepared(spark: SparkSession, dir: String,
      prep: PreparedCommit, maxAttempts: Int = 5): Int =
    publish(spark, dir, "commitPrepared", "re-read the table and re-prepare",
        prep.entries, base = prep.base, touched = prep.touched,
        maxAttempts = maxAttempts) { (_, h) =>
      h.next("overwrite",
        if (prep.schemaJson.isEmpty) ""
        else coveringSchemaJson(h.schema, parseSchema(prep.schemaJson)))
    }.get // unstamped: never "already applied"

  /** The feed's raw legs between two versions, without the `_change`
    * tag: (kind, rows). Three sources of change, all LAZY scans over
    * only the touched bytes:
    *
    *   - files only `to` references — inserted rows, read raw;
    *   - files only `from` references — deleted rows, anti-filtered by
    *     (dv(from) ∪ the window's new DV deltas): rows already
    *     merge-on-read-deleted at `from` (or reported below) were not
    *     live, so their physical removal is not a logical delete;
    *   - DV deltas `to` references that `from` doesn't — merge-on-read
    *     deletes in the window, materialized by semi-joining the
    *     victims' (file, pos) back onto their immutable data files.
    *
    * Together the legs compose: folding consecutive feeds over live(1)
    * reproduces live(latest) whether deletes were copy-on-write
    * rewrites, DV commits, or a DV commit later folded by
    * `applyDeletes` (the apply surfaces as a self-cancelling
    * delete+insert of the surviving rows — rewrite churn, net zero).
    */
  private def changeSides(spark: SparkSession, dir: String, from: Int,
      to: Int): Seq[(String, DataFrame)] = {
    require(from <= to, s"changesBetween: from $from > to $to")
    val conf = spark.sparkContext.hadoopConfiguration
    // the feed needs only the FILE DIFF between the endpoint manifests
    // (immutable files ⇒ row delta == file delta): diff-sized in either
    // census regime
    val c = census(spark, Seq(dir -> from, dir -> to))
    val (inserted, removed) = (c.onlyIn(1)(_.file), c.onlyIn(0)(_.file))
    val hF = readHeader(dir, from, conf)
    val hT = readHeader(dir, to, conf)
    val dvNew = hT.dv.filterNot(hF.dv.toSet)
    val insSide =
      if (inserted.isEmpty) None
      else Some(readFiles(spark, dir, inserted))
    val removedSide =
      if (removed.isEmpty) None
      else if (hF.dv.isEmpty && dvNew.isEmpty)
        Some(readFiles(spark, dir, removed))
      else Some(byPos(readFiles(spark, dir, removed),
        readDeltas(spark, dir, hF.dv ++ dvNew), "left_anti"))
    val dvSide =
      if (dvNew.isEmpty) None
      else {
        val victims = readDeltas(spark, dir, dvNew)
        // victim-file census (bounded by the snapshot's file count),
        // resolved against every still-present manifest in the window —
        // a victim's file may have been dropped later (overwritten)
        // while its delta survives, so neither endpoint alone resolves
        val vFiles = victims.select("__file").distinct()
          .as(Encoders.STRING).collect().toSeq
        val present = (from to to)
          .filter(v => fs(dir, conf).exists(manifestPath(dir, v)))
        val resolve = census(spark, present.map(dir -> _))
          .join(e => tailKey(e.file), Left(vFiles.toSet),
            at = present.indices)(_.file)
          .map(f => tailKey(f) -> f).toMap
        val paths = vFiles.map(t => resolve.getOrElse(t, sys.error(
          s"changesBetween: DV delta references file $t that no manifest " +
            s"in v$from..v$to resolves - window crosses vacuumed history")))
        Some(byPos(readFiles(spark, dir, paths), victims, "left_semi"))
      }
    Seq(insSide.map("insert" -> _), removedSide.map("delete" -> _),
      dvSide.map("delete" -> _)).flatten
  }

  /** CHANGE DATA FEED between two committed versions: because data
    * files are IMMUTABLE, the row-level delta IS the file-level delta —
    * inserted rows live in files only the newer manifest references,
    * deleted rows in files only the older one does, and NOTHING ELSE is
    * read (an in-place update surfaces as delete+insert, the standard
    * CDF shape without row ids). Cost scales with the changed files,
    * never the table.
    */
  def changesBetween(spark: SparkSession, dir: String, from: Int,
      to: Int): DataFrame = {
    val sides = changeSides(spark, dir, from, to)
      .map { case (kind, df) => df.withColumn("_change", lit(kind)) }
    if (sides.isEmpty)
      readVersion(spark, dir, to).withColumn("_change", lit("")).limit(0)
    else sides.reduce(_ unionByName (_, allowMissingColumns = true))
  }

  /** Null-fill and reorder `df` to `schema` (by column NAME — schema
    * evolution makes positional set algebra mis-bind columns).
    */
  private def alignTo(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.columns.toSet
    val filled = schema.fields.foldLeft(df)((d, f) =>
      if (have(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType)))
    filled.select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** CDC REPLICATION consumer — ONE-PASS net-change fold: every
    * version step's feed legs (insert +1 / delete −1) union with the
    * v1 live snapshot (+1) into a single plan, one keyed aggregation
    * sums the weights per row identity (full-row, multiset semantics),
    * and rows with positive net multiplicity re-expand. Each changed
    * file is scanned ONCE and the replica materializes ONCE — the
    * per-version exceptAll fold (kept below as the referee) pays a
    * full-replica shuffle and materialization per version, O(versions)
    * table passes that a 100-version table cannot afford. Any version
    * whose feed under- or over-reports rows still diverges the result,
    * so the completeness guarantee is identical.
    */
  def replicateFromFeed(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val latest = latestVersion(dir, conf)
    require(latest >= 1, s"$dir is not a manifested layout")
    val v1 = readWithDeletes(spark, dir, 1).drop("__file", "__pos")
    val legs: Seq[(DataFrame, Int)] = (v1, 1) +: (2 to latest).flatMap { v =>
      changeSides(spark, dir, v - 1, v).map { case (kind, df) =>
        (df, if (kind == "insert") 1 else -1) }
    }
    val weighted = legs.map { case (df, w) => df.withColumn("__w", lit(w)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val dataCols = weighted.columns.filterNot(_ == "__w").toSeq
    val netted = weighted.groupBy(dataCols.map(col): _*)
      .agg(sum("__w").as("__m"))
      .filter(col("__m") > 0)
      .withColumn("__x", explode(sequence(lit(1L), col("__m"))))
      .drop("__m", "__x")
    // surface the latest snapshot's column order when the sets agree
    // (they can differ only under exotic column renames)
    val target = readVersion(spark, dir, latest).columns.toSeq
    if (target.toSet == dataCols.toSet) netted.select(target.map(col): _*)
    else netted
  }

  /** The per-version referee fold: replica_{v} = replica_{v−1} ∖
    * deletes_v ∪ inserts_v, one exceptAll/union/materialization per
    * step. O(versions) full-replica passes — NOT the production path
    * (use `replicateFromFeed`); kept because it proves feed
    * composability step by step and pins the one-pass fold in
    * ManifestSpec. Set algebra aligns columns BY NAME first, so a
    * schema-widening append mid-history can't mis-bind positions.
    */
  def replicateFromFeedStepwise(spark: SparkSession,
      dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val latest = latestVersion(dir, conf)
    require(latest >= 1, s"$dir is not a manifested layout")
    var replica = readWithDeletes(spark, dir, 1).drop("__file", "__pos")
      .cutLineage
    (2 to latest).foreach { v =>
      val feed = changesBetween(spark, dir, v - 1, v)
        .cutLineage
      val merged = replica
        .unionByName(feed.drop("_change").limit(0),
          allowMissingColumns = true).schema
      val dels = feed.filter(col("_change") === "delete").drop("_change")
      val ins = feed.filter(col("_change") === "insert").drop("_change")
      replica = alignTo(replica, merged)
        .exceptAll(alignTo(dels, merged))
        .unionAll(alignTo(ins, merged))
        .cutLineage
    }
    replica
  }

  /** MERGE INTO — the keyed upsert (Delta's flagship write): source
    * rows REPLACE matched target rows (by `keyCols`), unmatched source
    * rows INSERT, and source rows flagged by `deleteCol` (optional
    * boolean column) DELETE their match instead. Only partitions that
    * actually change rewrite — partitions holding a matched key, plus
    * partitions receiving a row (an update that moves a row across
    * partitions rewrites both sides) — everything else keeps its bytes
    * and its manifest entries; a partition the merge empties vanishes
    * (the purge discipline). Publishes under the same
    * snapshot-isolation OCC as `commitPrepared`: files stage first, a
    * concurrent commit touching a merge partition aborts loudly, a
    * disjoint one rebases, and every attempt re-checks the staged files
    * and the batch stamp (a racing duplicate `mergeBatch` is a replay).
    * Reads THROUGH the deletion vector (a merge rewrite must not
    * resurrect MOR-deleted rows) and carries the DV forward for
    * untouched partitions; a base DV delta whose victims all lie in
    * rewritten partitions names only files the new version drops, so
    * the merge retires it from the header. Duplicate keys in the source
    * are a loud error — "last writer wins among my own rows" is a
    * silent-corruption generator, not a semantics. Returns the
    * committed version (base version if the merge had nothing to do).
    *
    * Scale shape: ONE census action (the largest per-key source count,
    * the affected partitions via one keyed join, and each base DV
    * delta's partitions), whose driver result is partition-domain-
    * sized; then the rewrite, rebalanced by the partition column so an
    * affected partition below AQE's advisory partition size gets one
    * file and a larger one keeps parallel writers. It reads |affected
    * partitions| of stored bytes, never the table.
    */
  def merge(spark: SparkSession, dir: String, partCol: String,
      source: DataFrame, keyCols: Seq[String],
      deleteCol: String = null, batchId: Long = -1L): Int =
    mergeStamped(spark, dir, partCol, source, keyCols, deleteCol, batchId)
      .getOrElse(latestVersion(spark, dir))

  /** `merge`, or None when `batchId` was already committed — found
    * before any file is written, or by the publish when a racing
    * duplicate delivery wins.
    */
  private def mergeStamped(spark: SparkSession, dir: String,
      partCol: String, source: DataFrame, keyCols: Seq[String],
      deleteCol: String, batchId: Long): Option[Int] = {
    require(keyCols.nonEmpty, "merge: keyCols must be non-empty")
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    // exactly-once streaming apply: a replayed micro-batch is detected
    // by its stamp before any file is written
    if (batchId >= 0 && committedBatches(dir, conf).contains(batchId))
      return None
    val isDel =
      if (deleteCol == null) lit(false)
      else coalesce(col(deleteCol).cast("boolean"), lit(false))
    val src = source.withColumn("__del", isDel)
      .withColumn("__sp", col(partCol).cast("string"))
      .cutLineage
    val baseDv = readHeader(dir, base, conf).dv
    val target = readWithDeletes(spark, dir, base).drop("__file", "__pos")
      .withColumn("__tp", col(partCol).cast("string"))
    val keys = src.select(keyCols.map(col): _*).distinct()
    // ONE census action over narrow relations of (__c, __d, __p): the
    // per-key source counts; the affected partitions — where a matched
    // key lives + where a non-delete source row lands; and the
    // partitions each base DV delta (dir name __d) names in its `__file`
    // tails (`__p=<v>/<file>`)
    val nullStr = lit(null).cast("string")
    val nullLong = lit(null).cast("long")
    val census = Seq(
      src.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__c"))
        .select(col("__c"), nullStr.as("__d"), nullStr.as("__p")),
      target.join(keys, keyCols)
        .select(nullLong.as("__c"), nullStr.as("__d"), col("__tp").as("__p")),
      src.filter(!col("__del"))
        .select(nullLong.as("__c"), nullStr.as("__d"), col("__sp").as("__p"))) ++
      Option.when(baseDv.nonEmpty)(readDeltas(spark, dir, baseDv).select(
        nullLong.as("__c"),
        substring_index(metaTail, "/", 1).as("__d"),
        tailPartition(col("__file")).as("__p")))
    val row = census.reduce(_ unionAll _).agg(max("__c"),
      collect_set(when(col("__c").isNull, struct(col("__d"), col("__p")))))
      .head()
    require(row.isNullAt(0) || row.getLong(0) <= 1L,
      s"merge: source holds duplicate keys on (${keyCols.mkString(", ")}) " +
        "- deduplicate the source first (ambiguous upserts corrupt silently)")
    val (dvRows, affRows) =
      row.getSeq[Row](1).partition(!_.isNullAt(0))
    val affected = affRows.map(_.getString(1)).toSet
    // a base delta is dead when every partition it names is rewritten:
    // the new version drops all of those partitions' base files
    val dvParts = dvRows.groupMap(_.getString(0))(_.getString(1))
    val dead = baseDv.filter(d =>
      dvParts.getOrElse(new Path(d).getName, Nil).forall(affected)).toSet
    // nothing to rewrite: a stamped batch still commits an entry-less
    // version ("merge-noop", as deleteKeysBatch's "delete-noop"), or a
    // redelivery arriving after later commits land its keys would apply
    if (affected.isEmpty)
      return if (batchId < 0) Some(base)
        else appendEntries(spark, dir, Seq.empty, batchId = batchId,
          op = "merge-noop")
    // new content for the affected partitions: their target rows minus
    // EVERY matched key (replaced, moved, or deleted), plus the
    // source's surviving rows
    val srcCols = source.columns.filterNot(c =>
      deleteCol != null && c == deleteCol).toSeq
    val keep = target.filter(col("__tp").isInCollection(affected))
      .join(keys, keyCols, "left_anti")
      .drop("__tp")
    val incoming = src.filter(!col("__del"))
      .select(srcCols.map(col): _*)
    val next = keep.select(srcCols.map(col): _*).unionByName(incoming)
    // (a partition the merge empties needs no explicit drop: the
    // commit below replaces ALL affected partitions' entries, and an
    // emptied one simply contributes no new files)
    // stage + OCC publish (the commitPrepared protocol, plus the
    // emptied-partition drop a plain overwrite cannot express). The
    // rewrite is rebalanced by partition: AQE sizes its writers from the
    // shuffle's own byte counts, so a partition below the advisory size
    // (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) is one task
    // and one file, a larger one splits across parallel writers, and
    // small ones share tasks. Without AQE it is one task per partition.
    val entries = writeCommitFiles(
      next.filter(col(partCol).cast("string").isInCollection(affected))
        .hint("rebalance", col(partCol)),
      dir, partCol, base + 1, suffix = writerToken())
    // deltas committed after base survive: publish refuses any that
    // touch the affected partitions
    publish(spark, dir, "merge", "re-read and re-merge", entries,
        base = base, touched = affected, batch = batchId) { (_, h) =>
      h.next("merge", coveringSchemaJson(h.schema, next.schema), batchId)
        .copy(dv = h.dv.filterNot(dead))
    }
  }

  /** Partitions of `version` holding victims of the DV deltas `dv`.
    * Rewriters pass the deltas committed AFTER their base: a staged
    * rewrite of those partitions was computed through the BASE deletion
    * vector, so publishing it would silently resurrect the concurrent
    * delete — an intersection with the write-set is a conflict.
    * `applyDeletes` passes the whole DV: stale rows (files already
    * dropped by overwrites) match no entry and add no partition. The
    * answer is partition-domain-bounded in either census regime.
    */
  private def dvPartitions(spark: SparkSession, dir: String, version: Int,
      dv: Seq[String]): Set[String] =
    if (dv.isEmpty) Set.empty
    else census(spark, Seq(dir -> version)).join(e => tailKey(e.file),
      Right(readDeltas(spark, dir, dv)
        .select("__file").distinct().as(Encoders.STRING)))(_.p).toSet

  /** Streaming MERGE (the apply-changes sink): `merge` stamped with the
    * micro-batch id — a replayed batch applies nothing. A batch with
    * nothing to apply still commits its stamp (an entry-less
    * "merge-noop" version). Returns whether this delivery committed
    * (false = replay no-op). Note merge is
    * additionally IDEMPOTENT on content (re-applying the same source
    * yields the same rows), so even a lost stamp degrades to a
    * harmless same-content commit, never to duplicated rows.
    */
  def mergeBatch(spark: SparkSession, dir: String, partCol: String,
      source: DataFrame, keyCols: Seq[String], batchId: Long,
      deleteCol: String = null): Boolean = {
    require(batchId >= 0, s"mergeBatch: batchId must be >= 0, got $batchId")
    mergeStamped(spark, dir, partCol, source, keyCols, deleteCol, batchId)
      .isDefined
  }

  /** Targeted small-file compaction — the auto-OPTIMIZE maintenance
    * policy: partitions whose manifest lists more than
    * `maxFilesPerPartition` files (streaming ingest accretes one per
    * micro-batch — q319's shape) rewrite into one file each, in ONE
    * atomic commit; every other partition keeps its bytes and entries.
    * The census is the manifest itself (driver-side, free — no data
    * read to decide), rewritten partitions read through the deletion
    * vector, and the DV carries forward for the rest. Returns the
    * number of partitions compacted (0 = no commit).
    */
  def autoCompact(spark: SparkSession, dir: String, partCol: String,
      maxFilesPerPartition: Int = 8): Int = {
    require(maxFilesPerPartition >= 1,
      s"autoCompact: maxFilesPerPartition must be >= 1")
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    // hot-partition census: the manifest is the whole cost of DECIDING
    // — no data is read either way
    val hot = census(spark, Seq(dir -> base)).perPartition().collect {
      case (p, n) if n > maxFilesPerPartition => p
    }.toSet
    if (hot.isEmpty) return 0
    val live = readWithDeletes(spark, dir, base).drop("__file", "__pos")
    val packed = live
      .filter(col(partCol).cast("string").isInCollection(hot))
      .repartition(hot.size, col(partCol))
    val newEntries = writeCommitFiles(packed, dir, partCol, base + 1)
    val h = readHeader(dir, base, conf)
    commitCarryExcept(spark, dir, base, base + 1, hot, newEntries, conf,
      h.next("auto-compact", coveringSchemaJson(h.schema, packed.schema)))
    hot.size
  }

  /** RESTORE — rollback as a forward commit (Delta RESTORE): publishes
    * a NEW version whose entries and deletion vector are exactly
    * `toVersion`'s. Nothing rewrites and nothing is lost: the bad
    * versions stay readable for forensics until vacuum, every file the
    * restored snapshot needs is re-referenced by the LATEST manifest
    * (so vacuum keeps it), and readers switch atomically with the one
    * manifest rename. Returns the new version.
    */
  def restore(spark: SparkSession, dir: String, toVersion: Int): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    require(toVersion >= 1 && toVersion <= base,
      s"restore: version $toVersion out of range 1..$base")
    val h = readHeader(dir, toVersion, conf)
    // entries are exactly toVersion's — so is the schema
    commitCarryExcept(spark, dir, toVersion, base + 1, Set.empty, Nil,
      conf, h.next("restore", h.schema))
    base + 1
  }

  /** Batch-stamped partition replacement — the streaming CDC-apply
    * commit: partitions present in `df` swap to its files, partitions
    * in `dropEmpty` vanish (a feed step that empties a partition must
    * not leave its stale rows), everything else carries forward
    * (including the DV and Bloom parameters), and the whole step
    * publishes as ONE manifest rename stamped with `batchId` — a
    * replayed stamp is detected BEFORE any file is written, so
    * at-least-once feed delivery + this commit is exactly-once
    * replication. Returns whether the batch committed.
    */
  def replacePartitionsBatch(df: DataFrame, dropEmpty: Set[String],
      dir: String, partCol: String, batchId: Long): Boolean = {
    require(batchId >= 0,
      s"replacePartitionsBatch: batchId must be >= 0, got $batchId")
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    if (committedBatches(dir, conf).contains(batchId)) return false
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    val entries = writeCommitFiles(df, dir, partCol, base + 1)
    val touched = entries.map(_.p).toSet ++ dropEmpty
    val h = readHeader(dir, base, conf)
    commitCarryExcept(df.sparkSession, dir, base, base + 1, touched,
      entries, conf,
      h.next("replace-batch", coveringSchemaJson(h.schema, df.schema),
        batchId))
    true
  }

  /** STRUCTURED-STREAMING change-feed consumer: a file-source stream on
    * the source layout's `_manifests/` directory (each committed
    * manifest IS a new immutable file — the commit protocol doubles as
    * the stream's arrival signal) drives a foreachBatch that applies
    * each newly-seen version's `changesBetween` feed to a replica
    * layout. Per version the work is FEED-SIZED: affected partitions
    * come from the feed rows, the replica reads only those partitions,
    * and the apply publishes through `replacePartitionsBatch` stamped
    * with the SOURCE VERSION — so a crashed/restarted stream (the file
    * source re-delivers its last batch) re-applies nothing, and a
    * fresh checkpoint against an already-replicated target is a chain
    * of no-ops. MOR deletes stream too: the feed materializes DV
    * deltas as delete rows. Returns the started query; callers pick
    * the trigger via `trigger` (AvailableNow = bounded drain).
    */
  def changeFeedStream(spark: SparkSession, srcDir: String,
      dstDir: String, partCol: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val conf = spark.sparkContext.hadoopConfiguration
    val V = """v(\d{6})\.json""".r
    spark.readStream.format("text")
      .option("pathGlobFilter", "v*.json")
      .load(s"$srcDir/_manifests")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val versions = df.select(input_file_name().as("f")).distinct()
          .collect()
          .flatMap(r => V.findFirstMatchIn(r.getString(0))
            .map(_.group(1).toInt))
          .sorted
        val done = committedBatches(dstDir, conf)
        val todo = versions.filterNot(v => done.contains(v.toLong))
        // the feeds read ONLY the source layout (version-pinned
        // immutable manifests and files), never the replica, so their
        // materializations are independent of the strictly-ordered
        // applies below — overlap them (guide §2.6): one straggling
        // version's feed no longer serializes the whole batch. The
        // APPLIES stay sequential: each reads the replica state its
        // predecessor published (the exactly-once protocol).
        val feeds: Map[Int, DataFrame] = {
          val vs = todo.filter(_ > 1).toSeq
          if (vs.length <= 1) Map.empty
          else vs.zip(Par.all(vs.map(v => () =>
            changesBetween(spark, srcDir, v - 1, v)
              .cutLineage))).toMap
        }
        todo.foreach { v =>
          if (v == 1) {
            // initial snapshot: the whole v1 is the first insert batch
            commitBatch(readWithDeletes(spark, srcDir, 1)
              .drop("__file", "__pos"), dstDir, partCol, batchId = 1L)
          } else {
            val feed = feeds.getOrElse(v,
              changesBetween(spark, srcDir, v - 1, v)
                .cutLineage)
            val affected = feed
              .select(col(partCol).cast("string").as("__pv")).distinct()
              .collect().map(_.getString(0)).toSet
            if (affected.nonEmpty) {
              val existing = census(spark, Seq(dstDir ->
                latestVersion(dstDir, conf))).perPartition().keySet
              val present = affected.intersect(existing).toSeq
              val cur =
                if (present.isEmpty) None
                else Some(readPartitions(spark, dstDir, present))
              val dels = feed.filter(col("_change") === "delete")
                .drop("_change")
              val ins = feed.filter(col("_change") === "insert")
                .drop("_change")
              val merged = ins.limit(0).unionByName(
                cur.map(_.limit(0)).getOrElse(ins.limit(0)),
                allowMissingColumns = true).schema
              val next = cur.map(c => alignTo(c, merged))
                .getOrElse(alignTo(ins.limit(0), merged))
                .exceptAll(alignTo(dels, merged))
                .unionAll(alignTo(ins, merged))
                .cutLineage
              val stillThere = next
                .select(col(partCol).cast("string").as("__pv")).distinct()
                .collect().map(_.getString(0)).toSet
              val emptied = affected.diff(stillThere)
              replacePartitionsBatch(
                next.filter(col(partCol).cast("string")
                  .isInCollection(affected)),
                emptied, dstDir, partCol, batchId = v.toLong)
            }
          }
        }
      }
      .trigger(trigger)
      .start()
  }

  // ---- Zero-copy branches: git-for-data ------------------------------
  //
  // A branch is its own manifest lineage under `$dir/_branches/<name>`
  // whose v1 references the source's data files by ABSOLUTE path — no
  // byte is copied at create time. Branch commits (append / overwrite /
  // purge / delete — every existing op, pointed at the branch dir)
  // write their files under the branch's own data/ root and never touch
  // main; main's commits never touch the branch. Merge-back is the
  // q349 snapshot-isolation rule at partition grain: partitions the
  // branch changed must be untouched on main since the branch's base,
  // or the merge fails loudly. Retention caveat (documented, as in
  // every ref-based lake): vacuuming MAIN drops files branches still
  // reference — vacuum only after merging or deleting branches.

  private def branchRoot(dir: String, name: String) = {
    require(name.matches("[A-Za-z0-9_\\-]+"), s"unsafe branch name '$name'")
    s"$dir/_branches/$name"
  }

  /** Create branch `name` from the source's latest snapshot (zero data
    * copied); records the source base version for the merge conflict
    * check. Returns that base version.
    */
  def branchCreate(spark: SparkSession, dir: String, name: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    val bdir = branchRoot(dir, name)
    require(latestVersion(bdir, conf) == 0, s"branch '$name' already exists")
    val h = readHeader(dir, base, conf)
    commitCarry(spark, bdir, 1,
      Seq(CarryLeg(dir, base, e => Some(e.copy(file = filePath(dir, e.file))))),
      Nil, conf, h.next("branch-create", h.schema)
        .copy(dv = h.dv.map(p => dvFilePath(dir, p))))
    val f = fs(dir, conf)
    val out = f.create(new Path(bdir, "_branch_base"), true)
    try out.write(base.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    base
  }

  /** The branch's layout dir — every Manifest op works on it. */
  def branchDir(dir: String, name: String): String = branchRoot(dir, name)

  private def branchBase(dir: String, name: String,
      conf: Configuration): Int = {
    val p = new Path(branchRoot(dir, name), "_branch_base")
    val f = fs(dir, conf)
    require(f.exists(p), s"branch '$name' has no base marker")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  /** Merge branch `name` back into main under snapshot isolation:
    * partitions the branch changed must be UNTOUCHED on main since the
    * branch's base (first committer wins — a conflicting merge fails
    * loudly and mutates nothing); disjoint changes land as ONE main
    * commit whose entries reference the branch's files absolutely
    * (still zero-copy). Partitions the branch dropped drop on main.
    * Returns the new main version.
    */
  def branchMergeInto(spark: SparkSession, dir: String,
      name: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bdir = branchRoot(dir, name)
    val bLatest = latestVersion(bdir, conf)
    require(bLatest >= 1, s"no branch '$name' in $dir")
    val base = branchBase(dir, name, conf)
    val mainLatest = latestVersion(dir, conf)
    val branchChanged = changedPartitions(spark, bdir, 1, bLatest, conf)
    val mainChanged = changedPartitions(spark, dir, base, mainLatest, conf)
    val conflicts = branchChanged.intersect(mainChanged)
    require(conflicts.isEmpty,
      s"branch merge conflict on partitions ${conflicts.toSeq.sorted
        .mkString(", ")}: main changed them after the branch's base " +
        s"v$base - rebase the branch")
    // DV merge: main's own deltas plus whatever the branch added beyond
    // its fork point (branch v1's dv IS main-base's, absolutized) —
    // branch deltas reference files under the branch root absolutely,
    // so they stay resolvable from main
    val mainH = readHeader(dir, mainLatest, conf)
    val branchH = readHeader(bdir, bLatest, conf)
    val forkDv = readHeader(bdir, 1, conf).dv.toSet
    val branchNewDv = branchH.dv
      .filterNot(forkDv).map(p => dvFilePath(bdir, p))
    // the merged snapshot mixes main survivors with branch files: the
    // union schema is provable only when both sides agree exactly —
    // otherwise stay on mergeSchema
    val schema =
      if (mainH.schema.nonEmpty && mainH.schema == branchH.schema)
        mainH.schema
      else ""
    commitCarry(spark, dir, mainLatest + 1,
      Seq(CarryLeg(dir, mainLatest, e => Option.unless(branchChanged(e.p))(e)),
        CarryLeg(bdir, bLatest, e => Option.when(branchChanged(e.p))(
          e.copy(file = filePath(bdir, e.file))))), Nil, conf,
      mainH.next("branch-merge", schema).copy(dv = mainH.dv ++ branchNewDv))
    mainLatest + 1
  }

  // ---- File-level Bloom index: point-lookup skipping -----------------
  //
  // `readRange` skips on min/max stats — useless for a point lookup of
  // a high-cardinality UNCLUSTERED key (every file's range covers it).
  // The Delta answer is a per-file Bloom filter: the manifest carries
  // each file's k-hash bitset (bits/8 bytes/file — the same
  // file-census class the manifest lines already are), and a point
  // read lists only files whose Bloom might contain the key. Zero
  // false negatives by construction (files without a Bloom admit
  // conservatively); q359 proves the skip ratio at runtime.

  private def bloomPositions(column: Column, bits: Int, k: Int): Seq[Column] =
    (0 until k).map(i =>
      pmod(xxhash64(lit(i), column), lit(bits.toLong)).cast("int"))

  /** Index-build maintenance pass: compute a per-file Bloom of `column`
    * and commit a new version whose entries carry it. INCREMENTAL by
    * construction: files that already carry a Bloom (immutable bytes ⇒
    * immutable index) are never re-read — an index refresh after an
    * append costs the appended files, not the table. No-op (no commit)
    * when every file is already indexed. Per-file state ≤ `bits`
    * positions. Each pass indexes at most
    * `graft.manifest.indexBatchMaxFiles` unindexed files (their paths
    * are driver-held `spark.read.parquet` arguments — the bound keeps
    * that list off the O(files) ceiling); returns true while work
    * remains possible, so refresh loops call until false.
    */
  def addBloomIndex(spark: SparkSession, dir: String, column: String,
      bits: Int = 8192, k: Int = 6): Boolean = {
    require(bits > 0 && bits % 8 == 0 && k >= 1,
      s"addBloomIndex: bits must be a positive multiple of 8, k >= 1")
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    val h = readHeader(dir, base, conf)
    // k is PERSISTED with the index (bits derive from each bitset's own
    // byte length at read time) — a refresh must not silently mix hash
    // families with already-built bitsets
    require(h.bloomK < 1 || h.bloomK == k,
      s"addBloomIndex: layout was indexed with k=${h.bloomK}, got k=$k - " +
        "rebuild the index (compact + reindex) to change hash counts")
    indexPass(spark, dir, base,
      h.next("bloom-index", h.schema).copy(bloomK = k),
      "bloom", _.bloom, (e, b) => e.copy(bloom = Some(b)),
      bloomPackB64(_, lit(bits))) { paths =>
      readFiles(spark, dir, paths).filter(col(column).isNotNull)
        .select(metaTail.as("__file"),
          explode(array(bloomPositions(col(column), bits, k): _*)).as("__b"))
        .distinct()
        .groupBy("__file").agg(collect_list("__b").as("__v"))
    }
  }

  /** One index-build pass — the index payload attach. The census lists
    * at most `graft.manifest.indexBatchMaxFiles` files whose payload
    * `get` is unset; `perFile` computes the batch's (`__file`, `__v`)
    * and `pack` encodes each batch file's value inside that Spark job
    * (a NULL value — a scanned file with no non-null key — packs the
    * empty payload, so refreshes CONVERGE instead of re-scanning it).
    * Files beyond the batch stay unset: an empty payload is only safe
    * for a file the batch scanned, or a later read would silently skip
    * or under-count it. The pass commits `base`'s entries with the
    * batch's payload `set`, headed by `h`: the payload is collected to a
    * map below the census threshold and joined in the executors above
    * it (at the batch cap and k=1024 a collected KMV payload is ~1 GB of
    * driver heap). Returns false (no commit) when nothing is left.
    */
  private def indexPass(spark: SparkSession, dir: String, base: Int,
      h: Header, field: String, get: Entry => Option[String],
      set: (Entry, String) => Entry, pack: Column => Column)(
      perFile: Seq[String] => DataFrame): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val c = census(spark, Seq(dir -> base), Map(field -> isSet))
    val todo = c.collect(0, e => Option.when(get(e).isEmpty)(e.file),
      indexBatchMax(spark))
    if (todo.isEmpty) return false
    val payload = spark.createDataset(todo.map(tailKey))(Encoders.STRING)
      .toDF("__file")
      .join(perFile(todo), Seq("__file"), "left")
      .select(col("__file"), pack(col("__v")))
    if (c.small) {
      val m = payload.collect().map(r => r.getString(0) -> r.getString(1))
        .toMap
      commitManifest(dir, base + 1, readManifest(dir, base, conf)
        .map(e => m.get(tailKey(e.file)).fold(e)(set(e, _))), conf, h)
    } else {
      val rel = entriesRelation(spark, dir, base).as(enc[Entry])
        .map(e => (tailKey(e.file), e))(enc[(String, Entry)])
        .joinWith(payload, col("_1") === col("__file"), "left_outer")
        .map { case ((_, e), r) =>
          if (r == null) e else set(e, r.getString(1)) }(enc[Entry])
      commitRelationStreamed(dir, base + 1, rel.toDF(), Nil, conf, h)
    }
    true
  }

  /** Executor-side bitset packer: a file's k-hash positions fold into a
    * bits/8-byte Base64 bitset; NULL packs the all-zero bitset (SAFE: a
    * point lookup of a non-null value can never match it).
    */
  private lazy val bloomPackB64 =
    udf((ps: Seq[Int], bits: Int) => {
      val bytes = new Array[Byte](bits / 8)
      if (ps != null)
        ps.foreach(p => bytes(p / 8) = (bytes(p / 8) | (1 << (p % 8))).toByte)
      java.util.Base64.getEncoder.encodeToString(bytes)
    })

  /** Executor-side KMV encoder: bottom-k longs to Base64 (NULL = the
    * empty sketch, so all-NULL/empty files converge).
    */
  private lazy val kmvPackB64 =
    udf((hs: Seq[Long]) => {
      val arr = if (hs == null) Array.empty[Long] else hs.toArray
      val buf = java.nio.ByteBuffer.allocate(arr.length * 8)
      arr.foreach(buf.putLong)
      java.util.Base64.getEncoder.encodeToString(buf.array())
    })

  /** Point read through the Bloom index: lists only files whose Bloom
    * might contain `value` (no-Bloom files — written before the index
    * build — admit conservatively). The hash parameters are NEVER
    * trusted from the caller: `k` comes from the manifest header the
    * build persisted, and `bits` derives from each bitset's own decoded
    * byte length — so a reader can't silently probe the wrong positions
    * (false negatives) or walk off the bitset. Returns the admitted
    * files' rows; callers apply the exact predicate. Also returns the
    * (listed, total) file counts for skip-ratio gates. The admitted
    * list is driver-held (the paths ARE the read arguments) — hit-
    * sized on an indexed layout, but worst-case O(files) where most
    * files lack a Bloom (they admit conservatively): keep the index
    * refreshed, or this degrades to readVersion's census bound.
    */
  def readPoint(spark: SparkSession, dir: String, column: String,
      value: Long): (DataFrame, Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = latestVersion(dir, conf)
    val h = readHeader(dir, v, conf)
    val k = h.bloomK
    val c = census(spark, Seq(dir -> v), allPayloads - "kmv")
    require(k >= 1 || c.collect(0, _.bloom.map(_ => true), 1).isEmpty,
      s"$dir carries Bloom bitsets but no persisted k - manifest corrupt")
    // the probe evaluates the XxHash64 kernel behind the build's
    // `xxhash64(lit(i), column)` (seed 42, then the int i, then the
    // long value), so its positions are bit-identical to the build's
    val hit = c.collect(0, e => Option.when(e.bloom.forall { b64 =>
      val bytes = java.util.Base64.getDecoder.decode(b64)
      (0 until k).forall { i =>
        val p = java.lang.Math.floorMod(XXH64.hashLong(value,
          XXH64.hashInt(i, 42L)), bytes.length * 8L).toInt
        (bytes(p / 8) & (1 << (p % 8))) != 0
      }
    })(e.file))
    val raw =
      if (hit.isEmpty) readVersion(spark, dir, v).limit(0)
      else readFiles(spark, dir, hit)
    // merge-on-read discipline: a point read must not resurrect
    // DV-deleted rows (free when the version carries no DV)
    val df =
      if (h.dv.isEmpty) raw
      else byPos(raw, deletionVector(spark, dir, v), "left_anti")
    (df, hit.length, c.size(0).toInt)
  }

  /** DESCRIBE HISTORY — the audit trail every commit already wrote:
    * each manifest header carries its operation tag (and batch stamp),
    * so the table's full lifecycle reads back from the headers alone —
    * version, operation, batch id, file count, DV-delta count — one
    * header line per version, zero data bytes. Versions a vacuum
    * reclaimed are gone (vacuum IS the retention boundary).
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val vs = allVersions(dir, conf)
    val headers = vs.map(v => v -> readHeader(dir, v, conf))
    // the file count rides the header (round 15) — O(versions) header
    // lines instead of O(versions × files) entry parses; manifests
    // from before the `n` field get their counts from ONE distributed
    // group-count over all legacy manifests together (executors parse
    // entry lines, the driver holds only the per-version totals — a
    // mixed-era layout must not reopen the driver-parser ceiling the
    // header field was added to close)
    val legacy = headers.collect { case (v, h) if h.n < 0 => v }
    val legacyCounts: Map[Int, Long] =
      if (legacy.isEmpty) Map.empty
      else spark.read.text(
          legacy.map(v => manifestPath(dir, v).toString): _*)
        .filter(col("value").startsWith("""{"p":"""))
        .groupBy(regexp_extract(input_file_name(),
          """v(\d{6})\.json""", 1).cast("int").as("v"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = headers.map { case (v, h) =>
      val nFiles =
        if (h.n >= 0) h.n else legacyCounts.getOrElse(v, 0L)
      (v.toLong, if (h.op.isEmpty) "unknown" else h.op, h.batch,
        nFiles, h.dv.length.toLong)
    }
    rows.toDF("version", "op", "batch_id", "n_files", "n_dv_deltas")
  }

  /** DESCRIBE DETAIL — one row of table-level facts about the LATEST
    * snapshot: version, operation, file count (header-carried — zero
    * entry parsing), partition count (an entry census — executors parse
    * above the census threshold, q387's read path), DV-delta count, and
    * the version the newest checkpoint covers.
    * Deliberately no byte totals: sizes aren't manifest-carried, and
    * an O(files) driver-side getFileStatus sweep is exactly the
    * anti-pattern the checkpoint exists to retire.
    */
  def detail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val v = latestVersion(dir, conf)
    require(v >= 1, s"$dir is not a manifested layout")
    val h = readHeader(dir, v, conf)
    // a pre-`n` header counts the census the partitions come from
    val c = census(spark, Seq(dir -> v))
    Seq((v.toLong, if (h.op.isEmpty) "unknown" else h.op, c.size(0),
        c.perPartition().size.toLong, h.dv.length.toLong,
        lastCheckpoint(dir, conf).toLong))
      .toDF("version", "op", "n_files", "n_partitions", "n_dv_deltas",
        "checkpoint_version")
  }

  // ---- Manifest checkpoint: the distributed entry relation -----------
  //
  // Above the census threshold every census runs over `entriesRelation`
  // instead of the driver's regex parse (see `census`). Its fast source
  // is the Delta/Iceberg answer to the driver-parser ceiling: a
  // periodic PARQUET CHECKPOINT of the full entry relation, read as a
  // DataFrame — executors read, the driver holds only headers.
  // `checkpoint` materializes it (maintenance, like addBloomIndex);
  // `entriesRelation` serves the checkpoint when it covers the asked
  // version, else a DISTRIBUTED text-parse of the manifest
  // (spark.read.text + regexp_extract — the same line grammar,
  // executor-side). Both return the same relation:
  //   (p, file, lo, hi, lo2, hi2, bloom, kmv)

  private def checkpointPath(dir: String, version: Int): String =
    f"$dir/_manifests/checkpoint-v$version%06d.parquet"

  private def lastCheckpointPath(dir: String) =
    new Path(s"$dir/_manifests", "_last_checkpoint")

  private def lastCheckpointRaw(dir: String,
      conf: Configuration): Option[String] = {
    val f = fs(dir, conf)
    def readOnce(): Option[String] = {
      val p = lastCheckpointPath(dir)
      if (!f.exists(p)) return None
      // a reader racing the pointer swap can catch the path missing or
      // a zero-length create in flight — both degrade to "no
      // checkpoint" (full header scan / distributed manifest parse),
      // never a crash
      try {
        val in = f.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
          .filter(_.nonEmpty)
        finally in.close()
      } catch { case _: java.io.IOException => None }
    }
    readOnce().orElse {
      // An ABSENT pointer while checkpoint parquets exist is almost
      // certainly a writer mid-swap on a store whose rename-onto-
      // existing forced the delete+rename fallback (POSIX renames
      // atomically and never enters this branch). Concluding "no
      // stamps" in that window is the one UNSAFE degradation this file
      // has: after a vacuum, the pointer is the only holder of folded
      // batch stamps, so a replay check reading the gap would re-apply
      // an already-applied batch. Re-read briefly before giving up —
      // the swap window is a single create+rename, milliseconds even
      // on an object store; if the pointer is still gone after the
      // grace period it was genuinely removed (manual cleanup) and the
      // conservative fallbacks take over. commitLock serializes
      // writers only within this JVM, so the retry, not the lock, is
      // what covers a cross-process writer.
      val anyCkpt =
        try f.listStatus(new Path(s"$dir/_manifests")).toSeq
          .exists(_.getPath.getName.matches("checkpoint-v\\d{6}\\.parquet"))
        catch { case _: java.io.IOException => false }
      if (!anyCkpt) None
      else {
        var r: Option[String] = None
        var waited = 0L
        while (r.isEmpty && waited < 500L) {
          Thread.sleep(25L); waited += 25L
          r = readOnce()
        }
        r
      }
    }
  }

  /** The version the newest checkpoint covers, or 0 if none. Unparsable
    * pointer content (torn write, foreign debris) reads as 0 — the
    * consumers' no-checkpoint fallbacks are always CORRECT (full header
    * scan, distributed manifest parse), just slower, so a damaged cache
    * pointer must never take the layout down.
    */
  def lastCheckpoint(dir: String, conf: Configuration): Int =
    lastCheckpointRaw(dir, conf).map { s =>
      val V = """"v":(\d+)""".r
      V.findFirstMatchIn(s).map(_.group(1).toInt)
        .orElse(scala.util.Try(s.toInt).toOption)
        .getOrElse(0)
    }.getOrElse(0)

  /** Batch stamps the newest checkpoint preserves (committed in
    * versions <= its `v`) — what keeps exactly-once replay protection
    * alive across vacuum. Unparsable content reads as empty (with
    * `lastCheckpoint` also falling back to 0, `committedBatches` then
    * re-scans EVERY header — the conservative full fallback).
    */
  private def checkpointBatches(dir: String,
      conf: Configuration): Set[Long] =
    lastCheckpointRaw(dir, conf).toSeq.flatMap { s =>
      val A = """"batches":\[([^\]]*)\]""".r
      A.findFirstMatchIn(s).toSeq.flatMap(_.group(1).split(',').toSeq
        .map(_.trim).filter(_.nonEmpty)
        .flatMap(x => scala.util.Try(x.toLong).toOption))
    }.toSet

  /** Publish pointer content with the tmp+rename discipline every other
    * commit path uses: a concurrent reader sees the OLD pointer or the
    * NEW one, never a torn write. (POSIX rename replaces atomically;
    * on stores where rename-onto-existing fails, the brief
    * delete+rename gap reads as "no checkpoint" — the safe fallback.)
    */
  private def writeLastCheckpoint(dir: String, content: String,
      conf: Configuration): Unit = {
    val f = fs(dir, conf)
    val tmp = new Path(s"$dir/_manifests",
      s".tmp-ckpt-${ProcessHandle.current().pid()}" +
        s"-t${Thread.currentThread().getId}" +
        s"x${System.nanoTime().toHexString}")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val target = lastCheckpointPath(dir)
    commitLock(dir).synchronized {
      if (!f.rename(tmp, target)) { // dest exists (HDFS semantics)
        f.delete(target, false)
        require(f.rename(tmp, target),
          s"could not publish $target - filesystem refused the rename")
      }
    }
  }

  /** Distributed parse of manifest `version`'s entry lines — executors
    * run the line grammar, the driver never materializes the entries.
    */
  private def parseManifestDF(spark: SparkSession, dir: String,
      version: Int): DataFrame = {
    val lines = spark.read.text(
        manifestPath(dir, version).toString)
      .filter(col("value").startsWith("""{"p":"""))
    def str(key: String) = when(
      col("value").contains(s""""$key":""""),
      regexp_extract(col("value"), s""""$key":"([^"]*)"""", 1))
    def num(key: String) = when(
      regexp_extract(col("value"), s""""$key":(-?\\d+)""", 1) =!= "",
      regexp_extract(col("value"), s""""$key":(-?\\d+)""", 1).cast("long"))
    lines.select(
      regexp_extract(col("value"), """"p":"([^"]*)"""", 1).as("p"),
      regexp_extract(col("value"), """"file":"([^"]*)"""", 1).as("file"),
      num("lo").as("lo"), num("hi").as("hi"),
      num("lo2").as("lo2"), num("hi2").as("hi2"),
      str("bloom").as("bloom"), str("kmv").as("kmv"))
  }

  /** Materialize the LATEST version's full entry relation as a parquet
    * checkpoint (idempotent — re-checkpointing a covered version is a
    * no-op) and retire older checkpoints. Returns the covered version.
    * Periodic-maintenance discipline: call it every N commits, exactly
    * like `addBloomIndex` after appends.
    */
  def checkpoint(spark: SparkSession, dir: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = latestVersion(dir, conf)
    require(v >= 1, s"$dir is not a manifested layout")
    val prev = lastCheckpoint(dir, conf)
    if (prev == v) return v
    parseManifestDF(spark, dir, v)
      .write.mode("overwrite").parquet(checkpointPath(dir, v))
    // the pointer also persists every batch stamp committed so far —
    // vacuum deletes superseded manifests (where stamps live), so
    // without this a long-running stream would lose replay protection
    // at its first post-vacuum duplicate delivery (vacuum itself also
    // folds header stamps into the pointer as a safety net).
    val stamps = committedBatches(dir, conf).toSeq.sorted
    writeLastCheckpoint(dir,
      s"""{"v":$v,"batches":[${stamps.mkString(",")}]}""", conf)
    // retire checkpoints, keeping the superseded one for ONE generation:
    // a concurrent reader that resolved the old pointer may still be
    // mid-scan on the old parquet — deleting N-1 immediately would fail
    // it on vanished files; N-2 and older are debris no live pointer
    // (old or new) can still name
    val f = fs(dir, conf)
    val Ckpt = """checkpoint-v(\d{6})\.parquet""".r
    f.listStatus(new Path(s"$dir/_manifests")).toSeq
      .map(_.getPath.getName)
      .collect { case Ckpt(n) => n.toInt }
      .filter(c => c != v && c != prev)
      .foreach(c => f.delete(new Path(checkpointPath(dir, c)), true))
    v
  }

  /** The entry relation of `version` (default latest) as a DataFrame —
    * the census read path for file-count-scale consumers: served from
    * the parquet checkpoint when one covers the version (zero manifest
    * parsing anywhere), else by the distributed manifest parse.
    */
  def entriesRelation(spark: SparkSession, dir: String,
      version: Int = -1): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = if (version > 0) version else latestVersion(dir, conf)
    require(v >= 1, s"$dir is not a manifested layout")
    // a pointer naming a checkpoint whose parquet vanished (maintenance
    // race, manual cleanup) falls back to the distributed manifest
    // parse — the checkpoint is a cache, never the source of truth
    if (lastCheckpoint(dir, conf) == v &&
        fs(dir, conf).exists(new Path(checkpointPath(dir, v))))
      spark.read.parquet(checkpointPath(dir, v))
    else parseManifestDF(spark, dir, v)
  }

  // ---- Per-file KMV sketches: distinct counts WITHOUT scans ----------
  //
  // Table statistics for planning and census questions ("how many
  // distinct users per partition?") normally cost a full scan +
  // shuffle. The manifest can answer them the way it answers range and
  // point questions: carry a per-file sketch. KMV (bottom-k hashes) is
  // the right sketch here because its merge is EXACT set algebra —
  // union-then-truncate — so merging the file sketches of any
  // partition selection IS the sketch of that selection, computed
  // from the manifest alone by one merge that serves both census
  // regimes (file-census work, zero data read at question time). Same
  // incremental discipline as the Bloom index: immutable bytes ⇒
  // immutable sketch; a refresh costs only unsketched files and
  // converges to a no-op.

  private def decodeKmv(b64: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(buf.getLong)
  }

  /** Sketch-build maintenance pass: per-file bottom-k of
    * `xxhash64(column)` for every not-yet-sketched file, committed as
    * a new version (k persisted in the header; files whose column is
    * all-NULL or empty get the EMPTY sketch so the refresh converges).
    * No-op (no commit) when every file is sketched. Returns whether a
    * commit happened.
    */
  def addDistinctSketch(spark: SparkSession, dir: String, column: String,
      k: Int = 1024): Boolean = {
    require(k >= 16, s"addDistinctSketch: k must be >= 16, got $k")
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    val h = readHeader(dir, base, conf)
    require(h.kmvK < 1 || h.kmvK == k,
      s"addDistinctSketch: layout was sketched with k=${h.kmvK}, got " +
        s"k=$k - mixed-k sketches do not merge")
    // same pass as addBloomIndex, including why unscanned files must
    // stay kmv-NULL: an empty sketch silently under-counts, a missing
    // one is loud
    indexPass(spark, dir, base,
      h.next("distinct-sketch", h.schema).copy(kmvK = k),
      "kmv", _.kmv, (e, b) => e.copy(kmv = Some(b)), kmvPackB64(_)) {
      paths => Sketches.kmvSketch(readFiles(spark, dir, paths)
          .filter(col(column).isNotNull).withColumn("__file", metaTail),
        Seq("__file"), column, k).withColumnRenamed("sk", "__v")
    }
  }

  /** Distinct-count estimate of `column` over a partition selection
    * (default: the whole table), answered from the MANIFEST ALONE —
    * merge the selected files' KMV sketches (exact union-truncate
    * algebra) and estimate; zero data bytes read. Exact when the true
    * distinct count is below k. Loud if any selected file lacks a
    * sketch (files from commits after the last build — refresh with
    * `addDistinctSketch`): silently under-counting them is the trap.
    * Returns (estimate, selected file count).
    */
  def approxDistinct(spark: SparkSession, dir: String,
      partitions: Seq[String] = null): (Double, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = latestVersion(dir, conf)
    val k = readHeader(dir, v, conf).kmvK
    require(k >= 1,
      s"$dir carries no distinct sketch - build one with addDistinctSketch")
    val want = Option(partitions).map(_.toSet)
    // one fold of (selected, unsketched, bottom-k hashes): union-then-
    // truncate is exact set algebra, so any merge order — the driver's
    // or the executors' — yields the selection's sketch
    val folded = census(spark, Seq(dir -> v), allPayloads - "bloom")
      .reduce(0, e => Option.when(want.forall(_(e.p)))(0 ->
        (1L, if (e.kmv.isEmpty) 1L else 0L,
          e.kmv.fold(Seq.empty[Long])(b => decodeKmv(b).toSeq))))(
        (a, b) => (a._1 + b._1, a._2 + b._2,
          (a._3 ++ b._3).distinct.sorted.take(k))).get(0)
    require(folded.nonEmpty, s"approxDistinct: no manifest entry " +
      s"matches partitions $partitions in $dir")
    val (nSel, missing, hs) = folded.get
    require(missing == 0L,
      s"approxDistinct: $missing selected file(s) carry no sketch - " +
        "run addDistinctSketch to cover commits newer than the last build")
    val merged = hs.distinct.sorted.take(k)
    val est =
      if (merged.length < k) merged.length.toDouble
      else (k - 1).toDouble / (merged(k - 1) * math.pow(2.0, -64) + 0.5)
    (est, nSel.toInt)
  }

  // ---- Deletion vectors: MERGE-ON-READ row deletes -------------------
  //
  // `purge`/`dedupRepair` are copy-on-write: a delete rewrites whole
  // partitions. Deletion vectors are the Delta/Iceberg merge-on-read
  // alternative — a delete writes ONLY a (file, row position) list and
  // a new manifest version; data files never move, readers anti-filter
  // by position at scan time (the parquet `_metadata.row_index`
  // column). A version's DV is the manifest-header-referenced list of
  // IMMUTABLE delta dirs: each delete commit writes just its own new
  // victims (victim-sized, fully parallel — never a rewrite of the
  // accumulated deletion history through one task) and the new header
  // references old-deltas + the new one. Deletes accumulate per
  // version, time travel keeps each version's DV (headers pin delta
  // lists), every non-DV commit carries the list forward, and
  // `applyDeletes` is the deferred copy-on-write compaction that folds
  // the DV into rewritten partitions and drops it. Delete commits go
  // through the same prepare/publish OCC as partition overwrites: a
  // delete racing a disjoint append REBASES and lands; only a writer
  // that rewrote one of the victims' files (compact/overwrite/apply —
  // the positions would be stale) aborts it.

  private def dvFilePath(dir: String, rel: String): String =
    if (isAbsolute(rel)) rel else s"$dir/$rel"

  /** The schema `stageDelete` writes every delta with. */
  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "__file STRING, __pos BIGINT")

  /** THE reader of DV deltas: the rows of the deltas `rels` (header
    * entries of `dir`). The schema is fixed, so it is passed rather
    * than inferred — inference is a footer-reading job per read.
    */
  private def readDeltas(spark: SparkSession, dir: String,
      rels: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(rels.map(dvFilePath(dir, _)): _*)

  /** The (file, row_index) deletion vector of `version` (empty frame if
    * the version carries none). Duplicate (file, pos) pairs — two
    * racing deletes that both targeted a row live in their shared base
    * — are harmless to the anti-join read path and are folded away by
    * `applyDeletes`.
    */
  def deletionVector(spark: SparkSession, dir: String,
      version: Int): DataFrame = {
    import spark.implicits._
    val h = readHeader(dir, version,
      spark.sparkContext.hadoopConfiguration)
    if (h.dv.isEmpty) Seq.empty[(String, Long)].toDF("__file", "__pos")
    else readDeltas(spark, dir, h.dv)
  }

  /** A staged-but-unpublished merge-on-read delete: the victim delta is
    * on disk (invisible — no header references it), `victimFiles` is
    * the file census the publish-time conflict check validates against.
    */
  case class PreparedDelete(base: Int, delta: String,
      victimFiles: Set[String], nNew: Long)

  /** Stage a merge-on-read delete from the CURRENT snapshot: victims
    * (rows of the base snapshot matching `victim`, minus rows already
    * deleted) land as ONE immutable (file, pos) delta dir under `_dv/`.
    * Nothing is visible until `commitDelete` publishes a header
    * referencing the delta. Staging is one write: the victim count and
    * victim-file set are observed inside it, never read back.
    */
  def prepareDelete(spark: SparkSession, dir: String,
      victim: org.apache.spark.sql.Column): PreparedDelete =
    stageDelete(spark, dir,
      live => live.filter(coalesce(victim, lit(false))))

  /** Stage a merge-on-read delete of the rows matching a KEY LIST —
    * the CDC-delete shape (a feed delivers the keys to forget, not a
    * predicate): victims come from a keyed semi-join against the live
    * snapshot, so a million-key delete batch stays a shuffle join,
    * never a million-term predicate.
    */
  def prepareDeleteKeys(spark: SparkSession, dir: String,
      keys: DataFrame, keyCols: Seq[String]): PreparedDelete = {
    require(keyCols.nonEmpty, "prepareDeleteKeys: keyCols must be non-empty")
    stageDelete(spark, dir,
      live => live.join(keys.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_semi"))
  }

  private def stageDelete(spark: SparkSession, dir: String,
      victims: DataFrame => DataFrame): PreparedDelete = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    val live = readWithDeletes(spark, dir, base)
    val token =
      s"w${ProcessHandle.current().pid()}x${System.nanoTime().toHexString}"
    val rel = f"_dv/d${base + 1}%06d-$token"
    // the count and the victim-file census (bounded by the snapshot's
    // file count, for the publish-time staleness check) ride the write
    val written = Observation()
    victims(live)
      .select(col("__file"), col("__pos"))
      .observe(written, count(lit(1)).as("n"),
        collect_set(col("__file")).as("files"))
      .write.mode("overwrite").parquet(s"$dir/$rel")
    val nNew = written.get("n").asInstanceOf[Long]
    if (nNew == 0L) {
      fs(dir, conf).delete(new Path(s"$dir/$rel"), true)
      return PreparedDelete(base, null, Set.empty, 0L)
    }
    PreparedDelete(base, rel,
      written.get("files").asInstanceOf[collection.Seq[String]].toSet, nNew)
  }

  /** Publish a prepared delete under the same snapshot-isolation OCC as
    * `commitPrepared`: the delta's positions stay valid as long as the
    * victims' data files are still referenced by the latest manifest
    * (files are immutable — only a rewrite that DROPPED one makes the
    * positions stale, and that aborts loudly with the delta cleaned
    * up). Disjoint concurrent appends/overwrites rebase under the
    * delete; a lost rename race re-reads and retries. Returns the
    * number of deleted rows.
    */
  def commitDelete(spark: SparkSession, dir: String, prep: PreparedDelete,
      maxAttempts: Int = 5, batchId: Long = -1L): Long = {
    if (prep.nNew == 0L) return 0L
    val delta = s"$dir/${prep.delta}"
    val conf = spark.sparkContext.hadoopConfiguration
    // staleness census: the victims' files must all still be latest-
    // referenced (victimFiles is delete-sized — a driver set already)
    def fresh(latest: Int): Unit = {
      val present = census(spark, Seq(dir -> latest))
        .join(e => tailKey(e.file), Left(prep.victimFiles))(e =>
          tailKey(e.file)).toSet
      val stale = prep.victimFiles.filterNot(present)
      if (stale.nonEmpty)
        sys.error(
          s"commitDelete: ${stale.size} victim file(s) were rewritten " +
            s"after base v${prep.base} (first: ${stale.head}) - the " +
            "staged positions are stale; re-read and re-prepare the delete")
    }
    // DV-only commit: files unchanged, schema carries verbatim
    publish(spark, dir, "commitDelete", "re-read and re-prepare the delete",
        Nil, staged = Seq(delta), batch = batchId, maxAttempts = maxAttempts,
        check = fresh,
        abort = () => fs(dir, conf).delete(new Path(delta), true)) { (_, h) =>
      h.next("delete", h.schema, batchId).copy(dv = h.dv :+ prep.delta)
    }.fold(0L)(_ => prep.nNew)
  }

  /** Merge-on-read delete: victims become (file, position) rows in a
    * new immutable DV delta referenced by the next version's header —
    * no data file is touched, no prior delta is rewritten. Returns the
    * number of newly-deleted rows (0 = no commit).
    */
  def deleteRows(spark: SparkSession, dir: String,
      victim: org.apache.spark.sql.Column): Long =
    commitDelete(spark, dir, prepareDelete(spark, dir, victim))

  /** EXACTLY-ONCE streaming MOR delete (the ingestion-door twin of
    * `commitBatch`/`mergeBatch`, completing the DV lifecycle's
    * streaming leg): apply one micro-batch's delete-key list as a
    * batch-stamped DV commit. A replayed batch id is detected BEFORE
    * any delta is staged (and re-checked per publish attempt), so
    * at-least-once feed delivery + this commit deletes each key's rows
    * exactly once. A batch whose keys match NO live rows still commits
    * a stamped no-op version ("delete-noop"): under at-least-once
    * delivery, a redelivery of that batch can arrive AFTER later
    * appends land rows with those keys — without the stamp it would
    * delete rows the original delivery never touched, silently
    * breaking the exactly-once contract. Returns whether this delivery
    * committed a delete (a stamped no-op returns false).
    */
  def deleteKeysBatch(spark: SparkSession, dir: String, keys: DataFrame,
      keyCols: Seq[String], batchId: Long): Boolean = {
    require(batchId >= 0,
      s"deleteKeysBatch: batchId must be >= 0, got $batchId")
    val conf = spark.sparkContext.hadoopConfiguration
    if (committedBatches(dir, conf).contains(batchId)) return false
    val prep = prepareDeleteKeys(spark, dir, keys, keyCols)
    if (prep.nNew == 0L) {
      appendEntries(spark, dir, Seq.empty, batchId = batchId,
        op = "delete-noop")
      return false
    }
    commitDelete(spark, dir, prep, batchId = batchId) > 0L
  }

  /** TTL retention sweep — policy-driven expiry as a MERGE-ON-READ
    * delete: rows whose class has outlived its max age (relative to
    * `asOfDate`) land in the next deletion vector; no data file moves
    * until a later `applyDeletes`. The policy is model-sized and
    * compiles to a literal predicate (no join); returns the number of
    * newly-expired rows.
    */
  def ttlSweep(spark: SparkSession, dir: String, classCol: String,
      timeCol: String, policyDays: Map[String, Int],
      asOfDate: String): Long = {
    require(policyDays.nonEmpty, "ttlSweep: empty policy")
    val victim = policyDays.foldLeft(lit(false)) {
      case (acc, (cls, days)) =>
        acc || (col(classCol) === cls &&
          col(timeCol) <
            date_sub(lit(asOfDate).cast("date"), days).cast("timestamp"))
    }
    deleteRows(spark, dir, victim)
  }

  /** Snapshot read MINUS the version's deletion vector. Exposes the
    * bookkeeping columns `__file`/`__pos` (callers drop them); the
    * anti-join is keyed on (file tail, row position) — the DV side is
    * deleted-row-sized, never table-sized.
    */
  def readWithDeletes(spark: SparkSession, dir: String,
      version: Int = -1): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = if (version > 0) version else latestVersion(dir, conf)
    val t = readVersion(spark, dir, v).withColumn("__file", metaTail)
      .withColumn("__pos", col("_metadata.row_index"))
    // a version with no DV (the common case on this hot path — every
    // fresh create/append/overwrite) skips the anti-join outright: one
    // header line decides, and schema/rows are identical either way
    if (readHeader(dir, v, conf).dv.isEmpty) t
    else t.join(deletionVector(spark, dir, v), Seq("__file", "__pos"),
      "left_anti")
  }

  /** COPY-ON-WRITE application of the deletion vector: partitions
    * holding deleted rows rewrite without them in one atomic commit;
    * the new version carries no DV. No-op without a DV.
    */
  def applyDeletes(spark: SparkSession, dir: String,
      partCol: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    val h = readHeader(dir, base, conf)
    if (h.dv.isEmpty) return false
    val affectedParts = dvPartitions(spark, dir, base, h.dv)
    val survivors = readWithDeletes(spark, dir, base)
      .filter(col(partCol).cast("string")
        .isInCollection(affectedParts))
      .drop("__file", "__pos")
    val newEntries = writeCommitFiles(survivors, dir, partCol, base + 1)
    commitCarryExcept(spark, dir, base, base + 1, affectedParts,
      newEntries, conf,
      h.next("apply-deletes", coveringSchemaJson(h.schema, survivors.schema))
        .copy(dv = Nil))
    true
  }

  /** CONTENT-DEDUP REPAIR — the OPTIMIZE-style maintenance job that
    * removes duplicate rows from a manifested layout in place: rows
    * sharing a content key keep only the minimum-`idCol` row (the
    * keep-first rule of `Dedup.dedupExact`), and ONLY partitions that
    * actually lose a row are rewritten — in one atomic commit, with
    * partitions the repair empties vanishing from the manifest (the
    * purge discipline). NULL keys never dedup. Idempotent: a second
    * run finds no victims and commits nothing.
    *
    * Scale shape: the duplicate census is keyed by the content key
    * (map-side partials collapse the duplicate mass), the victim join
    * is keyed, and the only driver state is the affected partition
    * list (partition-domain-sized).
    */
  def dedupRepair(spark: SparkSession, dir: String, partCol: String,
      keyCol: org.apache.spark.sql.Column, idCol: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    // read THROUGH the deletion vector: a repair that rewrote from the
    // raw files would physically resurrect merge-on-read-deleted rows
    val keyed = readWithDeletes(spark, dir, base)
      .drop("__file", "__pos").withColumn("__k", keyCol)
    val dupGroups = keyed.filter(col("__k").isNotNull)
      .groupBy("__k")
      .agg(min(col(idCol)).as("__keep"), count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select("__k", "__keep")
    val victims = keyed.join(dupGroups, Seq("__k"))
      .filter(col(idCol) =!= col("__keep"))
    val affected = victims.select(col(partCol).cast("string").as("__p"))
      .distinct().collect().map(_.getString(0)).toSet
    if (affected.isEmpty) return false
    val survivors = keyed
      .filter(col(partCol).cast("string").isInCollection(affected))
      .join(dupGroups, Seq("__k"), "left")
      .filter(col("__keep").isNull || col(idCol) === col("__keep"))
      .drop("__k", "__keep")
    val entries = writeCommitFiles(survivors, dir, partCol, base + 1)
    val h = readHeader(dir, base, conf)
    commitCarryExcept(spark, dir, base, base + 1, affected, entries,
      conf,
      h.next("dedup-repair", coveringSchemaJson(h.schema, survivors.schema)))
    true
  }

  // ---- Catalog: an atomic MULTI-TABLE snapshot vector ----------------
  //
  // A training-data release moves several tables together (documents +
  // embeddings + censuses); per-table manifests alone let a reader see
  // table A at the new release and table B at the old one. The catalog
  // is one pointer file naming a consistent (table -> manifest version)
  // vector, published with the same one-rename CAS — so a catalog
  // reader sees ALL tables old or ALL tables new, and a writer that
  // crashes after some per-table commits but before the catalog rename
  // left only unreferenced (invisible) table versions behind.

  private def catalogPath(dir: String, version: Int) =
    new Path(s"$dir/_catalog", f"v$version%06d.json")

  /** Largest committed catalog version, or 0 if none. */
  def catalogLatest(dir: String, conf: Configuration): Int = {
    val cdir = new Path(s"$dir/_catalog")
    val f = fs(dir, conf)
    if (!f.exists(cdir)) return 0
    f.listStatus(cdir).map(_.getPath.getName)
      .collect { case s if s.matches("v\\d{6}\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max)
  }

  /** The (table -> manifest version) vector of catalog `version`. */
  def catalogVector(dir: String, version: Int,
      conf: Configuration): Map[String, Int] = {
    val p = catalogPath(dir, version)
    val f = fs(dir, conf)
    require(f.exists(p), s"$dir has no catalog v$version")
    val in = f.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toVector finally in.close()
    val Line = """\{"t":"([^"]*)","v":(\d+)\}""".r
    lines.drop(1).map { case Line(t, v) => t -> v.toInt }.toMap
  }

  /** Publish `writes` — (table, snapshot df, partition column) — as ONE
    * atomic catalog commit: each table's snapshot lands as a fresh
    * per-table manifest (FULL-replace semantics — a release is a
    * snapshot, not a delta), then the catalog pointer naming all the
    * new versions renames in with the CAS. Tables absent from `writes`
    * carry forward at their previous pinned version. Returns the new
    * catalog version.
    */
  def catalogCommit(dir: String,
      writes: Seq[(String, DataFrame, String)]): Int = {
    require(writes.nonEmpty, "catalogCommit: nothing to publish")
    val conf = writes.head._2.sparkSession.sparkContext.hadoopConfiguration
    val cur = catalogLatest(dir, conf)
    val prev = if (cur >= 1) catalogVector(dir, cur, conf)
               else Map.empty[String, Int]
    val newVec = prev ++ writes.map { case (t, df, partCol) =>
      require(t.matches("[A-Za-z0-9_]+"), s"unsafe table name '$t'")
      val tdir = s"$dir/tables/$t"
      val base = latestVersion(tdir, conf)
      val entries = writeCommitFiles(df, tdir, partCol, base + 1)
      // full-replace semantics: the new files ARE the snapshot
      commitManifest(tdir, base + 1, entries, conf,
        Header(schema = df.schema.json))
      t -> (base + 1)
    }
    val f = fs(dir, conf)
    val tmp = new Path(s"$dir/_catalog",
      s".tmp-${ProcessHandle.current().pid()}" +
        s"-t${Thread.currentThread().getId}" +
        s"x${System.nanoTime().toHexString}-v${cur + 1}")
    val out = f.create(tmp, true)
    try {
      out.write(s"""{"version":${cur + 1}}\n"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      newVec.toSeq.sortBy(_._1).foreach { case (t, v) =>
        out.write(s"""{"t":"$t","v":$v}\n"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } finally out.close()
    val target = catalogPath(dir, cur + 1)
    val won = commitLock(s"$dir/_catalog").synchronized {
      publishCas(f, tmp, target)
    }
    if (!won) f.delete(tmp, false)
    require(won, s"catalog commit v${cur + 1} lost the race - retry")
    cur + 1
  }

  /** Read `table` AT the consistent vector of catalog `version`
    * (default: latest) — the only read path that guarantees
    * cross-table consistency.
    */
  def catalogRead(spark: SparkSession, dir: String, table: String,
      version: Int = -1): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = if (version > 0) version else catalogLatest(dir, conf)
    val vec = catalogVector(dir, v, conf)
    require(vec.contains(table),
      s"catalog v$v of $dir has no table '$table' " +
        s"(has: ${vec.keys.toSeq.sorted.mkString(", ")})")
    readVersion(spark, s"$dir/tables/$table", vec(table))
  }

  /** Targeted purge (q177's semantics under the manifest protocol):
    * survivors of affected partitions rewrite into a new commit;
    * partitions a purge empties simply VANISH from the manifest — the
    * dynamic-overwrite silent-retention trap cannot exist here, because
    * nothing a manifest doesn't name is readable.
    */
  def purge(spark: SparkSession, dir: String, partCol: String,
      victim: org.apache.spark.sql.Column, maxAffected: Int = 1 << 16): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    // read through the DV so a purge rewrite can't resurrect
    // merge-on-read-deleted rows in the partitions it rebuilds
    val t = readWithDeletes(spark, dir, base).drop("__file", "__pos")
    val isVictim = coalesce(victim, lit(false))
    val parts = t.groupBy(col(partCol).cast("string").as("__pv"))
      .agg(sum(when(isVictim, 1L).otherwise(0L)).as("n_victim"),
        sum(when(!isVictim, 1L).otherwise(0L)).as("n_keep"))
      .filter(col("n_victim") > 0)
      .limit(maxAffected + 1)
      .collect()
    require(parts.length <= maxAffected,
      s"purge: more than $maxAffected affected partitions - batch the purge")
    if (parts.isEmpty) return
    val affected = parts.map(_.getString(0)).toSet
    val live = parts.filter(_.getLong(2) > 0L).map(_.getString(0)).toSet
    val entries =
      if (live.isEmpty) Seq.empty[Entry]
      else writeCommitFiles(
        t.filter(col(partCol).cast("string").isin(live.toSeq: _*) && !isVictim),
        dir, partCol, base + 1)
    val h = readHeader(dir, base, conf)
    commitCarryExcept(spark, dir, base, base + 1, affected, entries,
      conf, h.next("purge", coveringSchemaJson(h.schema, t.schema)))
  }

  /** Snapshot read of a pinned version — exactly that manifest's files,
    * immutable under any concurrent commit (old-or-new, never a mix).
    */
  def readVersion(spark: SparkSession, dir: String, version: Int): DataFrame = {
    // the path list is driver-held in either census regime (the paths
    // ARE the read arguments — the same bound Delta's scan planning
    // carries); above the threshold the PARSE runs in executors
    val conf = spark.sparkContext.hadoopConfiguration
    val files = census(spark, Seq(dir -> version)).collect(0, e => Some(e.file))
    require(files.nonEmpty,
      s"manifest v$version of $dir is empty - nothing to read")
    // a widened append (new column on later commits) must surface the
    // union schema. The header carries it when the commit could prove
    // it (one line, zero footer bytes — and no per-read distributed
    // footer-merge job); headers without it fall back to mergeSchema,
    // whose footer sampling reconstructs the same union.
    val h = readHeader(dir, version, conf)
    val reader =
      if (h.schema.nonEmpty) spark.read.schema(parseSchema(h.schema))
      else spark.read.option("mergeSchema", "true")
    reader.parquet(files.map(filePath(dir, _)): _*)
  }

  /** Latest-snapshot read (pins the version at CALL time; lazy execution
    * later still sees this snapshot, because its files never mutate).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, latestVersion(spark, dir))

  private def latestVersion(spark: SparkSession, dir: String): Int = {
    val v = latestVersion(dir, spark.sparkContext.hadoopConfiguration)
    require(v >= 1, s"$dir is not a manifested layout")
    v
  }

  /** Manifest-pruned point read: only the files of matching partitions
    * are listed at all — |hit partitions| of stored bytes, not a table
    * scan with a post-filter.
    */
  def readPartitions(spark: SparkSession, dir: String,
      values: Seq[String]): DataFrame = {
    val want = values.toSet
    val hit = census(spark, Seq(dir -> latestVersion(spark, dir)))
      .collect(0, e => Option.when(want(e.p))(e.file))
    require(hit.nonEmpty,
      s"readPartitions: no manifest entry for any of $values in $dir")
    readFiles(spark, dir, hit)
  }

  /** DATA-SKIPPING range read over the tracked stats column: only
    * files whose [min,max] intersects [lo,hi] — plus stats-less files,
    * conservatively — are LISTED at all, so a selective range over a
    * range-clustered layout reads a file fraction, not the table. The
    * caller still applies the precise row predicate (file stats admit,
    * they don't filter). Loud if the layout never tracked stats: a
    * silent full scan behind a "skipping" API is the trap this require
    * closes.
    */
  def readRange(spark: SparkSession, dir: String, lo: Long,
      hi: Long): DataFrame = {
    val c = census(spark, Seq(dir -> latestVersion(spark, dir)))
    require(c.collect(0, _.lo.map(_ => true), 1).nonEmpty,
      s"readRange: $dir tracks no file stats (build it with statsCol) " +
        "- a range read here would be a silent full scan")
    val hit = c.collect(0, e => Option.when(overlaps(e.lo, e.hi, lo, hi))(
      e.file))
    require(hit.nonEmpty,
      s"readRange: no file intersects [$lo,$hi] in $dir")
    readFiles(spark, dir, hit)
  }

  /** Z-ORDER CLUSTERED rewrite — liquid-clustering for the manifest
    * layout: every partition's rows rewrite ordered along the Morton
    * curve over (`colA`, `colB`), with BOTH columns' per-file min/max
    * tracked in the manifest, in one atomic commit. Because the
    * z-curve keeps each file's footprint compact in BOTH dimensions, a
    * selective `readRange2` box — or a range on EITHER single column —
    * lists a file fraction; a plain sort on one column can only ever
    * serve that column. Reads through the deletion vector (full
    * rewrite ⇒ the DV folds away). Bloom entries die with the old
    * files (rebuild with `addBloomIndex` if needed).
    */
  def clusterZOrder(spark: SparkSession, dir: String, partCol: String,
      colA: String, colB: String, filesPerPartition: Int = 4): Unit = {
    require(filesPerPartition >= 1,
      s"clusterZOrder: filesPerPartition must be >= 1")
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(dir, conf)
    require(base >= 1, s"$dir is not a manifested layout")
    val t = readWithDeletes(spark, dir, base).drop("__file", "__pos")
    val la = col(colA).cast("long")
    val lb = col(colB).cast("long")
    val s = t.agg(min(la).as("mna"), max(la).as("mxa"),
      min(lb).as("mnb"), max(lb).as("mxb")).head()
    require(!s.isNullAt(0) && !s.isNullAt(2),
      s"clusterZOrder: $colA/$colB hold no non-null values")
    val z = ZOrder.zValue(
      ZOrder.bucket16(la, lit(s.getLong(0)), lit(s.getLong(1))),
      ZOrder.bucket16(lb, lit(s.getLong(2)), lit(s.getLong(3))))
    val nParts = t.select(col(partCol)).distinct().count().toInt
    val clustered = t.withColumn("__z", z)
      .repartitionByRange(nParts * filesPerPartition,
        col(partCol), col("__z"))
      .sortWithinPartitions(col(partCol), col("__z"))
      .drop("__z")
    val entries = writeCommitFiles(clustered, dir, partCol, base + 1,
      statsCol = colA, statsCol2 = colB)
    // full rewrite: the new files ARE the snapshot, so their schema is
    // the union schema regardless of the base header's state — a
    // cluster/compact re-anchors schema tracking on legacy layouts
    commitManifest(dir, base + 1, entries, conf, readHeader(dir, base, conf)
      .next("cluster", clustered.schema.json).copy(dv = Nil))
  }

  /** Two-dimensional DATA-SKIPPING box read: only files whose tracked
    * [min,max] intersects BOTH ranges (stats-less files conservatively
    * included) are listed. Loud if the layout never tracked a second
    * dimension — a "box read" silently scanning everything is the trap.
    * Returns (rows, listed, total) so gates can pin the skip ratio;
    * callers still apply the exact row predicate.
    */
  def readRange2(spark: SparkSession, dir: String, loA: Long, hiA: Long,
      loB: Long, hiB: Long): (DataFrame, Int, Int) = {
    val v = latestVersion(spark, dir)
    val c = census(spark, Seq(dir -> v))
    require(c.collect(0, _.lo2.map(_ => true), 1).nonEmpty,
      s"readRange2: $dir tracks no second-dimension stats - cluster " +
        "it with clusterZOrder first (a box read would be a full scan)")
    val hit = c.collect(0, e => Option.when(overlaps(e.lo, e.hi, loA, hiA) &&
      overlaps(e.lo2, e.hi2, loB, hiB))(e.file))
    val df =
      if (hit.isEmpty) readVersion(spark, dir, v).limit(0)
      else readFiles(spark, dir, hit)
    (df, hit.length, c.size(0).toInt)
  }

  /** Small-file COMPACTION as one atomic commit: each partition's rows
    * rewrite into `filesPerPartition` files (range-clustered on the
    * stats column when tracked, so skipping stats stay tight), and the
    * whole rewrite publishes in a single manifest rename — readers see
    * the fragmented layout or the compacted one, never half of each,
    * and the content is BIT-EQUAL by construction (same rows, new file
    * boundaries). The streaming-ingest accretion path (q319: one file
    * per partition per micro-batch) is exactly what this repairs; until
    * `vacuum`, the pre-compaction snapshot stays readable.
    */
  def compact(spark: SparkSession, dir: String, partCol: String,
      filesPerPartition: Int = 1, statsCol: String = null): Unit = {
    require(filesPerPartition >= 1,
      s"compact: filesPerPartition must be >= 1, got $filesPerPartition")
    val conf = spark.sparkContext.hadoopConfiguration
    val base = latestVersion(spark, dir)
    // read through the DV: compaction rewrites every file, so it FOLDS
    // the deletion vector in — the compacted version carries none
    val t = readWithDeletes(spark, dir, base).drop("__file", "__pos")
    // partition-domain census (the same bound every lifecycle op rides)
    val nParts = t.select(col(partCol)).distinct().count().toInt
    val clustered =
      if (filesPerPartition == 1) {
        // hash by the partition column: a partition's rows land WHOLE
        // in one task — exactly one file each (a range split could put
        // a task boundary inside a partition); sorting within the task
        // keeps parquet row-group stats tight even though the one
        // file's manifest range is necessarily the partition's full one
        val r = t.repartition(nParts, col(partCol))
        if (statsCol != null)
          r.sortWithinPartitions(col(partCol), col(statsCol))
        else r
      } else if (statsCol != null)
        t.repartitionByRange(nParts * filesPerPartition, col(partCol),
          col(statsCol))
      else t.repartition(nParts * filesPerPartition, col(partCol))
    val entries = writeCommitFiles(clustered, dir, partCol, base + 1,
      statsCol)
    // full rewrite — new files are the whole snapshot (see clusterZOrder)
    commitManifest(dir, base + 1, entries, conf, readHeader(dir, base, conf)
      .next("compact", clustered.schema.json).copy(dv = Nil))
  }

  /** Every manifest version number currently committed in `dir`. */
  private def allVersions(dir: String, conf: Configuration): Seq[Int] = {
    val mdir = new Path(s"$dir/_manifests")
    val f = fs(dir, conf)
    if (!f.exists(mdir)) return Nil
    f.listStatus(mdir).map(_.getPath.getName)
      .collect { case s if s.matches("v\\d{6}\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }.toSeq.sorted
  }

  /** Names of live branches under `dir`. */
  private def branchNames(dir: String, conf: Configuration): Seq[String] = {
    val broot = new Path(s"$dir/_branches")
    val f = fs(dir, conf)
    if (!f.exists(broot)) return Nil
    f.listStatus(broot).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** Retention pass: delete every data file the LATEST manifest doesn't
    * reference (crashed-writer orphans, superseded commit files), every
    * superseded manifest, and every deletion-vector delta the latest
    * header doesn't reference. BRANCH-AWARE: files and DV deltas any
    * live branch still references (branch manifests point into main's
    * data by absolute path — the zero-copy mechanism) are SPARED, at
    * every branch version, so vacuuming main can never corrupt a
    * branch; delete or merge branches first to reclaim their bytes.
    * The latest snapshot is untouched; main time-travel reads older
    * than latest die here by design — vacuum IS the retention boundary.
    * Returns (data files deleted, manifests deleted, DV deltas deleted).
    *
    * Scale shape: the keep census (latest entries + every branch
    * version's entries — the table-file-count-sized piece) is one
    * `census`: a driver set below the threshold, a relation for the
    * distributed anti-join above it — and above the threshold the
    * DISK side distributes too (this listing is the one regime choice
    * outside `census`, a directory walk rather than an entry census):
    * the driver lists only the first-level commit directories
    * (version-count-sized), a Spark job lists each
    * commit's files in the executors, the doomed anti-join stays a
    * relation end to end, and the deletes fan out via
    * `foreachPartition` (the Delta-vacuum shape: at 10^7 files a
    * single-threaded driver list-then-delete loop IS the bottleneck).
    * Emptied commit directories are found from per-directory
    * listed-vs-doomed counts — no second recursive walk.
    */
  def vacuum(spark: SparkSession, dir: String): (Long, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val latest = latestVersion(spark, dir)
    val f = fs(dir, conf)
    val branchVs: Seq[(String, Int)] = for {
      name <- branchNames(dir, conf)
      bdir = branchRoot(dir, name)
      v <- allVersions(bdir, conf)
    } yield (bdir, v)
    var dataDeleted = 0L
    val dataRoot = new Path(s"$dir/data")
    if (f.exists(dataRoot)) {
      // keep census: the latest entries plus the relative form of every
      // absolute path a branch version holds under `dir`
      val legs = (dir -> latest) +: branchVs
      val c = census(spark, legs)
      val keeps = legs.indices.map(i => c.keys(i, e =>
        if (i == 0) Some(e.file)
        else Option.when(e.file.startsWith(s"$dir/"))(
          e.file.stripPrefix(s"$dir/"))))
      if (c.small) {
        // gate-scale path: one driver walk, zero Spark jobs
        val it = f.listFiles(dataRoot, true)
        val qualifiedDir = f.makeQualified(new Path(dir)).toString
        val listed = Iterator.continually(it)
          .takeWhile(_.hasNext).map(_.next())
          .filter(s => s.isFile)
          .map(_.getPath.toString.stripPrefix(qualifiedDir).stripPrefix("/"))
          .filter(_.endsWith(".parquet"))
          .toVector
        val keep = keeps.collect { case Left(k) => k }.flatten.toSet
        val doomed = listed.filterNot(keep)
        doomed.foreach(rel => f.delete(new Path(s"$dir/$rel"), false))
        dataDeleted = doomed.length.toLong
        // drop commit dirs emptied of data files (routing dirs + markers)
        f.listStatus(dataRoot).filter(_.isDirectory).foreach { c =>
          val files = f.listFiles(c.getPath, true)
          val hasData = Iterator.continually(files)
            .takeWhile(_.hasNext).map(_.next())
            .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          if (!hasData) f.delete(c.getPath, true)
        }
      } else {
        import spark.implicits._
        // the driver touches only the FIRST level of data/: commit
        // directories (one per version — the fan-out seed) and stray
        // top-level files; everything below is listed in the executors
        val children = f.listStatus(dataRoot).toSeq
        val qualifiedDir = f.makeQualified(new Path(dir)).toString
        def rel(p: Path) =
          p.toString.stripPrefix(qualifiedDir).stripPrefix("/")
        val topFiles = children.filter(_.isFile).map(s => rel(s.getPath))
          .filter(_.endsWith(".parquet"))
        val commitDirs = children.filter(_.isDirectory)
          .map(_.getPath.toString)
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(conf))
        val rootDir = dir
        val slices = math.max(1, math.min(commitDirs.length,
          spark.sparkContext.defaultParallelism * 2))
        val listedDF =
          (if (commitDirs.isEmpty) spark.emptyDataset[String].toDF("file")
           else spark.sparkContext.parallelize(commitDirs, slices)
            .flatMap { d =>
              val lfs = new Path(d).getFileSystem(confBc.value.value)
              val qual = lfs.makeQualified(new Path(rootDir)).toString
              val it = lfs.listFiles(new Path(d), true)
              Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
                .filter(_.isFile)
                .map(_.getPath.toString.stripPrefix(qual)
                  .stripPrefix("/"))
                .filter(_.endsWith(".parquet"))
            }.toDF("file"))
          .unionAll(topFiles.toDF("file"))
        val keepDF = keeps.collect { case Right(k) => k.toDF("file") }
          .reduce(_ unionAll _)
        // per-commit-dir census rides the same listing: a commit dir
        // whose listed files are ALL doomed (or that holds none) is
        // dropped after the file deletes — no second recursive walk
        // (the listing relation persists so the per-dir counts and the
        // anti-join share ONE walk of the tree)
        val cdir = substring_index(col("file"), "/", 2)
        val listedP = listedDF.persist()
        val doomedDF = listedP
          .join(keepDF, Seq("file"), "left_anti").persist()
        try {
          val listedPer = listedP.groupBy(cdir.as("d")).count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val doomedPer = doomedDF.groupBy(cdir.as("d")).count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val delAcc =
            spark.sparkContext.longAccumulator("graft.vacuum.dataDeleted")
          doomedDF.select("file").as[String].foreachPartition {
            (rows: Iterator[String]) =>
              val efs = new Path(rootDir).getFileSystem(confBc.value.value)
              rows.foreach { r =>
                if (efs.delete(new Path(s"$rootDir/$r"), false))
                  delAcc.add(1L)
              }
          }
          dataDeleted = delAcc.value
          commitDirs.foreach { d =>
            val r = rel(new Path(d))
            val remaining =
              listedPer.getOrElse(r, 0L) - doomedPer.getOrElse(r, 0L)
            if (remaining <= 0L) f.delete(new Path(d), true)
          }
        } finally { doomedDF.unpersist(); listedP.unpersist() }
      }
    }
    // fold every still-readable batch stamp into the pointer BEFORE
    // deleting the superseded manifest headers the stamps live in —
    // otherwise stamps committed after the newest checkpoint silently
    // vanish with their headers and a months-later replay of an
    // already-applied batch re-applies (the exactly-once hole the
    // checkpoint exists to close). The pointer's `v` is unchanged: this
    // folds stamps only, it does not claim entry coverage.
    val stamps = committedBatches(dir, conf)
    if (stamps.nonEmpty && stamps != checkpointBatches(dir, conf))
      writeLastCheckpoint(dir,
        s"""{"v":${lastCheckpoint(dir, conf)},"batches":[${
          stamps.toSeq.sorted.mkString(",")}]}""", conf)
    var manifestsDeleted = 0L
    (1 until latest).foreach { v =>
      val p = manifestPath(dir, v)
      if (f.exists(p) && f.delete(p, false)) manifestsDeleted += 1
    }
    // DV deltas: keep those the latest header (or any branch version's
    // header) references; the rest are aborted-delete orphans or
    // superseded (applied/compacted-away) history
    val dvKeep = readHeader(dir, latest, conf).dv
      .map(p => dvFilePath(dir, p)).toSet ++ (for {
        (bdir, v) <- branchVs
        p <- readHeader(bdir, v, conf).dv
      } yield dvFilePath(bdir, p))
    var dvDeleted = 0L
    val dvRoot = new Path(s"$dir/_dv")
    if (f.exists(dvRoot)) {
      f.listStatus(dvRoot).filter(_.isDirectory).foreach { d =>
        if (!dvKeep(s"$dir/_dv/${d.getPath.getName}")) {
          if (f.delete(d.getPath, true)) dvDeleted += 1
        }
      }
    }
    (dataDeleted, manifestsDeleted, dvDeleted)
  }
}
