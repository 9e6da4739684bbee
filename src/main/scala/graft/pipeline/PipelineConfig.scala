package graft.pipeline

import java.io.FileInputStream
import java.util.{LinkedHashMap => JLinkedMap, List => JList, Map => JMap}
import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** Typed model of `conf/retail_pipeline.yaml` (shape motivated by the
  * reference's YAML surface, reference config/pipeline_config.yaml:1-92).
  * Schema and rename maps are ORDERED (ListMap) — declaration order
  * defines output column order, exactly like the reference's dict
  * iteration (reference src/quality_checks.py:49,63).
  */
final case class DatasetSpec(
    schema: Seq[(String, String)],   // column -> SQL type string, ordered
    rename: Seq[(String, String)])   // old -> canonical name, ordered

final case class IngestConfig(
    rawDir: String, workDir: String, filePatterns: Seq[String],
    // multiLine=true (the reference's S4 contract) parses quoted embedded
    // newlines but makes each CSV file a single unsplittable task — the
    // retail config turns it off because those files are newline-free and
    // a splittable parse is the only shape that survives large files.
    multiLine: Boolean = true)

final case class QualityConfig(
    maxNullFraction: Double,
    failOnSchemaMismatch: Boolean,
    dropDuplicates: Boolean)

final case class SinkConfig(
    format: String,
    path: String,
    jdbcUrl: String,
    jdbcDriver: String,
    mode: String,
    tables: Seq[(String, String)],   // logical -> physical table name
    partitionBy: Seq[String] = Nil,  // optional hive-style layout columns
    sqliteCompat: Boolean = false)   // reference DB shape: date→epoch-ms, bool→0/1

final case class PipelineConfig(
    appName: String,
    ingest: IngestConfig,
    datasets: Seq[(String, DatasetSpec)],
    quality: QualityConfig,
    sink: SinkConfig,
    logFile: Option[String] = None)  // append-mode run log (file + console)

object PipelineConfig {

  def load(path: String): PipelineConfig = {
    val in = new FileInputStream(path)
    try fromRoot(new Yaml().load[JMap[String, AnyRef]](in))
    finally in.close()
  }

  private def fromRoot(root: JMap[String, AnyRef]): PipelineConfig = {
    def section(key: String): JMap[String, AnyRef] =
      root.get(key).asInstanceOf[JMap[String, AnyRef]]

    def orderedStrings(m: JMap[String, AnyRef]): Seq[(String, String)] =
      m.asScala.toSeq.map { case (k, v) => k -> String.valueOf(v) }

    val ing = section("ingest")
    val q = section("quality")
    val s = section("sink")

    PipelineConfig(
      appName = String.valueOf(root.get("app_name")),
      ingest = IngestConfig(
        rawDir = String.valueOf(ing.get("raw_dir")),
        workDir = String.valueOf(ing.get("work_dir")),
        filePatterns = ing.get("file_patterns").asInstanceOf[JList[AnyRef]]
          .asScala.toSeq.map(String.valueOf),
        multiLine = Option(ing.get("multi_line"))
          .forall(v => String.valueOf(v).toBoolean)),
      datasets = section("datasets").asScala.toSeq.map { case (name, spec) =>
        val m = spec.asInstanceOf[JMap[String, AnyRef]]
        name -> DatasetSpec(
          schema = orderedStrings(m.get("schema").asInstanceOf[JLinkedMap[String, AnyRef]]),
          rename = orderedStrings(m.get("rename").asInstanceOf[JLinkedMap[String, AnyRef]]))
      },
      quality = QualityConfig(
        maxNullFraction = String.valueOf(q.get("max_null_fraction")).toDouble,
        failOnSchemaMismatch = String.valueOf(q.get("fail_on_schema_mismatch")).toBoolean,
        dropDuplicates = String.valueOf(q.get("drop_duplicates")).toBoolean),
      sink = SinkConfig(
        format = String.valueOf(s.get("format")),
        path = String.valueOf(s.get("path")),
        jdbcUrl = String.valueOf(s.get("jdbc_url")),
        jdbcDriver = String.valueOf(s.get("jdbc_driver")),
        mode = String.valueOf(s.get("mode")),
        tables = orderedStrings(s.get("tables").asInstanceOf[JMap[String, AnyRef]]),
        partitionBy = Option(s.get("partition_by"))
          .map(_.asInstanceOf[JList[AnyRef]].asScala.toSeq.map(String.valueOf))
          .getOrElse(Nil),
        sqliteCompat = Option(s.get("sqlite_compat"))
          .exists(v => String.valueOf(v).toBoolean)),
      logFile = Option(root.get("log_file")).map(String.valueOf))
  }
}
