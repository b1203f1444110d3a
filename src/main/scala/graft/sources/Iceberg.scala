package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import TableFs.mkdirs

/** Reader for the public ICEBERG TABLE METADATA formats — the pieces
  * [[ManifestTable.convertIceberg]] needs to take a snapshot zero-copy:
  * `metadata dir's *.metadata.json` (table metadata: current snapshot, schema,
  * partition spec), the Avro MANIFEST LIST (one row per manifest, with
  * `content` distinguishing data from delete manifests), and Avro
  * MANIFESTS (one row per file with `status` existing/added/deleted and
  * the nested `data_file` struct). Everything reads BY FIELD NAME from
  * the file-embedded Avro schema, so real Iceberg files (which carry
  * many more fields than the fixtures) decode with the same code.
  *
  * Scale shape: manifest lists and manifests are METADATA-sized (file
  * counts, not data), and Iceberg's own planning reads them centrally —
  * the driver-side parse here has the same bound.
  */
private[graft] object IcebergMeta {

  /** One manifest-list row: path + content (0 = data, 1 = deletes). */
  final case class ManifestRef(path: String, content: Int)

  /** One manifest row: file path, format, entry status
    * (0 existing / 1 added / 2 deleted), file content (0 data). */
  final case class FileEntry(path: String, format: String, status: Int,
                             content: Int, recordCount: Long)

  private def avroRows(spark: SparkSession, p: Path): Seq[GenericRecord] = {
    val in = new org.apache.avro.mapred.FsInput(p,
      spark.sparkContext.hadoopConfiguration)
    val reader = new DataFileReader[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toVector
    finally reader.close()
  }

  private def str(v: Any): String = Option(v).map(_.toString).getOrElse(null)
  private def int(v: Any, dflt: Int): Int = v match {
    case null => dflt
    case n: java.lang.Number => n.intValue()
    case other => other.toString.toInt
  }
  private def long(v: Any, dflt: Long): Long = v match {
    case null => dflt
    case n: java.lang.Number => n.longValue()
    case other => other.toString.toLong
  }

  def readManifestList(spark: SparkSession, p: Path): Seq[ManifestRef] =
    avroRows(spark, p).map { r =>
      ManifestRef(str(r.get("manifest_path")), int(r.get("content"), 0))
    }

  def readManifest(spark: SparkSession, p: Path): Seq[FileEntry] =
    avroRows(spark, p).map { r =>
      val df = r.get("data_file").asInstanceOf[GenericRecord]
      require(df != null, s"manifest row without data_file in $p")
      FileEntry(str(df.get("file_path")), str(df.get("file_format")),
        int(r.get("status"), 0), int(df.get("content"), 0),
        long(df.get("record_count"), -1L))
    }

  /** Iceberg schema JSON → Spark schema. Field IDs drop (graft resolves
    * by name); `required` maps to non-nullable; unknown or unsupported
    * types (uuid, time, unknown strings) refuse LOUDLY by name. */
  def toSparkType(node: com.fasterxml.jackson.databind.JsonNode): DataType = {
    if (node.isTextual) {
      val t = node.asText()
      val dec = """decimal\((\d+),\s*(\d+)\)""".r
      val fixed = """fixed\[(\d+)\]""".r
      t match {
        case "boolean" => BooleanType
        case "int" => IntegerType
        case "long" => LongType
        case "float" => FloatType
        case "double" => DoubleType
        case "date" => DateType
        case "timestamp" => TimestampNTZType
        case "timestamptz" => TimestampType
        case "string" => StringType
        case "binary" => BinaryType
        case dec(p, s) => DecimalType(p.toInt, s.toInt)
        case fixed(_) => BinaryType
        case other => sys.error(
          s"CONVERT FROM ICEBERG: type '$other' does not convert")
      }
    } else node.get("type").asText() match {
      case "struct" => StructType(node.get("fields").elements().asScala.map {
        f =>
          StructField(f.get("name").asText(), toSparkType(f.get("type")),
            nullable = !f.get("required").asBoolean(false))
      }.toArray)
      case "list" => ArrayType(toSparkType(node.get("element")),
        containsNull = !node.get("element-required").asBoolean(false))
      case "map" => MapType(toSparkType(node.get("key")),
        toSparkType(node.get("value")),
        valueContainsNull = !node.get("value-required").asBoolean(false))
      case other => sys.error(
        s"CONVERT FROM ICEBERG: type '$other' does not convert")
    }
  }
}

/** Minimal WRITER for the same formats — the fixture side of
  * [[ManifestTable.convertIceberg]], so conversion is testable without
  * any Iceberg library on the classpath (mirror of [[DeltaLayout]]).
  * Field names and structure follow the Iceberg spec (the converter
  * reads real files by the same names); fields the converter never
  * consults are omitted.
  */
private[graft] object IcebergLayout {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def js(s: String): String = mapper.writeValueAsString(s)

  private val ManifestListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int","default":0},
      |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin)

  private val ManifestSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file_r","fields":[
      |{"name":"content","type":"int","default":0},
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)

  private def writeAvro(spark: SparkSession, p: Path, schema: Schema,
                        rows: Seq[GenericRecord]): Unit = {
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    mkdirs(f, p.getParent)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f.create(p, true))
    try rows.foreach(w.append) finally w.close()
  }

  /** One manifest: (absolute file path, record count, status) rows;
    * content marks the nested data_file (0 data, else exercise refusal). */
  def writeManifest(spark: SparkSession, root: String, name: String,
                    files: Seq[(String, Long, Int)],
                    format: String = "PARQUET",
                    fileContent: Int = 0): String = {
    val p = new Path(new Path(root, "metadata"), name)
    writeAvro(spark, p, ManifestSchema, files.map { case (fp, n, status) =>
      val df = new GenericData.Record(
        ManifestSchema.getField("data_file").schema())
      df.put("content", fileContent)
      df.put("file_path", fp)
      df.put("file_format", format)
      df.put("record_count", n)
      df.put("file_size_in_bytes", 1L)
      val r = new GenericData.Record(ManifestSchema)
      r.put("status", status)
      r.put("snapshot_id", null)
      r.put("data_file", df)
      r
    })
    p.toString
  }

  /** The manifest LIST: (manifest path, content) rows. */
  def writeManifestList(spark: SparkSession, root: String, name: String,
                        manifests: Seq[(String, Int)]): String = {
    val p = new Path(new Path(root, "metadata"), name)
    writeAvro(spark, p, ManifestListSchema, manifests.map { case (mp, c) =>
      val r = new GenericData.Record(ManifestListSchema)
      r.put("manifest_path", mp)
      r.put("manifest_length", 1L)
      r.put("partition_spec_id", 0)
      r.put("content", c)
      r.put("added_snapshot_id", 1L)
      r
    })
    p.toString
  }

  /** Spark type → Iceberg schema-JSON type (fixture inverse of
    * [[IcebergMeta.toSparkType]]). */
  private def icebergType(dt: DataType): String = dt match {
    case BooleanType => "\"boolean\""
    case IntegerType => "\"int\""
    case LongType => "\"long\""
    case FloatType => "\"float\""
    case DoubleType => "\"double\""
    case DateType => "\"date\""
    case TimestampNTZType => "\"timestamp\""
    case TimestampType => "\"timestamptz\""
    case StringType => "\"string\""
    case BinaryType => "\"binary\""
    case d: DecimalType => s""""decimal(${d.precision},${d.scale})""""
    case st: StructType => structJson(st, 100)
    case other => sys.error(s"fixture: no iceberg type for $other")
  }

  private def structJson(st: StructType, idBase: Int): String = {
    val fields = st.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${idBase + i},"name":${js(f.name)},""" +
        s""""required":${!f.nullable},"type":${icebergType(f.dataType)}}"""
    }
    s"""{"type":"struct","schema-id":0,"fields":[${fields.mkString(",")}]}"""
  }

  /** Table metadata (v1 or v2): one snapshot, identity partition spec.
    * v2 carries `schemas`/`current-schema-id` + a `manifest-list`; v1
    * the inline `schema` + `manifests` array. Writes
    * `metadata/v<version>.metadata.json` (+ `version-hint.text` when
    * `hint`). */
  def writeMetadata(spark: SparkSession, root: String, version: Int,
                    schema: StructType, partCols: Seq[String],
                    manifestList: Option[String],
                    manifests: Seq[String] = Nil,
                    formatVersion: Int = 2,
                    hint: Boolean = true,
                    transforms: Map[String, String] = Map.empty): Unit = {
    val schemaJson = structJson(schema, 1)
    val specFields = partCols.zipWithIndex.map { case (c, i) =>
      val srcId = schema.fieldNames.indexOf(c) + 1
      s"""{"source-id":$srcId,"field-id":${1000 + i},"name":${js(c)},""" +
        s""""transform":${js(transforms.getOrElse(c, "identity"))}}"""
    }.mkString(",")
    val snapshot =
      if (formatVersion >= 2)
        s"""{"snapshot-id":1,"timestamp-ms":0,"sequence-number":1,""" +
          s""""manifest-list":${js(manifestList.get)},""" +
          s""""summary":{"operation":"append"}}"""
      else
        s"""{"snapshot-id":1,"timestamp-ms":0,""" +
          s""""manifests":[${manifests.map(js).mkString(",")}],""" +
          s""""summary":{"operation":"append"}}"""
    val schemaPart =
      if (formatVersion >= 2)
        s""""schemas":[$schemaJson],"current-schema-id":0,""" +
          s""""partition-specs":[{"spec-id":0,"fields":[$specFields]}],""" +
          s""""default-spec-id":0,"""
      else
        s""""schema":$schemaJson,"partition-spec":[$specFields],"""
    val text =
      s"""{"format-version":$formatVersion,"table-uuid":"fixture",""" +
        s""""location":${js(root)},"last-updated-ms":0,""" +
        schemaPart +
        s""""current-snapshot-id":1,"snapshots":[$snapshot]}"""
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = new Path(new Path(root, "metadata"), s"v$version.metadata.json")
    mkdirs(f, mp.getParent)
    val out = f.create(mp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (hint) {
      val hp = new Path(new Path(root, "metadata"), "version-hint.text")
      val ho = f.create(hp, true)
      try ho.write(version.toString.getBytes("UTF-8")) finally ho.close()
    }
  }
}
