package graft.storage


import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.plans.TieredSqlTable

/** Apache-Iceberg-v2 metadata EXPORT for a [[TieredTable]] cold tier —
  * the reference's core interop promise re-expressed: a second engine
  * reads the tiered data with its OWN Iceberg reader, zero graft code
  * involved (/root/reference/README.md:257-292 — Trino queries the
  * Iceberg tier directly via a plain Iceberg catalog).
  *
  * [[export]] writes, next to (never instead of) the graft manifest:
  *
  * {{{
  * <table>/metadata/version-hint.text        # current metadata version
  * <table>/metadata/v<N>.metadata.json       # Iceberg table metadata
  * <table>/metadata/snap-<id>-manifest-list.avro
  * <table>/metadata/manifest-<id>.avro
  * }}}
  *
  * all per the Iceberg spec: table metadata is JSON with schemas
  * carrying assigned field-ids; manifest lists and manifests are Avro
  * files whose record fields carry the spec's reserved field-ids
  * (manifest_path=500, …, data_file.file_path=100, …) and whose file
  * key-value metadata carries `schema` / `partition-spec` /
  * `format-version`, exactly what external readers key on. Every
  * RETAINED graft snapshot exports as an Iceberg snapshot (sequence
  * number = graft snapshot id), so Iceberg time travel sees the same
  * history as [[TieredTable.readColdAsOf]].
  *
  * [[readTable]] is the in-suite second engine: it resolves data files
  * ONLY through the exported artifacts (version-hint → metadata.json →
  * manifest-list Avro → manifest Avro → parquet paths) — no graft
  * manifest, no [[TieredTable]] code — and the q19 oracle cross-checks
  * the result against DuckDB's recomputation. (DuckDB's own `iceberg`
  * extension would be the ideal oracle but is not installable in the
  * zero-egress sandbox; the independent-reader path keeps the check
  * honest: a wrong manifest, a missed file, or a bad path breaks it.)
  *
  * Scope: unpartitioned or identity-partitioned tables, copy-on-write
  * or merge-on-read. A hive-layout partition value lives in directory
  * names, not data pages, so the export parses it from the path and
  * stores it TYPED in the manifest's partition struct with an identity
  * partition spec — Iceberg's `add_files` migration semantics, which
  * external readers resolve as constant columns.
  *
  * Merge-on-read PK tables export as Iceberg v2 EQUALITY DELETES —
  * the exact construct Flink's Iceberg upsert sink writes: each delta
  * dir at graft sequence `s` becomes data files at data-sequence `s`
  * plus equality-delete files (the dir's distinct PK tuples, written
  * by however many tasks produced them — no single-writer funnel) at
  * sequence `s`, and the spec's rule "an equality delete applies to
  * data files with STRICTLY SMALLER data sequence number" is
  * last-write-wins on `__seq` verbatim. Partitioned merge-on-read
  * tables write their delete files hive-partitioned, so each file is
  * PARTITION-SCOPED per the v2 spec — exact because partition columns
  * must be part of the PK (a key never changes partitions, the
  * Flink-Iceberg upsert-sink rule, enforced at construction). The
  * internal `__seq` column is excluded from the exported schemas
  * (name-projecting readers never see it), and rewrite commits
  * (compact/delete/update) — whose single resolved dir has no older
  * live files — export with no deletes.
  *
  * Scale: for copy-on-write tables export is a METADATA-ONLY pass — it
  * lists each snapshot dir and transcribes the per-file records the
  * commit already wrote ([[FileStats.exportEntries]]: record counts,
  * value and null counts, bounds — the numbers a cluster writer
  * returns in task commit messages); no data file or footer is opened.
  * Merge-on-read adds one column-pruned PK scan per NEW delta dir
  * (delete files are written once per dir, keyed by sequence) —
  * O(|delta| PK cells), the cost a Flink upsert writer pays inline.
  * Re-export after new commits writes only the new snapshots'
  * manifests: per-snapshot schemas persist in `export-state.json`, and
  * already-written manifest/list Avro files are REUSED byte-for-byte
  * while the exported history prefix is untouched, so per-commit
  * auto-export (`icebergExport = true`) has flat Avro work as history
  * grows.
  * All metadata IO rides [[TableFs]], so a `graftos://` table exports
  * its chain INTO the bucket (each Avro/json artifact buffered and
  * written in one PUT; eqdel dirs publish via `_DONE` markers instead
  * of renames) — the reference's Iceberg-tier-on-MinIO warehouse
  * shape, with [[readTable]] resolving from bucket objects alone.
  */
object IcebergExport {

  /** Iceberg v2 `manifest_file` record (the manifest-list entry), with
    * the spec's reserved field-ids attached as Avro field properties.
    */
  private[graft] val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  /** Iceberg v2 `manifest_entry` with nested `data_file` (r2). The
    * `partition` struct (r102) is empty — unpartitioned spec. The
    * per-column stats maps (spec-optional) ARE exported — value/null
    * counts and lower/upper bounds keyed by schema field id, encoded
    * as Iceberg's array-of-key-value "map" with the reserved element
    * ids (k119/v120, k121/v122, k126/v127, k129/v130) — they are what
    * an external Iceberg reader prunes files with.
    */
  private def kvMap(name: String, keyId: Int, valId: Int,
                    valType: String): String =
    s"""["null",{"type":"array","logicalType":"map","items":{
       |"type":"record","name":"$name","fields":[
       |{"name":"key","type":"int","field-id":$keyId},
       |{"name":"value","type":"$valType","field-id":$valId}]}}]""".stripMargin

  /** Manifest entry Avro schema, parameterized by the table's identity
    * partition fields: the `partition` struct (r102) carries one typed,
    * nullable field per partition column with the spec's 1000+i
    * partition field-ids. Empty seq = the unpartitioned shape.
    */
  private[graft] def manifestEntrySchema(partFields: Seq[(String, String)]): Schema =
    manifestEntrySchema(partFields, v3DeleteFields = false)

  /** With `v3DeleteFields`, the entry carries the format-version-3
    * deletion-vector address fields (referenced_data_file 143,
    * content_offset 144, content_size_in_bytes 145) — the shape a v3
    * writer's delete manifests have. Read-side code never needs the
    * flag: Avro resolves by the WRITER's schema, and a missing field
    * reads as null.
    */
  private[graft] def manifestEntrySchema(partFields: Seq[(String, String)],
                                         v3DeleteFields: Boolean): Schema = {
    val pf = partFields.zipWithIndex.map { case ((n, t), i) =>
      s"""{"name":"$n","type":["null","$t"],"default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    val v3 = if (!v3DeleteFields) "" else
      """,{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
        .stripMargin
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int","field-id":0},
        |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
        |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
        |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
        |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int","field-id":134},
        |{"name":"file_path","type":"string","field-id":100},
        |{"name":"file_format","type":"string","field-id":101},
        |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$pf]}},
        |{"name":"record_count","type":"long","field-id":103},
        |{"name":"file_size_in_bytes","type":"long","field-id":104},
        |{"name":"value_counts","field-id":109,"default":null,
        |  "type":${kvMap("k119_v120", 119, 120, "long")}},
        |{"name":"null_value_counts","field-id":110,"default":null,
        |  "type":${kvMap("k121_v122", 121, 122, "long")}},
        |{"name":"lower_bounds","field-id":125,"default":null,
        |  "type":${kvMap("k126_v127", 126, 127, "bytes")}},
        |{"name":"upper_bounds","field-id":128,"default":null,
        |  "type":${kvMap("k129_v130", 129, 130, "bytes")}},
        |{"name":"equality_ids","field-id":135,"default":null,
        |  "type":["null",{"type":"array","element-id":136,"items":"int"}]}
        |$v3
        |]}}]}""".stripMargin)
  }

  /** Spark partition-column type → the Avro primitive its manifest
    * partition value is stored as. Iceberg stores DATE partition values
    * as int days since epoch; other types are refused loudly (a wrong
    * partition value corrupts every external read that prunes on it).
    */
  private def avroPartType(dt: DataType): String = dt match {
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case StringType => "string"
    case DateType => "int"
    case other => throw new IllegalArgumentException(
      "Iceberg export supports int/long/string/date partition columns; " +
        s"got $other")
  }

  /** The `col=value` partition values of one data file, parsed from its
    * path segments under the snapshot dir. `None` = the Hive null
    * partition. Every partition column must appear — a partitioned
    * writer always lays out every level.
    */
  private def partitionValuesOf(filePath: String, snapDir: String,
                                partCols: Seq[String]): Seq[Option[String]] = {
    // parse from the FULL path's directory segments (innermost match
    // wins): a snapshot-file entry may itself be a `col=value` subdir
    // (partition-scoped overwrite keeps untouched partitions by
    // reference), so the value segment can sit AT or ABOVE snapDir,
    // not only under it
    val segs = filePath.split("/").dropRight(1).toSeq
    partCols.map { c =>
      val pre = c + "="
      val seg = segs.reverse.find(_.startsWith(pre)).getOrElse(
        throw new IllegalStateException(
          s"partition segment $c=... missing in $filePath"))
      val raw = PartitionPaths.unescape(seg.substring(pre.length))
      if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw)
    }
  }

  /** Directory-name partition string → the typed Avro value the
    * manifest stores (must round-trip exactly what the data dir says).
    */
  private def typedPartValue(raw: String, dt: DataType): AnyRef = dt match {
    case IntegerType | ShortType | ByteType => Integer.valueOf(raw.toInt)
    case LongType => java.lang.Long.valueOf(raw.toLong)
    case StringType => raw
    case DateType =>
      Integer.valueOf(java.time.LocalDate.parse(raw).toEpochDay.toInt)
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }

  /** Spark type → Iceberg schema-JSON type string (primitives) or
    * nested object. Field-ids are assigned depth-first starting from
    * `nextId` — the Iceberg rule that every field, nested included,
    * owns a distinct id.
    */
  private def icebergType(dt: DataType, nextId: () => Int): Any = dt match {
    case BooleanType => "boolean"
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case _: TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case a: ArrayType =>
      Map("type" -> "list", "element-id" -> nextId(),
        "element" -> icebergType(a.elementType, nextId),
        "element-required" -> !a.containsNull)
    case m: MapType =>
      Map("type" -> "map", "key-id" -> nextId(), "value-id" -> nextId(),
        "key" -> icebergType(m.keyType, nextId),
        "value" -> icebergType(m.valueType, nextId),
        "value-required" -> !m.valueContainsNull)
    case s: StructType =>
      Map("type" -> "struct", "fields" -> s.fields.map { f =>
        Map("id" -> nextId(), "name" -> f.name, "required" -> !f.nullable,
          "type" -> icebergType(f.dataType, nextId))
      }.toSeq)
    case other => throw new IllegalArgumentException(
      s"no Iceberg mapping for Spark type $other")
  }

  /** The spec's `schema.name-mapping.default` document: the exported
    * parquet files carry NO Iceberg field-ids (they are graft's own
    * data files, adopted add_files-style), so a REAL Iceberg reader
    * (Spark+Iceberg, Trino) needs this mapping to resolve columns by
    * name — without it, id-based projection over id-less files reads
    * nulls. Derived by WALKING the already-built schema object from
    * [[icebergSchema]] (which carries every assigned id next to its
    * name), so the mapping cannot drift from the schema no matter how
    * the id-assignment order evolves — there is no second id walk to
    * keep in lockstep.
    */
  private def nameMappingOf(schemaObj: Map[String, Any]): Seq[Map[String, Any]] = {
    def ofType(t: Any): Option[Seq[Map[String, Any]]] = t match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        mm("type") match {
          case "list" => Some(Seq(
            Map("field-id" -> mm("element-id"), "names" -> Seq("element")) ++
              ofType(mm("element")).map("fields" -> _)))
          case "map" => Some(Seq(
            Map("field-id" -> mm("key-id"), "names" -> Seq("key")) ++
              ofType(mm("key")).map("fields" -> _),
            Map("field-id" -> mm("value-id"), "names" -> Seq("value")) ++
              ofType(mm("value")).map("fields" -> _)))
          case "struct" => Some(ofFields(
            mm("fields").asInstanceOf[Seq[Map[String, Any]]]))
          case _ => None
        }
      case _ => None // primitive type string
    }
    def ofFields(fields: Seq[Map[String, Any]]): Seq[Map[String, Any]] =
      fields.map { f =>
        Map("field-id" -> f("id"), "names" -> Seq(f("name"))) ++
          ofType(f("type")).map("fields" -> _)
      }
    ofFields(schemaObj("fields").asInstanceOf[Seq[Map[String, Any]]])
  }

  /** (schema object for metadata.json, last assigned column id). */
  private def icebergSchema(st: StructType,
                            schemaId: Int = 0): (Map[String, Any], Int) = {
    var id = 0
    val nextId = () => { id += 1; id }
    val fields = st.fields.map { f =>
      Map("id" -> nextId(), "name" -> f.name, "required" -> !f.nullable,
        "type" -> icebergType(f.dataType, nextId))
    }.toSeq
    (Map("type" -> "struct", "schema-id" -> schemaId,
      "fields" -> fields), id)
  }

  /** Minimal dependency-free JSON render (strings, numbers, booleans,
    * maps, seqs) — metadata.json is small and flat enough that pulling
    * a serializer dependency in for it is not worth the coupling.
    */
  private def toJson(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < 0x20 => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Double => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => toJson(k.toString) + ":" + toJson(x) }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(toJson).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"unrenderable JSON value: $other (${other.getClass})")
  }

  /** Iceberg's single-value serialization of one canonical sidecar
    * bound ([[FileStats.ColStat]]): little-endian at the parquet
    * physical width for int/long/float/double (a date is its epoch day
    * as an int), a decimal as its unscaled value in the fewest
    * big-endian two's-complement bytes, a string as its UTF-8 bytes.
    * None for the domains not bounded here (timestamps, untagged
    * columns) — omission is spec-legal, the counts still export.
    */
  private def encodeBound(s: FileStats.ColStat, v: String): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    (s.tag, s.phys) match {
      case (t, _) if t.startsWith("decimal:") =>
        Some(java.math.BigInteger.valueOf(v.toLong).toByteArray)
      case ("long" | "date", "INT32") => Some(le(4).putInt(v.toInt).array())
      case ("long", "INT64") => Some(le(8).putLong(v.toLong).array())
      case ("double", "FLOAT") => Some(le(4).putFloat(v.toDouble.toFloat).array())
      case ("double", "DOUBLE") => Some(le(8).putDouble(v.toDouble).array())
      case ("string", _) => Some(v.getBytes(StandardCharsets.UTF_8))
      case _ => None
    }
  }

  /** Write an Avro object file through the path's [[TableFs]] (one
    * buffered PUT on an object store); returns the byte length — the
    * `manifest_length` the manifest-list entry records.
    */
  private[graft] def writeAvro(path: String, schema: Schema,
                        meta: Map[String, String],
                        records: Seq[GenericRecord]): Long = {
    val buf = new java.io.ByteArrayOutputStream()
    val writer =
      new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => writer.setMeta(k, v) }
    writer.create(schema, buf)
    try records.foreach(writer.append)
    finally writer.close()
    val bytes = buf.toByteArray
    TableFs.forPath(path).writeBytes(path, bytes)
    bytes.length.toLong
  }

  private[graft] def readAvro(path: String): (Seq[GenericRecord], Map[String, String]) = {
    val bytes = TableFs.forPath(path).readBytes(path).getOrElse(
      throw new java.io.FileNotFoundException(path))
    val reader = new DataFileReader[GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(bytes),
      new GenericDatumReader[GenericRecord]())
    try {
      val metas = reader.getMetaKeys.asScala.map { k =>
        k -> new String(reader.getMeta(k), StandardCharsets.UTF_8)
      }.toMap
      (reader.iterator().asScala.toList, metas)
    } finally reader.close()
  }

  /** Attach Puffin deletion vectors to an already-exported table — the
    * artifacts a FORMAT-VERSION-3 writer (Iceberg 1.8+) leaves where a
    * v2 writer wrote position-delete parquet files: one Puffin file
    * holding a `deletion-vector-v1` blob per referenced data file, a
    * delete manifest whose entries address each blob via
    * referenced_data_file (field 143) / content_offset (144) /
    * content_size_in_bytes (145), the manifest spliced into the HEAD
    * snapshot's manifest list, and the table metadata bumped to
    * format-version 3. Used to build bona-fide v3 MoR fixtures that
    * [[readTable]] and the Python foreign reader must resolve — graft's
    * own exporter stays v2 (equality deletes).
    *
    * `dvs` = (referenced data file path, deleted row positions);
    * `sequenceNumber` = the delete's data sequence (applies to data
    * files at-or-below it, the position-delete `>=` rule). Returns the
    * Puffin path.
    */
  def attachDeletionVectors(tablePath: String,
                            dvs: Seq[(String, Array[Long])],
                            sequenceNumber: Long): String = {
    import org.apache.avro.generic.GenericData
    import org.json4s.jackson.JsonMethods
    val mdir = s"$tablePath/metadata"
    val fs = TableFs.forPath(mdir)
    val version = currentVersion(mdir).getOrElse(
      throw new IllegalStateException(
        s"$tablePath has no Iceberg export to attach deletion vectors to"))
    val mpath = s"$mdir/v${"%05d".format(version)}.metadata.json"
    val mdText = fs.readString(mpath).getOrElse(
      throw new java.io.FileNotFoundException(mpath))
    val md = JsonMethods.parse(mdText)
    val currentId = jLong(jsonAt(md, "current-snapshot-id"))
    val snap = jsonAt(md, "snapshots").asInstanceOf[org.json4s.JArray]
      .arr.find(s => jLong(jsonAt(s, "snapshot-id")) == currentId).get
    val listPath = jsonAt(snap, "manifest-list") match {
      case org.json4s.JString(p) => p
      case other => throw new IllegalStateException(s"bad manifest-list: $other")
    }

    val dvPath = s"$mdir/dv-${"%06d".format(currentId)}.puffin"
    val (refs, dvSize) = Puffin.writeDeletionVectorFile(dvPath, dvs,
      snapshotId = currentId, sequenceNumber = sequenceNumber)

    val entrySchema = manifestEntrySchema(Nil, v3DeleteFields = true)
    val entries = refs.zip(dvs).map { case ((ref, off, len), (_, ps)) =>
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", currentId)
      e.put("sequence_number", sequenceNumber)
      e.put("file_sequence_number", sequenceNumber)
      val df0 = new GenericData.Record(
        entrySchema.getField("data_file").schema())
      df0.put("content", 1) // POSITION_DELETES, carried as a DV
      df0.put("file_path", dvPath)
      df0.put("file_format", "PUFFIN")
      df0.put("partition", new GenericData.Record(
        df0.getSchema.getField("partition").schema()))
      df0.put("record_count", ps.length.toLong)
      df0.put("file_size_in_bytes", dvSize)
      df0.put("referenced_data_file", ref)
      df0.put("content_offset", off)
      df0.put("content_size_in_bytes", len)
      e.put("data_file", df0)
      e
    }
    val delPath = s"$mdir/manifest-dv-${"%06d".format(currentId)}.avro"
    val delLen = writeAvro(delPath, entrySchema, Map(
      "partition-spec" -> "[]", "partition-spec-id" -> "0",
      "format-version" -> "3", "content" -> "deletes"), entries)

    val (mfs, listMeta) = readAvro(listPath)
    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", delPath)
    mf.put("manifest_length", delLen)
    mf.put("partition_spec_id", 0)
    mf.put("content", 1)
    mf.put("sequence_number", sequenceNumber)
    mf.put("min_sequence_number", sequenceNumber)
    mf.put("added_snapshot_id", currentId)
    mf.put("added_files_count", entries.size)
    mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", dvs.map(_._2.length.toLong).sum)
    mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", 0L)
    writeAvro(listPath, ManifestFileSchema,
      listMeta.filterNot(_._1.startsWith("avro.")), mfs :+ mf)

    // the table now carries v3-only artifacts — say so in the metadata
    fs.writeString(mpath,
      mdText.replace("\"format-version\":2", "\"format-version\":3"))
    dvPath
  }

  // ---- incremental-export sidecar ----
  //
  // export-state.json under metadata/ is the export watermark: last
  // exported head id, the retained snapshot ids it saw, and each
  // snapshot's raw schema DDL (files are immutable, so a snapshot's
  // physical schema never changes — caching it skips the per-snapshot
  // parquet schema-inference job). It is a CACHE, not a source of
  // truth: losing or corrupting it just makes the next export
  // recompute. Per-file stats are not cached here: each data dir's
  // `_graft_stats` sidecar is their one record.

  private case class ExportState(head: Long, retained: Seq[Long],
                                 schemas: Map[Long, String],
                                 formatVersion: Int = 2)

  private def loadExportState(mdir: String): Option[ExportState] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val body = TableFs.forPath(mdir).readString(s"$mdir/export-state.json")
      .getOrElse(return None)
    try {
      val md = JsonMethods.parse(body)
      val retained = jsonAt(md, "retained").asInstanceOf[JArray].arr.map(jLong)
      val schemas = jsonAt(md, "schemas").asInstanceOf[JObject].obj.map {
        case (k, JString(ddl)) => k.toLong -> ddl
        case (k, other) => throw new IllegalStateException(s"$k -> $other")
      }.toMap
      // format-version absent in pre-v3 sidecars → 2 (the only version
      // that ever wrote them)
      val fv = scala.util.Try(
        jLong(jsonAt(md, "format-version")).toInt).getOrElse(2)
      Some(ExportState(jLong(jsonAt(md, "head")), retained, schemas, fv))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def saveExportState(mdir: String, st: ExportState): Unit =
    TableFs.forPath(mdir).writeString(s"$mdir/export-state.json", toJson(Map(
      "head" -> st.head,
      "retained" -> st.retained,
      "schemas" -> st.schemas.map { case (k, v) => k.toString -> v },
      "format-version" -> st.formatVersion
    )))

  /** Export the table's retained snapshot history as an Iceberg v2
    * table rooted at the graft table path. Idempotent per call; each
    * call writes a new metadata version (the Iceberg pattern — metadata
    * files are immutable, `version-hint.text` names the current one).
    * Returns the metadata.json path.
    */
  /** [[export]] + catalog-arbitrated publication: stage the new
    * metadata document, then swap the catalog pointer through the REST
    * commit protocol — asserting the state this committer exported
    * FROM (`assert-create` for a first publication, `assert-ref-
    * snapshot-id main=<current>` afterwards), so a concurrent
    * committer's swap surfaces as the spec's 409
    * [[IcebergRestClient.CommitFailedException]] instead of a lost
    * update. This is the reference tiering job's relationship to its
    * `iceberg-rest` service: the catalog is the commit AUTHORITY, the
    * job merely proposes (fluss-iceberg/docker-compose.yml:126-137).
    * Returns the committed metadata location.
    */
  def exportAndPublish(table: TieredTable, catalogUrl: String,
                       ns: String, name: String): String = {
    val expected = IcebergRestClient.tableState(catalogUrl, ns, name)
      .flatMap(_._2)
    val mloc = export(table)
    IcebergRestClient.commitTable(catalogUrl, ns, name, mloc,
      expectedSnapshotId = expected)
    mloc
  }

  def export(table: TieredTable): String = export(table, formatVersion = 2)

  /** Export under an explicit Iceberg format version. Version 2 (the
    * default) writes merge-on-read deltas as EQUALITY-DELETE parquet
    * files — the Flink-Iceberg tiering-sink shape. Version 3 writes
    * the SAME resolution as puffin-backed DELETION VECTORS: per
    * snapshot, each data file whose rows are superseded by a
    * later-sequence version of the same key gets one
    * `deletion-vector-v1` blob holding those row positions, referenced
    * from the delete manifest via fields 143-145 — the artifacts an
    * Iceberg 1.8+ writer leaves, and the shape readers that treat v2
    * position-delete files as legacy expect. Positions are computed
    * and serialized IN EXECUTORS (one puffin file per shuffle
    * partition); only bounded per-file (path, offset, size) refs reach
    * the driver.
    */
  def export(table: TieredTable, formatVersion: Int): String = {
    require(formatVersion == 2 || formatVersion == 3,
      s"unsupported Iceberg format version $formatVersion (2 or 3)")
    // Bucket-layout tables export as an Iceberg `bucket[N]` partition
    // spec — the layout's `__bucket = iceberg_bucket(N, pk)` stamping
    // (TieredTable.bucketStamp) IS the spec transform, so data dirs
    // export by reference and an external engine's bucket pruning is
    // correct. Requires the single-column-PK Iceberg kernel: a
    // multi-column combined bucket has no spec transform, and a
    // pre-kernel-tag table's Spark-hash buckets would mislead external
    // pruning (worse than refusing).
    if (table.bucketBy > 0) {
      require(table.pk.size == 1,
        s"${table.tablePath}: Iceberg's bucket[N] transform is " +
          "single-source — a multi-column combined bucket has no spec " +
          "partition transform; rewrite the resolved rows into an " +
          "unbucketed table (INSERT INTO … SELECT) and export that")
      require(table.bucketKernel() == TieredTable.BucketKernelIceberg,
        s"${table.tablePath} was bucketed with the Spark-hash kernel " +
          "(meta/BUCKET_KERNEL) — its bucket values are NOT Iceberg's " +
          "bucket[N], and exporting them as that spec would make " +
          "external engines prune to the WRONG buckets; rewrite into a " +
          "fresh bucketed table (new tables with a single-column PK " +
          "use the Iceberg kernel automatically)")
    }
    // a spec-evolved table must be opened with its CURRENT layout —
    // a stale handle would mis-parse the newest vintage's hive dirs
    // (checked before any read: the stale read itself fails with an
    // opaque conflicting-directory error)
    table.partitionEvolutions.lastOption.foreach { case (_, _, to) =>
      require(table.partitionBy == to,
        s"${table.tablePath} evolved its partition spec to " +
          s"(${to.mkString(", ")}) but this handle was opened with " +
          s"(${table.partitionBy.mkString(", ")}) — open through the " +
          "catalog (or pass the current partitionBy) so the export " +
          "parses the newest vintage's layout")
    }
    val head = table.currentSnapshot.getOrElse(
      throw new IllegalStateException(
        s"no snapshot to export in ${table.tablePath}"))
    val mdir = s"${table.tablePath}/metadata"
    val metaFs = TableFs.forPath(mdir)
    metaFs.mkdirs(mdir)

    // merge-on-read deltas resolve via equality-delete files below.
    // Partitioned merge-on-read writes PARTITION-SCOPED delete files
    // (v2 forbids global equality deletes under a partitioned spec),
    // which is only exact when a key can never change partitions —
    // hence partition columns ⊆ PK, the Flink-Iceberg upsert-sink rule.
    val isMor = table.mergeOnRead && table.pk.nonEmpty
    // the bucket layout is exempt: __bucket is a pure function of the
    // PK, so a key can never change buckets and bucket-scoped deletes
    // are exact — the same argument as partition-cols ⊆ PK below
    require(!isMor || table.partitionBy.isEmpty || table.bucketBy > 0 ||
        table.partitionBy.forall(table.pk.contains),
      "Iceberg export of a PARTITIONED merge-on-read table requires " +
        "partition columns to be part of the primary key — a key that " +
        "changed partitions would escape its partition-scoped equality " +
        "deletes; compact() to a resolved layout first, or use " +
        "copy-on-write")
    val snaps = (1L to head.id).flatMap(table.snapshot(_))
    require(snaps.exists(_.id == head.id), "head manifest must be readable")

    // Idempotence fast-path: exporting the same (snapshot history,
    // schema) twice is a no-op returning the current metadata version —
    // what makes per-commit auto-export and per-query export calls
    // cheap. The fingerprint covers the head id, the CURRENT read
    // schema (so a rename without a new commit still re-exports) and
    // the RETAINED snapshot set (so a vacuum/expire without a new
    // commit re-exports and garbage-collects expired artifacts).
    val fingerprint = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update((s"${head.id}:${table.readCold().schema.toDDL}:" +
        snaps.map(_.id).mkString(",") +
        // a spec evolution without a new commit must still re-export
        // (the spec list and per-manifest spec-ids change)
        ":" + table.partitionEvolutions.map { case (b, f, t) =>
          s"$b|${f.mkString(",")}|${t.mkString(",")}" }.mkString(";") +
        // v3 exports fingerprint differently so switching format
        // version forces a re-export; v2 keeps its historic digests
        (if (formatVersion == 3) ":fv3" else ""))
        .getBytes(StandardCharsets.UTF_8))
      md.digest().map("%02x".format(_)).mkString
    }
    currentVersion(mdir).foreach { v =>
      val prior = s"$mdir/v${"%05d".format(v)}.metadata.json"
      if (metaFs.readString(prior).exists(_.contains(
            s""""graft.export-fingerprint":"$fingerprint"""")))
        return prior
    }

    // ---- incremental-export state (sidecar docs above) ----
    // Manifest/list reuse is sound only when the already-exported
    // PREFIX of history is untouched: the currently retained ids
    // at-or-below the previous head equal exactly the ids that export
    // saw. Then every prefix dir keeps its addedBy (new snapshot ids
    // are larger and cannot lower a min), every prefix snapshot keeps
    // its schema id (distinct-schema order is first-occurrence), so
    // the bytes this export would write for a prefix snapshot equal
    // the bytes already on disk. Expiry since the last export breaks
    // the condition → full manifest rewrite (rare, and still footer-
    // free: the entries come from the data dirs' sidecars).
    val state = loadExportState(mdir)
    val prevHead = state.map(_.head).getOrElse(0L)
    // reuse also requires the SAME format version: a v2-exported
    // prefix's delete manifests are equality parquet, not DVs
    val prefixStable = state.exists(st =>
      st.formatVersion == formatVersion &&
        snaps.map(_.id).filter(_ <= st.head).toSet == st.retained.toSet)
    // A RENAME whose old name still lives in head data files cannot be
    // exported: our data files carry no Iceberg field-ids, so external
    // readers match columns BY NAME — un-converged files would surface
    // NULL under the renamed column. compact() reads through the
    // mapping and rewrites the head under current names; refuse until
    // then (a loud refusal beats silently-null interop).
    val renamedAway = table.columnMapping.collect {
      case ("rename", old, _) => old
    }.toSet
    if (renamedAway.nonEmpty) {
      val session = table.readCold().sparkSession
      val physical = TieredSqlTable.fileSchema(session, head.files,
        TieredSqlTable.layoutCols(table)).fieldNames.toSet
      val stale = renamedAway.intersect(physical)
      require(stale.isEmpty,
        s"cannot export ${table.tablePath} as Iceberg: renamed-away " +
          s"column(s) ${stale.mkString(", ")} still present in head " +
          "data files — run compact() to converge the layout first " +
          "(name-based external readers would read NULLs)")
    }

    // file dir → snapshot id that ADDED it (first snapshot listing it)
    val addedBy: Map[String, Long] =
      snaps.flatMap(s => s.files.map(_ -> s.id))
        .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).min }

    // Partition-spec evolution exports as MULTIPLE specs — Iceberg's
    // own answer: every spec the table ever wrote under is listed in
    // `partition-specs`, each manifest carries the `partition_spec_id`
    // of the vintage its dirs were written under, and its partition
    // struct holds that spec's (possibly empty) fields. External
    // engines prune each file by ITS spec's values — no nulls, no
    // silently-pruned old vintage, no compaction required first.
    // specTimeline: (specId, cols, last snapshot id the spec wrote).
    val evolutions = table.partitionEvolutions
    val specTimeline: Seq[(Int, Seq[String], Long)] =
      if (evolutions.isEmpty) Seq((0, table.partitionBy, Long.MaxValue))
      else {
        val colsSeq = evolutions.map(_._2) :+ evolutions.last._3
        colsSeq.zipWithIndex.map { case (cols, i) =>
          (i, cols,
            if (i < evolutions.size) evolutions(i)._1 else Long.MaxValue)
        }
      }
    val defaultSpecId = specTimeline.last._1
    // A dir's spec vintage must survive vacuum(): addedBy is the min
    // snapshot id among RETAINED manifests, so expiring a pre-evolution
    // snapshot while its dir stays live by reference would inflate
    // addedBy past the evolution boundary and mis-assign the newest
    // spec (then die in partitionValuesOf). The dir's own top-level
    // `snap-%06d` name encodes the snapshot that WROTE it — exact,
    // IO-free, vacuum-proof (mirrors TieredTable's overwrite guard).
    val dataPrefix = s"${table.tablePath}/data/"
    def nameVintage(d: String): Long = {
      val q = d.stripSuffix("/")
      val top =
        if (q.startsWith(dataPrefix))
          q.stripPrefix(dataPrefix).split('/').head
        else q.split('/').last
      if (top.startsWith("snap-")) {
        val digits = top.stripPrefix("snap-").takeWhile(_.isDigit)
        if (digits.nonEmpty) digits.toLong else Long.MaxValue
      } else Long.MaxValue
    }
    // A dir's DATA SEQUENCE must survive vacuum() the same way its
    // spec vintage does: addedBy is the min RETAINED snapshot listing
    // the dir, so once retention drops the writing snapshot every
    // still-referenced merge-on-read delta collapses to the head's
    // sequence — and the export then writes NO deletes (the engine's
    // own read is immune via the physical __seq column, but an
    // EXTERNAL reader of the exported chain resurrects every
    // superseded row). The dir name's snap-%06d component is the
    // writing snapshot — exact, IO-free, vacuum-proof.
    def seqOfDir(d: String): Long = math.min(addedBy(d), nameVintage(d))
    def specOfDir(d: String): Int =
      specTimeline.find(seqOfDir(d) <= _._3).get._1

    // Per-snapshot schemas are the RAW physical file schemas, not the
    // column-mapped view: our data files carry no Iceberg field-ids, so
    // an external reader matches BY NAME — a historic snapshot must be
    // described by the names its files actually contain (Iceberg's
    // per-snapshot schema-id exists for exactly this). After a rename
    // converges (compact), the head's raw schema equals the mapped one.
    // The file schema comes from the catalog scan's memoized probe:
    // footers merged, layout columns discovered from each snapshot
    // root, no column mapping.
    val session = table.readCold().sparkSession
    val layout = TieredSqlTable.layoutCols(table)
    // the internal merge-on-read version column never exports: external
    // readers project by name against the exported schema, and the
    // version information lives in manifest sequence numbers instead
    val schemaDdlCache: Map[Long, String] =
      state.map(_.schemas).getOrElse(Map.empty)
    def stripSeq(st: StructType): StructType = {
      // internal columns never export: __seq (merge-on-read version)
      // and __bucket (the bucket-layout dir column — it becomes the
      // bucket[N] PARTITION FIELD of the spec, not a schema column)
      val internal: Set[String] =
        (if (isMor) Set(table.SeqCol) else Set.empty[String]) ++
          (if (table.bucketBy > 0) Set(TieredTable.BucketCol)
           else Set.empty[String])
      if (internal.isEmpty) st
      else StructType(st.fields.filterNot(f => internal(f.name)))
    }
    // parquet-style schema merge for append-lineage snapshots: common
    // fields must agree on type (else None → caller falls back to a
    // full mergeSchema read); new fields append, nullable (old files
    // lack them)
    def mergeStruct(base: StructType, extra: StructType): Option[StructType] = {
      val byName = base.fields.map(f => f.name -> f).toMap
      if (extra.fields.exists(f =>
          byName.get(f.name).exists(_.dataType != f.dataType))) None
      else Some(StructType(base.fields ++
        extra.fields.filterNot(f => byName.contains(f.name))
          .map(_.copy(nullable = true))))
    }
    // Snapshot manifests and data files are immutable, so a cached DDL
    // is always valid — only never-exported snapshots pay a schema
    // read, and an APPEND-LINEAGE snapshot (files ⊇ its predecessor's)
    // infers over its NEW dirs only, merged onto the predecessor's
    // schema: per-commit auto-export never re-reads old footers, not
    // even through Spark's mergeSchema inference.
    val rawSchemaOf: scala.collection.mutable.Map[Long, StructType] =
      scala.collection.mutable.Map.empty
    snaps.foldLeft(Option.empty[TieredTable#Snapshot]) { (prev, s) =>
      val st = schemaDdlCache.get(s.id).map(StructType.fromDDL)
        .orElse(prev
          .filter(p => p.files.toSet.subsetOf(s.files.toSet))
          .flatMap { p =>
            val newDirs = s.files.filterNot(p.files.toSet)
            if (newDirs.isEmpty) Some(rawSchemaOf(p.id))
            else mergeStruct(rawSchemaOf(p.id),
              stripSeq(TieredSqlTable.fileSchema(session, newDirs, layout)))
          })
        .getOrElse(stripSeq(TieredSqlTable.fileSchema(session, s.files,
          layout)))
      rawSchemaOf(s.id) = st
      Some(s)
    }
    val distinctSchemas: Seq[StructType] =
      snaps.map(s => rawSchemaOf(s.id))
        .foldLeft(Vector.empty[StructType]) { (acc, st) =>
          if (acc.exists(_.toDDL == st.toDDL)) acc else acc :+ st
        }
    val schemaIdOf: Map[Long, Int] = snaps.map { s =>
      s.id -> distinctSchemas.indexWhere(_.toDDL == rawSchemaOf(s.id).toDDL)
    }.toMap

    // top-level column name → iceberg field id (the icebergSchema
    // assignment order: depth-first, so top-level ids are stable per
    // snapshot schema)
    def fieldIdsOf(schema: StructType): Map[String, Int] = {
      var id = 0
      schema.fields.map { f =>
        id += 1
        val topId = id
        // advance past nested ids the field consumed
        val nextId = () => { id += 1; id }
        icebergType(f.dataType, nextId)
        f.name -> topId
      }.toMap
    }

    // Identity partition spec: partition columns are discovered (typed)
    // from the hive layout and appear in each snapshot's raw schema, so
    // source-ids resolve against the head schema; partition field-ids
    // take the spec's 1000+ range. The manifest partition struct stores
    // the typed `col=value` directory values — exactly Iceberg's
    // `add_files` migration semantics (data pages lack the column; the
    // manifest supplies it, and [[readTable]] reconstructs it).
    val headSchema = rawSchemaOf(head.id)
    val headFieldIds = fieldIdsOf(headSchema)
    // The bucket layout exports as ONE spec field with the bucket[N]
    // transform sourced from the PK column (partition struct value =
    // the bucket id each `__bucket=K` dir carries); identity hive
    // partitions export one identity field per column. Either way
    // `partTypes` names the manifest partition-struct fields and
    // `table.partitionBy` names the DIRECTORY columns the values are
    // parsed from — same order, zipped below.
    val bucketed = table.bucketBy > 0
    // Per-spec shapes. Partition field-ids are assigned ONCE,
    // table-wide, in first-appearance order across the spec timeline,
    // and never reused — the Iceberg rule that keeps ids stable under
    // both ADD and DROP PARTITION FIELD (a dropped field's id is
    // simply absent from newer specs; a re-added name keeps its
    // original id). add/drop refuse PK tables, so bucketed/MoR tables
    // are always single-spec.
    val partFieldIds: Map[String, Int] =
      specTimeline.flatMap(_._2).distinct.zipWithIndex
        .map { case (c, i) => c -> (1000 + i) }.toMap
    def partTypesOf(cols: Seq[String]): Seq[(String, DataType)] =
      if (bucketed) Seq(s"${table.pk.head}_bucket" -> IntegerType)
      else cols.map { c =>
        c -> headSchema.find(_.name == c).getOrElse(throw new IllegalStateException(
          s"partition column $c absent from the discovered head schema")).dataType
      }
    def specFieldsOf(cols: Seq[String]): Seq[Map[String, Any]] =
      if (bucketed) Seq(Map(
        "name" -> s"${table.pk.head}_bucket",
        "transform" -> s"bucket[${table.bucketBy}]",
        "source-id" -> headFieldIds(table.pk.head), "field-id" -> 1000))
      else cols.map { c =>
        Map("name" -> c, "transform" -> "identity",
          "source-id" -> headFieldIds(c),
          "field-id" -> partFieldIds(c))
      }
    val entrySchemaOf: Map[Int, Schema] = specTimeline.map { case (id, cols, _) =>
      id -> manifestEntrySchema(
        partTypesOf(cols).map { case (n, dt) => n -> avroPartType(dt) })
    }.toMap
    // the DEFAULT (newest) spec's shapes — the only ones the
    // single-spec paths (MoR deletes, bucketed layout) ever see
    val partTypes: Seq[(String, DataType)] =
      partTypesOf(specTimeline.last._2)
    val entrySchema = entrySchemaOf(defaultSpecId)
    val specFields = specFieldsOf(specTimeline.last._2)

    // Every live merge-on-read dir must be PK-UNIQUE to be representable:
    // within one sequence number Iceberg applies no self-delete, so
    // duplicate keys in one dir would BOTH survive an external read
    // while graft's reader resolves one. Checked once per dir ever —
    // dirs are immutable — with results cached in a marker file, so
    // per-commit auto-export pays O(new delta), not O(table).
    if (isMor) {
      import org.apache.spark.sql.functions.col
      val markerFile = s"$mdir/pk-checked-dirs.txt"
      val checked: Set[String] =
        metaFs.readString(markerFile)
          .map(_.linesIterator.filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty)
      val toCheck = snaps.flatMap(_.files).distinct.filterNot(checked)
      if (toCheck.nonEmpty) {
        // ONE job for every unchecked dir (was count() + distinct
        // count() PER DIR — 2n jobs): tag each dir's keys, group by
        // (dir, key), and surface any group with a duplicate. The
        // grouped probe also short-circuits at the first offender.
        import org.apache.spark.sql.functions.lit
        def dupDirsOneJob(): Seq[String] = toCheck.map { dir =>
          TieredSqlTable.coldRead(session, table, Seq(dir))
            .select((lit(dir).as("__eq_dir") +: table.pk.map(col)): _*)
        }.reduce(_.unionByName(_))
          .groupBy((org.apache.spark.sql.functions.col("__eq_dir") +:
            table.pk.map(col)): _*)
          .count()
          .filter(org.apache.spark.sql.functions.col("count") > 1L)
          .select("__eq_dir").distinct().limit(3)
          .collect().map(_.getString(0)).toSeq
        // dirs whose PK column TYPES diverged (mid-history widen)
        // cannot union — fall back to the per-dir probe there
        def dupDirsPerDir(): Seq[String] = toCheck.filter { dir =>
          val pkDf = TieredSqlTable.coldRead(session, table, Seq(dir))
            .select(table.pk.map(col): _*)
          pkDf.count() != pkDf.distinct().count()
        }
        val offenders =
          try dupDirsOneJob()
          catch { case _: org.apache.spark.sql.AnalysisException =>
            dupDirsPerDir() }
        require(offenders.isEmpty,
          s"cannot export ${table.tablePath} as Iceberg: dir(s) " +
            s"${offenders.mkString(", ")} carry duplicate primary keys " +
            "— not representable as equality deletes (same-sequence " +
            "rows never delete each other); compact() first or dedup " +
            "the batch with versionOrder")
      }
      if (toCheck.nonEmpty)
        metaFs.writeString(markerFile,
          (checked ++ toCheck).toSeq.sorted.mkString("\n"))
    }

    // Equality-delete files (merge-on-read): for each delta dir that
    // supersedes an older live dir in at least one exported snapshot,
    // one DELETE DIRECTORY holding the dir's distinct PK tuples at the
    // dir's sequence number. The key set is written by however many
    // tasks produced it — no single-task funnel (a 100×-scale upsert
    // wave's distinct-PK set through one writer is a straggler/OOM
    // shape); the v2 spec allows any number of delete files and the
    // manifest lists them all. When the table is partitioned the keys
    // are written hive-partitioned, making each delete file
    // PARTITION-SCOPED per the v2 spec (partition cols ⊆ PK, enforced
    // above, so a key never changes partitions and scoped deletes are
    // exact). Written ONCE per sequence (dirs are immutable,
    // re-export reuses); the tmp-write + atomic dir rename publishes
    // all of a sequence's delete files or none.
    val eqDelFilesOf: Map[String, Seq[(String, Long, Long, Seq[Option[String]])]] =
      if (!isMor || formatVersion == 3) Map.empty else {
        val superseding: Seq[String] = snaps.flatMap { s =>
          val minSeq = s.files.map(seqOfDir).min
          s.files.filter(d => seqOfDir(d) > minSeq)
        }.distinct
        superseding.sortBy(seqOfDir).map { dir =>
          val seq = seqOfDir(dir)
          val out = s"$mdir/eqdel-${"%06d".format(seq)}"
          // publish protocol: local = tmp write + atomic dir rename;
          // remote = direct write + a _DONE marker object written last
          // (a crashed write leaves a markerless, invisible prefix)
          val done =
            if (table.remote) metaFs.readString(s"$out/_DONE").isDefined
            else metaFs.exists(out)
          if (!done) {
            import org.apache.spark.sql.functions.col
            // the partition DIR columns ride along for scoping: for an
            // identity layout they are ⊆ PK (already selected); the
            // bucket layout's __bucket is discovered from the hive
            // dirs and is PK-functional, so distinct() stays a
            // distinct-keys set
            val keyCols = table.pk ++
              table.partitionBy.filterNot(table.pk.contains)
            val keys = TieredSqlTable.coldRead(session, table, Seq(dir))
              .select(keyCols.map(col): _*).distinct()
            // scope via SHADOW partition columns (`__p_<col>=value/`
            // dirs): the spec requires delete-file rows to physically
            // contain every equality column, and a plain partitionBy
            // would strip them from the pages. The dir's stats sidecar
            // is written before it publishes, as the write seam does.
            def write(target: String): Unit = {
              val w =
                if (table.partitionBy.isEmpty) keys.write
                else table.partitionBy
                  .foldLeft(keys)((d, c) => d.withColumn(s"__p_$c", col(c)))
                  .write.partitionBy(table.partitionBy.map("__p_" + _): _*)
              w.mode("overwrite").parquet(target)
              FileStats.writeSidecar(target)
            }
            if (table.remote) {
              write(out)
              metaFs.writeString(s"$out/_DONE", "")
            } else {
              val tmp = s"$mdir/eqdel-tmp-${UUID.randomUUID()}"
              write(tmp)
              metaFs.move(tmp, out)
            }
          }
          val shadowCols = table.partitionBy.map("__p_" + _)
          dir -> FileStats.exportEntries(Seq(out), shadowCols).flatten.map { e =>
            (e.path, e.rows, e.bytes, partitionValuesOf(e.path, out, shadowCols))
          }
        }.toMap
      }

    // Deletion vectors (format-version 3, merge-on-read): per snapshot,
    // the positions each data file loses to later-sequence versions of
    // the same key — exactly the rows the v2 equality deletes above
    // would erase, pre-resolved to (file, ordinal) so a v3 reader skips
    // the key join entirely. One Spark job per snapshot: union the
    // snapshot's dirs with their sequence numbers, keep rows whose key
    // has a LATER version (seq < max(seq) over the key — the strict-`>`
    // equality rule), then serialize one `deletion-vector-v1` blob per
    // file IN EXECUTORS (one puffin file per shuffle partition; the
    // positions never collect — a 100 TB table's DVs can carry billions
    // of them). Only bounded per-file refs return:
    // (dataFile, puffinPath, offset, blobSize, cardinality, puffinSize).
    // Cached in a dv-snap-XXXXXX.refs.json sidecar — snapshots are
    // immutable, so re-exports reuse the blobs and the refs.
    def dvRefsFor(sid: Long, dirs: Seq[String])
        : Seq[(String, String, Long, Long, Long, Long)] = {
      val sidecar = s"$mdir/dv-snap-${"%06d".format(sid)}.refs.json"
      metaFs.readString(sidecar).foreach { body =>
        try {
          import org.json4s._
          val md = org.json4s.jackson.JsonMethods.parse(body)
          return jsonAt(md, "refs").asInstanceOf[JArray].arr.map { r =>
            val a = r.asInstanceOf[JArray].arr
            (a(0).asInstanceOf[JString].s, a(1).asInstanceOf[JString].s,
              jLong(a(2)), jLong(a(3)), jLong(a(4)), jLong(a(5)))
          }
        } catch { case scala.util.control.NonFatal(_) => } // recompute
      }
      import org.apache.spark.sql.functions.{col, lit, max => smax}
      // referenced_data_file must be byte-equal to the data manifest's
      // file_path rendering (how external readers link them); the scan
      // yields the Hadoop-Path URI form — map back via the same
      // encoding, driver-side, bounded by file count
      val rawByUri: Map[String, String] = dirs.flatMap(FileStats.dataFiles).map { p =>
        new org.apache.hadoop.fs.Path(p).toUri.toString
          .replaceFirst("^file:/+", "/") -> p
      }.toMap
      val perDir = dirs.map { d =>
        session.read.parquet(d).select(
          table.pk.map(col) ++ Seq(
            col("_metadata.file_path").as("__dv_f"),
            col("_metadata.row_index").as("__dv_pos"),
            lit(seqOfDir(d)).as("__dv_seq")): _*)
      }
      val all = perDir.reduce(_.unionByName(_))
      val latest = all.groupBy(table.pk.map(col): _*)
        .agg(smax(col("__dv_seq")).as("__dv_max"))
      // null-safe key equality: groupBy treats NULL as a group, so a
      // row with a NULL PK value must still find its `latest` row — a
      // plain equi-join would drop it and the fv3 export would keep
      // rows the fv2 equality-delete path (null-safe <=> anti-join)
      // deletes
      val latestK = latest.select(
        table.pk.map(c => col(c).as(s"__dv_k_$c")) :+ col("__dv_max"): _*)
      val joinCond = table.pk.map(c => col(c) <=> col(s"__dv_k_$c"))
        .reduce(_ && _)
      val deleted = all.join(latestK, joinCond)
        .where(col("__dv_seq") < col("__dv_max"))
        .select(col("__dv_f"), col("__dv_pos"))
      import session.implicits._
      val mdirC = mdir
      val refs = deleted.as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (f, it) =>
          val raw = rawByUri.getOrElse(
            f.replaceFirst("^file:/+", "/"), f)
          (raw, it.map(_._2).toArray.sorted)
        }
        .mapPartitions { it =>
          val dvs = it.toArray
          if (dvs.isEmpty) Iterator.empty
          else {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val path = s"$mdirC/dv-snap-${"%06d".format(sid)}" +
              s"-p${"%04d".format(pid)}.puffin"
            val (rs, total) = Puffin.writeDeletionVectorFile(
              path, dvs.toSeq.map(d => (d._1, d._2)),
              snapshotId = sid, sequenceNumber = sid)
            rs.iterator.zip(dvs.iterator).map {
              case ((ref, off, len), (_, ps)) =>
                (ref, path, off, len, ps.length.toLong, total)
            }
          }
        }.collect().toSeq.sortBy(_._1)
      metaFs.writeString(sidecar, toJson(Map("refs" -> refs.map {
        case (a, b, c, d, e, f) => Seq(a, b, c, d, e, f) })))
      refs
    }

    // FOLD the per-snapshot DV builds into ONE job (optimization guide
    // §1.2 step 1 — the first export of an n-snapshot MoR table
    // otherwise runs n sequential jobs, snapshot k re-scanning all k
    // of its dirs: O(n²) dir scans total, measured +60 % on the v3
    // export at 100×). One pass reads every dir ONCE, derives each
    // row's NEXT version sequence with a per-key window, and a row is
    // DV-deleted at snapshot s exactly when that next version is
    // visible at s (next_seq ≤ max dir-seq of s) — the same strict-`>`
    // rule the per-snapshot jobs resolve with groupBy(max)+join. Each
    // (snapshot, file) group is serialized to puffin IN EXECUTORS with
    // the same sorted-position layout, and every pending snapshot's
    // refs sidecar is written, so the manifest loop below reads
    // sidecars exactly as before. Applies only when the pending
    // snapshots' dir lists form a seq-ordered PREFIX CHAIN (always
    // true between compactions); otherwise each snapshot computes
    // individually as before. Snapshots with a sidecar on disk are
    // never recomputed (re-exports stay single-read).
    if (formatVersion == 3 && isMor) {
      val pending = snaps.filter { s =>
        val minSeq = s.files.map(seqOfDir).minOption.getOrElse(s.id)
        s.files.exists(d => seqOfDir(d) > minSeq) &&
          metaFs.readString(
            s"$mdir/dv-snap-${"%06d".format(s.id)}.refs.json").isEmpty
      }.sortBy(_.id)
      val lastDirs = pending.lastOption.map(_.files.sortBy(seqOfDir))
        .getOrElse(Nil)
      val chain = pending.forall(s =>
        lastDirs.startsWith(s.files.sortBy(seqOfDir)))
      if (pending.size > 1 && chain) {
        import org.apache.spark.sql.functions.{array, col, explode, lead,
          lit, sort_array, when}
        import org.apache.spark.sql.expressions.Window
        session.sparkContext.setJobDescription(
          s"export: DV build snaps ${pending.head.id}..${pending.last.id}")
        val rawByUri: Map[String, String] = lastDirs.flatMap(FileStats.dataFiles).map { p =>
          new org.apache.hadoop.fs.Path(p).toUri.toString
            .replaceFirst("^file:/+", "/") -> p
        }.toMap
        val perDir = lastDirs.map { d =>
          session.read.parquet(d).select(
            table.pk.map(col) ++ Seq(
              col("_metadata.file_path").as("__dv_f"),
              col("_metadata.row_index").as("__dv_pos"),
              lit(seqOfDir(d)).as("__dv_seq")): _*)
        }
        val all = perDir.reduce(_.unionByName(_))
        // one row per (pk, seq) by the per-batch LWW contract, so
        // lead() is the unique next version; window partitioning
        // groups NULL keys like the per-snapshot groupBy does
        val w = Window.partitionBy(table.pk.map(col): _*)
          .orderBy(col("__dv_seq"))
        val withNext = all
          .withColumn("__dv_next", lead(col("__dv_seq"), 1).over(w))
        // a row is deleted at snapshot s iff its next version's seq is
        // visible at s; its own dir is then visible too (q < next ≤ s)
        val bounds = pending.map(s => s.id -> s.files.map(seqOfDir).max)
        val sidsFor = array(bounds.map { case (sid, b) =>
          when(col("__dv_next") <= lit(b), lit(sid)) }: _*)
        val deleted = withNext
          .where(col("__dv_next").isNotNull)
          .select(explode(sort_array(sidsFor)).as("__dv_sid"),
            col("__dv_f"), col("__dv_pos"))
          .where(col("__dv_sid").isNotNull)
        import session.implicits._
        val mdirC = mdir
        val refsAll = deleted.as[(Long, String, Long)]
          .repartition(col("__dv_f"))
          .sortWithinPartitions(col("__dv_sid"), col("__dv_f"),
            col("__dv_pos"))
          .mapPartitions { it =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, (String, String, Long, Long, Long, Long))]
            val groups = scala.collection.mutable.ArrayBuffer
              .empty[(String, Array[Long])]
            var curSid = -1L
            var curFile: String = null
            var pos = scala.collection.mutable.ArrayBuffer.empty[Long]
            def closeFile(): Unit = if (curFile != null) {
              groups += ((curFile, pos.toArray))
              pos = scala.collection.mutable.ArrayBuffer.empty[Long]
              curFile = null
            }
            def closeSid(): Unit = if (curSid >= 0 && {
                closeFile(); groups.nonEmpty }) {
              val path = s"$mdirC/dv-snap-${"%06d".format(curSid)}" +
                s"-p${"%04d".format(pid)}.puffin"
              val withRaw = groups.map { case (f, ps) =>
                (rawByUri.getOrElse(
                  f.replaceFirst("^file:/+", "/"), f), ps)
              }
              val (rs, total) = Puffin.writeDeletionVectorFile(
                path, withRaw.toSeq.map(g => (g._1, g._2)),
                snapshotId = curSid, sequenceNumber = curSid)
              rs.zip(withRaw).foreach { case ((ref, off, len), (_, ps)) =>
                out += ((curSid, (ref, path, off, len,
                  ps.length.toLong, total)))
              }
              groups.clear()
            }
            it.foreach { case (sid, f, p) =>
              if (sid != curSid) { closeSid(); curSid = sid }
              if (f != curFile) { closeFile(); curFile = f }
              pos += p
            }
            closeSid()
            out.iterator
          }.collect()
        val bySid = refsAll.groupBy(_._1)
        pending.foreach { s =>
          val refs = bySid.getOrElse(s.id, Array.empty)
            .map(_._2).toSeq.sortBy(_._1)
          metaFs.writeString(
            s"$mdir/dv-snap-${"%06d".format(s.id)}.refs.json",
            toJson(Map("refs" -> refs.map {
              case (a, b, c, d, e, f) => Seq(a, b, c, d, e, f) })))
        }
        session.sparkContext.setJobDescription(null)
      }
    }

    def delDirsOf(s: TieredTable#Snapshot): Seq[String] = {
      val minSeq = s.files.map(seqOfDir).minOption.getOrElse(s.id)
      s.files.filter(d => seqOfDir(d) > minSeq).sortBy(seqOfDir)
    }
    // Reuse: under a stable prefix (see above) an already-exported
    // snapshot's manifest, delete manifest, and manifest list are
    // byte-for-byte what this export would write — skip its entries and
    // the Avro writes entirely.
    val reusable: Set[Long] = snaps.filter { s =>
      val id = "%06d".format(s.id)
      evolutions.isEmpty && prefixStable && s.id <= prevHead &&
        metaFs.exists(s"$mdir/manifest-$id.avro") &&
        metaFs.exists(s"$mdir/snap-$id-manifest-list.avro") &&
        (!isMor || delDirsOf(s).isEmpty ||
          metaFs.exists(s"$mdir/manifest-del-$id.avro"))
    }.map(_.id).toSet
    // the per-file records of every dir a written manifest lists, read
    // once per export from the dirs' stats sidecars
    val entriesOf: Map[String, Seq[FileStats.FileEntry]] = {
      val dirs = snaps.filterNot(s => reusable(s.id)).flatMap(_.files).distinct
      dirs.zip(FileStats.exportEntries(dirs, layout)).toMap
    }

    val snapshotObjs = snaps.map { s =>
      val snapSchema = rawSchemaOf(s.id)
      val fieldIds: Map[String, Int] = fieldIdsOf(snapSchema)
      val manifestPath = s"$mdir/manifest-${"%06d".format(s.id)}.avro"
      val delPath = s"$mdir/manifest-del-${"%06d".format(s.id)}.avro"
      val listPath = s"$mdir/snap-${"%06d".format(s.id)}-manifest-list.avro"
      val delDirs = delDirsOf(s)
      val needsDel = isMor && delDirs.nonEmpty
      if (!reusable(s.id)) {
      // one DATA manifest per (snapshot, partition spec): every dir is
      // listed under the spec it was WRITTEN under (specOfDir), with
      // that spec's partition struct and spec-id — single-spec tables
      // collapse to the one-manifest-per-snapshot shape. Files added
      // earlier carry EXISTING status with their original (data)
      // sequence number — the v2 inheritance rules.
      def entriesFor(dirs: Seq[String], eSchema: Schema,
                     pt: Seq[(String, DataType)],
                     dirCols: Seq[String]): Seq[GenericRecord] =
        dirs.flatMap { dir =>
        val addedIn = seqOfDir(dir)
        entriesOf(dir).map { f =>
          val e = new GenericData.Record(eSchema)
          e.put("status", if (addedIn == s.id) 1 else 0) // ADDED / EXISTING
          e.put("snapshot_id", addedIn)
          e.put("sequence_number", addedIn)       // data sequence number
          e.put("file_sequence_number", addedIn)
          val df = new GenericData.Record(
            eSchema.getField("data_file").schema())
          df.put("content", 0)                    // DATA
          df.put("file_path", f.path)
          df.put("file_format", "PARQUET")
          val partRec = new GenericData.Record(
            df.getSchema.getField("partition").schema())
          if (pt.nonEmpty) {
            val vals = partitionValuesOf(f.path, dir, dirCols)
            pt.zip(vals).foreach { case ((c, dt), ov) =>
              partRec.put(c, ov.map(typedPartValue(_, dt)).orNull)
            }
          }
          df.put("partition", partRec)
          df.put("record_count", f.rows)
          df.put("file_size_in_bytes", f.bytes)
          // the stats maps, keyed by schema field id: the top-level
          // columns whose null count every row group recorded
          val counted = f.cols.toSeq.sortBy(_._1).flatMap { case (name, cs) =>
            if (cs.nulls < 0) None else fieldIds.get(name).map(_ -> cs)
          }
          def kvList(field: String, value: FileStats.ColStat => Option[Any])
              : java.util.List[GenericRecord] = {
            val arrSchema = df.getSchema.getField(field).schema()
              .getTypes.get(1) // ["null", array]
            val itemSchema = arrSchema.getElementType
            val out = new java.util.ArrayList[GenericRecord]()
            counted.foreach { case (fid, cs) =>
              value(cs).foreach { v =>
                val kv = new GenericData.Record(itemSchema)
                kv.put("key", fid)
                kv.put("value", v)
                out.add(kv)
              }
            }
            out
          }
          def bound(v: Option[String], cs: FileStats.ColStat) =
            v.flatMap(encodeBound(cs, _)).map(java.nio.ByteBuffer.wrap)
          df.put("value_counts", kvList("value_counts", cs => Some(cs.values)))
          df.put("null_value_counts",
            kvList("null_value_counts", cs => Some(cs.nulls)))
          df.put("lower_bounds", kvList("lower_bounds", cs => bound(cs.min, cs)))
          df.put("upper_bounds", kvList("upper_bounds", cs => bound(cs.max, cs)))
          e.put("data_file", df)
          e
        }
      }
      val (schemaObj, _) = icebergSchema(snapSchema, schemaIdOf(s.id))
      val dataManifests: Seq[(String, Long, Int, Seq[GenericRecord])] =
        s.files.groupBy(specOfDir).toSeq.sortBy(_._1).map {
          case (sid, dirs) =>
            val mp =
              if (specTimeline.size == 1) manifestPath
              else s"$mdir/manifest-${"%06d".format(s.id)}-s$sid.avro"
            val cols = specTimeline(sid)._2
            val pt = partTypesOf(cols)
            val dirCols = if (bucketed) table.partitionBy else cols
            val eSchema = entrySchemaOf(sid)
            val ents = entriesFor(dirs.sortBy(seqOfDir), eSchema, pt, dirCols)
            val len = writeAvro(mp, eSchema, Map(
              "schema" -> toJson(schemaObj),
              "schema-id" -> schemaIdOf(s.id).toString,
              "partition-spec" -> toJson(specFieldsOf(cols)),
              "partition-spec-id" -> sid.toString,
              "format-version" -> formatVersion.toString,
              "content" -> "data"), ents)
            (mp, len, sid, ents)
        }

      def manifestFile(path: String, length: Long, content: Int,
                       es: Seq[GenericRecord],
                       specId: Int = defaultSpecId): GenericRecord = {
        val mf = new GenericData.Record(ManifestFileSchema)
        mf.put("manifest_path", path)
        mf.put("manifest_length", length)
        mf.put("partition_spec_id", specId)
        mf.put("content", content)
        mf.put("sequence_number", s.id)
        mf.put("min_sequence_number",
          es.map(_.get("sequence_number").asInstanceOf[Long])
            .minOption.getOrElse(s.id))
        mf.put("added_snapshot_id", s.id)
        val added = es.count(_.get("status") == 1)
        mf.put("added_files_count", added)
        mf.put("existing_files_count", es.size - added)
        mf.put("deleted_files_count", 0)
        def rowsOf(filtered: Seq[GenericRecord]) = filtered
          .map(_.get("data_file").asInstanceOf[GenericRecord]
            .get("record_count").asInstanceOf[Long]).sum
        val addedRows = rowsOf(es.filter(_.get("status") == 1))
        mf.put("added_rows_count", addedRows)
        mf.put("existing_rows_count", rowsOf(es) - addedRows)
        mf.put("deleted_rows_count", 0L)
        mf
      }
      val mfs = dataManifests.map { case (mp, len, sid, ents) =>
        manifestFile(mp, len, 0, ents, sid)
      } ++ {
        // delete manifest: equality-delete entries for every live dir
        // that supersedes an older live dir of THIS snapshot, at the
        // superseding dir's sequence number — one entry PER DELETE
        // FILE (a sequence may have many, partition-scoped when the
        // table is partitioned). equality_ids name the PK field ids
        // of the snapshot's schema.
        if (!needsDel) Nil
        else if (formatVersion == 3) {
          // v3: the snapshot's resolution state as deletion vectors —
          // one entry per (data file, DV blob), each addressing its
          // puffin range via fields 143-145. Entries are ADDED at this
          // snapshot's sequence: a DV covers ALL deletions visible at
          // the snapshot (each snapshot carries its own complete set,
          // the at-most-one-DV-per-data-file v3 rule), and the
          // position rule dseq >= fseq holds since every file's
          // sequence is <= the snapshot's.
          val refs = dvRefsFor(s.id, s.files.sortBy(seqOfDir))
          val v3EntrySchema = manifestEntrySchema(
            partTypes.map { case (n, dt) => n -> avroPartType(dt) },
            v3DeleteFields = true)
          val dirCols =
            if (bucketed) table.partitionBy else specTimeline.last._2
          val delEntries = refs.map {
            case (dataFile, puffin, off, len, card, fsize) =>
              val e = new GenericData.Record(v3EntrySchema)
              e.put("status", 1)
              e.put("snapshot_id", s.id)
              e.put("sequence_number", s.id)
              e.put("file_sequence_number", s.id)
              val df = new GenericData.Record(
                v3EntrySchema.getField("data_file").schema())
              df.put("content", 1)        // POSITION_DELETES, as a DV
              df.put("file_path", puffin)
              df.put("file_format", "PUFFIN")
              val partRec = new GenericData.Record(
                df.getSchema.getField("partition").schema())
              // scope the DV to its referenced file's partition (real
              // readers prune delete manifests by partition ranges);
              // add/drop evolution refuses PK tables upstream, so the
              // single-spec rendering is always the right one here
              if (partTypes.nonEmpty) {
                s.files.find(d =>
                    dataFile.startsWith(d.stripSuffix("/") + "/"))
                  .foreach { d =>
                    val vals = partitionValuesOf(dataFile, d, dirCols)
                    partTypes.zip(vals).foreach { case ((c, dt), ov) =>
                      partRec.put(c, ov.map(typedPartValue(_, dt)).orNull)
                    }
                  }
              }
              df.put("partition", partRec)
              df.put("record_count", card)
              df.put("file_size_in_bytes", fsize)
              df.put("referenced_data_file", dataFile)
              df.put("content_offset", off)
              df.put("content_size_in_bytes", len)
              e.put("data_file", df)
              e
          }
          val delLen = writeAvro(delPath, v3EntrySchema, Map(
            "schema" -> toJson(schemaObj),
            "schema-id" -> schemaIdOf(s.id).toString,
            "partition-spec" -> toJson(specFields),
            "partition-spec-id" -> defaultSpecId.toString,
            "format-version" -> "3",
            "content" -> "deletes"), delEntries)
          Seq(manifestFile(delPath, delLen, 1, delEntries))
        }
        else {
          val pkIds = new java.util.ArrayList[Integer]()
          table.pk.foreach(c => pkIds.add(Integer.valueOf(fieldIds(c))))
          val delEntries = delDirs.flatMap { d =>
            val dseq = seqOfDir(d)
            eqDelFilesOf(d).map { case (path, rows, bytes, partVals) =>
              val e = new GenericData.Record(entrySchema)
              e.put("status", if (dseq == s.id) 1 else 0)
              e.put("snapshot_id", dseq)
              e.put("sequence_number", dseq)
              e.put("file_sequence_number", dseq)
              val df = new GenericData.Record(
                entrySchema.getField("data_file").schema())
              df.put("content", 2)                // EQUALITY_DELETES
              df.put("file_path", path)
              df.put("file_format", "PARQUET")
              val partRec = new GenericData.Record(
                df.getSchema.getField("partition").schema())
              if (partTypes.nonEmpty)
                partTypes.zip(partVals).foreach { case ((c, dt), ov) =>
                  partRec.put(c, ov.map(typedPartValue(_, dt)).orNull)
                }
              df.put("partition", partRec)
              df.put("record_count", rows)
              df.put("file_size_in_bytes", bytes)
              df.put("equality_ids", pkIds)
              e.put("data_file", df)
              e
            }
          }
          val delLen = writeAvro(delPath, entrySchema, Map(
            "schema" -> toJson(schemaObj),
            "schema-id" -> schemaIdOf(s.id).toString,
            "partition-spec" -> toJson(specFields),
            "partition-spec-id" -> "0",
            "format-version" -> "2",
            "content" -> "deletes"), delEntries)
          Seq(manifestFile(delPath, delLen, 1, delEntries))
        }
      }

      writeAvro(listPath, ManifestFileSchema, Map(
        "snapshot-id" -> s.id.toString,
        "sequence-number" -> s.id.toString,
        "format-version" -> formatVersion.toString), mfs)
      } // end if (!reusable)

      Map(
        "snapshot-id" -> s.id,
        "parent-snapshot-id" -> s.parentId.getOrElse(-1L),
        "sequence-number" -> s.id,
        "timestamp-ms" -> s.committedAt,
        "manifest-list" -> listPath,
        "summary" -> (Map("operation" ->
          (if (s.op == "tier" || s.op == "append") "append" else "overwrite"))
          ++ s.summary),
        "schema-id" -> schemaIdOf(s.id))
    }

    // one predicate for BOTH metadata entries: default-sort-order-id
    // must never name an order absent from sort-orders
    val sortOrderExported = table.sortBy.nonEmpty &&
      table.sortBy.forall(headFieldIds.contains)
    val schemaObjs = distinctSchemas.zipWithIndex
      .map { case (st, i) => icebergSchema(st, i) }
    val lastColId = schemaObjs.map(_._2).max
    val version = currentVersion(mdir).getOrElse(0) + 1
    val metadata = Map(
      "format-version" -> formatVersion,
      // deterministic per table path so re-exports describe the SAME
      // Iceberg table, not a new identity each call
      "table-uuid" -> UUID.nameUUIDFromBytes(
        table.tablePath.getBytes(StandardCharsets.UTF_8)).toString,
      "location" -> table.tablePath,
      "last-sequence-number" -> head.id,
      "last-updated-ms" -> head.committedAt,
      "last-column-id" -> lastColId,
      "current-schema-id" -> schemaIdOf(head.id),
      "schemas" -> schemaObjs.map(_._1),
      "default-spec-id" -> defaultSpecId,
      "partition-specs" -> specTimeline.map { case (id, cols, _) =>
        Map("spec-id" -> id, "fields" -> specFieldsOf(cols)) },
      // 999 = "nothing assigned" (real Iceberg's value for a table
      // that never had a partition field); bucketed tables assign
      // exactly field-id 1000; evolved tables count every id EVER
      // assigned (a dropped field's id stays consumed)
      "last-partition-id" -> (999 +
        (if (bucketed) 1 else partFieldIds.size)),
      // declared write sort order exports as a REAL Iceberg sort order
      // (external engines read it as the clustering hint it is); the
      // unsorted order 0 stays for files written before it applied
      "default-sort-order-id" -> (if (sortOrderExported) 1 else 0),
      "sort-orders" -> (Seq(
        Map("order-id" -> 0, "fields" -> Seq.empty[Any])) ++
        (if (sortOrderExported)
          Seq(Map("order-id" -> 1, "fields" -> table.sortBy.map(c =>
            Map("transform" -> "identity",
              "source-id" -> headFieldIds(c),
              "direction" -> "asc", "null-order" -> "nulls-first"))))
        else Nil)),
      "properties" -> Map(
        "write.format.default" -> "parquet",
        // id-less data files resolve by NAME in real readers via this
        // mapping (the add_files adoption contract)
        "schema.name-mapping.default" ->
          toJson(nameMappingOf(schemaObjs(schemaIdOf(head.id))._1)),
        "graft.export-fingerprint" -> fingerprint),
      "current-snapshot-id" -> head.id,
      "snapshots" -> snapshotObjs,
      // named refs (Iceberg v2 `refs`): `main` is the head branch;
      // graft snapshot TAGS export as Iceberg tags, so an external
      // reader resolves the same pinned corpus states BY NAME that
      // graft's `VERSION AS OF 'name'` serves — only tags whose
      // snapshot is still retained (vacuum may have released others)
      "refs" -> (Map(
        "main" -> Map("snapshot-id" -> head.id, "type" -> "branch")) ++
        table.tags.filter { case (_, id) => snaps.exists(_.id == id) }
          .map { case (n, id) =>
            n -> Map("snapshot-id" -> id, "type" -> "tag") }),
      "snapshot-log" -> snaps.map(s =>
        Map("timestamp-ms" -> s.committedAt, "snapshot-id" -> s.id)),
      "metadata-log" -> Seq.empty[Any])

    val mpath = s"$mdir/v${"%05d".format(version)}.metadata.json"
    metaFs.writeString(mpath, toJson(metadata))
    // publish the hint atomically: an in-place local overwrite is seen
    // empty by a concurrent readTable ("no version-hint.text"); a rename
    // over it is not. Object-store PUTs are atomic already.
    val hint = s"$mdir/version-hint.text"
    if (metaFs eq LocalTableFs) {
      val tmp = s"$mdir/.version-hint.text.${UUID.randomUUID}.tmp"
      metaFs.writeString(tmp, version.toString)
      metaFs.move(tmp, hint)
    } else metaFs.writeString(hint, version.toString)

    // GC artifacts of snapshots no longer retained (vacuum/expire ran
    // since the last export) — Iceberg expire_snapshots semantics: the
    // NEW metadata version is complete and self-consistent; prior
    // metadata versions may reference the removed files, the accepted
    // Iceberg trade (expired history is gone, not half-kept). Without
    // this, manifests/eqdel files of expired snapshots accumulate
    // forever — at a 30 s tiering cadence that is ~2.9 k orphaned Avro
    // files per day.
    val retainedIds: Set[Long] = snaps.map(_.id).toSet
    val retainedSeqs: Set[Long] =
      snaps.flatMap(_.files).distinct.map(seqOfDir).toSet
    // dv-snap artifacts (puffin files + refs sidecar) are keyed by the
    // snapshot id that owns them, and each snapshot's delete manifest
    // references only its OWN dv-snap files (every snapshot carries a
    // complete DV set) — so GC by retained snapshot id never strands a
    // blob a retained snapshot still points at
    val artifact =
      """(manifest-del-|manifest-|dv-snap-|snap-|eqdel-)(\d{6}).*""".r
    metaFs.listNames(mdir).foreach { name =>
      name match {
        case artifact(kind, num) =>
          val id = num.toLong
          val live =
            if (kind == "eqdel-") retainedSeqs(id) else retainedIds(id)
          if (!live) metaFs.deleteRecursively(s"$mdir/$name") // eqdel entries are dirs
        case _ =>
      }
    }
    // the PK-uniqueness marker follows its dirs (vacuumed dirs re-add
    // their lines never; a shrinking file keeps the scan O(live dirs))
    val markerFile = s"$mdir/pk-checked-dirs.txt"
    metaFs.readString(markerFile).foreach { body =>
      val liveDirs = snaps.flatMap(_.files).toSet
      val keptLines = body.linesIterator.filter(liveDirs).toSeq
      metaFs.writeString(markerFile, keptLines.sorted.mkString("\n"))
    }
    saveExportState(mdir, ExportState(head.id, snaps.map(_.id),
      snaps.map(s => s.id -> rawSchemaOf(s.id).toDDL).toMap,
      formatVersion))
    mpath
  }

  private def currentVersion(mdir: String): Option[Int] =
    TableFs.forPath(mdir).readString(s"$mdir/version-hint.text")
      .flatMap(_.trim.toIntOption)

  // ---- the independent reader (the in-suite "second engine") ----

  private def jsonAt(v: org.json4s.JValue, key: String): org.json4s.JValue =
    v.asInstanceOf[org.json4s.JObject].obj
      .collectFirst { case (k, x) if k == key => x }
      .getOrElse(org.json4s.JNothing)

  private def jLong(v: org.json4s.JValue): Long = v match {
    case org.json4s.JInt(n) => n.toLong
    case org.json4s.JLong(n) => n
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  /** Read an exported table AS ICEBERG: resolve the current (or
    * `asOfSnapshotId`) snapshot's data files purely from the exported
    * metadata chain and scan them. Shares no code or state with
    * [[TieredTable]]'s read path — the point is that nothing but the
    * Iceberg artifacts drives the scan.
    */
  def readTable(spark: SparkSession, tablePath: String,
                asOfSnapshotId: Option[Long] = None,
                keepDataFiles: Option[Set[String]] = None): DataFrame = {
    import org.json4s.jackson.JsonMethods
    val mdir = s"$tablePath/metadata"
    val version = currentVersion(mdir).getOrElse(
      throw new IllegalStateException(s"no version-hint.text under $mdir"))
    val mpath = s"$mdir/v${"%05d".format(version)}.metadata.json"
    val md = JsonMethods.parse(TableFs.forPath(mpath).readString(mpath).getOrElse(
      throw new java.io.FileNotFoundException(mpath)))
    // The exported chain below this metadata version is immutable EXCEPT
    // the manifest list, which attachDeletionVectors rewrites in place
    // without bumping the version — so the resolved snapshot's manifest
    // list is an input alongside the metadata file. Everything
    // downstream (manifest avro walk, scan planning, delete-application
    // joins, analysis) is reused; every action still scans parquet/puffin.
    val listPath =
      try {
        val currentId = asOfSnapshotId.getOrElse(
          jLong(jsonAt(md, "current-snapshot-id")))
        jsonAt(md, "snapshots").asInstanceOf[org.json4s.JArray].arr
          .find(s => jLong(jsonAt(s, "snapshot-id")) == currentId)
          .map(s => jsonAt(s, "manifest-list")) match {
          case Some(org.json4s.JString(p)) => Some(p)
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    SessionMemo(spark, "iceberg", Seq(tablePath,
        asOfSnapshotId.map(_.toString).getOrElse("-"),
        keepDataFiles.map(_.toSeq.sorted.mkString("\n")).getOrElse("-"),
        keepDataFiles.isDefined.toString), mpath +: listPath.toSeq) {
      readFromMetadata(spark, md, asOfSnapshotId, keepDataFiles)
    }
  }

  /** Resolve and scan purely from a PARSED Iceberg table-metadata
    * document — the entry point a catalog-served read uses (the REST
    * catalog's `LoadTableResult.metadata`,
    * [[IcebergRestCatalogServer]]); [[readTable]] is this after the
    * file-based version-hint resolution.
    *
    * `keepDataFiles` restricts the scan to the named data files
    * (manifest-rendered paths — what [[dataFilesWhereLong]] returns)
    * while keeping EVERY delete file. Sound under the anti-join
    * formulation: an equality delete removes a stale row by key from
    * the file it sits in regardless of where the winning version
    * lives, and position deletes / DVs address (file, ordinal) of the
    * kept files only — so each kept file's rows are erased exactly as
    * in the full read, and a pruned file only withholds rows the
    * caller's predicate re-check would drop anyway.
    */
  def readFromMetadata(spark: SparkSession, md: org.json4s.JValue,
                       asOfSnapshotId: Option[Long] = None,
                       keepDataFiles: Option[Set[String]] = None): DataFrame = {
    jsonAt(md, "location") match {
      case org.json4s.JString(loc)
        if loc.startsWith(GraftObjectFileSystem.Scheme + "://") =>
        GraftObjectFileSystem.register(spark.sparkContext.hadoopConfiguration)
      case _ =>
    }
    val currentId = asOfSnapshotId.getOrElse(
      jLong(jsonAt(md, "current-snapshot-id")))
    val snap = jsonAt(md, "snapshots").asInstanceOf[org.json4s.JArray]
      .arr.find(s => jLong(jsonAt(s, "snapshot-id")) == currentId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $currentId not in the table metadata"))
    val listPath = jsonAt(snap, "manifest-list") match {
      case org.json4s.JString(p) => p
      case other => throw new IllegalStateException(s"bad manifest-list: $other")
    }
    val (manifestFiles, _) = readAvro(listPath)
    // ALL partition specs, keyed by spec-id, WITH their transforms —
    // a spec-evolved table's manifests point at DIFFERENT specs
    // (partition_spec_id per manifest), and each file's partition
    // struct holds ITS spec's fields. Identity values live only in
    // the manifests (add_files-style layout) and are reattached as
    // constant columns; non-identity transforms (bucket[N]) are
    // metadata-only — their SOURCE column is physically present in
    // the data pages, and the transform value is never a schema column.
    val specsById: Map[Int, Seq[(String, String)]] =
      jsonAt(md, "partition-specs")
        .asInstanceOf[org.json4s.JArray].arr.map { s =>
          val specId = jLong(jsonAt(s, "spec-id")).toInt
          val fields = jsonAt(s, "fields")
            .asInstanceOf[org.json4s.JArray].arr.map { f =>
              val org.json4s.JString(name) = jsonAt(f, "name"): @unchecked
              val transform = jsonAt(f, "transform") match {
                case org.json4s.JString(t) => t
                case _ => "identity"
              }
              (name, transform)
            }
          specId -> fields
        }.toMap
    val defaultSpecId = jsonAt(md, "default-spec-id") match {
      case org.json4s.JInt(i) => i.toInt
      case _ => 0
    }
    val anyPartitioned = specsById.values.exists(_.nonEmpty)
    // manifest-list `content`: 0 = data manifests, 1 = delete manifests
    val (dataManifests, deleteManifests) =
      manifestFiles.partition(_.get("content").asInstanceOf[Int] == 0)
    // each entry rides with ITS manifest's spec-id (the default when a
    // foreign manifest-list omits the column). v2 SEQUENCE-NUMBER
    // INHERITANCE: real Iceberg writers leave sequence_number NULL on
    // the entries their commit ADDED and readers inherit the manifest
    // list's sequence_number — graft's own exports write it explicitly,
    // but a foreign table round-trips only if the null inherits here.
    def liveOf(mfs: Seq[GenericRecord]): Seq[(GenericRecord, Long, Int)] =
      mfs.flatMap { mf =>
        val specId = Option(mf.get("partition_spec_id"))
          .map(_.asInstanceOf[Int]).getOrElse(defaultSpecId)
        val mfSeq = Option(mf.get("sequence_number"))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val (entries, _) = readAvro(mf.get("manifest_path").toString)
        // status 2 = DELETED: the file left the table in this snapshot
        entries.filter(_.get("status").asInstanceOf[Int] != 2)
          .map { e =>
            val seq = Option(e.get("sequence_number"))
              .map(_.asInstanceOf[Long]).getOrElse {
                // the spec scopes inheritance to ADDED entries; an
                // EXISTING entry's sequence predates this manifest and
                // CANNOT be the list's — inheriting it would re-order
                // delete application (resurrected/lost rows)
                require(e.get("status").asInstanceOf[Int] == 1,
                  s"manifest ${mf.get("manifest_path")}: EXISTING " +
                    "entry with null sequence_number — corrupt v2 " +
                    "metadata (inheritance applies to ADDED only)")
                mfSeq
              }
            (e.get("data_file").asInstanceOf[GenericRecord], seq, specId)
          }
      }
    val liveEntries = keepDataFiles match {
      case None => liveOf(dataManifests)
      case Some(keep) => liveOf(dataManifests)
        .filter(e => keep(e._1.get("file_path").toString))
    }
    val deleteEntries = liveOf(deleteManifests)
    // v2 delete content codes: 1 = POSITION deletes (file_path, pos),
    // 2 = EQUALITY deletes. Graft's own exporter writes equality
    // deletes only (the Fluss→Iceberg tiering-sink shape), but a v2
    // table written by ANOTHER engine (Spark/Iceberg MoR DELETE)
    // carries position deletes — both must resolve here for foreign
    // tables to round-trip.
    val (posContentEntries, eqDeleteEntries) = deleteEntries.partition(
      _._1.get("content").asInstanceOf[Int] == 1)
    // v3 DELETION VECTORS: position-delete content whose bits live as a
    // `deletion-vector-v1` blob inside a Puffin file, addressed by the
    // manifest entry's referenced_data_file (field 143) +
    // content_offset (144) + content_size_in_bytes (145). Modern
    // writers (Iceberg 1.8+, format-version 3) emit ONLY this shape —
    // a foreign v3 MoR table round-trips iff they resolve here, the
    // same class of gap v2 position-delete files closed before. A v2
    // writer's entry schema simply lacks the fields (and GenericRecord
    // THROWS on unknown names — probe the writer schema first).
    def v3Field(e: GenericRecord, name: String): Option[AnyRef] =
      Option(e.getSchema.getField(name)).flatMap(_ => Option(e.get(name)))
    val (dvEntries, posDeleteEntries) = posContentEntries.partition {
      case (e, _, _) =>
        v3Field(e, "referenced_data_file").isDefined ||
          v3Field(e, "file_format")
            .exists(_.toString.equalsIgnoreCase("PUFFIN"))
    }
    require(liveEntries.nonEmpty, s"snapshot $currentId lists no data files")
    // the snapshot's own schema names the column order and types — also
    // the projection boundary: data files may physically carry columns
    // the schema doesn't list (a merge-on-read __seq), which a
    // name-projecting reader must not surface
    val snapSchemaId = jLong(jsonAt(snap, "schema-id"))
    val schemaFields = jsonAt(md, "schemas")
      .asInstanceOf[org.json4s.JArray].arr
      .find(s => jLong(jsonAt(s, "schema-id")) == snapSchemaId)
      .map(s => jsonAt(s, "fields").asInstanceOf[org.json4s.JArray].arr)
      .getOrElse(throw new IllegalStateException(
        s"schema $snapSchemaId not in metadata"))
    val colOrder = schemaFields.map { f =>
      val org.json4s.JString(n) = jsonAt(f, "name"): @unchecked
      n
    }
    // primitive types only — a nested column can't be null-padded or
    // used as a partition source, and fails loudly below if needed
    val typeOf: Map[String, String] = schemaFields.collect {
      case f if jsonAt(f, "type").isInstanceOf[org.json4s.JString] =>
        val org.json4s.JString(n) = jsonAt(f, "name"): @unchecked
        val org.json4s.JString(t) = jsonAt(f, "type"): @unchecked
        n -> t
    }.toMap
    def sparkType(t: String): String = t match {
      case "boolean" => "boolean"
      case "int" => "int"
      case "long" => "bigint"
      case "float" => "float"
      case "double" => "double"
      case "string" => "string"
      case "date" => "date"
      case "timestamptz" => "timestamp"
      case "timestamp" => "timestamp_ntz"
      case "binary" => "binary"
      case t if t.startsWith("decimal") => t
      case other => throw new IllegalArgumentException(
        s"unsupported type $other")
    }
    // An all-primitive snapshot schema DRIVES the scan (the stance of
    // every real Iceberg engine: the declared schema is authoritative;
    // files a column predates read it as null, extra physical columns
    // like a merge-on-read __seq are never even decoded). This also
    // kills the per-group mergeSchema footer-inference job — at scale
    // a readTable was paying one distributed schema inference per
    // (sequence × partition) group per call. Nested types fall back
    // to inference.
    def ddlSchema(names: Seq[String]): Option[StructType] =
      if (names.forall(typeOf.contains))
        Some(StructType.fromDDL(
          names.map(n => s"`$n` ${sparkType(typeOf(n))}").mkString(", ")))
      else None
    val declared = ddlSchema(colOrder)
    def readData(files: Seq[String]): DataFrame = declared match {
      case Some(st) => spark.read.schema(st).parquet(files: _*)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(files: _*)
    }
    if (!anyPartitioned && deleteEntries.isEmpty) {
      val df = readData(liveEntries.map(_._1.get("file_path").toString))
      if (df.columns.toSeq == colOrder) df
      else df.select(colOrder.map(org.apache.spark.sql.functions.col): _*)
    } else {
      import org.apache.spark.sql.functions.{col, lit, regexp_replace}
      val idToName: Map[Int, String] = schemaFields.map { f =>
        val org.json4s.JString(n) = jsonAt(f, "name"): @unchecked
        jLong(jsonAt(f, "id")).toInt -> n
      }.toMap
      // ONE scan + a BROADCAST file-metadata join — plan width O(1),
      // not O(sequences × partitions). Every live entry contributes a
      // row (normalized path, data sequence, identity constants
      // rendered as strings) to a tiny frame that broadcast-joins onto
      // the scan via the parquet reader's _metadata.file_path; the
      // cast back to the declared type is exact for the supported
      // partition value types (int/long/string/date). A file whose
      // pages physically carry an identity column (real Iceberg
      // writers store it; graft's hive layout doesn't) agrees with its
      // manifest constant by the spec's identity rule, so
      // coalesce(constant, page) is exact. At 100 TB this is the
      // difference between a thousands-branch union (unplannable) and
      // one scan feeding a broadcast hash join.
      import org.apache.spark.sql.functions.{broadcast, coalesce}
      import org.apache.spark.sql.types.{LongType, StringType, StructField}
      val identityCols: Seq[String] = specsById.values.flatten.collect {
        case (c, "identity") => c
      }.toSeq.distinct
      // Driver-side path normalization to Spark's OWN rendering: the
      // scan's _metadata.file_path is the Hadoop-Path URI form (a
      // partition value's space is %20 there, literal in the manifest
      // string) — running the manifest string through the same Path
      // encoding makes the join key exact for every character class,
      // then the local-file scheme strips on both sides.
      def normPathS(p: String) =
        new org.apache.hadoop.fs.Path(p).toUri.toString
          .replaceFirst("^file:/+", "/")
      val metaRows = liveEntries.map { case (e, seq, specId) =>
        val rec = e.get("partition").asInstanceOf[GenericRecord]
        val spec = specsById(specId).toMap
        org.apache.spark.sql.Row.fromSeq(
          normPathS(e.get("file_path").toString) +: seq +:
            identityCols.map { c =>
              if (!spec.get(c).contains("identity")) null
              else Option(rec.get(c)).map {
                case v if typeOf.get(c).contains("date") =>
                  java.time.LocalDate.ofEpochDay(
                    v.asInstanceOf[Int].toLong).toString
                case v => v.toString
              }.orNull
            })
      }.distinct
      require(metaRows.map(_.getString(0)).distinct.size == metaRows.size,
        s"snapshot $currentId lists a data file under two sequences — " +
          "corrupt metadata (delete application would be ambiguous)")
      val metaSchema = StructType(
        StructField("__ice_meta_path", StringType) +:
          StructField("__ice_fseq", LongType) +:
          identityCols.map(c => StructField(s"__ice_part_$c", StringType)))
      import scala.jdk.CollectionConverters.SeqHasAsJava
      val metaDf = broadcast(
        spark.createDataFrame(metaRows.asJava, metaSchema))
      // Spark's _metadata.file_path is a URI (file:///…); manifest
      // paths may be plain — normalize only the local-file scheme
      def normPathC(c: org.apache.spark.sql.Column) =
        regexp_replace(c, "^file:/+", "/")
      val scanned = readData(
        liveEntries.map(_._1.get("file_path").toString).distinct)
        .withColumn("__ice_fpath", col("_metadata.file_path"))
        .withColumn("__ice_fpos", col("_metadata.row_index"))
      var joined = scanned.join(metaDf,
        normPathC(col("__ice_fpath")) === col("__ice_meta_path"))
      identityCols.foreach { c =>
        val const = col(s"__ice_part_$c").cast(sparkType(typeOf(c)))
        joined = joined.withColumn(c,
          if (joined.columns.contains(c)) coalesce(const, col(c)) else const)
      }
      // schema-evolved snapshots: a column the snapshot schema names
      // may be absent from every live file — pad typed nulls
      colOrder.filterNot(joined.columns.contains).foreach { c =>
        joined = joined.withColumn(c, lit(null).cast(sparkType(typeOf(c))))
      }
      // position deletes / deletion vectors address rows by (data file
      // path, ordinal row position) — keep both only when needed (the
      // unused _metadata projection is optimized away otherwise)
      val posCols =
        if (posDeleteEntries.isEmpty && dvEntries.isEmpty) Nil
        else Seq("__ice_fpath", "__ice_fpos")
      val data = joined.select(
        (colOrder ++ Seq("__ice_fseq") ++ posCols).map(col): _*)
      val afterEq =
        if (eqDeleteEntries.isEmpty) data
        else {
          // v2 equality deletes: a delete at sequence d removes rows
          // whose equality columns match from data files with data
          // sequence STRICTLY below d — one anti-join per DISTINCT
          // equality_ids set, never a per-file loop. Graft's own
          // exports always delete on the PK, but a foreign v2 table
          // may legally carry delete files with differing equality_ids
          // per commit; resolving them all against the first entry's
          // columns would silently drop or keep wrong rows.
          val byIds = eqDeleteEntries.groupBy(_._1.get("equality_ids")
            .asInstanceOf[java.util.List[Integer]].asScala.map(_.toInt).toSeq)
          byIds.toSeq.sortBy(_._1.mkString(",")).foldLeft(data) {
            case (acc, (eqIds, entries)) =>
          val eqNames = eqIds.map(idToName)
          // delete files physically carry every equality column (the
          // v2 spec's requirement; our writer's shadow-partition trick
          // exists for exactly this), so the declared eqNames schema
          // drives the scan — no per-file inference
          val delSchema = ddlSchema(eqNames)
          // ONE scan per distinct equality_ids group + a broadcast
          // (path → sequence, manifest partition constants) map — plan
          // width O(groups), not O(delete files): a partitioned MoR
          // table's live window holds one delete file per (partition ×
          // superseding sequence), thousands at 100 TB. Delete files
          // physically carry every equality column (the v2 spec's
          // requirement); the manifest constants are the fallback for
          // sidecar-less foreign files (coalesce page-first — when
          // pages carry the column they agree by the identity rule).
          val delFiles = entries.map(_._1.get("file_path").toString).distinct
          val delMetaRows = entries.map { case (e, seq, _) =>
            val rec = e.get("partition").asInstanceOf[GenericRecord]
            org.apache.spark.sql.Row.fromSeq(
              normPathS(e.get("file_path").toString) +: seq +:
                eqNames.map { c =>
                  // only PARTITION-STRUCT fields have constants; a
                  // non-partition equality column (the usual PK case)
                  // simply has no fallback (GenericRecord throws on
                  // unknown names — probe the struct schema first)
                  Option(rec.getSchema.getField(c))
                    .flatMap(_ => Option(rec.get(c))).map {
                      case v if typeOf.get(c).contains("date") =>
                        java.time.LocalDate.ofEpochDay(
                          v.asInstanceOf[Int].toLong).toString
                      case v => v.toString
                    }.orNull
                })
          }.distinct
          val delMetaSchema = StructType(
            StructField("__ice_del_file", StringType) +:
              StructField("__ice_dseq", LongType) +:
              eqNames.map(c => StructField(s"__ice_delc_$c", StringType)))
          var dels = (delSchema match {
            case Some(st) => spark.read.schema(st).parquet(delFiles: _*)
            case None =>
              spark.read.option("mergeSchema", "true").parquet(delFiles: _*)
          }).withColumn("__ice_del_file",
              normPathC(col("_metadata.file_path")))
            .join(broadcast(
              spark.createDataFrame(delMetaRows.asJava, delMetaSchema)),
              "__ice_del_file")
          eqNames.foreach { c =>
            val const = col(s"__ice_delc_$c").cast(sparkType(typeOf(c)))
            dels = dels.withColumn(c,
              if (dels.columns.contains(c)) coalesce(col(c), const)
              else const)
          }
          val renamed = dels.select(
            (eqNames.map(n => col(n).as(s"__ice_del_$n")) :+
              col("__ice_dseq")): _*)
          val cond = eqNames.map(n => acc(n) <=> renamed(s"__ice_del_$n"))
            .reduce(_ && _) && renamed("__ice_dseq") > acc("__ice_fseq")
          acc.join(renamed, cond, "left_anti")
          }
        }
      val resolved =
        if (posDeleteEntries.isEmpty && dvEntries.isEmpty) afterEq
        else {
          // v2 POSITION deletes: (file_path, pos) rows at sequence d
          // erase the pos-th row of the named data file when the
          // file's data sequence is AT OR BELOW d (same-commit deletes
          // apply — the spec's `>=`, unlike equality's strict `>`).
          // One anti-join on (normalized path, position); the data
          // side's path/position came from the parquet reader's
          // _metadata columns above. v3 DELETION VECTORS apply under
          // the SAME rule, their (path, pos) rows decoded from the
          // Puffin blobs IN EXECUTORS — only the bounded (puffin path,
          // offset, size) descriptors leave the driver; the positions
          // themselves never collect (a 100 TB table's DVs can carry
          // billions of positions).
          val posSchema = StructType.fromDDL("`file_path` STRING, `pos` BIGINT")
          val parquetDels =
            if (posDeleteEntries.isEmpty) None
            else {
              // one scan over ALL position-delete files + a broadcast
              // (path → sequence) map — same O(1) plan width as the
              // data side
              val seqRows = posDeleteEntries.map { case (e, seq, _) =>
                org.apache.spark.sql.Row(
                  normPathS(e.get("file_path").toString), seq)
              }.distinct
              val seqSchema = StructType(Seq(
                StructField("__ice_del_file", StringType),
                StructField("__ice_dseq", LongType)))
              // the delete CONTENT's file_path is raw, as foreign
              // writers store it (same form as manifest strings) —
              // it must go through the same Hadoop-Path URI encoding
              // as every other path leg, or a data path with a
              // space/'%' silently fails to match and deleted rows
              // stay live. The referenced paths name DATA FILES, so
              // the distinct set is bounded by file count however many
              // delete ROWS there are — normalize it driver-side once
              // and broadcast-join the mapping instead of running a
              // per-row UDF over what can be billions of positions at
              // 100 TB (and a UDF would also block codegen/pushdown
              // around this projection).
              val delPaths = posDeleteEntries
                .map(_._1.get("file_path").toString).distinct
              val raw = spark.read.schema(posSchema)
                .parquet(delPaths: _*)
                .withColumn("__ice_del_file",
                  normPathC(col("_metadata.file_path")))
                .join(broadcast(
                  spark.createDataFrame(seqRows.asJava, seqSchema)),
                  "__ice_del_file")
              // single-column pruned scan for the distinct referenced
              // set; the collect is bounded by data-file count
              val refNorm = spark.read.schema(posSchema)
                .parquet(delPaths: _*)
                .select(col("file_path")).distinct()
                .collect().map(_.getString(0))
                .map(p => org.apache.spark.sql.Row(p,
                  if (p == null) null else normPathS(p)))
              val refNormDf = spark.createDataFrame(
                refNorm.toSeq.asJava,
                StructType(Seq(StructField("file_path", StringType),
                  StructField("__ice_pd_path", StringType))))
              Some(raw
                .join(broadcast(refNormDf), Seq("file_path"), "left")
                .select(col("__ice_pd_path"),
                  col("pos").as("__ice_pd_pos"), col("__ice_dseq")))
            }
          val dvDels =
            if (dvEntries.isEmpty) None
            else {
              val descs0 = dvEntries.map { case (e, seq, _) =>
                def req(name: String): AnyRef = v3Field(e, name)
                  .getOrElse(throw new IllegalStateException(
                    s"puffin DV entry ${e.get("file_path")} lacks " +
                      s"$name (v3 fields 143-145 are required)"))
                (e.get("file_path").toString,
                  req("content_offset").asInstanceOf[Long],
                  req("content_size_in_bytes").asInstanceOf[Long],
                  req("referenced_data_file").toString,
                  seq)
              }
              // a DV is FILE-SCOPED: under a pruned read, blobs whose
              // referenced file was pruned can't match the anti-join —
              // skip their decode entirely (at scale a range probe must
              // not page in every DV the table owns). The skip test
              // compares under the SAME normPathS rendering the
              // anti-join keys use — a foreign writer whose
              // referenced_data_file rendering differs from the
              // manifest's file_path rendering must still have its DV
              // decoded whenever the join could match it, so a
              // rendering quirk costs at most an extra decode, never a
              // missed delete.
              val descs = keepDataFiles match {
                case None => descs0
                case Some(keep) =>
                  val keepNorm = keep.map(normPathS)
                  descs0.filter(d => keepNorm(normPathS(d._4)))
              }
              import spark.implicits._
              // referenced_data_file normalized to the scan's own path
              // rendering driver-side (same Hadoop-Path URI treatment
              // as the data join keys — spacey partition values match)
              Some(spark.createDataset(descs.map { case (pf, off, len, ref, seq) =>
                  (pf, off, len, normPathS(ref), seq)
                })
                // max(1): the pruned-read filter above may leave zero
                // descs, and repartition(0) is illegal
                .repartition(math.max(1, math.min(descs.size, 32)))
                .flatMap { case (pf, off, len, ref, seq) =>
                  Puffin.readDeletionVector(pf, off, len)
                    .map(pos => (ref, pos, seq))
                }
                .toDF("__ice_pd_path", "__ice_pd_pos", "__ice_dseq"))
            }
          val pdels = (parquetDels.toSeq ++ dvDels.toSeq)
            .reduce(_.unionByName(_))
          val cond =
            normPathC(afterEq("__ice_fpath")) ===
              normPathC(pdels("__ice_pd_path")) &&
              afterEq("__ice_fpos") === pdels("__ice_pd_pos") &&
              pdels("__ice_dseq") >= afterEq("__ice_fseq")
          afterEq.join(pdels, cond, "left_anti")
        }
      resolved.select(colOrder.map(col): _*)
    }
  }

  /** Decode an exported little-endian bound by its WIDTH: 8 bytes for
    * long/timestamp, 4 for int/date (epoch days) — both order under
    * plain long comparison, so one pruning path serves both.
    */
  private def decodeLongLE(buf: java.nio.ByteBuffer): Long = {
    val b = buf.duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (b.remaining() == 4) b.getInt(b.position()).toLong
    else b.getLong(b.position())
  }

  /** Current-snapshot data files whose exported [lower, upper] bounds
    * for long-typed `column` may intersect `[lo, hi]` — the pruning an
    * EXTERNAL Iceberg reader performs from the manifest stats, resolved
    * purely from the exported chain. Strictly conservative: entries
    * without bounds for the column are kept. Returns (kept, total).
    */
  def dataFilesWhereLong(tablePath: String, column: String,
                         lo: Long, hi: Long): (Seq[String], Int) = {
    import org.json4s.jackson.JsonMethods
    val mdir = s"$tablePath/metadata"
    val version = currentVersion(mdir).getOrElse(
      throw new IllegalStateException(s"no version-hint.text under $mdir"))
    val mpath = s"$mdir/v${"%05d".format(version)}.metadata.json"
    val md = JsonMethods.parse(TableFs.forPath(mpath).readString(mpath).getOrElse(
      throw new java.io.FileNotFoundException(mpath)))
    val curSchemaId = jLong(jsonAt(md, "current-schema-id"))
    val fieldId = jsonAt(md, "schemas").asInstanceOf[org.json4s.JArray]
      .arr.find(s => jLong(jsonAt(s, "schema-id")) == curSchemaId)
      .map(s => jsonAt(s, "fields").asInstanceOf[org.json4s.JArray].arr)
      .getOrElse(Nil)
      .collectFirst {
        case f if jsonAt(f, "name") == org.json4s.JString(column) =>
          jLong(jsonAt(f, "id")).toInt
      }
      .getOrElse(throw new IllegalArgumentException(
        s"column $column not in the exported schema"))
    val currentId = jLong(jsonAt(md, "current-snapshot-id"))
    val snap = jsonAt(md, "snapshots").asInstanceOf[org.json4s.JArray]
      .arr.find(s => jLong(jsonAt(s, "snapshot-id")) == currentId).get
    val listPath = jsonAt(snap, "manifest-list") match {
      case org.json4s.JString(p) => p
      case other => throw new IllegalStateException(s"bad manifest-list: $other")
    }
    val (manifestFiles, _) = readAvro(listPath)
    val entries = manifestFiles
      .filter(_.get("content").asInstanceOf[Int] == 0) // data manifests only
      .flatMap { mf =>
        readAvro(mf.get("manifest_path").toString)._1
      }.filter(_.get("status").asInstanceOf[Int] != 2)
    def boundOf(e: GenericRecord, field: String): Option[Long] = {
      val m = e.get("data_file").asInstanceOf[GenericRecord].get(field)
      Option(m).flatMap { arr =>
        arr.asInstanceOf[java.util.List[GenericRecord]].asScala
          .find(_.get("key").asInstanceOf[Int] == fieldId)
          .map(kv => decodeLongLE(kv.get("value").asInstanceOf[java.nio.ByteBuffer]))
      }
    }
    val kept = entries.filter { e =>
      (boundOf(e, "lower_bounds"), boundOf(e, "upper_bounds")) match {
        case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
        case _ => true // no bounds → conservative keep
      }
    }.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("file_path").toString)
    (kept, entries.size)
  }

  /** Range read THROUGH the exported pruning metadata: scan only the
    * files [[dataFilesWhereLong]] keeps, then apply the predicate in
    * full (pruning is an optimization, never a semantics change). The
    * restricted scan goes through [[readTable]]'s `keepDataFiles`, so
    * identity-partition constants, schema projection, AND delete
    * application (equality, position, DV) all serve the pruned read —
    * deletes are file-local under the anti-join formulation (see
    * [[readFromMetadata]]), so merge-on-read no longer forces the full
    * scan a range query exists to avoid. At 100 TB this is the
    * difference between a point-range probe reading its few files and
    * re-reading the table because it carries deltas.
    */
  def readTableWhereLong(spark: SparkSession, tablePath: String,
                         column: String, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    readTableWherePruned(spark, tablePath, column, lo, hi,
      col(column).between(lo, hi))
  }

  /** Date-typed leg of the same pruning: DATE bounds export as 4-byte
    * epoch-day ints, which decode into the same long comparison —
    * [lo, hi] inclusive, the predicate re-checked against real DATE
    * literals.
    */
  def readTableWhereDate(spark: SparkSession, tablePath: String,
                         column: String, lo: java.time.LocalDate,
                         hi: java.time.LocalDate): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    readTableWherePruned(spark, tablePath, column,
      lo.toEpochDay, hi.toEpochDay,
      col(column).between(lit(java.sql.Date.valueOf(lo)),
        lit(java.sql.Date.valueOf(hi))))
  }

  private def readTableWherePruned(spark: SparkSession, tablePath: String,
                                   column: String, lo: Long, hi: Long,
                                   pred: org.apache.spark.sql.Column): DataFrame = {
    val (kept, total) = dataFilesWhereLong(tablePath, column, lo, hi)
    if (kept.isEmpty) readTable(spark, tablePath).filter(pred).limit(0)
    else if (kept.size == total) readTable(spark, tablePath).filter(pred)
    else readTable(spark, tablePath,
      keepDataFiles = Some(kept.toSet)).filter(pred)
  }
}
