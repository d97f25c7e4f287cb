package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Read-only Apache Iceberg v2 interop (SURVEY §2.27, VERDICT r9 stretch):
  * a reader for the PUBLISHED Iceberg table-format layout — table-metadata
  * JSON → manifest-list Avro → manifest Avro → live parquet data files —
  * implemented from the public spec (iceberg.apache.org/spec: format
  * version 2 field names/ids), with no Iceberg library on the classpath
  * (only avro-core ships with Spark). The fixture table is hand-built
  * against the same spec, with two snapshots exercising the reader's
  * three status semantics: snapshot 1 has files A,B ADDED; snapshot 2
  * rewrites the manifest to A EXISTING + B DELETED and appends C ADDED —
  * a reader must serve (A,B) at snapshot 1, (A,C) at snapshot 2, and
  * never surface the tombstoned B.
  *
  * Scale posture: the metadata walk is driver-side O(manifests) exactly
  * like the in-house lakehouse ledger (a production reader distributes
  * manifest scanning for 10⁶-file tables — same access path, parallelized
  * over the manifest list); data IO is one pruned parquet scan of the
  * live file set.
  */
object IcebergRead extends Family {

  private val ManifestEntrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int","field-id":0},
      |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |  {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |  {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |    {"name":"content","type":"int","field-id":134},
      |    {"name":"file_path","type":"string","field-id":100},
      |    {"name":"file_format","type":"string","field-id":101},
      |    {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      |    {"name":"record_count","type":"long","field-id":103},
      |    {"name":"file_size_in_bytes","type":"long","field-id":104}
      |  ]}}
      |]}""".stripMargin)

  private val ManifestFileSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string","field-id":500},
      |  {"name":"manifest_length","type":"long","field-id":501},
      |  {"name":"partition_spec_id","type":"int","field-id":502},
      |  {"name":"content","type":"int","field-id":517},
      |  {"name":"sequence_number","type":"long","field-id":515},
      |  {"name":"min_sequence_number","type":"long","field-id":516},
      |  {"name":"added_snapshot_id","type":"long","field-id":503},
      |  {"name":"added_files_count","type":"int","field-id":504},
      |  {"name":"existing_files_count","type":"int","field-id":505},
      |  {"name":"deleted_files_count","type":"int","field-id":506},
      |  {"name":"added_rows_count","type":"long","field-id":512},
      |  {"name":"existing_rows_count","type":"long","field-id":513},
      |  {"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  private def writeAvro(path: String, schema: Schema, recs: Seq[GenericRecord]): Long = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(path))
    recs.foreach(w.append)
    w.close()
    Files.size(Paths.get(path))
  }

  private def readAvro(path: String, schema: Schema): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](new java.io.File(path),
      new GenericDatumReader[GenericRecord](schema))
    val buf = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
    while (r.hasNext) buf += r.next()
    r.close()
    buf.toSeq
  }

  /** One parquet DATA FILE (not a directory) under the table's data/ dir. */
  private def writeDataFile(df: DataFrame, dir: String, name: String): (String, Long) = {
    val tmp = s"$dir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val dest = Paths.get(dir, "data", s"$name.parquet")
    Files.createDirectories(dest.getParent)
    Files.move(part.toPath, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(tmp).listFiles().foreach(_.delete()); new java.io.File(tmp).delete()
    (dest.toString, df.count())
  }

  private def entry(status: Int, snap: Long, seq: Long, path: String, rows: Long): GenericRecord = {
    val df = new GenericData.Record(ManifestEntrySchema.getField("data_file").schema())
    df.put("content", 0) // 0 = DATA per spec
    df.put("file_path", path)
    df.put("file_format", "PARQUET")
    df.put("partition", new GenericData.Record(
      ManifestEntrySchema.getField("data_file").schema().getField("partition").schema()))
    df.put("record_count", rows)
    df.put("file_size_in_bytes", Files.size(Paths.get(path)))
    val e = new GenericData.Record(ManifestEntrySchema)
    e.put("status", status); e.put("snapshot_id", snap)
    e.put("sequence_number", seq); e.put("file_sequence_number", seq)
    e.put("data_file", df)
    e
  }

  private def manifestFile(path: String, len: Long, snap: Long, seq: Long,
      added: Int, existing: Int, deleted: Int,
      addedRows: Long, existingRows: Long, deletedRows: Long): GenericRecord = {
    val m = new GenericData.Record(ManifestFileSchema)
    m.put("manifest_path", path); m.put("manifest_length", len)
    m.put("partition_spec_id", 0); m.put("content", 0) // 0 = data manifest
    m.put("sequence_number", seq); m.put("min_sequence_number", 1L)
    m.put("added_snapshot_id", snap)
    m.put("added_files_count", added); m.put("existing_files_count", existing)
    m.put("deleted_files_count", deleted)
    m.put("added_rows_count", addedRows); m.put("existing_rows_count", existingRows)
    m.put("deleted_rows_count", deletedRows)
    m
  }

  /** Build the two-snapshot fixture table once per (JVM, sf). */
  private[graft] def ensureTable(s: SparkSession, d: String): String =
    ensureTableAt(s, d, "iceberg_tbl")

  /** Same fixture at a caller-chosen root — the write-side op appends to
    * its OWN copy so the read op's current-snapshot assertion stays true. */
  private[graft] def ensureTableAt(s: SparkSession, d: String, name: String): String =
    Scratch.staged(name, d)(writeTable(s, d, _))

  private def writeTable(s: SparkSession, d: String, root: String): Unit = {
    Files.createDirectories(Paths.get(root, "metadata"))
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
    val (fa, na) = writeDataFile(o.where(col("o_orderkey") % 3 === 0), root, "A")
    val (fb, nb) = writeDataFile(o.where(col("o_orderkey") % 3 === 1), root, "B")
    val (fc, nc) = writeDataFile(o.where(col("o_orderkey") % 3 === 2), root, "C")
    // snapshot 1001 (seq 1): manifest m1 adds A and B
    val m1 = s"$root/metadata/m1.avro"
    val m1len = writeAvro(m1, ManifestEntrySchema,
      Seq(entry(1, 1001L, 1L, fa, na), entry(1, 1001L, 1L, fb, nb)))
    val ml1 = s"$root/metadata/snap-1001.avro"
    writeAvro(ml1, ManifestFileSchema,
      Seq(manifestFile(m1, m1len, 1001L, 1L, 2, 0, 0, na + nb, 0L, 0L)))
    // snapshot 1002 (seq 2): manifest m2 REWRITES m1's content (A EXISTING,
    // B DELETED — the tombstone a v2 reader must skip) and adds C
    val m2 = s"$root/metadata/m2.avro"
    val m2len = writeAvro(m2, ManifestEntrySchema,
      Seq(entry(0, 1001L, 1L, fa, na), entry(2, 1002L, 2L, fb, nb),
        entry(1, 1002L, 2L, fc, nc)))
    val ml2 = s"$root/metadata/snap-1002.avro"
    writeAvro(ml2, ManifestFileSchema,
      Seq(manifestFile(m2, m2len, 1002L, 2L, 1, 1, 1, nc, na, nb)))
    val meta =
      s"""{"format-version":2,"table-uuid":"9e2f1c5a-0000-4000-8000-000000000042",
         |"location":"$root","last-sequence-number":2,"last-updated-ms":1700000000000,
         |"last-column-id":3,"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"o_orderkey","required":false,"type":"long"},
         |  {"id":2,"name":"o_orderstatus","required":false,"type":"string"},
         |  {"id":3,"name":"o_totalprice","required":false,"type":"double"}]}],
         |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
         |"last-partition-id":999,"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],
         |"current-snapshot-id":1002,
         |"snapshots":[
         |  {"snapshot-id":1001,"sequence-number":1,"timestamp-ms":1699999000000,
         |   "manifest-list":"$ml1","summary":{"operation":"append"}},
         |  {"snapshot-id":1002,"sequence-number":2,"timestamp-ms":1700000000000,
         |   "manifest-list":"$ml2","summary":{"operation":"overwrite"}}]}""".stripMargin
    Files.write(Paths.get(root, "metadata", "v2.metadata.json"),
      meta.getBytes(StandardCharsets.UTF_8))
  }

  /** THE READER: metadata JSON → snapshot → manifest list → manifests →
    * live (status != DELETED) parquet paths. Metadata is parsed with
    * Jackson (ships with Spark; same as DeltaRead) — the spec does not
    * fix field order inside a snapshot entry, so regex extraction would
    * break the moment e.g. `summary` precedes `manifest-list`. */
  /** Highest vN.metadata.json — the table's current metadata version
    * (the CAS in the append path makes version files immutable, so
    * "largest N" is the committed head exactly as the spec intends). */
  private[graft] def latestMetadata(root: String): java.nio.file.Path = {
    val vs = new java.io.File(root, "metadata").listFiles()
      .filter(_.getName.matches("v\\d+\\.metadata\\.json"))
    require(vs.nonEmpty, s"no metadata version file under $root/metadata")
    vs.maxBy(_.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt).toPath
  }

  private[graft] def liveFiles(root: String, snapshotId: Option[Long]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val meta = new String(Files.readAllBytes(latestMetadata(root)),
      StandardCharsets.UTF_8)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(meta)
    val current = Option(node.get("current-snapshot-id")).map(_.asLong)
      .getOrElse(sys.error("no current-snapshot-id in table metadata"))
    val want = snapshotId.getOrElse(current)
    val manifestList = Option(node.get("snapshots")).toSeq
      .flatMap(_.elements().asScala)
      .find(sn => Option(sn.get("snapshot-id")).exists(_.asLong == want))
      .flatMap(sn => Option(sn.get("manifest-list")).map(_.asText))
      .getOrElse(sys.error(s"snapshot $want not found in table metadata"))
    readAvro(manifestList, ManifestFileSchema)
      .map(_.get("manifest_path").toString)
      .flatMap { mp =>
        readAvro(mp, ManifestEntrySchema).collect {
          case e if e.get("status").asInstanceOf[Int] != 2 => // 2 = DELETED
            e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString
        }
      }
  }

  /** Write-side interop: COMMIT an append snapshot (1003) to the fixture
    * table, exactly the way the spec's append operation does it —
    *   1. one new parquet data file D (the tombstoned B slice restored),
    *   2. a new manifest m3 (D ADDED, sequence 3),
    *   3. a new manifest LIST = the previous snapshot's manifest entries
    *      + m3 (append keeps prior manifests; their statuses replay),
    *   4. a new metadata version v3 committed by CAS: write to a temp
    *      file, then an atomic no-replace move — a concurrent committer
    *      loses with FileAlreadyExistsException and must re-read, which
    *      is precisely Iceberg's optimistic-concurrency contract.
    * Re-entry (v3 already present) skips straight to grading, so the op
    * is idempotent per (JVM, sf). */
  private def appendSnapshot(s: SparkSession, d: String): String = {
    val root = ensureTableAt(s, d, "iceberg_tbl_w")
    val v3 = Paths.get(root, "metadata", "v3.metadata.json")
    if (!Files.exists(v3)) {
      import scala.jdk.CollectionConverters._
      val o = Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
      val (fd, nd) = writeDataFile(o.where(col("o_orderkey") % 3 === 1), root, "D")
      val m3 = s"$root/metadata/m3.avro"
      val m3len = writeAvro(m3, ManifestEntrySchema, Seq(entry(1, 1003L, 3L, fd, nd)))
      // previous snapshot's manifest list (from the CURRENT metadata, not
      // an assumed name — the commit must build on the head it read)
      val meta = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(Files.readAllBytes(latestMetadata(root)), StandardCharsets.UTF_8))
      val current = meta.get("current-snapshot-id").asLong
      val prevMl = meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong == current)
        .map(_.get("manifest-list").asText)
        .getOrElse(sys.error("current snapshot missing from metadata"))
      val prevEntries = readAvro(prevMl, ManifestFileSchema)
      val ml3 = s"$root/metadata/snap-1003.avro"
      writeAvro(ml3, ManifestFileSchema,
        manifestFile(m3, m3len, 1003L, 3L, 1, 0, 0, nd, 0L, 0L) +: prevEntries)
      val ml1 = s"$root/metadata/snap-1001.avro"
      val ml2 = s"$root/metadata/snap-1002.avro"
      val newMeta =
        s"""{"format-version":2,"table-uuid":"9e2f1c5a-0000-4000-8000-000000000042",
           |"location":"$root","last-sequence-number":3,"last-updated-ms":1700000100000,
           |"last-column-id":3,"current-schema-id":0,
           |"schemas":[{"schema-id":0,"type":"struct","fields":[
           |  {"id":1,"name":"o_orderkey","required":false,"type":"long"},
           |  {"id":2,"name":"o_orderstatus","required":false,"type":"string"},
           |  {"id":3,"name":"o_totalprice","required":false,"type":"double"}]}],
           |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
           |"last-partition-id":999,"default-sort-order-id":0,
           |"sort-orders":[{"order-id":0,"fields":[]}],
           |"current-snapshot-id":1003,
           |"snapshots":[
           |  {"snapshot-id":1001,"sequence-number":1,"timestamp-ms":1699999000000,
           |   "manifest-list":"$ml1","summary":{"operation":"append"}},
           |  {"snapshot-id":1002,"sequence-number":2,"timestamp-ms":1700000000000,
           |   "manifest-list":"$ml2","summary":{"operation":"overwrite"}},
           |  {"snapshot-id":1003,"sequence-number":3,"timestamp-ms":1700000100000,
           |   "manifest-list":"$ml3","summary":{"operation":"append"}}]}""".stripMargin
      val tmp = Files.createTempFile(Paths.get(root, "metadata"), "v3-", ".tmp")
      Files.write(tmp, newMeta.getBytes(StandardCharsets.UTF_8))
      try Files.move(tmp, v3) // no REPLACE_EXISTING: this IS the CAS
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp) // lost the race; the winner's commit stands
      }
    }
    root
  }

  /** MERGE-ON-READ: scan the live data files with Spark's file-metadata
    * columns, anti-join the POSITION-delete set on (file_path, row_index)
    * and the EQUALITY-delete set on its equality column — both delete
    * applies are DISTRIBUTED joins, never a driver loop, which is exactly
    * how it must work when a 100 TB table carries 10⁹ tombstones.
    * Deletes apply to data files whose sequence ≤ the delete's sequence;
    * this fixture's only delete snapshot is the head, so the guard is
    * vacuous here and the entries' sequence fields carry the proof.
    * data_file.content: 1 = position deletes (file_path, pos columns),
    * 2 = equality deletes (the equality-id columns themselves). */
  private def readMergeOnRead(s: SparkSession, root: String, snap: Long): DataFrame = {
    val (dataFs, posFs, eqFs) = liveDataAndDeletes(root, Some(snap))
    var df = s.read.parquet(dataFs: _*)
      .withColumn("_fp", expr("_metadata.file_path"))
      .withColumn("_pos", expr("_metadata.row_index"))
    if (posFs.nonEmpty) df = df.join(
      s.read.parquet(posFs: _*).select(col("file_path").as("_fp"), col("pos").as("_pos")),
      Seq("_fp", "_pos"), "left_anti")
    if (eqFs.nonEmpty) df = df.join(
      s.read.parquet(eqFs: _*).select(col("o_orderkey")),
      Seq("o_orderkey"), "left_anti")
    df.drop("_fp", "_pos")
  }

  private def liveDataAndDeletes(root: String, snap: Option[Long]): (Seq[String], Seq[String], Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val meta = new String(Files.readAllBytes(latestMetadata(root)), StandardCharsets.UTF_8)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(meta)
    val want = snap.getOrElse(node.get("current-snapshot-id").asLong)
    val manifestList = node.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == want)
      .map(_.get("manifest-list").asText)
      .getOrElse(sys.error(s"snapshot $want not found"))
    val live = readAvro(manifestList, ManifestFileSchema)
      .map(_.get("manifest_path").toString)
      .flatMap { mp =>
        readAvro(mp, ManifestEntrySchema).collect {
          case e if e.get("status").asInstanceOf[Int] != 2 =>
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            (df.get("content").asInstanceOf[Int], df.get("file_path").toString)
        }
      }
    (live.collect { case (0, p) => p },
      live.collect { case (1, p) => p },
      live.collect { case (2, p) => p })
  }

  /** Commit snapshot 1003 to a fresh fixture copy: a v2 POSITION-DELETE
    * file (spec field ids 2147483546 file_path / 2147483545 pos, written
    * through Spark's parquet field-id support) tombstoning file A's
    * o_orderkey % 9 = 0 rows, carried by a content=1 DELETE manifest,
    * manifest list = prior entries + the delete manifest, metadata CAS'd
    * to v3 exactly like the append path. The delete file itself is
    * WRITTEN distributedly — positions come from the same
    * _metadata.row_index scan the reader uses, so paths match by
    * construction. */
  private def deleteSnapshot(s: SparkSession, d: String): String = {
    val root = ensureTableAt(s, d, "iceberg_tbl_del")
    val v3 = Paths.get(root, "metadata", "v3.metadata.json")
    if (!Files.exists(v3)) {
      import scala.jdk.CollectionConverters._
      val fa = s"$root/data/A.parquet"
      val fieldId = (n: Long) => new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", n).build()
      val delDf = s.read.parquet(fa)
        .withColumn("fp", expr("_metadata.file_path"))
        .withColumn("rp", expr("_metadata.row_index"))
        .where(col("o_orderkey") % 9 === 0)
        .select(col("fp").as("file_path", fieldId(2147483546L)),
          col("rp").as("pos", fieldId(2147483545L)))
      val (fdel, ndel) = withConfs(s)("spark.sql.parquet.fieldId.write.enabled" -> "true") {
        writeDataFile(delDf, root, "A-deletes")
      }
      val m3 = s"$root/metadata/m3-deletes.avro"
      val delEntry = {
        val e = entry(1, 1003L, 3L, fdel, ndel)
        e.get("data_file").asInstanceOf[GenericRecord].put("content", 1) // POSITION_DELETES
        e
      }
      val m3len = writeAvro(m3, ManifestEntrySchema, Seq(delEntry))
      val meta = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(Files.readAllBytes(latestMetadata(root)), StandardCharsets.UTF_8))
      val current = meta.get("current-snapshot-id").asLong
      val prevMl = meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong == current)
        .map(_.get("manifest-list").asText)
        .getOrElse(sys.error("current snapshot missing from metadata"))
      val prevEntries = readAvro(prevMl, ManifestFileSchema)
      val ml3 = s"$root/metadata/snap-1003.avro"
      val delManifest = {
        val m = manifestFile(m3, m3len, 1003L, 3L, 1, 0, 0, ndel, 0L, 0L)
        m.put("content", 1) // DELETE manifest
        m
      }
      writeAvro(ml3, ManifestFileSchema, delManifest +: prevEntries)
      val ml1 = s"$root/metadata/snap-1001.avro"
      val ml2 = s"$root/metadata/snap-1002.avro"
      val newMeta =
        s"""{"format-version":2,"table-uuid":"9e2f1c5a-0000-4000-8000-000000000042",
           |"location":"$root","last-sequence-number":3,"last-updated-ms":1700000200000,
           |"last-column-id":3,"current-schema-id":0,
           |"schemas":[{"schema-id":0,"type":"struct","fields":[
           |  {"id":1,"name":"o_orderkey","required":false,"type":"long"},
           |  {"id":2,"name":"o_orderstatus","required":false,"type":"string"},
           |  {"id":3,"name":"o_totalprice","required":false,"type":"double"}]}],
           |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
           |"last-partition-id":999,"default-sort-order-id":0,
           |"sort-orders":[{"order-id":0,"fields":[]}],
           |"current-snapshot-id":1003,
           |"snapshots":[
           |  {"snapshot-id":1001,"sequence-number":1,"timestamp-ms":1699999000000,
           |   "manifest-list":"$ml1","summary":{"operation":"append"}},
           |  {"snapshot-id":1002,"sequence-number":2,"timestamp-ms":1700000000000,
           |   "manifest-list":"$ml2","summary":{"operation":"overwrite"}},
           |  {"snapshot-id":1003,"sequence-number":3,"timestamp-ms":1700000200000,
           |   "manifest-list":"$ml3","summary":{"operation":"delete"}}]}""".stripMargin
      val tmp = Files.createTempFile(Paths.get(root, "metadata"), "v3-", ".tmp")
      Files.write(tmp, newMeta.getBytes(StandardCharsets.UTF_8))
      try Files.move(tmp, v3)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp)
      }
    }
    root
  }

  /** Commit snapshot 1003 with a v2 EQUALITY-delete file (content=2):
    * the delete file holds the equality column itself (o_orderkey,
    * field id 1 = the schema's id for it, written through Spark's
    * parquet field-id support) — every row whose key matches ANY delete
    * row is dead, regardless of which data file holds it. This is the
    * delete flavor streaming CDC writers emit (they can't know
    * positions); position deletes are the compaction-time flavor. */
  private def eqDeleteSnapshot(s: SparkSession, d: String): String = {
    val root = ensureTableAt(s, d, "iceberg_tbl_eqdel")
    val v3 = Paths.get(root, "metadata", "v3.metadata.json")
    if (!Files.exists(v3)) {
      import scala.jdk.CollectionConverters._
      val fieldId = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", 1L).build()
      val delDf = Tables.orders(s, d)
        .where(col("o_orderkey") % 14 === 0)
        .select(col("o_orderkey").as("o_orderkey", fieldId))
      val (fdel, ndel) = withConfs(s)("spark.sql.parquet.fieldId.write.enabled" -> "true") {
        writeDataFile(delDf, root, "eq-deletes")
      }
      val m3 = s"$root/metadata/m3-eqdeletes.avro"
      val delEntry = {
        val e = entry(1, 1003L, 3L, fdel, ndel)
        e.get("data_file").asInstanceOf[GenericRecord].put("content", 2) // EQUALITY_DELETES
        e
      }
      val m3len = writeAvro(m3, ManifestEntrySchema, Seq(delEntry))
      val meta = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(Files.readAllBytes(latestMetadata(root)), StandardCharsets.UTF_8))
      val current = meta.get("current-snapshot-id").asLong
      val prevMl = meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong == current)
        .map(_.get("manifest-list").asText)
        .getOrElse(sys.error("current snapshot missing from metadata"))
      val prevEntries = readAvro(prevMl, ManifestFileSchema)
      val ml3 = s"$root/metadata/snap-1003.avro"
      val delManifest = {
        val m = manifestFile(m3, m3len, 1003L, 3L, 1, 0, 0, ndel, 0L, 0L)
        m.put("content", 1) // DELETE manifest
        m
      }
      writeAvro(ml3, ManifestFileSchema, delManifest +: prevEntries)
      val ml1 = s"$root/metadata/snap-1001.avro"
      val ml2 = s"$root/metadata/snap-1002.avro"
      val newMeta =
        s"""{"format-version":2,"table-uuid":"9e2f1c5a-0000-4000-8000-000000000042",
           |"location":"$root","last-sequence-number":3,"last-updated-ms":1700000300000,
           |"last-column-id":3,"current-schema-id":0,
           |"schemas":[{"schema-id":0,"type":"struct","fields":[
           |  {"id":1,"name":"o_orderkey","required":false,"type":"long"},
           |  {"id":2,"name":"o_orderstatus","required":false,"type":"string"},
           |  {"id":3,"name":"o_totalprice","required":false,"type":"double"}]}],
           |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
           |"last-partition-id":999,"default-sort-order-id":0,
           |"sort-orders":[{"order-id":0,"fields":[]}],
           |"current-snapshot-id":1003,
           |"snapshots":[
           |  {"snapshot-id":1001,"sequence-number":1,"timestamp-ms":1699999000000,
           |   "manifest-list":"$ml1","summary":{"operation":"append"}},
           |  {"snapshot-id":1002,"sequence-number":2,"timestamp-ms":1700000000000,
           |   "manifest-list":"$ml2","summary":{"operation":"overwrite"}},
           |  {"snapshot-id":1003,"sequence-number":3,"timestamp-ms":1700000300000,
           |   "manifest-list":"$ml3","summary":{"operation":"delete"}}]}""".stripMargin
      val tmp = Files.createTempFile(Paths.get(root, "metadata"), "v3-", ".tmp")
      Files.write(tmp, newMeta.getBytes(StandardCharsets.UTF_8))
      try Files.move(tmp, v3)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp)
      }
    }
    root
  }

  val ops: Seq[Op] = Seq(
    // Row-level DELETE through v2 EQUALITY-delete files (the CDC-writer
    // flavor), applied merge-on-read by a distributed key anti-join:
    // snapshot 1003 kills every %14=0 key; 1002 time-travels intact.
    Op("sink_iceberg_eq_delete", (s, d) => {
      val root = eqDeleteSnapshot(s, d)
      def rollup(snap: Long): DataFrame =
        readMergeOnRead(s, root, snap)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).cast("double").as("total"))
          .withColumn("snapshot_id", lit(snap))
      rollup(1002L).unionByName(rollup(1003L))
        .select("snapshot_id", "o_orderstatus", "n_orders", "total")
        .orderBy("snapshot_id", "o_orderstatus")
    },
      // Key-membership replay: snapshot 1002 = A (%3=0) + C (%3=2) intact;
      // 1003 = the same minus every %14=0 key (the equality-delete set).
      """WITH s1 AS (SELECT CAST(1002 AS BIGINT) AS snapshot_id, o_orderstatus,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderkey % 3 IN (0, 2) GROUP BY 2),
        |s2 AS (SELECT CAST(1003 AS BIGINT) AS snapshot_id, o_orderstatus,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders
        |  WHERE o_orderkey % 3 IN (0, 2) AND o_orderkey % 14 <> 0
        |  GROUP BY 2)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |ORDER BY snapshot_id, o_orderstatus""".stripMargin),

    // Row-level DELETE through v2 position-delete files, applied
    // merge-on-read: snapshot 1003 tombstones file A's %9=0 rows without
    // rewriting A; time travel to 1002 still serves A intact.
    Op("sink_iceberg_delete", (s, d) => {
      val root = deleteSnapshot(s, d)
      def rollup(snap: Long): DataFrame =
        readMergeOnRead(s, root, snap)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).cast("double").as("total"))
          .withColumn("snapshot_id", lit(snap))
      rollup(1002L).unionByName(rollup(1003L))
        .select("snapshot_id", "o_orderstatus", "n_orders", "total")
        .orderBy("snapshot_id", "o_orderstatus")
    },
      // File+position membership replay: snapshot 1002 = A (%3=0) and C
      // (%3=2) intact; snapshot 1003 = the same files with A's %9=0 rows
      // position-deleted (%9=0 ⊂ %3=0, so the predicate replays exactly).
      """WITH s1 AS (SELECT CAST(1002 AS BIGINT) AS snapshot_id, o_orderstatus,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderkey % 3 IN (0, 2) GROUP BY 2),
        |s2 AS (SELECT CAST(1003 AS BIGINT) AS snapshot_id, o_orderstatus,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders
        |  WHERE (o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0) OR o_orderkey % 3 = 2
        |  GROUP BY 2)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |ORDER BY snapshot_id, o_orderstatus""".stripMargin),

    Op("sink_iceberg_append", (s, d) => {
      val root = appendSnapshot(s, d)
      def rollup(snap: Long): DataFrame =
        s.read.parquet(liveFiles(root, Some(snap)): _*)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).cast("double").as("total"))
          .withColumn("snapshot_id", lit(snap))
      // the committed head must resolve to 1003, and time travel to the
      // PRE-append snapshot must be byte-stable (append never rewrites)
      require(liveFiles(root, None).sorted == liveFiles(root, Some(1003L)).sorted,
        "current-snapshot-id did not resolve to the appended snapshot")
      rollup(1002L).unionByName(rollup(1003L))
        .select("snapshot_id", "o_orderstatus", "n_orders", "total")
        .orderBy("snapshot_id", "o_orderstatus")
    },
      // File-membership replay of the committed append: snapshot 1002 still
      // serves A (%3=0) and C (%3=2) — time travel is stable — and 1003
      // serves A, C, and the restored D (%3=1) = the whole corpus.
      """WITH s1 AS (SELECT CAST(1002 AS BIGINT) AS snapshot_id, o_orderstatus,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderkey % 3 IN (0, 2) GROUP BY 2),
        |s2 AS (SELECT CAST(1003 AS BIGINT) AS snapshot_id, o_orderstatus,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 2)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |ORDER BY snapshot_id, o_orderstatus""".stripMargin),

    Op("source_iceberg_read", (s, d) => {
      val root = ensureTable(s, d)
      def rollup(snap: Long): DataFrame =
        s.read.parquet(liveFiles(root, Some(snap)): _*)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).cast("double").as("total"))
          .withColumn("snapshot_id", lit(snap))
      // current-snapshot resolution must agree with the explicit id
      val cur = liveFiles(root, None).sorted
      require(cur == liveFiles(root, Some(1002L)).sorted,
        "current-snapshot-id did not resolve to snapshot 1002")
      rollup(1001L).unionByName(rollup(1002L))
        .select("snapshot_id", "o_orderstatus", "n_orders", "total")
        .orderBy("snapshot_id", "o_orderstatus")
    },
      // Replays file membership from the deterministic build: snapshot 1001
      // serves files A (%3=0) and B (%3=1); snapshot 1002 serves A and C
      // (%3=2) — B is tombstoned (status DELETED) and must not be read.
      """WITH s1 AS (SELECT CAST(1001 AS BIGINT) AS snapshot_id, o_orderstatus,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 2),
        |s2 AS (SELECT CAST(1002 AS BIGINT) AS snapshot_id, o_orderstatus,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderkey % 3 IN (0, 2) GROUP BY 2)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |ORDER BY snapshot_id, o_orderstatus""".stripMargin)
  )
}
