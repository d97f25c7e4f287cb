package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.1 scans, §2.2 projection/filter, §2.3 joins, §2.6 sorts,
  * §2.7 set ops.
  *
  * Every oracle-verified query ends in a total ORDER BY mirrored exactly in
  * the DuckDB SQL (SURVEY.md §7.3 rule 1); money aggregates use the
  * DECIMAL(18,4) per-row-cast recipe (rule 2); event timestamps compare on
  * exact raw nanoseconds and are emitted second-formatted (rule 3).
  */
object Relational extends Family {
  private val HourUs = 3600L * 1000 * 1000

  private def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  val ops: Seq[Op] = Seq(
    // ---- §2.1 scans ----
    Op("scan_parquet", (s, d) => Tables.nation(s, d).orderBy("n_nationkey"),
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    Op("scan_pruned", (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
        .orderBy("l_orderkey", "l_linenumber", "ship_date"),
      """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber, ship_date""".stripMargin),

    // Engine sink capability: parquet write→read round-trip (rows>0 check
    // only; schema/data equality asserted in ScalaTest). All sink ops write
    // fixed subdirs of the per-JVM Scratch dir (overwrite mode) so repeated
    // runs don't accumulate temp data.
    Op("sink_roundtrip", (s, d) => {
      Tables.nation(s, d).write.mode("overwrite").parquet(s"${Scratch.dir}/nation_rt")
      s.read.parquet(s"${Scratch.dir}/nation_rt").orderBy("n_nationkey")
    },
      // The round-trip must preserve nation byte-for-byte, so the oracle is a
      // plain scan of the source table.
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    // ORC round-trip: the second columnar warehouse format a Hive-style
    // service serves (schema preserved end-to-end; DuckDB cannot read ORC,
    // so the oracle is the source scan the round-trip must reproduce).
    Op("source_orc_roundtrip", (s, d) => {
      Tables.nation(s, d).write.mode("overwrite").orc(s"${Scratch.dir}/nation_orc")
      s.read.orc(s"${Scratch.dir}/nation_orc").orderBy("n_nationkey")
    },
      // The ORC round-trip must reproduce nation exactly.
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    // Parquet modular encryption (PARQUET-1178 — column + footer
    // encryption at rest, the storage-layer twin of fn_crypto's
    // cell-level AES): orders written with an encrypted footer (key kf)
    // and two encrypted columns (key kc) through
    // PropertiesDrivenCryptoFactory + the conf-backed ConfKms client,
    // then read back with the keys and rolled up. Two graded VERDICTS
    // ride along: the files really are ciphertext (first bytes = "PARE",
    // the encrypted-footer magic, not "PAR1"), and a keyless reader is
    // DENIED (fresh KMS token so the probe can't hit the key cache —
    // fails closed, no plaintext fallback). The oracle replays the
    // rollup from the source table + TRUE verdicts: encryption must be
    // exactly invisible to an authorized reader. Scale: encryption is
    // per-file writer/reader work — fully parallel, no extra shuffle.
    Op("source_parquet_encrypted", (s, d) => {
      val dir = Scratch.opDir("pq_enc", d)
      val hc = s.sparkContext.hadoopConfiguration
      val confKeys = Seq("parquet.crypto.factory.class",
        "parquet.encryption.kms.client.class", "parquet.encryption.key.access.token",
        "graft.encryption.key.list")
      val prev = confKeys.map(k => k -> Option(hc.get(k)))
      val keyList = "kf:AAECAwQFBgcICQoLDA0ODw==,kc:EBESExQVFhcYGRobHB0eHw=="
      try {
        hc.set("parquet.crypto.factory.class",
          "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory")
        hc.set("parquet.encryption.kms.client.class", "graft.ops.ConfKms")
        hc.set("graft.encryption.key.list", keyList)
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite")
          .option("parquet.encryption.footer.key", "kf")
          .option("parquet.encryption.column.keys", "kc:o_totalprice,o_custkey")
          .parquet(dir)
        // verdict 1 (driver-side, O(1) IO): encrypted-footer files open
        // with the "PARE" magic instead of plaintext parquet's "PAR1"
        val part = new java.io.File(dir).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .minBy(_.getName)
        val magic = {
          val in = new java.io.FileInputStream(part)
          try { val b = new Array[Byte](4); in.read(b); new String(b, "US-ASCII") }
          finally in.close()
        }
        // verdict 2: a reader whose KMS holds no keys is denied — fresh
        // access token forces a new ConfKms instance past the client cache
        // Fail-closed contract: only the crypto denial chain counts as
        // "denied" — any OTHER failure (bad path, codec bug) rethrows so
        // the verdict cannot false-pass.
        def isCryptoDenial(t: Throwable): Boolean = {
          var c: Throwable = t
          var hit = false
          while (c != null && !hit) {
            val n = c.getClass.getName
            hit = n.endsWith("KeyAccessDeniedException") ||
              n.endsWith("ParquetCryptoRuntimeException")
            c = if (c.getCause eq c) null else c.getCause
          }
          hit
        }
        val denied =
          try {
            hc.set("parquet.encryption.key.access.token", "denied-probe")
            hc.set("graft.encryption.key.list", "")
            s.read.parquet(dir).count(); false
          } catch {
            case t: Throwable if isCryptoDenial(t) => true
          }
          finally {
            hc.set("graft.encryption.key.list", keyList)
            hc.unset("parquet.encryption.key.access.token")
          }
        s.read.parquet(dir)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).cast("double").as("total"))
          .withColumn("footer_encrypted", lit(magic == "PARE"))
          .withColumn("unreadable_without_key", lit(denied))
          .orderBy("o_orderstatus")
          .localCheckpoint() // pin rows before the finally clears the conf
      } finally prev.foreach { case (k, v) =>
        v match { case Some(x) => hc.set(k, x); case None => hc.unset(k) }
      }
    },
      // Encryption must be invisible to an authorized reader: the rollup
      // replays from the source table; the verdicts are pinned TRUE.
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  TRUE AS footer_encrypted, TRUE AS unreadable_without_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Schema evolution across file generations (the day-2 warehouse
    // reality): old files lack a column newer files carry; mergeSchema
    // unions the footers and back-fills nulls on the old generation. The
    // graded read proves both generations land and the missing column
    // nulls out exactly where it should.
    Op("source_schema_evolution", (s, d) => {
      val dir = Scratch.opDir("schema_evo", d)
      val o = Tables.orders(s, d)
      o.where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/v1")
      o.where(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$dir/v2")
      s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
        .groupBy(coalesce(col("o_orderpriority"), lit("(pre-upgrade)")).as("prio"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
        .orderBy("prio")
    },
      """SELECT CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |    THEN o_orderpriority ELSE '(pre-upgrade)' END AS prio,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Partitioned warehouse sink + partition-pruned read: orders written
    // partitionBy(year), then a single-partition scan aggregates 1997 — at
    // 100 TB this is the layout that turns a full-table scan into reading
    // one directory. Oracle = the same aggregate filtered from the source.
    Op("sink_partitioned", (s, d) => {
      val tmp = s"${Scratch.dir}/part"
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(s"$tmp/orders_p")
      s.read.parquet(s"$tmp/orders_p")
        .where(col("o_year") === 1997)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_orderpriority")
    },
      // The pruned-partition aggregate must equal the same aggregate filtered
      // from the unpartitioned source.
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // RECURSIVE file lookup — the non-hive nested-directory ingest
    // (source_hive_partition_infer's opposite number: the layout is
    // y1995/, y1996/ — NO key=value, so partition inference must stay
    // OFF and recursiveFileLookup must walk the tree): stage two
    // year-named subdirs, read with recursiveFileLookup=true, grade the
    // rollup; the spec asserts the schema contains NO inferred
    // partition column — silently inventing one is the failure mode
    // this option exists to prevent.
    Op("source_recursive_lookup", (s, d) => {
      val dir = Scratch.staged("recdirs", d) { dir =>
        Seq(1995, 1996).foreach { y =>
          Tables.orders(s, d).where(year(col("o_orderdate")) === y)
            .write.mode("overwrite").parquet(s"$dir/y$y/batch")
        }
      }
      s.read.option("recursiveFileLookup", "true").parquet(dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_orderpriority")
    },
      // Same rollup off orders (the nested tree holds the 1995–1996 slices).
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Hive-layout partition DISCOVERY — the read-side dual of
    // sink_partitioned: the fixture stages key=value directories the
    // way a FOREIGN writer would (four plain per-year writes into
    // o_year=YYYY dirs — the year column lives ONLY in the directory
    // name, never in any parquet file), then one basePath read must
    // (a) discover the layout, (b) infer o_year as a typed partition
    // column, and (c) prune the 1995 slice at LISTING time from the
    // o_year >= 1996 filter — at 100 TB this pruning is the difference
    // between reading 3 years and reading a decade. The spec asserts
    // the physical plan carries the PartitionFilters; the oracle
    // replays the rollup straight off orders.
    Op("source_hive_partition_infer", (s, d) => {
      val dir = Scratch.staged("hivepart", d) { dir =>
        (1995 to 1998).foreach { y =>
          Tables.orders(s, d).where(year(col("o_orderdate")) === y)
            .write.mode("overwrite").parquet(s"$dir/o_year=$y")
        }
      }
      s.read.option("basePath", dir).parquet((1995 to 1998).map(y => s"$dir/o_year=$y"): _*)
        .where(col("o_year") >= 1996)
        .groupBy(col("o_year").cast("bigint").as("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_year")
    },
      // Same rollup replayed straight off orders (the staged hive layout
      // holds exactly the 1995–1998 slices).
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // CSV/JSON source with schema inference round-trips nation (rows-only
    // check here; full schema assertions in ScalaTest).
    // RAW BINARY ingest (`binaryFile` source) — the front door for
    // multimodal corpora: whole files land as (path, mtime, length,
    // content BINARY) rows with NO decode, the shape every image/audio
    // pipeline starts from (mm_decode_meta is the next stage). The
    // fixture stage writes one .bin per sampled doc (driver-side
    // O(sample) — fixture construction, not the operator; at scale the
    // blobs already exist); the graded read proves identity: byte
    // length + md5(content) must equal the source text's, with the id
    // recovered from the file path. pathGlobFilter prunes non-matching
    // files at LISTING time, before any read.
    Op("source_binary_files", (s, d) => {
      val dir = Scratch.staged("binfiles", d) { dir =>
        Tables.documents(s, d).where(col("doc_id") % 50 === 0)
          .select(col("doc_id"), col("text")).collect()
          .foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, f"doc_${r.getLong(0)}%08d.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("bigint")
            .as("doc_id"),
          col("length"), md5(col("content")).as("content_md5"))
        .orderBy("doc_id")
    },
      // Both inferred sources must re-read all 25 nation rows.
      // Byte identity replayed from the source table (the corpus is
      // ASCII, so char length == byte length; md5 hashes UTF-8 bytes in
      // both engines).
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS length,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id % 50 = 0 ORDER BY doc_id""".stripMargin),

    // Avro container-file ingest — the interchange format message buses
    // and schema registries standardize on. Only avro-core ships in the
    // sandbox (no spark-avro DataFrame source), so the op IS the
    // distributed decode shape: container files staged once (4 files
    // keyed by okey%4), then a binaryFile scan + per-file
    // GenericDatumReader decode inside mapPartitions — the opaque-codec
    // law (mm_decode_meta): Spark parallelizes at file granularity
    // exactly as spark-avro parallelizes at Avro-block granularity; the
    // rollup after the decode is ordinary codegen'd relational algebra.
    // Oracle = the same rollup straight off the parquet subset.
    Op("source_avro_ingest", (s, d) => {
      val dir = Scratch.staged("avroingest", d) { dir =>
        val schema = new org.apache.avro.Schema.Parser().parse(
          """{"type":"record","name":"order_msg","fields":[
            |{"name":"okey","type":"long"},{"name":"status","type":"string"},
            |{"name":"cents","type":"long"}]}""".stripMargin)
        val rows = Tables.orders(s, d).where(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("bigint")).collect()
        rows.groupBy(r => (r.getLong(0) / 10) % 4).foreach { case (part, rs) =>
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          w.create(schema, new java.io.File(s"$dir/part_$part.avro"))
          rs.sortBy(_.getLong(0)).foreach { r =>
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            rec.put("okey", r.getLong(0))
            rec.put("status", r.getString(1))
            rec.put("cents", r.getLong(2))
            w.append(rec)
          }
          w.close()
        }
      }
      import s.implicits._
      s.read.format("binaryFile").option("pathGlobFilter", "*.avro").load(dir)
        .select("content").as[Array[Byte]]
        .mapPartitions { it =>
          it.flatMap { bytes =>
            val in = new org.apache.avro.file.DataFileStream(
              new java.io.ByteArrayInputStream(bytes),
              new org.apache.avro.generic.GenericDatumReader[
                org.apache.avro.generic.GenericRecord]())
            val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
            while (in.hasNext) {
              val r = in.next()
              buf += ((r.get("okey").asInstanceOf[Long],
                r.get("status").toString, r.get("cents").asInstanceOf[Long]))
            }
            in.close(); buf
          }
        }.toDF("okey", "status", "cents")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("okey").as("min_key"), max("okey").as("max_key"))
        .orderBy("status")
    },
      // If any record was lost, duplicated, or altered through the Avro
      // write/decode, a count, sum, or key extreme diverges.
      """SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 10 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Gzip'd line-text ingest — the compressed-text path crawl dumps
    // arrive on (Hadoop's codec layer decompresses .gz transparently on
    // READ; each .gz is one split — the classic small-archives shape):
    // staged shards of TSV lines gzip'd with java.util.zip, read back
    // through spark.read.text, split and rolled up; conservation proves
    // the codec path is lossless. (Non-splittable gz = one task per
    // shard — stage several shards for parallelism, as a crawl does.)
    Op("source_text_gzip", (s, d) => {
      val dir = Scratch.staged("textgz", d) { dir =>
        val rows = Tables.orders(s, d).where(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("bigint")).collect()
        rows.groupBy(r => (r.getLong(0) / 7) % 3).foreach { case (part, rs) =>
          val out = new java.util.zip.GZIPOutputStream(
            java.nio.file.Files.newOutputStream(
              java.nio.file.Paths.get(dir, s"shard_$part.tsv.gz")))
          rs.sortBy(_.getLong(0)).foreach { r =>
            out.write(s"${r.getLong(0)}\t${r.getString(1)}\t${r.getLong(2)}\n"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          out.close()
        }
      }
      s.read.option("pathGlobFilter", "*.gz").text(dir)
        .select(split(col("value"), "\t").as("f"))
        .select(col("f").getItem(0).cast("bigint").as("okey"),
          col("f").getItem(1).as("status"),
          col("f").getItem(2).cast("bigint").as("cents"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("okey").as("min_key"), max("okey").as("max_key"))
        .orderBy("status")
    },
      // The gz codec path must be lossless.
      """SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 7 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Fixed-width text ingest — the COBOL/mainframe exchange format that
    // still feeds real warehouses (no delimiters to trust or escape: the
    // SCHEMA IS THE OFFSETS): records staged as 25-char lines (12-digit
    // zero-padded key, 1-char status, 12-digit cents), read back with
    // pure substring slicing, and the per-status rollup must equal the
    // relational source — a parser bug of even one column shifts a digit
    // and the cents sum catches it.
    Op("source_fixed_width", (s, d) => {
      val dir = Scratch.staged("fixedwidth", d) { dir =>
        val rows = Tables.orders(s, d).where(col("o_orderkey") % 11 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("bigint")).collect()
        val sb = new StringBuilder
        rows.sortBy(_.getLong(0)).foreach { r =>
          sb.append(f"${r.getLong(0)}%012d${r.getString(1)}${r.getLong(2)}%012d\n")
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, "records.dat"),
          sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s.read.option("pathGlobFilter", "*.dat").text(dir)
        .select(
          substring(col("value"), 1, 12).cast("bigint").as("okey"),
          substring(col("value"), 13, 1).as("status"),
          substring(col("value"), 14, 12).cast("bigint").as("cents"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("okey").as("min_key"), max("okey").as("max_key"))
        .orderBy("status")
    },
      // Offset slicing must reproduce the relational rollup exactly.
      """SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 11 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Whole-file text ingest (`wholetext`) — the one-document-per-file
    // shape a crawled corpus lands in (line-based text readers would
    // shred multi-line documents into rows): each staged file comes back
    // as exactly one row, identity proven by md5 + length against the
    // source column; the file key recovered from input_file_name().
    Op("source_wholetext", (s, d) => {
      val dir = Scratch.staged("wholetext", d) { dir =>
        Tables.documents(s, d).where(col("doc_id") % 75 === 0)
          .select(col("doc_id"), col("text")).collect()
          .foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, f"doc_${r.getLong(0)}%08d.txt"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
      }
      s.read.option("wholetext", "true")
        .option("pathGlobFilter", "*.txt").text(dir)
        .select(
          regexp_extract(input_file_name(), "doc_(\\d+)\\.txt", 1).cast("bigint")
            .as("doc_id"),
          length(col("value")).cast("bigint").as("n_chars"),
          md5(col("value")).as("text_md5"))
        .orderBy("doc_id")
    },
      // One row per file, identity by md5 + length.
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  md5(text) AS text_md5
        |FROM documents WHERE doc_id % 75 = 0 ORDER BY doc_id""".stripMargin),

    // Compression-codec roundtrip matrix — the IO conformance sweep a
    // storage layer certifies once per engine upgrade: the same subset
    // written under snappy/gzip/zstd/lz4 parquet compression, each read
    // back and rolled up; any codec that corrupts, truncates, or alters
    // values breaks its row of the matrix. Writes are fixture-scale;
    // the graded artifact is conservation per codec, not file size
    // (sizes are layout-dependent).
    Op("sink_codec_matrix", (s, d) => {
      val codecs = Seq("snappy", "gzip", "zstd", "lz4")
      val base = Tables.orders(s, d).where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      codecs.map { c =>
        val dir = Scratch.opDir(s"codec_$c", d)
        base.write.mode("overwrite").option("compression", c).parquet(dir)
        s.read.parquet(dir)
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
          .withColumn("codec", lit(c))
      }.reduce(_ unionByName _)
        .select("codec", "n", "sum_cents", "min_key", "max_key")
        .orderBy("codec")
    },
      // The same rollup must hold under every codec.
      """WITH r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |    MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |c AS (SELECT unnest(['gzip', 'lz4', 'snappy', 'zstd']) AS codec)
        |SELECT codec, n, sum_cents, min_key, max_key
        |FROM c, r ORDER BY codec""".stripMargin),

    // Parquet footer audit — physical-layout observability (the check a
    // storage layer runs to trust its own metadata): each table's footer
    // row counts, summed across row groups via the parquet-hadoop API,
    // must equal the table's logical COUNT(*). Footers decode inside
    // mapPartitions over the file list (one task per file — at 100 TB
    // this is the manifest-scale distributed metadata scan, data bytes
    // never read); the oracle recomputes the counts logically.
    Op("source_parquet_footer_audit", (s, d) => {
      import s.implicits._
      val tables = Seq("customer", "lineitem", "orders")
      s.createDataset(tables.map(t => (t, s"$d/$t.parquet")))
        .repartition(tables.length)
        .mapPartitions { it =>
          it.map { case (tbl, path) =>
            val conf = new org.apache.hadoop.conf.Configuration()
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(path), conf)
            val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              var rows = 0L
              val blocks = rd.getFooter.getBlocks
              for (i <- 0 until blocks.size()) rows += blocks.get(i).getRowCount
              (tbl, rows)
            } finally rd.close()
          }
        }.toDF("tbl", "footer_rows")
        .orderBy("tbl")
    },
      """SELECT 'customer' AS tbl, CAST(COUNT(*) AS BIGINT) AS footer_rows FROM customer
        |UNION ALL
        |SELECT 'lineitem', CAST(COUNT(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'orders', CAST(COUNT(*) AS BIGINT) FROM orders
        |ORDER BY tbl""".stripMargin),

    // Parquet FORMAT-V2 roundtrip — the encoding generation jump
    // (DataPageV2 + DELTA_BINARY_PACKED for ints, the layout modern
    // columnar readers expect): orders written with writer version
    // PARQUET_2_0, the footer inspected to attest a delta encoding was
    // REALLY used on the int64 key column, and the read-back rollup must
    // equal the relational replay — encodings are a storage detail, never
    // a semantic one.
    Op("source_parquet_v2_roundtrip", (s, d) => {
      val dir = Scratch.staged("pq_v2", d) { dir =>
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey").coalesce(1)
          .write.mode("overwrite")
          .option("parquet.writer.version", "PARQUET_2_0")
          .parquet(dir)
      }
      val part = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getPath),
          new org.apache.hadoop.conf.Configuration()))
      val deltaUsed =
        try {
          val b0 = rd.getFooter.getBlocks.get(0)
          (0 until b0.getColumns.size()).map(b0.getColumns.get(_))
            .find(_.getPath.toDotString == "o_orderkey").get
            .getEncodings.toString.contains("DELTA_BINARY_PACKED")
        } finally rd.close()
      s.read.parquet(dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("sum_cents"))
        .withColumn("delta_encoded", lit(deltaUsed))
        .select("o_orderstatus", "n_orders", "sum_cents", "delta_encoded")
        .orderBy("o_orderstatus")
    },
      // The footer metadata must agree with the logical row counts.
      // Encodings must be answer-invisible: plain rollup + TRUE attestation.
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  TRUE AS delta_encoded
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // JOIN STRATEGY HINTS — the planner-steering surface (MERGE vs
    // BROADCAST): the SAME logical join forced down both physical paths,
    // each executed plan inspected for the strategy it was told to use
    // (SortMergeJoin / BroadcastHashJoin), and the rollup graded from the
    // MERGE path — hints must change the PLAN, never the ANSWER. The
    // in-band booleans attest both strategies actually planned; at
    // 100 TB this is the knob that turns a 2-hour shuffle into a
    // 2-minute broadcast (or an OOM — which is why both must stay
    // available and semantically identical).
    Op("join_hint_strategies", (s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
      def rollup(j: DataFrame) = j
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
      val merged = rollup(o.join(c.hint("merge"), col("o_custkey") === col("c_custkey")))
      val bcast = rollup(o.join(c.hint("broadcast"), col("o_custkey") === col("c_custkey")))
      val mergePlanned = merged.queryExecution.executedPlan.toString
        .contains("SortMergeJoin")
      val bcastPlanned = bcast.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
      merged
        .withColumn("merge_planned", lit(mergePlanned))
        .withColumn("broadcast_planned", lit(bcastPlanned))
        .orderBy("c_mktsegment")
    },
      // Hints must be answer-invisible: the plain rollup + TRUE plan flags.
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  TRUE AS merge_planned, TRUE AS broadcast_planned
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // CSV DIALECT SNIFFING — the ingest step before any schema work (the
    // file never announces its delimiter): a semicolon-delimited staging
    // of orders is sniffed by counting candidate separators across the
    // raw text lines (a one-pass aggregate — python's csv.Sniffer logic
    // as a distributed rollup), the winner re-drives a real csv read, and
    // the parsed rollup must equal the relational replay — a wrong sniff
    // collapses columns and is caught by the oracle.
    Op("source_csv_dialect_sniff", (s, d) => {
      val dir = Scratch.staged("csv_sniff", d) { dir =>
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite").option("sep", ";").option("header", "true")
          .csv(dir)
      }
      val counts = s.read.text(dir)
        .agg(
          sum(expr("length(value) - length(replace(value, ';', ''))")).as("n_semi"),
          sum(expr("length(value) - length(replace(value, ',', ''))")).as("n_comma"),
          sum(expr("length(value) - length(replace(value, '\t', ''))")).as("n_tab"))
        .head()
      val (semi, comma, tab) = (counts.getLong(0), counts.getLong(1), counts.getLong(2))
      val sep = if (semi >= comma && semi >= tab) ";" else if (comma >= tab) "," else "\t"
      val sniffedSemicolon = sep == ";"
      s.read.option("sep", sep).option("header", "true")
        .option("inferSchema", "true").csv(dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("sum_cents"))
        .withColumn("sniffed_semicolon", lit(sniffedSemicolon))
        .select("o_orderstatus", "n_orders", "sum_cents", "sniffed_semicolon")
        .orderBy("o_orderstatus")
    },
      // The sniffed parse must be byte-faithful to the relational source.
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  TRUE AS sniffed_semicolon
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Hidden METADATA columns — Spark's `_metadata` struct on file
    // sources (file_path / file_name / size / row_index): orders staged
    // partitioned by status, read back with the partition value recovered
    // from `_metadata.file_path` instead of the data — the path-derived
    // rollup must equal the data-derived one (the file layout IS
    // metadata; the columns must tell the truth about it). Per-partition
    // file counts ride along: at 100 TB this is how a reader audits
    // partition layout without trusting the catalog.
    Op("source_metadata_columns", (s, d) => {
      val dir = Scratch.staged("meta_cols", d) { dir =>
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
      }
      s.read.parquet(dir)
        .select(col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"),
          col("_metadata.file_path").as("fp"))
        .withColumn("status_from_path",
          regexp_extract(col("fp"), "o_orderstatus=([^/]+)/", 1))
        .groupBy("status_from_path")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"),
          countDistinct(col("fp")).as("n_files"),
          sum(when(col("o_orderstatus") === col("status_from_path"), 1L)
            .otherwise(0L)).as("n_consistent"))
        .withColumn("path_truthful", col("n_consistent") === col("n_rows"))
        .select("status_from_path", "n_rows", "sum_cents", "path_truthful")
        .orderBy("status_from_path")
    },
      // The path-derived rollup must equal the data-derived one.
      """SELECT o_orderstatus AS status_from_path,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  TRUE AS path_truthful
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Row-group pruning — the IO-skipping layer UNDER predicate pushdown
    // (footer_audit trusts the metadata; this USES it): orders staged
    // key-sorted into one parquet file with a tiny block size so MANY row
    // groups form, the footer's per-group o_orderkey min/max planned
    // against a mid-range predicate, and the graded row attests (a) the
    // file really is multi-group, (b) pruning really dropped groups, and
    // (c) the pruned plan's rollup equals the logical filter — metadata
    // planning must be semantically invisible. At 100 TB this exact walk
    // runs per file in the manifest scan; data bytes of pruned groups are
    // never read.
    Op("source_parquet_rowgroup_prune", (s, d) => {
      val dir = Scratch.staged("rg_prune", d) { dir =>
        Tables.orders(s, d).select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey").coalesce(1)
          .write.mode("overwrite")
          // 8 KiB row groups: small enough that even the sf0.001 test
          // fixture (~1.5k rows) splits into several groups
          .option("parquet.block.size", 8192)
          .option("parquet.page.size", 2048)
          .parquet(dir)
      }
      val part = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val conf = new org.apache.hadoop.conf.Configuration()
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getPath), conf))
      val (groups, maxKey) =
        try {
          val bs = rd.getFooter.getBlocks
          val gs = (0 until bs.size()).map { i =>
            val chunk = (0 until bs.get(i).getColumns.size())
              .map(bs.get(i).getColumns.get(_))
              .find(_.getPath.toDotString == "o_orderkey").get
            val st = chunk.getStatistics
            (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
              st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
          }
          (gs, gs.map(_._2).max)
        } finally rd.close()
      val (lo, hi) = (maxKey / 4, maxKey / 2)
      val kept = groups.count { case (mn, mx) => mx >= lo && mn <= hi }
      val multiGroup = groups.size > 1
      val effective = kept < groups.size
      s.read.parquet(dir)
        .where(col("o_orderkey").between(lo, hi))
        .agg(count(lit(1)).as("n_match"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("sum_cents"))
        .select(lit(multiGroup).as("multi_group"),
          lit(effective).as("pruning_effective"),
          lit(lo).as("lo"), lit(hi).as("hi"),
          col("n_match"), col("sum_cents"))
    },
      // Planning over footers must be invisible: TRUE attestations + the
      // logical filter replay (lo/hi derived from the same max key).
      """WITH m AS (SELECT MAX(o_orderkey) AS mk FROM orders),
        |b AS (SELECT mk // 4 AS lo, mk // 2 AS hi FROM m)
        |SELECT TRUE AS multi_group, TRUE AS pruning_effective, lo, hi,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders, b
        |    WHERE o_orderkey BETWEEN lo AND hi) AS n_match,
        |  (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    FROM orders, b WHERE o_orderkey BETWEEN lo AND hi) AS sum_cents
        |FROM b""".stripMargin),

    // NESTED JSON roundtrip — the document-shaped interchange format
    // (API exports, event payloads): orders nested per customer as an
    // array<struct> (sort_array pins the nondeterministic collect_list
    // order), written as JSON lines, read back with full schema
    // INFERENCE (array + struct nesting reconstructed from data alone),
    // then un-nested with explode and rolled up. The rollup must equal
    // the flat-relational replay — nesting is proven lossless.
    Op("source_json_nested", (s, d) => {
      val tmp = s"${Scratch.dir}/src/orders_nested_json"
      Tables.orders(s, d)
        .select(col("o_custkey"),
          struct(col("o_orderkey"),
            expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents")).as("o"))
        .groupBy("o_custkey")
        .agg(sort_array(collect_list(col("o"))).as("orders"))
        .write.mode("overwrite").json(tmp)
      s.read.json(tmp)
        .select(col("o_custkey"), explode(col("orders")).as("o"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), sum("o.cents").as("cents"),
          max("o.o_orderkey").as("max_key"))
        .orderBy("o_custkey")
    },
      // The nested roundtrip replayed flat — if any order was lost or
      // duplicated through nest/write/infer/read/explode, a count or sum
      // diverges.
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    Op("source_csv_json_infer", (s, d) => {
      val tmp = s"${Scratch.dir}/src"
      val n = Tables.nation(s, d)
      n.write.mode("overwrite").option("header", "true").csv(s"$tmp/nation_csv")
      n.write.mode("overwrite").json(s"$tmp/nation_json")
      val fromCsv = s.read.option("header", "true").option("inferSchema", "true")
        .csv(s"$tmp/nation_csv")
      val fromJson = s.read.json(s"$tmp/nation_json")
      fromCsv.select(lit("csv").as("src") +: count_all_cols(fromCsv): _*)
        .unionByName(fromJson.select(lit("json").as("src") +: count_all_cols(fromJson): _*))
        .groupBy("src").count().orderBy("src")
    },
      """SELECT 'csv' AS src, COUNT(*) AS "count" FROM nation
        |UNION ALL SELECT 'json', COUNT(*) FROM nation ORDER BY src""".stripMargin),

    // Native XML source (new in Spark 4 — the former spark-xml package
    // folded into core): nation round-tripped through rowTag-delimited
    // XML with schema inference on read, graded as a per-region rollup
    // the source table must reproduce. The remaining first-class source
    // format after parquet/ORC/CSV/JSON/text/JDBC.
    Op("source_xml_roundtrip", (s, d) => {
      val tmp = s"${Scratch.dir}/xml/nation_xml"
      Tables.nation(s, d).write.mode("overwrite")
        .option("rowTag", "nation").format("xml").save(tmp)
      s.read.option("rowTag", "nation").format("xml").load(tmp)
        .groupBy(col("n_regionkey").cast("int").as("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          sum(col("n_nationkey")).cast("bigint").as("key_sum"),
          min(col("n_name")).as("first_name"))
        .orderBy("n_regionkey")
    },
      // The XML round-trip must reproduce the source table's rollup.
      """SELECT CAST(n_regionkey AS INT) AS n_regionkey, COUNT(*) AS n_nations,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum, MIN(n_name) AS first_name
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin),

    // Malformed-ingest surface — the first thing a crawl corpus throws at
    // an ingest pipeline: PERMISSIVE CSV parsing with an explicit schema +
    // `_corrupt_record` accounting over a deliberately corrupt staged file
    // (fixed corpus: a type error, an arity-short line, an arity-long
    // line among clean rows). PERMISSIVE keeps every row — parseable
    // fields populated, the raw line preserved in the corrupt column —
    // rather than failing the job; at 100 TB one bad crawl line must
    // never kill the load (DROPMALFORMED/FAILFAST are the stricter modes
    // of the same reader). Measured semantics (pinned in SourceSinkSpec):
    // type errors, arity-SHORT and arity-LONG lines all go corrupt with
    // the raw line preserved and parseable prefix fields kept — PROVIDED
    // the whole schema is required: under column pruning the parser only
    // validates the pruned schema, and an arity-long line passes as
    // clean (the ingest-audit gotcha this op demonstrates and defends
    // against by referencing every column). Fixed input → golden-counts
    // oracle.
    Op("source_csv_badrecords", (s, d) => {
      val dir = s"${Scratch.dir}/badcsv"
      val lines = Seq(
        "id,name,val",
        "0,alpha,10",
        "1,beta,notanint",
        "junk-line-no-commas",
        "2,gamma,30,extra",
        "3,delta,40",
        "4,epsilon,50")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part.csv"),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val parsed = s.read
        .schema("id INT, name STRING, val INT, _corrupt_record STRING")
        .option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(dir)
      // LAND the parsed rows before auditing — for two load-bearing
      // reasons: (a) corruption flagging follows the REQUIRED schema (a
      // pruned read that skips `name` never notices the arity-long line's
      // extra token, and a bare count() prunes to the corrupt column
      // alone, which Spark rejects outright:
      // UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
      // landing write materializes every column, pinning full-parse
      // semantics for ALL downstream queries; (b) it is the production
      // shape anyway: parse once, land, audit the landing.
      val landed = s"${Scratch.dir}/badcsv_landed"
      parsed.write.mode("overwrite").parquet(landed)
      s.read.parquet(landed)
        .withColumn("bucket",
          when(col("_corrupt_record").isNull, lit("clean")).otherwise(lit("corrupt")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("val"), lit(0))).cast("bigint").as("sum_val"),
          count(col("id")).as("n_parsed_ids"),
          count(col("name")).as("n_parsed_names"))
        .orderBy("bucket")
    },
      // Golden post-state of the fixed 6-line corpus (DuckDB cannot replay
      // Spark's PERMISSIVE parser; the constants ARE the contract): clean =
      // {0/10, 3/40, 4/50}; corrupt = the type error (id+name parse, val
      // does not), the arity-short junk line (nothing parses), and the
      // arity-long line (prefix fields parse, raw line preserved).
      """SELECT bucket, CAST(n_rows AS BIGINT) AS n_rows, CAST(sum_val AS BIGINT) AS sum_val,
        |  CAST(n_parsed_ids AS BIGINT) AS n_parsed_ids, CAST(n_parsed_names AS BIGINT) AS n_parsed_names
        |FROM (VALUES ('clean', 3, 100, 3, 3), ('corrupt', 3, 30, 2, 2))
        |  AS t(bucket, n_rows, sum_val, n_parsed_ids, n_parsed_names)
        |ORDER BY bucket""".stripMargin),

    // Multi-line CSV (RFC 4180 quoting in anger): a quoted field spans a
    // RECORD-EMBEDDED NEWLINE and another embeds escaped double quotes —
    // the two cases that break every naive line-splitting reader and the
    // reason multiLine=true exists (it forgoes file splitting: one file
    // = one parse unit, the documented trade-off). Golden oracle rebuilds
    // the expected field VALUES with chr(10)-spliced SQL, so the parse is
    // graded byte-for-byte via length/newline-count/md5.
    Op("source_csv_multiline", (s, d) => {
      val dir = s"${Scratch.dir}/mlcsv"
      val content = "id,name,notes\n" +
        "0,alpha,\"line one\nline two\"\n" +
        "1,beta,\"say \"\"hi\"\", ok\"\n" +
        "2,gamma,plain\n"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part.csv"),
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s.read.schema("id INT, name STRING, notes STRING")
        .option("header", "true").option("multiLine", "true")
        .option("quote", "\"").option("escape", "\"")
        .csv(dir)
        .select(col("id").cast("bigint").as("id"), col("name"),
          length(col("notes")).cast("bigint").as("notes_len"),
          (size(split(col("notes"), "\n", -1)) - 1).cast("bigint").as("n_newlines"),
          md5(expr("CAST(notes AS BINARY)")).as("notes_md5"))
        .orderBy("id")
    },
      // Expected fields rebuilt with chr(10) splices; parse graded
      // byte-for-byte via the derived length/newline/md5 columns.
      """WITH exp AS (
        |  SELECT * FROM (VALUES
        |    (0, 'alpha', 'line one' || chr(10) || 'line two'),
        |    (1, 'beta', 'say "hi", ok'),
        |    (2, 'gamma', 'plain')) AS t(id, name, notes))
        |SELECT CAST(id AS BIGINT) AS id, name,
        |  CAST(length(notes) AS BIGINT) AS notes_len,
        |  CAST(length(notes) - length(replace(notes, chr(10), '')) AS BIGINT) AS n_newlines,
        |  md5(notes) AS notes_md5
        |FROM exp ORDER BY id""".stripMargin),

    // JSONL twin of source_csv_badrecords — the schema-on-read audit for
    // the other half of real ingest traffic: PERMISSIVE mode keeps every
    // record, a type-mismatched field NULLs out while its siblings still
    // parse (partial-result semantics), a non-JSON line nulls everything,
    // and both land in _corrupt_record. Same land-then-audit shape (the
    // landing write pins full-parse semantics; a pruned read would skip
    // the corruption check entirely).
    Op("source_json_badrecords", (s, d) => {
      val dir = s"${Scratch.dir}/badjson"
      val lines = Seq(
        """{"id":0,"name":"alpha","val":10}""",
        """{"id":1,"name":"beta","val":"notanint"}""",
        "this is not json",
        """{"id":2,"name":"gamma","val":30,"extra":true}""",
        """{"id":3,"name":"delta"}""",
        """{"id":4,"name":"epsilon","val":50}""")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part.jsonl"),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val parsed = s.read
        .schema("id INT, name STRING, val INT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
      val landed = s"${Scratch.dir}/badjson_landed"
      parsed.write.mode("overwrite").parquet(landed)
      s.read.parquet(landed)
        .withColumn("bucket",
          when(col("_corrupt_record").isNull, lit("clean")).otherwise(lit("corrupt")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("val"), lit(0))).cast("bigint").as("sum_val"),
          count(col("id")).as("n_parsed_ids"),
          count(col("name")).as("n_parsed_names"))
        .orderBy("bucket")
    },
      // Golden set pinning PERMISSIVE JSON semantics: the type-mismatch row
      // keeps its parsed siblings (partial results), the non-JSON line
      // parses nothing, both are corrupt; missing fields are NULL but clean.
      """SELECT bucket, CAST(n_rows AS BIGINT) AS n_rows, CAST(sum_val AS BIGINT) AS sum_val,
        |  CAST(n_parsed_ids AS BIGINT) AS n_parsed_ids, CAST(n_parsed_names AS BIGINT) AS n_parsed_names
        |FROM (VALUES ('clean', 4, 90, 4, 4), ('corrupt', 2, 0, 1, 1))
        |  AS t(bucket, n_rows, sum_val, n_parsed_ids, n_parsed_names)
        |ORDER BY bucket""".stripMargin),

    // Text-line source (the log-ingestion shape): docs flattened to
    // tab-delimited lines, read back with spark.read.text + split parse,
    // graded per-language rollup. Tokens are space-separated so the tab
    // delimiter cannot collide.
    Op("source_text_roundtrip", (s, d) => {
      val tmp = s"${Scratch.dir}/txt"
      Tables.documents(s, d)
        .select(concat_ws("\t", col("doc_id"), col("lang"), col("text")).as("value"))
        .write.mode("overwrite").text(tmp)
      s.read.text(tmp)
        .select(split(col("value"), "\t").as("f"))
        .select(col("f").getItem(0).cast("bigint").as("doc_id"),
          col("f").getItem(1).as("lang"),
          length(col("f").getItem(2)).as("text_len"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("text_len")).cast("bigint").as("n_chars"))
        .orderBy("lang")
    },
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // JDBC source/sink round-trip through embedded Derby (the federation
    // surface: same API reads Postgres/MySQL on a cluster). The read back
    // is RANGE-PARTITIONED on the key (partitionColumn/numPartitions) — 4
    // parallel connections, the shape that scales a federated ingest.
    // Derby uppercases identifiers; aliased back on read.
    Op("source_jdbc_roundtrip", (s, d) => {
      val url = s"jdbc:derby:;databaseName=${Scratch.dir}/jdbc_db;create=true"
      Tables.nation(s, d)
        .write.mode("overwrite").format("jdbc")
        .option("url", url).option("dbtable", "GRAFT_NATION")
        .save()
      s.read.format("jdbc")
        .option("url", url).option("dbtable", "GRAFT_NATION")
        .option("partitionColumn", "N_NATIONKEY")
        .option("lowerBound", "0").option("upperBound", "25")
        .option("numPartitions", "4")
        .load()
        .select(col("N_NATIONKEY").as("n_nationkey"), col("N_NAME").as("n_name"),
          col("N_REGIONKEY").as("n_regionkey"))
        .orderBy("n_nationkey")
    },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin),

    // ---- §2.2 projection / filter ----
    // Money expressions computed at exact decimal scale, EMITTED as double
    // (raw decimal outputs hash-mismatch the driver: DuckDB's pandas export
    // is float64, Spark parquet keeps Decimal objects).
    Op("proj_expr", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          dec(col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("double").as("revenue"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast("decimal(18,6)").cast("double").as("charge"))
        .orderBy("l_orderkey", "l_linenumber", "revenue", "charge")
        .limit(1000),
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |  CAST(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6)) AS DOUBLE) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, charge LIMIT 1000""".stripMargin),

    Op("filter_pred", (s, d) =>
      Tables.orders(s, d)
        .where(col("o_orderstatus").isin("F", "P")
          && col("o_totalprice").between(50000, 150000)
          && col("o_orderpriority").like("1%")
          && !(col("o_custkey") % 10 === 3))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('F','P') AND o_totalprice BETWEEN 50000 AND 150000
        |  AND o_orderpriority LIKE '1%' AND NOT (o_custkey % 10 = 3)
        |ORDER BY o_orderkey""".stripMargin),

    Op("filter_null_semantics", (s, d) =>
      Tables.customer(s, d)
        .withColumn("seg_n", expr("NULLIF(c_mktsegment, 'BUILDING')"))
        .where(col("seg_n").isNull || col("seg_n").like("F%"))
        .select(col("c_custkey"), col("seg_n"),
          coalesce(col("seg_n"), lit("none")).as("seg_c"),
          (col("seg_n") <=> lit("FURNITURE")).as("seg_eq_f"),
          col("seg_n").isNotNull.as("seg_nn"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, NULLIF(c_mktsegment,'BUILDING') AS seg_n,
        |  COALESCE(NULLIF(c_mktsegment,'BUILDING'), 'none') AS seg_c,
        |  NULLIF(c_mktsegment,'BUILDING') IS NOT DISTINCT FROM 'FURNITURE' AS seg_eq_f,
        |  NULLIF(c_mktsegment,'BUILDING') IS NOT NULL AS seg_nn
        |FROM customer
        |WHERE NULLIF(c_mktsegment,'BUILDING') IS NULL OR NULLIF(c_mktsegment,'BUILDING') LIKE 'F%'
        |ORDER BY c_custkey""".stripMargin),

    // ---- §2.3 joins ----
    // Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
    // each other — the join plans an EqualNullSafe key (NULLs hash to one
    // partition instead of being dropped like a plain equi-join would).
    // Every tenth key is nulled on both sides so the NULL×NULL block is
    // exercised; output is the per-key pair/row accounting.
    Op("join_null_safe_eq", (s, d) => {
      val a = Tables.customer(s, d).select(col("c_custkey"),
        expr("CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_nationkey END").as("k"))
      val b = Tables.supplier(s, d).select(col("s_suppkey"),
        expr("CASE WHEN s_suppkey % 10 = 0 THEN NULL ELSE s_nationkey END").as("k2"))
      a.join(b, col("k") <=> col("k2"))
        // nationkey's physical parquet type varies by SF (int32 at
        // sf0.001, int64 at sf0.01+) — pin the output type
        .groupBy(coalesce(col("k"), lit(-1)).cast("bigint").as("nation_key"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("c_custkey")).as("n_cust"),
          countDistinct(col("s_suppkey")).as("n_supp"))
        .orderBy("nation_key")
    },
      """WITH a AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_nationkey END AS k
        |  FROM customer),
        |b AS (SELECT s_suppkey,
        |    CASE WHEN s_suppkey % 10 = 0 THEN NULL ELSE s_nationkey END AS k2
        |  FROM supplier)
        |SELECT COALESCE(k, -1) AS nation_key, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT c_custkey) AS n_cust, COUNT(DISTINCT s_suppkey) AS n_supp
        |FROM a JOIN b ON k IS NOT DISTINCT FROM k2
        |GROUP BY COALESCE(k, -1) ORDER BY nation_key""".stripMargin),

    Op("join_inner", (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, o_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),

    Op("join_broadcast", (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "c_name", "n_name", "r_name")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, n_name, r_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin),

    // TPC-H-Q5-style 5-way join; dims broadcast so only the two fact tables
    // shuffle on their join keys — the plan that survives a 100× scale-up.
    Op("join_multiway", (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA"
          && col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("n_name")
        .agg(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("n_name")),
      """SELECT n_name, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    Op("join_left_outer", (s, d) => {
      val big = Tables.orders(s, d).where(col("o_totalprice") > 400000)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_big"),
          coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)).as("big_total"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, COUNT(o_orderkey) AS n_big,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS big_total
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |  ON c_custkey = o.o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    Op("join_full_outer", (s, d) => {
      val sc = Tables.supplier(s, d).where(col("s_acctbal") > 5000)
        .groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
      val cc = Tables.customer(s, d).where(col("c_acctbal") > 9000)
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
      sc.join(cc, col("s_nationkey") === col("c_nationkey"), "full")
        .select(coalesce(col("s_nationkey"), col("c_nationkey")).as("nationkey"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"))
        .orderBy("nationkey")
    },
      """SELECT COALESCE(sc.s_nationkey, cc.c_nationkey) AS nationkey,
        |  COALESCE(sc.n_supp, 0) AS n_supp, COALESCE(cc.n_cust, 0) AS n_cust
        |FROM (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey) sc
        |FULL JOIN (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey) cc
        |  ON sc.s_nationkey = cc.c_nationkey
        |ORDER BY nationkey""".stripMargin),

    Op("join_semi", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),

    Op("join_anti", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),

    Op("join_cross", (s, d) =>
      Tables.region(s, d).select("r_name")
        .crossJoin(Tables.nation(s, d).select("n_name"))
        .orderBy("r_name", "n_name"),
      """SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name"""),

    // Skew-resilient salted join (Scale.saltedJoin): join keys become
    // (key, salt) so a hot orderkey fans out across 8 shuffle partitions;
    // result is identical to the plain join, which is exactly what the
    // oracle checks. Salt hashes only a minimal unique row key — the four
    // narrow int key columns (unique per TESTDATA; (orderkey, linenumber)
    // alone duplicates ~24% of rows) — instead of the whole 16-column row,
    // whose hashing cost measured ~2× on this query in round 3.
    Op("join_skew_salted", (s, d) =>
      Scale.saltedJoin(Tables.lineitem(s, d), Tables.orders(s, d),
          col("l_orderkey"), col("o_orderkey"), 8,
          saltOn = Seq(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority"),
      // The salted join must be row-identical to the plain equi-join.
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // AQE's AUTOMATIC skew remedy — the runtime twin of join_skew_salted's
    // manual salting: more than half of lineitem collapses onto hot_key 0
    // (a real o_orderkey, so the join stays total and 1:1 against the
    // unique dim side), the shuffle partition holding it dwarfs the
    // median, and OptimizeSkewedJoin splits it into advisory-sized
    // sub-reads at runtime, replicating the dim's matching partition per
    // split — no plan-time salting, no row changes. Skew thresholds are
    // scoped to this query and sized for fixture scale (the 256 MB
    // default only fires on real clusters — where it fires UNTUNED on
    // exactly this plan); the executed plan's skew=true marker is
    // asserted in PlanShapeSpec. Execution happens INSIDE the conf scope
    // (a lazily returned frame would execute after restore), landing in
    // scratch parquet; the graded read is the rollup. Oracle = plain join.
    Op("join_skew_aqe", (s, d) => {
      val out = Scratch.opDir("skew_aqe", d)
      withSkewAqeConfs(s) {
        skewAqeFrame(s, d).write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy("o_orderpriority")
    },
      // The AQE-split join must equal the plain join on the same remapped key.
      """WITH f AS (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE l_orderkey END AS hot_key,
        |  l_extendedprice, l_discount FROM lineitem)
        |SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM f JOIN orders ON hot_key = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // AQE join-strategy switch — the second adaptive re-plan (beside
    // join_skew_aqe's skew split): the dim side is a FILTERED orders
    // subset whose compile-time stats look join-worthy of a full
    // shuffle (static broadcast disabled), but whose runtime size is
    // tiny — AQE reads the materialized shuffle stats and rewrites the
    // sort-merge join into a broadcast hash join mid-query. On a real
    // cluster this is the difference between shuffling the 100 TB fact
    // and shipping a few MB; PlanShapeSpec asserts the executed plan
    // ends as BroadcastHashJoin under AdaptiveSparkPlan. Execution
    // happens INSIDE the conf scope; the graded read is the rollup.
    Op("join_aqe_bhj_switch", (s, d) => {
      val out = Scratch.opDir("aqe_bhj", d)
      withBhjSwitchConfs(s) {
        aqeBhjFrame(s, d).write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out).orderBy("o_orderpriority")
    },
      // The rollup replayed as a plain join — adaptivity must be invisible.
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Equi key + non-equi residual condition (theta).
    Op("join_theta", (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d),
          col("l_partkey") === col("p_partkey")
            && col("l_extendedprice") > col("p_retailprice") * 10)
        .select("l_orderkey", "l_linenumber", "p_partkey", "l_extendedprice", "p_retailprice")
        .orderBy("l_orderkey", "l_linenumber", "p_partkey", "l_extendedprice"),
      """SELECT l_orderkey, l_linenumber, p_partkey, l_extendedprice, p_retailprice
        |FROM lineitem JOIN part ON l_partkey = p_partkey AND l_extendedprice > p_retailprice * 10
        |ORDER BY l_orderkey, l_linenumber, p_partkey, l_extendedprice""".stripMargin),

    // (purchase, error) pairs of the same user with the error strictly
    // inside (purchase, purchase+1h]. Comparison on exact raw nanoseconds.
    Op("join_range_interval", (s, d) => {
      val e = Tables.events(s, d)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts_us").as("p_us"), col("ts").as("p_ts"))
      val x = e.where(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
          col("ts_us").as("e_us"), col("ts").as("e_ts"))
      p.join(x, col("user_id") === col("e_user")
          && col("e_us") > col("p_us") && col("e_us") <= col("p_us") + lit(HourUs))
        .select(col("p_id"), col("e_id"), col("user_id"),
          fmtTs(col("p_ts")).as("p_ts"), fmtTs(col("e_ts")).as("e_ts"))
        .orderBy("p_id", "e_id")
    },
      """SELECT p.event_id AS p_id, e.event_id AS e_id, p.user_id AS user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS e_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND epoch_us(e.ts) > epoch_us(p.ts)
        |  AND epoch_us(e.ts) <= epoch_us(p.ts) + 3600000000
        |ORDER BY p_id, e_id""".stripMargin),

    // BANDED range join — the scale path for pure interval predicates
    // (join_range_interval above has an equi user key to hash on; here
    // there is NONE, and Spark's only native plan for `lo <= x < hi`
    // against a small side is BroadcastNestedLoopJoin: every probe row
    // tests EVERY interval, O(rows × intervals), and with a large
    // interval side no plan exists at all). The banding rewrite derives
    // an equi key both sides can compute: buckets of width >= the widest
    // interval, the interval side exploded into the few buckets it
    // overlaps, the probe side hashed to floor(x/B) — one hash join plus
    // a residual containment filter, O(rows), shuffle-partitionable on
    // the bucket. Intervals here are deliberately IRREGULAR (quadratic
    // in n_nationkey) so no trivial closed-form bucket exists.
    // PlanShapeSpec asserts the nested-loop join is gone.
    Op("join_range_banded", (s, d) => {
      val bucketW = 49000L // >= widest band: (2*24+1)*1000
      val bands = Tables.nation(s, d).select(
        col("n_nationkey").as("band_id"),
        (col("n_nationkey") * col("n_nationkey") * 1000).cast("double").as("lo"),
        ((col("n_nationkey") + 1) * (col("n_nationkey") + 1) * 1000)
          .cast("double").as("hi"))
      val bandBuckets = bands.withColumn("bucket",
        explode(sequence(floor(col("lo") / bucketW), floor(col("hi") / bucketW))))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          floor(col("o_totalprice") / bucketW).as("bucket"))
        .join(bandBuckets, Seq("bucket"))
        .where(col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("band_id")
    },
      // The oracle states the PURE range join — the banding rewrite must be
      // semantically invisible.
      """WITH bands AS (SELECT n_nationkey AS band_id,
        |  n_nationkey * n_nationkey * 1000.0 AS lo,
        |  (n_nationkey + 1) * (n_nationkey + 1) * 1000.0 AS hi FROM nation)
        |SELECT band_id, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin),

    // Spatial epsilon-neighborhood self-join via GRID BUCKETING — the 2-D
    // twin of join_range_banded: points land in eps-sized cells, each
    // probe checks only its 3×3 neighborhood, so candidates are bounded by
    // local density instead of n² (a cross join + distance filter is the
    // plan this op exists to avoid; a skewed cell salts like any hot
    // key). Coordinates are integer hashes (key·48271 / key·69621 mod
    // 100000 = a 1000×1000 grid at 0.01 resolution), squared distance is
    // pure BIGINT — both engines bit-identical, no FP anywhere. Each
    // qualifying pair appears exactly once: the probe-side 3×3 explosion
    // covers every cell a neighbor within eps can occupy, and a<b dedups.
    Op("join_spatial_grid", (s, d) => {
      val eps = 1000L // cell edge == eps ⇒ 3×3 neighborhood suffices
      // md5-derived coordinates, NOT a multiplicative hash: k·a mod m over
      // consecutive keys is a 2-D lattice whose nonzero vectors all exceed
      // eps at fixture scale (0 pairs) and collapse to ~n pairs per lucky
      // Δ at 10× — the md5 scatter is genuinely uniform and replayable.
      val pts = Tables.part(s, d).select(
        col("p_partkey").as("id"),
        expr(s"${md5Bits("x", "p_partkey", 8)} % 100000").as("x"),
        expr(s"${md5Bits("y", "p_partkey", 8)} % 100000").as("y"))
      val build = pts
        .withColumn("cx", expr(s"x DIV $eps"))
        .withColumn("cy", expr(s"y DIV $eps"))
      val probe = pts
        .select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"))
        .withColumn("ox", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("oy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("cx", expr(s"bx DIV $eps + ox"))
        .withColumn("cy", expr(s"by DIV $eps + oy"))
      build.join(probe, Seq("cx", "cy"))
        .where(col("id") < col("b_id"))
        .withColumn("d2",
          (col("x") - col("bx")) * (col("x") - col("bx")) +
            (col("y") - col("by")) * (col("y") - col("by")))
        .where(col("d2") <= eps * eps)
        .select(col("id").as("a_id"), col("b_id"), col("d2"))
        .orderBy("a_id", "b_id")
    },
      // The oracle skips the grid and checks the DEFINITION: every pair
      // within eps, by brute force — the grid plan must produce exactly
      // the brute-force answer.
      s"""WITH p AS (SELECT p_partkey AS id,
        |    ${duckMd5Bits("x", "p_partkey", 8)} % 100000 AS x,
        |    ${duckMd5Bits("y", "p_partkey", 8)} % 100000 AS y
        |  FROM part)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) AS BIGINT) AS d2
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) <= 1000000
        |ORDER BY a_id, b_id""".stripMargin),

    // As-of join: for each purchase, the user's most recent view at-or-before
    // it. Spark has no native batch as-of; the idiomatic formulation is a
    // ranged join + row_number window kept to rank 1 (SURVEY.md §2.3).
    Op("join_asof", (s, d) => {
      val e = Tables.events(s, d)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts_us").as("p_us"), col("ts").as("p_ts"))
      val v = e.where(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
          col("ts_us").as("v_us"), col("ts").as("v_ts"))
      // rank-1-by-(desc v_us, desc v_id) as a map-side max(struct) argmax:
      // the old row_number window shuffled EVERY (purchase × earlier-view)
      // pair to sort it, keeping one row; the aggregate reduces pairs to
      // one row per purchase inside each map task before the exchange
      // (guide §2.3 "aggregate before you shuffle"). max over
      // struct(v_us, v_id, ...) is the identical lexicographic argmax;
      // v_id is unique, so the comparison never reaches the payload field.
      p.join(v, col("user_id") === col("v_user") && col("v_us") <= col("p_us"))
        .groupBy(col("p_id"), col("user_id"), col("p_ts"))
        .agg(max(struct(col("v_us"), col("v_id"), col("v_ts"))).as("best"))
        .select(col("p_id"), col("user_id"), fmtTs(col("p_ts")).as("p_ts"),
          col("best.v_id").as("v_id"), fmtTs(col("best.v_ts")).as("v_ts"))
        .orderBy("p_id")
    },
      """SELECT p.event_id AS p_id, p.user_id AS user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  v.event_id AS v_id, strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS v_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p_id""".stripMargin),

    // Native as-of join (AsOfJoinExec): co-partitioned sort-merge — one
    // exchange per side, per-partition sorts, a single forward pass; no
    // (purchase × earlier-view) pair set is ever materialized, unlike the
    // composed join_asof. Same output, same DuckDB ASOF JOIN oracle.
    Op("join_asof_native", (s, d) => {
      val e = Tables.events(s, d)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val v = e.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      org.apache.spark.sql.graftbridge.AsOfJoinApi.asof(s, p, v)
        .select(col("l_id").as("p_id"), col("k").as("user_id"),
          fmtTs(timestamp_micros(col("l_ts"))).as("p_ts"),
          col("r_id").as("v_id"),
          fmtTs(timestamp_micros(col("r_ts"))).as("v_ts"))
        .orderBy("p_id")
    },
      """SELECT p.event_id AS p_id, p.user_id AS user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  v.event_id AS v_id, strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS v_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p_id""".stripMargin),

    // FORWARD as-of join — pandas merge_asof(direction='forward'): for
    // every purchase, the EARLIEST view at-or-after it (the "next
    // touchpoint" direction; join_asof/join_asof_native are backward).
    // Runs on the SAME native AsOfJoinExec by the negation trick:
    // backward-asof over negated timestamps IS forward-asof (greatest
    // -ts ≤ -t ⟺ smallest ts ≥ t), so one merge operator serves both
    // directions — no second custom exec, same one-exchange plan.
    Op("join_asof_forward", (s, d) => {
      val e = Tables.events(s, d)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), (-col("ts_us")).as("ts_us"))
      val v = e.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), (-col("ts_us")).as("ts_us"))
      org.apache.spark.sql.graftbridge.AsOfJoinApi.asof(s, p, v)
        .select(col("l_id").as("p_id"), col("k").as("user_id"),
          fmtTs(timestamp_micros(-col("l_ts"))).as("p_ts"),
          col("r_id").as("v_id"),
          fmtTs(timestamp_micros(-col("r_ts"))).as("v_ts"))
        .orderBy("p_id")
    },
      // Identical oracle to join_asof — the native operator must produce the
      // same rows as DuckDB's ASOF JOIN.
      // DuckDB's ASOF accepts the forward inequality directly.
      """SELECT p.event_id AS p_id, p.user_id AS user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  v.event_id AS v_id, strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS v_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts >= p.ts
        |ORDER BY p_id""".stripMargin),

    // As-of join with TOLERANCE — pandas merge_asof(tolerance=...): the
    // most recent view counts only if it is within 24h of the purchase;
    // staler matches drop (inner semantics, like the native operator).
    // The bound composes as a post-filter on the one-row-per-purchase
    // asof OUTPUT — the single-merge-pass plan is untouched, the filter
    // is free — instead of widening the ranged-join candidate set. The
    // gap rides along in exact minutes (µs DIV, both positive).
    Op("join_asof_tolerance", (s, d) => {
      val e = Tables.events(s, d)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val v = e.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      org.apache.spark.sql.graftbridge.AsOfJoinApi.asof(s, p, v)
        .where(col("l_ts") - col("r_ts") <= 86400000000L)
        .select(col("l_id").as("p_id"), col("k").as("user_id"),
          fmtTs(timestamp_micros(col("l_ts"))).as("p_ts"),
          col("r_id").as("v_id"),
          fmtTs(timestamp_micros(col("r_ts"))).as("v_ts"),
          expr("(l_ts - r_ts) DIV 60000000").as("gap_min"))
        .orderBy("p_id")
    },
      // DuckDB ASOF + the same 24h post-filter and exact-minute gap.
      """SELECT p_id, user_id, p_ts, v_id, v_ts, gap_min FROM (
        |  SELECT p.event_id AS p_id, p.user_id AS user_id,
        |    strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
        |    v.event_id AS v_id, strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS v_ts,
        |    (epoch_us(p.ts) - epoch_us(v.ts)) // 60000000 AS gap_min,
        |    epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |    ON p.user_id = v.user_id AND v.ts <= p.ts)
        |WHERE gap_us <= 86400000000
        |ORDER BY p_id""".stripMargin),

    // Correlated scalar subquery (each customer vs their nation's average
    // balance), issued as SQL text so Catalyst's decorrelation
    // (RewriteCorrelatedScalarSubquery) runs: the per-row subquery becomes
    // ONE aggregate over customer joined back on c_nationkey — no
    // nested-loop-per-row survives (asserted in PlanShapeSpec). The average
    // is the exact-moment recipe (sum of decimals cast to double / count)
    // written identically in the oracle so the doubles are bit-equal.
    Op("subquery_scalar_corr", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_customer_v")
      s.sql(
        """SELECT c_custkey, c_acctbal, nat_avg FROM (
          |  SELECT c1.c_custkey, c1.c_acctbal,
          |    (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
          |     FROM graft_customer_v c2
          |     WHERE c2.c_nationkey = c1.c_nationkey) AS nat_avg
          |  FROM graft_customer_v c1)
          |WHERE c_acctbal > nat_avg
          |ORDER BY c_custkey""".stripMargin)
    },
      // Same decorrelated-average formulation, same exact-moment double math.
      """SELECT c_custkey, c_acctbal, nat_avg FROM (
        |  SELECT c1.c_custkey, c1.c_acctbal,
        |    (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |     FROM customer c2
        |     WHERE c2.c_nationkey = c1.c_nationkey) AS nat_avg
        |  FROM customer c1)
        |WHERE c_acctbal > nat_avg
        |ORDER BY c_custkey""".stripMargin),

    // NOT IN subquery — three-valued-logic semantics force Spark's
    // null-aware anti join (s_nationkey is nullable by schema, so a plain
    // anti join would be WRONG if a null appeared); with
    // spark.sql.optimizeNullAwareAntiJoin (default on) this plans a
    // single-key NAAJ BroadcastHashJoin, not a nested loop (asserted in
    // PlanShapeSpec).
    Op("subquery_not_in", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_ni_v")
      Tables.supplier(s, d).createOrReplaceTempView("graft_supp_ni_v")
      s.sql(
        """SELECT c_custkey, c_name, c_nationkey FROM graft_cust_ni_v
          |WHERE c_nationkey NOT IN
          |  (SELECT s_nationkey FROM graft_supp_ni_v WHERE s_acctbal > 9000)
          |ORDER BY c_custkey""".stripMargin)
    },
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE c_nationkey NOT IN
        |  (SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000)
        |ORDER BY c_custkey""".stripMargin),

    // Correlated LATERAL subquery with LIMIT (top-2 customers per nation):
    // a per-row dependent subquery that Catalyst decorrelates into a
    // window-ranked join — the other decorrelation path beside the scalar
    // subquery, and the SQL spelling of win_topk_per_group.
    Op("join_lateral", (s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("graft_nation_lat_v")
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_lat_v")
      s.sql(
        """SELECT n.n_name, c.c_custkey, c.c_acctbal
          |FROM graft_nation_lat_v n,
          |LATERAL (SELECT c_custkey, c_acctbal FROM graft_cust_lat_v
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
          |ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey""".stripMargin)
    },
      """SELECT n.n_name, c.c_custkey, c.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        |ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey""".stripMargin),

    // ---- §2.6 sorts / limits ----
    Op("sort_multi", (s, d) =>
      Tables.customer(s, d)
        .withColumn("seg_n", expr("NULLIF(c_mktsegment, 'BUILDING')"))
        .select("c_custkey", "c_nationkey", "seg_n", "c_acctbal")
        .orderBy(col("c_nationkey").asc, col("seg_n").desc_nulls_last, col("c_custkey").asc),
      """SELECT c_custkey, c_nationkey, NULLIF(c_mktsegment,'BUILDING') AS seg_n, c_acctbal
        |FROM customer
        |ORDER BY c_nationkey ASC, seg_n DESC NULLS LAST, c_custkey ASC""".stripMargin),

    Op("sort_limit_topk", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          dec(col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"), col("l_linenumber"))
        .limit(20),
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem ORDER BY revenue DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin),

    Op("limit_offset", (s, d) =>
      Tables.customer(s, d).select("c_custkey", "c_name")
        .orderBy("c_custkey").offset(10).limit(10),
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 10 OFFSET 10"),

    // ---- §2.7 set operations ----
    Op("set_union_all", (s, d) =>
      custProj(s, d).unionAll(suppProj(s, d)).orderBy("nationkey", "acctbal"),
      """SELECT * FROM (
        |  SELECT c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
        |  UNION ALL
        |  SELECT s_nationkey, s_acctbal FROM supplier
        |) ORDER BY nationkey, acctbal""".stripMargin),

    Op("set_union_distinct", (s, d) =>
      custProj(s, d).union(suppProj(s, d)).distinct().orderBy("nationkey", "acctbal"),
      """SELECT * FROM (
        |  SELECT c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
        |  UNION
        |  SELECT s_nationkey, s_acctbal FROM supplier
        |) ORDER BY nationkey, acctbal""".stripMargin),

    Op("set_intersect", (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersectAll(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .groupBy("nationkey").agg(count(lit(1)).as("all_cnt"))
        .orderBy("nationkey"),
      """SELECT nationkey, COUNT(*) AS all_cnt FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT ALL
        |  SELECT s_nationkey FROM supplier
        |) GROUP BY nationkey ORDER BY nationkey""".stripMargin),

    Op("set_except", (s, d) => {
      val a = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      val b = Tables.supplier(s, d).where(col("s_acctbal") > 5000)
        .select(col("s_nationkey").as("nationkey"))
      val exa = a.exceptAll(b).groupBy("nationkey").agg(count(lit(1)).as("n_exall"))
      a.except(b)
        .join(exa, Seq("nationkey"), "left")
        .na.fill(0L, Seq("n_exall"))
        .orderBy("nationkey")
    },
      """SELECT e.nationkey, COALESCE(x.n_exall, 0) AS n_exall
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      EXCEPT SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000) e
        |LEFT JOIN (SELECT nationkey, COUNT(*) AS n_exall FROM (
        |    SELECT c_nationkey AS nationkey FROM customer
        |    EXCEPT ALL SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
        |  ) GROUP BY nationkey) x USING (nationkey)
        |ORDER BY e.nationkey""".stripMargin),

    // INTERSECT ALL — multiset intersection semantics (min of the two
    // multiplicities per value), the bag-algebra twin of set_except's
    // EXCEPT ALL. Spark plans a left-semi-style hash join over counted
    // groups; the rollup makes the multiplicity contract visible.
    Op("set_intersect_all", (s, d) => {
      // CAST the key: parquet int width differs across SF dirs (§7.3)
      val a = Tables.customer(s, d)
        .select(col("c_nationkey").cast("bigint").as("nationkey"))
      val b = Tables.supplier(s, d).where(col("s_acctbal") > 2000)
        .select(col("s_nationkey").cast("bigint").as("nationkey"))
      a.intersectAll(b)
        .groupBy("nationkey").agg(count(lit(1)).as("n_interall"))
        .orderBy("nationkey")
    },
      """SELECT nationkey, COUNT(*) AS n_interall FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  INTERSECT ALL
        |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier WHERE s_acctbal > 2000)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin),

    // Correlated EXISTS / NOT EXISTS — the other decorrelation shape
    // next to subquery_scalar_corr/subquery_not_in: EXISTS rewrites to a
    // left-semi join, NOT EXISTS to a left-anti join, both shuffling on
    // the correlation key (never a per-row re-execution).
    Op("subquery_exists", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_ex_v")
      Tables.orders(s, d).createOrReplaceTempView("graft_ord_ex_v")
      s.sql(
        """SELECT c_custkey, c_name FROM graft_cust_ex_v c
          |WHERE EXISTS (SELECT 1 FROM graft_ord_ex_v o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
          |  AND NOT EXISTS (SELECT 1 FROM graft_ord_ex_v o2
          |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_totalprice > 400000)
          |ORDER BY c_custkey""".stripMargin)
    },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),

    // Multi-column (row-value) IN subquery: the tuple membership form —
    // (custkey, status) pairs against a derived pair set — that planners
    // must turn into a multi-key semi join, not two independent INs
    // (which would accept mixed pairs). Null-free keys here, so the
    // semi-join rewrite is exact in both engines.
    Op("subquery_in_multicol", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_mc_v")
      Tables.orders(s, d).createOrReplaceTempView("graft_ord_mc_v")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus
          |FROM graft_ord_mc_v
          |WHERE (o_custkey, o_orderstatus) IN
          |  (SELECT c_custkey, 'F' FROM graft_cust_mc_v WHERE c_acctbal < 0)
          |ORDER BY o_orderkey""".stripMargin)
    },
      // DuckDB has no row-value IN subquery; the EXISTS form is the exact
      // tuple-membership semantics (keys are null-free).
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM customer
        |              WHERE c_custkey = o_custkey AND c_acctbal < 0
        |                AND o_orderstatus = 'F')
        |ORDER BY o_orderkey""".stripMargin),

    // EXISTS under OR — the subquery position a semi join CANNOT serve
    // (a semi join drops the non-matching rows the other disjunct must
    // still see). Catalyst plans an ExistenceJoin: a left join emitting a
    // boolean `exists` column consumed by the disjunction — every row
    // survives to the filter. PlanShapeSpec asserts the plan.
    Op("subquery_exists_or", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_eor_v")
      Tables.orders(s, d).createOrReplaceTempView("graft_ord_eor_v")
      s.sql(
        """SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_cust_eor_v c
          |WHERE c_acctbal > 9900
          |   OR EXISTS (SELECT 1 FROM graft_ord_eor_v o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 490000)
          |ORDER BY c_custkey""".stripMargin)
    },
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer c
        |WHERE c_acctbal > 9900
        |   OR EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 490000)
        |ORDER BY c_custkey""".stripMargin),

    // As-of join, NEAREST direction — pandas merge_asof(direction=
    // 'nearest'), completing the backward/forward/tolerance family: one
    // backward and one forward pass on the SAME native merge operator
    // (forward via the negation trick), full-outer-combined per purchase,
    // winner = smaller absolute gap, ties to backward (the pandas rule).
    // Two one-exchange merge plans + one keyed combine join — never a
    // widened range-join candidate set.
    Op("join_asof_nearest", (s, d) => {
      val e = Tables.events(s, d)
      def side(t: String) = e.where(col("event_type") === t)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val bwd = org.apache.spark.sql.graftbridge.AsOfJoinApi
        .asof(s, side("purchase"), side("view"))
        .select(col("l_id").as("p_id"), col("k").as("user_id"),
          col("l_ts").as("p_ts"), col("r_id").as("b_vid"),
          (col("l_ts") - col("r_ts")).as("b_gap"))
      val p2 = side("purchase").select(col("event_id"), col("user_id"),
        (-col("ts_us")).as("ts_us"))
      val v2 = side("view").select(col("event_id"), col("user_id"),
        (-col("ts_us")).as("ts_us"))
      val fwd = org.apache.spark.sql.graftbridge.AsOfJoinApi.asof(s, p2, v2)
        .select(col("l_id").as("p_id"), col("k").as("f_user_id"),
          (-col("l_ts")).as("f_pts"), col("r_id").as("f_vid"),
          (col("l_ts") - col("r_ts")).as("f_gap"))
      bwd.join(fwd, Seq("p_id"), "full_outer")
        .select(col("p_id"),
          coalesce(col("user_id"), col("f_user_id")).as("user_id"),
          fmtTs(timestamp_micros(coalesce(col("p_ts"), col("f_pts")))).as("p_ts"),
          when(col("f_gap").isNull || (col("b_gap").isNotNull && col("b_gap") <= col("f_gap")),
            lit("backward")).otherwise(lit("forward")).as("direction"),
          when(col("f_gap").isNull || (col("b_gap").isNotNull && col("b_gap") <= col("f_gap")),
            col("b_vid")).otherwise(col("f_vid")).as("v_id"),
          least(coalesce(col("b_gap"), lit(Long.MaxValue)),
            coalesce(col("f_gap"), lit(Long.MaxValue)))
            .as("gap_us"))
        .orderBy("p_id")
    },
      // Two DuckDB ASOF passes combined by the same smaller-|gap| rule.
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT * FROM events WHERE event_type = 'view'),
        |b AS (SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
        |    v.event_id AS b_vid, epoch_us(p.ts) - epoch_us(v.ts) AS b_gap
        |  FROM p ASOF JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts),
        |f AS (SELECT p.event_id AS p_id, p.user_id AS f_user_id, p.ts AS f_pts,
        |    v.event_id AS f_vid, epoch_us(v.ts) - epoch_us(p.ts) AS f_gap
        |  FROM p ASOF JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts)
        |SELECT COALESCE(b.p_id, f.p_id) AS p_id,
        |  COALESCE(b.user_id, f.f_user_id) AS user_id,
        |  strftime(COALESCE(b.p_ts, f.f_pts), '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  CASE WHEN f.f_gap IS NULL OR (b.b_gap IS NOT NULL AND b.b_gap <= f.f_gap)
        |    THEN 'backward' ELSE 'forward' END AS direction,
        |  CASE WHEN f.f_gap IS NULL OR (b.b_gap IS NOT NULL AND b.b_gap <= f.f_gap)
        |    THEN b.b_vid ELSE f.f_vid END AS v_id,
        |  CAST(LEAST(COALESCE(b.b_gap, 9223372036854775807),
        |    COALESCE(f.f_gap, 9223372036854775807)) AS BIGINT) AS gap_us
        |FROM b FULL OUTER JOIN f ON b.p_id = f.p_id
        |ORDER BY p_id""".stripMargin),

    // Point-in-time dimension join — the feature-store correctness op:
    // facts must see the dimension VERSION valid at their event time,
    // never a later one (lookahead leakage poisons training data). A
    // 3-version SCD2-style supplier rate card is derived deterministically
    // (version k valid from day 8000+800k+jitter(suppkey)), and every
    // lineitem resolves its shipping-day version on the native backward
    // as-of merge — per key ONE co-partition exchange + a single merge
    // pass, the plan that survives a 100 TB fact table (the composed
    // range-join formulation materializes every fact×earlier-version
    // pair). Facts shipped before version 0 drop (inner asof, both
    // engines). Output: per (supplier, version) audit rollup.
    Op("join_point_in_time", (s, d) => {
      val versions = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("bigint").as("sk"),
          explode(expr("sequence(0, 2)")).as("k"))
        .select((col("sk") * 10 + col("k")).as("id"), col("sk").as("key"),
          expr("CAST(8000 + k * 800 + sk % 97 AS BIGINT)").as("ts"))
      // facts pre-aggregate per (supplier, day) BEFORE the merge — version
      // resolution depends only on (key, ts), so the asof probe set shrinks
      // from |lineitem| to |supplier × live days| and the join-back is 1:1
      val fr = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").cast("bigint").as("key"),
          expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01') AS BIGINT)").as("ts"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT)")).as("qty"))
        .localCheckpoint()
      val probes = fr.select((col("key") * 100000 + col("ts")).as("id"),
        col("key"), col("ts"))
      org.apache.spark.sql.graftbridge.AsOfJoinApi.asof(s, probes, versions)
        .join(fr, col("k") === fr("key") && col("l_ts") === fr("ts"))
        .select(col("k").as("s_suppkey"), (col("r_id") % 10).as("version"),
          col("l_ts"), col("n"), col("qty"))
        .groupBy("s_suppkey", "version")
        .agg(sum("n").as("n_items"), sum("qty").as("qty_total"),
          min("l_ts").as("first_day"), max("l_ts").as("last_day"))
        .withColumn("rate_bps", expr("CAST(100 + version * 25 AS BIGINT)"))
        .orderBy("s_suppkey", "version")
    },
      // DuckDB ASOF on the same derived version table and fact rollup.
      """WITH v AS (SELECT CAST(s_suppkey AS BIGINT) AS sk, k,
        |    CAST(8000 + k * 800 + s_suppkey % 97 AS BIGINT) AS vf
        |  FROM supplier, (SELECT unnest(range(0, 3)) AS k)),
        |fr AS (SELECT CAST(l_suppkey AS BIGINT) AS key,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS ts,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |pit AS (SELECT fr.key AS s_suppkey, v.k AS version, fr.ts, fr.n, fr.qty
        |  FROM fr ASOF JOIN v ON fr.key = v.sk AND v.vf <= fr.ts)
        |SELECT s_suppkey, CAST(version AS BIGINT) AS version,
        |  CAST(SUM(n) AS BIGINT) AS n_items, CAST(SUM(qty) AS BIGINT) AS qty_total,
        |  CAST(MIN(ts) AS BIGINT) AS first_day, CAST(MAX(ts) AS BIGINT) AS last_day,
        |  CAST(100 + version * 25 AS BIGINT) AS rate_bps
        |FROM pit GROUP BY s_suppkey, version
        |ORDER BY s_suppkey, version""".stripMargin),

    // Quantified comparisons — x > ALL(S) / x > ANY(S) per customer
    // against their nation's supplier balances. Spark SQL has no
    // ANY/ALL-subquery syntax, so the engine applies the textbook
    // quantifier-to-aggregate rewrite Catalyst would need: > ALL(S) ⟺
    // S empty OR x > max(S); > ANY(S) ⟺ S nonempty AND x > min(S)
    // (exact under non-null S — TPC-H acctbals; the empty branches are
    // live: nations without suppliers make ALL vacuously true, ANY
    // false). One 25-row broadcast replaces per-row subquery execution;
    // the oracle runs DuckDB's NATIVE > ALL / > ANY quantifiers, so the
    // rewrite is graded against the real semantics, not itself.
    Op("subquery_any_all", (s, d) => {
      val sup = Tables.supplier(s, d)
        .groupBy(col("s_nationkey").as("nk"))
        .agg(max("s_acctbal").as("mx"), min("s_acctbal").as("mn"))
      Tables.customer(s, d)
        .join(broadcast(sup), col("c_nationkey") === col("nk"), "left")
        .select(col("c_custkey"),
          col("c_acctbal").cast("double").as("acctbal"),
          (col("mx").isNull || col("c_acctbal") > col("mx")).as("beats_all"),
          (col("mn").isNotNull && col("c_acctbal") > col("mn")).as("beats_any"))
        .orderBy("c_custkey")
    },
      // DuckDB's native quantifiers grade the engine's aggregate rewrite.
      """SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal,
        |  c_acctbal > ALL (SELECT s_acctbal FROM supplier s
        |                   WHERE s.s_nationkey = c.c_nationkey) AS beats_all,
        |  c_acctbal > ANY (SELECT s_acctbal FROM supplier s
        |                   WHERE s.s_nationkey = c.c_nationkey) AS beats_any
        |FROM customer c ORDER BY c_custkey""".stripMargin)
  )

  /** Skewed join + conf scope shared by `join_skew_aqe` and the
    * PlanShapeSpec skew=true assertion. The frame: lineitem with >half its
    * rows remapped to hot_key 0, equi-joined to the unique-keyed orders
    * dim, rolled up per priority. */
  private[graft] def skewAqeFrame(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      // AQE splits a skewed REDUCE partition at map-output granularity; the
      // single-file fixture scan is ONE map task, which is unsplittable by
      // construction. The round-robin repartition stands in for the
      // thousands of scan tasks a real fact table has — it changes no rows
      // and at cluster scale would simply not be there.
      .repartition(8)
      .withColumn("hot_key",
        when(col("l_orderkey") % 2 === 0, lit(0L)).otherwise(col("l_orderkey")))
      .join(Tables.orders(s, d), col("hot_key") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")

  /** Scoped AQE-skew-join regime: split threshold/advisory size lowered to
    * fixture scale so OptimizeSkewedJoin demonstrably fires, broadcasts off
    * so the join is a genuine two-sided shuffle SMJ (the 100 TB fact-join
    * shape). Set/restore around EXECUTION — these knobs are read when the
    * query runs, and a 1 KB advisory size must never leak into other ops. */
  private[graft] def withSkewAqeConfs[T](s: SparkSession)(body: => T): T =
    withConfs(s)(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2048",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1024",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(body)

  /** High-value-orders join shared by `join_aqe_bhj_switch` and the
    * PlanShapeSpec broadcast-switch assertion: the filtered dim is tiny
    * at runtime but statically unknown. */
  private[graft] def aqeBhjFrame(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).where(col("o_totalprice") > 450000),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double").as("revenue"))

  /** Conf scope for the AQE broadcast switch: static broadcast OFF (the
    * planner must start from a sort-merge join), adaptive broadcast ON so
    * only the RUNTIME shuffle stats can trigger the rewrite. */
  private[graft] def withBhjSwitchConfs[T](s: SparkSession)(body: => T): T =
    withConfs(s)(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10485760")(body)

  private def custProj(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"), col("c_acctbal").as("acctbal"))
  private def suppProj(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"), col("s_acctbal").as("acctbal"))

  /** Columns of df as a stable projection (helper for source_csv_json_infer). */
  private def count_all_cols(df: DataFrame): Seq[Column] = df.columns.toSeq.map(c => col(c).cast("string").as(c))
}
