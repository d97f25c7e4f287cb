package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Read-only Delta Lake transaction-log interop — the second open
  * table-format reader next to `IcebergRead`, implemented from the
  * PUBLISHED Delta protocol (github.com/delta-io/delta PROTOCOL.md: a
  * `_delta_log/` of zero-padded versioned JSON commits, one action object
  * per line — `protocol`, `metaData`, `add{path, dataChange}`,
  * `remove{path, dataChange}`), with no Delta library on the classpath.
  * The live file set at version v is the fold of adds minus removes over
  * commits 0..v — exactly the reconstruction every Delta reader performs
  * before snapshotting.
  *
  * Fixture: commit 0 adds files A,B; commit 1 removes B and adds C — a
  * reader must serve (A,B) at version 0, (A,C) at version 1, and never
  * surface the removed B at the head.
  *
  * Scale posture: the log walk is driver-side O(commits) metadata (a
  * production reader checkpoints to parquet every N commits — same
  * access path); data IO is one pruned parquet scan of the live set.
  * Actions are parsed with Jackson (ships with Spark), not regexes.
  */
object DeltaRead extends Family {
  /** Builds the fixture table once per (JVM, sf); returns its root. */
  private[graft] def ensureTable(s: SparkSession, d: String): String =
    Scratch.staged("delta_read", d) { root =>
      Files.createDirectories(Paths.get(root, "data"))
      Files.createDirectories(Paths.get(root, "_delta_log"))
      def writeClass(m: Int, name: String): Unit = {
        val tmp = s"$root/stage_$name"
        Tables.orders(s, d).where(col("o_orderkey") % 3 === m)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(root, "data", s"$name.parquet"))
        // staging leftovers live in scratch and vanish at JVM exit
      }
      writeClass(0, "A"); writeClass(1, "B"); writeClass(2, "C")
      def add(p: String) =
        s"""{"add":{"path":"data/$p.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""
      def remove(p: String) =
        s"""{"remove":{"path":"data/$p.parquet","deletionTimestamp":0,"dataChange":true}}"""
      val c0 = Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"graft-delta-fixture","format":{"provider":"parquet","options":{}},"schemaString":"{}","partitionColumns":[],"configuration":{}}}""",
        add("A"), add("B"))
      val c1 = Seq(remove("B"), add("C"))
      Files.write(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
        c0.mkString("\n").getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(root, "_delta_log", f"${1L}%020d.json"),
        c1.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }

  /** Live data files after folding commits 0..version (None = head). */
  private[graft] def liveFiles(root: String, version: Option[Long]): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val commits = new java.io.File(s"$root/_delta_log").listFiles
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      .filter { f =>
        val v = f.getName.stripSuffix(".json").toLong
        version.forall(v <= _)
      }
    require(commits.nonEmpty, "no Delta commits at or before the pinned version")
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    commits.foreach { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty)
        .foreach { line =>
          val node = mapper.readTree(line)
          if (node.has("add")) live += node.get("add").get("path").asText()
          if (node.has("remove")) live -= node.get("remove").get("path").asText()
        }
    }
    live.toSeq.map(p => s"$root/$p")
  }

  val ops: Seq[Op] = Seq(
    Op("source_delta_read", (s, d) => {
      val root = ensureTable(s, d)
      def rollup(v: Long): DataFrame =
        s.read.parquet(liveFiles(root, Some(v)): _*)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).cast("double").as("total"))
          .withColumn("version", lit(v))
      // head resolution must agree with the explicit latest version
      require(liveFiles(root, None).sorted == liveFiles(root, Some(1L)).sorted,
        "head did not resolve to the latest commit")
      rollup(0L).unionByName(rollup(1L))
        .select("version", "o_orderstatus", "n_orders", "total")
        .orderBy("version", "o_orderstatus")
    },
      // Replays file membership from the deterministic build: version 0
      // serves A (%3=0) and B (%3=1); version 1 serves A and C (%3=2) —
      // the removed B must not be read at the head.
      """WITH v0 AS (SELECT CAST(0 AS BIGINT) AS version, o_orderstatus,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 2),
        |v1 AS (SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderkey % 3 IN (0, 2) GROUP BY 2)
        |SELECT * FROM v0 UNION ALL SELECT * FROM v1
        |ORDER BY version, o_orderstatus""".stripMargin)
  )
}
