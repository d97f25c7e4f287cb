package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Snapshot/ACID table layer (SURVEY.md §2.22, round 8) — the transactional
  * table format a plain-parquet warehouse lacks and VERDICT r7 ranked as the
  * #1 missing surface: `sink_merge_upsert` restates whole PARTITIONS; a real
  * lakehouse restates only the FILES a change batch touches, proves old
  * snapshots stay readable (time travel), and commits atomically.
  *
  * The format here is the minimal public-lakehouse design (the common core
  * of the open-source table formats — manifest + snapshot pointer — not an
  * import of any of them):
  *
  *   - data files: immutable parquet files, each tracked with per-file
  *     `(rows, min_key, max_key)` stats in a manifest;
  *   - manifest: one TSV line per live file, written once, never mutated
  *     (`_meta/v{N}.manifest`);
  *   - snapshot pointer: `_meta/CURRENT` names the live version; commits
  *     stage to a temp file and swap via ATOMIC_MOVE, so readers see either
  *     the old snapshot or the new one, never a torn state.
  *
  * MERGE is copy-on-write at FILE granularity: the change batch's key range
  * is intersected with the manifest's per-file [min,max] on the DRIVER —
  * O(files) metadata work, the table-format planning step, no data read —
  * and only overlapping files are rewritten. Untouched files are carried
  * into the new manifest BY REFERENCE (byte identity asserted in
  * LakehouseSpec). At 100 TB this is the difference between rewriting the
  * table and rewriting the ~1/10 of files a batch actually touches; the
  * manifest also replaces directory listing, which is itself a scale
  * bottleneck on object stores.
  *
  * Scale note on the metadata layer: the manifest is driver-side by design
  * (every table format's commit path is), but it is O(files) TEXT — at 10⁶
  * files it is a ~100 MB flat file whose real-world evolution (manifest
  * lists of manifests, stats pushed into a metadata tree) changes layout,
  * not this code's contract.
  */
object Lakehouse extends Family {
  /** One live data file: absolute path + pruning stats on the merge key,
    * plus optional stats on a SECOND clustering key (re-clustering
    * commits record both). Unbounded defaults mean "no information" —
    * key2 pruning then keeps the file, never wrongly drops it. */
  private[graft] final case class FileEntry(
      path: String, rows: Long, minKey: Long, maxKey: Long,
      minKey2: Long = Long.MinValue, maxKey2: Long = Long.MaxValue)

  private def metaDir(root: String): Path = Paths.get(root, "_meta")

  private def manifestPath(root: String, v: Int): Path =
    metaDir(root).resolve(s"v$v.manifest")

  /** Atomic write: stage then ATOMIC_MOVE — a reader of `target` sees the
    * complete old content or the complete new content, never a prefix. */
  private def atomicWrite(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.createDirectories(target.getParent)
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Write manifest v, then swap the pointer. `batches` records the
    * streaming micro-batch ids folded into this snapshot (a `#batches:`
    * header line) — the snapshot itself carries the exactly-once ledger,
    * so a sink replaying a micro-batch after a crash consults ONE
    * atomically-committed object, exactly how real formats store the
    * (queryId, batchId) watermark in snapshot metadata. */
  private[graft] def writeManifest(root: String, v: Int, files: Seq[FileEntry],
      batches: Set[Long] = Set.empty): Unit = {
    val header =
      if (batches.isEmpty) Seq.empty
      else Seq(s"#batches:${batches.toSeq.sorted.mkString(",")}")
    val body = (header ++ files.sortBy(_.path)
      .map(f => s"${f.path}\t${f.rows}\t${f.minKey}\t${f.maxKey}" +
        s"\t${f.minKey2}\t${f.maxKey2}"))
      .mkString("\n")
    atomicWrite(manifestPath(root, v), body)
  }

  private[graft] def commit(root: String, v: Int, files: Seq[FileEntry],
      batches: Set[Long] = Set.empty): Unit = {
    writeManifest(root, v, files, batches)
    atomicWrite(metaDir(root).resolve("CURRENT"), v.toString)
  }

  /** Optimistic-concurrency commit: succeed only if the table is still at
    * `expected` — the compare-and-swap every lakehouse commit protocol
    * performs, so two writers that both planned against v1 cannot both
    * land as v2 (the loser re-plans against the winner's snapshot). The
    * check-then-move window is closed here by synchronizing per-JVM; a
    * multi-writer deployment closes it with the same CAS provided by a
    * catalog service or an object store's if-match precondition — the
    * planning/validation contract (what to CAS, when to re-plan) is
    * identical. */
  private[graft] def commitIf(root: String, expected: Option[Int], v: Int,
      files: Seq[FileEntry], batches: Set[Long] = Set.empty): Boolean =
    commitLock.synchronized {
      if (currentVersion(root) != expected) false
      else { commit(root, v, files, batches); true }
    }
  private val commitLock = new Object

  private[graft] def currentVersion(root: String): Option[Int] = {
    val p = metaDir(root).resolve("CURRENT")
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt)
    else None
  }

  private def manifestLines(root: String, v: Int): Seq[String] =
    new String(Files.readAllBytes(manifestPath(root, v)), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).toSeq

  private[graft] def manifest(root: String, v: Int): Seq[FileEntry] =
    manifestLines(root, v).filterNot(_.startsWith("#")).map { line =>
      line.split("\t") match {
        case Array(p, r, lo, hi) => // legacy 4-field line: no key2 stats
          FileEntry(p, r.toLong, lo.toLong, hi.toLong)
        case Array(p, r, lo, hi, lo2, hi2) =>
          FileEntry(p, r.toLong, lo.toLong, hi.toLong, lo2.toLong, hi2.toLong)
        case other => sys.error(s"malformed manifest line (${other.length} fields)")
      }
    }

  /** Micro-batch ids already folded into snapshot v (exactly-once ledger). */
  private[graft] def manifestBatches(root: String, v: Int): Set[Long] =
    manifestLines(root, v).find(_.startsWith("#batches:"))
      .map(_.stripPrefix("#batches:").split(",").map(_.toLong).toSet)
      .getOrElse(Set.empty)

  /** Snapshot read: the manifest IS the file listing (no directory scan). */
  private[graft] def readSnapshot(s: SparkSession, root: String, v: Int): DataFrame =
    s.read.parquet(manifest(root, v).map(_.path): _*)

  /** Snapshot read with reader-schema reconciliation: after a schema
    * evolution commit the manifest mixes files written under the old and
    * new schemas; mergeSchema unions the footers so old files surface the
    * added column as NULL. Without it Spark takes one file's schema at
    * random — a nondeterminism this helper exists to forbid on any
    * post-evolution snapshot. */
  private[graft] def readSnapshotMerged(s: SparkSession, root: String, v: Int): DataFrame =
    s.read.option("mergeSchema", "true").parquet(manifest(root, v).map(_.path): _*)

  /** READ-side file skipping — the scan twin of the COW write path's
    * pruning: a key-range predicate is intersected with the manifest's
    * per-file [min,max] on the driver, and only overlapping files are
    * handed to the scan. At 100 TB this is the difference between a
    * point-range query reading the table and reading the 1-2 files that
    * can possibly hold the range (the residual predicate still applies —
    * stats admit false positives, never false negatives). */
  private[graft] def pruneFiles(root: String, v: Int, lo: Long, hi: Long): Seq[FileEntry] =
    manifest(root, v).filter(e => e.minKey <= hi && e.maxKey > lo)

  /** Per-file stats for newly written parquet: one distributed pass grouped
    * by `input_file_name` — the write-side stats collection every table
    * format performs (real formats take them from parquet footers; the
    * contract is identical: exact per-file min/max/count on the merge key). */
  private def fileStats(s: SparkSession, dir: String,
      keyCol: String = "o_orderkey", key2Col: Option[String] = None): Seq[FileEntry] = {
    val base = s.read.parquet(dir).groupBy(input_file_name().as("path"))
    key2Col match {
      case None =>
        base.agg(count(lit(1)).as("rows"),
          min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"))
          .collect() // O(files) metadata rows, never data
          .toSeq
          .map(r => FileEntry(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      case Some(k2) =>
        base.agg(count(lit(1)).as("rows"),
          min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
          min(col(k2)).cast("bigint").as("lo2"), max(col(k2)).cast("bigint").as("hi2"))
          .collect()
          .toSeq
          .map(r => FileEntry(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5)))
    }
  }

  /** Builds (idempotently, per sf dir) the two-snapshot table:
    *
    *   v1 = base load of orders (key, year, price), range-laid-out on
    *        o_orderkey across 8 files so per-file [min,max] are tight and
    *        disjoint — the layout that makes file-level pruning effective;
    *   v2 = MERGE of a change batch confined to the lowest key decile
    *        (updates: keys ≡0 mod 7 get price+100; inserts: keys ≡0 mod 11
    *        cloned to key+10M) — rewrites ONLY the files whose key range
    *        overlaps the batch (~1 of 8), appends one insert file, carries
    *        every other file by reference.
    *
    * Returns the table root. Both graded ops call this, so they are
    * order-independent; repeat invocations in one JVM reuse the committed
    * table (CURRENT == 2 short-circuits).
    */
  private[graft] def ensureTable(s: SparkSession, d: String,
      prefix: String = "snap_tbl"): String = {
    val root = Scratch.opDir(prefix, d)
    if (currentVersion(root).exists(_ >= 2)) return root

    // v1: base load. repartitionByRange gives each file a tight, disjoint
    // o_orderkey range — the clustered layout a lakehouse maintains so
    // stats-based pruning has power (random layout ⇒ every file overlaps
    // every batch and COW degenerates to rewrite-the-table).
    val loadDir = s"$root/load-v1"
    Tables.orders(s, d)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"))
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(loadDir)
    val v1Files = fileStats(s, loadDir)
    commit(root, 1, v1Files)

    // Change batch: confined to the lowest key decile. The threshold comes
    // from MANIFEST STATS (max over per-file maxKey), not a table scan —
    // the planning data is already on the driver.
    val thr = v1Files.map(_.maxKey).max / 10L
    val base = readSnapshot(s, root, 1)
    val updates = base
      .where(col("o_orderkey") <= thr && col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("u_key"),
        (col("o_totalprice") + 100.0).as("u_price"))
    val inserts = base
      .where(col("o_orderkey") <= thr && col("o_orderkey") % 11 === 0)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_year"), col("o_totalprice"))

    // File-level pruning: driver-side intersection of the batch's key range
    // with per-file stats. Updates live in [0, thr] ⇒ a file is touched iff
    // minKey <= thr. O(files), no data read.
    val (touched, untouched) = v1Files.partition(_.minKey <= thr)

    // COW rewrite of the touched files only: left-join the (broadcast-sized)
    // update batch, keep non-matching rows verbatim. Inserts land in their
    // own file — appends never rewrite anything.
    val cowDir = s"$root/cow-v2"
    s.read.parquet(touched.map(_.path): _*)
      .join(broadcast(updates), col("o_orderkey") === col("u_key"), "left")
      .select(col("o_orderkey"), col("o_year"),
        coalesce(col("u_price"), col("o_totalprice")).as("o_totalprice"))
      .repartitionByRange(1, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(cowDir)
    val insDir = s"$root/ins-v2"
    inserts.coalesce(1).write.mode("overwrite").parquet(insDir)

    commit(root, 2, untouched ++ fileStats(s, cowDir) ++ fileStats(s, insDir))
    root
  }

  /** Oracle twin of `ensureTable`'s v2: the post-MERGE rows (`post`:
    * o_orderkey, o_totalprice, o_year) replayed from `orders` alone. The
    * batch sits in the lowest key decile (thr = max // 10, the same floor
    * division in both engines); updates add 100.0 to keys ≡0 mod 7,
    * inserts clone keys ≡0 mod 11 at key + 10M. */
  private val V2ReplayCtes =
    """thr AS (SELECT MAX(o_orderkey) // 10 AS t FROM orders),
      |src AS (SELECT o_orderkey, year(o_orderdate) AS o_year, o_totalprice FROM orders),
      |post AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey <= (SELECT t FROM thr) AND o_orderkey % 7 = 0
      |         THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
      |    o_year
      |  FROM src
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_totalprice, o_year
      |  FROM src WHERE o_orderkey <= (SELECT t FROM thr) AND o_orderkey % 11 = 0)""".stripMargin

  /** v3 = compaction of v2: every v2 file bin-packed into 2 range-clustered
    * files, committed via CAS against v2 — the standing maintenance job of
    * a lakehouse (streaming appends accrete small files; compaction
    * restores scan efficiency). The defining property is that it is
    * INVISIBLE to queries: v3 reads byte-equal content to v2 (the graded
    * oracle is literally v2's), and v2 stays readable (readers pinned to
    * the old snapshot are unaffected mid-rewrite). */
  private[graft] def ensureCompacted(s: SparkSession, d: String): String = {
    val root = ensureTable(s, d)
    if (currentVersion(root).exists(_ >= 3)) return root
    val packDir = s"$root/compact-v3"
    readSnapshot(s, root, 2)
      .repartitionByRange(2, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(packDir)
    // a rejected CAS here means re-entry after a partial failure left the
    // table somewhere unexpected — fail loudly now, not later with a
    // confusing missing-manifest read
    require(commitIf(root, Some(2), 3, fileStats(s, packDir)),
      s"compaction expected table at v2 (found ${currentVersion(root)})")
    root
  }

  /** Re-clustering (OPTIMIZE/z-order analogue) on its OWN table prefix:
    * v3 re-sorts every live v2 file on a SECOND clustering key
    * (o_year, o_orderkey) and commits manifest stats for BOTH keys — the
    * maintenance verb that restores pruning power after query patterns
    * drift (a table merge-keyed on o_orderkey gives year-scoped queries
    * zero skipping; after the rewrite a year predicate prunes to the 1-2
    * files that can hold it). Like compaction it is content-INVISIBLE
    * (the graded oracle is v2's post-state), old snapshots stay readable,
    * and the commit is the same CAS. At 100 TB the rewrite is a bounded
    * background job (bin-packed range partitions), not a table-blocking
    * operation — readers pin their snapshot throughout. */
  private[graft] def ensureReclustered(s: SparkSession, d: String): String = {
    val root = ensureTable(s, d, "snap_rc")
    if (currentVersion(root).exists(_ >= 3)) return root
    val rcDir = s"$root/recluster-v3"
    readSnapshot(s, root, 2)
      .repartitionByRange(4, col("o_year"), col("o_orderkey"))
      .sortWithinPartitions("o_year", "o_orderkey")
      .write.mode("overwrite").parquet(rcDir)
    require(commitIf(root, Some(2), 3,
      fileStats(s, rcDir, "o_orderkey", Some("o_year"))),
      s"recluster expected table at v2 (found ${currentVersion(root)})")
    root
  }

  /** Key2-range file skipping over a re-clustered snapshot: inclusive
    * [lo, hi] intersection with the manifest's per-file second-key stats.
    * Files from pre-recluster commits carry unbounded key2 stats and are
    * always kept — false positives, never false negatives. */
  private[graft] def pruneFilesByKey2(root: String, v: Int, lo: Long, hi: Long): Seq[FileEntry] =
    manifest(root, v).filter(e => e.minKey2 <= hi && e.maxKey2 >= lo)

  /** Bloom sidecar geometry: 65536 bits × 4 hashes. At the largest test
    * file cardinality (sf0.1: ~9k rows/file, ~8.5k distinct custkeys)
    * kn/m ≈ 0.52 → false-positive rate ≈ 2.7%; at sf0.01 it is ~1e-5.
    * A production table sizes m from the footer's distinct count per
    * file — the sidecar mechanism is unchanged. */
  private val BloomBits = 65536
  private val BloomK = 4

  /** Driver-side twin of the build's Spark-SQL hash
    * (`md5Bits` of `'j:key'`, 15 hex digits, `% BloomBits`): the point
    * lookup plans against the sidecar WITHOUT a Spark job, so the same
    * positions must be computable on the driver. BloomIndexSpec asserts
    * byte parity between the two. */
  private[graft] def bloomPositions(key: Long): Seq[Int] =
    (0 until BloomK).map { j =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$key".getBytes(StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % BloomBits).toInt
    }

  private def bloomPath(root: String, v: Int): Path =
    metaDir(root).resolve(s"v$v.bloom")

  /** Puffin-style auxiliary stats blob: one hex-encoded bloom bitmap per
    * live file, committed beside (not inside) the manifest so readers
    * that don't know about it are unaffected. */
  private def writeBloomSidecar(root: String, v: Int,
      blooms: Map[String, java.util.BitSet]): Unit =
    atomicWrite(bloomPath(root, v), blooms.toSeq.sortBy(_._1)
      .map { case (p, bs) =>
        s"$p\t${bs.toByteArray.map(b => f"$b%02x").mkString}" }
      .mkString("\n"))

  private def readBloomSidecar(root: String, v: Int): Map[String, java.util.BitSet] =
    new String(Files.readAllBytes(bloomPath(root, v)), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).map { line =>
        val Array(p, hex) = line.split("\t")
        p -> java.util.BitSet.valueOf(
          hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
      }.toMap

  /** Membership pruning on an UNCLUSTERED key: keep a file iff its bloom
    * holds all k bits of the probe (or it has no sidecar entry — false
    * positives allowed, false negatives never). min/max stats are useless
    * for a point lookup on a key uncorrelated with the layout; this is
    * the index that serves it. */
  private[graft] def bloomPruneFiles(root: String, v: Int, key: Long): Seq[FileEntry] = {
    val blooms = readBloomSidecar(root, v)
    val pos = bloomPositions(key)
    manifest(root, v).filter(e =>
      blooms.get(e.path).forall(bs => pos.forall(bs.get)))
  }

  /** v2 = bloom-index maintenance commit on its own table prefix: v1
    * range-lays orders on o_orderkey (so o_custkey is scattered — the
    * layout where min/max pruning has ZERO power for customer lookups),
    * then one distributed pass builds a per-file bloom over o_custkey
    * (k hash positions exploded scan-side, one shuffle on the file name,
    * O(files) bitmap rows back to the driver) and commits it as a
    * sidecar. Data files are untouched — like recluster/compact this is
    * a pure maintenance commit, CAS-protected. */
  private[graft] def ensureBloomTable(s: SparkSession, d: String): String = {
    val root = Scratch.opDir("bloom_tbl", d)
    if (currentVersion(root).exists(_ >= 2)) return root
    val loadDir = s"$root/load-v1"
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(loadDir)
    commit(root, 1, fileStats(s, loadDir))
    val posCols = (0 until BloomK).map(j => expr(
      s"${md5Bits(j.toString, "o_custkey", 15)} % $BloomBits").cast("int"))
    val perFile = s.read.parquet(manifest(root, 1).map(_.path): _*)
      .select(input_file_name().as("path"),
        explode(array(posCols: _*)).as("pos"))
      .groupBy("path").agg(collect_set(col("pos")).as("bits"))
      .collect() // O(files) bitmap rows, never data
    val blooms = perFile.map { r =>
      val bs = new java.util.BitSet(BloomBits)
      r.getSeq[Int](1).foreach(bs.set)
      r.getString(0) -> bs
    }.toMap
    writeBloomSidecar(root, 2, blooms)
    require(commitIf(root, Some(1), 2, manifest(root, 1)),
      s"bloom commit expected table at v1 (found ${currentVersion(root)})")
    root
  }

  /** v4 = row-level DELETE (the right-to-be-forgotten verb that completes
    * the table's DML surface beside MERGE's update/insert): remove keys
    * ≡0 mod 13 inside the decile, copy-on-write. Same planning contract as
    * MERGE — the delete predicate's key range prunes against per-file
    * stats on the driver, only overlapping files are rewritten minus the
    * deleted rows, the rest carry by reference. At 100 TB a targeted
    * erasure batch touches the files holding those keys, never the corpus;
    * full physical erasure additionally requires expiring the older
    * snapshots that still reference the pre-delete files (retention is a
    * policy knob, the mechanism here is the snapshot layer itself). */
  private[graft] def ensureDeleted(s: SparkSession, d: String): String = {
    val root = ensureCompacted(s, d)
    if (currentVersion(root).exists(_ >= 4)) return root
    val v3 = manifest(root, 3)
    // decile threshold over the BASE key domain (v1 stats) — v3's maxKey
    // includes the +10M inserted keys and would skew the decile
    val thr = manifest(root, 1).map(_.maxKey).max / 10L
    val (touched, untouched) = v3.partition(_.minKey <= thr)
    val delDir = s"$root/del-v4"
    s.read.parquet(touched.map(_.path): _*)
      .where(!(col("o_orderkey") % 13 === 0 && col("o_orderkey") <= thr))
      .repartitionByRange(1, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(delDir)
    require(commitIf(root, Some(3), 4, untouched ++ fileStats(s, delDir)),
      s"delete expected table at v3 (found ${currentVersion(root)})")
    root
  }

  /** v5 = SCHEMA EVOLUTION as a snapshot commit: a backfill batch arrives
    * with a NEW column (`o_channel`) and is committed as an append — every
    * pre-evolution file carries into v5 BY REFERENCE, unrewritten (adding
    * a column to a 100 TB table must be a metadata operation, not a table
    * rewrite). The manifest format is unchanged; the read path reconciles
    * schemas per-footer via `readSnapshotMerged`, surfacing the column as
    * NULL for old rows. Batch = base keys ≡0 mod 101 shifted +40M, tagged
    * `backfill`. */
  private[graft] def ensureEvolved(s: SparkSession, d: String): String = {
    val root = ensureDeleted(s, d)
    if (currentVersion(root).exists(_ >= 5)) return root
    val evDir = s"$root/evolve-v5"
    readSnapshot(s, root, 1)
      .where(col("o_orderkey") % 101 === 0)
      .select((col("o_orderkey") + 40000000L).as("o_orderkey"), col("o_year"),
        col("o_totalprice"), lit("backfill").as("o_channel"))
      .coalesce(1).write.mode("overwrite").parquet(evDir)
    require(commitIf(root, Some(4), 5, manifest(root, 4) ++ fileStats(s, evDir)),
      s"schema evolution expected table at v4 (found ${currentVersion(root)})")
    root
  }

  /** ROLLBACK as a snapshot commit (the incident-recovery verb): restore
    * the table to v1's state by committing v3 whose manifest is v1's file
    * list CARRIED BY REFERENCE — a pure metadata operation (zero data
    * files written or deleted; asserted in LakehouseSpec), exactly how
    * production table formats implement rollback. History is preserved:
    * the "bad" v2 stays readable for forensics until retention expires
    * it, and the rollback itself is an ordinary CAS commit that a
    * concurrent writer would conflict against. At 100 TB this is the
    * difference between an O(files-list) pointer flip and re-loading the
    * table from upstream. Own prefix: the main table's v3+ chain
    * (compact/delete/evolve) must not collide with this commit. */
  private[graft] def ensureRolledBack(s: SparkSession, d: String): String = {
    val root = ensureTable(s, d, "snap_rb")
    if (currentVersion(root).exists(_ >= 3)) return root
    require(commitIf(root, Some(2), 3, manifest(root, 1)),
      s"rollback expected table at v2 (found ${currentVersion(root)})")
    root
  }

  /** Branches and tags — named refs beside the CURRENT pointer
    * (`_meta/ref_<name>`), the Iceberg-style multi-ref surface that lets a
    * pipeline stage writes on a DEV branch while MAIN serves readers, and
    * pin immutable TAGS for reproducible training runs. A ref is just a
    * version number written atomically; branch commits advance the ref,
    * never CURRENT, so the two histories share one immutable
    * file/manifest pool (a branch is O(1) metadata to create, like a
    * snapshot). Builds (idempotently): tag `release` pinned at v2, branch
    * `dev` forked at v2, then one append batch (keys ≡0 mod 103 shifted
    * +50M) committed AS v3 ON THE BRANCH — CURRENT stays 2 (asserted in
    * LakehouseSpec: main is isolated from branch writes). */
  private[graft] def writeRef(root: String, name: String, v: Int): Unit =
    atomicWrite(metaDir(root).resolve(s"ref_$name"), v.toString)

  private[graft] def readRef(root: String, name: String): Int = {
    val p = metaDir(root).resolve(s"ref_$name")
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt
  }

  private[graft] def ensureBranched(s: SparkSession, d: String): String = {
    val root = ensureTable(s, d, "snap_br")
    val refP = metaDir(root).resolve("ref_dev")
    if (Files.exists(refP) && readRef(root, "dev") >= 3) return root
    writeRef(root, "release", 2) // immutable tag: pins v2 forever
    writeRef(root, "dev", 2)     // branch head, forked at v2
    val devDir = s"$root/dev-append"
    readSnapshot(s, root, 2)
      .where(col("o_orderkey") % 103 === 0)
      .select((col("o_orderkey") + 50000000L).as("o_orderkey"), col("o_year"),
        col("o_totalprice"))
      .coalesce(1).write.mode("overwrite").parquet(devDir)
    // branch commit: manifest v3 = branch head's files + the batch; only
    // the dev ref advances, CURRENT (= the main ref) is never touched —
    // in a production format every ref update is the same CAS primitive.
    writeManifest(root, 3, manifest(root, readRef(root, "dev")) ++ fileStats(s, devDir))
    writeRef(root, "dev", 3)
    root
  }

  /** Manifest entries hold what `input_file_name()` reports — a `file:`
    * URI on a local filesystem — while GC and existence checks need an OS
    * path; production formats hit the identical seam (manifest URIs vs
    * the FileSystem API) and resolve it the same way. */
  private[graft] def localPath(p: String): Path =
    if (p.startsWith("file:")) Paths.get(new java.net.URI(p).getPath)
    else Paths.get(p)

  /** Builds (idempotently) the expired-retention table graded by
    * `warehouse_snapshot_expire`: the standard v1+v2 fixture with v1
    * dropped below the retention floor via [[expireSnapshots]] — v1's COW
    * pre-images (referenced by no retained manifest) are physically
    * deleted, everything v2 references is untouched. Idempotency key is
    * the expired manifest itself: once v1.manifest is gone the table is
    * in its terminal fixture state. Own prefix — the LakehouseSpec expiry
    * unit test drives expireSnapshots against its own `snap_exp` table
    * and must not race this one. */
  private[graft] def ensureExpired(s: SparkSession, d: String): String = {
    val root = ensureTable(s, d, "snap_gc")
    if (!Files.exists(manifestPath(root, 1))) return root
    expireSnapshots(root, keep = Set(currentVersion(root).get))
    root
  }

  /** Z-ORDER clustering commit — MULTI-dimensional data skipping, the
    * step past `recluster`'s single-key re-sort: re-lays the table out
    * along a space-filling curve (bit-interleave of both keys normalized
    * to 16 bits), so every file covers a compact region in BOTH
    * dimensions and per-file [min,max] stats have pruning power for
    * point-range predicates on EITHER key simultaneously — a linear sort
    * gives perfect stats on one key and useless full-span stats on the
    * other (asserted against v1 in LakehouseSpec). The z-value is a
    * codegen'd HOF fold (no UDF), computed only during the rewrite and
    * dropped before the write; the commit is ordinary CAS + two-key
    * manifest stats. At 100 TB this is how a table serves both
    * "by order" and "by customer" access patterns from one layout.
    *
    * v1 = orders (key, custkey, year, price) range-laid-out on o_orderkey
    * only; v2 = all files rewritten in z order. The two normalization
    * maxima come from v1's manifest stats — driver-side metadata, no
    * scan. */
  private[graft] def ensureZordered(s: SparkSession, d: String): String = {
    val root = Scratch.opDir("snap_zo", d)
    if (currentVersion(root).exists(_ >= 2)) return root
    val loadDir = s"$root/load-v1"
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"), col("o_totalprice"))
      .repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(loadDir)
    val v1Files = fileStats(s, loadDir, "o_orderkey", Some("o_custkey"))
    commit(root, 1, v1Files)

    val maxO = v1Files.map(_.maxKey).max
    val maxC = v1Files.map(_.maxKey2).max
    val zDir = s"$root/z-v2"
    readSnapshot(s, root, 1)
      .withColumn("ok16", col("o_orderkey") * 65535L / lit(maxO))
      .withColumn("ck16", col("o_custkey") * 65535L / lit(maxC))
      .withColumn("z", expr(
        """aggregate(sequence(0, 15), 0L, (acc, i) ->
          |  acc | shiftleft(shiftright(ok16, i) & 1, 2 * i)
          |      | shiftleft(shiftright(ck16, i) & 1, 2 * i + 1))""".stripMargin))
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions("z")
      .drop("ok16", "ck16", "z")
      .write.mode("overwrite").parquet(zDir)
    require(commitIf(root, Some(1), 2,
      fileStats(s, zDir, "o_orderkey", Some("o_custkey"))),
      s"z-order commit expected table at v1 (found ${currentVersion(root)})")
    root
  }

  /** Builds (idempotently) the two-writer conflict table: both writers
    * stage an append batch and PLAN against the same snapshot (v2); writer
    * A's CAS lands as v3; writer B's CAS against its planned base is
    * REJECTED (the table moved), so B rebases — re-reads the CURRENT
    * manifest, re-validates (append batches can never conflict row-wise;
    * a MERGE rebase would re-check file overlap against the winner's
    * rewrites), and retries against v3 — landing as v4. This is the
    * optimistic-concurrency loop every multi-writer lakehouse runs on
    * every commit; the graded output proves NEITHER batch was lost
    * (isolation + durability through a conflict). A = keys ≡0 mod 97
    * shifted +20M, B = keys ≡0 mod 89 shifted +30M, both sourced from the
    * v2 post-state each writer actually read. */
  private[graft] def ensureConflicted(s: SparkSession, d: String): String = {
    val root = ensureTable(s, d, "snap_cc")
    if (currentVersion(root).exists(_ >= 4)) return root
    val snap2 = readSnapshot(s, root, 2)
    // B's batch is staged unconditionally (never referenced until its
    // commit below); A's batch + the v2->v3 race are only replayed when
    // the table really is at v2 — on RE-ENTRY after a partial failure that
    // left the table at v3, writer A's files are live manifest references
    // and must not be rewritten, so the resume path skips straight to B's
    // rebase instead of throwing 'writer A expected a clean CAS'.
    val bDir = s"$root/writer-b"
    snap2.where(col("o_orderkey") % 89 === 0)
      .select((col("o_orderkey") + 30000000L).as("o_orderkey"), col("o_year"),
        col("o_totalprice"))
      .coalesce(1).write.mode("overwrite").parquet(bDir)
    val fb = fileStats(s, bDir)
    if (currentVersion(root).contains(2)) {
      val v2 = manifest(root, 2)
      val aDir = s"$root/writer-a"
      snap2.where(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"), col("o_year"),
          col("o_totalprice"))
        .coalesce(1).write.mode("overwrite").parquet(aDir)
      val fa = fileStats(s, aDir)
      // Writer A lands first: clean CAS v2 -> v3.
      require(commitIf(root, Some(2), 3, v2 ++ fa), "writer A expected a clean CAS")
      // Writer B's CAS against its planned base MUST be rejected — this
      // require IS the isolation property under test, not error handling.
      require(!commitIf(root, Some(2), 3, v2 ++ fb), "stale CAS must be rejected")
    }
    // Rebase: replan against the winner's snapshot, retry (reached both on
    // the fresh path and on resume-from-v3).
    require(commitIf(root, Some(3), 4, manifest(root, 3) ++ fb),
      "rebased CAS should land")
    root
  }

  /** Snapshot retention / vacuum — the OTHER half of ACID maintenance and
    * the completion of DELETE's erasure story: physically remove every
    * data file referenced ONLY by expired snapshots, then drop their
    * manifests. Readers of kept snapshots are untouched (their files are
    * the `referenced` set); the current snapshot can never be expired.
    * Driver-side O(files) metadata work, file deletes are idempotent. */
  private[graft] def expireSnapshots(root: String, keep: Set[Int]): Unit = {
    val cur = currentVersion(root)
      .getOrElse(sys.error(s"no committed snapshot at $root"))
    require(keep.contains(cur), s"cannot expire the current snapshot v$cur")
    val versions = {
      val st = Files.list(metaDir(root))
      try st.toArray.map(_.toString)
        .flatMap("""v(\d+)\.manifest$""".r.findFirstMatchIn(_))
        .map(_.group(1).toInt).toSet
      finally st.close()
    }
    val expired = versions.diff(keep)
    val referenced = keep.intersect(versions)
      .flatMap(v => manifest(root, v).map(e => localPath(e.path).normalize))
    expired.foreach { v =>
      manifest(root, v).map(e => localPath(e.path).normalize)
        .filterNot(referenced).foreach(Files.deleteIfExists)
      Files.deleteIfExists(manifestPath(root, v))
    }
  }

  /** Exactly-once streaming append: fold micro-batch `batchId` into the
    * table unless the current snapshot's ledger already holds it — the
    * foreachBatch → lakehouse bridge. Idempotent by construction: the data
    * write is an overwrite of a batch-keyed dir, and the ledger lives IN
    * the atomically-committed snapshot, so a replayed batch (Spark's
    * at-least-once foreachBatch contract after a crash) is a no-op and the
    * sink upgrades to exactly-once. */
  private[graft] def appendBatch(s: SparkSession, root: String, keyCol: String,
      batchId: Long, df: DataFrame): Unit = {
    // CAS retry loop: if another writer (or a maintenance job) advanced
    // the table between our snapshot read and the commit, the commit is
    // rejected — re-read CURRENT + ledger, re-check the batch id (the
    // winner may have been a replay of this very batch), and retry against
    // the new snapshot. Appends never conflict row-wise, so the rebase is
    // just re-reading metadata; the data files are written once. A
    // SILENTLY dropped batch here would break the exactly-once contract
    // while the streaming engine records the batch as committed, so
    // exhausting retries throws rather than returns.
    val dir = s"$root/b$batchId"
    var wrote = false
    var stats: Seq[FileEntry] = Seq.empty
    var attempts = 0
    while (true) {
      val cur = currentVersion(root)
      val (prior, ledger) = cur match {
        case Some(v) => (manifest(root, v), manifestBatches(root, v))
        case None    => (Seq.empty[FileEntry], Set.empty[Long])
      }
      if (ledger.contains(batchId)) return // replayed batch: already committed
      if (!wrote) {
        df.write.mode("overwrite").parquet(dir)
        stats = fileStats(s, dir, keyCol)
        wrote = true
      }
      if (commitIf(root, cur, cur.getOrElse(0) + 1, prior ++ stats,
          ledger + batchId)) return
      attempts += 1
      require(attempts < 20,
        s"appendBatch b$batchId: lost $attempts CAS races at $root — giving up loudly")
    }
  }

  /** Builds (idempotently, per sf dir) the streaming-ingested table: the
    * events table staged as 4 files, streamed with Trigger.AvailableNow at
    * maxFilesPerTrigger=2 (≥2 real micro-batches), each batch appended via
    * `appendBatch`. Content is split-invariant, so the graded oracle is
    * the plain batch aggregate — the streaming ≡ batch contract, now with
    * an ACID table in the middle. */
  private[graft] def ensureStreamTable(s: SparkSession, d: String): String = {
    val root = Scratch.opDir("snap_stream", d)
    if (currentVersion(root).exists(_ >= 1)) return root
    // Stage: project the streamed columns ONCE into 4 parquet files (drops
    // the TIMESTAMP(NANOS) column so the file stream needs no legacy conf).
    val stage = s"$root/stage"
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("bigint").as("value_cents"))
      .repartition(4)
      .write.mode("overwrite").parquet(stage)
    val sch = s.read.parquet(stage).schema
    val q = s.readStream.schema(sch).option("maxFilesPerTrigger", "2")
      .parquet(stage)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatch(batch.sparkSession, root, "event_id", id, batch)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    root
  }

  // ------------------------------------------------------------------
  // Deletion vectors — MERGE-ON-READ row-level delete. The COW path
  // (`ensureDeleted`) rewrites every file a delete touches; a DV commit
  // rewrites NOTHING: it records the deleted rows' (file, position) pairs
  // in a sidecar and carries every data file into the new snapshot by
  // reference. Positions come from the scan itself (`_metadata.row_index`,
  // the parquet reader's per-file row ordinal — no shuffle, no synthetic
  // ids), so at 100 TB a delete is O(matched rows) metadata, and the
  // latency trade every table format offers (write-cheap MOR now,
  // read-clean purge later) is explicit: `ensureDvPurged` is the
  // maintenance job that folds the DV back into clean files.
  // ------------------------------------------------------------------
  private def dvPath(root: String, v: Int): Path = metaDir(root).resolve(s"v$v.dv")

  /** DV sidecar: one `path \t position` line per deleted row, written
    * atomically beside the manifest. Production formats pack this as a
    * roaring bitmap per file; the text layout changes size, not the
    * (file, position) contract the read path joins on. */
  private[graft] def writeDv(root: String, v: Int, dv: Seq[(String, Long)]): Unit =
    atomicWrite(dvPath(root, v), dv.sorted.map { case (p, i) => s"$p\t$i" }.mkString("\n"))

  private[graft] def readDvEntries(root: String, v: Int): Seq[(String, Long)] = {
    val p = dvPath(root, v)
    if (!Files.exists(p)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { l =>
        val t = l.split("\t"); (t(0), t(1).toLong)
      }
    }
  }

  /** Snapshot read with the version's deletion vector applied: the scan
    * surfaces each row's (file, position) from parquet metadata and
    * anti-joins the broadcast DV. A version without a sidecar reads clean
    * (post-purge snapshots take this branch). */
  private[graft] def readSnapshotMor(s: SparkSession, root: String, v: Int): DataFrame = {
    import s.implicits._
    val entries = readDvEntries(root, v)
    val scan = readSnapshot(s, root, v)
    if (entries.isEmpty) scan
    else {
      val dv = entries.toDF("dv_path", "dv_pos")
      scan
        .withColumn("_file", col("_metadata.file_path"))
        .withColumn("_pos", col("_metadata.row_index"))
        .join(broadcast(dv),
          col("_file") === col("dv_path") && col("_pos") === col("dv_pos"),
          "left_anti")
        .drop("_file", "_pos")
    }
  }

  /** v3 = DV DELETE of keys ≡0 mod 17 (disjoint from the COW delete's mod
    * 13 so the two stories stay independent): the doomed rows' positions
    * are harvested in ONE scan, the manifest carries v2's files untouched
    * (byte identity asserted in LakehouseSpec), and the commit is the same
    * CAS every other writer uses. The driver-side collect is O(deleted
    * rows) — the DV itself; a production writer would fold positions into
    * per-file bitmaps distributedly, same contract. */
  private[graft] def ensureDvTable(s: SparkSession, d: String): String = {
    val root = ensureTable(s, d, "snap_dv")
    if (currentVersion(root).exists(_ >= 3)) return root
    val doomed = readSnapshot(s, root, 2)
      .where(col("o_orderkey") % 17 === 0)
      .select(col("_metadata.file_path").as("p"), col("_metadata.row_index").as("i"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    writeDv(root, 3, doomed)
    require(commitIf(root, Some(2), 3, manifest(root, 2)),
      s"dv delete expected table at v2 (found ${currentVersion(root)})")
    root
  }

  /** v4 = DV PURGE — the standing maintenance job that rewrites ONLY the
    * files the v3 sidecar names (applying their deletions) and carries
    * every clean file by reference; the new snapshot has no sidecar, so
    * reads take the fast path again. Invisible to queries by construction:
    * the graded oracle is v3's. */
  private[graft] def ensureDvPurged(s: SparkSession, d: String): String = {
    val root = ensureDvTable(s, d)
    if (currentVersion(root).exists(_ >= 4)) return root
    import s.implicits._
    val entries = readDvEntries(root, 3)
    // the sidecar stores `_metadata.file_path` URIs, the manifest stores
    // `input_file_name()` URIs — same files, different file:/ spellings;
    // compare on the normalized local path
    val dvFiles = entries.map(e => localPath(e._1).toString).toSet
    val (touched, untouched) =
      manifest(root, 3).partition(e => dvFiles.contains(localPath(e.path).toString))
    require(touched.nonEmpty, "DV purge found no files to rewrite — path-format drift?")
    val purgeDir = s"$root/purge-v4"
    s.read.parquet(touched.map(_.path): _*)
      .withColumn("_file", col("_metadata.file_path"))
      .withColumn("_pos", col("_metadata.row_index"))
      .join(broadcast(entries.toDF("dv_path", "dv_pos")),
        col("_file") === col("dv_path") && col("_pos") === col("dv_pos"),
        "left_anti")
      .drop("_file", "_pos")
      .repartitionByRange(1, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(purgeDir)
    require(commitIf(root, Some(3), 4, untouched ++ fileStats(s, purgeDir)),
      s"dv purge expected table at v3 (found ${currentVersion(root)})")
    root
  }

  // ------------------------------------------------------------------
  // Partition-spec evolution — the Iceberg capability that a table's
  // LAYOUT can change without rewriting history: v1 files were laid out
  // under spec 1 (clustered by o_orderkey; no year stats), the v2 append
  // lands under spec 2 (clustered by o_year, per-file year stats in the
  // manifest's key2 slots), and OLD FILES CARRY BY REFERENCE. Scan
  // planning prunes each file by whatever stats ITS spec recorded:
  // unbounded key2 defaults mean spec-1 files are never wrongly dropped,
  // spec-2 files prune tight. At 100 TB this is how a table switches
  // partitioning (e.g. daily → hourly) as data grows — a metadata
  // decision, not a 100 TB rewrite.
  // ------------------------------------------------------------------
  private[graft] def ensureSpecEvolved(s: SparkSession, d: String): String = {
    val root = Scratch.opDir("snap_pe", d)
    if (currentVersion(root).exists(_ >= 2)) return root
    val loadDir = s"$root/load-v1"
    Tables.orders(s, d)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"))
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(loadDir)
    commit(root, 1, fileStats(s, loadDir)) // spec 1: key stats only
    val batchDir = s"$root/batch-v2"
    readSnapshot(s, root, 1)
      .where(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + 70000000L).as("o_orderkey"), col("o_year"),
        col("o_totalprice"))
      .repartitionByRange(4, col("o_year"), col("o_orderkey"))
      .sortWithinPartitions("o_year", "o_orderkey")
      .write.mode("overwrite").parquet(batchDir)
    require(commitIf(root, Some(1), 2,
      manifest(root, 1) ++ fileStats(s, batchDir, key2Col = Some("o_year"))),
      s"spec evolution expected table at v1 (found ${currentVersion(root)})")
    root
  }

  // ------------------------------------------------------------------
  // Shallow clone — a zero-copy TABLE fork: a new table root whose v1
  // manifest references the SOURCE table's live files by path (the
  // cross-table generalization of branch refs: a clone has its own
  // version history and CURRENT pointer, but shares the immutable file
  // pool until it diverges). Cloning a 100 TB table for a dev/test/
  // what-if workload is O(manifest) metadata; writes to the clone land
  // as ordinary commits on the CLONE's chain and never touch the source.
  // ------------------------------------------------------------------
  private[graft] def ensureCloned(s: SparkSession, d: String): String = {
    val src = ensureTable(s, d)
    val root = Scratch.opDir("snap_clone", d)
    if (currentVersion(root).exists(_ >= 2)) return root
    commit(root, 1, manifest(src, 2)) // zero-copy fork of the source's live state
    // divergence: one append batch committed on the CLONE ONLY (keys ≡0
    // mod 107 shifted +90M) — the source stays at its own history
    val devDir = s"$root/clone-append"
    readSnapshot(s, root, 1)
      .where(col("o_orderkey") % 107 === 0 && col("o_orderkey") < 10000000L)
      .select((col("o_orderkey") + 90000000L).as("o_orderkey"), col("o_year"),
        col("o_totalprice"))
      .coalesce(1).write.mode("overwrite").parquet(devDir)
    require(commitIf(root, Some(1), 2, manifest(root, 1) ++ fileStats(s, devDir)),
      s"clone append expected clone at v1 (found ${currentVersion(root)})")
    root
  }

  // ------------------------------------------------------------------
  // Write-Audit-Publish — the staging workflow every production ingest
  // runs on a branch-capable table: the batch COMMITS first (on the
  // `wap` ref, invisible to main readers), the audit queries the staged
  // snapshot through that ref, and publish is a pure O(1) metadata
  // fast-forward of CURRENT — no second data write, no copy. A failed
  // audit leaves main byte-untouched and the quarantined batch fully
  // queryable on its branch for debugging. At 100 TB the audit is the
  // only data-touching step, and it reads exactly the staged snapshot.
  // ------------------------------------------------------------------
  private[graft] def ensureWap(s: SparkSession, d: String): String = {
    val root = ensureTable(s, d, "snap_wap")
    if (currentVersion(root).exists(_ >= 3)) return root
    // STAGE: commit the batch as v3 on the wap ref; CURRENT stays 2.
    val stageDir = s"$root/wap-stage"
    readSnapshot(s, root, 2)
      .where(col("o_orderkey") % 101 === 0 && col("o_orderkey") < 10000000L)
      .select((col("o_orderkey") + 70000000L).as("o_orderkey"), col("o_year"),
        col("o_totalprice"))
      .coalesce(1).write.mode("overwrite").parquet(stageDir)
    writeManifest(root, 3, manifest(root, 2) ++ fileStats(s, stageDir))
    writeRef(root, "wap", 3)
    // AUDIT: quality gates on the STAGED snapshot, read through the ref.
    val a = readSnapshot(s, root, readRef(root, "wap"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nulls"),
        sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("negs"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dups"))
      .collect()(0)
    val baseRows = manifest(root, 2).map(_.rows).sum
    require(a.getLong(1) == 0 && a.getLong(2) == 0 && a.getLong(3) == 0
        && a.getLong(0) > baseRows,
      s"WAP audit failed — batch stays quarantined on the wap ref: $a")
    // PUBLISH: CAS fast-forward of CURRENT to the audited version.
    require(commitIf(root, Some(2), 3, manifest(root, 3)),
      s"WAP publish expected main at v2 (found ${currentVersion(root)})")
    root
  }

  // ------------------------------------------------------------------
  // Row-level lineage — Iceberg-v3-style row tracking: every row gets a
  // stable `_row_id` plus `_created_v`/`_modified_v` stamps at ingest,
  // and the COW MERGE must CARRY them through the rewrite (never
  // recompute): an update bumps only `_modified_v`, untouched rows in a
  // rewritten file keep their stamps byte-for-byte, files outside the
  // batch's key range carry by reference. Downstream incremental
  // consumers (CDC compaction, audit trails, train-data freshness cuts)
  // filter on `_modified_v` instead of diffing snapshots.
  // ------------------------------------------------------------------
  private[graft] def ensureLineage(s: SparkSession, d: String): String = {
    val root = Scratch.opDir("snap_lin", d)
    if (currentVersion(root).exists(_ >= 2)) return root
    val loadDir = s"$root/load-v1"
    Tables.orders(s, d)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"), col("o_orderkey").as("_row_id"),
        lit(1L).as("_created_v"), lit(1L).as("_modified_v"))
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(loadDir)
    val v1Files = fileStats(s, loadDir)
    commit(root, 1, v1Files)
    // same change-batch shape as ensureTable's MERGE (low-decile updates
    // mod 7, inserts mod 11 shifted +10M) so the replay stays uniform
    val thr = v1Files.map(_.maxKey).max / 10L
    val base = readSnapshot(s, root, 1)
    val updates = base
      .where(col("o_orderkey") <= thr && col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("u_key"),
        (col("o_totalprice") + 100.0).as("u_price"))
    val inserts = base
      .where(col("o_orderkey") <= thr && col("o_orderkey") % 11 === 0)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_year"),
        col("o_totalprice"), (col("o_orderkey") + 10000000L).as("_row_id"),
        lit(2L).as("_created_v"), lit(2L).as("_modified_v"))
    val (touched, untouched) = v1Files.partition(_.minKey <= thr)
    val cowDir = s"$root/cow-v2"
    s.read.parquet(touched.map(_.path): _*)
      .join(broadcast(updates), col("o_orderkey") === col("u_key"), "left")
      .select(col("o_orderkey"), col("o_year"),
        coalesce(col("u_price"), col("o_totalprice")).as("o_totalprice"),
        col("_row_id"), col("_created_v"),
        when(col("u_key").isNotNull, lit(2L)).otherwise(col("_modified_v"))
          .as("_modified_v"))
      .repartitionByRange(1, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(cowDir)
    val insDir = s"$root/ins-v2"
    inserts.coalesce(1).write.mode("overwrite").parquet(insDir)
    require(commitIf(root, Some(1), 2,
      untouched ++ fileStats(s, cowDir) ++ fileStats(s, insDir)),
      s"lineage merge expected table at v1 (found ${currentVersion(root)})")
    root
  }

  // ------------------------------------------------------------------
  // Catalog-atomic MULTI-TABLE transaction — the capability most table
  // formats lack (Iceberg/Delta commit one table at a time): moving the
  // 1997 archive year from the hot table to the archive table must be
  // all-or-nothing ACROSS BOTH. The trick: readers resolve BOTH tables'
  // versions from ONE catalog pointer file ("va vb"), so staging each
  // table's next manifest publishes NOTHING — the single atomic swap of
  // the catalog pointer is the whole commit, and a crash between the
  // two manifest writes leaves readers on the old pair (asserted: the
  // per-table CURRENT pointers still say v1; they are not the publish
  // mechanism here). The hot table's delete is file-pruned on the
  // manifest's year stats (year-clustered layout), archive appends by
  // reference — same COW economics as the single-table MERGE.
  // ------------------------------------------------------------------
  private[graft] def catVersions(base: String): (Int, Int) = {
    val p = Paths.get(base, "CATALOG_CURRENT")
    val parts = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .trim.split(" ")
    (parts(0).toInt, parts(1).toInt)
  }

  private[graft] def ensureMultiTxn(s: SparkSession, d: String): String = {
    val base = Scratch.opDir("snap_mtx", d)
    val catP = Paths.get(base, "CATALOG_CURRENT")
    if (Files.exists(catP) && catVersions(base) == ((2, 2))) return base
    Files.createDirectories(Paths.get(base))
    val aRoot = s"$base/hot"; val bRoot = s"$base/archive"
    val src = Tables.orders(s, d).select(col("o_orderkey"),
      year(col("o_orderdate")).as("o_year"), col("o_totalprice"))
    // v1 loads: hot = 1997+, archive = pre-1997; hot is YEAR-clustered so
    // the archival delete below can prune by the manifest's year stats
    val aLoad = s"$aRoot/load-v1"
    src.where(col("o_year") >= 1997)
      .repartitionByRange(4, col("o_year"), col("o_orderkey"))
      .sortWithinPartitions("o_year", "o_orderkey")
      .write.mode("overwrite").parquet(aLoad)
    commit(aRoot, 1, fileStats(s, aLoad, key2Col = Some("o_year")))
    val bLoad = s"$bRoot/load-v1"
    src.where(col("o_year") < 1997)
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(bLoad)
    commit(bRoot, 1, fileStats(s, bLoad))
    atomicWrite(catP, "1 1")
    // ---- the transaction: stage BOTH tables' v2, publish with ONE swap
    val aFiles = manifest(aRoot, 1)
    val (touched, untouched) = aFiles.partition(f =>
      f.minKey2 <= 1997L && 1997L <= f.maxKey2)
    val keepDir = s"$aRoot/keep-v2"
    s.read.parquet(touched.map(_.path): _*)
      .where(col("o_year") =!= 1997)
      .repartitionByRange(1, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(keepDir)
    val moveDir = s"$bRoot/moved-v2"
    s.read.parquet(touched.map(_.path): _*)
      .where(col("o_year") === 1997)
      .coalesce(1).write.mode("overwrite").parquet(moveDir)
    writeManifest(aRoot, 2,
      untouched ++ fileStats(s, keepDir, key2Col = Some("o_year")))
    writeManifest(bRoot, 2, manifest(bRoot, 1) ++ fileStats(s, moveDir))
    // both manifests staged, nothing published; the one-file CAS commits
    require(catVersions(base) == ((1, 1)),
      s"multi-table CAS expected catalog at (1,1), found ${catVersions(base)}")
    atomicWrite(catP, "2 2")
    base
  }

  // ------------------------------------------------------------------
  // Orphan-file scan — the crashed-writer cleanup that completes the
  // maintenance trio (compaction, snapshot expiry, orphan removal): a
  // data file a dying writer left behind is referenced by NO manifest
  // version, invisible to every reader, and pure storage leak. The scan
  // is set-difference of the directory walk against the union of ALL
  // manifests' file sets — O(files) metadata, no data read; removal is
  // idempotent (the _ORPHANS_CLEANED marker keeps repeat invocations in
  // one JVM byte-stable for the bench's re-runs).
  // ------------------------------------------------------------------
  private[graft] def ensureOrphaned(s: SparkSession, d: String): String = {
    val root = ensureTable(s, d, "snap_orph")
    val marker = Paths.get(root, "_ORPHANS_CLEANED")
    val crashDir = s"$root/crashed-write"
    if (!Files.exists(marker) && !Files.exists(Paths.get(crashDir))) {
      // simulate the dying writer: data staged, no manifest ever written
      readSnapshot(s, root, 2)
        .where(col("o_orderkey") % 113 === 0 && col("o_orderkey") < 10000000L)
        .select((col("o_orderkey") + 80000000L).as("o_orderkey"), col("o_year"),
          col("o_totalprice"))
        .coalesce(1).write.mode("overwrite").parquet(crashDir)
    }
    root
  }

  val ops: Seq[Op] = Seq(
    // The ACID MERGE: graded output is the post-merge table read through
    // the v2 manifest. Oracle replays the batch from `orders` alone —
    // byte-equality proves the COW rewrite + carried-by-reference files
    // reassemble the exact post-state.
    Op("warehouse_snapshot_acid", (s, d) => {
      val root = ensureTable(s, d)
      readSnapshot(s, root, 2)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 10000000L, 1L).otherwise(0L)).as("n_inserted"))
        .orderBy("o_year")
    },
      // Post-state replay from the source alone.
      s"""WITH $V2ReplayCtes
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM post GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Time travel: AFTER v2 is committed, v1 must still read exactly the
    // pre-merge state — snapshot isolation is what makes concurrent
    // readers and reproducible training runs possible on a mutating table.
    // Oracle = the base load replayed from `orders`.
    Op("warehouse_time_travel", (s, d) => {
      val root = ensureTable(s, d)
      readSnapshot(s, root, 1)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_year")
    },
      // v1 must equal the untouched base load even though v2 exists.
      """SELECT year(o_orderdate) AS o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Compaction as a SNAPSHOT COMMIT: v3 bin-packs v2's files and must be
    // invisible to queries — the oracle is v2's post-state, LakehouseSpec
    // asserts the file count dropped and v2 stayed readable.
    Op("warehouse_snapshot_compact", (s, d) => {
      val root = ensureCompacted(s, d)
      readSnapshot(s, root, 3)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 10000000L, 1L).otherwise(0L)).as("n_inserted"))
        .orderBy("o_year")
    },
      // Compaction must be invisible: v3 reads v2's exact post-state.
      s"""WITH $V2ReplayCtes
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM post GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Row-level DELETE, COW + stats-pruned like MERGE: v4 drops keys
    // ≡0 mod 13 inside the decile. Oracle = v2's post-state minus exactly
    // those rows; LakehouseSpec asserts pruning and that v3 stays readable.
    Op("warehouse_snapshot_delete", (s, d) => {
      val root = ensureDeleted(s, d)
      readSnapshot(s, root, 4)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 10000000L, 1L).otherwise(0L)).as("n_inserted"))
        .orderBy("o_year")
    },
      // v2 post-state minus the deleted keys (≡0 mod 13 inside the decile;
      // the +10M inserted keys are outside the decile so none are deleted).
      s"""WITH $V2ReplayCtes
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM post
        |WHERE NOT (o_orderkey % 13 = 0 AND o_orderkey <= (SELECT t FROM thr))
        |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Manifest statistics — SHOW STATS answered from METADATA: per
    // snapshot version, row count and key range come from the manifest's
    // per-file stats (driver-side O(files), zero data read — at 100 TB
    // this is the difference between an instant answer and a table
    // scan). The oracle recomputes the same numbers the hard way, from
    // the data — proving the metadata is truthful.
    Op("warehouse_manifest_stats", (s, d) => {
      val root = ensureTable(s, d)
      import s.implicits._
      Seq(1, 2).map { v =>
        val m = manifest(root, v)
        (v.toLong, m.map(_.rows).sum, m.map(_.minKey).min, m.map(_.maxKey).max)
      }.toDF("version", "n_rows", "min_key", "max_key")
        .orderBy("version")
    },
      // The same stats recomputed from the DATA: v1 = the base load, v2 =
      // base + the insert batch (updates don't change counts or the key
      // range; inserts extend the max to the shifted domain).
      """WITH thr AS (SELECT MAX(o_orderkey) // 10 AS t FROM orders),
        |ins AS (SELECT o_orderkey + 10000000 AS k FROM orders
        |        WHERE o_orderkey <= (SELECT t FROM thr) AND o_orderkey % 11 = 0)
        |SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders
        |UNION ALL
        |SELECT 2, (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM ins),
        |  (SELECT MIN(o_orderkey) FROM orders), (SELECT MAX(k) FROM ins)
        |ORDER BY version""".stripMargin),

    // Shallow clone: the graded output is the DIVERGED clone (source's
    // live state + the clone-only append) — while the clone's v1 copied
    // zero data files and the source table is byte-untouched
    // (LakehouseSpec asserts both). Oracle = the ACID post-state plus
    // the replayed clone batch.
    Op("warehouse_clone_shallow", (s, d) => {
      val root = ensureCloned(s, d)
      readSnapshot(s, root, 2)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 90000000L, 1L).otherwise(0L)).as("n_cloned"))
        .orderBy("o_year")
    },
      // ACID post-state plus the clone-only batch (base keys ≡0 mod 107
      // shifted +90M), replayed from `orders`.
      s"""WITH $V2ReplayCtes,
        |clonebatch AS (
        |  SELECT o_orderkey + 90000000 AS o_orderkey, o_totalprice, o_year
        |  FROM post WHERE o_orderkey % 107 = 0 AND o_orderkey < 10000000),
        |allrows AS (SELECT * FROM post UNION ALL SELECT * FROM clonebatch)
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 90000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_cloned
        |FROM allrows
        |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Merge-on-read DELETE: the graded output is the post-DV state read
    // through the (file, position) anti-join — while ZERO data files were
    // rewritten (LakehouseSpec asserts byte identity of every v3 file with
    // its v2 twin). Oracle = the COW post-state minus keys ≡0 mod 17.
    Op("warehouse_snapshot_dv", (s, d) => {
      val root = ensureDvTable(s, d)
      readSnapshotMor(s, root, 3)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 10000000L, 1L).otherwise(0L)).as("n_inserted"))
        .orderBy("o_year")
    },
      // Post-merge state minus the DV'd keys (≡0 mod 17), replayed from
      // `orders` — identical content read through zero rewritten files.
      s"""WITH $V2ReplayCtes
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM post
        |WHERE o_orderkey % 17 <> 0
        |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // DV purge: v4 folds the sidecar into clean files (rewriting ONLY the
    // files the DV names) and must be invisible to queries — the oracle is
    // byte-for-byte v3's, read through the same MOR path (which now takes
    // the no-sidecar fast branch).
    Op("warehouse_dv_purge", (s, d) => {
      val root = ensureDvPurged(s, d)
      readSnapshotMor(s, root, 4)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 10000000L, 1L).otherwise(0L)).as("n_inserted"))
        .orderBy("o_year")
    },
      // The purge is invisible: v4 reads exactly v3's content.
      s"""WITH $V2ReplayCtes
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM post
        |WHERE o_orderkey % 17 <> 0
        |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Partition-spec evolution: a year-scoped query plans against the
    // two-spec manifest — spec-2 files prune by their year stats, spec-1
    // files (no year info) are all kept and filtered by the residual
    // predicate. LakehouseSpec asserts the plan actually dropped spec-2
    // files while keeping every spec-1 file.
    Op("warehouse_partition_evolve", (s, d) => {
      val root = ensureSpecEvolved(s, d)
      val files = pruneFilesByKey2(root, 2, 1995L, 1995L)
      s.read.parquet(files.map(_.path): _*)
        .where(col("o_year") === 1995)
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 70000000L, 1L).otherwise(0L)).as("n_newspec"))
    },
      // Both specs' rows for the queried year, replayed from `orders`.
      """WITH src AS (SELECT o_orderkey, year(o_orderdate) AS o_year, o_totalprice FROM orders),
        |post AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT o_orderkey + 70000000, o_year, o_totalprice
        |  FROM src WHERE o_orderkey % 97 = 0)
        |SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 70000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_newspec
        |FROM post WHERE o_year = 1995""".stripMargin),

    // CDC / incremental consumption: the change rows between two snapshots,
    // computed from the MANIFEST DIFF — files shared by v1 and v2 were
    // carried by reference and cannot contain changes, so only the
    // rewritten/new files (and their v1 pre-images) are read and
    // multiset-diffed. At 100 TB an incremental consumer reads O(changed
    // files), never the table — the changelog a downstream training
    // pipeline tails instead of re-scanning the corpus. Row-level output:
    // every update carries its new value, every insert its row.
    Op("warehouse_snapshot_changes", (s, d) => {
      val root = ensureTable(s, d)
      val v1 = manifest(root, 1)
      val v2 = manifest(root, 2)
      val shared = v1.map(_.path).toSet.intersect(v2.map(_.path).toSet)
      val newFiles = v2.filterNot(e => shared(e.path)).map(_.path)
      val preImage = v1.filterNot(e => shared(e.path)).map(_.path)
      s.read.parquet(newFiles: _*)
        .exceptAll(s.read.parquet(preImage: _*))
        .withColumn("change_type",
          when(col("o_orderkey") >= 10000000L, lit("insert")).otherwise(lit("update")))
        .orderBy("o_orderkey")
    },
      // The changelog replayed from the source: updates with their new
      // values, inserts with their rows (keys ≡0 mod 77 emit both).
      """WITH thr AS (SELECT MAX(o_orderkey) // 10 AS t FROM orders),
        |src AS (SELECT o_orderkey, year(o_orderdate) AS o_year, o_totalprice FROM orders)
        |SELECT o_orderkey, o_year, o_totalprice + 100.0 AS o_totalprice,
        |  'update' AS change_type
        |FROM src WHERE o_orderkey <= (SELECT t FROM thr) AND o_orderkey % 7 = 0
        |UNION ALL
        |SELECT o_orderkey + 10000000, o_year, o_totalprice, 'insert'
        |FROM src WHERE o_orderkey <= (SELECT t FROM thr) AND o_orderkey % 11 = 0
        |ORDER BY o_orderkey""".stripMargin),

    // Governance: column masking + row-level security as a view contract —
    // the Ranger/warehouse-policy surface a Hive service enforces. The
    // masked view exposes customers with the numeric identity in c_name
    // REDACTED to its last 3 digits, balances bucketed to 100s (k-anon
    // coarsening), and a row filter hiding an entire segment. Pure plan
    // macro: pushdown/pruning act through it, zero storage, and consumers
    // cannot name the hidden columns at all.
    Op("warehouse_masked_view", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_raw")
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW graft_cust_masked AS
          |SELECT c_custkey,
          |  CONCAT('Customer#***', RIGHT(c_name, 3)) AS c_name_masked,
          |  CAST(FLOOR(c_acctbal / 100) * 100 AS DOUBLE) AS acctbal_bucket,
          |  c_mktsegment
          |FROM graft_cust_raw
          |WHERE c_mktsegment <> 'AUTOMOBILE'""".stripMargin)
      s.table("graft_cust_masked")
        .groupBy("c_mktsegment", "acctbal_bucket")
        .agg(count(lit(1)).as("n_cust"),
          countDistinct(col("c_name_masked")).as("n_masked_names"))
        .orderBy("c_mktsegment", "acctbal_bucket")
    },
      // The masked-view rollup replayed inline — the policy (mask, bucket,
      // row filter) must transform identically in both engines.
      """SELECT c_mktsegment,
        |  CAST(FLOOR(c_acctbal / 100) * 100 AS DOUBLE) AS acctbal_bucket,
        |  COUNT(*) AS n_cust,
        |  COUNT(DISTINCT CONCAT('Customer#***', RIGHT(c_name, 3))) AS n_masked_names
        |FROM customer WHERE c_mktsegment <> 'AUTOMOBILE'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // READ-side data skipping: a key-range query planned against manifest
    // stats reads only the files whose [min,max] can hold the range —
    // LakehouseSpec asserts the pruned file set is a strict minority of
    // the snapshot. The range (4*thr, 5*thr] sits above the merge decile
    // and below the insert keys, so the oracle is the plain base filter.
    Op("warehouse_snapshot_skip", (s, d) => {
      val root = ensureTable(s, d)
      val thr = manifest(root, 1).map(_.maxKey).max / 10L
      val lo = 4 * thr; val hi = 5 * thr
      val hit = pruneFiles(root, 2, lo, hi)
      s.read.parquet(hit.map(_.path): _*)
        .where(col("o_orderkey") > lo && col("o_orderkey") <= hi)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_year")
    },
      // Stats-skipped read ≡ plain filter over the base: the range sits
      // above the merge decile (no updates) and below +10M (no inserts).
      """WITH thr AS (SELECT MAX(o_orderkey) // 10 AS t FROM orders)
        |SELECT year(o_orderdate) AS o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey > 4 * (SELECT t FROM thr)
        |  AND o_orderkey <= 5 * (SELECT t FROM thr)
        |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Point-lookup pruning on an UNCLUSTERED key via the bloom sidecar:
    // the probe customer's orders are scattered across the o_orderkey-
    // laid files (min/max stats keep everything), but the per-file bloom
    // keeps only the ~10 files that can possibly hold the key — the
    // secondary-index verb beside range skipping (min/max), key2 stats
    // (recluster) and z-order. The residual equality predicate still
    // applies: blooms admit false positives, never false negatives.
    Op("warehouse_snapshot_bloom", (s, d) => {
      val root = ensureBloomTable(s, d)
      val probe = readSnapshot(s, root, 2)
        .agg(min("o_custkey")).collect()(0).getLong(0)
      val live = manifest(root, 2)
      val hit = bloomPruneFiles(root, 2, probe)
      require(hit.nonEmpty && hit.size < live.size,
        s"bloom pruning should drop some files (kept ${hit.size}/${live.size})")
      s.read.parquet(hit.map(_.path): _*)
        .where(col("o_custkey") === probe)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },
      // The bloom table is v1 content (no merge batch); the lookup result
      // must equal the plain filter — membership pruning is invisible.
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey = (SELECT MIN(o_custkey) FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // Re-clustering restores data skipping on a DRIFTED query key: the
    // graded read prunes the re-sorted snapshot's files on the SECOND
    // clustering key's manifest stats (a strict minority must survive —
    // the require IS the skipping contract), applies the residual year
    // predicate, and must still read v2's exact post-state content (the
    // rewrite is content-invisible, like compaction).
    Op("warehouse_snapshot_recluster", (s, d) => {
      val root = ensureReclustered(s, d)
      val live = manifest(root, 3)
      val hit = pruneFilesByKey2(root, 3, 1997L, 1997L)
      require(hit.nonEmpty && hit.size < live.size,
        s"year pruning should hit a strict minority of files (${hit.size}/${live.size})")
      s.read.parquet(hit.map(_.path): _*)
        .where(col("o_year") === 1997)
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 10000000L, 1L).otherwise(0L)).as("n_inserted"))
        .select(lit(1997).as("o_year"), col("n_rows"), col("total"), col("n_inserted"))
    },
      // The re-clustered snapshot reads v2's post-state, filtered to 1997.
      s"""WITH $V2ReplayCtes
        |SELECT CAST(1997 AS INT) AS o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM post WHERE o_year = 1997""".stripMargin),

    // Optimistic concurrency: two writers planned against one snapshot;
    // the loser's CAS is rejected and it rebases onto the winner before
    // landing. Graded output = the final table holding BOTH batches —
    // proof no committed write was lost through the conflict.
    Op("warehouse_snapshot_conflict", (s, d) => {
      val root = ensureConflicted(s, d)
      readSnapshot(s, root, 4)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 20000000L && col("o_orderkey") < 30000000L, 1L)
            .otherwise(0L)).as("n_writer_a"),
          sum(when(col("o_orderkey") >= 30000000L, 1L).otherwise(0L)).as("n_writer_b"))
        .orderBy("o_year")
    },
      // Both writers' batches must survive the conflict: final state = v2
      // post-state + A's rows (+20M, keys ≡0 mod 97 of what A read) + B's
      // rows (+30M, keys ≡0 mod 89).
      s"""WITH $V2ReplayCtes,
        |final AS (
        |  SELECT * FROM post
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_totalprice, o_year
        |  FROM post WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, o_totalprice, o_year
        |  FROM post WHERE o_orderkey % 89 = 0)
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 20000000 AND o_orderkey < 30000000
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_writer_a,
        |  CAST(SUM(CASE WHEN o_orderkey >= 30000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_writer_b
        |FROM final GROUP BY o_year ORDER BY o_year""".stripMargin),

    // ROLLBACK: v3 restores v1's state by re-committing v1's manifest —
    // pure metadata, zero data movement (LakehouseSpec asserts the file
    // sets are identical and nothing was written). Oracle = the untouched
    // base load, even though the "bad" v2 merge still exists and stays
    // readable for forensics.
    Op("warehouse_snapshot_rollback", (s, d) => {
      val root = ensureRolledBack(s, d)
      readSnapshot(s, root, 3)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 10000000L, 1L).otherwise(0L)).as("n_merge_rows"))
        .orderBy("o_year")
    },
      // Rollback restores the untouched base load (the v2 merge never
      // happened as far as v3 readers are concerned): zero rows at +10M
      // keys, totals equal to orders.
      """SELECT year(o_orderdate) AS o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(0 AS BIGINT) AS n_merge_rows
        |FROM orders GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Branches + tags: the graded read walks all three refs — main
    // (CURRENT, must NOT see the branch write), the dev branch head (must
    // hold the append), and the immutable release tag (pinned at the fork
    // point) — proving writer isolation between refs over one shared
    // file pool. Oracle replays main/tag as the v2 post-state and dev as
    // post-state + the ≡0 mod 103 batch shifted +50M.
    // Post-transaction state of BOTH tables, resolved through the
    // catalog pointer (never the per-table CURRENTs): the 1997 rows
    // appear in archive and are gone from hot — exactly once, across
    // tables, from one atomic swap.
    Op("warehouse_multi_table_txn", (s, d) => {
      val base = ensureMultiTxn(s, d)
      val (va, vb) = catVersions(base)
      def roll(root: String, v: Int, label: String) =
        readSnapshot(s, root, v)
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_rows"),
            sum(dec(col("o_totalprice"))).cast("double").as("total"))
          .select(lit(label).as("tbl"), col("o_year"), col("n_rows"), col("total"))
      roll(s"$base/hot", va, "hot")
        .unionAll(roll(s"$base/archive", vb, "archive"))
        .orderBy("tbl", "o_year")
    },
      // Three refs over one file pool: main and the release tag read the v2
      // post-state (the branch write is invisible to them); dev reads the
      // post-state plus its append batch (post keys ≡0 mod 103, +50M).
      // The cross-table move replayed: post-txn hot = 1998+, archive =
      // everything through 1997.
      """WITH src AS (SELECT o_orderkey, year(o_orderdate) AS o_year, o_totalprice
        |  FROM orders),
        |lab AS (SELECT CASE WHEN o_year >= 1998 THEN 'hot' ELSE 'archive' END AS tbl,
        |    o_year, o_totalprice
        |  FROM src)
        |SELECT tbl, o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM lab GROUP BY tbl, o_year ORDER BY tbl, o_year""".stripMargin),

    // Orphan scan + removal, then the graded proof: the table's post-
    // state is byte-identical to the pre-scan snapshot (cleanup touched
    // ONLY unreferenced files), the orphan is physically gone, and every
    // live manifest entry still exists.
    Op("warehouse_orphan_scan", (s, d) => {
      val root = ensureOrphaned(s, d)
      val cur = currentVersion(root).get
      val live = (1 to cur).flatMap(v => manifest(root, v))
        .map(e => localPath(e.path).toAbsolutePath.toString).toSet
      val walk = java.nio.file.Files.walk(Paths.get(root))
      val onDisk = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(_.toAbsolutePath.toString).toVector
      } finally walk.close()
      val orphans = onDisk.filterNot(live)
      orphans.foreach(p => Files.deleteIfExists(Paths.get(p)))
      atomicWrite(Paths.get(root, "_ORPHANS_CLEANED"), "done")
      // gone = no data (.parquet) left under the crash dir; _SUCCESS-style
      // markers may remain, they reference nothing
      val crash = Paths.get(s"$root/crashed-write")
      val orphanGone = !Files.exists(crash) || {
        import scala.jdk.CollectionConverters._
        val st = java.nio.file.Files.walk(crash)
        try !st.iterator().asScala.exists(_.toString.endsWith(".parquet"))
        finally st.close()
      }
      val liveIntact = manifest(root, cur)
        .forall(e => Files.exists(localPath(e.path)))
      readSnapshot(s, root, cur)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .withColumn("orphan_gone", lit(orphanGone))
        .withColumn("live_intact", lit(liveIntact))
        .orderBy("o_year")
    },
      // Cleanup is invisible to the table: the post-state is the ordinary
      // v2 replay, and both verdicts must be TRUE.
      s"""WITH $V2ReplayCtes
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  TRUE AS orphan_gone, TRUE AS live_intact
        |FROM post GROUP BY o_year ORDER BY o_year""".stripMargin),

    // DESCRIBE HISTORY from METADATA ONLY: the commit log (version, row
    // count, rows added) assembled from the manifest chain's per-file
    // stats — driver-side O(versions × files), ZERO data read (instant
    // on a 100 TB table); the oracle recomputes the same numbers from
    // the data, proving the metadata ledger truthful — the same
    // metadata-vs-data contract as warehouse_manifest_stats, extended
    // across the whole history.
    Op("warehouse_history", (s, d) => {
      // own prefix: the shared snap_tbl root gains v3..v5 when the
      // compaction/delete/evolution ops run first in the same JVM —
      // the ledger op must not be order-dependent on its siblings
      val root = ensureTable(s, d, "snap_hist")
      val cur = currentVersion(root).get
      val counts = (1 to cur).map(v => manifest(root, v).map(_.rows).sum)
      val hist = (1 to cur).map { v =>
        val prev = if (v == 1) 0L else counts(v - 2)
        (v.toLong, counts(v - 1), counts(v - 1) - prev)
      }
      s.createDataFrame(hist).toDF("version", "n_rows", "rows_added")
        .orderBy("version")
    },
      // The manifest ledger recomputed from data: v1 = the base load, v2
      // adds exactly the mod-11 insert batch (updates are count-neutral).
      """WITH thr AS (SELECT MAX(o_orderkey) // 10 AS t FROM orders),
        |b AS (SELECT COUNT(*) AS c FROM orders),
        |i AS (SELECT COUNT(*) AS c FROM orders
        |      WHERE o_orderkey <= (SELECT t FROM thr) AND o_orderkey % 11 = 0)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(b.c AS BIGINT) AS n_rows,
        |  CAST(b.c AS BIGINT) AS rows_added FROM b
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(b.c + i.c AS BIGINT), CAST(i.c AS BIGINT)
        |FROM b, i
        |ORDER BY version""".stripMargin),

    // Post-publish main: the staged batch is live exactly once, the
    // audit verdicts ride along as constants the oracle re-asserts, and
    // published_version pins the fast-forward actually happening.
    Op("warehouse_wap_publish", (s, d) => {
      val root = ensureWap(s, d)
      val cur = currentVersion(root).get
      readSnapshot(s, root, cur)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 70000000L, 1L).otherwise(0L))
            .as("n_staged"))
        .withColumn("published_version", lit(cur.toLong))
        .orderBy("o_year")
    },
      // The v2 post-state (same `post` replay as branch_tag) plus the
      // mod-101 staged batch — its presence in MAIN is the publish proof.
      s"""WITH $V2ReplayCtes,
        |pub AS (
        |  SELECT * FROM post
        |  UNION ALL
        |  SELECT o_orderkey + 70000000, o_totalprice, o_year
        |  FROM post WHERE o_orderkey % 101 = 0 AND o_orderkey < 10000000)
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 70000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_staged,
        |  CAST(3 AS BIGINT) AS published_version
        |FROM pub GROUP BY o_year ORDER BY o_year""".stripMargin),

    // The full post-merge table WITH its lineage metadata: row ids are
    // stable through the COW rewrite, updates carry _modified_v=2 with
    // their original _created_v, inserts stamp both at 2.
    Op("warehouse_row_lineage", (s, d) => {
      val root = ensureLineage(s, d)
      readSnapshot(s, root, 2)
        .select(col("_row_id").as("row_id"), col("o_orderkey"), col("o_year"),
          col("o_totalprice"), col("_created_v").as("created_v"),
          col("_modified_v").as("modified_v"))
        .orderBy("row_id")
    },
      // Row-by-row lineage replay: ids equal the ingest keys (stable),
      // modified_v bumps exactly on the mod-7 update predicate, inserts
      // stamp created_v = modified_v = 2.
      """WITH thr AS (SELECT MAX(o_orderkey) // 10 AS t FROM orders),
        |src AS (SELECT o_orderkey, year(o_orderdate) AS o_year, o_totalprice FROM orders),
        |rws AS (
        |  SELECT o_orderkey AS row_id, o_orderkey, o_year,
        |    CASE WHEN o_orderkey <= (SELECT t FROM thr) AND o_orderkey % 7 = 0
        |         THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
        |    CAST(1 AS BIGINT) AS created_v,
        |    CAST(CASE WHEN o_orderkey <= (SELECT t FROM thr) AND o_orderkey % 7 = 0
        |         THEN 2 ELSE 1 END AS BIGINT) AS modified_v
        |  FROM src
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderkey + 10000000, o_year, o_totalprice,
        |    CAST(2 AS BIGINT), CAST(2 AS BIGINT)
        |  FROM src WHERE o_orderkey <= (SELECT t FROM thr) AND o_orderkey % 11 = 0)
        |SELECT row_id, o_orderkey, o_year, o_totalprice, created_v, modified_v
        |FROM rws ORDER BY row_id""".stripMargin),

    Op("warehouse_branch_tag", (s, d) => {
      val root = ensureBranched(s, d)
      def rollup(df: DataFrame, label: String): DataFrame = df
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 50000000L, 1L).otherwise(0L))
            .as("n_branch_only"))
        .select(lit(label).as("branch"), col("o_year"), col("n_rows"),
          col("total"), col("n_branch_only"))
      rollup(readSnapshot(s, root, currentVersion(root).get), "main")
        .unionAll(rollup(readSnapshot(s, root, readRef(root, "dev")), "dev"))
        .unionAll(rollup(readSnapshot(s, root, readRef(root, "release")), "tag_release"))
        .orderBy("branch", "o_year")
    },
      s"""WITH $V2ReplayCtes,
        |dev AS (
        |  SELECT * FROM post
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_totalprice, o_year
        |  FROM post WHERE o_orderkey % 103 = 0),
        |refs AS (
        |  SELECT 'main' AS branch, * FROM post
        |  UNION ALL SELECT 'dev' AS branch, * FROM dev
        |  UNION ALL SELECT 'tag_release' AS branch, * FROM post)
        |SELECT branch, o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 50000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_branch_only
        |FROM refs GROUP BY branch, o_year ORDER BY branch, o_year""".stripMargin),

    // Snapshot expiration + VACUUM: after dropping v1 and deleting its
    // orphaned COW pre-images, the CURRENT snapshot must still read its
    // exact post-state (live files untouched — the content rollup IS that
    // proof), and the two verdict columns certify the GC did its work:
    // every live manifest entry still exists on disk, and the expired
    // manifest is gone (time travel below the floor now correctly fails).
    Op("warehouse_snapshot_expire", (s, d) => {
      val root = ensureExpired(s, d)
      val cur = currentVersion(root).get
      val liveIntact = manifest(root, cur)
        .forall(e => Files.exists(localPath(e.path)))
      val expiredGone = !Files.exists(manifestPath(root, 1))
      readSnapshot(s, root, cur)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          sum(when(col("o_orderkey") >= 10000000L, 1L).otherwise(0L)).as("n_inserted"))
        .withColumn("live_intact", lit(liveIntact))
        .withColumn("expired_gone", lit(expiredGone))
        .orderBy("o_year")
    },
      // Expiration is content-invisible to the retained snapshot: the
      // CURRENT rollup is v2's exact post-state; the verdict columns must
      // both come back TRUE (no live file lost, expired manifest dropped).
      s"""WITH $V2ReplayCtes
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
        |  TRUE AS live_intact, TRUE AS expired_gone
        |FROM post GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Incremental view maintenance driven by the CDC feed: the consumer
    // holds a materialized per-year rollup of v1 and advances it to v2 by
    // folding in the manifest-diff changelog with RETRACTIONS — changed
    // files' post-images count +1, their pre-images count -1 (carried-by-
    // reference files cannot contain changes and are never read). The
    // graded output is the incrementally-maintained MV; the oracle is the
    // FULL v2 recompute — their equality is the IVM correctness contract.
    // At 100 TB the consumer reads O(changed files) + its own MV instead
    // of re-scanning the table: the standing pattern for every downstream
    // rollup a training pipeline keeps warm.
    Op("warehouse_cdc_apply", (s, d) => {
      val root = ensureTable(s, d)
      val v1 = manifest(root, 1)
      val v2 = manifest(root, 2)
      val shared = v1.map(_.path).toSet.intersect(v2.map(_.path).toSet)
      val post = s.read.parquet(v2.filterNot(e => shared(e.path)).map(_.path): _*)
      val pre = s.read.parquet(v1.filterNot(e => shared(e.path)).map(_.path): _*)
      val mv1 = readSnapshot(s, root, 1)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"), sum(dec(col("o_totalprice"))).as("total"))
      // post-images +1, pre-images −1, summed per year: algebraically
      // identical to the exceptAll changelog (the multiset intersection
      // contributes +1−1 = 0 to every aggregate), but WITHOUT the two
      // full-width exceptAll exchanges and the double read of each file
      // set (§2.3 — aggregate before you shuffle; only (year, price, sgn)
      // reach the exchange, so column pruning hits the changed-file scans)
      val delta = post.select(col("o_year"), col("o_totalprice"), lit(1L).as("sgn"))
        .unionAll(pre.select(col("o_year"), col("o_totalprice"), lit(-1L).as("sgn")))
        .groupBy("o_year")
        .agg(sum(col("sgn")).as("d_rows"),
          sum(dec(col("o_totalprice")) * col("sgn")).as("d_total"))
      mv1.join(delta, Seq("o_year"), "full_outer")
        .select(col("o_year"),
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_rows"), lit(0L)))
            .as("n_rows"),
          (coalesce(col("total"), dec(lit(BigDecimal(0))))
            + coalesce(col("d_total"), dec(lit(BigDecimal(0)))))
            .cast("double").as("total"))
        .where(col("n_rows") > 0)
        .orderBy("o_year")
    },
      // The incrementally-maintained MV must equal the full v2 recompute —
      // the oracle IS the full recompute, so equality is the grade.
      s"""WITH $V2ReplayCtes
        |SELECT o_year, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM post GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Z-order data skipping on the SECOND dimension: a custkey point-range
    // query plans against v2's per-file [minKey2,maxKey2], keeps a strict
    // minority of files (the require IS the multi-dim skipping contract —
    // v1's orderkey-sorted layout cannot prune this predicate at all,
    // asserted in LakehouseSpec), applies the residual filter, and must
    // read exactly the base table's matching rows (the rewrite is
    // content-invisible).
    Op("warehouse_snapshot_zorder", (s, d) => {
      val root = ensureZordered(s, d)
      val live = manifest(root, 2)
      val thr2 = live.map(_.maxKey2).max / 10L
      val (lo2, hi2) = (4 * thr2, 5 * thr2)
      val hit = live.filter(e => e.minKey2 <= hi2 && e.maxKey2 > lo2)
      require(hit.size * 2 < live.size,
        s"z-order must restore custkey skipping: ${hit.size} of ${live.size}")
      s.read.parquet(hit.map(_.path): _*)
        .where(col("o_custkey") > lo2 && col("o_custkey") <= hi2)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_year")
    },
      // Z-order is content-invisible: the skipped read equals the plain
      // base filter (thr2 = max custkey // 10, same floor division).
      """WITH thr AS (SELECT MAX(o_custkey) // 10 AS t FROM orders)
        |SELECT year(o_orderdate) AS o_year, COUNT(*) AS n_rows,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey > 4 * (SELECT t FROM thr)
        |  AND o_custkey <= 5 * (SELECT t FROM thr)
        |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // Schema evolution: v5 adds `o_channel` via an appended backfill file;
    // pre-evolution files carry by reference (LakehouseSpec asserts zero
    // rewrites) and read back with the column NULL -> 'base'.
    Op("warehouse_snapshot_evolve", (s, d) => {
      val root = ensureEvolved(s, d)
      readSnapshotMerged(s, root, 5)
        .groupBy(col("o_year"), coalesce(col("o_channel"), lit("base")).as("channel"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("o_year", "channel")
    },
      // Post-delete state tagged 'base' plus the backfill batch (keys ≡0
      // mod 101 shifted +40M) tagged 'backfill' — old rows surface the
      // evolved column as NULL on the engine side and coalesce to 'base'.
      s"""WITH $V2ReplayCtes,
        |kept AS (
        |  SELECT * FROM post
        |  WHERE NOT (o_orderkey % 13 = 0 AND o_orderkey <= (SELECT t FROM thr))),
        |final AS (
        |  SELECT o_year, o_totalprice, 'base' AS channel FROM kept
        |  UNION ALL
        |  SELECT o_year, o_totalprice, 'backfill' AS channel
        |  FROM src WHERE o_orderkey % 101 = 0)
        |SELECT o_year, channel, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM final GROUP BY o_year, channel ORDER BY o_year, channel""".stripMargin),

    // Exactly-once streaming ingest into the ACID table: an AvailableNow
    // file stream appends each micro-batch via a ledger-carrying snapshot
    // commit; the graded read aggregates the TABLE. Real oracle (not
    // golden): the streamed content must equal the batch aggregate over
    // events — the streaming ≡ batch contract with a lakehouse in between.
    Op("stream_lakehouse_sink", (s, d) => {
      val root = ensureStreamTable(s, d)
      readSnapshot(s, root, currentVersion(root).get)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value_cents")).as("value_cents"))
        .orderBy("event_type")
    },
      // Streamed-through-the-table content must equal the batch aggregate.
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  )
}
