package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/**
 * Iceberg-layout snapshot seam for sketch tables (SURVEY.md §7.2: no
 * Iceberg jar ships in this environment, so the table format is
 * reduced to its load-bearing core and kept swappable):
 *
 *   root/data/v<N>/part-*.parquet   immutable data files
 *   root/manifests/v<N>.json        commit metadata: version, parent,
 *                                   files, row count, metrics, ts
 *
 * Commit protocol = write data files first, then publish the manifest
 * with an atomic rename — a crash mid-commit leaves orphan data files
 * but never a readable half-commit (same guarantee Iceberg's metadata
 * pointer swap gives). Readers resolve a manifest (latest or any past
 * version — time travel) and read exactly its file list, so concurrent
 * readers always see a consistent snapshot. Swapping in real Iceberg
 * replaces this one class.
 */
class SketchTableIO(val spark: SparkSession, val root: String) {

  private def manifestDir = Paths.get(root, "manifests")
  private def dataDir(v: Long) = Paths.get(root, "data", s"v$v")
  private def manifestPath(v: Long) = manifestDir.resolve(s"v$v.json")

  Files.createDirectories(manifestDir)

  def versions: Seq[Long] =
    graft.util.Scratch.list(manifestDir).map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted

  def currentVersion: Long = versions.lastOption.getOrElse(0L)

  /**
   * Commit a new snapshot; returns its version. Data files are
   * written to a staging directory first; the version number is
   * CLAIMED by moving the staging dir to `data/v<N>` with
   * create-if-absent semantics (plain Files.move with no
   * REPLACE_EXISTING fails on collision), retrying with the next
   * version — so two racing committers get distinct versions and
   * neither snapshot is lost (the Iceberg optimistic-commit
   * protocol). The manifest is then published under the claimed
   * version via a tmp-write + link (also create-if-absent). A crash
   * mid-commit leaves orphan staging/data files but never a readable
   * half-commit.
   */
  def commit(df: DataFrame, metrics: Map[String, Long] = Map.empty): Long = {
    val staging = Paths.get(root, "data",
      s".staging-${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.mode("errorifexists").parquet(staging.toString)
    var v = currentVersion + 1
    var claimed = false
    while (!claimed) {
      try {
        Files.createDirectories(dataDir(v).getParent)
        Files.move(staging, dataDir(v)) // no REPLACE: fails if v taken
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => v += 1
        case e: java.nio.file.FileSystemException if Files.exists(dataDir(v)) => v += 1
      }
    }
    val fileList = graft.util.Scratch.list(dataDir(v))
      .filter(_.getFileName.toString.endsWith(".parquet")).map(_.toString)
    // manifest row count from the parquet FOOTERS (each footer's row
    // groups carry exact counts) — a driver-side metadata read per
    // file instead of a Spark count() job per commit (the streaming
    // merge path commits once per micro-batch; manifest-sized
    // metadata IO is the table-format norm)
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = fileList.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootNode = mapper.createObjectNode()
    rootNode.put("version", v)
    rootNode.put("parent", v - 1)
    rootNode.put("rows", rows)
    rootNode.put("ts", System.currentTimeMillis())
    val m = rootNode.putObject("metrics")
    metrics.foreach { case (k, x) => m.put(k, x) }
    val arr = rootNode.putArray("files")
    fileList.sorted.foreach(arr.add)
    val tmp = manifestDir.resolve(s".v$v.json.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, mapper.writeValueAsString(rootNode))
    // create-if-absent publish; some filesystems (network/overlay
    // mounts) don't support hard links — the per-version data-dir
    // claim already made v unique, so an atomic move is a safe fallback
    try Files.createLink(manifestPath(v), tmp)
    catch {
      case _: UnsupportedOperationException =>
        Files.move(tmp, manifestPath(v), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    finally Files.deleteIfExists(tmp)
    v
  }

  /**
   * Copy-on-write MERGE — the Iceberg/Delta maintenance verb this
   * snapshot seam exists for: apply a change batch to the latest
   * snapshot and commit the result as a new version (old versions
   * stay readable — time travel is what makes CoW merges safe to
   * run while readers are live).
   *
   * `changes` carries the data columns plus an `op` column:
   * "upsert" rows replace (or insert) their key, "delete" rows
   * remove it; a key present as both delete and upsert resolves to
   * the upsert (delete only removes the PRIOR row). The merge is one
   * left-anti join of the corpus against the change KEYS (batch-
   * sized — AQE broadcasts it, so no corpus-scale shuffle) plus a
   * union of the upsert rows; the only corpus-scale cost is the
   * rewrite itself, which is what copy-on-write means.
   *
   * Malformed batches fail FAST instead of corrupting silently: an
   * unknown `op` value would otherwise DELETE its key (the key is in
   * `touched` but its row is never re-added), and two upserts for
   * one key would commit duplicate-key rows (there is no order
   * within a batch to break the tie — Delta/Iceberg MERGE raise on
   * multiple source matches for the same reason). Both checks cost
   * one aggregation over the batch-sized change set.
   */
  def mergeCommit(changes: DataFrame, key: String): Long = {
    import org.apache.spark.sql.functions._
    // BOTH validations in ONE aggregation job over the batch-sized
    // change set (this runs per micro-batch in the streaming path, so
    // per-commit driver actions are the constant that matters).
    // NULL op must be flagged too: isin is NULL for NULL input, the
    // negation stays NULL, and a filter would drop the row — letting a
    // malformed record slip into `touched` and silently delete its key
    val chk = changes.groupBy(col(key)).agg(
        collect_set(when(col("op").isNull || !col("op").isin("upsert", "delete"),
          coalesce(col("op"), lit("NULL")))).as("bad"),
        count(when(col("op") === "upsert", lit(1))).as("nup"))
      .agg(
        array_distinct(flatten(collect_list(col("bad")))).as("bad_ops"),
        slice(sort_array(collect_list(when(col("nup") > 1, col(key).cast("string")))),
          1, 5).as("dup_keys"))
      .head()
    val badOps = chk.getSeq[String](0)
    require(badOps.isEmpty,
      s"unknown op value(s) ${badOps.mkString(", ")} — only upsert/delete are applied")
    val dupKeys = chk.getSeq[String](1)
    require(dupKeys.isEmpty,
      s"multiple upserts for key(s) ${dupKeys.mkString(", ")} in one change batch — " +
        "resolve to one row per key upstream (no order exists within a batch)")
    val upserts = changes.filter(col("op") === "upsert").drop("op")
    val current = read()
    val touched = changes.select(col(key)).distinct()
    val merged = current.join(touched, Seq(key), "left_anti")
      .unionByName(upserts.select(current.columns.map(col).toIndexedSeq: _*))
    commit(merged)
  }

  /**
   * OPTIMIZE — the third table-maintenance verb beside MERGE and
   * VACUUM: rewrite the latest snapshot through a layout function
   * (re-sort, z-order via [[graft.pipeline.Layout.zValue]],
   * repartition for file sizing) and commit the result as a new
   * version. Rows are untouched — only the physical layout changes —
   * and readers on the old version are unaffected (CoW); pair with
   * [[expireSnapshots]] to reclaim the pre-optimize copy.
   */
  def optimizeCommit(layout: DataFrame => DataFrame): Long =
    commit(layout(read()))

  /**
   * Expire old snapshots, keeping the newest `keepLast` versions —
   * the vacuum half of copy-on-write maintenance (every merge leaves
   * a full old copy behind; without expiry the table is O(versions)
   * on disk). Deletion order is crash-safe in the same direction as
   * commit is: the MANIFEST goes first (the version atomically stops
   * being readable), then its data files — a crash in between leaves
   * orphan data files, never a manifest pointing at deleted data.
   * Data dirs with no manifest at all (failed commits' leftovers) are
   * also swept, but only when older than `orphanAgeMs` — a younger
   * unpublished dir may be a CONCURRENT commit between its data-dir
   * claim and its manifest publish (the same reason Iceberg's
   * remove_orphan_files takes an age threshold; the default mirrors
   * Iceberg's 3 days). Age is the NEWEST mtime anywhere in the dir's
   * tree, not the top-level dir's — a directory's own mtime freezes
   * once its children exist, so a long-running write would otherwise
   * look aged while still in flight. Returns the expired versions.
   */
  def expireSnapshots(keepLast: Int,
                      orphanAgeMs: Long = 3L * 24 * 3600 * 1000): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val vs = versions
    val expire = vs.dropRight(keepLast)
    def deleteTree(p: java.nio.file.Path): Unit = graft.util.Scratch.deleteTree(p)
    expire.foreach { v =>
      Files.deleteIfExists(manifestPath(v))
      deleteTree(dataDir(v))
    }
    // failed-commit leftovers: claimed data dirs that never published
    val dataRoot = Paths.get(root, "data")
    if (Files.exists(dataRoot)) {
      // newest mtime anywhere in the tree — a live writer is still
      // touching SOME file even when the top dir's mtime is frozen.
      // A file vanishing mid-walk (the parquet committer renames
      // _temporary files constantly) means the dir IS live: report it
      // as brand-new instead of crashing the sweep
      def newestMtime(p: java.nio.file.Path): Long =
        try {
          val walk = Files.walk(p)
          try walk.mapToLong { f =>
            try Files.getLastModifiedTime(f).toMillis
            catch { case _: java.io.IOException => Long.MaxValue }
          }.max.orElse(0L)
          finally walk.close()
        } catch {
          case _: java.io.IOException | _: java.io.UncheckedIOException =>
            Long.MaxValue
        }
      val cutoff = System.currentTimeMillis() - orphanAgeMs
      val orphans = graft.util.Scratch.list(dataRoot).filter { p =>
        val n = p.getFileName.toString
        val published = n.startsWith("v") && n.length > 1 &&
          n.stripPrefix("v").forall(_.isDigit) &&
          Files.exists(manifestPath(n.stripPrefix("v").toLong))
        !published && newestMtime(p) < cutoff
      }
      orphans.foreach(deleteTree)
    }
    expire
  }

  /** Read a snapshot (default: latest). Reads exactly the manifest's files. */
  def read(version: Long = -1): DataFrame = {
    val v = if (version == -1) currentVersion else version
    require(Files.exists(manifestPath(v)), s"no snapshot v$v")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readString(manifestPath(v)))
    val it = node.get("files").elements()
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) files += it.next().asText()
    spark.read.parquet(files.toIndexedSeq: _*)
  }

  def manifest(version: Long): String = Files.readString(manifestPath(version))
}
