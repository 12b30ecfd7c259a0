package graft.catalog

import graft.agg.GraftFunctions._
import graft.sketch.ScalableBloom
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/**
 * The filter-manager / wire-operator surface of the reference
 * (`csrc/bloomd/filter_manager.c`, `conn_handler.c`), re-expressed over
 * Spark: a named registry of scalable-bloom sketches whose inserts and
 * probes are DISTRIBUTED DataFrame jobs, with the same lifecycle verbs,
 * validation bounds, response strings, counters, and on-disk layout
 * spirit (`data_dir/bloomd.<name>/{config.ini -> config.json,
 * data.NNN.mmap -> sketch.bin}`).
 *
 * What the reference needed an ART tree + MVCC + rwlocks for
 * (`filter_manager.c:64-116,874-1147`) collapses into a small
 * driver-side registry: the sketches themselves are immutable blobs
 * produced by distributed aggregation, so readers never see partial
 * state. At scale the blob store is an object store / Iceberg table;
 * here it's a directory seam.
 *
 * Response strings match `handler_constants.c:6-64` (without trailing
 * newlines — transport framing, not semantics).
 *
 * Concurrency model = the reference's (`filter_manager.c:335-391`):
 * a manager-level lock (the catalog monitor) guards REGISTRY structure
 * (create/drop/clear/list/restore), and each filter carries its own
 * read-write lock — `check`/`multi` take the READ lock (concurrent
 * checks on one filter proceed in parallel, exactly
 * `pthread_rwlock_rdlock` in filtmgr_check_keys), `set`/`bulk` take
 * the WRITE lock, and close/flush/background sweeps take the write
 * lock of the filters they persist or unload. Lock order is always
 * monitor -> entry (never the reverse), and entry-internal state
 * (sketch presence, counters, hot/dirty flags) is additionally guarded
 * by the entry's own monitor so read-locked fault-ins don't race each
 * other. A command that resolved its entry before a concurrent `drop`
 * completes against the in-memory sketch — linearized before the drop,
 * the same outcome the reference's ref-counted deferred delete gives.
 */
class SketchCatalog(
    val spark: SparkSession,
    val dataDir: String,
    val initialCapacity: Long = 100000L,
    val defaultProbability: Double = 1e-4,
    val scaleSize: Int = 4,
    val probReduction: Double = 0.9) {

  import SketchCatalog._

  final class Entry(
      val name: String,
      val capacity: Long,
      val probability: Double,
      val inMemory: Boolean,
      var sketch: Option[ScalableBloom], // None = proxied (closed)
      val counters: Counters = Counters()) {
    /** touched since the last cold sweep (`filter_manager.c:352,386`) */
    @volatile var hot: Boolean = false
    /** has unpersisted writes (the reference's flush skips filters whose
      * size didn't change, `filter.c:164-184` — same effect) */
    @volatile var dirty: Boolean = false
    /** the reference's per-filter `rwlock` (`filter_manager.c:341,375`):
      * checks share the read side, sets/persists/unloads take the write side */
    val rwlock = new java.util.concurrent.locks.ReentrantReadWriteLock()
    /** set by `drop`: a flush/sweep that resolved this entry BEFORE the
      * drop must not re-persist it after the async deleter removed its
      * files (a resurrected sketch.bin would make a later `create`
      * fault the dropped data back in — the reference prevents this
      * with ref-counted deferred deletes, `conn_handler.c:238-326`) */
    @volatile var droppedFlag: Boolean = false
  }

  /** a resolved filter vanished mid-command (file deleted by an async
    * drop between resolution and fault-in) — surfaces as the
    * reference's "Filter does not exist" */
  private final class FilterGone extends RuntimeException

  private def resolve(name: String): Option[Entry] =
    this.synchronized(registry.get(name))

  private def withRead[A](e: Entry)(f: => A): A = {
    val l = e.rwlock.readLock(); l.lock()
    try f finally l.unlock()
  }

  private def withWrite[A](e: Entry)(f: => A): A = {
    val l = e.rwlock.writeLock(); l.lock()
    try f finally l.unlock()
  }

  private val registry = mutable.LinkedHashMap.empty[String, Entry]

  // ---- async drop machinery (`conn_handler.c:238-326`): file deletion
  // happens off the command path; `create` of a name whose files are
  // still being deleted answers "Delete in progress" like the reference
  // (which defers deletes until client refs drain + the reaper runs).
  private val pendingDeletes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val deleter = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "graft-catalog-deleter"); t.setDaemon(true); t
  })
  /** test seam: deletions block on this latch when set */
  @volatile private[catalog] var deleteBarrier: Option[java.util.concurrent.CountDownLatch] = None

  /** block until all in-flight deletes finish (spec + shutdown helper) */
  def awaitDeletes(): Unit = {
    val f = deleter.submit(new Runnable { def run(): Unit = () })
    f.get()
  }

  Files.createDirectories(Paths.get(dataDir))
  restore()

  private def filterDir(name: String): Path = Paths.get(dataDir, s"bloomd.$name")

  // ---- `create <name> [capacity=] [prob=] [in_memory=]` ----
  // validation per csrc/bloomd/config.c:260-376 (sane_* bounds)
  def create(name: String, capacity: Long = -1, prob: Double = -1,
             inMemory: Boolean = false): String = this.synchronized {
    if (!name.matches(ValidNamePattern)) return "Client Error: Bad filter name"
    val cap = if (capacity == -1) initialCapacity else capacity
    val p = if (prob == -1) defaultProbability else prob
    if (cap <= 10000) return "Client Error: Bad arguments"
    if (p <= 0 || p >= 0.1) return "Client Error: Bad arguments"
    if (registry.contains(name)) return "Exists"
    // an in-flight async drop still owns the files (`conn_handler.c:307`)
    if (pendingDeletes.contains(name)) return "Delete in progress"
    // clear-reload parity (`tests/bloomd/test_filtmgr.c` clear_reload):
    // create over files left by `clear` re-registers them proxied and
    // the old data faults back in on first use.
    if (Files.exists(filterDir(name).resolve("sketch.bin"))) {
      registry(name) = new Entry(name, cap, p, inMemory, None)
      return "Done"
    }
    val entry = new Entry(name, cap, p, inMemory,
      Some(ScalableBloom.create(cap, p, scaleSize, probReduction).materialize()))
    entry.hot = true // creation counts as a touch for the cold sweep
    registry(name) = entry
    if (!inMemory) persist(entry)
    "Done"
  }

  // ---- `drop <name>`: deregister now, delete files asynchronously ----
  def drop(name: String): String = this.synchronized { registry.remove(name) match {
    case None => "Filter does not exist"
    case Some(e) =>
      e.droppedFlag = true
      pendingDeletes.add(name)
      deleter.submit(new Runnable {
        def run(): Unit =
          try {
            deleteBarrier.foreach(_.await())
            // the entry WRITE lock closes the resurrection window: a
            // persist that was already past its droppedFlag check
            // finishes before the delete starts, and every persist
            // that begins after drop no-ops on the flag — so the
            // delete is the LAST write to the directory
            withWrite(e) { deleteRecursively(filterDir(name)) }
          } finally pendingDeletes.remove(name)
      })
      "Done"
  }
  }

  // ---- `close <name>`: persist + unload, stay registered (proxied).
  // Entry WRITE lock (not the catalog monitor) does the work, like the
  // reference's filtmgr_unmap_filter: a long-running set on this
  // filter delays only this close, never commands on other filters ----
  def close(name: String): String = resolve(name) match {
    case None => "Filter does not exist"
    case Some(e) => withWrite(e) {
      e.synchronized {
        // in_memory filters are never unmapped — the disk layout is
        // their ONLY backing store and they have none; the reference
        // skips them too (`filter_manager.c:516-517`) and still
        // answers Done
        if (!e.inMemory && e.sketch.isDefined) {
          persist(e)
          e.sketch = None
          e.counters.pageOuts += 1
        }
      }
      "Done"
    }
  }

  // ---- `clear <name>`: forget a PROXIED filter, keep its files ----
  def clear(name: String): String = this.synchronized {
    registry.get(name) match {
      case None => "Filter does not exist"
      case Some(e) => e.synchronized {
        if (e.sketch.isDefined) "Filter is not proxied. Close it first."
        else { registry.remove(name); "Done" }
      }
    }
  }

  // ---- `flush [name]`: per-entry write lock while persisting ----
  def flush(name: String = null): String = {
    if (name == null) {
      val snapshot = this.synchronized(registry.values.toSeq)
      snapshot.foreach(e => withWrite(e) {
        e.synchronized { if (!e.inMemory && e.sketch.isDefined) persist(e) }
      })
      "Done"
    } else resolve(name) match {
      case None => "Filter does not exist"
      case Some(e) => withWrite(e) {
        e.synchronized { if (!e.inMemory && e.sketch.isDefined) persist(e) }
        "Done"
      }
    }
  }

  /** proxied filters fault back in on first use (`filter.c:365-381`);
    * entry-monitor-guarded so concurrent read-locked checks fault in
    * exactly once */
  private def faultIn(e: Entry): ScalableBloom = e.synchronized {
    e.hot = true
    e.sketch match {
      case Some(s) => s
      case None =>
        val blob =
          try Files.readAllBytes(filterDir(e.name).resolve("sketch.bin"))
          catch { case _: java.io.IOException => throw new FilterGone }
        val s = ScalableBloom.deserialize(blob)
        e.sketch = Some(s)
        e.counters.pageIns += 1
        s
    }
  }

  // ---- background maintenance (`csrc/bloomd/background.c:100-180`):
  // a flush sweep persists DIRTY in-memory filters every
  // flush_interval; a cold sweep pages out filters untouched since the
  // last sweep (hot-flag protocol) every cold_interval. Exposed as a
  // manual `backgroundSweep` (deterministic tests) plus interval
  // threads. Serialized with the command surface via this-lock.
  def backgroundSweep(flush: Boolean = true, cold: Boolean = true): (Int, Int) = {
    val snapshot = this.synchronized(registry.values.toSeq)
    var flushed = 0
    var pagedOut = 0
    if (flush) snapshot.foreach { e =>
      withWrite(e) { e.synchronized {
        if (e.dirty && !e.inMemory && e.sketch.isDefined) {
          persist(e); flushed += 1
        }
      } }
    }
    if (cold) snapshot.foreach { e =>
      withWrite(e) { e.synchronized {
        if (!e.hot && !e.inMemory && e.sketch.isDefined) {
          if (e.dirty) persist(e)
          e.sketch = None
          e.counters.pageOuts += 1
          pagedOut += 1
        }
        e.hot = false // next sweep sees touches since THIS sweep
      } }
    }
    (flushed, pagedOut)
  }

  @volatile private var bgThreads: Seq[Thread] = Nil
  @volatile private var bgStop = false

  /** start the flush/cold interval threads (the daemon's background.c) */
  def startBackground(flushIntervalMs: Long, coldIntervalMs: Long): Unit = {
    stopBackground()
    bgStop = false
    def loop(name: String, interval: Long, f: () => Unit): Thread = {
      val t = new Thread(() => {
        while (!bgStop) {
          try Thread.sleep(interval) catch { case _: InterruptedException => }
          if (!bgStop) f()
        }
      }, name)
      t.setDaemon(true); t.start(); t
    }
    bgThreads = Seq(
      loop("graft-bg-flush", flushIntervalMs, () => backgroundSweep(flush = true, cold = false)),
      loop("graft-bg-cold", coldIntervalMs, () => backgroundSweep(flush = false, cold = true)))
  }

  def stopBackground(): Unit = {
    bgStop = true
    bgThreads.foreach(_.interrupt())
    bgThreads = Nil
  }

  // ---- `set` / `bulk`: distributed insert of a key column ----
  // bloomd semantics: per key, Yes if newly added, No if already present
  // (`filter_manager.c:369-391`); set_hits counts new adds, set_misses
  // the duplicates (`filter.c:299-316`).
  def setKeys(name: String, keys: DataFrame): Either[String, DataFrame] =
    resolve(name) match {
      case None => Left("Filter does not exist")
      case Some(e) => try withWrite(e) {
        val sk = faultIn(e)
        val beforeBlob = sk.serialize()
        val keyCol = keys.columns.head
        val keyed = keys.select(col(keyCol).as("key")).na.drop()
        // contains-check against the before-state, like sbf_add
        val result = keyed.select(col("key"),
          (!sbf_contains(snapshotRef(beforeBlob), col("key"))).as("added"))
        // ONE distributed pass computes both the delta sketch (null
        // keys are skipped by the aggregate) and the total key count
        val row = result.agg(
          sbf_agg(when(col("added"), col("key")), e.capacity, e.probability,
            scaleSize, probReduction).as("s"),
          count(lit(1)).as("n")).head()
        val incoming = ScalableBloom.deserialize(row.getAs[Array[Byte]]("s"))
        val nKeys = row.getAs[Long]("n")
        val added = incoming.size
        e.synchronized {
          sk.mergeInPlace(incoming)
          if (added > 0) e.dirty = true
          e.counters.setHits += added
          e.counters.setMisses += nKeys - added
        }
        Right(result)
      } catch { case _: FilterGone => Left("Filter does not exist") }
    }

  // ---- driver-side single-key ops (the wire-protocol surface; the
  // distributed path is setKeys/checkKeys) ----
  def setKeyLocal(name: String, key: String): Either[String, Boolean] =
    resolve(name) match {
      case None => Left("Filter does not exist")
      case Some(e) => try withWrite(e) {
        val added = faultIn(e).add(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        e.synchronized {
          if (added) { e.dirty = true; e.counters.setHits += 1 } else e.counters.setMisses += 1
        }
        Right(added)
      } catch { case _: FilterGone => Left("Filter does not exist") }
    }

  def checkKeyLocal(name: String, key: String): Either[String, Boolean] =
    resolve(name) match {
      case None => Left("Filter does not exist")
      case Some(e) => try withRead(e) {
        val present = faultIn(e).contains(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        e.synchronized {
          if (present) e.counters.checkHits += 1 else e.counters.checkMisses += 1
        }
        Right(present)
      } catch { case _: FilterGone => Left("Filter does not exist") }
    }

  // ---- `check` / `multi`: distributed membership probe (READ lock —
  // concurrent checks on one filter run in parallel, filtmgr_check_keys) ----
  def checkKeys(name: String, keys: DataFrame): Either[String, DataFrame] =
    resolve(name) match {
      case None => Left("Filter does not exist")
      case Some(e) => try withRead(e) {
        val blob = faultIn(e).serialize()
        val keyCol = keys.columns.head
        val res = keys.select(col(keyCol),
          sbf_contains(snapshotRef(blob), col(keyCol)).as("present"))
        // (hits, total) in one aggregation pass
        val row = res.agg(
          sum(when(col("present"), 1L).otherwise(0L)).as("hits"),
          count(lit(1)).as("total")).head()
        val hits = Option(row.getAs[Long]("hits")).getOrElse(0L)
        val total = row.getAs[Long]("total")
        e.synchronized {
          e.counters.checkHits += hits
          e.counters.checkMisses += total - hits
        }
        Right(res)
      } catch { case _: FilterGone => Left("Filter does not exist") }
    }

  // ---- batch probe across MANY filters: (name, key) pairs routed to
  // their filters in ONE distributed job. Shape matters, and it is
  // picked by the number of filters the probe references:
  //   - few filters (<= multiProbeBranchBound): a UNION of per-filter
  //     probes, each reading its own snapshot through a broadcast
  //     handle (snapshotRef; codegen'd sbf_contains with a
  //     per-expression memo) — joining against a sketch COLUMN would
  //     re-copy the blob per row (UnsafeRow.getBinary) and thrash the
  //     probe memo across interleaved filters. Each branch re-scans
  //     the pair set, so the shape is O(branches) scans — fine while
  //     branches are few and the scan is a cached local exchange.
  //   - many filters: ONE scan. The blobs ship once per executor as a
  //     broadcast Map[name -> bytes]; a mapPartitions pass routes each
  //     row to its filter, deserializing each referenced sketch at
  //     most once per task (per-partition cache). A 500-filter probe
  //     is one scan of the pair set, not 500.
  // Unknown names answer present = null either way. ----
  def checkKeysMulti(pairs: DataFrame): DataFrame = {
    val nameCol = pairs.columns(0)
    val keyCol = pairs.columns(1)
    val keyed = pairs.select(col(nameCol).as("name"), col(keyCol).as("key"))
    val registryNames = names
    // only fault in the filters the probe actually references: a
    // catalog-wide fault-in would defeat the cold sweep (every filter
    // marked hot + paged in) and serialize and ship every blob. The
    // distinct-names job is bounded by |catalog| via the isin filter.
    val wanted: Set[String] =
      if (registryNames.isEmpty) Set.empty
      else keyed.select(col("name")).distinct()
        .filter(col("name").isin(registryNames: _*))
        .collect().map(_.getString(0)).toSet
    val entries = this.synchronized(
      registry.values.filter(e => wanted.contains(e.name)).toSeq)
    def serializeEntry(e: Entry): Option[(String, Array[Byte])] =
      try Some(e.name -> withRead(e)(faultIn(e).serialize()))
      catch { case _: FilterGone => None }
    // one bounded aggregation pass per probe plan updates the
    // referenced filters' counters — and, as a side effect,
    // MATERIALIZES every persisted partition of `res`
    def tally(res: DataFrame): Unit =
      res.filter(col("present").isNotNull)
        .groupBy("name").agg(
          sum(when(col("present"), 1L).otherwise(0L)).as("hits"),
          count(lit(1)).as("total")).collect()
        .foreach { r =>
          entries.find(_.name == r.getString(0)).foreach { e =>
            e.synchronized {
              e.counters.checkHits += r.getLong(1)
              e.counters.checkMisses += r.getLong(2) - r.getLong(1)
            }
          }
        }
    def unknownBranch(known: Set[String]): DataFrame =
      // coalesce(..., true): a NULL probe name must land in the unknown
      // branch (three-valued isin would silently drop the row)
      (if (known.isEmpty) keyed
       else keyed.filter(coalesce(!col("name").isin(known.toSeq: _*), lit(true))))
        .select(col("name"), col("key"), lit(null).cast("boolean").as("present"))
    if (entries.size <= SketchCatalog.multiProbeBranchBound) {
      val blobs = entries.flatMap(serializeEntry)
      val branches = blobs.map { case (n, blob) =>
        keyed.filter(col("name") === n)
          .select(col("name"), col("key"),
            sbf_contains(snapshotRef(blob), col("key")).as("present"))
      }
      // persisted: the counters pass and the caller's consumption
      // would otherwise each re-run every probe branch;
      // MEMORY_AND_DISK blocks are LRU-evictable, so eviction
      // degrades to recompute
      val res = (branches :+ unknownBranch(blobs.map(_._1).toSet))
        .reduce(_ union _).persist()
      tally(res)
      lastMultiProbeStats = SketchCatalog.MultiProbeStats(
        1, blobs.map(_._2.length.toLong).sum)
      res
    } else {
      // many filters: broadcast-map probes, serialized and shipped in
      // CHUNKS of at most `multiProbeByteBudget` blob bytes. Each
      // chunk's result is materialized (tally) before the next chunk
      // serializes, so the serialization working set and every
      // executor's live broadcast copy stay <= budget + one sketch —
      // a 500-filter probe no longer builds a 500-sketch map anywhere
      // at once. (The catalog itself keeps its sketches driver-
      // resident by design; the bound here is on the SECOND,
      // serialized copy and on executor memory.) Unknown names fall
      // through every chunk into the null branch.
      val budget = SketchCatalog.multiProbeByteBudget
      var maxChunkBytes = 0L
      val chunks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val knownNames = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = entries.iterator
      val pending = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
      var pendingBytes = 0L
      def flush(): Unit = if (pending.nonEmpty) {
        val chunkNames = pending.map(_._1)
        val (probed, bc) = probeViaBroadcast(
          keyed.filter(col("name").isin(chunkNames.toSeq: _*)), pending.toSeq)
        val res = probed.persist()
        tally(res) // materializes: the executors' copies can drop now
        // non-blocking; a later eviction-recompute re-fetches from the
        // driver. Without this, the persisted blocks would pin every
        // chunk's blob map on every executor for the catalog's lifetime
        bc.foreach(_.unpersist(false))
        chunks += res
        knownNames ++= chunkNames
        maxChunkBytes = math.max(maxChunkBytes, pendingBytes)
        pending.clear(); pendingBytes = 0L
      }
      while (it.hasNext) {
        serializeEntry(it.next()).foreach { case (n, blob) =>
          if (pendingBytes + blob.length > budget && pending.nonEmpty) flush()
          pending += ((n, blob)); pendingBytes += blob.length
        }
      }
      flush()
      lastMultiProbeStats = SketchCatalog.MultiProbeStats(chunks.size, maxChunkBytes)
      (chunks.toSeq :+ unknownBranch(knownNames.toSet)).reduce(_ union _)
    }
  }

  /** A serialized snapshot as the plan sees it: a [[graft.agg.SketchRef]]
    * over a broadcast of `blob`, never a literal (a literal prints the
    * blob into every plan description and copies it into every task
    * binary). The copy is taken under the caller's entry lock, so the
    * lazily consumed result keeps answering from the state at call time
    * whatever later sets do to the live sketch. The broadcast is not
    * destroyed here: the caller may consume the returned DataFrame at
    * any later time. Spark's ContextCleaner removes it once the plans
    * that reference it are unreachable. */
  private def snapshotRef(blob: Array[Byte]): Column =
    sketch_ref(spark.sparkContext.broadcast(blob), blob.length)

  /** Observability for the last `checkKeysMulti` plan: how many probe
    * chunks ran and the largest chunk's serialized blob bytes (the
    * spec's recorded driver-side bound). */
  @volatile private[catalog] var lastMultiProbeStats: SketchCatalog.MultiProbeStats =
    SketchCatalog.MultiProbeStats(0, 0L)

  /** The many-filter probe shape: one scan of the pair set, blobs
    * broadcast once per executor, each referenced sketch deserialized
    * at most once per task. Key bytes match `sbf_contains`'s exactly
    * (cast to string, UTF-8). */
  private def probeViaBroadcast(keyed: DataFrame, blobs: Seq[(String, Array[Byte])])
      : (DataFrame, Option[org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]]]) = {
    import org.apache.spark.sql.types._
    val bc = spark.sparkContext.broadcast(blobs.toMap)
    val keyType = keyed.schema("key").dataType
    val outSchema = StructType(Seq(
      StructField("name", StringType),
      StructField("key", keyType),
      StructField("present", BooleanType)))
    val out = keyed
      .select(col("name"), col("key"), col("key").cast("string").as("_ks"))
      .mapPartitions { rows =>
        val cache = mutable.HashMap.empty[String, ScalableBloom]
        rows.map { r =>
          val n = if (r.isNullAt(0)) null else r.getString(0)
          val ks = if (r.isNullAt(2)) null else r.getString(2)
          val present: java.lang.Boolean =
            if (n == null || ks == null) null
            else bc.value.get(n) match {
              case Some(blob) =>
                val s = cache.getOrElseUpdate(n, ScalableBloom.deserialize(blob))
                val kb = ks.getBytes(UTF_8)
                java.lang.Boolean.valueOf(s.contains(kb, 0, kb.length))
              case None => null // unregistered name
            }
          org.apache.spark.sql.Row(n, r.get(1), present)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    (out, Some(bc))
  }

  // ---- `list [prefix]`: lexicographic (ART order). Registry snapshot
  // under the monitor; per-entry reads under the entry READ lock
  // OUTSIDE it (size/byte reads iterate the sketch's layer buffer,
  // which a concurrent write-locked `set` may be growing — and a busy
  // filter must not block unrelated commands on the monitor) ----
  def list(prefix: String = ""): DataFrame = {
    import spark.implicits._
    val snapshot = this.synchronized {
      registry.values.toSeq.filter(_.name.startsWith(prefix)).sortBy(_.name)
    }
    snapshot
      .map { e => withRead(e) { e.synchronized {
        // do NOT fault in for list (reference lists proxied too)
        val (bytes, size) = storageAndSize(e)
        (e.name, e.probability, bytes, e.capacity, size)
      } } }
      .toDF("name", "probability", "bytes", "capacity", "size")
  }

  // ---- `info <name>`: 13 fields (`conn_handler.c:447-476`) ----
  def info(name: String): Either[String, DataFrame] = resolve(name) match {
    case None => Left("Filter does not exist")
    case Some(e) =>
      import spark.implicits._
      // entry READ lock for the same reason as `list` above
      val (c, proxied, storage, size) = withRead(e) { e.synchronized {
        val (storage, size) = storageAndSize(e)
        (e.counters.copy(), e.sketch.isEmpty, storage, size)
      } }
      Right(Seq((
        e.capacity, c.checkHits + c.checkMisses, c.checkHits, c.checkMisses,
        if (proxied) 0 else 1, c.pageIns, c.pageOuts, e.probability,
        c.setHits + c.setMisses, c.setHits, c.setMisses, size, storage))
        .toDF("capacity", "checks", "check_hits", "check_misses", "in_memory",
          "page_ins", "page_outs", "probability", "sets", "set_hits",
          "set_misses", "size", "storage"))
  }

  def exists(name: String): Boolean = this.synchronized { registry.contains(name) }
  def names: Seq[String] = this.synchronized { registry.keys.toSeq.sorted }

  /** `filtmgr_list_cold_filters` analog
    * (`filter_manager.c:731-794`): names not touched since the last
    * cold listing/sweep; reading the list clears the hot flags, so
    * consecutive calls define the sweep windows. */
  def listCold(): Seq[String] = this.synchronized {
    val cold = registry.values.filterNot(_.hot).map(_.name).toSeq.sorted
    registry.values.foreach(_.hot = false)
    cold
  }

  /** Write filter `name` in the reference C daemon's OWN on-disk
    * layout (`bloomd.<name>/{config.ini, data.NNN.mmap}` — the exact
    * ini fields `update_filename_from_filter_config` emits,
    * `config.c:482-507`, and the bitmap layout the daemon mmaps) —
    * the reverse of [[SketchCatalog.restoreFromBloomd]]: a filter
    * built by this engine can be dropped into a live bloomd data_dir
    * and served by the C daemon, the outbound half of the migration
    * path. Layer files are written in layer order (`data.%03d.mmap`,
    * `filter.c:22` — alphasort order == oldest..newest on restore).
    * A concat-merged sketch (distributed build) may carry several
    * layers per ladder rung; each exported file is self-describing
    * (512-byte header carries m/k/count), which is also what the
    * daemon's own discover reads back. */
  def exportBloomd(name: String, destRoot: Path): Either[String, Path] =
    resolve(name) match {
      case None => Left("Filter does not exist")
      case Some(e) => try withRead(e) {
        val sk = faultIn(e)
        val dir = destRoot.resolve(s"bloomd.$name")
        Files.createDirectories(dir)
        e.synchronized {
          sk.layers.zipWithIndex.foreach { case ((_, f), i) =>
            Files.write(dir.resolve(f"data.$i%03d.mmap"), f.serialize())
          }
          val ini = String.format(java.util.Locale.ROOT,
            "[bloomd]\ninitial_capacity = %d\ndefault_probability = %f\n" +
              "scale_size = %d\nprobability_reduction = %f\nin_memory = %d\n" +
              "size = %d\ncapacity = %d\nbytes = %d\n",
            Long.box(sk.initialCapacity), Double.box(sk.fpProbability),
            Int.box(sk.scaleSize), Double.box(sk.probReduction),
            Int.box(if (e.inMemory) 1 else 0),
            Long.box(sk.size), Long.box(sk.totalCapacity), Long.box(sk.totalByteSize))
          Files.write(dir.resolve("config.ini"), ini.getBytes(UTF_8))
        }
        Right(dir)
      } catch { case _: FilterGone => Left("Filter does not exist") }
    }

  /** Register a filter restored from a reference-daemon directory
    * (`bloomd.<name>/`, see [[SketchCatalog.restoreFromBloomd]]). */
  def importBloomd(dir: Path): String = this.synchronized {
    val (ini, sbf) = SketchCatalog.restoreFromBloomd(dir)
    val name = dir.getFileName.toString.stripPrefix("bloomd.")
    if (registry.contains(name)) "Exists"
    // same guard as create(): an in-flight async drop still owns the
    // name's files — importing now would have the deleter destroy the
    // freshly persisted filter
    else if (pendingDeletes.contains(name)) "Delete in progress"
    else {
      val e = new Entry(name, ini.initialCapacity, ini.defaultProbability,
        ini.inMemory, Some(sbf))
      e.counters.pageIns += 1 // discover counts a page-in (filter.c:531)
      e.hot = true
      registry(name) = e
      if (!ini.inMemory) persist(e)
      "Done"
    }
  }

  // ---- persistence ----

  private def persist(e: Entry): Unit = {
    if (e.droppedFlag) return // never resurrect a dropped filter's files
    val dir = filterDir(e.name)
    Files.createDirectories(dir)
    val cfg = s"""{"name":"${e.name}","capacity":${e.capacity},"probability":${e.probability},"in_memory":${e.inMemory}}"""
    Files.write(dir.resolve("config.json"), cfg.getBytes(UTF_8))
    e.sketch.foreach(s => Files.write(dir.resolve("sketch.bin"), s.serialize()))
    e.dirty = false
  }

  /** (layer bytes, key count) of the loaded sketch, or of `sketch.bin`
    * read once for a proxied filter (0, 0 when nothing is persisted) */
  private def storageAndSize(e: Entry): (Long, Long) = {
    val f = filterDir(e.name).resolve("sketch.bin")
    e.sketch.orElse(Option.when(Files.exists(f))(ScalableBloom.deserialize(Files.readAllBytes(f))))
      .fold((0L, 0L))(s => (s.totalByteSize, s.size))
  }

  /** startup restore: scan for bloomd.* dirs, register PROXIED
    * (`filter_manager.c:840-863` — filters load lazily on first use) */
  private def restore(): Unit = {
    val root = Paths.get(dataDir)
    if (!Files.isDirectory(root)) return
    val dirs = Files.list(root).iterator()
    val found = mutable.ArrayBuffer.empty[(String, Long, Double, Boolean)]
    while (dirs.hasNext) {
      val d = dirs.next()
      val fn = d.getFileName.toString
      if (fn.startsWith("bloomd.") && Files.exists(d.resolve("config.json"))) {
        val cfg = new String(Files.readAllBytes(d.resolve("config.json")), UTF_8)
        def field(k: String): String =
          cfg.split(s""""$k":""")(1).split("[,}]")(0).trim.stripPrefix("\"").stripSuffix("\"")
        found += ((field("name"), field("capacity").toLong,
          field("probability").toDouble, field("in_memory").toBoolean))
      }
    }
    found.sortBy(_._1).foreach { case (name, cap, p, inMem) =>
      registry(name) = new Entry(name, cap, p, inMem, None)
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }
}

object SketchCatalog {

  /** Above this many referenced filters, `checkKeysMulti` switches
    * from the union of per-filter probes (O(branches) re-scans of
    * the pair set) to the single-scan broadcast-map shape. 16 keeps
    * small probes on the codegen'd expression path while bounding the
    * worst case at catalog scale. */
  final val multiProbeBranchBound = 16

  /** Byte budget for ONE broadcast-map probe chunk: `checkKeysMulti`
    * serializes and ships at most this many blob bytes at a time (a
    * chunk always holds at least one filter, so a single oversized
    * sketch still probes). 64 MB keeps an executor's live broadcast
    * comfortably inside a task's memory share while letting a
    * ~300 KB-sketch catalog probe hundreds of filters per chunk.
    * A `var` so tests can shrink it to force multi-chunk plans. */
  @volatile var multiProbeByteBudget: Long = 64L << 20

  final case class MultiProbeStats(chunks: Int, maxChunkBytes: Long)

  final case class Counters(
      var checkHits: Long = 0, var checkMisses: Long = 0,
      var setHits: Long = 0, var setMisses: Long = 0,
      var pageIns: Long = 0, var pageOuts: Long = 0)

  /** `handler_constants.c:83-84` */
  final val ValidNamePattern = "^[^ \\t\\n\\r]{1,200}$"

  /** The reference's per-filter config.ini fields
    * (`csrc/bloomd/config.c:482-507` writes them; section [bloomd]). */
  final case class BloomdIni(
      initialCapacity: Long, defaultProbability: Double,
      scaleSize: Int, probabilityReduction: Double, inMemory: Boolean,
      size: Long, capacity: Long, bytes: Long)

  /** Minimal INI reader for the reference's own files: section headers
    * ignored (single [bloomd] section), `key = value` lines, `#`/`;`
    * comments (`deps/inih/ini.c` grammar subset the reference emits). */
  def parseBloomdIni(text: String): Map[String, String] =
    text.linesIterator
      .map(_.trim)
      .filterNot(l => l.isEmpty || l.startsWith("[") || l.startsWith("#") || l.startsWith(";"))
      .flatMap { l =>
        val eq = l.indexOf('=')
        if (eq < 0) None else Some(l.take(eq).trim -> l.drop(eq + 1).trim)
      }
      .toMap

  /**
   * Restore a scalable bloom filter from the reference C daemon's
   * on-disk directory (`bloomd.<name>/{config.ini, data.NNN.mmap}`),
   * mirroring `discover_existing_filters` (`filter.c:435-536`):
   * `*.mmap` files alphasorted are the layers oldest-to-newest, layer
   * i gets capacity `initial_capacity * scale_size^i`
   * (`sbf.c:278-287` reconstructs the same ladder reversed, newest
   * first), and each file is a bitmap in the exact layout
   * [[graft.sketch.BloomFilter.serialize]] emits (512-byte header +
   * MSB-first bit array) — so restore is deserialize + stack.
   *
   * This is the migration path: point it at a directory written by
   * the reference daemon and get a sketch whose membership answers
   * match bit-for-bit.
   */
  def restoreFromBloomd(dir: Path): (BloomdIni, ScalableBloom) = {
    val iniPath = dir.resolve("config.ini")
    require(Files.exists(iniPath), s"no config.ini under $dir")
    val kv = parseBloomdIni(new String(Files.readAllBytes(iniPath), UTF_8))
    val ini = BloomdIni(
      initialCapacity = kv("initial_capacity").toLong,
      defaultProbability = kv("default_probability").toDouble,
      scaleSize = kv("scale_size").toInt,
      probabilityReduction = kv("probability_reduction").toDouble,
      inMemory = kv.get("in_memory").exists(v => v == "1" || v == "true"),
      size = kv.getOrElse("size", "0").toLong,
      capacity = kv.getOrElse("capacity", "0").toLong,
      bytes = kv.getOrElse("bytes", "0").toLong)
    val it = Files.list(dir).iterator()
    val mmaps = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val p = it.next()
      if (p.getFileName.toString.endsWith(".mmap")) mmaps += p
    }
    val layers = scala.collection.mutable.ArrayBuffer.empty[(Int, graft.sketch.BloomFilter)]
    mmaps.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, rung) =>
      layers += ((rung, graft.sketch.BloomFilter.deserialize(Files.readAllBytes(p))))
    }
    val sbf = new ScalableBloom(ini.initialCapacity, ini.defaultProbability,
      ini.scaleSize, ini.probabilityReduction, layers)
    (ini, sbf)
  }
}
