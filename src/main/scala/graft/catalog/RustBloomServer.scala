package graft.catalog

import graft.sketch.{BloomParams, LayeredBloom}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/**
 * The Rust server's counting wire protocol (`/root/reference/src/main.rs`)
 * over layered bloom filters: `check`/`set` return MULTIPLICITIES
 * (consecutive containing layers) instead of Yes/No, `bulk`/`multi`
 * return space-joined counts, and lifecycle works on `filter.<name>`
 * directories (`main.rs:38`, `wrappers.rs:120-201`).
 *
 * Exact response-string parity with `interpret_request`
 * (`main.rs:132-164`) and the golden protocol test (`main.rs:851-930`):
 * message constants `main.rs:40-48`, arity rules per `process_*`
 * (check/set exactly 2 args, multi/bulk >= 2, flush <= 1, create key=value
 * parsing `main.rs:269-311`), counter semantics `main.rs:598-643`
 * (hit = pre-insert multiplicity > 0), `list`/`info` field order
 * `main.rs:460-535`, close = unload-without-delete with lazy reload
 * (`wrappers.rs:238-283`), clear = deregister keeping files, create
 * over existing files reloads them (`main.rs:316-330`).
 *
 * This is the wire-op surface; the distributed path for the same
 * structure is `lbf_agg`/`lbf_count` (SURVEY.md §2.1).
 */
class RustBloomServer(
    val dataDir: String,
    val initialCapacity: Long = 100000L,
    val defaultProbability: Double = 1e-4) {

  import RustBloomServer._

  private final class Entry(
      val name: String,
      val capacity: Long,
      val probability: Double,
      val bytes: Long,
      var lbf: Option[LayeredBloom],
      val counters: SketchCatalog.Counters = SketchCatalog.Counters()) {
    def size: Long = lbf.map(_.size).getOrElse(loaded.size)
    /** lazy fault-in, wrappers.rs:275-283 */
    def loaded: LayeredBloom = lbf.getOrElse {
      val l = LayeredBloom.deserialize(Files.readAllBytes(dataFile(name)))
      lbf = Some(l)
      l
    }
  }

  private val filters = mutable.TreeMap.empty[String, Entry]

  // the Rust server's two-level locking (`main.rs:70,166-200`):
  // `RwLock<HashMap<name, RwLock<BloomFilter>>>` — key ops take the
  // MAP read lock (concurrent commands on different filters proceed),
  // lifecycle ops the map write lock; each filter is then exclusive
  // per command because even `check` needs `&mut BloomFilter`
  // (`main.rs:598`, counters + touch) — here synchronized(entry)
  private val mapLock = new java.util.concurrent.locks.ReentrantReadWriteLock()
  private def mapRead[A](f: => A): A = {
    val l = mapLock.readLock(); l.lock(); try f finally l.unlock()
  }
  private def mapWrite[A](f: => A): A = {
    val l = mapLock.writeLock(); l.lock(); try f finally l.unlock()
  }

  private def dir(name: String): Path = Paths.get(dataDir, s"filter.$name")
  private def dataFile(name: String): Path = dir(name).resolve("data.lbf")

  def interpret(input: String): String = {
    val args = input.split("\\s+").filter(_.nonEmpty).toList
    args match {
      case Nil => NotImplemented
      case cmd :: rest => cmd match {
        case "bulk" | "b" => mapRead(bulkCmd(rest))
        case "check" | "c" => mapRead(checkCmd(rest))
        case "multi" | "m" => mapRead(multiCmd(rest))
        case "set" | "s" => mapRead(setCmd(rest))
        case "create" => mapWrite(createCmd(rest))
        case "close" => mapWrite(closeCmd(rest))
        case "clear" => mapWrite(clearCmd(rest))
        case "drop" => mapWrite(dropCmd(rest))
        case "flush" => mapWrite(flushCmd(rest))
        case "info" => mapWrite(infoCmd(rest))
        case "list" => mapWrite(listCmd(rest))
        case _ => NotImplemented
      }
    }
  }

  // ---- key ops (main.rs:598-643); callers hold the map read lock,
  // the entry monitor is the filter's own write lock ----

  private def doCheck(e: Entry, key: String): Int = {
    val v = e.loaded.count(key.getBytes(UTF_8))
    if (v > 0) e.counters.checkHits += 1 else e.counters.checkMisses += 1
    v
  }

  private def doSet(e: Entry, key: String): Int = {
    val pre = e.loaded.count(key.getBytes(UTF_8))
    if (pre > 0) e.counters.setHits += 1 else e.counters.setMisses += 1
    e.loaded.add(key.getBytes(UTF_8)) // appends a layer itself when needed
  }

  private def bulkCmd(args: List[String]): String = args match {
    case name :: keys if keys.nonEmpty =>
      filters.get(name) match {
        case None => NoExist
        case Some(e) => e.synchronized(keys.map(doSet(e, _)).mkString(" "))
      }
    case _ => BadArgs
  }

  private def multiCmd(args: List[String]): String = args match {
    case name :: keys if keys.nonEmpty =>
      filters.get(name) match {
        case None => NoExist
        case Some(e) => e.synchronized(keys.map(doCheck(e, _)).mkString(" "))
      }
    case _ => BadArgs
  }

  private def checkCmd(args: List[String]): String = args match {
    case name :: key :: Nil =>
      filters.get(name).fold(NoExist)(e => e.synchronized(doCheck(e, key)).toString)
    case _ => BadArgs
  }

  private def setCmd(args: List[String]): String = args match {
    case name :: key :: Nil =>
      filters.get(name).fold(NoExist)(e => e.synchronized(doSet(e, key)).toString)
    case _ => BadArgs
  }

  // ---- lifecycle ----

  private def createCmd(args: List[String]): String = args match {
    case Nil => BadArgs
    case name :: params =>
      if (filters.contains(name)) return Exists
      var capacity = initialCapacity
      var probability = defaultProbability
      params.foreach {
        case p if p.startsWith("capacity=") =>
          p.stripPrefix("capacity=").toLongOption.foreach(capacity = _)
        case p if p.startsWith("prob=") =>
          p.stripPrefix("prob=").toDoubleOption.foreach(probability = _)
        case p if p.startsWith("in_memory=") => // accepted, bitmap mode n/a on JVM
        case _ => return BadArgs
      }
      val entry =
        if (Files.exists(dataFile(name))) {
          val lbf = LayeredBloom.deserialize(Files.readAllBytes(dataFile(name)))
          new Entry(name, lbf.capacity, lbf.fpProbability,
            BloomParams.sizeForCapacityProb(lbf.capacity, lbf.fpProbability), Some(lbf))
        } else {
          val lbf = LayeredBloom.create(capacity, probability)
          Files.createDirectories(dir(name))
          Files.write(dataFile(name), lbf.serialize())
          new Entry(name, capacity, probability,
            BloomParams.sizeForCapacityProb(capacity, probability), Some(lbf))
        }
      filters.put(name, entry)
      Done
  }

  // close = persist-then-unload: without the flush, sets since the last
  // explicit flush would be lost on lazy reload (the reference tolerates
  // unload-without-flush only because a background FlushTask persists
  // periodically, which this in-process port doesn't run)
  private def closeCmd(args: List[String]): String = args match {
    case Nil => BadArgs
    case name :: _ =>
      filters.get(name).fold(NoExist) { e => flushEntry(e); e.lbf = None; Done }
  }

  private def clearCmd(args: List[String]): String = args match {
    case Nil => BadArgs
    case name :: _ =>
      if (filters.remove(name).isDefined) Done else NoExist
  }

  private def dropCmd(args: List[String]): String = args match {
    case Nil => BadArgs
    case name :: _ =>
      filters.remove(name) match {
        case None => NoExist
        case Some(_) =>
          graft.util.Scratch.deleteTree(dir(name))
          Done
      }
  }

  private def flushCmd(args: List[String]): String = args match {
    case Nil =>
      filters.values.foreach(flushEntry)
      Done
    case name :: Nil =>
      filters.get(name).fold(NoExist) { e => flushEntry(e); Done }
    case _ => BadArgs
  }

  private def flushEntry(e: Entry): Unit = e.lbf.foreach { l =>
    Files.createDirectories(dir(e.name))
    Files.write(dataFile(e.name), l.serialize())
  }

  private def infoCmd(args: List[String]): String = args match {
    case Nil => BadArgs
    case name :: _ =>
      filters.get(name).fold(NoExist) { e =>
        val c = e.counters
        Start +
          s"capacity ${e.capacity}\r\n" +
          s"checks ${c.checkHits + c.checkMisses}\r\n" +
          s"check_hits ${c.checkHits}\r\n" +
          s"check_misses ${c.checkMisses}\r\n" +
          s"page_ins ${c.pageIns}\r\n" +
          s"page_outs ${c.pageOuts}\r\n" +
          s"probability ${fmt(e.probability)}\r\n" +
          s"sets ${c.setHits + c.setMisses}\r\n" +
          s"set_hits ${c.setHits}\r\n" +
          s"set_misses ${c.setMisses}\r\n" +
          s"size ${e.size}\r\n" +
          s"storage ${e.bytes}\r\n" +
          End
      }
  }

  private def listCmd(args: List[String]): String = args match {
    case Nil => listWithPrefix("")
    case prefix :: Nil => listWithPrefix(prefix)
    case _ => BadArgs
  }

  private def listWithPrefix(prefix: String): String =
    Start + filters.valuesIterator
      .filter(_.name.startsWith(prefix))
      .map(e => s"${e.name} ${fmt(e.probability)} ${e.bytes} ${e.capacity} ${e.size}\r\n")
      .mkString + End

  private def fmt(p: Double): String =
    java.math.BigDecimal.valueOf(p).stripTrailingZeros.toPlainString

  /** Register a filter restored from the Rust daemon's own directory
    * layout (see [[RustBloomServer.restoreFromRustDir]]), counters
    * included. Persists in this server's native blob format. */
  def importRustDir(src: Path): String = mapWrite {
    val (kv, lbf) = RustBloomServer.restoreFromRustDir(src)
    val name = kv("filter_name")
    if (filters.contains(name)) return Exists
    val e = new Entry(name, lbf.capacity, lbf.fpProbability,
      kv.get("bytes").flatMap(_.toLongOption)
        .getOrElse(BloomParams.sizeForCapacityProb(lbf.capacity, lbf.fpProbability)),
      Some(lbf))
    e.counters.checkHits = kv.getOrElse("check_hits", "0").toLong
    e.counters.checkMisses = kv.getOrElse("check_misses", "0").toLong
    e.counters.setHits = kv.getOrElse("set_hits", "0").toLong
    e.counters.setMisses = kv.getOrElse("set_misses", "0").toLong
    e.counters.pageIns = kv.getOrElse("page_ins", "0").toLong
    e.counters.pageOuts = kv.getOrElse("page_outs", "0").toLong
    filters.put(name, e)
    flushEntry(e)
    Done
  }

  /** Write filter `name` in the Rust daemon's OWN on-disk layout
    * (`filter.<name>/{<name>.ini, N.bmp}` — the [config]/[counters]
    * ini fields of `src/config.rs:135-276` with absolute
    * bitmap_filenames like the daemon writes, layer bitmaps in the
    * libbloom 512-byte-header format) — the reverse of
    * [[importRustDir]]: the outbound half of the Rust migration path. */
  def exportRustDir(name: String, destRoot: Path): String = mapRead {
    filters.get(name) match {
      case None => NoExist
      case Some(e) => e.synchronized {
        val l = e.loaded
        val d = destRoot.resolve(s"filter.$name")
        Files.createDirectories(d)
        val files = l.layers.zipWithIndex.map { case (f, i) =>
          val p = d.resolve(s"$i.bmp")
          Files.write(p, f.serialize())
          p.toAbsolutePath.toString
        }
        val sizes = l.layers.map(_.count)
        val c = e.counters
        val kNum = l.layers.headOption.map(_.kNum)
          .getOrElse(BloomParams.forCapacity(l.capacity, l.fpProbability).kNum)
        val ini =
          s"""[config]
             |filter_name = $name
             |capacity = ${l.capacity}
             |probability = ${java.math.BigDecimal.valueOf(l.fpProbability).stripTrailingZeros.toPlainString}
             |k_num = $kNum
             |in_memory = false
             |bytes = ${e.bytes}
             |size = ${l.size}
             |bitmap_filenames = ${files.mkString(",")}
             |filter_sizes = ${sizes.mkString(",")}
             |[counters]
             |check_hits = ${c.checkHits}
             |check_misses = ${c.checkMisses}
             |set_hits = ${c.setHits}
             |set_misses = ${c.setMisses}
             |page_ins = ${c.pageIns}
             |page_outs = ${c.pageOuts}
             |""".stripMargin
        Files.write(d.resolve(s"$name.ini"), ini.getBytes(UTF_8))
        Done
      }
    }
  }
}

object RustBloomServer {
  // src/main.rs:40-48
  final val Start = "START\r\n"
  final val End = "END"
  final val Done = "Done"
  final val Exists = "Exists"
  final val NoExist = "Filter does not exist"
  final val NotImplemented = "Client Error: Command not supported"
  final val BadArgs = "Client Error: Bad arguments"

  /**
   * Restore a layered bloom filter from the Rust daemon's on-disk
   * directory (`filter.<name>/{<name>.ini, N.bmp}`,
   * `src/wrappers.rs:120-235` + `src/config.rs:135-276`): the ini's
   * [config] section carries filter_name, capacity, probability,
   * k_num, in_memory, bytes, size, and comma-joined bitmap_filenames /
   * filter_sizes; [counters] carries the six counter fields. Layer
   * bitmaps load in the LISTED order (index 0 = layer 0) and use the
   * libbloom bitmap layout (512-byte header + MSB-first bits) that
   * [[graft.sketch.BloomFilter.serialize]] emits. bitmap_filenames
   * are absolute paths on the machine that wrote them — they resolve
   * by FILE NAME inside the migrated directory.
   */
  def restoreFromRustDir(dir: Path): (Map[String, String], LayeredBloom) = {
    val name = dir.getFileName.toString.stripPrefix("filter.")
    val iniPath = dir.resolve(s"$name.ini")
    require(Files.exists(iniPath), s"no $name.ini under $dir")
    val kv = SketchCatalog.parseBloomdIni(new String(Files.readAllBytes(iniPath), UTF_8))
    val layerFiles = kv.getOrElse("bitmap_filenames", "")
      .split(",").filter(_.nonEmpty)
      .map(f => dir.resolve(Paths.get(f).getFileName.toString))
    val layers = scala.collection.mutable.ArrayBuffer.empty[graft.sketch.BloomFilter]
    layerFiles.foreach { p =>
      layers += graft.sketch.BloomFilter.deserialize(Files.readAllBytes(p))
    }
    val lbf = new LayeredBloom(kv("capacity").toLong, kv("probability").toDouble, layers)
    (kv + ("filter_name" -> kv.getOrElse("filter_name", name)), lbf)
  }
}
