package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

import graft.Tables

/** Storage plumbing for the persisted-index lifecycle (IVF / quantized
  * assignments, LSH band table, inverted index, similarity graph,
  * exact-dedup Bloom artifact): a MANIFEST-pointer layer that makes every
  * mutation crash-safe and every reader race-free, the maintenance lock
  * that serializes writers, and the one tombstone / generation rule the
  * index families share.
  *
  * Layout of a versioned artifact root:
  * {{{
  *   root/
  *     MANIFEST            # epoch counter + table-name -> generation dir
  *     MANIFEST.prev       # the previous manifest (reader grace period)
  *     assignments.g0/     # parquet generation dirs
  *     assignments.b3.e4/  # micro-batch generation (batch 3, epoch 4)
  *     tombstones.g1/
  * }}}
  *
  * A generation is immutable once a manifest names it, with ONE set of
  * exceptions: the data appends still `mode("append")` into the current
  * generation, so their rows become visible before their publish — IVF
  * `appendToIvfIndex` / `appendToKnnGraph` and `appendToQuantizedIndex`
  * (assignments), LSH `appendToLshBandIndex` (bands), and
  * `InvertedIndex.appendToIndex` (postings, df, stats). Every other
  * mutation, deletes included, writes fresh generations only.
  *
  * Every mutation runs under [[withMaintenanceLock]] (same-JVM monitor +
  * cross-process advisory `FileChannel` lock — the cachedBuild pattern)
  * and publishes by writing a NEW manifest via temp-file + atomic rename:
  * a crash at any point leaves the old manifest (and every directory it
  * references) fully intact, so readers never see a torn artifact and the
  * next writer simply retries. This retires the old delete-then-rename
  * `swapDir`, whose crash window could leave NO artifact at the
  * destination (round-12 advice) and whose delete raced in-flight reads.
  *
  * Readers resolve table paths through ONE manifest read ([[snapshot]]) —
  * a consistent view across tables (assignments + tombstones swap
  * together at compaction) — and [[gc]] retains every directory the
  * previous manifest references, so a reader that resolved just before a
  * compaction finishes its scan against the still-present old generation.
  * One grace generation bounds disk at ≤ 2× the live artifact.
  *
  * The manifest also carries the index's EPOCH counter — a monotonic
  * mutation stamp. THE TOMBSTONE RULE of the epoch-stamped families (IVF
  * incl. quantized and kNN-graph paths, LSH band index, inverted index):
  * a delete ([[tombstone]]) writes the previous tombstone rows plus the
  * new ids stamped `epoch + 1` into a FRESH `tombstones` generation, so
  * it is invisible until its publish and a crash before it changes
  * nothing; appended rows record the epoch that admitted them; and the
  * live view ([[live]]) keeps a row iff no tombstone of its id carries
  * an epoch `>=` the row's — so append-after-delete works without an
  * intervening compaction (the takedown-then-recrawl workflow). Ties
  * favor the delete (a crash can orphan an epoch bump, and the safe
  * direction is dead-stays-dead until re-appended at a later epoch).
  * Tombstone rows may repeat an id (a delete writes its id frame as
  * given, with no dedup shuffle): the live view is an anti join, which
  * a repeated row cannot change. `SimGraphIndex` keeps an epoch-less
  * tombstone set of its own (its rows carry no epoch; re-appending a
  * dead id is refused).
  *
  * THE WRITE RULE: every generation, side table and artifact the
  * operators persist lands through [[write]], or, when partitioned (IVF
  * `cell`, inverted-index `pb`), through [[writePartitioned]]: one file
  * per partition value, written by as many tasks as the session has
  * shuffle partitions. Both set [[NioChmodLocalFileSystem]] as the
  * `file://` filesystem of that one write, because Hadoop's local
  * filesystem without native libhadoop starts a `chmod` process for
  * every directory, part file, `.crc` and `_SUCCESS` it creates (about
  * 5 ms each, 9 for a one-file generation), while the class sets the
  * same bits in-process. The session's conf is left alone.
  *
  * This is exactly the object-store deployment shape: generations are
  * immutable uploads, the manifest is the one small mutable object, and
  * the atomic-rename here maps to a conditional PUT there. Nothing below
  * relies on directory-rename atomicity.
  */
private[graft] object MaintenanceIo {

  /** Epoch counter + table-name -> generation-dir-name (relative). */
  final case class Manifest(epoch: Long, tables: Map[String, String])

  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serialize index mutations on `root`: a per-root same-JVM monitor
    * (overlapping `FileLock`s within one process throw rather than
    * block) wrapping a cross-process advisory file lock. Readers never
    * take it — the manifest snapshot plus the grace generation make
    * reads lock-free.
    */
  def withMaintenanceLock[A](root: String)(f: => A): A = {
    val canon = Paths.get(root).toAbsolutePath.normalize.toString
    val monitor = monitors.computeIfAbsent(canon, _ => new Object)
    monitor.synchronized {
      Files.createDirectories(Paths.get(canon))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(canon, ".maintenance.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try f finally lk.release()
      } finally ch.close()
    }
  }

  def readManifest(root: String): Option[Manifest] =
    parseManifest(Paths.get(root, "MANIFEST"))

  private def parseManifest(p: Path): Option[Manifest] = {
    if (!Files.exists(p)) None
    else {
      val kv = Files.readAllLines(p).toArray(Array.empty[String])
        .filter(_.contains("=")).map { l =>
          val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
        }.toMap
      Some(Manifest(kv.getOrElse("epoch", "0").toLong,
        kv.view.filterKeys(_ != "epoch").toMap))
    }
  }

  /** The manifest a reader MUST find: absence means the root is not a
    * versioned artifact (never built, or a pre-manifest layout — rebuild
    * it; stale copies of the old layout are invalidated by the
    * cachedBuild signature salt).
    */
  def requireManifest(root: String): Manifest =
    readManifest(root).getOrElse(throw new IllegalStateException(
      s"$root has no MANIFEST — not a (current-layout) versioned " +
        "artifact; rebuild the index"))

  /** One consistent table-name -> absolute-path view. Resolve ALL tables
    * a query needs from a single snapshot — two separate reads could
    * straddle a compaction and mix generations.
    */
  def snapshot(root: String): Map[String, String] =
    paths(root, requireManifest(root))

  /** Manifest `m`'s table-name -> absolute-path map under `root`. */
  def paths(root: String, m: Manifest): Map[String, String] =
    m.tables.view.mapValues(g => s"$root/$g").toMap

  /** One logical table of a snapshot: the main generation unioned with
    * every `<table>.<suffix>` (append / micro-batch) generation, read dir
    * by dir — a multi-root read would parse the generation dirs of a
    * partitioned table as partitions.
    */
  def read(spark: SparkSession, snap: Map[String, String],
           table: String): DataFrame =
    snap.collect {
      case (k, p) if k == table || k.startsWith(table + ".") => p
    }.toSeq.sorted.map(Tables.parquet(spark, _)).reduce(_.unionByName(_))

  /** Record a delete (the tombstone rule above): the `key` values of
    * `ids` stamped `m.epoch + 1`, plus the rows of `m`'s tombstone
    * generation, land in a fresh generation — one scan-and-write job.
    * Repeated ids are kept as given ([[live]] is indifferent to them).
    * Returns the manifest to publish — unpublished, so a composite
    * mutation can fold more tables into the same publish.
    */
  def tombstone(root: String, m: Manifest, ids: DataFrame,
                key: String): Manifest = {
    val gen = nextGen(root, "tombstones")
    val fresh = ids.select(key).withColumn("epoch", lit(m.epoch + 1))
    write(m.tables.get("tombstones")
      .fold(fresh)(g => Tables.parquet(ids.sparkSession, s"$root/$g")
        .unionByName(fresh)), s"$root/$gen")
    Manifest(m.epoch + 1, m.tables + ("tombstones" -> gen))
  }

  /** `rows` minus the epoch-shadowed ones (the tombstone rule above): one
    * broadcast left-anti join on `row.key = t.key AND row.epoch <=
    * t.epoch` drops a row when any tombstone of its id is at least as
    * new. The tombstone scan feeds the broadcast directly, with no
    * aggregate or shuffle (deletions between compactions are small by
    * the compaction contract), so the scan of `rows` and its partition
    * pruning are unchanged by pending deletes.
    */
  def live(rows: DataFrame, snap: Map[String, String],
           key: String): DataFrame =
    snap.get("tombstones").fold(rows) { ts =>
      val t = Tables.parquet(rows.sparkSession, ts)
        .select(col(key).as("__tk"), col("epoch").as("__te"))
      rows.join(broadcast(t),
        col(key) === col("__tk") && col("epoch") <= col("__te"), "left_anti")
    }

  /** Land `df` partitioned by `partCol` with ONE file per partition
    * value: a bare `partitionBy` fans every upstream task across every
    * partition directory (writerTasks × values files of a few rows each,
    * whose per-file footer overhead dwarfed the column data — BENCH_SCALE.md
    * r19), while a hash repartition on `partCol` routes each value's rows
    * to exactly one writer. The partition count is EXPLICIT (the session's
    * shuffle partitions, the `ivfProbe` idiom): a user-numbered
    * repartition is never AQE-coalesced, so a bytes-tiny frame keeps its
    * writer tasks instead of folding into one.
    */
  def writePartitioned(df: DataFrame, partCol: String, path: String,
                       mode: String = "error"): Unit =
    writer(df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions, col(partCol)))
      .mode(mode).partitionBy(partCol).parquet(path)

  /** Land `df` as one parquet generation at `path` (save `mode` as in
    * `DataFrameWriter.mode`). Every index generation, side table and
    * artifact under `graft/operators` is written here or through
    * [[writePartitioned]] (`DeterminismLintSpec` refuses a `.write`
    * anywhere else in that package).
    */
  def write(df: DataFrame, path: String, mode: String = "error"): Unit =
    writer(df).mode(mode).parquet(path)

  /** `df.write` with [[NioChmodLocalFileSystem]] as the `file://`
    * filesystem of this write only: the writer's options become the
    * write job's Hadoop conf. The cache switch is needed because Hadoop
    * caches one `file://` instance per user whatever the conf, so the
    * class option alone would get the stock instance back.
    */
  private def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write
      .option("fs.file.impl", classOf[NioChmodLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")

  /** The epoch micro-batch `key` (`<table>.b<id>`) writes under: a replay
    * reuses the epoch pinned in its existing `<key>.e<epoch>` dir name, a
    * first attempt claims the next one.
    */
  def batchEpoch(m: Manifest, key: String): Long =
    m.tables.get(key).fold(m.epoch + 1)(d =>
      d.substring(d.lastIndexOf(".e") + 2).toLong)

  /** The manifest a compaction publishes: `m` without its tombstones and
    * without every `<t>.<suffix>` generation of each rewritten table `t`
    * in `fresh`, plus `fresh`, under the unchanged epoch.
    */
  def compacted(m: Manifest, fresh: Map[String, String]): Manifest =
    Manifest(m.epoch, m.tables.filter { case (k, _) =>
      k != "tombstones" && !fresh.keys.exists(t => k.startsWith(t + "."))
    } ++ fresh)

  /** Publish a manifest mutation: save the current manifest as the grace
    * copy, land the new one by temp + atomic rename, then GC. Call only
    * under [[withMaintenanceLock]], AFTER the generation directories the
    * new manifest references are fully written. The current MANIFEST is
    * never absent at any instant — the grace copy lands first (its own
    * temp + rename), then the new manifest atomically REPLACES the
    * current one.
    */
  def publish(root: String, m: Manifest): Unit = {
    val dir = Paths.get(root)
    Files.createDirectories(dir)
    val cur = dir.resolve("MANIFEST")
    if (Files.exists(cur)) {
      val ptmp =
        dir.resolve(s"MANIFEST.prev.tmp.${ProcessHandle.current().pid()}")
      Files.copy(cur, ptmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(ptmp, dir.resolve("MANIFEST.prev"),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
    val tmp = dir.resolve(s"MANIFEST.tmp.${ProcessHandle.current().pid()}")
    val body = (s"epoch=${m.epoch}" +:
      m.tables.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" })
      .mkString("", "\n", "\n")
    Files.writeString(tmp, body)
    Files.move(tmp, cur,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    gc(root)
  }

  /** Next generation dir name for `table`: one past every `table.g<n>`
    * on disk (filesystem scan, not manifest — an orphaned generation
    * from a crashed writer must not be reused while it might be
    * half-written ... it is GC'd at the next successful publish).
    */
  def nextGen(root: String, table: String): String = {
    val re = s"""^${java.util.regex.Pattern.quote(table)}\\.g(\\d+)$$""".r
    val max = Option(new java.io.File(root).list()).getOrElse(Array.empty)
      .collect { case re(n) => n.toLong }
      .foldLeft(-1L)(math.max)
    s"$table.g${max + 1}"
  }

  /** Delete generation dirs referenced by NEITHER the current manifest
    * NOR the grace copy. Only `<table>.g<n>`, per-append
    * `<table>.a<seq>.e<epoch>`, and micro-batch `<table>.b<id>.e<epoch>`
    * names are candidates — the cachedBuild marker, lock files, and
    * unversioned side tables (centroids, ranges) are never touched.
    * Generations carrying an in-progress marker ([[reserveGen]]) are
    * exempt: a lock-free certification writes its cert generation BEFORE
    * taking the publish lock, and a concurrent writer's publish-time gc
    * must not reap that in-flight dir (round-18 advice: two concurrent
    * certifies — B's publish gc'd A's unreferenced-but-about-to-be-
    * published gen, and A then published a manifest pointing at a
    * deleted directory).
    */
  private def gc(root: String): Unit = {
    val keep =
      readManifest(root).map(_.tables.values.toSet).getOrElse(Set.empty) ++
        readPrev(root).map(_.tables.values.toSet).getOrElse(Set.empty)
    val genRe = """^[A-Za-z_]+\.(g\d+|[ab]\d+\.e\d+)$""".r
    Option(new java.io.File(root).list()).getOrElse(Array.empty)
      .filter(n => genRe.matches(n) && !keep.contains(n) &&
        !Files.exists(Paths.get(root, s"$n.inprogress")))
      .foreach(n => deleteDir(s"$root/$n"))
  }

  /** RESERVE a generation name for a LOCK-FREE writer (the certification
    * paths, which measure outside the lock so a corpus-scale audit never
    * stalls mutations): under a brief lock, claim the next `table`
    * generation by creating the (empty) dir plus an `.inprogress` marker
    * file. The dir claims the name against a concurrent [[nextGen]] scan
    * (two lock-free certifiers must never write into one dir); the marker
    * exempts it from every concurrent publish's [[gc]] until the owner
    * calls [[releaseGen]] — on success (the gen is manifest-referenced by
    * then) or on refusal (the owner deletes the orphan dir first). A hard
    * crash can strand one marker+dir pair; it is bounded (one dir per
    * crashed certifier) and harmless — the next certification reserves a
    * fresh name past it.
    */
  def reserveGen(root: String, table: String): String =
    withMaintenanceLock(root) {
      val gen = nextGen(root, table)
      Files.createDirectories(Paths.get(root, gen))
      Files.writeString(Paths.get(root, s"$gen.inprogress"), "")
      gen
    }

  /** Drop [[reserveGen]]'s in-progress marker (call in a finally). */
  def releaseGen(root: String, gen: String): Unit = {
    Files.deleteIfExists(Paths.get(root, s"$gen.inprogress"))
    ()
  }

  private def readPrev(root: String): Option[Manifest] =
    parseManifest(Paths.get(root, "MANIFEST.prev"))

  def deleteDir(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      def rec(f: Path): Unit = {
        if (Files.isDirectory(f)) {
          val s = Files.list(f)
          try s.forEach(rec(_)) finally s.close()
        }
        Files.delete(f)
      }
      rec(p)
    }
  }
}

/** The `file://` filesystem of [[MaintenanceIo]]'s writes: Hadoop's
  * checksummed `LocalFileSystem` over a raw filesystem that sets a plain
  * `rwx` permission with `Files.setPosixFilePermissions` instead of a
  * `chmod` child process. The bits come from `toShort` (a create-time
  * permission's `toString` also names its unmasked mode). A sticky bit,
  * and a filesystem without POSIX permissions, still go through
  * Hadoop's own call.
  */
final class NioChmodLocalFileSystem
    extends LocalFileSystem(new NioChmodLocalFileSystem.Raw)

object NioChmodLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: HPath, permission: FsPermission): Unit = {
      val bits = permission.toShort
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(new FsPermission(bits).toString))
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
    }
  }
}
