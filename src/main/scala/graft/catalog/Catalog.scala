package graft.catalog

import graft.aql.AlbaType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Container catalog: container ↔ Parquet-directory mapping with schema
  * persistence (replaces the reference's `containers.yaml` registry +
  * per-file binary schema headers, `/root/reference/src/database.rs:124-128,
  * 161-250`).
  *
  * Layout under `root`:
  *   catalog/<name>.schema   one line per column: `name<TAB>ALBA-TYPE`
  *   data/<name>/            the container's Parquet data
  *
  * Deleting/creating are metadata operations; data commits are atomic
  * directory swaps (write to `data/<name>.tmp-<nonce>`, then rename) so a
  * reader never observes a half-written container — the Spark-native
  * replacement for the reference's staged-MVCC + file-truncate commit
  * (`src/container.rs:248-342`).
  *
  * Scale note: at 100 TB a container is a partitioned Parquet dataset;
  * the swap becomes a metastore pointer flip (or Delta/Iceberg commit).
  * The catalog abstraction is unchanged.
  *
  * Concurrency contract: single writer per container (the server layer
  * serializes statements per request, matching the reference's whole-DB
  * RwLock — database.rs:1123). Readers are always consistent: they
  * resolve the version pointer once and read an immutable directory.
  */
final class Catalog(val spark: SparkSession, rootDir: String) {
  private val root: Path = Paths.get(rootDir)
  private[catalog] val catDir = root.resolve("catalog")
  private val dataDir = root.resolve("data")
  private[catalog] def catalogDir: Path = catDir
  Files.createDirectories(catDir)
  Files.createDirectories(dataDir)
  // heal on open: roll forward any decided multi-container transaction a
  // dead committer left mid-apply (one directory listing when none exist)
  recoverTxns()

  final case class ContainerDef(name: String, columns: List[(String, AlbaType)],
      storedNames: List[String] = Nil) {
    def schema: StructType =
      StructType(columns.map { case (n, t) => StructField(n, t.spark, nullable = true) })
    /** First column = implicit primary key (reference convention I6,
      * SURVEY.md §2.7). */
    def primaryKey: String = columns.head._1
    /** Physical parquet column names, aligned with `columns`. Parquet
      * files ALWAYS store these: a RENAME COLUMN changes only the logical
      * name, commits translate logical→stored at the write boundary, and
      * reads translate back — so every file ever written for the
      * container, at every version, matches one stored schema and rename
      * is a pure metadata operation. */
    def stored: List[String] =
      if (storedNames.isEmpty) columns.map(_._1) else storedNames
    def storedSchema: StructType =
      StructType(stored.zip(columns).map { case (s, (_, t)) =>
        StructField(s, t.spark, nullable = true) })
    def renamed: Boolean = storedNames.nonEmpty && storedNames != columns.map(_._1)
  }

  private def schemaFile(name: String) = catDir.resolve(s"$name.schema")
  def dataPath(name: String): Path = dataDir.resolve(name)

  def exists(name: String): Boolean = Files.exists(schemaFile(name))

  def list(): Seq[String] =
    scala.util.Using.resource(Files.list(catDir)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".schema"))
        .map(_.stripSuffix(".schema")).toSeq.sorted
    }

  def create(name: String, columns: List[(String, AlbaType)]): ContainerDef = {
    require(!exists(name), s"Container '$name' already exists")
    require(name.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"), s"Invalid container name '$name'")
    // AQL keywords are reserved container names (SQL reserved-word
    // stance): the lexer uppercases keyword bare words, so a container
    // named 'changes' or 'versions' would be unreachable from unquoted
    // AQL — reject at creation instead of failing mysteriously at query
    // time. (Columns are unaffected: their resolution is case-insensitive.)
    require(!graft.aql.Token.Keywords.contains(name.toUpperCase),
      s"Container name '$name' collides with the AQL keyword '${name.toUpperCase}'")
    val text = columns.map { case (n, t) => s"$n\t${t.name}" }.mkString("\n")
    Files.writeString(schemaFile(name), text)
    ContainerDef(name, columns)
  }

  /** Zero-copy SHALLOW CLONE: `dst` is created with `src`'s exact schema
    * metadata (including any RENAME COLUMN stored-name mapping — the
    * linked parquet carries the pinned physical names) and its v1
    * hard-links the src's CURRENT version's data files — no bytes copied,
    * the Delta/Iceberg shallow-clone shape on the versioned-directory
    * catalog. The two containers are fully independent afterwards: each
    * commit rewrites only its own touched files (COW), and hard links
    * keep shared inodes alive through either side's VACUUM or DELETE
    * CONTAINER. Staged (uncommitted) ops on src are NOT cloned; index
    * definitions are not cloned either (create them on the clone — the
    * self-healing backfill covers v1). Only versioned containers clone:
    * a symlinked external data dir has no version to link.
    */
  def cloneContainer(src: String, dst: String): Unit = {
    val d = get(src)
    requireVersioned(src, "CLONE")
    create(dst, d.columns) // name validation + double-create rejection
    if (d.renamed) writeSchema(dst, d.copy(name = dst))
    // the drop-column tombstones travel with the clone: the linked
    // parquet still physically carries any dropped column's bytes, and
    // without the tombstone an ADD COLUMN on the clone could bind the
    // old stored name and resurrect them
    if (Files.exists(droppedFile(src)))
      Files.copy(droppedFile(src), droppedFile(dst))
    val v = currentVersion(src)
    if (v > 0 && !tryCommitCow(dst, 0, versionFiles(src, v), None)) {
      // a racing writer on a just-created name can only be another clone
      drop(dst)
      sys.error(s"CLONE lost a race publishing '$dst' v1")
    }
  }

  /** RESTORE CONTAINER name TO VERSION v — re-publish an older version's
    * content as the NEXT version. History is preserved: every
    * intermediate version stays readable under time travel, and the
    * restore itself is one more auditable commit (the Delta Lake
    * `RESTORE TABLE … TO VERSION AS OF` shape), in contrast to a
    * rollback-by-deletion that would yank versions out from under
    * concurrent readers' pins. Zero-copy: the new version hard-links the
    * restored version's parquet files — the same link step as a COW
    * untouched-file carryover — so restore cost is file-count inode ops,
    * never data size. Publishes through the normal CAS claim loop
    * (serializes with concurrent commits; derived indexes rebuild into
    * the published version via the prepare hook). Returns the new
    * version number.
    */
  def restore(name: String, v: Int): Int = {
    requireVersioned(name, "RESTORE")
    require(versions(name).contains(v),
      s"RESTORE $name: version $v does not exist (never published or vacuumed)")
    var attempts = 0
    var stuckAt = -1
    while (true) {
      attempts += 1
      require(attempts <= 50, s"RESTORE $name: lost the version race 50 times")
      if (attempts > 1) Thread.sleep(math.min(100L * attempts, 2000L))
      val base = currentVersion(name)
      // same contender escape as the commit loop: heal decided
      // transactions, release dead claims, adopt unflipped versions
      if (base == stuckAt) {
        recoverTxns()
        releaseOrphanClaim(name, base + 1)
        adoptPublished(name)
      }
      stuckAt = base
      if (tryCommitCow(name, base, versionFiles(name, v), None))
        return base + 1
    }
    -1 // unreachable
  }

  /** Statements whose base-0 path would silently REPLACE rows served
    * from a legacy unversioned external data directory (fixture-style
    * symlinked containers read their dataPath at v0) refuse loudly
    * instead — the same stance CREATE VIEW takes. A fresh empty
    * container (v0, no data directory) passes: there is nothing to lose.
    */
  private[graft] def requireVersioned(name: String, what: String): Unit =
    if (currentVersion(name) == 0 && Files.exists(dataPath(name)))
      throw new IllegalArgumentException(
        s"$what on '$name': the container serves unversioned external " +
          "data — commit it through the catalog first")

  def get(name: String): ContainerDef = {
    require(exists(name), s"Unknown container '$name'")
    // line format: `logical<TAB>TYPE[<TAB>stored]` — the 3rd field only
    // appears after a RENAME COLUMN (stored = the original parquet name)
    val parsed = Files.readString(schemaFile(name)).split("\n").toList
      .filter(_.nonEmpty).map { line =>
        line.split("\t", 3) match {
          case Array(n, t) => (n, AlbaType.of(t), n)
          case Array(n, t, s) => (n, AlbaType.of(t), s)
        }
      }
    val columns = parsed.map { case (n, t, _) => n -> t }
    val stored = parsed.map(_._3)
    ContainerDef(name, columns,
      if (stored == columns.map(_._1)) Nil else stored)
  }

  /** Persisted ANALYZE statistics for `name` (written by
    * [[graft.catalog.Stats]]; invalidated by schema ALTERs, removed with
    * the container). One definition so the writers and the invalidation
    * sites can never drift on the path. */
  private[catalog] def statsFile(name: String): Path =
    catDir.resolve(s"$name.stats")

  /** Serialize + atomically swap the schema file (shared by every ALTER). */
  private def writeSchema(name: String, d: ContainerDef): Unit = {
    // persisted column stats describe the OLD schema — invalidate rather
    // than serve stale columns (re-ANALYZE recomputes under the new one);
    // same for the clustering policy, whose columns may be gone/renamed
    Files.deleteIfExists(statsFile(name))
    Files.deleteIfExists(clusterFile(name))
    val text = d.columns.zip(d.stored).map { case ((n, t), s) =>
      if (s == n) s"$n\t${t.name}" else s"$n\t${t.name}\t$s"
    }.mkString("\n")
    val tmp = catDir.resolve(
      s"$name.schema.tmp-${ProcessHandle.current.pid}-${System.nanoTime()}")
    Files.writeString(tmp, text)
    Files.move(tmp, schemaFile(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Append columns to a container's schema (ALTER CONTAINER ADD COLUMN —
    * graft extension; the reference fixes schema at creation). Purely a
    * metadata operation: committed parquet predates the new columns, and
    * every read applies the catalog schema explicitly
    * (`spark.read.schema(...)`), so Spark fills the missing columns with
    * NULL in old files — including old versions under time travel and
    * base files carried into new versions by COW hard links. The pk
    * convention (first column) is unaffected: columns only append.
    */
  def addColumns(name: String, columns: List[(String, AlbaType)]): ContainerDef =
    // read-modify-write of the schema file: serialize under the
    // per-container lock so two concurrent ALTERs can't each append to
    // the OLD schema and silently drop the other's columns
    withContainerLock(name) {
      val d = get(name)
      val newNames = columns.map(_._1.toLowerCase)
      require(newNames.distinct.length == newNames.length,
        s"Duplicate column names in ALTER: ${columns.map(_._1).mkString(",")}")
      val existing = d.columns.map(_._1.toLowerCase).toSet
      columns.foreach { case (n, _) =>
        require(!existing.contains(n.toLowerCase),
          s"Column '$n' already exists on '$name'")
      }
      // column-mapping safety: a NEW logical column must never bind to a
      // stored name that old parquet files already carry (a dropped
      // column's bytes, or any live stored name) — otherwise ADD after
      // DROP would resurrect deleted data. Tombstoned + live stored names
      // are avoided by suffixing (the Delta/Iceberg field-id idea,
      // expressed through the stored-name indirection).
      val taken = d.stored.map(_.toLowerCase).toSet ++
        droppedStored(name).map(_.toLowerCase)
      val newStored = columns.map { case (n, _) =>
        if (!taken.contains(n.toLowerCase)) n
        else Iterator.from(2).map(k => s"${n}__$k")
          .find(c => !taken.contains(c.toLowerCase)).get
      }
      val allStored = d.stored ++ newStored
      val out = ContainerDef(name, d.columns ++ columns,
        if (allStored == (d.columns ++ columns).map(_._1)) Nil else allStored)
      // atomic swap so a concurrent reader never sees a half-written schema
      writeSchema(name, out)
      out
    }

  /** ALTER CONTAINER DROP COLUMN — metadata-only: committed parquet keeps
    * the column's bytes, but every read applies the catalog schema
    * explicitly, so the column simply stops being selected (old versions
    * included, mirroring ADD COLUMN's latest-schema-wins time travel).
    * Storage is reclaimed lazily by the next OPTIMIZE, which rewrites the
    * current version through the narrowed schema. The pk (first column)
    * is protected, and an indexed column cannot be dropped out from under
    * its index.
    */
  def dropColumns(name: String, cols: List[String]): ContainerDef =
    withContainerLock(name) {
      val d = get(name)
      val targets = cols.map(_.toLowerCase)
      require(targets.distinct.length == targets.length,
        s"Duplicate column names in DROP: ${cols.mkString(",")}")
      val unknown = cols.filterNot(c => d.columns.exists(_._1.equalsIgnoreCase(c)))
      require(unknown.isEmpty, s"Unknown columns: ${unknown.mkString(",")}")
      require(!targets.contains(d.primaryKey.toLowerCase),
        s"Cannot drop primary key column '${d.primaryKey}'")
      indexDefs(name).foreach(ix =>
        ix.valueColumns.foreach(c => require(!targets.contains(c.toLowerCase),
          s"Column '$c' is indexed by '${ix.ix}' — drop the index first")))
      val keep = d.columns.zip(d.stored)
        .filterNot { case ((n, _), _) => targets.contains(n.toLowerCase) }
      require(keep.nonEmpty, s"Cannot drop every column of '$name'")
      // tombstone the dropped STORED names first (crash-safe order: a
      // tombstone without the schema change only over-blocks a future
      // ADD; the reverse could silently resurrect dropped bytes)
      val droppedNow = d.columns.zip(d.stored).collect {
        case ((n, _), s) if targets.contains(n.toLowerCase) => s
      }
      Files.writeString(droppedFile(name),
        (droppedStored(name) ++ droppedNow).toSeq.sorted.mkString("\n"))
      val out = ContainerDef(name, keep.map(_._1),
        if (keep.map(_._1._1) == keep.map(_._2)) Nil else keep.map(_._2))
      writeSchema(name, out)
      out
    }

  /** Stored names of ever-dropped columns — names new columns must avoid
    * binding to (their bytes live on in old files until OPTIMIZE). */
  private def droppedFile(name: String) = catDir.resolve(s"$name.dropped")
  private def droppedStored(name: String): Set[String] =
    if (!Files.exists(droppedFile(name))) Set.empty
    else Files.readString(droppedFile(name)).split("\n").filter(_.nonEmpty).toSet

  /** ALTER CONTAINER RENAME COLUMN — pure metadata: the stored (parquet)
    * name is pinned at creation, so files never need rewriting; the
    * schema file carries logical→stored and the read/commit boundaries
    * translate. An index on the renamed column follows it (its metadata
    * records the logical name).
    */
  def renameColumn(name: String, from: String, to: String): ContainerDef =
    withContainerLock(name) {
      val d = get(name)
      require(to.matches("[A-Za-z_][A-Za-z0-9_]*"), s"Invalid column name '$to'")
      require(d.columns.exists(_._1.equalsIgnoreCase(from)),
        s"Unknown column '$from'")
      require(!d.columns.exists(_._1.equalsIgnoreCase(to)),
        s"Column '$to' already exists on '$name'")
      val columns = d.columns.map { case (n, t) =>
        (if (n.equalsIgnoreCase(from)) to else n) -> t
      }
      val out = ContainerDef(name, columns,
        if (columns.map(_._1) == d.stored) Nil else d.stored)
      writeSchema(name, out)
      // the index follows the logical rename (derivations resolve logical
      // names — a composite value index renames just the touched
      // component); atomic per-file swap, serialized by the container lock
      indexDefs(name)
        .filter(_.valueColumns.exists(_.equalsIgnoreCase(from))).foreach { ix =>
        val renamed = ix.valueColumns
          .map(c => if (c.equalsIgnoreCase(from)) to else c).mkString(",")
        val f = Index.metaFile(this, name, ix.ix)
        // rewrite only the header line — ivf metadata carries centroid
        // lines after it that must survive the rename
        val tail = Files.readString(f).linesIterator.toList.drop(1)
        val tmp = catDir.resolve(
          s"$name.ix-${ix.ix}.tmp-${ProcessHandle.current.pid}-${System.nanoTime()}")
        Files.writeString(tmp, (s"${ix.kind}\t$renamed" :: tail).mkString("\n"))
        Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
      out
    }

  // ---- derived secondary indexes (maintained at every commit: Index.scala)

  def createIndex(name: String, ix: String, kind: String, column: String,
      k: Option[Int] = None, int8: Boolean = false,
      analyzer: Option[String] = None, positions: Boolean = true): Index.Def =
    Index.create(this, name, ix, kind, column, k, int8, analyzer, positions)

  /** The ivf kind's trained centroid count — the `USING ivf <k>` DDL
    * knob, read back for replay-exact SHOW CREATE. */
  def ivfK(name: String, ix: String): Int =
    Index.centroids(this, name, ix).size

  /** The frozen SQ8 code book of an int8 ivf index (per-dimension
    * min/max) — bounded driver metadata, like the centroid set. */
  def sqBounds(name: String, ix: String): (IndexedSeq[Float], IndexedSeq[Float]) =
    Index.sqBounds(this, name, ix)

  def dropIndex(name: String, ix: String): Unit = Index.drop(this, name, ix)

  /** Re-derive an index from the current data; ivf retrains its centroid
    * set with Lloyd first ([[Index.rebuild]] — the post-drift recovery). */
  def rebuildIndex(name: String, ix: String): Index.Def = Index.rebuild(this, name, ix)

  def indexDefs(name: String): Seq[Index.Def] = Index.defsOf(this, name)

  def readIndex(name: String, ix: String): DataFrame = {
    val d = indexDefs(name).find(_.ix == ix)
      .getOrElse(sys.error(s"No index '$ix' on '$name'"))
    Index.read(this, name, d)
  }

  /** Candidate lookup for `queries` (rows shaped like the container):
    * near-dup candidates from an lsh/simhash band index, ANN candidates
    * from an ivf index — see [[Index.lshLookup]] / [[Index.simhashLookup]]
    * / [[Index.ivfLookup]]. */
  def indexLookup(name: String, ix: String, queries: DataFrame,
      at: Option[Int] = None, nprobe: Int = 1,
      selfExclude: Boolean = true): DataFrame = {
    val d = indexDefs(name).find(_.ix == ix)
      .getOrElse(sys.error(s"No index '$ix' on '$name'"))
    require(nprobe == 1 || d.kind == "ivf",
      s"nprobe applies to ivf indexes only; '$ix' is a ${d.kind} index")
    d.kind match {
      case "lsh" => Index.lshLookup(this, name, d, queries, at, selfExclude)
      case "simhash" => Index.simhashLookup(this, name, d, queries, at, selfExclude)
      case "ivf" => Index.ivfLookup(this, name, d, queries, nprobe, at = at,
        selfExclude = selfExclude)
      case "text" => sys.error(
        s"index '$ix' is a text index — search it with textSearch(terms)")
      case other => sys.error(s"unknown index kind '$other'")
    }
  }

  /** ANN candidates for a literal query vector (not a corpus row) from
    * an `ivf` index — see [[Index.ivfLookupVector]]. */
  def indexLookupVector(name: String, ix: String, vec: Seq[Float],
      nprobe: Int = 1, at: Option[Int] = None): DataFrame = {
    val d = indexDefs(name).find(_.ix == ix)
      .getOrElse(sys.error(s"No index '$ix' on '$name'"))
    require(d.kind == "ivf",
      s"index '$ix' is a ${d.kind} index — literal-vector probes serve " +
        "from an ivf index (lsh/simhash band text, not vectors)")
    Index.ivfLookupVector(this, name, d, vec, nprobe, at)
  }

  /** Driver-side full cell ordering for a literal query vector — see
    * [[Index.ivfCellsRankedVector]] (no job at all). */
  def ivfProbeCellsVector(name: String, ix: String, vec: Seq[Float]): Seq[Int] = {
    val d = indexDefs(name).find(_.ix == ix)
      .getOrElse(sys.error(s"No index '$ix' on '$name'"))
    Index.ivfCellsRankedVector(this, name, d, vec)
  }

  /** Raw (cand, cand_emb) list rows for an explicit literal cell set —
    * see [[Index.ivfCellCandidates]] (the incremental-widening unit). */
  def ivfCellCandidates(name: String, ix: String, cells: Seq[Int],
      excludeId: Option[Any] = None, at: Option[Int] = None): DataFrame = {
    val d = indexDefs(name).find(_.ix == ix)
      .getOrElse(sys.error(s"No index '$ix' on '$name'"))
    Index.ivfCellCandidates(this, name, d, cells, excludeId, at)
  }

  /** BM25 top-k over a `text` index — see [[Index.textLookup]]. */
  def textSearch(name: String, ix: String, terms: Seq[String],
      k: Int = 20, at: Option[Int] = None): DataFrame = {
    val d = indexDefs(name).find(_.ix == ix)
      .getOrElse(sys.error(s"No index '$ix' on '$name'"))
    Index.textLookup(this, name, d, terms, k, at)
  }

  def drop(name: String): Unit = {
    require(exists(name), s"Unknown container '$name'")
    indexDefs(name).foreach(d => Files.deleteIfExists(Index.metaFile(this, name, d.ix)))
    Files.deleteIfExists(droppedFile(name))
    Files.deleteIfExists(statsFile(name))
    Files.deleteIfExists(clusterFile(name))
    // a recreated container starts a NEW version history — stale
    // registered checkpoints must not floor its vacuum (the tail itself
    // detects the restart via the pointer-below-checkpoint guard)
    deleteRecursively(tailsDir(name))
    Files.delete(schemaFile(name))
    if (Files.exists(versionFile(name))) Files.delete(versionFile(name))
    versions(name).foreach { v =>
      deleteRecursively(versionPath(name, v))
      Files.deleteIfExists(claimFile(name, v))
    }
    Files.deleteIfExists(catDir.resolve(s"$name.version.lock"))
    deleteRecursively(dataPath(name))
  }

  // ---- versioned storage (Delta-style copy-on-write) ----------------------
  // Each commit writes a new immutable `data/<name>@v<N>` directory and
  // atomically flips a version-pointer file. Readers resolve the pointer,
  // so a commit is never observed half-written and old versions stay
  // readable (time travel) until vacuumed. At warehouse scale the pointer
  // flip is the metastore/Delta-log commit.

  private def versionFile(name: String) = catDir.resolve(s"$name.version")

  /** Latest committed version (0 = never committed). */
  def currentVersion(name: String): Int =
    if (Files.exists(versionFile(name))) Files.readString(versionFile(name)).trim.toInt
    else 0

  def versions(name: String): Seq[Int] = {
    // version dirs are "<name>@v<N>" — '@' is rejected in container names
    // (create() regex), so no container name can collide with another's
    // version directories
    val pat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(name) + "@v(\\d+)")
    scala.util.Using.resource(Files.list(dataDir)) { stream =>
      stream.iterator().asScala.map(_.getFileName.toString)
        .flatMap { f =>
          val m = pat.matcher(f)
          if (m.matches()) Some(m.group(1).toInt) else None
        }.toSeq.sorted
    }
  }

  private[catalog] def versionPath(name: String, v: Int) = dataDir.resolve(s"$name@v$v")

  /** Committed rows at the latest version (empty if never committed;
    * `dataPath` kept as a legacy/external-data location — used by tests
    * that mount fixture parquet as a container).
    */
  def read(name: String): DataFrame = {
    val d = get(name)
    val v = currentVersion(name)
    val path =
      if (v > 0) versionPath(name, v)
      else dataPath(name) // unversioned/external data, if any
    if (Files.exists(path))
      toLogical(d, spark.read.schema(d.storedSchema).parquet(path.toString))
    else
      spark.createDataFrame(new java.util.ArrayList[Row](), d.schema)
  }

  /** Time travel: committed rows at an explicit version. */
  def readVersion(name: String, v: Int): DataFrame = {
    val d = get(name)
    require(Files.exists(versionPath(name, v)),
      s"Version $v of '$name' does not exist (have: ${versions(name).mkString(",")})")
    toLogical(d,
      spark.read.schema(d.storedSchema).parquet(versionPath(name, v).toString))
  }

  /** Change-data feed between two committed versions — every row
    * inserted, deleted, or updated (as Delta-CDF-style
    * `update_preimage`/`update_postimage` pairs keyed by the pk
    * convention), tagged in a `_change_type` column appended to the
    * container schema.
    *
    * Computed LAZILY from the copy-on-write file-name delta: a COW commit
    * carries untouched base files as hard links under their ORIGINAL
    * names and writes rewritten/inserted parts under fresh UUID names
    * ([[tryCommitCow]]), so the files whose names differ between the two
    * versions are exactly the files that can contain a changed row. The
    * feed therefore scans only touched data — commit-sized, not
    * table-sized — with no change log written at commit time (the
    * versions ARE the log). Rows rewritten byte-equal (a sibling row in
    * their file changed, or an OPTIMIZE re-clustered the layout) are
    * subtracted out by a multiset EXCEPT ALL before classification, so a
    * pure compaction yields an EMPTY feed.
    *
    * `fromV = 0` (or a never-committed container) reads as an empty
    * snapshot: the feed is then every row of `toV` as an insert.
    * Classification pairs pre/post images through a pk equi-join, so a
    * NULL-pk row that changes reads as delete + insert rather than an
    * update pair (SQL join semantics; the pk convention assumes non-NULL
    * keys). Only COMMITTED versions participate — staged ops are invisible
    * until their commit, like time travel.
    */
  def changes(name: String, fromV: Int, toVOpt: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val d = get(name)
    val toV = toVOpt.getOrElse(currentVersion(name))
    require(fromV >= 0, s"CHANGES $name: fromVersion must be >= 0, got $fromV")
    require(toV >= fromV,
      s"CHANGES $name: toVersion $toV must be >= fromVersion $fromV")
    Seq(fromV, toV).filter(_ > 0).distinct.foreach(v =>
      require(Files.exists(versionPath(name, v)),
        s"Version $v of '$name' does not exist (have: ${versions(name).mkString(",")})"))
    // a never-committed container serving unversioned external data (the
    // legacy dataPath mount) has rows but NO committed history — an empty
    // feed would silently contradict what SEARCH shows, so refuse loudly
    require(toV > 0 || !Files.exists(dataPath(name)),
      s"CHANGES $name: container serves unversioned external data " +
        "(no committed history to diff); commit through the catalog to get a feed")
    def emptySnap = spark.createDataFrame(new java.util.ArrayList[Row](), d.schema)
    val beforeFiles = if (fromV == 0) Nil else versionFiles(name, fromV)
    val afterFiles = if (toV == 0) Nil else versionFiles(name, toV)
    val beforeNames = beforeFiles.map(_.getFileName.toString).toSet
    val afterNames = afterFiles.map(_.getFileName.toString).toSet
    // carried hard links keep their name: same name ⟹ same immutable file
    val removed = beforeFiles.filterNot(f => afterNames(f.getFileName.toString)).map(_.toString)
    val added = afterFiles.filterNot(f => beforeNames(f.getFileName.toString)).map(_.toString)
    val before = if (removed.isEmpty) emptySnap else readFiles(name, removed)
    val after = if (added.isEmpty) emptySnap else readFiles(name, added)
    // Single-pass classification: tag sides ±1, net per full row (the
    // EXCEPT ALL multiset difference, computed once instead of per
    // branch), then pair pre/post images with one pk-window. Each delta
    // file is scanned ONCE and the plan carries exactly two exchanges
    // (row-net groupBy, pk window) — the shape a ChangeTail consumer
    // pays per poll. |net| copies replicate on output so duplicate-row
    // multiset semantics match EXCEPT ALL exactly. A NULL pk never pairs
    // (SQL join semantics, as documented above): its changes read as
    // delete + insert.
    import org.apache.spark.sql.functions.{abs, explode, lit => flit, max, sequence, sum, when}
    import org.apache.spark.sql.expressions.Window
    val pk = d.primaryKey
    val dataCols = d.columns.map(c => col(c._1))
    // marker names carry a nonce: "_net"-style names are legal container
    // columns, and a collision would mis-resolve the classification
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val (netC, posC, negC, copyC) =
      (s"__cdc_net_$nonce", s"__cdc_pos_$nonce", s"__cdc_neg_$nonce", s"__cdc_copy_$nonce")
    val tagged = before.withColumn(netC, flit(-1L))
      .unionByName(after.withColumn(netC, flit(1L)))
    val net = tagged.groupBy(dataCols: _*).agg(sum(netC).as(netC))
      .filter(col(netC) =!= 0)
    val w = Window.partitionBy(col(pk))
    val outCols = (d.columns.map(_._1) :+ "_change_type").map(col)
    net
      .withColumn(posC, max(when(col(netC) > 0, 1).otherwise(0)).over(w))
      .withColumn(negC, max(when(col(netC) < 0, 1).otherwise(0)).over(w))
      .withColumn("_change_type",
        when(col(netC) > 0,
          when(col(pk).isNotNull && col(negC) === 1, "update_postimage")
            .otherwise("insert"))
        .otherwise(
          when(col(pk).isNotNull && col(posC) === 1, "update_preimage")
            .otherwise("delete")))
      .withColumn(copyC, explode(sequence(flit(1L), abs(col(netC)))))
      .select(outCols: _*)
  }

  /** Stored→logical name translation on the read side. Identity (the
    * same scan node, `_metadata` still resolvable) unless a RENAME COLUMN
    * happened. */
  private def toLogical(d: ContainerDef, df: DataFrame): DataFrame =
    if (!d.renamed) df
    else df.withColumnsRenamed(
      d.stored.zip(d.columns.map(_._1)).filter(p => p._1 != p._2).toMap)

  /** Logical→stored translation on the write side: every commit flavor
    * writes parquet under the PINNED stored names, so all files of a
    * container — across renames, versions, and COW-linked history — match
    * one stored schema. Also normalizes column order to the catalog's.
    */
  private[catalog] def toStored(name: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val d = get(name)
    val selected = df.select(d.columns.map(c => col(c._1)): _*)
    if (d.renamed) selected.toDF(d.stored: _*) else selected
  }

  /** Explicit part-file read under logical names (COW rewrite path). */
  private[catalog] def readFiles(name: String, paths: Seq[String]): DataFrame = {
    val d = get(name)
    toLogical(d, spark.read.schema(d.storedSchema).parquet(paths: _*))
  }

  /** [[readFiles]] plus a `__src_file` attribution column (index build). */
  private[catalog] def readFilesTagged(name: String, paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val d = get(name)
    val raw = spark.read.schema(d.storedSchema).parquet(paths: _*)
    toLogical(d, raw.withColumn("__src_file", col("_metadata.file_name")))
  }

  /** Version scan with logical names PLUS a `__src_file` attribution
    * column — for the COW touched-file probe, which needs `_metadata`
    * (resolvable only on the raw scan, before any rename projection).
    */
  private[catalog] def readVersionTagged(name: String, v: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val d = get(name)
    val raw = spark.read.schema(d.storedSchema)
      .parquet(versionPath(name, v).toString)
    toLogical(d, raw.withColumn("__src_file", col("_metadata.file_name")))
  }

  /** Commit `df` as the next version after `expectedBase` — the
    * optimistic-concurrency primitive. The CAS token is a CLAIM FILE
    * (`catalog/<name>.claim-v<N>`) created with the atomic create-new
    * semantics of `Files.createFile`: exactly one committer wins the
    * claim for a given version; everyone else returns `false`, re-reads
    * the new base, re-derives its DataFrame, and retries (`Tx.commit`).
    * The claim is taken BEFORE the data write, so a losing committer
    * fails fast without producing a directory. This replaces the
    * reference's whole-DB write lock (`/root/reference/src/database.rs:
    * 1123`) with lock-free first-claimer-wins semantics — the same shape
    * as a Delta/Iceberg conditional metastore commit at warehouse scale.
    *
    * Returns true iff this call claimed and published `expectedBase+1`.
    */
  def tryCommit(name: String, expectedBase: Int, df: DataFrame): Boolean =
    tryCommitAt(name, expectedBase + 1, df)

  /** Claim and publish an EXPLICIT version slot with a whole-dataframe
    * write. */
  private[catalog] def tryCommitAt(name: String, slot: Int, df: DataFrame): Boolean =
    tryCommitBuild(name, slot)(wholeBuild(name, df))

  private def wholeBuild(name: String, df: DataFrame)(tmp: Path): Unit =
    toStored(name, df).write.mode("overwrite").parquet(tmp.toString)

  /** Prepare-only twin of [[tryCommit]] (atomic multi-container COMMIT). */
  private[catalog] def prepareWhole(name: String, expectedBase: Int,
      df: DataFrame): Option[Path] =
    prepareSlot(name, expectedBase + 1)(wholeBuild(name, df))

  /** File-granular copy-on-write commit: publish `expectedBase+1` as
    * hard links to `kept` (byte-identical files carried over from the
    * base version — a link costs one inode op, no data movement) plus the
    * parquet parts of `rewrite` (the folded touched-files + inserts).
    * Each version directory stays self-contained: links are real
    * directory entries, so time travel, vacuum, and drop are unchanged
    * (deleting an old version only drops its link; the inode survives in
    * every newer version that still references it). At warehouse scale
    * the link step is a manifest entry — the Delta/Iceberg "add file
    * unchanged" commit shape — so commit cost scales with TOUCHED data,
    * not table size.
    */
  private[catalog] def tryCommitCow(name: String, expectedBase: Int,
      kept: Seq[Path], rewrite: Option[DataFrame]): Boolean =
    tryCommitBuild(name, expectedBase + 1)(cowBuild(name, kept, rewrite))

  private def cowBuild(name: String, kept: Seq[Path],
      rewrite: Option[DataFrame])(tmp: Path): Unit = {
    // Spark's write creates `tmp`; link AFTER so overwrite can't drop
    // the links. Rewritten parts carry fresh UUID part names, so they
    // can never collide with a linked base-file name.
    rewrite match {
      case Some(df) => toStored(name, df).write.mode("overwrite").parquet(tmp.toString)
      case None => Files.createDirectories(tmp)
    }
    kept.foreach(f => Files.createLink(tmp.resolve(f.getFileName), f))
  }

  /** Prepare-only twin of [[tryCommitCow]] (atomic multi-container COMMIT). */
  private[catalog] def prepareCow(name: String, expectedBase: Int,
      kept: Seq[Path], rewrite: Option[DataFrame]): Option[Path] =
    prepareSlot(name, expectedBase + 1)(cowBuild(name, kept, rewrite))

  /** The CAS claim/publish shell shared by every commit flavor: claim the
    * slot, let `build` populate a tmp directory, atomically move it into
    * place, advance the pointer. The claim carries the claimant's PID so
    * a contender can distinguish a crashed claimant (escape) from a live
    * slow writer (wait) — see claimIsOrphan.
    */
  private def tryCommitBuild(name: String, slot: Int)(build: Path => Unit): Boolean =
    prepareSlot(name, slot)(build) match {
      case None => false
      case Some(tmp) =>
        try { finishPrepared(name, slot, tmp); true }
        catch {
          case t: Throwable =>
            deleteRecursively(tmp)
            if (!Files.exists(versionPath(name, slot)))
              Files.deleteIfExists(claimFile(name, slot))
            throw t
        }
    }

  /** PREPARE half of the commit: CAS-claim the slot and stage the built
    * version (data + its derived index parts) in a tmp directory, WITHOUT
    * publishing. Returns the staged directory, or None if the claim was
    * lost. Single-container commits finish immediately
    * ([[finishPrepared]]); the atomic multi-container COMMIT prepares
    * every member first and publishes them all behind one manifest rename
    * ([[commitTxn]]).
    */
  private[catalog] def prepareSlot(name: String, slot: Int)(build: Path => Unit): Option[Path] = {
    if (Files.exists(versionPath(name, slot))) return None // already published
    // atomic CAS: one winner
    try Files.write(claimFile(name, slot),
      ProcessHandle.current.pid.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch { case _: java.nio.file.FileAlreadyExistsException => return None }
    val tmp = dataDir.resolve(
      s"$name.tmp-${ProcessHandle.current.pid}-${System.nanoTime()}")
    // if the data write fails (transient Spark error, disk full), release
    // the claim before rethrowing — otherwise the claim's live PID makes
    // every contender (including this one on retry) wait on a slot that
    // will never publish
    try {
      build(tmp)
      // commit-time index maintenance (reference container.rs:277-282
      // fires its index hook per committed row): derived indexes build
      // into the SAME tmp directory, so data and index publish in one
      // atomic rename. No-op for unindexed containers.
      Index.buildInto(this, name, slot, tmp)
      Some(tmp)
    } catch {
      case t: Throwable =>
        deleteRecursively(tmp)
        if (!Files.exists(versionPath(name, slot)))
          Files.deleteIfExists(claimFile(name, slot))
        throw t
    }
  }

  /** PUBLISH half: atomically move the staged directory into place and
    * flip the pointer. Idempotent — a re-run after a partial apply (crash
    * recovery) skips the move when the version already exists and the
    * pointer flip is monotone-guarded.
    */
  private[catalog] def finishPrepared(name: String, slot: Int, tmp: Path): Unit = {
    if (!Files.exists(versionPath(name, slot)) && Files.exists(tmp))
      try Files.move(tmp, versionPath(name, slot), StandardCopyOption.ATOMIC_MOVE)
      catch {
        // two sessions recovering the same decided transaction race on
        // the move; the loser's failure is benign iff the version landed
        case e: java.nio.file.FileSystemException
            if Files.exists(versionPath(name, slot)) => ()
      }
    advancePointer(name, slot)
  }

  /** Abandon a prepared-but-undecided slot: drop the staged directory and
    * release OUR claim (the pid in the claim file is this process's —
    * deleting it is safe without the orphan check).
    */
  private[catalog] def abortPrepared(name: String, slot: Int, tmp: Path): Unit = {
    deleteRecursively(tmp)
    if (!Files.exists(versionPath(name, slot)))
      Files.deleteIfExists(claimFile(name, slot))
  }

  /** The COMMIT POINT of an atomic multi-container transaction: one
    * manifest rename decides every member at once. Before the rename no
    * member is visible (a crash leaves orphan claims + tmp dirs, both
    * GC'd); after it the transaction is DECIDED and [[recoverTxns]] can
    * roll it forward from any session even if this process dies
    * mid-apply. The manifest lists `container TAB slot TAB tmpDirName`
    * with the committer's pid on the first line.
    */
  /** Fault-injection seam for crash-recovery specs: runs immediately
    * after the manifest rename (the commit point), before any member
    * applies. Production no-op — specs throw here to construct a
    * decided-but-unapplied transaction deterministically.
    */
  private[catalog] var afterDecide: () => Unit = () => ()

  private[catalog] def commitTxn(entries: Seq[(String, Int, Path)]): Unit = {
    val id = s"${ProcessHandle.current.pid}-${System.nanoTime()}"
    val body = (ProcessHandle.current.pid.toString +: entries.map { case (n, s, tmp) =>
      s"$n\t$s\t${tmp.getFileName}" }).mkString("\n")
    val staging = catDir.resolve(s"txn-$id.writing")
    val decided = catDir.resolve(s"txn-$id.txn")
    // a failure BEFORE the rename leaves the transaction undecided — the
    // caller must release its live-pid claims (no contender can: the
    // orphan escape only frees dead pids), so it is signalled distinctly
    try {
      Files.writeString(staging, body)
      Files.move(staging, decided, StandardCopyOption.ATOMIC_MOVE) // commit point
    } catch {
      case t: Throwable =>
        // the cleanup itself can fail on the same faulty disk — it must
        // never replace the undecided signal with a raw throwable (the
        // group-commit catch would misread that as PAST the commit point
        // and clear the staged log of a transaction that never decided)
        try Files.deleteIfExists(staging)
        catch { case scala.util.control.NonFatal(c) => t.addSuppressed(c) }
        throw new Catalog.TxnUndecidedException(t)
    }
    // failures PAST the commit point leave the manifest in place: the
    // transaction is decided, recovery applies it (claims stay held)
    afterDecide()
    entries.foreach { case (n, s, tmp) => finishPrepared(n, s, tmp) }
    Files.deleteIfExists(decided)
  }

  /** Crash recovery for decided transactions: every `txn-*.txn` manifest
    * whose committer is provably dead (or IS this process — our own
    * manifest can only still exist if a previous apply attempt threw) is
    * rolled FORWARD: stage dirs move into place, pointers flip, manifest
    * deleted. Idempotent per entry; a live foreign committer's manifest
    * is left untouched (it is mid-apply — same waiting contract as a
    * live claim). Contenders call this before releasing orphan claims so
    * a decided member's claim is never stolen out from under its
    * transaction.
    */
  /** Decided-transaction manifests, parsed: (file, committer pid,
    * (container, slot, tmpDirName) entries). Shared by [[recoverTxns]]
    * and the [[releaseOrphanClaim]] guard so the two can never drift on
    * the manifest format. Unreadable/empty files parse to no entries.
    */
  private def parsedManifests(): Seq[(Path, Option[Long], Seq[(String, Int, String)])] = {
    val manifests = scala.util.Using.resource(Files.list(catDir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.matches("txn-.*\\.txn")).toSeq
    }
    manifests.map { mf =>
      val lines =
        try Files.readAllLines(mf).asScala.toList
        catch { case scala.util.control.NonFatal(_) => Nil }
      val (pid, entries) = parseManifestBody(lines)
      (mf, pid, entries)
    }
  }

  /** Manifest content → (committer pid, entries). Shared by
    * [[parsedManifests]] and the corrupt-manifest re-check so the two
    * can never drift on the format. */
  private def parseManifestBody(lines: List[String])
      : (Option[Long], Seq[(String, Int, String)]) = lines match {
    case pidLine :: entries =>
      (pidLine.trim.toLongOption, entries.flatMap(_.split("\t") match {
        case Array(n, s, tmpName) => s.toIntOption.map(slot => (n, slot, tmpName))
        case _ => None
      }))
    case Nil => (None, Nil)
  }

  /** True iff `pid` is this process or provably dead (Optional-empty =
    * no such process). */
  private def pidRecoverable(pid: Option[Long]): Boolean =
    pid.exists { p =>
      p == ProcessHandle.current.pid ||
        ProcessHandle.of(p).map[java.lang.Boolean](h => !h.isAlive)
          .orElse(java.lang.Boolean.TRUE).booleanValue
    }

  private[catalog] def recoverTxns(): Unit =
    parsedManifests().foreach { case (mf, pid, entries) =>
      if (pid.isEmpty || entries.isEmpty) {
        // the manifest rename is atomic (commitTxn stages then moves), so
        // a `.txn` file is always COMPLETE — an unparsable pid line or
        // zero parseable entries can only be corruption, never a
        // mid-write. Left in place it wedges forever: pidRecoverable
        // never turns true, yet slotDecided would keep counting any
        // parseable entries, blocking orphan-claim release at those
        // slots until every commit exhausts its retries. A TRANSIENT
        // read failure must not GC a good manifest, so re-read AND
        // re-parse: only a file that reads fine yet STILL parses to
        // garbage is corrupt (a bare re-read would delete a good
        // manifest whose first read failed transiently).
        val stillBad =
          try {
            val (p2, e2) = parseManifestBody(Files.readAllLines(mf).asScala.toList)
            p2.isEmpty || e2.isEmpty
          } catch { case scala.util.control.NonFatal(_) => false }
        if (stillBad) Files.deleteIfExists(mf)
      } else if (pidRecoverable(pid)) {
        entries.foreach { case (n, slot, tmpName) =>
          val tmp = dataDir.resolve(tmpName)
          // missing-both can only mean this entry already applied and
          // was vacuumed — never skip the pointer flip for a version
          // that exists
          if (Files.exists(versionPath(n, slot)) || Files.exists(tmp))
            finishPrepared(n, slot, tmp)
        }
        Files.deleteIfExists(mf)
      }
    }

  /** Part-file count of a published version (observability: SHOW VERSIONS,
    * fragmentation monitoring for OPTIMIZE scheduling). */
  def versionFileCount(name: String, v: Int): Int = versionFiles(name, v).size

  /** Parquet part files of a published version (the COW link candidates). */
  private[catalog] def versionFiles(name: String, v: Int): Seq[Path] =
    scala.util.Using.resource(Files.list(versionPath(name, v))) { stream =>
      stream.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)
    }

  /** First slot strictly above every published version and every
    * outstanding claim — where `overwrite` (no read-modify-write to
    * protect) claims past stale state. */
  private[catalog] def nextFreeSlot(name: String): Int = latestClaimed(name) + 1

  /** Release the claim on `slot` iff it provably belongs to a dead
    * process, so the normal `tryCommit` CAS at the base below it can
    * proceed — the CREATE_NEW create race then picks exactly one new
    * winner for the slot. Deleting concurrently with a fresh claimant
    * would drop a LIVE claim, so the check-and-delete runs under the
    * per-container lock: claims are born via CREATE_NEW (file must not
    * exist) and die only here (lock-serialized), so a claim observed dead
    * inside the critical section cannot be replaced by a live one before
    * the delete. Returns true iff a claim was released.
    */
  private[catalog] def releaseOrphanClaim(name: String, slot: Int): Boolean =
    withContainerLock(name) {
      // a DECIDED transaction's member claim belongs to the transaction:
      // its staged version must land in this slot (recoverTxns), so the
      // orphan-release race may never hand the slot to a contender.
      // ORDER MATTERS: observe pid death FIRST. The manifest rename
      // happens-before the committer's death, so a manifest scan
      // performed AFTER the death observation is authoritative — no new
      // manifest from that pid can appear. The reverse order could read
      // "no manifest", watch the committer rename-then-die, and steal a
      // decided transaction member's slot.
      claimIsOrphan(name, slot) && !slotDecided(name, slot) &&
        Files.deleteIfExists(claimFile(name, slot))
    }

  /** True iff a decided transaction manifest references (name, slot). */
  private def slotDecided(name: String, slot: Int): Boolean =
    parsedManifests().exists(_._3.exists { case (n, s, _) =>
      n == name && s == slot
    })

  /** True iff the claim on `slot` belongs to a PROVABLY DEAD process:
    * claim present, nothing published, and the recorded pid no longer
    * exists on this host. A missing/unreadable pid reads as alive
    * (conservative — the claimant may be mid-create), and a live slow
    * writer is never treated as an orphan, so escaping on this predicate
    * can never drop a commit that would later publish. (The catalog is
    * filesystem-local by design — same-host pid liveness is the right
    * oracle; a multi-host deployment replaces this layer with a
    * metastore/Delta-log conditional commit outright.)
    */
  private[catalog] def claimIsOrphan(name: String, slot: Int): Boolean = {
    val f = claimFile(name, slot)
    if (!Files.exists(f) || Files.exists(versionPath(name, slot))) return false
    val pid = try Files.readString(f).trim.toLong
    catch { case _: Exception => return false } // mid-create or unreadable: alive
    val h = ProcessHandle.of(pid)
    !h.isPresent || !h.get.isAlive
  }

  /** Crash recovery: a committer that died BETWEEN its atomic directory
    * move and the pointer flip leaves a complete, immutable version above
    * the pointer — publish-complete but not yet visible. Contenders would
    * otherwise wedge: their base+1 CAS fails forever (the dir exists) and
    * `claimIsOrphan` reads the slot as published. Adopting = finishing
    * the dead writer's commit by flipping the pointer to the newest
    * published version (the move was the commit point; the flip is only
    * visibility). Safe against a LIVE writer in the same window — its own
    * `advancePointer` just no-ops afterwards; the monotone guard keeps
    * the flip race-free.
    */
  private[catalog] def adoptPublished(name: String): Unit =
    versions(name).lastOption.filter(_ > currentVersion(name))
      .foreach(v => advancePointer(name, v))

  private def claimFile(name: String, v: Int) = catDir.resolve(s"$name.claim-v$v")

  /** Every slot with an outstanding claim file. */
  private def claimedSlots(name: String): Seq[Int] = {
    val pat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(name) + "\\.claim-v(\\d+)")
    scala.util.Using.resource(Files.list(catDir)) { stream =>
      stream.iterator().asScala.map(_.getFileName.toString).flatMap { f =>
        val m = pat.matcher(f)
        if (m.matches()) Some(m.group(1).toInt) else None
      }.toSeq
    }
  }

  /** Highest version either published (directory) or claimed (a committer
    * that crashed between claim and publish leaves a claim file with no
    * directory — new commits must skip past it, not wedge on the gap). */
  private def latestClaimed(name: String): Int =
    math.max(
      math.max(claimedSlots(name).maxOption.getOrElse(0), currentVersion(name)),
      versions(name).lastOption.getOrElse(0))

  /** Bulk APPEND: commit `df`'s rows as new parquet parts of the next
    * version, carrying every base file as a hard link — the insert-only
    * COW commit taken directly from a DataFrame, with no driver-side row
    * materialization (the scalable ingest twin of `Tx.stageInsert`, whose
    * Seq[Row] staging is statement-level by design). Runs the same CAS
    * claim/retry as any commit, so concurrent appends serialize with all
    * batches surviving; derived indexes update inside the same atomic
    * publish via the tryCommitBuild hook. This is the micro-batch landing
    * path for streaming ingest (`DocumentStreams.ingestToCatalog`).
    * Returns the published version.
    */
  def append(name: String, df: DataFrame): Int = {
    import org.apache.spark.sql.functions.col
    val pk = get(name).primaryKey
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 50, s"APPEND $name: lost the version race 50 times")
      if (attempts > 1) Thread.sleep(math.min(100L * attempts, 2000L))
      val base = currentVersion(name)
      val sorted = df.sortWithinPartitions(col(pk))
      val ok =
        if (base == 0) tryCommit(name, 0, sorted)
        else tryCommitCow(name, base, versionFiles(name, base), Some(sorted))
      if (ok) {
        // post-append maintenance hook (the streaming twin of Tx.onCommit
        // — micro-batch ingest must reach dependent views too); failures
        // never fail the durable append
        try onAppend(name, base + 1)
        catch { case scala.util.control.NonFatal(_) => () }
        return base + 1
      }
      // a dead committer's claim or an unflipped published version would
      // wedge the retry loop on the same base — same escape as Tx.commit
      releaseOrphanClaim(name, base + 1)
      adoptPublished(name)
    }
    -1 // unreachable
  }

  /** Post-[[append]] hook `(container, publishedVersion)` — the engine
    * wires incremental-view auto-refresh through this when
    * `refresh_views_after_commit` is set, so STREAMED ingest
    * (`DocumentStreams.ingestToCatalog` lands through append, not Tx)
    * maintains views exactly like statement commits. */
  @volatile var onAppend: (String, Int) => Unit = (_, _) => ()

  /** Commit `df` as the next version unconditionally (last-writer-wins) —
    * for whole-container replacement where there is no read-modify-write
    * to protect. Claims the next free slot above the pointer and any
    * outstanding claim.
    */
  def overwrite(name: String, df: DataFrame): Unit =
    overwriteStamped(name, df, None)

  /** [[overwrite]] with an optional idempotency stamp: `stamp =
    * (key, value)` is written as a `_graft_txn` marker file INTO the
    * staged version directory, so it publishes atomically with the
    * content (readers ignore underscore files, like `_SUCCESS`). This is
    * the Delta `txnAppId`/`txnVersion` idiom: a CDC consumer that folds a
    * window and commits the result stamped with the window's end version
    * can detect, after a crash between its commit and its checkpoint
    * write, that the window is already applied — upgrading at-least-once
    * replay to exactly-once ([[IncrementalView.refreshOnce]]).
    */
  def overwriteStamped(name: String, df: DataFrame,
      stamp: Option[(String, String)]): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 100, s"overwrite('$name'): 100 failed claim attempts")
      // a failed claim means another committer holds the slot; its publish
      // is what frees the next one, so back off instead of busy-spinning
      if (attempts > 1) Thread.sleep(math.min(20L * attempts, 500L))
      done = tryCommitBuild(name, latestClaimed(name) + 1) { tmp =>
        wholeBuild(name, df)(tmp)
        stamp.foreach { case (k, v) =>
          Files.writeString(tmp.resolve(Catalog.TxnMarker), s"$k\t$v") }
      }
    }
  }

  /** The stamp of a published version (None if the version has no marker
    * or doesn't exist). */
  def versionStamp(name: String, v: Int): Option[(String, String)] = {
    val f = versionPath(name, v).resolve(Catalog.TxnMarker)
    if (!Files.exists(f)) None
    else Files.readString(f).split("\t", 2) match {
      case Array(k, value) => Some((k, value))
      case _ => None
    }
  }

  /** Monotone pointer advance: the flip is guarded by a per-container lock
    * (in-JVM striped monitor + cross-JVM `FileChannel` lock) and re-checks
    * the pointer inside the critical section, so two committers that
    * claimed v1 and v2 concurrently can never publish them out of order —
    * the pointer only moves forward.
    */
  private def advancePointer(name: String, next: Int): Unit =
    withContainerLock(name) {
      if (currentVersion(name) < next) {
        val ptrTmp = catDir.resolve(
          s"$name.version.tmp-${ProcessHandle.current.pid}-${System.nanoTime()}")
        Files.writeString(ptrTmp, next.toString)
        Files.move(ptrTmp, versionFile(name), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
    }

  /** Per-container critical section: in-JVM striped monitor (FileChannel
    * locks are per-process) wrapping a cross-JVM `FileChannel` lock.
    * Guards the pointer flip and orphan-claim release.
    */
  private def withContainerLock[A](name: String)(body: => A): A = {
    val lockPath = catDir.resolve(s"$name.version.lock")
    Catalog.ptrLocks.computeIfAbsent(lockPath.toAbsolutePath.toString,
        _ => new Object).synchronized {
      scala.util.Using.resource(java.nio.channels.FileChannel.open(lockPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)) { ch =>
        val lk = ch.lock()
        try body finally lk.release()
      }
    }
  }

  /** Compact the current version into a pk-range-clustered layout with
    * few files — the maintenance flip side of file-granular COW commits
    * (every small commit appends a small parquet part; hundreds of
    * commits fragment the container). Published as a NEW version through
    * the normal CAS path, so readers never block, time travel keeps the
    * fragmented history until vacuum, and a concurrent commit simply
    * wins or loses the slot race as usual. Range clustering on the pk
    * restores tight per-file min/max, so point/range scans skip files
    * again (the same layout contract as `Tables.compacted` for fixtures;
    * Delta OPTIMIZE / Iceberg rewrite at warehouse scale). Default file
    * count derives from plan-stats bytes at 128 MiB per file.
    * Returns (files before, files after, published version) — the
    * published version lets CDC consumers skip the content-neutral
    * compaction window instead of diffing a full rewrite that nets zero.
    */
  /** Z-order clustering value for `cols` (2–4 numeric columns): each
    * column rank-normalizes to an 8-bit bucket id via approx-quantile
    * boundaries (one driver-side boundary array per column — bounded
    * metadata, the Delta OPTIMIZE ZORDER shape), and the bucket ids'
    * bits interleave into one integer whose range order is the Z-curve.
    * Files clustered on it carry tight per-file min/max on EVERY z
    * column, so predicates on any of them skip files — multi-dimension
    * data skipping without a secondary index. The bucket lookup is
    * `aggregate` over a literal boundary array (codegen'd, no UDF);
    * quantile buckets keep skewed distributions balanced where linear
    * min/max scaling would collapse.
    */
  private[catalog] def zOrderValue(df: DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val bits = 8
    val buckets = 1 << bits
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val numericCols = cols.filter(c =>
      df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val numBounds = if (numericCols.isEmpty) Map.empty[String, Array[Double]]
      else numericCols.zip(
        df.stat.approxQuantile(numericCols.toArray, probs, 0.01)).toMap
    val bucketCols = cols.map { c =>
      // A low-cardinality dimension yields few distinct boundaries, so raw
      // ranks cluster in the LOW bits and the interleave hands the curve
      // to the other columns (their high bits dominate every file range).
      // Scaling the rank to spread over the full bucket range moves its
      // information into the high bits, so a 16-value lang column weighs
      // the same in the curve as a 256-bucket numeric one.
      def spread(rank: org.apache.spark.sql.Column, levels: Int) =
        least(rank * lit(math.max(1, buckets / math.max(1, levels))),
          lit(buckets - 1))
      if (numBounds.contains(c)) {
        // duplicate quantiles (heavy values) collapse to one boundary
        val bs = numBounds(c).distinct.sorted
        val arr = array(bs.map(lit(_)).toSeq: _*)
        val rank = aggregate(arr, lit(0), (acc, b) =>
          acc + when(col(c).cast("double") >= b, 1).otherwise(0))
        when(col(c).isNull, 0).otherwise(spread(rank, bs.length + 1))
      } else {
        // TEXT dimension: rank-bucket via a frequency-weighted sampled
        // boundary array (the RangePartitioner recipe — heavy values
        // recur in the sample, so evenly spaced picks balance ROWS per
        // bucket). Order-preserving by construction, so per-file min/max
        // on the string column stays a contiguous slice and equality /
        // range predicates on it skip files exactly like the numeric
        // dimensions. Bounded driver metadata: ≤64k sampled values
        // reduced to ≤255 boundary strings.
        val n = df.select(col(c)).na.drop().count()
        val frac = if (n <= 65536L) 1.0 else 65536.0 / n
        // boundaries must be monotone under SPARK's string ordering
        // (UTF8String = UTF-8 byte order), not the JVM's UTF-16
        // code-unit order — they differ for supplementary-plane
        // characters, and a non-monotone boundary array breaks the rank
        // bucketing's order preservation
        val utf8Order: Ordering[String] = (a: String, b: String) =>
          java.util.Arrays.compareUnsigned(
            a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val sampled = df.select(col(c).cast("string").as("v")).na.drop()
          .sample(withReplacement = false, frac, seed = 7L)
          .collect().map(_.getString(0)).sorted(utf8Order)
        val bs =
          if (sampled.isEmpty) Array.empty[String]
          else (1 until buckets).map(i =>
            sampled(((i.toLong * sampled.length) / buckets).toInt
              .min(sampled.length - 1))).distinct.toArray
        if (bs.isEmpty) lit(0)
        else {
          val arr = array(bs.map(lit(_)).toSeq: _*)
          val rank = aggregate(arr, lit(0), (acc, b) =>
            acc + when(col(c).cast("string") >= b, 1).otherwise(0))
          when(col(c).isNull, 0).otherwise(spread(rank, bs.length + 1))
        }
      }
    }
    val k = cols.length
    val terms = for {
      i <- 0 until bits
      (bc, j) <- bucketCols.zipWithIndex
    // interleave in LONG: with 4 columns the top bit lands at position
    // i*k+j = 31, which would flip the sign of an IntegerType z-value and
    // sort that column's upper buckets before all others
    } yield shiftleft(shiftright(bc.cast("long"), i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_ + _)
  }

  /** The container's persisted clustering policy (the columns of the
    * last explicit `OPTIMIZE … USING`): plain OPTIMIZE — including the
    * auto-OPTIMIZE commit hook — re-applies it, so maintenance
    * compaction never silently reverts a z-ordered layout to pk
    * clustering (the Delta `CLUSTER BY` table-property shape).
    * Invalidated by schema ALTERs (the columns may be gone), removed
    * with the container.
    */
  private[catalog] def clusterFile(name: String): Path =
    catDir.resolve(s"$name.cluster")

  private def clusterPolicy(name: String): Seq[String] =
    if (!Files.exists(clusterFile(name))) Nil
    else Files.readString(clusterFile(name)).split("\t").toSeq.filter(_.nonEmpty)

  /** OPTIMIZE: rewrite a merge set of the current version's data files
    * with the container's clustering (pk range, or the persisted `USING`
    * policy) and publish it copy-on-write ([[tryCommitCow]]): every other
    * file is hard-linked, so commit-time index maintenance carries the
    * settled files' `src=` index parts by name and recomputes only the
    * merged ones.
    *
    * Explicit `OPTIMIZE c [n] [USING …]` merges every file (which also
    * reclaims the bytes of dropped columns). The auto-OPTIMIZE commit
    * hook passes `smallTierOnly`: the merge set is then
    * [[Catalog.smallTier]], and a set of fewer than 2 files publishes
    * nothing — so a point commit never rewrites the settled large files.
    *
    * Returns (files before, files after, the published version), the
    * version None when nothing was merged.
    */
  def optimize(name: String, targetFiles: Option[Int] = None,
      zorderBy: Seq[String] = Nil,
      smallTierOnly: Boolean = false): (Int, Int, Option[Int]) = {
    import org.apache.spark.sql.functions.col
    targetFiles.foreach(t =>
      require(t >= 1, s"OPTIMIZE $name: target file count must be >= 1, got $t"))
    val pk = get(name).primaryKey
    // resolve + validate cluster columns: numeric, known, 1–4, distinct
    // (1 column = plain range clustering on it; 2–4 = z-order)
    def resolveClusterCols(cols: Seq[String]): Seq[String] = {
      val resolved = cols.map { c =>
        val (n, t) = get(name).columns.find(_._1.equalsIgnoreCase(c))
          .getOrElse(throw new IllegalArgumentException(
            s"OPTIMIZE $name USING: unknown column '$c'"))
        // numeric → quantile buckets; TEXT family → sampled rank buckets
        // (both order-preserving); BOOL/BYTES have no useful ordered
        // domain to bucket
        require(t.isNumeric ||
            t.spark == org.apache.spark.sql.types.StringType,
          s"OPTIMIZE $name USING: column '$n' ($t) is not numeric or text — " +
            "z-order buckets need an ordered domain")
        n
      }
      require(resolved.size <= 4,
        s"OPTIMIZE $name USING takes 1 to 4 columns, got ${resolved.size}")
      require(resolved.distinct.size == resolved.size,
        s"OPTIMIZE $name USING: duplicate columns in ${resolved.mkString(",")}")
      resolved
    }
    // no explicit USING → follow the persisted clustering policy, but
    // LENIENTLY: a policy write can race the writeSchema invalidation,
    // so a stale policy naming a vanished column falls back to pk
    // clustering (and the stale file is dropped) — a throw here would
    // silently disable the auto-OPTIMIZE hook (which swallows failures)
    // and let the container fragment forever
    val zcols =
      if (zorderBy.nonEmpty) resolveClusterCols(zorderBy)
      else try resolveClusterCols(clusterPolicy(name))
      catch {
        case _: IllegalArgumentException =>
          Files.deleteIfExists(clusterFile(name)); Nil
      }
    // CAS like any commit — NOT overwrite(): optimize rewrites content it
    // has already read, so publishing above a concurrently-committed
    // version would silently drop that commit's rows. Losing the claim
    // re-reads the new base and re-selects its merge set.
    var attempts = 0
    var done = false
    var before = 0
    var published = 0
    var stuckAt = -1
    while (!done) {
      attempts += 1
      require(attempts <= 50, s"OPTIMIZE $name: lost the version race 50 times")
      if (attempts > 1) Thread.sleep(math.min(100L * attempts, 2000L))
      val base = currentVersion(name)
      // same orphan escape as Tx.commit: a dead committer's claim at
      // base+1 (nothing published) would otherwise wedge every retry on
      // the same base; a published-but-unflipped version above the
      // pointer is adopted so the next iteration rebases on it
      if (base == stuckAt) {
        releaseOrphanClaim(name, base + 1)
        adoptPublished(name)
      }
      stuckAt = base
      val files = if (base > 0) versionFiles(name, base) else Nil
      before = files.size
      val merge =
        if (smallTierOnly) Catalog.smallTier(files.map(f => f -> Files.size(f)))
        else files
      if (smallTierOnly && merge.lengthCompare(2) < 0) return (before, before, None)
      val kept = files.filterNot(merge.toSet)
      val df =
        if (kept.nonEmpty) readFiles(name, merge.map(_.toString))
        else if (base > 0) readVersion(name, base)
        else read(name) // never committed: the legacy external dataPath
      val n = targetFiles.getOrElse {
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        (bytes / (128L << 20)).toInt.max(1)
      }
      val clustered = zcols match {
        case Nil =>
          df.repartitionByRange(n, col(pk)).sortWithinPartitions(pk)
        case Seq(one) => // single column: plain range clustering on it
          df.repartitionByRange(n, col(one)).sortWithinPartitions(one)
        case many =>
          // cluster on the interleaved z value, then drop it — the
          // projection after the sort is narrow, so partitioning and
          // intra-partition order survive into the write
          // case-INSENSITIVE collision check: Spark's withColumn/drop
          // resolve case-insensitively, so a user column `__Z` would be
          // silently replaced and dropped by a case-sensitive guard
          val zc = Iterator.iterate("__z")(_ + "_")
            .dropWhile(n => df.columns.exists(_.equalsIgnoreCase(n))).next()
          df.withColumn(zc, zOrderValue(df, many))
            .repartitionByRange(n, col(zc)).sortWithinPartitions(zc).drop(zc)
      }
      done = tryCommitCow(name, base, kept, Some(clustered))
      published = base + 1
    }
    // an explicit USING becomes the policy future compactions follow —
    // persisted only AFTER the commit loop publishes, so a failed optimize
    // (build error, 50 lost races, concurrent drop) never leaves a policy
    // the command didn't successfully apply; a racing writeSchema
    // invalidation is still covered by the lenient stale-policy fallback
    // above
    if (zorderBy.nonEmpty) {
      val tmp = catDir.resolve(
        s"$name.cluster.tmp-${ProcessHandle.current.pid}-${System.nanoTime()}")
      try {
        Files.writeString(tmp, zcols.mkString("\t"))
        Files.move(tmp, clusterFile(name), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } catch {
        case t: Throwable =>
          try Files.deleteIfExists(tmp)
          catch { case scala.util.control.NonFatal(c) => t.addSuppressed(c) }
          throw t
      }
    }
    // count THIS call's published version — under a race the pointer may
    // already be on a later (fragmented) commit
    (before, versionFiles(name, published).size, Some(published))
  }

  // ---- registered CDC consumer checkpoints --------------------------------
  // External ChangeTail consumers (streaming ingest feeding another
  // system, a user's foreachBatch loop) can REGISTER with the catalog:
  // their checkpoint then lives in `<cat>/<name>.tails/<consumerId>` and
  // vacuum's retention floor covers their resume point exactly like the
  // engine's own dependent views. Unregistered tails keep the loud-error
  // contract ([[ChangeTail.pollOnce]]): with `vacuum_after_commits`
  // automated, a lagging unregistered consumer loses its window and must
  // re-seed — at warehouse scale a full corpus read, which is why the
  // registry exists. Reference analogue: TytoDB's indexes are maintained
  // inside every commit (`/root/reference/src/container.rs:277-282`) —
  // derived consumers there can never be vacuumed into staleness.

  private[catalog] def tailsDir(name: String): Path = catDir.resolve(s"$name.tails")

  /** Checkpoint path for a named registered consumer — constructing a
    * [[ChangeTail]] on this path IS the registration (see
    * [[ChangeTail.registered]]). Idempotent; seeds an explicit `0`
    * (nothing delivered yet) so the registration is durably listable
    * before the first delivery. */
  def registerTail(name: String, consumerId: String): Path = {
    require(exists(name), s"Unknown container '$name'")
    require(consumerId.nonEmpty && consumerId.forall(ch =>
      ch.isLetterOrDigit || ch == '.' || ch == '_' || ch == '-'),
      s"consumer id '$consumerId' must match [A-Za-z0-9._-]+")
    // ".tmp-" names are how registeredTails spots in-flight reset staging
    // files — a consumer id containing it would be registered but
    // invisible to the retention floor, the exact silent loss the
    // registry exists to prevent
    require(!consumerId.contains(".tmp-"),
      s"consumer id '$consumerId' must not contain '.tmp-' (reserved for staging)")
    Files.createDirectories(tailsDir(name))
    val p = tailsDir(name).resolve(consumerId)
    if (!Files.exists(p)) Files.writeString(p, "0")
    p
  }

  /** Withdraw a consumer from retention protection. The registry file IS
    * a registered tail's checkpoint, so a LIVE [[ChangeTail]] still
    * holding this registration errors loudly on its next poll (its
    * in-memory floor catches the vanished checkpoint — silently replaying
    * history into a sink that already consumed it is the failure the
    * registry exists to prevent); constructing a fresh tail is the
    * explicit re-seed path (full replay as inserts). */
  def unregisterTail(name: String, consumerId: String): Unit =
    Files.deleteIfExists(tailsDir(name).resolve(consumerId))

  /** Registered consumers and their last-delivered versions (None for an
    * unreadable checkpoint — which vacuum treats as keep-everything). */
  def registeredTails(name: String): Map[String, Option[Int]] =
    if (!Files.exists(tailsDir(name))) Map.empty
    else scala.util.Using.resource(Files.list(tailsDir(name))) { st =>
      st.iterator().asScala
        .filterNot(_.getFileName.toString.contains(".tmp-")) // in-flight reset staging
        .map(p => p.getFileName.toString ->
          scala.util.Try(Files.readString(p).trim.toInt).toOption)
        .toMap
    }

  /** Retention floor from the registry: keep back to every registered
    * consumer's resume point. A checkpoint of 0 needs no floor (the
    * from-0 window replays the snapshot, no old version required); an
    * unreadable one floors at keep-everything — the conservative reading
    * of a consumer we can't price. */
  private def registeredTailFloor(name: String, cur: Int): Int =
    registeredTails(name).values.map {
      case Some(v) if v > 0 => cur - v + 1
      case Some(_) => 1
      case None => Int.MaxValue
    }.maxOption.getOrElse(1)

  /** Drop all but the newest `keepLast` versions (and their claim files),
    * plus any stale claim whose slot never published and whose claimant is
    * provably dead — an abandoned claim would otherwise inflate
    * `latestClaimed` forever. Live claims (a slow in-flight commit) are
    * never touched. Retention never drops below any REGISTERED CDC
    * consumer's resume point ([[registerTail]]) — enforced here, inside
    * the same `cur` snapshot as the drop set, so it holds for every
    * caller (auto-vacuum, explicit VACUUM, direct API).
    */
  def vacuum(name: String, keepLast: Int = 1,
      minKeep: Int => Int = _ => 1): Unit = {
    // decided multi-container transactions apply BEFORE the stale-claim
    // sweep: a decided member's claim looks orphaned (dead pid, nothing
    // published) but its staged version must land, not lose its slot
    recoverTxns()
    // a published-but-unflipped version (crash between move and flip)
    // must count as the NEWEST version, not get GC'd while the pointer
    // still references an older one — adopting first also guarantees the
    // pointed version is never in the dropRight window
    adoptPublished(name)
    val cur = currentVersion(name)
    // `minKeep(cur)` is the caller's retention FLOOR (e.g. the engine's
    // dependent-view resume points), evaluated HERE against the same
    // `cur` snapshot the drop set uses. The drop set is the INTERSECTION
    // of the count window (all but the newest `keep` listed versions —
    // the user-facing "keep newest k" contract, sparse histories
    // included) and the ABSOLUTE window `v <= cur - keep`: the versions()
    // listing below is fresh, so a commit racing in can append an entry
    // and shift the count window — but it can't move the `cur` snapshot,
    // and the absolute bound pins every version the floor protects
    // regardless of how many newer entries appear.
    val keep = math.max(keepLast,
      math.max(minKeep(cur), registeredTailFloor(name, cur)))
    versions(name).dropRight(keep)
      .filter(v => v < cur && v <= cur - keep).foreach { v =>
      deleteRecursively(versionPath(name, v))
      Files.deleteIfExists(claimFile(name, v))
    }
    claimedSlots(name).filter(s => !Files.exists(versionPath(name, s)))
      .foreach(s => releaseOrphanClaim(name, s))
    // GC stage directories abandoned by dead committers (a crash before
    // the manifest rename = undecided: nothing references them). Decided
    // manifests were rolled forward by recoverTxns above — their tmps
    // already moved; a LIVE committer's in-flight tmp has a live pid and
    // is never touched. Name shape: `<container>.tmp-<pid>-<nanos>`.
    val deadTmps = deadOwnedTmps(dataDir, name, "tmp")
    if (deadTmps.nonEmpty) {
      // a committer can rename its manifest and die BETWEEN the
      // recoverTxns() above and the pid-death observations just made —
      // its tmp is then a DECIDED member's staged data, not garbage.
      // The death observations happen-after any manifest rename by
      // those pids, so re-reading the manifests now is authoritative:
      // exclude every referenced tmp (the next recovery applies it).
      val referenced = parsedManifests().flatMap(_._3.map(_._3)).toSet
      deadTmps.filterNot(p => referenced(p.getFileName.toString))
        .foreach(deleteRecursively)
    }
    // GC metadata staging files abandoned by a crash between write and
    // atomic move (ANALYZE stats, clustering policy — pure garbage: the
    // swap never happened, nothing references them)
    deadOwnedTmps(catDir, name, "stats.tmp").foreach(Files.deleteIfExists(_))
    deadOwnedTmps(catDir, name, "cluster.tmp").foreach(Files.deleteIfExists(_))
    deadOwnedTmps(catDir, name, "ixswap.tmp").foreach(Files.deleteIfExists(_))
  }

  /** Staging paths under `dir` named `<name>.<suffix>-<pid>-<nanos>`
    * whose recorded owner process is PROVABLY dead (never this process,
    * never a live writer) — the shared matcher for every crash-GC sweep,
    * so the liveness rule can't drift between them. */
  private def deadOwnedTmps(dir: Path, name: String, suffix: String): Seq[Path] = {
    val pat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(name) + "\\." +
        java.util.regex.Pattern.quote(suffix) + "-(\\d+)-\\d+")
    scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala.filter { p =>
        val m = pat.matcher(p.getFileName.toString)
        m.matches() && m.group(1).toLongOption.exists { pid =>
          pid != ProcessHandle.current.pid &&
            ProcessHandle.of(pid).map[java.lang.Boolean](h => !h.isAlive)
              .orElse(java.lang.Boolean.TRUE).booleanValue
        }
      }.toSeq
    }
  }

  private[catalog] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { stream =>
        stream.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
      }
}

object Catalog {
  /** Idempotency-stamp file name inside a version directory (leading
    * underscore: parquet readers skip it, like `_SUCCESS`). */
  val TxnMarker = "_graft_txn"

  /** The auto-OPTIMIZE merge set: the small-file tier of `files` (each
    * paired with its size). Sorted by size ascending, it is the longest
    * prefix in which each file is no larger than twice all smaller files
    * combined; the first file always joins. A file that fails the test
    * outweighs the whole tier below it, so it and every larger file stay
    * settled. This is the size-tiered form of the logarithmic method: a
    * row is rewritten only when its file grows by half again, so
    * amortized O(log n) rewrites per row, and the running total of
    * settled sizes at least triples per file, so O(log n) live files.
    * The factor 2 (not 1) keeps near-equal files merging: parquet sizes
    * of files with the same row count differ by a few bytes, and a strict
    * `≤ sum` rule would then stop at the second file and never merge.
    */
  def smallTier[F](files: Seq[(F, Long)]): Seq[F] = {
    val sorted = files.sortBy(_._2).toIndexedSeq
    val smaller = sorted.scanLeft(0L)(_ + _._2) // bytes of all smaller files
    sorted.indices.takeWhile(i => i == 0 || sorted(i)._2 <= 2 * smaller(i))
      .map(sorted(_)._1)
  }

  /** A multi-container commit failed BEFORE its manifest rename: nothing
    * is visible, and the caller owns the cleanup of its live-pid claims
    * ([[graft.catalog.Tx]] aborts the prepared set and rethrows the
    * cause). */
  final class TxnUndecidedException(cause: Throwable)
    extends RuntimeException("transaction not decided", cause)

  /** In-JVM stripe for the pointer-advance critical section: `FileChannel`
    * locks are per-process (two threads locking the same file throw
    * `OverlappingFileLockException`), so threads serialize on this monitor
    * first and JVMs serialize on the file lock inside it.
    */
  private[catalog] val ptrLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
}
