package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import java.nio.file.{Files, Path, Paths, FileAlreadyExistsException}
import java.util.UUID
import scala.collection.mutable

/** Optimistic-concurrency commit log: the multi-writer ACID table layer
  * that upgrades the single-writer-per-table contract (docs/SCALE.md
  * §Writers called this "an integration, not a redesign" — this is that
  * integration, self-contained).
  *
  * Layout (the standard lakehouse shape — a transaction log of file-level
  * actions beside immutable data files):
  *
  * {{{
  *   <table>/_log/v000000000042.json   // one JSON-lines commit per version
  *   <table>/data/<uuid>.parquet       // immutable data files
  * }}}
  *
  * A commit file holds `add` / `remove` actions over data-file paths. The
  * table AT version V is the replay of v0..vV: files added and not yet
  * removed. Readers never lock anything — a snapshot is just the file
  * list at the latest (or a requested) version, and since data files are
  * immutable and commits are atomic, a pinned snapshot stays readable
  * forever (until vacuumed).
  *
  * Writer protocol (optimistic, lock-free):
  *   1. stage data files under `data/` (invisible until committed),
  *   2. read the current latest version N,
  *   3. try to publish the commit as version N+1 via an ATOMIC
  *      put-if-absent,
  *   4. lost the race → re-read the log, CHECK CONFLICTS against the
  *      commits that beat us, rebase, retry at the new tip.
  *
  * Conflict rules (per action type, checked on rebase):
  *   - append (adds only) commutes with everything → blind rebase;
  *   - rewrite (compaction: removes + adds) conflicts iff a commit that
  *     beat us REMOVED one of the files we are removing (it no longer
  *     exists to remove — two racing compactions, or compaction racing a
  *     delete); concurrent APPENDS commute with a rewrite (the rewrite
  *     simply doesn't cover them).
  *
  * The atomic primitive is abstracted as [[LogStore]] (the same shape the
  * public Delta Lake LogStore API takes): local filesystems get true
  * put-if-absent from `Files.createLink` (POSIX link(2) — atomic, full
  * content visible or nothing, fails EEXIST); HDFS would use
  * create-no-overwrite, and an object store without atomic namespace
  * operations needs an external arbiter for step 3 ONLY — everything
  * else is plain immutable-file I/O.
  *
  * Driver-side work per commit is O(commits since the last checkpoint)
  * small-file reads and one metadata write — independent of data volume,
  * so the protocol is the same at 100 TB. [[checkpoint]] rolls the state
  * up so replay stops scanning there, and [[appendOnce]] adds the
  * (appId, batchId) txn-marker idempotence that makes a `foreachBatch`
  * streaming sink exactly-once end-to-end.
  *
  * This file holds the protocol: actions and their codec, [[LogStore]],
  * replay ([[State]], [[TableAt]]), [[commit]], the append family,
  * properties and constraints, and the deletion-vector [[maskJoin]]. The
  * other parts are mixed in: [[CommitLogSkipping]] (per-file stats and the
  * one file pruner), [[CommitLogDml]] (delete, update, merge and CDC apply
  * through one mutation path), [[CommitLogFeed]] (the commit reader, the
  * change feeds, history and the timestamp clock) and
  * [[CommitLogMaintenance]] (compaction, restore and vacuum).
  */
object CommitLog extends CommitLogSkipping with CommitLogDml with CommitLogFeed
    with CommitLogMaintenance {

  /** One log action. `op` is `add`/`remove` (file-level; `path` is a
    * data-file path, `rows` bookkeeping), `txn` (writer-level
    * idempotence marker: `path` is the application id, `rows` its
    * batch/epoch number — the mechanism behind exactly-once streaming
    * sinks, see [[appendOnce]]), `meta` (schema evolution) or `cdc`
    * (a row-level change file recording the change rows a CDC-enabled
    * [[deleteWhere]]/[[mergeInto]] produced — never part of the live
    * table, read only by [[readChangesCdc]]).
    *
    * `lo`/`hi` are OPTIONAL per-file min/max bounds of the table's index
    * column (NaN = not recorded) — the data-skipping metadata
    * [[readWhere]] prunes by. `stats` generalizes them to a per-COLUMN
    * min/max zonemap ([[appendClustered]] records one, [[readWhereBox]]
    * prunes on every queried dimension at once). Absent bounds are
    * conservative: the file is always read. */
  final case class Action(op: String, path: String, rows: Long,
                          lo: Double = Double.NaN, hi: Double = Double.NaN,
                          stats: Map[String, (Double, Double)] = Map.empty,
                          bloom: String = "") {
    // Non-finite bounds are "no bounds": +/-Infinity can reach here from a
    // legal parquet column (min/max of an infinite double), and the line
    // codec's number regex does not decode the textual `Infinity` — so a
    // non-finite bound must degrade to conservative no-pruning, never
    // reach [[encode]] (a committed `"lo":Infinity` would poison every
    // subsequent read of the table with 'corrupt commit line').
    def hasBounds: Boolean = finite(lo) && finite(hi)
  }

  private def finite(d: Double): Boolean = !d.isNaN && !d.isInfinite

  final case class Snapshot(version: Long, files: Seq[String]) {
    def isEmpty: Boolean = files.isEmpty
  }

  /** Thrown when a rewrite's remove-set was invalidated by a commit that
    * won the race — the caller's snapshot is stale in a way that does NOT
    * commute; re-plan from a fresh snapshot (e.g. rerun the compaction). */
  final class ConcurrentRewriteException(msg: String)
    extends RuntimeException(msg)

  /** Thrown BEFORE any data is staged when an append's schema is
    * incompatible with the table's (same column name, different type) —
    * evolution is additive-only, so the table is never poisoned by a
    * committed-but-unreadable schema. Also raised from the conflict scan
    * when a RACING commit introduced the conflicting column. */
  final class SchemaConflictException(msg: String)
    extends IllegalArgumentException(msg)

  /** Thrown when a CHECK constraint rejects a write (every violating
    * batch aborts ATOMICALLY — staged files are cleaned up, nothing is
    * committed) or when [[addConstraint]] finds existing rows that
    * violate the constraint being added. */
  final class ConstraintViolationException(msg: String)
    extends IllegalArgumentException(msg)

  /** Thrown by [[readChangesCdc]] when the requested window contains a
    * MUTATION commit (delete/update/merge/apply) that recorded no change
    * files — the row-level feed cannot be reconstructed from file actions
    * alone, and silently classifying the commit as a reorganization would
    * let a replica diverge without any signal. Enable CDC on the table
    * (`setTableProperty(table, "cdc", "true")` makes every subsequent
    * mutation record change files) or pass `cdc = true` per mutation. */
  final class CdcGapException(msg: String) extends IllegalStateException(msg)

  /** Internal signal: a txn-marked commit found its (app, batch) already
    * committed by a racer — [[appendOnce]] turns this into a silent skip
    * (the batch IS in the table; that's success, not failure). */
  private[sources] final class TxnAlreadyApplied(val appId: String, val batchId: Long,
                                        val byVersion: Long)
    extends RuntimeException(
      s"txn ($appId, $batchId) already applied by commit v$byVersion")

  /** The atomic-commit primitive. Exactly one concurrent
    * `putIfAbsent(v, ..)` per version may succeed, and a successful put
    * must be all-or-nothing visible to readers. */
  trait LogStore {
    /** True iff this call published `content` as version file `target`. */
    def putIfAbsent(target: Path, content: String): Boolean
    def read(p: Path): String
    def list(dir: Path): Seq[Path]
  }

  /** Local-FS store: write the full content to a tmp file, then
    * `Files.createLink(target, tmp)` — POSIX hard-link creation is atomic
    * and fails `EEXIST` if the target exists, so a reader either sees the
    * complete commit file or no file; there is no partial-content window
    * (the content was durable in the tmp inode before the link). */
  object LocalStore extends LogStore {
    def putIfAbsent(target: Path, content: String): Boolean = {
      val tmp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID().toString}.tmp")
      Files.write(tmp, content.getBytes("UTF-8"))
      try { Files.createLink(target, tmp); true }
      catch { case _: FileAlreadyExistsException => false }
      finally Files.deleteIfExists(tmp)
    }
    def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
    def list(dir: Path): Seq[Path] = {
      if (!Files.isDirectory(dir)) return Nil
      val s = Files.list(dir)
      try {
        val b = Seq.newBuilder[Path]
        s.forEach(p => b += p)
        b.result()
      } finally s.close()
    }
  }

  private val VersionRe = """v(\d{12})\.json""".r

  private def logDir(table: String): Path = Paths.get(table, "_log")
  private[sources] def dataDir(table: String): Path = Paths.get(table, "data")
  private[sources] def versionFile(table: String, v: Long): Path =
    logDir(table).resolve(f"v$v%012d.json")

  /** JSON-lines encode. Paths are always `data/<uuid>.parquet` strings this
    * object generated (no quotes/escapes possible), so the symmetric
    * regex decode below is exact, not a general JSON parser. Bounds are
    * emitted only when recorded, so stat-free logs are byte-identical to
    * the pre-stats format (old logs decode unchanged). */
  private def encode(actions: Seq[Action]): String =
    actions.map { a =>
      val bounds = if (a.hasBounds) s""","lo":${a.lo},"hi":${a.hi}""" else ""
      // column names are plain identifiers (checked at record time), so
      // the zonemap nests unescaped, sorted for determinism; a non-finite
      // range is dropped (never pruned on), as for hasBounds
      val finiteStats = a.stats.filter { case (_, (lo, hi)) => finite(lo) && finite(hi) }
      val zone =
        if (finiteStats.isEmpty) ""
        else finiteStats.toSeq.sortBy(_._1)
          .map { case (c, (lo, hi)) => s""""$c":[$lo,$hi]""" }
          .mkString(""","stats":{""", ",", "}")
      // bloom tokens are `<ident>:<m>:<k>:<b64url>` — every char quote-free
      // by construction (identifier enforced at record time, url-safe b64)
      val bl = if (a.bloom.isEmpty) "" else s""","bloom":"${a.bloom}""""
      s"""{"op":"${a.op}","path":"${a.path}","rows":${a.rows}$bounds$zone$bl}"""
    }.mkString("\n")

  private val ActionRe =
    ("""\{"op":"(add|remove|txn|meta|cdc|info|prop|dv|dvref|dvremove)","path":"([^"]+)","rows":(\d+)""" +
      """(?:,"lo":(-?[0-9.eE+-]+),"hi":(-?[0-9.eE+-]+))?""" +
      """(?:,"stats":\{([^}]*)\})?""" +
      """(?:,"bloom":"([^"]+)")?\}""").r

  private val StatRe = """"([A-Za-z0-9_]+)":\[(-?[0-9.eE+-]+),(-?[0-9.eE+-]+)\]""".r

  private def decodeStats(s: String): Map[String, (Double, Double)] =
    StatRe.findAllMatchIn(s)
      .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))
      .toMap

  // `meta` actions carry a schema: StructType JSON, base64-encoded so the
  // payload is a quote-free token the line codec handles unchanged.
  private[sources] def schemaToken(s: org.apache.spark.sql.types.StructType): String =
    java.util.Base64.getEncoder.encodeToString(s.json.getBytes("UTF-8"))
  private def tokenToSchema(t: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      new String(java.util.Base64.getDecoder.decode(t), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private[sources] def decode(content: String): Seq[Action] =
    content.linesIterator.filter(_.nonEmpty).map {
      case ActionRe(op, path, rows, lo, hi, stats, bloom) =>
        Action(op, path, rows.toLong,
          lo = if (lo == null) Double.NaN else lo.toDouble,
          hi = if (hi == null) Double.NaN else hi.toDouble,
          stats = if (stats == null) Map.empty else decodeStats(stats),
          bloom = if (bloom == null) "" else bloom)
      case bad => throw new IllegalStateException(s"corrupt commit line: $bad")
    }.toSeq

  /** Latest committed version, or -1 for an empty/absent log. Versions are
    * dense by construction (a commit only lands at latest+1), so max of
    * the listing is the tip. */
  def latestVersion(table: String, store: LogStore = LocalStore): Long =
    store.list(logDir(table)).flatMap(p => p.getFileName.toString match {
      case VersionRe(v) => Some(v.toLong)
      case _            => None
    }).foldLeft(-1L)(math.max)

  private val CheckpointRe = """c(\d{12})\.json""".r
  private def checkpointFile(table: String, v: Long): Path =
    logDir(table).resolve(f"c$v%012d.json")

  /** Full table state at a version: live files (insertion-ordered), their
    * recorded index-column bounds, the per-application txn high-water
    * marks, and the UNION of every committed schema (first-appearance
    * column order). Union — not last-wins — so two racing appends that
    * each add a different column commute: neither's column is lost from
    * the read schema. Same-name-different-type is the one thing that
    * cannot union; it throws the typed conflict. */
  private[sources] final case class State(live: mutable.LinkedHashSet[String],
                                 bounds: mutable.Map[String, (Double, Double)],
                                 txns: mutable.Map[String, Long],
                                 schema: mutable.LinkedHashMap[String, org.apache.spark.sql.types.StructField],
                                 zones: mutable.Map[String, Map[String, (Double, Double)]] = mutable.Map.empty,
                                 props: mutable.Map[String, String] = mutable.Map.empty,
                                 rowsOf: mutable.Map[String, Long] = mutable.Map.empty,
                                 dvs: mutable.LinkedHashSet[String] = mutable.LinkedHashSet.empty,
                                 dvRowsOf: mutable.Map[String, Long] = mutable.Map.empty,
                                 blooms: mutable.Map[String, String] = mutable.Map.empty) {
    def apply(a: Action): Unit = a.op match {
      case "add" =>
        live += a.path
        if (a.hasBounds) bounds(a.path) = (a.lo, a.hi)
        if (a.stats.nonEmpty) zones(a.path) = a.stats
        if (a.rows > 0) rowsOf(a.path) = a.rows
        if (a.bloom.nonEmpty) blooms(a.path) = a.bloom
      case "remove" =>
        live -= a.path; bounds -= a.path; zones -= a.path; rowsOf -= a.path
        blooms -= a.path
      case "txn" =>
        if (txns.getOrElse(a.path, -1L) < a.rows) txns(a.path) = a.rows
      case "meta" => mergeSchema(tokenToSchema(a.path))
      case "cdc"  => () // change files are not live table data
      case "dv" => // a live deletion-vector sidecar: masks rows on every read
        dvs += a.path
        if (a.rows > 0) dvRowsOf(a.path) = a.rows
      case "dvremove" => // sidecar retired (compaction materialized it, or restore)
        dvs -= a.path; dvRowsOf -= a.path
      case "dvref" => () // conflict metadata only (files a DV commit masks)
      case "info" => () // per-commit provenance; read by history/CDC, not state
      case "prop" => a.path.split("=", 2) match {
        case Array(k, "-") => props -= k // "-" is the removal tombstone
        case Array(k, v)   => props(k) = v // last committed value wins
        case _ => throw new IllegalStateException(s"corrupt prop action: ${a.path}")
      }
      case _ => throw new IllegalStateException(s"unknown action $a")
    }
    def mergeSchema(s: org.apache.spark.sql.types.StructType): Unit =
      s.fields.foreach { f =>
        schema.get(f.name) match {
          case Some(prev) =>
            schema(f.name) = prev.copy(
              dataType = widenNullability(f.name, prev.dataType, f.dataType))
          case None => schema(f.name) = f.copy(nullable = true)
        }
      }
    def schemaStruct: Option[org.apache.spark.sql.types.StructType] =
      if (schema.isEmpty) None
      else Some(org.apache.spark.sql.types.StructType(schema.values.toSeq))
    /** Masked positions over every live sidecar, as recorded at commit. */
    def maskRows: Long = dvs.toSeq.map(dvRowsOf.getOrElse(_, 0L)).sum
    /** `files` when fewer than the live set, so [[maskJoin]] pre-filters. */
    def pruned(files: Seq[String]): Option[Seq[String]] = Some(files).filter(_.size < live.size)
    /** The add action for file `p` with the stats this state records. */
    def addOf(p: String): Action = {
      val (lo, hi) = bounds.getOrElse(p, (Double.NaN, Double.NaN))
      Action("add", p, rowsOf.getOrElse(p, 0L), lo, hi,
        zones.getOrElse(p, Map.empty), blooms.getOrElse(p, ""))
    }
    def liveActions: Seq[Action] = {
      val files = live.toSeq.map(addOf)
      val propActs = props.toSeq.sortBy(_._1)
        .map { case (k, v) => Action("prop", s"$k=$v", 0L) }
      // live sidecars roll into checkpoints like live data files (dvref
      // actions do NOT: conflict scans read raw commit files, never
      // checkpoints, so the refs are per-commit metadata by construction)
      val dvActs = dvs.toSeq.map(p => Action("dv", p, dvRowsOf.getOrElse(p, 0L)))
      schemaStruct.map(s => Action("meta", schemaToken(s), 0L)).toSeq ++
        propActs ++ files ++ dvActs
    }
  }

  /** The union of two occurrences of one column's type, nullability-wise:
    * the same STRUCTURE with differing array/map/struct nullability flags
    * merges to the more-nullable form (a parquet-seeded table and a
    * `Seq(...).toDF` frame routinely disagree only on `containsNull` —
    * that is schema NOISE, not evolution); a structural difference is the
    * typed additive-only conflict, exactly as before. */
  private def widenNullability(name: String,
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (x, y) if x == y => x
      case (ArrayType(ea, na), ArrayType(eb, nb)) =>
        ArrayType(widenNullability(name, ea, eb), na || nb)
      case (MapType(ka, va, na), MapType(kb, vb, nb)) =>
        MapType(widenNullability(name, ka, kb), widenNullability(name, va, vb), na || nb)
      case (StructType(fa), StructType(fb))
          if fa.length == fb.length && fa.map(_.name).sameElements(fb.map(_.name)) =>
        StructType(fa.zip(fb).map { case (x, y) =>
          StructField(x.name, widenNullability(name, x.dataType, y.dataType),
            x.nullable || y.nullable, x.metadata)
        })
      case _ =>
        throw new SchemaConflictException(
          s"column $name: ${a.simpleString} vs " +
            s"${b.simpleString} — evolution is additive-only")
    }
  }

  /** The table at one version — the handle every operation plans
    * against. [[open]] lists `_log` ONCE, which yields both the tip and
    * every checkpoint; `st` then replays through `version`, seeded from
    * the latest checkpoint ≤ `version` when one exists — replay cost is
    * then O(commits since checkpoint), not O(table lifetime); the
    * pre-checkpoint commit files aren't even opened (CommitLogSpec proves
    * this by corrupting them). The replay is lazy, so a handle that only
    * needs the tip (or re-addresses another version with [[at]], which
    * reuses the listing) never replays.
    *
    * Every scan, discovery and rewrite an operation runs goes through the
    * handle, so they all read the same file set under the same log-carried
    * schema: files written before a column was added read it as NULL, and
    * a predicate may reference such a column. */
  private[sources] final class TableAt(val table: String, val tip: Long,
                                       val version: Long,
                                       checkpoints: Seq[Long],
                                       val store: LogStore) {
    lazy val st: State = {
      val st = State(mutable.LinkedHashSet.empty, mutable.Map.empty,
        mutable.Map.empty, mutable.LinkedHashMap.empty)
      val cp = checkpoints.filter(_ <= version).foldLeft(-1L)(math.max)
      if (cp >= 0)
        decode(store.read(checkpointFile(table, cp))).foreach(st.apply)
      ((cp + 1) to version).foreach(readCommit(table, _, store).actions.foreach(st.apply))
      st
    }

    /** The same listing addressed at another version (time travel). */
    def at(v: Long): TableAt = {
      require(v <= tip, s"version $v does not exist (tip is $tip)")
      new TableAt(table, tip, v, checkpoints, store)
    }

    /** `files` under the snapshot's schema (`extra` fields appended), no
      * deletion vectors applied. */
    def scan(spark: SparkSession, files: Seq[String],
             extra: Seq[org.apache.spark.sql.types.StructField] = Nil): DataFrame = {
      val reader = st.schemaStruct match {
        case Some(s) => spark.read.schema(
          org.apache.spark.sql.types.StructType(s.fields ++ extra))
        case None    => spark.read
      }
      reader.parquet(files.map(f => Paths.get(table, f).toString): _*)
    }

    /** The read schema: the log-carried one, or for a legacy log without
      * meta actions the live files' merged footers. */
    def schema(spark: SparkSession): org.apache.spark.sql.types.StructType =
      st.schemaStruct.getOrElse {
        require(st.live.nonEmpty, s"$table has no live files and no log schema")
        scan(spark, st.live.toSeq).schema
      }

    /** [[scan]] through every live deletion vector, keeping the (file,
      * position) key columns the merge-on-read writers stage as masks. */
    def keyed(spark: SparkSession, files: Seq[String]): DataFrame = {
      val k = dvKeyed(scan(spark, files))
      if (st.dvs.isEmpty) k
      else maskJoin(k, st.pruned(files), sidecars(spark, table, st.dvs.toSeq),
        st.maskRows, "left_anti")
    }

    /** Read `files` with every live deletion vector applied — THE read
      * primitive once a table carries DVs: a position-keyed anti-join
      * against the (broadcast) mask, zero work when no sidecar is live
      * (the plan is the plain scan, byte-identical to the pre-DV engine). */
    def masked(spark: SparkSession, files: Seq[String]): DataFrame =
      if (st.dvs.isEmpty) scan(spark, files)
      else keyed(spark, files).drop(DvFile, DvPos)

    /** Every live row. */
    def rows(spark: SparkSession): DataFrame = {
      require(st.live.nonEmpty, s"$table has no live files at v$version")
      masked(spark, st.live.toSeq)
    }

    /** Whether a mutation records change files: the `cdc` table property
      * makes that a TABLE decision — a forgotten per-call flag can no
      * longer starve the feed. */
    def cdcOn(flag: Boolean): Boolean =
      flag || st.props.get("cdc").contains("true")

    /** The CHECK constraints staged rows must satisfy: name → predicate. */
    def checks: Map[String, String] = constraintsOf(st.props)

    /** The merge-on-read actions masking `hits` (a [[keyed]] frame the
      * caller pinned, so the sidecar, the refs and any CDC rows all see
      * the same row set): one staged `dv` sidecar of (file, position)
      * pairs, then one `dvref` per masked data file, sorted — the conflict
      * metadata a racing rewrite of a masked file hits (see [[commit]]).
      * Empty when nothing matched. */
    def dvActions(spark: SparkSession, hits: DataFrame): Seq[Action] = {
      import org.apache.spark.sql.functions.col
      // each task counts its own files' positions: one job, no shuffle
      val perFile = hits.select(DvFile).as(Encoders.STRING)
        .mapPartitions { names =>
          val n = mutable.Map.empty[String, Long].withDefaultValue(0L)
          names.foreach(f => n(f) += 1L)
          n.iterator
        }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
        .collect().groupMapReduce(_._1)(_._2)(_ + _).toSeq
      if (perFile.isEmpty) Nil
      else stage(spark, table,
          // the hits are pinned, so one task just concatenates them
          hits.select(col(DvFile).as("file"), col(DvPos).as("pos")).coalesce(1))
        .map(_.copy(op = "dv")) ++
        perFile.sortBy(_._1).map { case (name, n) => Action("dvref", s"data/$name", n) }
    }

    /** Retire every live sidecar (masks die with the data they mask). */
    def retireSidecars: Seq[Action] =
      st.dvs.toSeq.map(p => Action("dvremove", p, st.dvRowsOf.getOrElse(p, 0L)))

    /** Retire the whole live table: every data file and every sidecar. */
    def retireAll: Seq[Action] =
      st.live.toSeq.map(Action("remove", _, 0L)) ++ retireSidecars
  }

  /** The table at `asOf` (default: the tip) from one `_log` listing. A
    * table with no commits opens at version -1 with an empty state. */
  private[sources] def open(table: String, store: LogStore,
                            asOf: Option[Long] = None): TableAt = {
    val names = store.list(logDir(table)).map(_.getFileName.toString)
    val tip = names.collect { case VersionRe(v) => v.toLong }.foldLeft(-1L)(math.max)
    val checkpoints = names.collect { case CheckpointRe(c) => c.toLong }
    new TableAt(table, tip, tip, checkpoints, store).at(asOf.getOrElse(tip))
  }

  /** Per-commit provenance marker: every commit this object writes leads
    * with one, so [[history]] can describe the table and [[readChangesCdc]]
    * can tell a REORGANIZATION (compact) from a MUTATION (delete, update,
    * merge, apply) without guessing from the action shape. The `rows` slot
    * carries the commit's wall-clock epoch-ms timestamp, which
    * [[commitTimestamps]] adjusts into the monotone clock. Legacy commits
    * without one decode fine and time-travel as epoch 0. */
  private[sources] def infoAct(operation: String): Action =
    Action("info", operation, System.currentTimeMillis())

  /** Set a table property (committed, versioned, checkpoint-carried like
    * any other log state). The one property the engine itself reads is
    * `cdc=true`: every later delete, update, merge and apply (both forms
    * of each) then records change files, so one forgotten `cdc = true`
    * flag cannot starve a replica. Key and value must be plain tokens
    * (they are embedded in the commit line). */
  def setTableProperty(table: String, key: String, value: String,
                       store: LogStore = LocalStore): Long = {
    require(key.matches("[A-Za-z0-9_.-]+"), s"property key must be a plain token: $key")
    require(value.matches("[A-Za-z0-9_.-]+"), s"property value must be a plain token: $value")
    // "-" is replay's removal tombstone: letting it through as a VALUE
    // would silently DELETE the property instead of setting it — reject
    // here with the real API to use (the one legal-token/illegal-value)
    require(value != "-",
      s"'-' is the property-removal tombstone, not a value — " +
        s"use removeTableProperty($table, $key) to remove the property")
    val tip = latestVersion(table, store)
    commit(table, Seq(infoAct("property"), Action("prop", s"$key=$value", 0L)),
      readVersion = tip, store)
  }

  /** Remove a table property (committed tombstone; replay and checkpoints
    * drop the key). Removing an absent key is a legal no-op commit. */
  def removeTableProperty(table: String, key: String,
                          store: LogStore = LocalStore): Long = {
    require(key.matches("[A-Za-z0-9_.-]+"), s"property key must be a plain token: $key")
    val tip = latestVersion(table, store)
    commit(table, Seq(infoAct("property"), Action("prop", s"$key=-", 0L)),
      readVersion = tip, store)
  }

  /** The table's committed properties at the tip (last writer wins). */
  def tableProperties(table: String, store: LogStore = LocalStore): Map[String, String] =
    open(table, store).st.props.toMap

  // CHECK constraints ride the property mechanism: key `constraint.<name>`,
  // value = URL-safe unpadded base64 of the SQL predicate (the alphabet is
  // exactly the plain-token charset, so arbitrary predicates embed in the
  // line codec unchanged — the same trick the schema meta action uses).
  private val ConstraintPrefix = "constraint."
  private def b64url(s: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(s.getBytes("UTF-8"))
  private def unB64url(t: String): String =
    new String(java.util.Base64.getUrlDecoder.decode(t), "UTF-8")
  private def constraintsOf(props: collection.Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(ConstraintPrefix) =>
      k.stripPrefix(ConstraintPrefix) -> unB64url(v) }.toMap

  /** The table's CHECK constraints at the tip: name → SQL predicate. */
  def constraints(table: String, store: LogStore = LocalStore): Map[String, String] =
    open(table, store).checks

  /** THE house CHECK rule, in one place: a row violates when its
    * predicate is false OR NULL (CHECK must hold; unknown does not hold
    * — deliberately stricter than ANSI, the conservative choice for a
    * data contract). One column-pruned aggregate counts violations of
    * EVERY predicate in a single job; staging, ADD CONSTRAINT, and
    * restore all validate through here, so the rule cannot drift
    * between write paths. */
  private[sources] def checkViolations(df: DataFrame,
                              checks: Map[String, String]): Seq[(String, String, Long)] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    val cs = checks.toSeq
    val aggs = cs.zipWithIndex.map { case ((_, p), i) =>
      sum(when(not(coalesce(expr(p), lit(false))), 1L).otherwise(0L)).as(s"c$i") }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.map { case ((n, p), i) =>
      (n, p, if (row.isNullAt(i)) 0L else row.getLong(i)) }
  }

  /** ALTER TABLE ADD CONSTRAINT ... CHECK (<predicate>): existing rows are
    * validated FIRST (one column-pruned scan; same rule as every lakehouse
    * ADD CONSTRAINT — a constraint the live data already violates is
    * rejected with the typed error, nothing committed), then the
    * constraint commits as versioned log state. From that version on,
    * EVERY write path that introduces new row values — append, streaming
    * append, UPDATE, MERGE, CDC apply — validates its staged output
    * before committing; a violating batch aborts atomically. A row whose
    * predicate is NULL violates ([[checkViolations]]'s house rule). */
  def addConstraint(spark: SparkSession, table: String, name: String,
                    predicate: String, store: LogStore = LocalStore): Long = {
    require(name.matches("[A-Za-z0-9_]+"), s"constraint name must be a plain token: $name")
    val snap = open(table, store)
    require(snap.version >= 0, s"$table does not exist — append first")
    if (snap.st.live.nonEmpty) {
      checkViolations(snap.scan(spark, snap.st.live.toSeq),
          Map(name -> predicate)).foreach { case (n, p, bad) =>
        if (bad > 0) throw new ConstraintViolationException(
          s"cannot add CHECK constraint $n ($p): " +
            s"$bad existing rows violate it — nothing was committed")
      }
    }
    commit(table, Seq(infoAct("constraint"),
      Action("prop", s"$ConstraintPrefix$name=${b64url(predicate)}", 0L)),
      readVersion = snap.version, store)
  }

  /** ALTER TABLE DROP CONSTRAINT: removes the named constraint via the
    * property tombstone; later writes stop validating it. */
  def dropConstraint(table: String, name: String,
                     store: LogStore = LocalStore): Long = {
    val tip = latestVersion(table, store)
    require(tip >= 0, s"$table does not exist")
    commit(table, Seq(infoAct("constraint"),
      Action("prop", s"$ConstraintPrefix$name=-", 0L)),
      readVersion = tip, store)
  }

  /** The log-carried schema at `asOf` (default tip) — derived purely from
    * replayed meta actions, so it works on a table whose live file set is
    * momentarily EMPTY (all rows deleted): schema is log state, not a
    * property of whichever files happen to be live. `None` only for a
    * legacy log that never committed a meta action. */
  def tableSchema(table: String, asOf: Option[Long] = None,
                  store: LogStore = LocalStore): Option[org.apache.spark.sql.types.StructType] = {
    val snap = open(table, store)
    if (snap.tip < 0) None else asOf.fold(snap)(snap.at).st.schemaStruct
  }

  /** Snapshot of the table through `asOf` (default: tip). Add-then-removed
    * files drop out; order within one commit is irrelevant because a
    * single commit never adds AND removes the same path. */
  def snapshot(table: String, asOf: Option[Long] = None,
               store: LogStore = LocalStore): Snapshot = {
    val snap = open(table, store, asOf)
    Snapshot(snap.version, snap.st.live.toSeq)
  }

  /** Highest batch id committed for `appId` (-1 if none) — the idempotence
    * cursor [[appendOnce]] checks. */
  def txnHighWater(table: String, appId: String,
                   store: LogStore = LocalStore): Long =
    open(table, store).st.txns.getOrElse(appId, -1L)

  /** Roll the state at the current tip into a checkpoint file so replay
    * (and conflict checking) stops scanning at the checkpoint. Published
    * with the same put-if-absent primitive — racing checkpointers are
    * harmless (first wins; the state content for a version is a pure
    * function of the log, so any winner wrote the same thing). */
  def checkpoint(table: String, store: LogStore = LocalStore): Long = {
    val snap = open(table, store)
    require(snap.version >= 0, s"$table has no commits to checkpoint")
    val acts = snap.st.liveActions ++
      snap.st.txns.toSeq.sortBy(_._1).map { case (app, b) => Action("txn", app, b) }
    store.putIfAbsent(checkpointFile(table, snap.version), encode(acts))
    snap.version
  }

  // --- deletion vectors (merge-on-read) --------------------------------------

  /** Helper-column names for the DV mask join — deliberately outside any
    * plausible user schema. */
  private[sources] val DvFile = "__graft_dv_file"
  private[sources] val DvPos  = "__graft_dv_pos"

  /** Above this many rows a join's small side is no longer hinted
    * broadcast (AQE still plans it); ~4M rows is ~200 MB of hash
    * relation, the conventional ceiling. It bounds a deletion-vector mask
    * ([[maskJoin]]; a table masking more should be compacted) and a
    * pinned MERGE or CDC-apply source ([[CommitLogDml.Upsert]]). */
  private[sources] val DvBroadcastRows = 4L * 1000 * 1000

  /** Each scanned row's data-file name. A hidden metadata column is an
    * ordinary column once projected, so the identity survives any later
    * join or shuffle — `input_file_name()` projected after a join returns
    * "" whenever the row left its scan task. */
  private[sources] val FileName: Column = org.apache.spark.sql.functions.col("_metadata.file_name")

  /** Tag a raw parquet scan with the (file, position) identity every DV
    * operation keys on. `_metadata.file_name` / `row_index` are hidden
    * parquet metadata columns (public Spark API, SPARK-37980): the row's
    * ordinal within its file is computed from row-group offsets, so it is
    * deterministic across read parallelism — the property that makes a
    * position-based delete replayable at any cluster size. */
  private[sources] def dvKeyed(df: DataFrame): DataFrame =
    df.withColumn(DvFile, FileName)
      .withColumn(DvPos, org.apache.spark.sql.functions.col("_metadata.row_index"))

  /** The (file, pos) rows of the deletion-vector sidecars `paths`. */
  private[sources] def sidecars(spark: SparkSession, table: String,
                                paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(paths.map(f => Paths.get(table, f).toString): _*)
      .select(col("file"), col("pos"))
  }

  /** `mask` pre-filtered to the data files `files` names — a pushed-down
    * `file IN (...)` over the sidecar parquet, evaluated at the mask scan
    * and never shuffled — so a bloom- or bounds-pruned point lookup over
    * a heavily-masked table pays O(opened files' mask positions), not
    * O(total mask). */
  private def onlyFiles(mask: DataFrame, files: Seq[String]): DataFrame =
    mask.where(org.apache.spark.sql.functions.col("file")
      .isin(files.map(f => Paths.get(f).getFileName.toString): _*))

  /** Mask-side input rows a masked read over `files` pays after file
    * pruning — observability for specs and operators (a compaction-due
    * signal reads [[deletionVectors]]; THIS tells you what a specific
    * pruned read actually joins against). */
  def dvMaskRowsFor(spark: SparkSession, table: String, files: Seq[String],
                    store: LogStore = LocalStore): Long = {
    val st = open(table, store).st
    lazy val mask = sidecars(spark, table, st.dvs.toSeq)
    if (st.dvs.isEmpty) 0L else st.pruned(files).fold(mask)(onlyFiles(mask, _)).count()
  }

  /** THE mask join: `keyed` (a [[dvKeyed]] scan) against the (file, pos)
    * rows of `mask` — `left_anti` keeps the unmasked rows, `left_semi`
    * only the masked ones. Keeps the key columns (callers that need a
    * clean table frame drop them). `scanned` names the files the keyed
    * frame scans when the mask may name others: the mask is pre-filtered
    * to them ([[onlyFiles]]), so sidecar rows for unopened files are never
    * read, let alone shuffled. The mask is hinted broadcast while
    * `maskRows`, an upper bound of its size (per-data-file counts aren't
    * log state), is at most [[DvBroadcastRows]]; past the ceiling AQE
    * still re-plans a small pruned side at runtime. */
  private[sources] def maskJoin(keyed: DataFrame, scanned: Option[Seq[String]],
                                mask: DataFrame, maskRows: Long, how: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val m = scanned.fold(mask)(onlyFiles(mask, _))
      .select(col("file").as("__graft_dv_mfile"), col("pos").as("__graft_dv_mpos"))
    keyed.join(if (maskRows <= DvBroadcastRows) broadcast(m) else m,
      keyed(DvFile) === col("__graft_dv_mfile") &&
        keyed(DvPos) === col("__graft_dv_mpos"), how)
  }

  /** Live deletion-vector sidecars at a version (log path → masked-
    * position count) — the observability hook: `sum(counts)` against the
    * table's row count tells an operator when [[compact]] (which
    * materializes and retires every sidecar) is due, and specs assert
    * mask lifecycle on it. */
  def deletionVectors(table: String, asOf: Option[Long] = None,
                      store: LogStore = LocalStore): Seq[(String, Long)] = {
    val st = open(table, store, asOf).st
    st.dvs.toSeq.map(p => p -> st.dvRowsOf.getOrElse(p, 0L))
  }

  /** Snapshot read, optionally time-traveled. The file list is explicit,
    * so uncommitted (staged or orphaned) files under `data/` are invisible
    * by construction — crash cleanup is a vacuum concern, never a
    * correctness concern. Live deletion vectors ([[deleteWhereDv]]) are
    * applied as of the requested version — time travel to a pre-DV
    * version shows the rows back, the same contract as copy-on-write. */
  def read(spark: SparkSession, table: String, asOf: Option[Long] = None,
           store: LogStore = LocalStore): DataFrame =
    open(table, store, asOf).rows(spark) // under the log's schema as of v

  /** An append-shaped commit at `snap`: merging the frame's schema into
    * the snapshot's throws the typed conflict BEFORE anything is staged,
    * `stageWith` stages the rows under the snapshot's CHECK constraints,
    * and the commit carries the frame's schema as a meta action (then
    * `extra`). The commit's conflict scan starts AFTER the snapshot's
    * version (only the commits that RACE this one are re-read; an append
    * never scans table history). */
  private def appendAt(snap: TableAt, df: DataFrame, extra: Seq[Action] = Nil)
                      (stageWith: Map[String, String] => Seq[Action]): Long = {
    if (snap.version >= 0) snap.st.mergeSchema(df.schema)
    commit(snap.table, (infoAct("append") +: Action("meta", schemaToken(df.schema), 0L) +:
      stageWith(snap.checks)) ++ extra, readVersion = snap.version, snap.store)
  }

  /** Stage `df` as immutable uuid-named files under `data/` and return the
    * add-actions. Staged files are invisible until a commit references
    * them. Spark writes a directory; each part file is moved to a flat
    * uuid name so commits own files, not directories. */
  private[sources] def stage(spark: SparkSession, table: String, df: DataFrame,
                    indexCol: Option[String] = None,
                    statsCols: Seq[String] = Nil,
                    checks: Map[String, String] = Map.empty,
                    bloom: Option[(String, Int)] = None): Seq[Action] = {
    Files.createDirectories(dataDir(table))
    val staging = Paths.get(table, s".staging-${UUID.randomUUID()}")
    df.write.parquet(staging.toString)
    val parts = LocalStore.list(staging)
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    // CHECK-constraint enforcement over the STAGED output, before anything
    // becomes visible: one column-pruned aggregate over the just-written
    // compact parquet (all constraints in a single job), so a violating
    // batch aborts atomically — staging is deleted, nothing is committed.
    // Validating the staged files rather than the input plan also means a
    // non-deterministic input can't pass the check yet commit bad rows.
    if (checks.nonEmpty && parts.nonEmpty) {
      checkViolations(spark.read.parquet(staging.toString), checks)
        .foreach { case (n, p, bad) =>
          if (bad > 0) {
            LocalStore.list(staging).foreach(Files.delete)
            Files.delete(staging)
            throw new ConstraintViolationException(
              s"CHECK constraint $n ($p) rejected $bad rows — " +
                "the batch was aborted; nothing was committed")
          }
        }
    }
    // per-file stats ride the add-actions: a pruning read never opens the file
    val stats = fileStats(spark, staging, parts, df.schema, indexCol, statsCols, bloom)
    val acts = parts.map { p =>
      val name = s"${UUID.randomUUID()}.parquet"
      Files.move(p, dataDir(table).resolve(name))
      stats(p.getFileName.toString).copy(path = s"data/$name")
    }
    // staging dir now holds only _SUCCESS etc.
    LocalStore.list(staging).foreach(Files.delete)
    Files.delete(staging)
    acts
  }

  /** Stage row-level change files (the frame already carries
    * `_change_type`): same immutable uuid-file mechanics as [[stage]],
    * committed as `cdc` actions — never part of the live set, protected
    * by vacuum within the retention window like any window file. */
  private[sources] def stageChanges(spark: SparkSession, table: String,
                           df: DataFrame): Seq[Action] =
    stage(spark, table, df).map(_.copy(op = "cdc"))

  /** The optimistic commit loop. `readVersion` is the snapshot the caller
    * planned against (-1 for blind appends). Returns the version the
    * commit landed at. */
  private[sources] def commit(table: String, actions: Seq[Action], readVersion: Long,
                     store: LogStore, maxAttempts: Int = 50): Long = {
    Files.createDirectories(logDir(table))
    // dvremove participates in remove-vs-remove conflicts (two racing
    // compactions retiring the same sidecar must not both land), so it
    // joins the remove-set here; it is NEVER read as table rows though —
    // the CDC restore branch collects op == "remove" only.
    val removes = actions.collect {
      case a if a.op == "remove" || a.op == "dvremove" => a.path }.toSet
    val dvRefs = actions.collect { case a if a.op == "dvref" => a.path }.toSet
    val ourAdds = actions.exists(_.op == "add")
    val txns = actions.collect { case a if a.op == "txn" => (a.path, a.rows) }
    val ourMetaFields: Seq[(String, org.apache.spark.sql.types.DataType)] =
      actions.collect { case a if a.op == "meta" => a.path }
        .flatMap(tok => tokenToSchema(tok).fields.map(f => f.name -> f.dataType))
    var attempt = 0
    var target = math.max(latestVersion(table, store), readVersion) + 1
    while (attempt < maxAttempts) {
      // Conflict check against every commit that landed after our read
      // snapshot (they won earlier races): a rewrite only commutes if its
      // remove-set is still fully live, and a txn-marked append must not
      // land twice for the same (app, batch) — the rule that makes
      // retried streaming batches exactly-once even when the retry RACES
      // the original (both stage, both reach here; the loser of the
      // version race sees the winner's txn marker and aborts).
      if (removes.nonEmpty || dvRefs.nonEmpty || txns.nonEmpty || ourMetaFields.nonEmpty) {
        ((readVersion + 1) until target).foreach { v =>
          val theirs = readCommit(table, v, store)
          val theirRemoves = (theirs.paths("remove") ++ theirs.paths("dvremove")).toSet
          val clash = removes.intersect(theirRemoves)
          if (clash.nonEmpty)
            throw new ConcurrentRewriteException(
              s"commit v$v already removed ${clash.head} (+${clash.size - 1} more) — " +
                s"rewrite planned at v$readVersion is stale, re-plan from a fresh snapshot")
          // deletion-vector races: DV-vs-rewrite conflicts BOTH ways — a
          // racer that removed a file our DV masks leaves our row positions
          // pointing at nothing (the delete would be silently lost in its
          // rewrite), and a racer that masked a file we are removing wrote
          // deletes our rewrite's output does not reflect.
          val theirDvRefs = theirs.paths("dvref").toSet
          // DV-vs-DV: two pure dv-DELETES commute (reads apply the UNION of
          // live masks; re-masking a position is idempotent), but a dv
          // commit that also APPENDS rows is a read-modify-write: two racers
          // updating one key would BOTH mask the old row and BOTH append a
          // new one, and a dv-delete racing a dv-update of the row would be
          // overridden by the appended postimage. So dvref-vs-dvref
          // conflicts whenever EITHER commit carries adds (file granularity,
          // as remove-vs-remove: disjoint-key racers re-plan and land).
          val theirAdds = theirs.paths("add").nonEmpty
          val dvDv = dvRefs.intersect(theirDvRefs)
          if (dvDv.nonEmpty && (ourAdds || theirAdds))
            throw new ConcurrentRewriteException(
              s"commit v$v also masked rows of ${dvDv.head} (+${dvDv.size - 1} more) " +
                s"and ${if (theirAdds) "appended replacement rows" else "raced our appended rows"} — " +
                s"merge-on-read DML planned at v$readVersion is stale, re-plan from a fresh snapshot")
          val staleDv = dvRefs.intersect(theirRemoves)
          if (staleDv.nonEmpty)
            throw new ConcurrentRewriteException(
              s"commit v$v already removed ${staleDv.head} (+${staleDv.size - 1} more) — " +
                s"deletion vector planned at v$readVersion masks stale row positions, " +
                "re-plan from a fresh snapshot")
          val lostDv = removes.intersect(theirDvRefs)
          if (lostDv.nonEmpty)
            throw new ConcurrentRewriteException(
              s"commit v$v added a deletion vector over ${lostDv.head} " +
                s"(+${lostDv.size - 1} more) — rewrite planned at v$readVersion would " +
                "drop its deletes, re-plan from a fresh snapshot")
          val theirTxns = theirs.actions.collect { case a if a.op == "txn" => (a.path, a.rows) }.toMap
          txns.foreach { case (app, b) =>
            if (theirTxns.getOrElse(app, -1L) >= b)
              throw new TxnAlreadyApplied(app, b, v)
          }
          // schema races: a racer introducing the SAME column with a
          // DIFFERENT type can't union — surface the typed conflict on
          // the loser instead of poisoning replay for every reader
          theirs.paths("meta").foreach { tok =>
            val theirFields = tokenToSchema(tok).fields.map(f => f.name -> f.dataType).toMap
            ourMetaFields.foreach { case (name, dt) =>
              // nullability-only differences widen at replay (mergeSchema);
              // only a STRUCTURAL mismatch is the race loser's conflict
              theirFields.get(name).filter(_ != dt).foreach { theirDt =>
                try { widenNullability(name, theirDt, dt); () }
                catch {
                  case _: SchemaConflictException =>
                    throw new SchemaConflictException(
                      s"commit v$v added column $name: ${theirDt.simpleString} vs " +
                        s"our ${dt.simpleString} — evolution is additive-only")
                }
              }
            }
          }
        }
      }
      if (store.putIfAbsent(versionFile(table, target), encode(actions)))
        return target
      // Lost the race: someone owns `target` now. Rebase to the new tip
      // (conflict window widens to include the commit(s) that beat us).
      target = latestVersion(table, store) + 1
      attempt += 1
    }
    throw new IllegalStateException(
      s"commit to $table failed $maxAttempts races in a row — livelock guard")
  }

  /** Multi-writer append: stage, then commit adds-only (commutes with
    * every concurrent commit, so the rebase loop never conflicts — under
    * contention every append lands, each at its own version). */
  def append(spark: SparkSession, table: String, df: DataFrame,
             store: LogStore = LocalStore): Long =
    appendAt(open(table, store), df)(checks => stage(spark, table, df, checks = checks))

  /** Atomic CREATE: stage the frame, then claim EXACTLY version 0 with one
    * `putIfAbsent` — never the rebase loop, so two racing creators cannot
    * both land (the r17 ADVICE hole in SaveMode.ErrorIfExists/Ignore: a
    * check-then-append pair lets both racers see exists=false and both
    * append, silently merging the loser's rows into the winner's table).
    * Returns Some(0) iff THIS call created the table; None if any other
    * commit owns v0 — the caller maps None to its SaveMode contract
    * (typed already-exists error for ErrorIfExists, no-op for Ignore).
    * A lost race deletes the staged files: they are uuid-named and
    * unreferenced, so the cleanup can never touch another writer's data. */
  def createOnly(spark: SparkSession, table: String, df: DataFrame,
                 indexCol: Option[String] = None,
                 store: LogStore = LocalStore): Option[Long] = {
    Files.createDirectories(logDir(table))
    if (latestVersion(table, store) >= 0) return None // fast path: no staging
    val meta = Action("meta", schemaToken(df.schema), 0L)
    val adds = stage(spark, table, df, indexCol)
    if (store.putIfAbsent(versionFile(table, 0L),
        encode(infoAct("append") +: meta +: adds)))
      Some(0L)
    else {
      adds.foreach(a => Files.deleteIfExists(Paths.get(table, a.path)))
      None
    }
  }

  /** INSERT OVERWRITE as ONE atomic commit: stage the frame, then commit
    * remove(every live file at the read snapshot) + dvremove(every live
    * sidecar — masks die with the data they masked) + add(staged). A
    * reader sees the old table or the new one, never a mix; time travel
    * keeps the pre-overwrite versions; the removes make a racing
    * rewrite/DV commit surface as the typed conflict, while a racing
    * APPEND commutes and its rows SURVIVE the overwrite (it was not in
    * the snapshot being replaced — the same write-serializable rule the
    * public lakehouse formats apply to blind appends vs overwrite).
    *
    * Schema stays ADDITIVE-union like every commit (an overwrite
    * replaces DATA, not history: columns the table ever carried read as
    * NULL where absent; a same-name-different-type frame throws before
    * staging). CHECK constraints validate the new rows. With CDC on the
    * commit records the old rows as `delete` and the new as `insert`
    * change files: an overwrite is a row mutation, not a reorganization.
    * Pass `indexCol` to record data-skipping bounds on the new files.
    * Returns the commit version. */
  def overwrite(spark: SparkSession, table: String, df: DataFrame,
                indexCol: Option[String] = None,
                cdc: Boolean = false,
                store: LogStore = LocalStore): Long = {
    import org.apache.spark.sql.functions.lit
    val snap = open(table, store)
    if (snap.version < 0) // nothing to replace: an overwrite of no table is a create
      return appendAt(snap, df)(checks => stage(spark, table, df, indexCol, checks = checks))
    val st = snap.st
    // the typed conflict BEFORE staging, checked on a copy: the retracted
    // rows below read under the table's own schema
    st.copy(schema = st.schema.clone()).mergeSchema(df.schema)
    val adds = stage(spark, table, df, indexCol, checks = snap.checks)
    val cdcActs =
      if (!snap.cdcOn(cdc) || st.live.isEmpty) Nil
      else {
        // old rows retract, new rows insert — both sides full-fidelity.
        // The new side re-reads the STAGED files (not the input plan), so
        // a non-deterministic frame cannot make the feed diverge from
        // the table (the stage-time CHECK rationale, applied to CDC).
        val oldRows = snap.masked(spark, st.live.toSeq)
          .withColumn("_change_type", lit("delete"))
        // An empty frame can stage ZERO files (a truncate-shaped
        // overwrite); reading an empty path list throws schema-inference
        // errors, and the correct feed there is pure retraction anyway
        // (r17 ADVICE).
        val feed =
          if (adds.isEmpty) oldRows
          else oldRows.unionByName(
            spark.read.parquet(
                adds.map(a => Paths.get(table, a.path).toString): _*)
              .withColumn("_change_type", lit("insert")),
            allowMissingColumns = true)
        stageChanges(spark, table, feed)
      }
    commit(table, infoAct("overwrite") +: Action("meta", schemaToken(df.schema), 0L) +:
      (snap.retireAll ++ adds ++ cdcActs), readVersion = snap.version, store)
  }

  /** Append with data-skipping stats: each staged file's add-action
    * carries the min/max of `indexCol`, so [[readWhere]] on that column
    * prunes non-overlapping files at file-LISTING time — no footer read,
    * no task launched. Cluster the frame first
    * (`df.repartitionByRange(n, col(indexCol))`) so files cover disjoint
    * ranges and a selective predicate keeps O(1) of them; unclustered
    * appends still work, they just prune less (every file's range spans
    * the domain). This is the commit-log analog of the engine's bucket
    * partitioning everywhere else: metadata, not data, bounds the scan. */
  def appendIndexed(spark: SparkSession, table: String, df: DataFrame,
                    indexCol: String, store: LogStore = LocalStore): Long =
    appendAt(open(table, store), df)(checks =>
      stage(spark, table, df, Some(indexCol), checks = checks))

  /** Z-order clustered append with a multi-column zonemap: interleave the
    * cluster columns' low bits ([[Layout.zvalueN]]), range-partition on
    * the z-value into ~`files` files, and record per-file min/max of
    * EVERY cluster column in the commit ([[Action.stats]]). Because
    * z-order keeps each file's bounding box small on ALL interleaved
    * dimensions at once, [[readWhereBox]] then prunes on any combination
    * of them — the commit-log form of OPTIMIZE ZORDER BY, and the 100 TB
    * answer to "my scans filter on two columns": one layout serves both
    * predicates instead of one partition key serving one.
    *
    * The z-value interleaves 16 masked bits per column — layout quality
    * degrades gracefully if a domain outgrows the mask (values wrap into
    * shared z-cells) but PRUNING stays exact: the recorded stats are true
    * min/max of the raw values. Cluster columns must be numeric. */
  def appendClustered(spark: SparkSession, table: String, df: DataFrame,
                      clusterCols: Seq[String], files: Int,
                      store: LogStore = LocalStore): Long = {
    require(clusterCols.nonEmpty, "appendClustered needs cluster columns")
    appendAt(open(table, store), df)(checks =>
      stage(spark, table, Layout.zcluster(df, clusterCols, files), None, clusterCols, checks))
  }

  /** Append with a per-file BLOOM filter on `bloomCol` — the point-lookup
    * complement to range stats: an unclustered table's every file spans
    * the whole key domain, so min/max keeps ALL of them for `key = x`,
    * while the bloom keeps O(1) files (plus a sizing-controlled false-
    * positive tail). Size `bits` at ~10× the expected DISTINCT keys per
    * file for ~1-2% false positives at the fixed k=4 probes; the bitset
    * costs bits/6 bytes of commit line per file (base64), which
    * checkpoints roll up like any other action metadata. Bloom pruning
    * NEVER misses: a file containing the key always tests positive (the
    * invariant BloomSkipSpec sweeps every key for; a lookup canonicalizes
    * its probe value through the column's type, see [[CommitLogSkipping]]). */
  def appendBloomed(spark: SparkSession, table: String, df: DataFrame,
                    bloomCol: String, bits: Int = 1 << 17,
                    store: LogStore = LocalStore): Long =
    appendAt(open(table, store), df)(checks =>
      stage(spark, table, df, checks = checks, bloom = Some((bloomCol, bits))))

  /** Idempotent append keyed by (appId, batchId) — the exactly-once
    * primitive for streaming sinks (use from `foreachBatch`): the commit
    * carries a `txn` marker, replay tracks the per-app high-water mark,
    * and a batch at or below it is skipped WITHOUT staging. A retry that
    * races the original is also safe: both may stage, but the version
    * race serializes them and the loser's conflict check finds the
    * winner's marker (the loser's staged files stay invisible and are
    * vacuumed later). Returns the commit version, or -1 if skipped.
    *
    * `appId` names the writing pipeline (quote-free token; it is embedded
    * in the commit JSON), `batchId` must be monotone per app — exactly
    * what Structured Streaming's `foreachBatch` hands its function. */
  def appendOnce(spark: SparkSession, table: String, df: DataFrame,
                 appId: String, batchId: Long,
                 indexCol: Option[String] = None,
                 store: LogStore = LocalStore): Long = {
    require(appId.matches("[A-Za-z0-9_.-]+"), s"appId must be a plain token: $appId")
    // a negative batch id would encode as `"rows":-N`, which the line
    // codec's (\d+) decode rejects — reject it HERE, before it can land
    // in a commit and poison every subsequent read of the table
    require(batchId >= 0, s"batchId must be non-negative: $batchId")
    // The high-water check covers every commit ≤ the snapshot, so the
    // commit's conflict scan starts AFTER it — it only ever reads the
    // commits that raced this one, never the table's history.
    val snap = open(table, store)
    if (snap.st.txns.getOrElse(appId, -1L) >= batchId) return -1L
    try appendAt(snap, df, Seq(Action("txn", appId, batchId)))(checks =>
      stage(spark, table, df, indexCol, checks = checks))
    catch { case _: TxnAlreadyApplied => -1L }
  }
}
