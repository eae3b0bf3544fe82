package graft.tables

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}

import GraftTable.{AddFile, ConcurrentCommitException, Dv, KeyStats}

/** A table's commit log, `<root>/_graft_log/` — the one place that knows
  * its layout:
  *   - `<%020d>.json`: one commit per version, NDJSON actions — the
  *     `{"meta":…}` line ([[TableMeta]]), then `{"add":…}` / `{"remove":…}`;
  *   - `<%020d>.checkpoint.json`: every `checkpointInterval`-th version's
  *     full active-file state (plus the accumulated exactly-once txn ids),
  *     so a cold snapshot replays one checkpoint and the commit tail.
  *
  * Every read starts from ONE listing of the directory ([[snapshot]]); the
  * [[Snapshot]] it returns carries that listing, so a statement that needs
  * the current version, its metadata, its files and its txn set pays for
  * one listing and one replay.
  */
private[tables] final class GraftLog(root: Path, newFs: () => FileSystem) {
  import GraftLog._

  val dir = new Path(root, DirName)
  private def fs: FileSystem = newFs()

  // commit files are immutable once written (vacuum never touches the
  // log), so parsed commits memoize safely — snapshot assembly stays one
  // file read per NEW version instead of O(versions) re-reads per op
  private val commits = scala.collection.concurrent.TrieMap.empty[Long, Commit]

  /** Version `v`'s commit, parsed once per log instance. */
  def commit(v: Long): Commit = commits.getOrElseUpdate(v, readCommit(v))

  def exists: Boolean = fs.exists(dir)

  /** One listing of the log directory. */
  def listing(): Listing = {
    val sts = fs.listStatus(dir).toSeq
    val names = sts.map(_.getPath.getName)
    Listing(names.collect { case CommitName(v) => v.toLong }.sorted,
      names.collect { case CheckpointName(v) => v.toLong }.sorted,
      sts.filter(_.getPath.getName.startsWith(".tmp-"))
        .map(st => st.getPath -> st.getModificationTime))
  }

  /** The latest snapshot, or version `asOf`'s — one listing. */
  def snapshot(asOf: Option[Long] = None): Snapshot = {
    val l = listing()
    snapshotIn(l, asOf.getOrElse(l.versions.lastOption.getOrElse(
      throw new IllegalStateException(s"no commits under $dir"))))
  }

  /** Version `v`'s snapshot within an existing listing. */
  def snapshotIn(l: Listing, v: Long): Snapshot = {
    require(l.versions.contains(v),
      s"version $v does not exist under $dir (have ${l.versions.mkString(",")})")
    new Snapshot(v, commit(v).meta, this, l)
  }

  /** Active files at `asOf`: replay from the newest checkpoint at-or-before
    * it (full replay when none) — cold snapshot assembly reads one
    * checkpoint plus the commit tail, not every commit since creation.
    */
  def replay(l: Listing, asOf: Long): Seq[AddFile] = {
    val cp = l.checkpoints.filter(_ <= asOf).lastOption
    val active = mutable.LinkedHashMap.empty[String, AddFile]
    cp.foreach(v => readCheckpoint(v).foreach(a => active(a.path) = a))
    l.versions.filter(v => v <= asOf && cp.forall(v > _)).foreach { v =>
      val c = commit(v)
      applyActions(active, c.adds, c.removes)
    }
    active.values.toSeq
  }

  /** Exactly-once txn ids of every listed commit. A txn-carrying checkpoint
    * is COMPLETE for its prefix — scan only the tail (after history
    * expiration the prefix commits are GONE, so the carried set is the only
    * record of their txns); a legacy checkpoint without the line means
    * nothing was expired: full scan.
    */
  def committedTxns(l: Listing): Set[String] =
    l.checkpoints.lastOption.flatMap(cp => readCheckpointTxns(cp).map(cp -> _)) match {
      case Some((cp, txns)) => txns ++ l.versions.filter(_ > cp).flatMap(commit(_).meta.txn)
      case None => l.versions.flatMap(commit(_).meta.txn).toSet
    }

  /** The path of every file any listed checkpoint or commit adds — all
    * versions, not one snapshot.
    */
  def referencedPaths: Seq[String] = {
    val l = listing()
    (l.checkpoints.flatMap(readCheckpoint) ++ l.versions.flatMap(commit(_).adds)).map(_.path)
  }

  /** Create the (empty) log directory; loud when a table already exists. */
  def create(location: String): Unit = {
    require(!exists, s"table already exists at $location")
    fs.mkdirs(dir)
  }

  /** Write version `v`'s commit, made visible ATOMICALLY: the content is
    * fully written to a hidden temp file in the log dir, then `rename`d
    * into place — rename is the atomic metadata operation on
    * HDFS-semantics filesystems (and POSIX same-directory), and it FAILS
    * when the destination exists, so the loser of a version race gets
    * [[ConcurrentCommitException]] and no reader can EVER observe a torn or
    * empty commit. (`create(overwrite=false)` alone is not enough: the file
    * becomes listable at create time, before its bytes land — a concurrent
    * reader between create and close would parse an empty commit, and the
    * memoizing commit cache would keep that torn read forever. Found by the
    * racing-writers stress spec.)
    */
  def write(v: Long, meta: TableMeta, adds: Seq[AddFile], removes: Seq[String]): Unit = {
    val sb = new StringBuilder
    sb.append("{\"meta\":").append(meta.toJson).append("}\n")
    adds.foreach(a => sb.append(addLine(a)).append('\n'))
    removes.foreach { r =>
      sb.append(mapper.writeValueAsString(Map("remove" -> r).asJava)).append('\n')
    }
    val tmp = stage("commit", sb.toString)
    if (!renameClaim(fs, tmp, logPath(v))) {
      fs.delete(tmp, false)
      throw new ConcurrentCommitException(
        s"version $v was committed concurrently at $dir; " +
          "re-read the snapshot and retry")
    }
  }

  /** The complete active-file set as of (immediately after) commit `v`, one
    * `{"add":…}` line per file. Same write-temp-then-rename visibility
    * discipline as [[write]] — a torn checkpoint would be WORSE than a torn
    * commit (NDJSON truncated at a line boundary silently drops active
    * files from every snapshot that replays it). The checkpoint for a
    * version is a pure function of the immutable log prefix, so two racing
    * handles produce identical content and the rename loser simply drops
    * its temp — no exception.
    */
  def writeCheckpoint(v: Long, files: Seq[AddFile], txns: Set[String]): Unit = {
    val sb = new StringBuilder
    // the ACCUMULATED idempotent-txn ids of every commit <= v ride the
    // checkpoint (sorted — racing handles must render identical bytes):
    // history EXPIRATION deletes those commits, and a replayed
    // exactly-once txn must stay a no-op across it
    if (txns.nonEmpty)
      sb.append(mapper.writeValueAsString(
        Map("txns" -> txns.toSeq.sorted.asJava).asJava)).append('\n')
    files.foreach(a => sb.append(addLine(a)).append('\n'))
    val tmp = stage("checkpoint", sb.toString)
    if (!renameClaim(fs, tmp, checkpointPath(v)))
      fs.delete(tmp, false) // a racing handle already wrote it
  }

  /** Delete every commit and checkpoint below `before`, after making
    * `before` SELF-SUFFICIENT: a checkpoint there carrying its full active
    * state AND the accumulated txn ids is written (durably, BEFORE any
    * deletion). A legacy txn-less checkpoint at the horizon is replaced —
    * its content is a pure function of the log prefix, plus the txns line.
    */
  def expire(s: Snapshot, before: Long, victims: Seq[Long]): Unit = {
    val txns = s.txns
    val files = s.at(before).files // replayed before the horizon checkpoint may go
    val cpP = checkpointPath(before)
    if (fs.exists(cpP) && txns.nonEmpty && readCheckpointTxns(before).isEmpty)
      fs.delete(cpP, false)
    if (!fs.exists(cpP)) writeCheckpoint(before, files, txns)
    require(fs.exists(cpP), s"could not materialize checkpoint at $before")
    victims.foreach(v => fs.delete(logPath(v), false))
    s.listing.checkpoints.filter(_ < before).foreach(v => fs.delete(checkpointPath(v), false))
  }

  /** Crashed writers can strand `.tmp-*` staging files in the log dir (a
    * commit or checkpoint written but never renamed); they are never
    * referenced, so sweep the listed ones older than `horizon`.
    */
  def sweepStaged(l: Listing, horizon: Long): Unit =
    l.staged.filter(_._2 <= horizon).foreach(p => fs.delete(p._1, false))

  private def logPath(v: Long) = new Path(dir, f"$v%020d.json")
  private def checkpointPath(v: Long) = new Path(dir, f"$v%020d.checkpoint.json")

  private def stage(kind: String, text: String): Path = {
    val tmp = new Path(dir, s".tmp-$kind-${UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    tmp
  }

  private def readCommit(v: Long): Commit = {
    var meta: TableMeta = null
    val adds = Seq.newBuilder[AddFile]
    val removes = Seq.newBuilder[String]
    readFully(fs, logPath(v)).linesIterator.filter(_.nonEmpty).foreach { line =>
      val node = mapper.readValue(line, classOf[java.util.Map[String, Object]])
      if (node.containsKey("meta"))
        meta = TableMeta.parse(node.get("meta").asInstanceOf[java.util.Map[String, Object]])
      else if (node.containsKey("add"))
        adds += parseAdd(node.get("add").asInstanceOf[java.util.Map[String, Object]])
      else if (node.containsKey("remove"))
        removes += node.get("remove").toString
      else
        // an action type this engine does not know CANNOT be skipped: a
        // silent skip would read a newer log format WRONG instead of loud —
        // the exact failure the feature gate exists for
        throw new IllegalStateException(
          s"unknown log action ${node.keySet.asScala.mkString("/")} in " +
            s"commit $v at $dir — written by a newer engine; refusing " +
            "to read rather than silently dropping it")
    }
    // READER feature gate: a feature-unaware scan would be silently wrong
    // (a DV-unaware reader returns deleted rows; a colmap-unaware reader
    // returns physical names) — refuse loud, naming the features
    val unknown = Option(meta).fold(Set.empty[String])(_.readerFeatures)
      .diff(GraftTable.SupportedReaderFeatures)
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"commit $v at $dir requires reader feature(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} this engine does not " +
        "implement — refusing to read (an unaware read would silently " +
        "return wrong rows); upgrade the engine to read this table")
    Commit(meta, adds.result(), removes.result())
  }

  private def checkpointLines(v: Long): Iterator[java.util.Map[String, Object]] =
    readFully(fs, checkpointPath(v)).linesIterator.filter(_.nonEmpty)
      .map(mapper.readValue(_, classOf[java.util.Map[String, Object]]))

  private def readCheckpoint(v: Long): Seq[AddFile] =
    checkpointLines(v).flatMap { node =>
      if (!node.containsKey("add") && !node.containsKey("txns"))
        // same loud-never-wrong contract as readCommit: an unknown
        // checkpoint entry type means a newer engine wrote state this one
        // would silently drop from every snapshot
        throw new IllegalStateException(
          s"unknown checkpoint entry ${node.keySet.asScala.mkString("/")} " +
            s"at $dir version $v — written by a newer engine; refusing " +
            "to read rather than silently dropping it")
      Option(node.get("add"))
        .map(a => parseAdd(a.asInstanceOf[java.util.Map[String, Object]]))
    }.toSeq

  /** The txn set a checkpoint carries: `Some` iff the checkpoint has an
    * explicit txns line (then it is COMPLETE for versions <= cp and the
    * caller may skip scanning them); `None` for legacy checkpoints, where
    * every commit still exists and a full scan stays correct.
    */
  private def readCheckpointTxns(v: Long): Option[Set[String]] =
    checkpointLines(v).flatMap(node => Option(node.get("txns"))
      .map(_.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSet))
      .nextOption()
}

private[tables] object GraftLog {
  val DirName = "_graft_log"
  val mapper = new ObjectMapper()

  private val CommitName = """(\d{20})\.json""".r
  private val CheckpointName = """(\d{20})\.checkpoint\.json""".r

  /** One listing of the log dir: committed versions and checkpoints in
    * order, plus the `.tmp-*` staging files with their modification times.
    */
  final case class Listing(versions: Seq[Long], checkpoints: Seq[Long],
      staged: Seq[(Path, Long)])

  /** One parsed commit file. */
  final case class Commit(meta: TableMeta, adds: Seq[AddFile], removes: Seq[String])

  /** Apply one commit's actions to an active-file map (a re-added path
    * keeps its position, so replay order is stable).
    */
  def applyActions(active: mutable.LinkedHashMap[String, AddFile],
      adds: Seq[AddFile], removes: Seq[String]): Unit = {
    removes.foreach(active.remove)
    adds.foreach(a => active(a.path) = a)
  }

  /** Atomically claim `p` with the fully-written `tmp`. On HDFS the
    * namenode makes rename-onto-existing fail atomically; on the LOCAL
    * filesystem the Hadoop implementations check-then-rename (and POSIX
    * rename overwrites), so two in-JVM racers could both pass the check and
    * the loser would CLOBBER the winner — the JVM-wide lock closes exactly
    * that window (found by the racing-writers stress spec). Multi-process
    * writers on a bare local filesystem remain out of scope, the same
    * per-store boundary every log-structured table format draws (a
    * production deployment is HDFS-semantics or a coordination layer).
    */
  private def renameClaim(fs: FileSystem, tmp: Path, p: Path): Boolean =
    renameLock.synchronized {
      try !fs.exists(p) && fs.rename(tmp, p) catch {
        case _: java.io.IOException => false
      }
    }
  private val renameLock = new Object

  def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** Shared AddFile serde — commits and checkpoints write the identical
    * NDJSON `{"add":{…}}` shape so one parser reads both.
    */
  private def addLine(a: AddFile): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("path", a.path); m.put("rows", a.rows); m.put("bytes", a.bytes)
    a.stats.foreach { s =>
      m.put("kind", s.kind); m.put("min", s.min); m.put("max", s.max)
    }
    if (a.pv.nonEmpty) {
      val pv = new java.util.LinkedHashMap[String, Any]()
      a.pv.foreach { case (c, v) => pv.put(c, v.orNull) } // JSON null = null key
      m.put("pv", pv)
    }
    if (a.cs.nonEmpty) {
      val cs = new java.util.LinkedHashMap[String, Any]()
      a.cs.foreach { case (c, s) =>
        val e = new java.util.LinkedHashMap[String, Any]()
        e.put("kind", s.kind); e.put("min", s.min); e.put("max", s.max)
        s.nulls.foreach(n => e.put("nulls", n))
        s.rows.foreach(r => e.put("rows", r))
        cs.put(c, e)
      }
      m.put("cs", cs)
    }
    a.dv.foreach { d => m.put("dvn", d.n); m.put("dv", d.b64) }
    a.cb.foreach(c => m.put("cb", c.asJava))
    mapper.writeValueAsString(Map("add" -> m).asJava)
  }

  private def parseAdd(m: java.util.Map[String, Object]): AddFile = {
    val stats =
      if (m.containsKey("kind"))
        Some(KeyStats(m.get("kind").toString, m.get("min").toString, m.get("max").toString))
      else None
    val pv = Option(m.get("pv"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala
        .map { case (c, v) => c -> Option(v).map(_.toString) }.toMap)
      .getOrElse(Map.empty[String, Option[String]])
    val cs = Option(m.get("cs"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map { case (c, e) =>
        val em = e.asInstanceOf[java.util.Map[String, Object]]
        c -> KeyStats(em.get("kind").toString, em.get("min").toString,
          em.get("max").toString,
          Option(em.get("nulls")).map(_.asInstanceOf[Number].longValue),
          Option(em.get("rows")).map(_.asInstanceOf[Number].longValue))
      }.toMap)
      .getOrElse(Map.empty[String, KeyStats])
    val dv = Option(m.get("dv")).map(b =>
      Dv(m.get("dvn").asInstanceOf[Number].longValue, b.toString))
    val cb = Option(m.get("cb")).map(
      _.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq)
    AddFile(m.get("path").toString,
      m.get("rows").asInstanceOf[Number].longValue, stats,
      Option(m.get("bytes")).map(_.asInstanceOf[Number].longValue).getOrElse(0L),
      pv, cs, dv, cb)
  }
}

/** One consistent read of a table: a version, its commit metadata and —
  * replayed on first use — its active files and committed txn ids, all
  * from a single log listing. Each public table statement takes one
  * snapshot (the OCC retry loop takes a fresh one per attempt).
  */
private[tables] final class Snapshot(val version: Long, val meta: TableMeta,
    log: GraftLog, val listing: GraftLog.Listing) {
  lazy val files: Seq[AddFile] = log.replay(listing, version)
  lazy val txns: Set[String] = log.committedTxns(listing)

  /** Version `v` from the same listing (time travel without re-listing). */
  def at(v: Long): Snapshot = log.snapshotIn(listing, v)

  /** The commits after this version, up to `head`'s (OCC conflict checks). */
  def commitsUntil(head: Snapshot): Seq[(Long, GraftLog.Commit)] =
    head.listing.versions.filter(w => w > version && w <= head.version)
      .map(w => w -> log.commit(w))
}
