package graft.tables

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class GraftTableSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    new java.io.File(Files.createTempDirectory("graft-table").toFile, "t").getAbsolutePath

  private def rows(t: GraftTable, asOf: Option[Long] = None): Set[(Long, String)] =
    t.snapshot(asOf).as[(Long, String)].collect().toSet

  test("create + snapshot round-trips rows and schema") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"))
    assert(t.version == 1L)
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    // reopen from disk: keyCol + schema come from the log, not the caller
    val re = GraftTable.at(spark, loc)
    assert(re.keyCol.contains("k"))
    assert(rows(re) == Set((1L, "a"), (2L, "b")))
  }

  test("append adds, overwrite replaces, time travel sees every version") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))
    assert(t.version == 3L)
    assert(rows(t) == Set((9L, "z")))
    assert(rows(t, Some(1L)) == Set((1L, "a")))
    assert(rows(t, Some(2L)) == Set((1L, "a"), (2L, "b")))
    val hist = t.history
    assert(hist.map(_.op) == Seq("create", "append", "overwrite"))
    assert(hist.map(_.version) == Seq(1L, 2L, 3L))
  }

  test("merge upserts: matched keys replaced, new keys inserted, rest kept") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), keyCol = Some("k"))
    t.merge(Seq((2L, "B"), (4L, "D")).toDF("k", "v"))
    assert(rows(t) == Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
    // column order must not matter for the source
    t.merge(Seq(("E", 5L)).toDF("v", "k"))
    assert(rows(t).contains((5L, "E")))
  }

  test("merge with disjoint key range rewrites NO files (footer-stats prune)") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"))
    val v = t.merge(Seq((100L, "x")).toDF("k", "v"))
    // the commit must remove nothing: every pre-existing file survives
    val hist = t.history
    assert(hist.last.version == v && hist.last.op == "merge")
    assert(hist.last.removed == 0,
      s"disjoint merge rewrote ${hist.last.removed} files — pruning failed")
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (100L, "x")))
  }

  test("change feed and schema evolution compose across a rename boundary") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))   // v2, pre-rename era
    t.renameColumn("v", "label")              // v3, metadata-only
    t.append(Seq((3L, "c")).toDF("k", "label")) // v4, post-rename era
    // the feed spans the rename: both eras' rows union into ONE column
    // under the TO-version's logical name (physical identity is stable)
    val feed = t.changes(0L, t.version)
    assert(feed.columns.toSeq == Seq("k", "label", "_change", "_version"))
    assert(feed.select("k", "label", "_change")
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "insert"), (2L, "b", "insert"), (3L, "c", "insert")))
    // mergeSchema append AFTER the rename: the new column's physical name
    // is its own; old files null-fill; snapshot sees all three eras
    t.append(Seq((4L, "d", 7L)).toDF("k", "label", "extra"), mergeSchema = true)
    assert(t.snapshot().as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "c", None), (4L, "d", Some(7L))))
    // a feed ending BEFORE the rename keeps the old logical name
    assert(t.changes(0L, 2L).columns.toSeq == Seq("k", "v", "_change", "_version"))
    // incremental aggregate maintenance rides the feed from any version
    // AT-or-after the rename (a bootstrap snapshot exposes ITS version's
    // logical names — to maintain across the boundary, bootstrap under
    // the new name)
    val state = IncrementalAgg.maintained(t, 3L, t.version, "label", "k")
    assert(state.as[(String, Long, Long)].collect().toSet ==
      Set(("a", 1L, 1L), ("b", 1L, 2L), ("c", 1L, 3L), ("d", 1L, 4L)))
  }

  test("restore: back to a past version's data+schema, as one NEW commit") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v")) // v2
    t.renameColumn("v", "label")            // v3
    t.overwrite(Seq((9L, "z")).toDF("k", "label")) // v4
    val restored = t.restore(2L)
    assert(restored == 5L && t.history.last.op == "restore")
    // v2's rows AND schema (pre-rename names) are back
    assert(t.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(t.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // history intact: the overwritten state is still time-travelable
    assert(t.snapshot(Some(4L)).columns.toSeq == Seq("k", "label"))
    // restore of the current version is refused; vacuumed targets loud
    intercept[IllegalArgumentException](t.restore(5L))
    t.vacuum(0L) // reclaims v4's overwrite file
    val e = intercept[IllegalStateException](t.restore(4L))
    assert(e.getMessage.contains("vacuum"))
  }

  test("optimize WHERE: only the selected partition's files are rewritten") {
    val df = Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "B", 30L), (4L, "B", 40L))
      .toDF("k", "part", "n").repartition(4)
    val t = GraftTable.create(spark, tmp(), df, partitionBy = Seq("part"))
    val filesB = t.currentFiles.filter(_.pv.get("part").contains(Some("B")))
      .map(_.path).toSet
    assert(filesB.nonEmpty)
    t.optimize(Seq("k"), targetBytes = 4096L,
      partitionPred = Some(col("part") === "A"))
    assert(t.history.last.op == "optimize")
    // B's files survived untouched; A's were rewritten
    val after = t.currentFiles
    assert(after.filter(_.pv.get("part").contains(Some("B")))
      .map(_.path).toSet == filesB, "optimize WHERE touched a pruned partition")
    assert(after.filter(_.pv.get("part").contains(Some("A")))
      .forall(f => !filesB.contains(f.path)))
    // rows unchanged
    assert(t.snapshot().as[(Long, String, Long)].collect().toSet ==
      Set((1L, "A", 10L), (2L, "A", 20L), (3L, "B", 30L), (4L, "B", 40L)))
  }

  test("mergeInto: conditional clauses, touched-file discipline, inserts") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a", 10L), (2L, "b", 20L), (100L, "z", 5L)).toDF("k", "v", "n")
        .repartitionByRange(2, col("k")), keyCol = Some("k"))
    val filesBefore = t.snapshot().inputFiles.toSet
    assert(filesBefore.size == 2)
    // source touches only the low-key file; expressions mix target cols
    // (plain names) and source cols (__src_ prefix)
    t.mergeInto(
      Seq((1L, "A"), (2L, "B"), (9L, "Q")).toDF("k", "v"),
      matched = Seq(
        (Some(col("n") < 15L), Some(Map("v" -> concat(col("__src_v"), col("v"))))),
        (Some(col("v") === "b"), None)), // delete
      notMatched = Seq(
        (Some(col("__src_k") > 5L), Map("k" -> col("__src_k"), "v" -> col("__src_v")))))
    assert(t.snapshot().as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "Aa", Some(10L)), (100L, "z", Some(5L)), (9L, "Q", None)))
    // the high-key file (k=100) was never rewritten
    assert(t.snapshot().inputFiles.toSet.intersect(filesBefore).size == 1)
    assert(t.history.last.op == "merge" && t.history.last.removed == 1)
    // matched row hit by NO clause survives untouched; no-clause call loud
    intercept[IllegalArgumentException](t.mergeInto(
      Seq((1L, "x")).toDF("k", "v"), Seq.empty, Seq.empty))
  }

  test("compound-ON merge: zone-map-refuted files pruned, never rewritten") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("k", "grp", "n").coalesce(1),
      keyCol = Some("k"))
    t.append(Seq((3L, "b", 30L), (4L, "b", 40L)).toDF("k", "grp", "n").coalesce(1))
    val filesBefore = t.snapshot().inputFiles.toSet
    assert(filesBefore.size == 2)
    // source keys [2, 4] intersect BOTH files' key ranges, so key-range
    // pruning alone keeps both; the target-only residue grp = 'a' is
    // refuted by the 'b' file's logged zone map (grp ∈ [b, b])
    val src = Seq((2L, 200L), (4L, 400L)).toDF("k", "sn")
    assert(t.mergeCandidateFiles(src, None).size == 2)
    val pruned = t.mergeCandidateFiles(src, Some(col("grp") === "a"))
    assert(pruned.size == 1,
      s"zone-map prune kept ${pruned.size} candidate files, expected 1")
    // end-to-end semantics under the same residue: k=2 (grp=a) fully
    // matches -> updated; k=4 (grp=b) key-matches but fails the residue ->
    // target row untouched, source row INSERTS (standard MERGE routing)
    t.mergeInto(src,
      matched = Seq((None, Some(Map("n" -> col("__src_sn"))))),
      notMatched = Seq((None, Map("k" -> col("__src_k"),
        "grp" -> lit("new"), "n" -> col("__src_sn")))),
      extraOn = Some(col("grp") === "a"))
    assert(t.snapshot().as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 10L), (2L, "a", 200L), (3L, "b", 30L),
        (4L, "b", 40L), (4L, "new", 400L)))
    // only the 'a' file was rewritten; the refuted 'b' file survives
    assert(t.history.last.op == "merge" && t.history.last.removed == 1)
    assert(t.snapshot().inputFiles.toSet.intersect(filesBefore).size == 1)
  }

  test("dropColumn retires the physical binding; rename onto it is refused") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "x", 2L)).toDF("k", "a", "b"), keyCol = Some("k"))
    t.dropColumn("b")
    assert(t.schema.fieldNames.toSeq == Seq("k", "a"))
    assert(t.history.last.op == "dropColumn" && t.history.last.removed == 0)
    // the retired physical name is not reusable as a rename target
    val e = intercept[IllegalArgumentException](t.renameColumn("a", "b"))
    assert(e.getMessage.contains("retired physical name"), e.getMessage)
    // the key column and the last remaining column cannot be dropped
    assert(intercept[IllegalArgumentException](t.dropColumn("k"))
      .getMessage.contains("key"))
    val single = GraftTable.create(spark, tmp(), Seq(Tuple1(1L)).toDF("x"))
    assert(intercept[IllegalArgumentException](single.dropColumn("x"))
      .getMessage.contains("last column"))
  }

  test("restore to a pre-drop version revives the column and its binding") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a", 10L)).toDF("k", "v", "n"), keyCol = Some("k"))
    val vPre = t.version
    t.dropColumn("v")
    t.append(Seq((2L, 20L)).toDF("k", "n"))
    // the restore re-binds 'v''s physical name: it must leave the retired
    // list (the commit invariant would otherwise refuse the restore)
    t.restore(vPre)
    assert(t.schema.fieldNames.toSeq == Seq("k", "v", "n"))
    assert(t.snapshot().as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 10L)))
    // and the revived column drops again cleanly
    t.dropColumn("v")
    assert(t.schema.fieldNames.toSeq == Seq("k", "n"))
  }

  test("merge rejects duplicate source keys loudly") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a")).toDF("k", "v"), keyCol = Some("k"))
    val e = intercept[IllegalArgumentException] {
      t.merge(Seq((2L, "x"), (2L, "y")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("merge rejects null source keys with a null-specific message") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a")).toDF("k", "v"), keyCol = Some("k"))
    // a null key would silently vanish in the semi/anti joins — and before
    // the explicit guard, count_distinct's null-skipping miscounted it as a
    // "duplicate"; the message must name the real problem
    val e = intercept[IllegalArgumentException] {
      t.merge(Seq((Some(2L), "x"), (None, "y"))
        .toDF("k", "v").select(col("k").cast("long").as("k"), col("v")))
    }
    assert(e.getMessage.contains("null"), s"got: ${e.getMessage}")
    assert(!e.getMessage.contains("duplicate"))
  }

  test("update rewrites only touched files; assignments see old values") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .repartitionByRange(2, col("k"))) // two files: k=1 | k=2
    val filesBefore = t.snapshot().inputFiles.toSet
    assert(filesBefore.size == 2)
    // assignment references the row's own current values
    t.update(Map("v" -> concat(col("v"), lit("!"), col("k"))), col("k") === 2L)
    assert(rows(t) == Set((1L, "a"), (2L, "b!2")))
    // the k=1 file was not rewritten
    assert(t.snapshot().inputFiles.toSet.intersect(filesBefore).size == 1)
    val info = t.history.last
    assert(info.op == "update" && info.removed == 1)
    // null condition keeps rows (standard DML); no-match update is a no-op
    val v0 = t.version
    t.update(Map("v" -> lit("zap")), lit(null).cast("boolean"))
    assert(t.version == v0 && rows(t) == Set((1L, "a"), (2L, "b!2")))
    // unknown column is loud
    intercept[IllegalArgumentException](
      t.update(Map("nope" -> lit(1)), col("k") === 1L))
  }

  test("deleteWhere removes matching rows; non-matching files untouched") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), keyCol = Some("k"))
    t.deleteWhere(col("k") === 2L)
    assert(rows(t) == Set((1L, "a"), (3L, "c")))
    // no-match delete is a no-op commit-wise (version unchanged)
    val v = t.version
    assert(t.deleteWhere(col("k") === 999L) == v)
    assert(t.version == v)
  }

  test("racing writers: commitFiles retries land every txn exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = GraftTable.create(spark, tmp(), Seq((0L, "z")).toDF("k", "v"))
    val v0 = t.version
    // 8 writers race on the version counter with distinct txns; every one
    // must land exactly once despite create-new collisions
    val fs = (1 to 8).map(i => Future {
      t.commitFiles("stress", Nil, Some(s"stress-$i"))
    })
    Await.result(Future.sequence(fs), 120.seconds)
    assert(t.version == v0 + 8, s"expected ${v0 + 8} versions, got ${t.version}")
    // replaying every txn is a no-op
    (1 to 8).foreach(i => t.commitFiles("stress", Nil, Some(s"stress-$i")))
    assert(t.version == v0 + 8, "a replayed txn committed again")
  }

  test("racing appendIfAbsent on the SAME txn commits the rows once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = GraftTable.create(spark, tmp(), Seq((0L, "z")).toDF("k", "v"))
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val fs = (1 to 6).map(_ => Future { t.appendIfAbsent("same-txn", df) })
    Await.result(Future.sequence(fs), 120.seconds)
    // exactly one append landed; losers backed off on txn re-check
    assert(rows(t) == Set((0L, "z"), (1L, "a"), (2L, "b")))
    assert(t.history.count(_.op == "append") == 1,
      s"duplicate append commits: ${t.history.map(_.op)}")
  }

  test("racing blind appends all land: OCC retry re-commits written files") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = GraftTable.create(spark, tmp(), Seq((0L, "z")).toDF("k", "v"))
    val v0 = t.version
    val fs = (1 to 8).map(i => Future {
      t.append(Seq((i.toLong, s"w$i")).toDF("k", "v"))
    })
    Await.result(Future.sequence(fs), 120.seconds)
    assert(t.version == v0 + 8, s"expected ${v0 + 8} versions, got ${t.version}")
    assert(rows(t) == ((0L, "z") +: (1 to 8).map(i => (i.toLong, s"w$i"))).toSet)
    assert(t.history.count(_.op == "append") == 8)
  }

  test("append retry refuses to sail past a concurrent definition change") {
    // constraints: rows written before the constraint landed were never
    // validated against it — the retry must fail loud, not commit them
    val loc = tmp()
    val t1 = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val t2 = GraftTable.at(spark, loc)
    // the constraint lands between t1's write and its log write: t1's rows
    // were validated under NO constraints, and the head now has one
    t1.onNextCommitAttempt = () => t2.addConstraint("k_pos", "k > 0")
    val ec = intercept[IllegalStateException] {
      t1.append(Seq((2L, "b")).toDF("k", "v"))
    }
    assert(ec.getMessage.contains("constraints changed concurrently"), ec.getMessage)
    assert(GraftTable.at(spark, loc).history.map(_.op) == Seq("create", "addConstraint"))
    // partitioning / merge-key changes: any commit from the stale handle is
    // refused (covers the retry path and plain sequential misuse alike)
    t2.setPartitioning(Seq("v"))
    val e = intercept[IllegalArgumentException](
      t1.append(Seq((2L, "b")).toDF("k", "v")))
    assert(e.getMessage.contains("stale table handle"), e.getMessage)
  }

  test("concurrent commit on the same version loses loudly") {
    val loc = tmp()
    val t1 = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val t2 = GraftTable.at(spark, loc)
    // both writers observed version 1; t1 commits version 2 first, then
    // t2's stale commit against expected-version 1 must hit the create-new
    // guard and throw — never overwrite t1's commit
    t1.append(Seq((2L, "b")).toDF("k", "v"))
    val before = rows(t1)
    intercept[GraftTable.ConcurrentCommitException] {
      t2.commit(1L, "append", Seq.empty, Seq.empty)
    }
    assert(t1.version == 2L)
    assert(rows(t1) == before)
  }

  // ---- GENERATED ALWAYS AS columns

  test("generated columns: derived at create/append/merge, validated when supplied") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "x")).toDF("k", "v"), keyCol = Some("k"),
      generatedColumns = Map("vu" -> "upper(v)"))
    assert(t.generatedColumns == Map("vu" -> "upper(v)"))
    def vu(): Set[(Long, String)] =
      t.snapshot().select("k", "vu").as[(Long, String)].collect().toSet
    assert(vu() == Set((1L, "X")))
    // append WITHOUT the column → derived per row inside the write
    t.append(Seq((2L, "y")).toDF("k", "v"))
    // append WITH a matching value → accepted
    t.append(Seq((3L, "z", "Z")).toDF("k", "v", "vu"))
    // a contradicting supplied value aborts and commits NOTHING
    val v = t.version
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((4L, "w", "nope")).toDF("k", "v", "vu"))
    }
    assert(e.getMessage.contains("generated_vu"), e.getMessage)
    assert(t.version == v, "violating append committed")
    // merge source without the column → derived on insert AND replace
    t.merge(Seq((2L, "q"), (5L, "r")).toDF("k", "v"))
    assert(vu() == Set((1L, "X"), (2L, "Q"), (3L, "Z"), (5L, "R")))
  }

  test("generated columns: UPDATE on a source column auto-recomputes") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"),
      generatedColumns = Map("vu" -> "upper(v)"))
    t.update(Map("v" -> concat(col("v"), lit("!"))), col("k") === 1L)
    assert(t.snapshot().select("k", "v", "vu").as[(Long, String, String)]
      .collect().toSet == Set((1L, "a!", "A!"), (2L, "b", "B")))
    // assigning the generated column a contradicting value aborts
    intercept[IllegalArgumentException] {
      t.update(Map("v" -> lit("c"), "vu" -> lit("WRONG")), col("k") === 2L)
    }
    assert(t.snapshot().where(col("k") === 2L).select("vu").head().getString(0) == "B")
    // assigning it NULL explicitly re-derives
    t.update(Map("vu" -> lit(null)), col("k") === 2L)
    assert(t.snapshot().where(col("k") === 2L).select("vu").head().getString(0) == "B")
  }

  test("generated columns: source rename/drop guarded, generated col droppable") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a")).toDF("k", "v"),
      generatedColumns = Map("vu" -> "upper(v)"))
    val e1 = intercept[IllegalArgumentException](t.renameColumn("v", "w"))
    assert(e1.getMessage.contains("derives from it"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](t.dropColumn("v"))
    assert(e2.getMessage.contains("derives from it"), e2.getMessage)
    // nondeterministic / self-referential expressions are refused at create
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"),
        generatedColumns = Map("r" -> "rand()"))
    }
    // dropping the generated column itself frees the source
    t.dropColumn("vu")
    t.renameColumn("v", "w")
    assert(t.schema.fieldNames.toSeq == Seq("k", "w"))
  }

  // ---- UNIQUE KEY enforcement (opt-in)

  test("unique key: writes validate in-batch and against surviving files") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"),
      uniqueKey = true)
    assert(t.uniqueKeyEnforced)
    t.append(Seq((3L, "c")).toDF("k", "v")) // disjoint: fine
    val v = t.version
    val e1 = intercept[IllegalArgumentException] {
      t.append(Seq((4L, "d"), (4L, "e")).toDF("k", "v"))
    }
    assert(e1.getMessage.contains("duplicate key"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      t.append(Seq((2L, "z")).toDF("k", "v"))
    }
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    assert(t.version == v, "violating write committed")
    // merge REPLACES key 2 — uniqueness preserved, allowed
    t.merge(Seq((2L, "B"), (5L, "E")).toDF("k", "v"))
    // UPDATE must not reassign the unique key
    val e3 = intercept[IllegalArgumentException] {
      t.update(Map("k" -> lit(9L)), col("k") === 1L)
    }
    assert(e3.getMessage.contains("UNIQUE merge key"), e3.getMessage)
    // overwrite replaces everything but still refuses in-batch duplicates
    intercept[IllegalArgumentException] {
      t.overwrite(Seq((7L, "x"), (7L, "y")).toDF("k", "v"))
    }
    assert(rows(t) == Set((1L, "a"), (2L, "B"), (3L, "c"), (5L, "E")))
    // declaration guards
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(),
        Seq((1L, "a"), (1L, "b")).toDF("k", "v"), keyCol = Some("k"),
        uniqueKey = true)
    }
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"),
        uniqueKey = true) // no keyCol
    }
  }

  test("unique key: commit races fail loud; forged merge-insert keys refused") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"),
      keyCol = Some("k"), uniqueKey = true)
    val t2 = GraftTable.at(spark, loc)
    // the uniqueness probe ran against the pre-race head — the rebase
    // must not sail past it
    t.onNextCommitAttempt = () => t2.append(Seq((2L, "b")).toDF("k", "v"))
    val e = intercept[IllegalStateException] {
      t.append(Seq((3L, "c")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("UNIQUE KEY"), e.getMessage)
    assert(rows(GraftTable.at(spark, loc)) == Set((1L, "a"), (2L, "b")))
    // a NOT MATCHED clause forging a constant key that already exists
    val e4 = intercept[IllegalArgumentException] {
      t2.mergeInto(Seq((99L, "q")).toDF("k", "v"),
        matched = Seq.empty,
        notMatched = Seq((None,
          Map("k" -> lit(1L), "v" -> col("__src_v")))))
    }
    assert(e4.getMessage.contains("already exists"), e4.getMessage)
  }

  test("unique key: a mergeInto insert forging a racing winner's key fails loud") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"),
      keyCol = Some("k"), uniqueKey = true)
    val t2 = GraftTable.at(spark, loc)
    // the winner lands key 5 after the merge's uniqueness probe; the merge
    // inserts key 5 from source key 99, outside the source's key range, so
    // only the UNIQUE KEY guard can see the collision
    t.onNextCommitAttempt = () => t2.append(Seq((5L, "w")).toDF("k", "v"))
    val e = intercept[IllegalStateException] {
      t.mergeInto(Seq((99L, "q")).toDF("k", "v"),
        matched = Seq.empty,
        notMatched = Seq((None, Map("k" -> lit(5L), "v" -> col("__src_v")))))
    }
    assert(e.getMessage.contains("UNIQUE KEY"), e.getMessage)
    val re = GraftTable.at(spark, loc)
    assert(re.history.map(_.op) == Seq("create", "append"))
    assert(rows(re) == Set((1L, "a"), (5L, "w")))
  }

  // ---- history operation metrics

  test("history reports per-commit row/byte metrics from the log fold") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), keyCol = Some("k"))
    t.deleteWhere(col("k") === 1L)
    val h = t.history
    assert(h.head.op == "create" && h.head.rowsAdded == 2 &&
      h.head.rowsRemoved == 0 && h.head.bytesAdded > 0)
    val del = h.last
    assert(del.op == "delete")
    // whichever route the delete took (DV re-add or rewrite), the NET rows
    // removed must be exactly one
    assert(del.rowsRemoved - del.rowsAdded == 1,
      s"delete metrics: removed ${del.rowsRemoved}, added ${del.rowsAdded}")
  }

  // ---- path-based batch read (the non-catalog spark.read face)

  test("spark.read.format(graft-table) serves snapshots and time travel") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    def read(opts: (String, String)*): Set[(Long, String)] =
      opts.foldLeft(spark.read.format("graft-table").option("path", loc)) {
        case (r, (k, v)) => r.option(k, v)
      }.load().as[(Long, String)].collect().toSet
    assert(read() == Set((1L, "a"), (2L, "b")))
    assert(read("versionAsOf" -> "1") == Set((1L, "a")))
    // timestampAsOf: the newest commit at-or-before version 1's timestamp
    val ts1 = t.history.find(_.version == 1L).get.ts
    assert(read("timestampAsOf" -> ts1.toString) == Set((1L, "a")))
  }

  // ---- batch CDF read (the SQL face of changes())

  test("batch CDF read equals the changes() API, classifyUpdates carries") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"))
    t.merge(Seq((2L, "B"), (3L, "c")).toDF("k", "v"))
    t.deleteWhere(col("k") === 1L)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val api = t.changes(1L, t.version)
    val batch = spark.read.format("graft-table-cdf")
      .option("path", loc).option("startingVersion", "1").load()
    assert(canon(batch) == canon(api))
    // default range = (0, current]: includes the create commit's inserts
    val full = spark.read.format("graft-table-cdf").option("path", loc).load()
    assert(canon(full) == canon(t.changes(0L, t.version)))
    // classifyUpdates re-tags the merge's in-place change as pre/post image
    val classified = spark.read.format("graft-table-cdf")
      .option("path", loc).option("startingVersion", "1")
      .option("classifyUpdates", "true").load()
    assert(canon(classified) == canon(t.changes(1L, t.version, classifyUpdates = true)))
    assert(classified.where(col("_change") === "update_preimage").count() == 1)
    // timestamp bounds resolve to versions (newest at-or-before)
    val ts1 = t.history.find(_.version == 1L).get.ts
    val byTs = spark.read.format("graft-table-cdf")
      .option("path", loc).option("startingTimestamp", ts1.toString).load()
    assert(canon(byTs) == canon(api))
  }

  // ---- GENERATED ... AS IDENTITY columns

  test("identity columns: unique values across appends, ALWAYS refuses supplied") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      identityColumns = Map("id" -> GraftTable.IdentitySpec(1L, 1L)))
    t.append(Seq((3L, "c"), (4L, "d")).toDF("k", "v"))
    t.append(Seq((5L, "e")).toDF("k", "v"))
    val ids = t.snapshot().select("id").as[Long].collect()
    assert(ids.length == 5 && ids.distinct.length == 5,
      s"identity values not unique: ${ids.mkString(",")}")
    assert(ids.forall(_ >= 1L), s"value below start: ${ids.min}")
    // GENERATED ALWAYS: supplying or assigning the column is refused
    val e1 = intercept[IllegalArgumentException] {
      t.append(Seq((6L, "f", 99L)).toDF("k", "v", "id"))
    }
    assert(e1.getMessage.contains("GENERATED ALWAYS"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      t.update(Map("id" -> lit(0L)), col("k") === 1L)
    }
    assert(e2.getMessage.contains("GENERATED ALWAYS"), e2.getMessage)
  }

  test("identity BY DEFAULT: explicit values pass, hwm advances past them") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a")).toDF("k", "v"),
      identityColumns = Map("id" ->
        GraftTable.IdentitySpec(1L, 1L, allowExplicit = true)))
    // explicit value accepted; the next assignment must not collide with it
    t.append(Seq((2L, "b", 1000L)).toDF("k", "v", "id"))
    t.append(Seq((3L, "c")).toDF("k", "v"))
    val byK = t.snapshot().select("k", "id").as[(Long, Long)].collect().toMap
    assert(byK(2L) == 1000L)
    assert(byK(3L) > 1000L,
      s"assigned value ${byK(3L)} did not advance past the explicit 1000")
    assert(byK.values.toSeq.distinct.size == 3)
  }

  test("identity race: concurrent identity-assigning append fails loud") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"),
      identityColumns = Map("id" -> GraftTable.IdentitySpec(1L, 1L)))
    val t2 = GraftTable.at(spark, loc)
    t.onNextCommitAttempt = () => t2.append(Seq((2L, "b")).toDF("k", "v"))
    val e = intercept[IllegalStateException] {
      t.append(Seq((3L, "c")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("identity"), e.getMessage)
    // the winner's values stand; a re-run assigns fresh ones beyond them
    val t3 = GraftTable.at(spark, loc)
    t3.append(Seq((3L, "c")).toDF("k", "v"))
    val ids = t3.snapshot().select("id").as[Long].collect()
    assert(ids.distinct.length == 3, s"collision after re-run: ${ids.mkString(",")}")
  }

  // ---- round-13 hardening (ADVICE r12)

  test("identity columns must be BIGINT — narrower types would wrap") {
    // the API path declares BIGINT slots itself; a narrow type can only
    // arrive via schema metadata (SQL DDL / REPLACE) — forge one and vet
    import org.apache.spark.sql.types._
    val idMeta = new MetadataBuilder()
      .putLong("identity.start", 1L).putLong("identity.step", 1L).build()
    val narrow = StructType(Seq(
      StructField("id", IntegerType, true, idMeta),
      StructField("k", LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], narrow)
    val e = intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), df)
    }
    assert(e.getMessage.contains("must be BIGINT"), e.getMessage)
    // REPLACE with a narrow identity definition is refused the same way
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    val e2 = intercept[IllegalArgumentException] { t.replaceWith(df) }
    assert(e2.getMessage.contains("must be BIGINT"), e2.getMessage)
  }

  test("overwriteWhere is null-strict: NULL partition rows cannot smuggle in") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, Option("A")), (2L, Option("B")), (3L, None: Option[String]))
        .toDF("k", "p"), partitionBy = Seq("p"))
    val v = t.version
    // a NULL p row passes `p = 'A'` under SQL-CHECK null-passes semantics
    // but does NOT belong to the replaced partition — must abort
    val e = intercept[IllegalArgumentException] {
      t.overwriteWhere(col("p") === "A", "`p` = 'A'",
        Seq((10L, Option("A")), (11L, None: Option[String])).toDF("k", "p"))
    }
    assert(e.getMessage.contains("overwrite_partition_scope"), e.getMessage)
    assert(t.version == v, "violating partition overwrite committed")
    // the surviving null partition still holds exactly its original row
    assert(t.snapshot().where(col("p").isNull).count() == 1)
  }

  test("unique key: append rebases past a layout-only compact winner") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"),
      uniqueKey = true)
    t.append(Seq((3L, "c")).toDF("k", "v"))
    val t2 = GraftTable.at(spark, loc)
    // a dataChange=false winner cannot introduce keys — the append's
    // already-written files re-commit at the new head instead of failing
    t.onNextCommitAttempt = () => t2.compact()
    t.append(Seq((4L, "d")).toDF("k", "v"))
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(GraftTable.at(spark, loc).history.map(_.op) ==
      Seq("create", "append", "compact", "append"))
  }

  test("user constraints cannot use the reserved _graft_ prefix") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] {
      t.addConstraint("_graft_generated_v", "v IS NOT NULL")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"),
        constraints = Map("_graft_scope" -> "k > 0"))
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  // ---- WRITE-TIME SORT ORDER (sorted tables)

  test("setSortOrder: appends land range-disjoint files that zone-map prune") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "seed")).toDF("k", "v"), keyCol = Some("k"))
    t.setSortOrder(Seq("k"))
    assert(t.sortOrder == Seq("k"))
    assert(t.history.last.op == "setSortOrder")
    // a shuffled, multi-task append: without the sort every file would
    // span the whole key domain and nothing could prune
    val big = spark.range(0, 4000).selectExpr(
      "CAST(pmod(id * 2654435761, 4000) + 100 AS BIGINT) AS k",
      "concat('v', id) AS v").repartition(8)
    // stop AQE merging the range shuffle at test scale — production-size
    // appends split naturally; the point here is cross-FILE disjointness
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try t.append(big)
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val files = t.filesAt(t.version).filter(_.rows > 1)
    assert(files.size >= 2, s"want multiple data files, got ${files.size}")
    // every multi-row file owns a narrow slice: point lookups prune to ≤1
    // of them (+ the seed file)
    val cands = t.scanCandidates(col("k") === 500L, t.version)
    assert(cands.size <= 2,
      s"sorted write did not prune: ${cands.size} of ${files.size + 1} files")
    // reopen from disk: the order comes from the log; clearing stops sorting
    assert(GraftTable.at(spark, loc).sortOrder == Seq("k"))
    t.setSortOrder(Nil)
    assert(t.sortOrder.isEmpty)
    intercept[IllegalArgumentException](t.setSortOrder(Seq("nope")))
  }

  test("timestamp zone maps: time-banded files prune on point and range lookups") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val loc = tmp()
    // three appends = three files, each owning a disjoint one-day band —
    // the layout a time-keyed ingest table has naturally
    val t = GraftTable.create(spark, loc, Seq(
      (ts("2026-01-01 00:00:00"), 1L), (ts("2026-01-01 23:00:00"), 2L))
      .toDF("ts", "v").coalesce(1))
    t.append(Seq((ts("2026-01-02 00:00:00"), 3L), (ts("2026-01-02 23:00:00"), 4L))
      .toDF("ts", "v").coalesce(1))
    t.append(Seq((ts("2026-01-03 00:00:00"), 5L), (ts("2026-01-03 23:00:00"), 6L))
      .toDF("ts", "v").coalesce(1))
    assert(t.filesAt(t.version).size == 3)
    // the logged stats are epoch-MICROS "ts" intervals
    val cs = t.filesAt(t.version).flatMap(_.cs.get("ts"))
    assert(cs.size == 3 && cs.forall(_.kind == "ts"),
      s"want 3 'ts' zone maps, got $cs")
    // a point BETWEEN the bands refutes every file; a point inside one
    // band reads exactly that band
    val p = t.scanCandidates(col("ts") === lit(ts("2026-01-01 23:30:00")), t.version)
    assert(p.isEmpty, s"between-bands lookup read ${p.size} files")
    val p2 = t.scanCandidates(col("ts") === lit(ts("2026-01-02 23:00:00")), t.version)
    assert(p2.size == 1, s"point lookup read ${p2.size} of 3 files")
    // range predicate reads only the overlapping bands — including when the
    // bound arrives as a STRING the analyzer coerces (the SQL-face shape)
    val r = t.scanCandidates(col("ts") >= lit(ts("2026-01-03 00:00:00")), t.version)
    assert(r.size == 1, s"range scan read ${r.size} of 3 files")
    val r2 = t.scanCandidates(col("ts") > lit("2026-01-01 23:59:59"), t.version)
    assert(r2.size == 2, s"coerced-literal range read ${r2.size} of 3 files")
    // pruning never changes results: scan == full filter
    val full = t.snapshot().where(col("ts") >= ts("2026-01-02 00:00:00"))
      .select("v").as[Long].collect().toSet
    val pruned = t.scan(col("ts") >= ts("2026-01-02 00:00:00"))
      .select("v").as[Long].collect().toSet
    assert(full == pruned && full == Set(3L, 4L, 5L, 6L))
    // a sorted time-keyed table: the verdict's "#1 pruning dimension" path
    t.setSortOrder(Seq("ts"))
    assert(t.sortOrder == Seq("ts"))
  }

  test("setSortOrder: survives rename by physical name; drops with the column") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, 2L, "a")).toDF("k", "s", "v"))
    t.setSortOrder(Seq("s"))
    t.renameColumn("s", "s2")
    assert(t.sortOrder == Seq("s2"), s"sort order lost across rename: ${t.sortOrder}")
    t.dropColumn("s2")
    assert(t.sortOrder.isEmpty, "sort order outlived its column")
  }

  // ---- PROTOCOL feature gate (reader/writer features in the commit log)

  test("protocol: features are derived from use, sticky across purges") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      keyCol = Some("k"), constraints = Map("k_pos" -> "k > 0"))
    // a plain-ish table declares only what it uses
    assert(t.features == (Seq(), Seq("check-constraints")), t.features)
    // a sparse delete lands a deletion vector → reader feature appears
    t.deleteWhere(col("k") === 7L)
    assert(t.features._1 == Seq("deletion-vectors"), t.features)
    // compaction purges the DVs, but the feature STAYS (time travel to the
    // DV-bearing commit must keep refusing on pre-DV engines)
    t.compact()
    assert(t.filesAt(t.version).forall(_.dv.isEmpty), "compact left DVs")
    assert(t.features._1 == Seq("deletion-vectors"), "feature not sticky")
    // rename → column-mapping; sort policy → sort-order
    t.renameColumn("v", "val")
    t.setSortOrder(Seq("k"))
    assert(t.features == (Seq("column-mapping", "deletion-vectors"),
      Seq("check-constraints", "sort-order")), t.features)
  }

  test("protocol: unknown reader feature refuses reads; writer feature refuses only writes") {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def futureCommit(loc: String, v: Long, extra: (String, Object)): Unit = {
      val logDir = new java.io.File(loc, "_graft_log")
      val v1 = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(logDir, f"${1L}%020d.json").toPath), "UTF-8")
      val meta = mapper.readValue(v1.linesIterator.next(),
        classOf[java.util.Map[String, Object]])
      meta.get("meta").asInstanceOf[java.util.Map[String, Object]]
        .put(extra._1, extra._2)
      java.nio.file.Files.write(new java.io.File(logDir, f"$v%020d.json").toPath,
        mapper.writeValueAsString(meta).getBytes("UTF-8"))
    }
    // reader feature from the future → ANY read fails loud, naming it
    val locR = tmp()
    GraftTable.create(spark, locR, Seq((1L, "a")).toDF("k", "v"))
    futureCommit(locR, 2L, "readerFeatures" -> Seq("future-magic").asJava)
    val er = intercept[IllegalStateException](
      GraftTable.at(spark, locR).snapshot().count())
    assert(er.getMessage.contains("future-magic") &&
      er.getMessage.contains("reader feature"), er.getMessage)
    // writer feature from the future → reads fine, commits refused loud
    val locW = tmp()
    GraftTable.create(spark, locW, Seq((1L, "a")).toDF("k", "v"))
    futureCommit(locW, 2L, "writerFeatures" -> Seq("future-write").asJava)
    val t2 = GraftTable.at(spark, locW)
    assert(rows(t2) == Set((1L, "a")), "writer feature blocked a read")
    val ew = intercept[IllegalStateException](
      t2.append(Seq((2L, "b")).toDF("k", "v")))
    assert(ew.getMessage.contains("future-write") &&
      ew.getMessage.contains("writer feature"), ew.getMessage)
    assert(rows(GraftTable.at(spark, locW)) == Set((1L, "a")))
  }

  test("protocol: unknown log action type fails loud instead of silent skip") {
    val loc = tmp()
    GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val logDir = new java.io.File(loc, "_graft_log")
    val v1 = new java.io.File(logDir, f"${1L}%020d.json").toPath
    val line = new String(java.nio.file.Files.readAllBytes(v1), "UTF-8")
      .linesIterator.next() // the meta line
    java.nio.file.Files.write(new java.io.File(logDir, f"${2L}%020d.json").toPath,
      (line + "\n" + """{"tombstone":{"path":"part-x.parquet"}}""" + "\n")
        .getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      GraftTable.at(spark, loc).snapshot().count())
    assert(e.getMessage.contains("tombstone") &&
      e.getMessage.contains("unknown log action"), e.getMessage)
  }

  // ---- BRANCH refs (write-audit-publish)

  test("branch: writes are invisible to main until fastForward publishes them") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"))
    val b = t.createBranch("audit")
    assert(t.branchPoint("audit") == t.version)
    assert(t.listBranches == Seq("audit"))
    // ingest + DML on the branch through the full machinery
    b.append(Seq((3L, "c"), (4L, "d")).toDF("k", "v"))
    b.deleteWhere(col("k") === 1L)
    b.merge(Seq((2L, "B")).toDF("k", "v"))
    // main is untouched; the branch sees its own state
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    assert(rows(b) == Set((2L, "B"), (3L, "c"), (4L, "d")))
    // audit passed → publish: ONE atomic main commit, branch consumed
    val v = t.fastForward("audit")
    assert(rows(t) == Set((2L, "B"), (3L, "c"), (4L, "d")))
    assert(t.history.last.op == "fastForward" && t.history.last.version == v)
    assert(t.listBranches.isEmpty)
    // published state is self-contained: reopen + read from disk
    assert(rows(GraftTable.at(spark, loc)) == Set((2L, "B"), (3L, "c"), (4L, "d")))
    // pre-publish main state still time-travels
    assert(rows(t, Some(v - 1)) == Set((1L, "a"), (2L, "b")))
  }

  test("branch: publish refused when main advanced or DDL diverged; branch intact") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val b = t.createBranch("wap")
    b.append(Seq((2L, "b")).toDF("k", "v"))
    // main moves past the branch point → fast-forward precondition fails
    t.append(Seq((9L, "z")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](t.fastForward("wap"))
    assert(e.getMessage.contains("advanced"), e.getMessage)
    // the branch survives the refused publish (retry-able after re-branch)
    assert(rows(t.branch("wap")) == Set((1L, "a"), (2L, "b")))
    t.dropBranch("wap")
    // DDL divergence is refused: a publish carries data, not definitions
    val b2 = t.createBranch("ddl")
    b2.addConstraint("k_pos", "k > 0")
    val e2 = intercept[IllegalArgumentException](t.fastForward("ddl"))
    assert(e2.getMessage.contains("DEFINITION"), e2.getMessage)
    t.dropBranch("ddl")
    // write-POLICY divergence (sort/bloom config) is refused too — a
    // diff-publish cannot carry it and must not drop it silently
    val b4 = t.createBranch("pol")
    b4.setSortOrder(Seq("k"))
    val e4 = intercept[IllegalArgumentException](t.fastForward("pol"))
    assert(e4.getMessage.contains("policy"), e4.getMessage)
    t.dropBranch("pol")
    intercept[IllegalArgumentException](t.branch("nope"))
    intercept[IllegalArgumentException](t.createBranch("1bad"))
    // a branch of a branch would escape main-vacuum's one-level scan: loud
    val b3 = t.createBranch("outer")
    val e3 = intercept[IllegalArgumentException](b3.createBranch("inner"))
    assert(e3.getMessage.contains("branch a branch"), e3.getMessage)
    t.dropBranch("outer")
  }

  test("branch: deletion vector cut on a branch publishes; vacuum respects refs") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      keyCol = Some("k"))
    val b = t.createBranch("gdpr")
    // sparse delete on the branch lands as a DV on the INHERITED reference
    b.deleteWhere(col("k") === 7L)
    assert(rows(b).size == 99)
    // main rewrites everything (overwrite) — its old file is now unreferenced
    // by MAIN, but the live branch still needs it: vacuum must keep it
    t.overwrite(Seq((999L, "x")).toDF("k", "v"))
    assert(t.vacuum(retentionMs = 0L).isEmpty,
      "vacuum reclaimed a branch-referenced file")
    assert(rows(b).size == 99, "branch read broke after vacuum")
    // abandon the branch → the file becomes a true orphan
    t.dropBranch("gdpr")
    assert(t.vacuum(retentionMs = 0L).nonEmpty)
  }

  test("branch: publish losing the commit race rolls moved files back") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val b = t.createBranch("r")
    b.append(Seq((2L, "b")).toDF("k", "v"))
    // a winner lands between fastForward's version check and its log write
    val t2 = GraftTable.at(spark, loc)
    t.onNextCommitAttempt = () => t2.append(Seq((9L, "z")).toDF("k", "v"))
    intercept[GraftTable.ConcurrentCommitException](t.fastForward("r"))
    // the branch survives INTACT (its local file was moved back) and main
    // holds only the winner — the publish can re-apply after re-branching
    assert(rows(t.branch("r")) == Set((1L, "a"), (2L, "b")))
    assert(rows(GraftTable.at(spark, loc)) == Set((1L, "a"), (9L, "z")))
    t.dropBranch("r")
  }

  test("branch: publish carries a branch-side DV back onto the main file") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      keyCol = Some("k"))
    val b = t.createBranch("fix")
    b.deleteWhere(col("k") === 7L)
    b.append(Seq((101L, "new")).toDF("k", "v"))
    t.fastForward("fix")
    assert(t.snapshot().count() == 100) // 99 survivors + 1 new
    assert(t.snapshot().where(col("k") === 7L).count() == 0)
    assert(t.snapshot().where(col("k") === 101L).count() == 1)
  }

  test("clone/branch of an identity table carries the high-water mark") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      identityColumns = Map("id" -> GraftTable.IdentitySpec(1L, 1L)))
    val c = t.cloneTo(tmp())
    c.append(Seq((3L, "c")).toDF("k", "v"))
    val cloneIds = c.snapshot().select("id").as[Long].collect()
    assert(cloneIds.distinct.length == 3,
      s"clone identity collision: ${cloneIds.mkString(",")}")
    val b = t.createBranch("ids")
    b.append(Seq((4L, "d")).toDF("k", "v"))
    t.fastForward("ids")
    val ids = t.snapshot().select("id").as[Long].collect()
    assert(ids.distinct.length == 3, s"branch identity collision: ${ids.mkString(",")}")
    // the published assignment advances MAIN's hwm (no later collision)
    t.append(Seq((5L, "e")).toDF("k", "v"))
    val ids2 = t.snapshot().select("id").as[Long].collect()
    assert(ids2.distinct.length == 4, s"post-publish collision: ${ids2.mkString(",")}")
  }

  test("deleteMatching: lossy key casts refused; lossless widenings compare wide") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b"), (5L, "e")).toDF("k", "v"), keyCol = Some("k"))
    // double keys over a BIGINT column: 5.7 would silently truncate to 5
    // and delete a row IN semantics never matches — refused loud
    val e = intercept[IllegalArgumentException](
      t.deleteMatching(Seq(5.7d).toDF("key"), "k"))
    assert(e.getMessage.contains("lossy"), e.getMessage)
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (5L, "e")), "refusal mutated")
    // string keys over a numeric column mis-compare the same way: refused
    val e2 = intercept[IllegalArgumentException](
      t.deleteMatching(Seq("2").toDF("key"), "k"))
    assert(e2.getMessage.contains("lossy"), e2.getMessage)
    // INT keys over the BIGINT column widen losslessly: compare in BIGINT
    t.deleteMatching(Seq(2).toDF("key"), "k")
    assert(rows(t) == Set((1L, "a"), (5L, "e")))
    // the reverse widening — BIGINT keys over an INT column — compares in
    // BIGINT too: a key beyond int range matches nothing (instead of
    // wrapping), an in-range key matches exactly
    val ti = GraftTable.create(spark, tmp(),
      Seq((1, "a"), (2, "b")).toDF("k", "v"))
    ti.deleteMatching(Seq(2L, 4294967298L /* == 2 if wrapped to int */)
      .toDF("key"), "k")
    assert(ti.snapshot().as[(Int, String)].collect().toSet == Set((1, "a")))
  }

  test("branch: crashed publish rolls back from the manifest when no commit landed") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val b = t.createBranch("crash")
    b.append(Seq((2L, "b")).toDF("k", "v"))
    // replicate the crash state BETWEEN the renames and the commit: the
    // manifest is written and every branch-local file moved to main root
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(loc), spark.sparkContext.hadoopConfiguration)
    val bdir = new org.apache.hadoop.fs.Path(loc, "_graft_branches/crash")
    val local = fs.listStatus(bdir).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet")).toSeq
    assert(local.nonEmpty, "fixture: expected a branch-local data file")
    val manifest = s"""{"branchPoint":${t.version},"files":[${
      local.map("\"" + _ + "\"").mkString(",")}]}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(bdir,
      "_graft_publish_manifest.json"), false)
    out.write(manifest.getBytes("UTF-8")); out.close()
    local.foreach { n =>
      assert(fs.rename(new org.apache.hadoop.fs.Path(bdir, n),
        new org.apache.hadoop.fs.Path(loc, n)))
    }
    // next open of the branch replays the manifest: files return home,
    // the branch reads intact, and the publish is retryable
    assert(rows(t.branch("crash")) == Set((1L, "a"), (2L, "b")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(bdir,
      "_graft_publish_manifest.json")), "manifest survived rollback")
    t.fastForward("crash")
    assert(rows(GraftTable.at(spark, loc)) == Set((1L, "a"), (2L, "b")))
  }

  test("branch: crash AFTER the publish commit completes on next open") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val b = t.createBranch("crash2")
    b.append(Seq((2L, "b")).toDF("k", "v"))
    t.onPublishAfterCommit =
      () => throw new RuntimeException("injected crash before branch delete")
    intercept[RuntimeException](t.fastForward("crash2"))
    // the commit landed; the stale branch dir + manifest remain. The next
    // open detects the landed commit via the manifest's file names and
    // COMPLETES the publish (branch consumed), never rolls it back
    val e = intercept[IllegalArgumentException](t.branch("crash2"))
    assert(e.getMessage.contains("no branch"), e.getMessage)
    assert(t.listBranches.isEmpty)
    assert(rows(GraftTable.at(spark, loc)) == Set((1L, "a"), (2L, "b")))
  }

  test("optimize(onlyUnclustered): rewrites only post-optimize arrivals") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 4000L).map(k => ((k * 2654435761L) % 4000, s"v$k"))
        .toDF("k", "v").repartition(4), keyCol = Some("k"))
    t.optimize(Seq("k"), targetBytes = 32 << 10)
    val gen1 = t.filesAt(t.version).map(_.path).toSet
    assert(t.filesAt(t.version).forall(_.cb.contains(Seq("k"))),
      "optimize outputs not stamped with the cluster spec")
    // new ingest lands unclustered
    t.append((4000L to 4400L).map(k => (k, s"v$k")).toDF("k", "v").repartition(2))
    val newFiles = t.filesAt(t.version).map(_.path).toSet -- gen1
    assert(newFiles.nonEmpty)
    // incremental: gen-1 outputs are NOT rewritten, only the arrivals
    t.optimize(Seq("k"), targetBytes = 32 << 10, onlyUnclustered = true)
    val after = t.filesAt(t.version).map(_.path).toSet
    assert(gen1.subsetOf(after), "incremental optimize rewrote a prior generation")
    assert(newFiles.intersect(after).isEmpty, "arrivals were not re-clustered")
    // a second incremental run with nothing new is a no-op commit-wise
    val v = t.version
    assert(t.optimize(Seq("k"), onlyUnclustered = true) == v)
    // pruning stays tight: a point lookup reads a sliver of each generation
    val cands = t.scanCandidates(col("k") === 1234L, t.version)
    assert(cands.size <= 3,
      s"point lookup read ${cands.size} of ${after.size} files")
    // a DIFFERENT spec ignores the old marks and rewrites everything
    t.optimize(Seq("v"), onlyUnclustered = true)
    assert(t.filesAt(t.version).forall(_.cb.contains(Seq("v"))))
    // data intact through all generations
    assert(t.snapshot().count() == 4401L)
  }

  test("tags: pinned version survives vacuum and blocks expire until dropped") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"))
    t.append(Seq((3L, "c")).toDF("k", "v"))
    val tagged = t.createTag("run-2026")
    assert(tagged == t.version && t.listTags == Seq(("run-2026", tagged)))
    // head moves on: the tagged files become unreferenced by the snapshot
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))
    // vacuum keeps every file the tag's version references
    assert(t.vacuum(retentionMs = 0L).isEmpty,
      "vacuum reclaimed a tag-referenced file")
    assert(rows(t, Some(t.tagVersion("run-2026"))) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")), "tagged read broke after vacuum")
    // expire refuses horizons above the tag, loud and by name
    val e = intercept[IllegalArgumentException](t.expireHistory(t.version))
    assert(e.getMessage.contains("run-2026"), e.getMessage)
    // dropping the tag releases both
    t.dropTag("run-2026")
    assert(t.vacuum(retentionMs = 0L).nonEmpty, "drop did not free the files")
    assert(t.expireHistory(t.version) > 0)
    assert(rows(t) == Set((9L, "z")))
  }

  test("tags: immutable, one namespace with branches, versioned pin") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    t.createTag("v1-state", atVersion = Some(1L))
    assert(t.tagVersion("v1-state") == 1L)
    assert(rows(t, Some(t.tagVersion("v1-state"))) == Set((1L, "a")))
    // immutable: re-creating is loud, not a silent re-point
    val e = intercept[IllegalArgumentException](t.createTag("v1-state"))
    assert(e.getMessage.contains("immutable"), e.getMessage)
    // one namespace: a branch may not take a tag's name and vice versa
    val e2 = intercept[IllegalArgumentException](t.createBranch("v1-state"))
    assert(e2.getMessage.contains("ambiguous"), e2.getMessage)
    t.createBranch("wip")
    val e3 = intercept[IllegalArgumentException](t.createTag("wip"))
    assert(e3.getMessage.contains("ambiguous"), e3.getMessage)
    t.dropBranch("wip")
    intercept[IllegalArgumentException](t.createTag("7bad"))
    intercept[IllegalArgumentException](t.createTag("missing", Some(99L)))
    intercept[IllegalArgumentException](t.dropTag("nope"))
    t.dropTag("v1-state")
    assert(t.listTags.isEmpty)
  }

  test("branch names starting with '-' or a digit are refused") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException](t.createBranch("-5"))
    intercept[IllegalArgumentException](t.createBranch("7days"))
    t.createBranch("_ok")
    t.dropBranch("_ok")
  }

  // ---- TYPE WIDENING (metadata-only ALTER COLUMN TYPE)

  test("widenColumn: int→long metadata-only; both eras read, old type time-travels") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1), keyCol = Some("k"))
    assert(t.schema("k").dataType == IntegerType)
    val nFiles = t.filesAt(t.version).size
    t.widenColumn("k", LongType)
    // metadata-only: no file written or rewritten
    assert(t.filesAt(t.version).size == nFiles)
    assert(t.history.last.op == "widenColumn")
    assert(t.schema("k").dataType == LongType)
    // the int-era file reads under the widened type (parquet scan-time
    // conversion, no cast node), and a value beyond int range now fits
    t.append(Seq((5000000000L, "c")).toDF("k", "v"))
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (5000000000L, "c")))
    // time travel keeps the pre-widening version's own type
    assert(t.snapshot(Some(1L)).schema("k").dataType == IntegerType)
    // a still-narrow upstream input up-casts losslessly after the widening
    t.append(Seq((7, "d")).toDF("k", "v"))
    // keyed merge still prunes/replaces across both file eras
    t.merge(Seq((2L, "B")).toDF("k", "v"))
    assert(rows(t) == Set((1L, "a"), (2L, "B"), (5000000000L, "c"), (7L, "d")))
    // reopen from disk: the widened schema comes from the log
    assert(GraftTable.at(spark, loc).schema("k").dataType == LongType)
  }

  test("widenColumn: float→double and decimal growth; unsafe changes loud") {
    import org.apache.spark.sql.types._
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, 1.5f), (2L, 2.5f)).toDF("k", "f"))
    t.widenColumn("f", DoubleType)
    assert(t.snapshot().select("f").as[Double].collect().toSet == Set(1.5, 2.5))
    // narrowing and cross-family are refused loud
    val e1 = intercept[IllegalArgumentException](t.widenColumn("k", IntegerType))
    assert(e1.getMessage.contains("widening"), e1.getMessage)
    intercept[IllegalArgumentException](t.widenColumn("k", StringType))
    intercept[IllegalArgumentException](t.widenColumn("f", FloatType))
    intercept[IllegalArgumentException](t.widenColumn("nope", LongType))
    // decimal: integral room and scale may only grow
    val td = GraftTable.create(spark, tmp(),
      Seq((1L, BigDecimal("1.25"))).toDF("k", "m")
        .withColumn("m", col("m").cast(DecimalType(10, 2))))
    td.widenColumn("m", DecimalType(20, 4))
    assert(td.snapshot().select("m").as[java.math.BigDecimal].collect()
      .head.compareTo(new java.math.BigDecimal("1.25")) == 0)
    // (10,2)→(10,4) would shrink integral room: loud
    intercept[IllegalArgumentException](td.widenColumn("m", DecimalType(10, 6)))
  }

  test("mergeSchema auto-widens a drifted wider upstream; strict stays loud") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val t = GraftTable.create(spark, tmp(),
      Seq((1, "a"), (2, "b")).toDF("k", "v"), keyCol = Some("k"))
    assert(t.schema("k").dataType == IntegerType)
    // strict append with a WIDER source names the evolution route, and
    // commits nothing (an INT64 file under an int column is unreadable)
    val v0 = t.version
    val strictWrites = Seq[org.apache.spark.sql.DataFrame => Long](
      t.append(_), t.appendIfAbsent("tx-wide", _))
    for (strict <- strictWrites) {
      val e = intercept[IllegalArgumentException] {
        strict(Seq((5000000000L, "c")).toDF("k", "v"))
      }
      assert(e.getMessage.contains("mergeSchema"), e.getMessage)
    }
    assert(t.version == v0)
    // mergeSchema = true: the table column widens in the SAME commit
    t.append(Seq((5000000000L, "c")).toDF("k", "v"), mergeSchema = true)
    assert(t.schema("k").dataType == LongType)
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (5000000000L, "c")))
    assert(t.snapshot(Some(1L)).schema("k").dataType == IntegerType)
    // merge(mergeSchema = true) widens too, across both file eras
    val t2 = GraftTable.create(spark, tmp(),
      Seq((1, 10), (2, 20)).toDF("k", "n"), keyCol = Some("k"))
    t2.merge(Seq((2L, 6000000000L), (3L, 7000000000L)).toDF("k", "n"),
      mergeSchema = true)
    assert(t2.schema("k").dataType == LongType &&
      t2.schema("n").dataType == LongType)
    assert(t2.snapshot().as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 6000000000L), (3L, 7000000000L)))
  }

  test("widenColumn: partition-source and generated columns are refused") {
    import org.apache.spark.sql.types.LongType
    val tp = GraftTable.create(spark, tmp(),
      Seq((1, "a")).toDF("c", "v"), partitionBy = Seq("c"))
    val e = intercept[IllegalArgumentException](tp.widenColumn("c", LongType))
    assert(e.getMessage.contains("partition"), e.getMessage)
    val tg = GraftTable.create(spark, tmp(),
      Seq((1, "a")).toDF("k", "v"),
      generatedColumns = Map("g" -> "k + 1"))
    val e2 = intercept[IllegalArgumentException](tg.widenColumn("k", LongType))
    assert(e2.getMessage.contains("derives"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](tg.widenColumn("g", LongType))
    assert(e3.getMessage.contains("generated"), e3.getMessage)
  }

  test("widenColumn: change feed spans the widening under the TO-version type") {
    import org.apache.spark.sql.types.LongType
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1), keyCol = Some("k"))
    t.deleteWhere(col("k") === 2)            // int-era delete
    t.widenColumn("k", LongType)
    t.append(Seq((5000000000L, "c")).toDF("k", "v"))
    t.merge(Seq((1L, "A")).toDF("k", "v"))   // long-era in-place change
    val feed = t.changes(0L, t.version)
    // pre-widening slices coerce up: ONE long column across both eras
    assert(feed.schema("k").dataType == LongType)
    val byChange = feed.groupBy("_change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // create 2 + append 1 + merge-post 1 inserts; deleteWhere 1 + merge-pre
    // 1 deletes — the net algebra is unchanged by the widening
    assert(byChange == Map("insert" -> 4L, "delete" -> 2L),
      s"unexpected feed mix: $byChange")
    // fold invariant across the widening: snapshot(0) + inserts - deletes
    val ins = feed.where(col("_change") === "insert").select("k", "v")
    val del = feed.where(col("_change") === "delete").select("k", "v")
    val folded = ins.exceptAll(del).as[(Long, String)].collect().toSet
    assert(folded == rows(t))
    // the batch CDF face agrees
    val cdf = spark.read.format("graft-table-cdf")
      .option("path", loc).option("startingVersion", "0").load()
    assert(cdf.schema("k").dataType == LongType)
    assert(cdf.count() == feed.count())
  }

  // ---- DML conflict detection + rebase (ConflictChecker / WriteSerializable)

  test("merge rebases over a concurrent disjoint-key append") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"))
    val t2 = GraftTable.at(spark, loc)
    // the append lands between the merge's version read and its log write
    t.onNextCommitAttempt = () => t2.append(Seq((100L, "x")).toDF("k", "v"))
    t.merge(Seq((2L, "B"), (3L, "C")).toDF("k", "v"))
    // both operations landed, data written once each, merge re-committed
    assert(rows(t) == Set((1L, "a"), (2L, "B"), (3L, "C"), (100L, "x")))
    assert(t.history.map(_.op) == Seq("create", "append", "merge"))
  }

  test("merge conflicts loud on a concurrent append inside its key range") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"))
    val t2 = GraftTable.at(spark, loc)
    // key 3 is inside the source's [2,3] bounds: the merge's not-matched
    // insert decision for key 3 was taken without seeing it — rebasing
    // would commit a duplicate key
    t.onNextCommitAttempt = () => t2.append(Seq((3L, "x")).toDF("k", "v"))
    val e = intercept[GraftTable.ConcurrentCommitException] {
      t.merge(Seq((2L, "B"), (3L, "C")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("match predicate"), e.getMessage)
    // the merge committed NOTHING; the winner's append stands alone
    val re = GraftTable.at(spark, loc)
    assert(re.history.map(_.op) == Seq("create", "append"))
    assert(rows(re) == Set((1L, "a"), (2L, "b"), (3L, "x")))
  }

  test("merge conflicts loud when a concurrent delete touches a rewritten file") {
    val loc = tmp()
    // one file holding BOTH keys, so the delete and the merge contend on it
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), keyCol = Some("k"))
    val t2 = GraftTable.at(spark, loc)
    t.onNextCommitAttempt = () => t2.deleteWhere(col("k") === 1L)
    val e = intercept[GraftTable.ConcurrentCommitException] {
      t.merge(Seq((2L, "B")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("this operation rewrites"), e.getMessage)
    // winner's delete stands; the merge never landed
    assert(rows(GraftTable.at(spark, loc)) == Set((2L, "b")))
  }

  test("delete rebases over a concurrent blind append (WriteSerializable)") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.append(Seq((10L, "c")).toDF("k", "v"))
    val t2 = GraftTable.at(spark, loc)
    // the appended row MATCHES the delete predicate: the rebased state is
    // the delete-first serial order, so the appended row SURVIVES — the
    // published WriteSerializable contract (log order is not the
    // serialization order for blind appends)
    t.onNextCommitAttempt = () => t2.append(Seq((0L, "late")).toDF("k", "v"))
    t.deleteWhere(col("k") <= 2L)
    assert(rows(t) == Set((10L, "c"), (0L, "late")))
    assert(t.history.map(_.op) ==
      Seq("create", "append", "append", "delete"))
  }

  test("two deletes racing on the same file conflict loud (DV clobber guard)") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v").coalesce(1))
    val t2 = GraftTable.at(spark, loc)
    // both deletes route merge-on-read against the SAME file; a rebase
    // would clobber the winner's deletion vector
    t.onNextCommitAttempt = () => t2.deleteWhere(col("k") === 1L)
    intercept[GraftTable.ConcurrentCommitException] {
      t.deleteWhere(col("k") === 2L)
    }
    // winner's delete stands alone
    assert(rows(GraftTable.at(spark, loc)) ==
      Set((2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("update rebases over a concurrent append; constraint race fails loud") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val t2 = GraftTable.at(spark, loc)
    t.onNextCommitAttempt = () => t2.append(Seq((10L, "c")).toDF("k", "v"))
    t.update(Map("v" -> upper(col("v"))), col("k") === 2L)
    assert(rows(t) == Set((1L, "a"), (2L, "B"), (10L, "c")))
    // a concurrent CHECK-constraint change invalidates the written rows —
    // the retry must fail loud, never rebase past it
    val t3 = GraftTable.at(spark, loc)
    t3.onNextCommitAttempt = () => t2.addConstraint("v_nn", "v IS NOT NULL")
    val e = intercept[IllegalStateException] {
      t3.update(Map("v" -> lower(col("v"))), col("k") === 1L)
    }
    assert(e.getMessage.contains("constraints changed concurrently"), e.getMessage)
  }

  test("delete rebases over a layout-only winner touching disjoint files") {
    val loc = tmp()
    // two partitions → two file sets the ops can touch disjointly
    val t = GraftTable.create(spark, loc,
      Seq((1L, "x", "a"), (2L, "x", "b"), (10L, "y", "c"), (11L, "y", "d"))
        .toDF("k", "p", "v").repartition(1),
      keyCol = Some("k"), partitionBy = Seq("p"))
    val t2 = GraftTable.at(spark, loc)
    // winner: a layout-only OPTIMIZE scoped to partition y; loser: a
    // delete whose touched files live in partition x — disjoint, so the
    // delete must rebase (dataChange=false winners are checked for file
    // overlap only)
    t.onNextCommitAttempt =
      () => t2.optimize(Seq("k"), partitionPred = Some(col("p") === "y"))
    t.deleteWhere(col("k") === 1L && col("p") === "x")
    assert(t.history.map(_.op).takeRight(2) == Seq("optimize", "delete"))
    assert(t.snapshot().select("k").as[Long].collect().toSet ==
      Set(2L, 10L, 11L))
  }

  test("merge rebases over a metadata-only winner (bloom config commit)") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"))
    val t2 = GraftTable.at(spark, loc)
    // a metadata-only commit adds/removes nothing: every conflict rule
    // passes vacuously and the merge re-commits at the new head
    t.onNextCommitAttempt = () => t2.setBloomFilter(Map("v" -> 100L))
    t.merge(Seq((2L, "B"), (3L, "C")).toDF("k", "v"))
    assert(rows(t) == Set((1L, "a"), (2L, "B"), (3L, "C")))
    assert(GraftTable.at(spark, loc).bloomFilterColumns == Map("v" -> 100L))
  }

  test("compact rebases over concurrent ingest, conflicts on input overlap") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b")).toDF("k", "v"))
    val t2 = GraftTable.at(spark, loc)
    // blind append during the compaction rewrite: rebase — the new file
    // simply misses this compaction; nothing is lost, nothing duplicated
    t.onNextCommitAttempt = () => t2.append(Seq((3L, "c")).toDF("k", "v"))
    t.compact()
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.history.last.op == "compact")
    // a winner DELETING from a compaction input conflicts (the compacted
    // output would resurrect the deleted rows)
    val t3 = GraftTable.at(spark, loc)
    t3.append(Seq((4L, "d")).toDF("k", "v")) // ensure ≥2 small files again
    val t4 = GraftTable.at(spark, loc)
    t3.onNextCommitAttempt = () => t4.deleteWhere(col("k") === 1L)
    intercept[GraftTable.ConcurrentCommitException] { t3.compact() }
    assert(rows(GraftTable.at(spark, loc)) ==
      Set((2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("vacuum reclaims only unreferenced files; current snapshot intact") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"))
    t.overwrite(Seq((3L, "c")).toDF("k", "v"))
    val deleted = t.vacuum(0L)
    assert(deleted.nonEmpty, "overwritten files should be reclaimable")
    assert(rows(t) == Set((3L, "c")))
    // second vacuum finds nothing
    assert(t.vacuum(0L).isEmpty)
    // a crashed writer's stranded log-staging temp is swept past the horizon
    val logDir = new org.apache.hadoop.fs.Path(t.location, "_graft_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val stranded = new org.apache.hadoop.fs.Path(logDir, ".tmp-commit-dead")
    fs.create(stranded, true).close()
    t.vacuum(0L)
    assert(!fs.exists(stranded), "stranded .tmp- staging file survived vacuum")
    assert(rows(t) == Set((3L, "c"))) // log itself untouched
  }

  test("time travel past the vacuum horizon fails loud, naming the files") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keyCol = Some("k"))
    t.overwrite(Seq((3L, "c")).toDF("k", "v"))
    assert(rows(t, Some(1L)) == Set((1L, "a"), (2L, "b"))) // pre-vacuum: works
    assert(t.vacuum(0L).nonEmpty)
    // the current version must be untouched …
    assert(rows(t) == Set((3L, "c")))
    // … but version 1 now references reclaimed files: the read must fail in
    // the snapshot() planning path (loud, with the file names), not leak a
    // FileNotFoundException out of a mid-job task
    val e = intercept[IllegalStateException] { t.snapshot(Some(1L)).collect() }
    assert(e.getMessage.contains("reclaimed by vacuum()"))
    assert(e.getMessage.contains("version 1"))
  }

  test("vacuum retention window protects young unreferenced files") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a")).toDF("k", "v"))
    t.overwrite(Seq((2L, "b")).toDF("k", "v"))
    // the overwritten file is unreferenced but seconds old — with the
    // default (or any non-trivial) retention it must survive, because an
    // equally-young file could belong to an in-flight writer that renamed
    // its data in before committing
    assert(t.vacuum().isEmpty, "young orphan reclaimed inside retention window")
    assert(t.vacuum(60_000L).isEmpty)
    // time travel still works while the file survives
    assert(rows(t, Some(1L)) == Set((1L, "a")))
    // past the window (0ms) it goes
    assert(t.vacuum(0L).nonEmpty)
  }

  test("appendIfAbsent: replayed transaction is a no-op (exactly-once)") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    val v1 = t.appendIfAbsent("q-batch-0", Seq((2L, "b")).toDF("k", "v"))
    // checkpoint-restart replay: same txn delivered again, possibly with
    // identical content — must not double-write
    val v2 = t.appendIfAbsent("q-batch-0", Seq((2L, "b")).toDF("k", "v"))
    assert(v1 == v2 && t.version == v1)
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    t.appendIfAbsent("q-batch-1", Seq((3L, "c")).toDF("k", "v"))
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("appendIfAbsent rebases past an unrelated append; backs off on its own txn") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    val t2 = GraftTable.at(spark, loc)
    // a blind winner: the txn's already-written files re-commit at the head
    t.onNextCommitAttempt = () => t2.append(Seq((2L, "b")).toDF("k", "v"))
    val v = t.appendIfAbsent("tx-rebase", Seq((3L, "c")).toDF("k", "v"))
    assert(v == t.version && rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.history.map(_.op) == Seq("create", "append", "append"))
    assert(t.appendIfAbsent("tx-rebase", Seq((3L, "c")).toDF("k", "v")) == v)
    // a winner of the SAME txn: the loser returns the winner's version and
    // its own files never land
    t.onNextCommitAttempt = () => t2.appendIfAbsent("tx-same", Seq((4L, "d")).toDF("k", "v"))
    val w = t.appendIfAbsent("tx-same", Seq((4L, "d")).toDF("k", "v"))
    assert(w == t.version && w == v + 1)
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(t.snapshot().count() == 4)
  }

  test("commitFiles fails the epoch loud when a schema change wins the race") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a", 1.0)).toDF("k", "v", "w"))
    val t2 = GraftTable.at(spark, loc)
    // the epoch's files were written under (k, v, w): a DROP COLUMN winner
    // fails the commit like the sink's own schema check does
    t.onNextCommitAttempt = () => t2.dropColumn("w")
    val e = intercept[IllegalStateException] {
      t.commitFiles("streamingAppend", Nil, Some("q-epoch-0"))
    }
    assert(e.getMessage.contains("concurrent schema change"), e.getMessage)
    assert(GraftTable.at(spark, loc).history.map(_.op) == Seq("create", "dropColumn"))
  }

  test("appendIfAbsent drives a foreachBatch sink exactly-once end-to-end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq.empty[(Long, String)].toDF("k", "v"))
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-table-ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        GraftTable.at(spark, loc).appendIfAbsent(s"sink-batch-$batchId", batch)
        ()
      }
      .start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // simulate the restart replay of the last batch: exactly-once holds
    GraftTable.at(spark, loc)
      .appendIfAbsent("sink-batch-1", Seq((3L, "c")).toDF("k", "v"))
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("compact coalesces small files; rows, time travel, vacuum all hold") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    (2L to 6L).foreach(i => t.append(Seq((i, i.toString)).toDF("k", "v")))
    val preVersion = t.version
    val preRows = rows(t)
    val preFiles = t.history.map(_.added).sum // every add so far is live
    val v = t.compact()
    assert(v == preVersion + 1)
    assert(rows(t) == preRows, "compaction must not change table contents")
    val hist = t.history.last
    assert(hist.op == "compact" && hist.removed == preFiles && hist.added < preFiles,
      s"expected >1 small files merged: added=${hist.added}, removed=${hist.removed}")
    // pre-compaction version still readable until vacuum
    assert(rows(t, Some(preVersion)) == preRows)
    assert(t.vacuum(0L).nonEmpty)
    assert(rows(t) == preRows)
    // second compact is a no-op (already one file)
    assert(t.compact() == v)
  }

  test("merge(mergeSchema): source evolves the schema; survivors null-fill") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b"), (100L, "z")).toDF("k", "v")
        .repartitionByRange(2, col("k")), keyCol = Some("k"))
    val vPre = t.version
    // source carries a NEW column: matched k=2 replaced with it, k=3
    // inserted with it; the rewritten file's survivor (k=1) and the
    // untouched high-key file (k=100) read it as null
    t.merge(Seq((2L, "B", 20L), (3L, "C", 30L)).toDF("k", "v", "score"),
      mergeSchema = true)
    assert(t.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    assert(t.snapshot().as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "B", Some(20L)), (3L, "C", Some(30L)),
        (100L, "z", None)))
    // time travel keeps the pre-evolution width
    assert(t.snapshot(Some(vPre)).columns.toSeq == Seq("k", "v"))
    // without the flag, a wider source stays loud
    val e = intercept[IllegalArgumentException](
      t.merge(Seq((4L, "d", 40L, 1L)).toDF("k", "v", "score", "extra")))
    assert(e.getMessage.contains("mergeSchema"), e.getMessage)
  }

  test("mergeSchema append evolves: new column null-filled on old rows, versioned") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    val preVersion = t.version
    // new column arrives
    t.append(Seq((2L, "b", 7.5)).toDF("k", "v", "score"), mergeSchema = true)
    val now = t.snapshot().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2))))
    assert(t.snapshot().columns.toSeq == Seq("k", "v", "score"))
    assert(now.toSeq == Seq((1L, "a", None), (2L, "b", Some(7.5))))
    // a later append MISSING the evolved column null-fills it
    t.append(Seq((3L, "c")).toDF("k", "v"), mergeSchema = true)
    assert(t.snapshot().where(col("k") === 3L).select("score").head().isNullAt(0))
    // time travel reads the pre-evolution version with ITS schema
    assert(t.snapshot(Some(preVersion)).columns.toSeq == Seq("k", "v"))
    // without the flag, a new column stays rejected
    intercept[IllegalArgumentException] {
      t.append(Seq((4L, "d", 1L)).toDF("k", "v", "other"))
    }
    // type conflicts are loud even when evolving
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((5L, 9L, 1.0)).toDF("k", "v", "score"), mergeSchema = true)
    }
    assert(e.getMessage.contains("type conflict"))
  }

  test("string key stats compare in UTF-8 byte order, not UTF-16") {
    // U+FF61 (EF BD A1 in UTF-8, one char in UTF-16) vs U+10000 (F0 90 80 80,
    // surrogate pair D800 DC00 in UTF-16): Java String order puts U+FF61
    // ABOVE the surrogate pair, UTF-8/code-point order puts it BELOW
    val bmp = "｡"
    val supp = new String(Character.toChars(0x10000))
    assert(bmp.compareTo(supp) > 0, "sanity: UTF-16 order disagrees")
    assert(GraftTable.utf8Cmp(bmp, supp) < 0, "UTF-8 order: BMP char below")
    // a file holding [supp, supp] must NOT be pruned for a probe at supp,
    // even though UTF-16 ordering would claim hi=bmp < min=supp in some
    // framings; and must be pruned for probes strictly below it
    val stats = GraftTable.KeyStats("string", supp, supp)
    assert(stats.intersects(supp, supp))
    assert(!stats.intersects("a", bmp),
      "probe range ending at U+FF61 sits wholly below U+10000 in UTF-8 order")
  }

  test("checkpoint replay ≡ full replay, and reads only checkpoint + tail") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a")).toDF("k", "v"), keyCol = Some("k"))
    t.checkpointInterval = 3
    (2L to 7L).foreach(i => t.append(Seq((i, i.toString)).toDF("k", "v")))
    assert(t.version == 7L)
    val expect = Set((1L, "a")) ++ (2L to 7L).map(i => (i, i.toString))
    assert(rows(t) == expect)
    val logDir = new java.io.File(loc, "_graft_log")
    def names = logDir.listFiles().map(_.getName).toSet
    assert(names.contains(f"${3L}%020d.checkpoint.json"))
    assert(names.contains(f"${6L}%020d.checkpoint.json"))
    // a fresh handle (cold cache) must agree with the incremental one
    assert(rows(GraftTable.at(spark, loc)) == expect)
    // hard pin on "reads only checkpoint + tail": destroy the commit BODIES
    // strictly between create and the newest checkpoint — if cold replay
    // touched any of them it would crash on garbage JSON (commit 1 stays:
    // `at` reads table metadata from the oldest commit)
    Seq(2L, 3L, 4L, 5L).foreach { v =>
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.json").toPath,
        "NOT JSON".getBytes("UTF-8"))
    }
    val cold = GraftTable.at(spark, loc)
    assert(rows(cold) == expect, "cold snapshot must come from checkpoint 6 + commit 7")
    // time travel to the checkpointed version itself also skips the tail
    assert(rows(cold, Some(6L)) == expect - ((7L, "7")))
  }

  test("vacuum keeps every file the checkpointed current snapshot references") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    t.checkpointInterval = 2
    t.append(Seq((2L, "b")).toDF("k", "v"))     // v2 -> checkpoint
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))  // v3: removes v1+v2 files
    t.append(Seq((10L, "y")).toDF("k", "v"))    // v4 -> checkpoint
    val deleted = t.vacuum(0L)
    assert(deleted.nonEmpty, "pre-overwrite files should be reclaimed")
    val expect = Set((9L, "z"), (10L, "y"))
    assert(rows(t) == expect)
    // a cold open replays checkpoint 4 + empty tail over the vacuumed dir
    assert(rows(GraftTable.at(spark, loc)) == expect)
  }

  test("appendIfAbsent txn ids stay discoverable across checkpoints") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"))
    t.checkpointInterval = 2
    t.appendIfAbsent("tx-early", Seq((2L, "b")).toDF("k", "v")) // v2 -> checkpoint
    t.append(Seq((3L, "c")).toDF("k", "v"))                     // v3
    t.append(Seq((4L, "d")).toDF("k", "v"))                     // v4 -> checkpoint
    val v = t.version
    // replay of a PRE-checkpoint txn through a fresh handle must still no-op
    assert(GraftTable.at(spark, loc)
      .appendIfAbsent("tx-early", Seq((99L, "X")).toDF("k", "v")) == v)
    assert(t.version == v)
    assert(!rows(t).contains((99L, "X")))
  }

  test("date/decimal key columns disable stats (no crash, no wrong prune)") {
    import java.sql.Date
    val loc = tmp()
    val df = Seq((Date.valueOf("2024-01-01"), "a"), (Date.valueOf("2024-06-01"), "b"))
      .toDF("k", "v")
    val t = GraftTable.create(spark, loc, df, keyCol = Some("k"))
    // merge on a date key: footer stats are Numbers but Spark bounds are
    // java.sql.Date — with stats emitted this would NumberFormatException;
    // with stats gated off it must simply skip pruning and stay correct
    t.merge(Seq((Date.valueOf("2024-06-01"), "B"), (Date.valueOf("2025-01-01"), "C"))
      .toDF("k", "v"))
    val got = t.snapshot().as[(Date, String)].collect().toMap
    assert(got == Map(
      Date.valueOf("2024-01-01") -> "a",
      Date.valueOf("2024-06-01") -> "B",
      Date.valueOf("2025-01-01") -> "C"))
  }

  test("schema mismatch is rejected before any data is written") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      t.append(Seq((1L, "a", "extra")).toDF("k", "v", "w"))
    }
  }

  // ---- partitioned tables ------------------------------------------------

  private def part3(): GraftTable = GraftTable.create(spark, tmp(),
    Seq((1L, "US", "a"), (2L, "US", "b"), (3L, "DE", "c"), (4L, "FR", "d"))
      .toDF("k", "region", "v").repartition(2),
    keyCol = Some("k"), partitionBy = Seq("region"))

  test("partitioned create records pv; snapshotWhere prunes files on the driver") {
    val t = part3()
    val all = t.snapshot()
    val pruned = t.snapshotWhere(col("region") === "US")
    assert(pruned.as[(Long, String, String)].collect().toSet ==
      Set((1L, "US", "a"), (2L, "US", "b")))
    // the pruned plan must scan STRICTLY fewer files than the full snapshot
    assert(pruned.inputFiles.length < all.inputFiles.length,
      s"pruning read ${pruned.inputFiles.length}/${all.inputFiles.length} files")
    // and be bit-equal to the unpruned filter
    assert(pruned.collect().toSet == all.where(col("region") === "US").collect().toSet)
  }

  test("snapshotWhere matches post-scan where for IN, range, and null preds") {
    val loc = tmp()
    val df = Seq[(Long, Option[String], String)](
      (1L, Some("US"), "a"), (2L, None, "b"), (3L, Some("DE"), "c"))
      .toDF("k", "region", "v")
    val t = GraftTable.create(spark, loc, df, partitionBy = Seq("region"))
    def check(pred: org.apache.spark.sql.Column): Unit =
      assert(t.snapshotWhere(pred).collect().toSet ==
        t.snapshot().where(pred).collect().toSet, s"pred $pred diverged")
    check(col("region").isin("US", "DE"))
    check(col("region") > "DE")          // null partition must NOT match
    check(col("region").isNull)          // null partition MUST match
    check(col("region") =!= "US")        // null excluded, standard 3VL
  }

  test("snapshotWhere rejects non-partition references loud (at analysis)") {
    val t = part3()
    intercept[Exception] { t.snapshotWhere(col("v") === "a").collect() }
  }

  test("partition values with =, /, %, space round-trip the dir encoding") {
    val loc = tmp()
    // non-ASCII values (e.g. "ü") are excluded ONLY because this CI box runs
    // a C-locale JVM that cannot create non-ASCII file names (Spark's own
    // writer throws InvalidPathException before the table layer is reached);
    // the %XX escaping itself is byte-agnostic
    val weird = Seq("a=b", "c/d", "e%2Ff", "g h", "x:y")
    val df = weird.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("k", "p")
    val t = GraftTable.create(spark, loc, df, partitionBy = Seq("p"))
    weird.foreach { s =>
      assert(t.snapshotWhere(col("p") === s).as[(Long, String)]
        .collect().map(_._2).toSeq == Seq(s), s"value '$s' broke the round-trip")
    }
  }

  test("replacePartitions swaps exactly the touched partitions, atomically") {
    val t = part3()
    val before = t.snapshot().inputFiles.toSet
    val usFiles = t.snapshotWhere(col("region") === "US").inputFiles.toSet
    t.replacePartitions(Seq((9L, "US", "zz")).toDF("k", "region", "v"))
    assert(rows3(t) == Set((9L, "US", "zz"), (3L, "DE", "c"), (4L, "FR", "d")))
    val after = t.snapshot().inputFiles.toSet
    // DE/FR files survive untouched by NAME; US files are all gone
    assert((before -- usFiles).subsetOf(after), "untouched partition was rewritten")
    assert(after.intersect(usFiles).isEmpty, "replaced partition file survived")
    // idempotent reload: running the same replace converges to the same rows
    t.replacePartitions(Seq((9L, "US", "zz")).toDF("k", "region", "v"))
    assert(rows3(t) == Set((9L, "US", "zz"), (3L, "DE", "c"), (4L, "FR", "d")))
  }

  test("reopen recovers partitioning; merge/compact keep pv from the data") {
    val loc = tmp()
    GraftTable.create(spark, loc,
      Seq((1L, "US", "a"), (3L, "DE", "c")).toDF("k", "region", "v"),
      keyCol = Some("k"), partitionBy = Seq("region"))
    val re = GraftTable.at(spark, loc)
    assert(re.partitionBy == Seq("region"))
    // a merge rewrite routes rows back to their partitions (files stay
    // self-contained), so pruning still sees every row afterwards
    re.merge(Seq((1L, "US", "A"), (5L, "DE", "e")).toDF("k", "region", "v"))
    re.compact(smallFileBytes = Long.MaxValue / 2) // force-compact everything
    assert(re.snapshotWhere(col("region") === "DE").as[(Long, String, String)]
      .collect().toSet == Set((3L, "DE", "c"), (5L, "DE", "e")))
    assert(re.snapshotWhere(col("region") === "US").as[(Long, String, String)]
      .collect().toSet == Set((1L, "US", "A")))
  }

  private def rows3(t: GraftTable): Set[(Long, String, String)] =
    t.snapshot().as[(Long, String, String)].collect().toSet

  // ---- change feed -------------------------------------------------------

  test("changes emits net per-commit diffs; rewrite survivors cancel") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), keyCol = Some("k"))
    t.merge(Seq((2L, "B"), (4L, "D")).toDF("k", "v"))    // v2
    t.deleteWhere(col("k") === 1L)                       // v3
    val feed = t.changes(1L, t.version)
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed == Set(
      (2L, "B", "insert", 2L), (4L, "D", "insert", 2L), // merge net inserts
      (2L, "b", "delete", 2L),                          // replaced old row
      (1L, "a", "delete", 3L)))                         // deleteWhere
    // (1,a)/(3,c) were COPIED by the merge rewrite — they must not appear
    assert(!feed.exists(r => r._1 == 3L))
  }

  test("changes fold invariant: snapshot(from) + inserts - deletes = snapshot(to)") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), keyCol = Some("k"))
    t.append((21L to 25L).map(k => (k, s"v$k")).toDF("k", "v"))
    t.merge(Seq((5L, "V5"), (30L, "V30")).toDF("k", "v"))
    t.deleteWhere(col("k") % 7 === 0)
    t.overwrite((1L to 3L).map(k => (k, s"w$k")).toDF("k", "v"))
    val from = 2L
    val feed = t.changes(from, t.version).cache()
    val ins = feed.where(col("_change") === "insert").select("k", "v")
    val del = feed.where(col("_change") === "delete").select("k", "v")
    val folded = t.snapshot(Some(from)).unionByName(ins).exceptAll(del)
      .as[(Long, String)].collect().sorted.toSeq
    val target = t.snapshot().as[(Long, String)].collect().sorted.toSeq
    feed.unpersist()
    assert(folded == target)
  }

  test("changes from 0 includes creation; spans schema evolution null-filled") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    t.append(Seq((2L, "b", 7L)).toDF("k", "v", "extra"), mergeSchema = true)
    val feed = t.changes(0L, t.version)
      .as[(Long, String, Option[Long], String, Long)].collect().toSet
    assert(feed == Set(
      (1L, "a", None, "insert", 1L),    // create row, evolved col null-filled
      (2L, "b", Some(7L), "insert", 2L)))
  }

  test("layout-only commits are invisible to the change feed (dataChange=false)") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "a")).toDF("k", "v").coalesce(1))
    t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1)) // v2
    val vPre = t.version
    t.compact(smallFileBytes = 32L << 20, targetBytes = 64L << 20) // v3: layout only
    t.append(Seq((3L, "c")).toDF("k", "v").coalesce(1)) // v4
    def feedRows() = t.changes(vPre, t.version)
      .select("k", "v", "_change", "_version")
      .as[(Long, String, String, Long)].collect().toSet
    // the compact commit contributes NOTHING (its net diff is empty by
    // construction) — only v4's insert appears
    assert(feedRows() == Set((3L, "c", "insert", 4L)))
    // and because the skipped commit's rewritten inputs are never read,
    // the range stays reconstructible after vacuum reclaims them (a
    // diffed compaction would fail loud on the missing files)
    assert(t.vacuum(0L).nonEmpty)
    assert(feedRows() == Set((3L, "c", "insert", 4L)))
  }

  test("changes past the vacuum horizon fails loud, naming the files") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    t.overwrite(Seq((2L, "b")).toDF("k", "v"))
    assert(t.vacuum(0L).nonEmpty) // reclaims the create file
    val e = intercept[IllegalStateException] { t.changes(0L, t.version) }
    assert(e.getMessage.contains("reclaimed by vacuum()"))
  }

  // ---- data skipping -----------------------------------------------------

  /** 100 rows range-clustered into 4 files on k (so per-file [min, max]
    * ranges are disjoint slivers — the layout data skipping rewards).
    */
  private def skipTable(): GraftTable = {
    val df = (1 to 100).map { k =>
      (k.toLong, java.sql.Date.valueOf(f"2024-01-01").toLocalDate.plusDays(k).toString,
        f"s$k%03d", k / 10.0)
    }.toDF("k", "ds", "s", "x")
      .select(col("k"), col("ds").cast("date").as("d"), col("s"), col("x"))
      .repartitionByRange(4, col("k"))
    GraftTable.create(spark, tmp(), df)
  }

  test("scan is bit-equal to snapshot().where for a predicate battery") {
    val t = skipTable()
    val full = t.snapshot()
    def check(pred: org.apache.spark.sql.Column): Unit =
      assert(t.scan(pred).collect().toSet == full.where(pred).collect().toSet,
        s"scan($pred) diverged")
    check(col("k") === 42L)
    check(col("k") > 90L)
    check(lit(10L) >= col("k"))                    // literal-first order
    check(col("k").between(18L, 23L))
    check(col("k") < 5L || col("k") > 97L)         // disjunction
    check(col("k").isin(3L, 55L, 999L))
    check(col("s").startsWith("s00"))
    check(col("s") >= "s098")
    check(col("d") === java.sql.Date.valueOf("2024-01-11")) // date days domain
    check(!(col("k") <= 50L))                      // Not: conservative, correct
    check(col("x") > 9.0)                          // double col: no stats, correct
    check(col("k") === 42)                         // int literal vs long col (coercion fold)
    check(col("k") =!= col("k"))                   // col-vs-col: conservative
  }

  test("scan skips files whose logged ranges cannot match") {
    val t = skipTable()
    val nFiles = t.snapshot().inputFiles.length
    assert(nFiles >= 3, s"expected >=3 files from repartitionByRange(4), got $nFiles")
    // a point lookup must read exactly one file
    assert(t.scan(col("k") === 42L).inputFiles.length == 1)
    // a range in the top sliver reads one file; disjunction reads two
    assert(t.scan(col("k") > 95L).inputFiles.length == 1)
    assert(t.scan(col("k") < 3L || col("k") > 97L).inputFiles.length == 2)
    // string prefix + date equality skip on their own columns' stats
    assert(t.scan(col("s").startsWith("s00")).inputFiles.length == 1)
    assert(t.scan(col("d") === java.sql.Date.valueOf("2024-01-03")).inputFiles.length == 1)
    // an impossible predicate reads nothing at all
    assert(t.scan(col("k") === -1L).inputFiles.isEmpty)
    // a predicate on the stats-less double column cannot prune
    assert(t.scan(col("x") > 9.0).inputFiles.length == nFiles)
  }

  test("optimize(range) tightens zone maps: fewer files per range scan") {
    // 64x64 grid written in hash-scrambled order across 8 files: every file
    // spans the full key range, so nothing can be skipped before optimize
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .orderBy(md5(concat_ws(",", col("x"), col("y")))) // deterministic scramble
      .repartition(8)
    val t = GraftTable.create(spark, tmp(), grid)
    val total = t.snapshot().inputFiles.length
    assert(total >= 4)
    val before = t.scan(col("x") < 8L).inputFiles.length
    assert(before == total, "scrambled layout should defeat skipping")
    val v0 = t.version
    t.optimize(Seq("x"), targetBytes = 8192L)
    assert(t.history.last.op == "optimize")
    // rows unchanged, pre-optimize version still readable
    assert(t.snapshot().count() == 4096L)
    assert(t.snapshot(Some(v0)).count() == 4096L)
    val after = t.scan(col("x") < 8L).inputFiles.length
    val totalAfter = t.snapshot().inputFiles.length
    assert(after < totalAfter,
      s"range-clustered scan read $after/$totalAfter files — no pruning")
  }

  test("optimize(z-order) prunes on BOTH dimensions") {
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .orderBy(md5(concat_ws(",", col("x"), col("y"))))
      .repartition(8)
    val t = GraftTable.create(spark, tmp(), grid)
    t.optimize(Seq("x", "y"), targetBytes = 4096L)
    val total = t.snapshot().inputFiles.length
    assert(total >= 4, s"need several tiles to show pruning, got $total")
    val onX = t.scan(col("x") < 8L)
    val onY = t.scan(col("y") < 8L)
    assert(onX.inputFiles.length < total,
      s"x-band read ${onX.inputFiles.length}/$total files")
    assert(onY.inputFiles.length < total,
      s"y-band read ${onY.inputFiles.length}/$total files")
    // and both scans stay exact
    assert(onX.count() == 8L * 64)
    assert(onY.count() == 64L * 8)
    // non-orderable (nested) cluster key is loud; strings etc. now go
    // through the rank-normalized path
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), Seq((1L, Seq(1, 2))).toDF("k", "arr"))
        .optimize(Seq("arr", "k"))
    }
  }

  test("optimize rank-z-orders string x date: prunes on BOTH, rows unchanged") {
    // 32 customers x 64 days, shuffled: neither dimension is integral, so
    // clustering goes through the sampled-rank path
    val rows = (0 until 32).flatMap { c =>
      (0 until 64).map { d =>
        (f"cust_$c%03d", java.sql.Date.valueOf(java.time.LocalDate
          .of(2024, 1, 1).plusDays(d.toLong)), (c * 64 + d).toLong)
      }
    }
    val df = rows.toDF("cust", "day", "amount")
      .orderBy(md5(concat_ws(",", col("cust"), col("day")))).repartition(8)
    val t = GraftTable.create(spark, tmp(), df)
    t.optimize(Seq("cust", "day"), targetBytes = 3072L)
    assert(t.history.last.op == "optimize")
    val total = t.snapshot().inputFiles.length
    assert(total >= 4, s"need several tiles to show pruning, got $total")
    // band queries on EACH dimension prune (string zone maps + date zone
    // maps both live in the log; ranks only changed the LAYOUT)
    val onCust = t.scan(col("cust") < "cust_004")
    val onDay = t.scan(col("day") < lit(java.sql.Date.valueOf("2024-01-09")))
    assert(onCust.inputFiles.length < total,
      s"cust-band read ${onCust.inputFiles.length}/$total files")
    assert(onDay.inputFiles.length < total,
      s"day-band read ${onDay.inputFiles.length}/$total files")
    // exactness: the rewrite moved rows, never changed them
    assert(onCust.count() == 4L * 64)
    assert(onDay.count() == 32L * 8)
    assert(t.snapshot().agg(sum(col("amount"))).head().getLong(0) ==
      rows.map(_._3).sum)
    // three-dimensional clustering composes through the same path
    val t3 = GraftTable.create(spark, tmp(),
      rows.toDF("cust", "day", "amount").repartition(4))
    t3.optimize(Seq("cust", "day", "amount"), targetBytes = 3072L)
    assert(t3.snapshot().count() == rows.size.toLong)
    val band = t3.scan(col("amount") < 256L)
    assert(band.count() == 256L)
    assert(band.inputFiles.length < t3.snapshot().inputFiles.length)
  }

  test("scan prunes IS NULL via logged null counts; stays exact") {
    // two range-separated files: one all-non-null v, one with nulls
    val noNulls = (1L to 50L).map(k => (k, Some(s"v$k"))).toDF("k", "v")
    val withNulls = (51L to 100L).map(k =>
      (k, if (k % 2 == 0) None else Some(s"v$k"))).toDF("k", "v")
    val t = GraftTable.create(spark, tmp(), noNulls)
    t.append(withNulls)
    val total = t.snapshot().inputFiles.length
    val isNull = t.scan(col("v").isNull)
    assert(isNull.count() == 25L)
    assert(isNull.inputFiles.length < total,
      s"IS NULL read ${isNull.inputFiles.length}/$total files — null-count prune failed")
    // null-safe equality with null literal takes the same path
    assert(t.scan(col("v") <=> lit(null)).count() == 25L)
    assert(t.scan(col("v") <=> lit(null)).inputFiles.length < total)
    // and IS NOT NULL stays exact (conservative: reads both files)
    assert(t.scan(col("v").isNotNull).count() == 75L)
  }

  test("scan uses partition point intervals; unknown columns fail loud") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "US", "a"), (2L, "DE", "b"), (3L, "FR", "c")).toDF("k", "region", "v"),
      partitionBy = Seq("region"))
    assert(t.scan(col("region") === "DE").inputFiles.length == 1)
    assert(t.scan(col("region") === "DE").as[(Long, String, String)]
      .collect().toSet == Set((2L, "DE", "b")))
    intercept[Exception] { t.scan(col("nope") === 1) } // analysis is the gate
  }

  // ---- deletion vectors (merge-on-read DML) ------------------------------

  private def dataFilesOnDisk(loc: String): Set[String] =
    Option(new java.io.File(loc).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .toSet

  test("dv codec round-trips sorted positions") {
    val cases = Seq(Array.empty[Long], Array(0L), Array(0L, 1L, 2L),
      Array(5L, 130L, 1000000L, (1L << 40) + 7),
      (0L until 8192L by 3L).toArray)
    cases.foreach { ps =>
      val d = GraftTable.Dv.of(ps)
      assert(d.n == ps.length.toLong)
      assert(d.positions.toSeq == ps.toSeq, s"codec mangled ${ps.take(5).toSeq}…")
    }
  }

  test("sparse delete grows a deletion vector — file kept, nothing written") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      keyCol = Some("k"))
    val before = t.currentFiles
    assert(before.size == 1 && before.head.dv.isEmpty)
    val disk0 = dataFilesOnDisk(loc)
    t.deleteWhere(col("k") <= 10L)
    // merge-on-read: same physical file, a 10-position vector in the log,
    // and NOT ONE new data file on disk
    val after = t.currentFiles
    assert(after.map(_.path) == before.map(_.path), "sparse delete rewrote the file")
    assert(after.head.dv.map(_.n).contains(10L), after.head.dv)
    assert(after.head.rows == 1000L, "physical row count must not change")
    assert(dataFilesOnDisk(loc) == disk0, "sparse delete wrote a data file")
    assert(t.snapshot().count() == 990L)
    assert(t.snapshot().agg(min(col("k"))).head().getLong(0) == 11L)
    // time travel to pre-delete still sees every row
    assert(t.snapshot(Some(1L)).count() == 1000L)
    // zone maps stay sound over-approximations: scan remains bit-exact
    assert(t.scan(col("k") === 5L).count() == 0L)
    assert(t.scan(col("k") === 500L).count() == 1L)
  }

  test("vectors merge across deletes; a dense delete rewrites instead") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    t.deleteWhere(col("k") <= 10L)
    t.deleteWhere(col("k").between(11L, 25L))
    val f = t.currentFiles.head
    assert(f.dv.map(_.n).contains(25L), s"vectors did not merge: ${f.dv}")
    assert(t.snapshot().count() == 975L)
    // 600 of 975 live rows is past DvMaxFraction: copy-on-write kicks in
    val path0 = f.path
    t.deleteWhere(col("k") <= 625L)
    val g = t.currentFiles
    assert(!g.exists(_.path == path0), "dense delete kept the old file")
    assert(g.forall(_.dv.isEmpty), "rewrite must purge the vector")
    assert(t.snapshot().count() == 375L)
    assert(t.snapshot().agg(min(col("k"))).head().getLong(0) == 626L)
  }

  test("fully-matched file is dropped outright; others untouched") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    t.append((101L to 200L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    val before = t.currentFiles.map(_.path).toSet
    assert(before.size == 2)
    t.deleteWhere(col("k") <= 100L)
    val after = t.currentFiles
    assert(after.size == 1 && after.forall(_.dv.isEmpty))
    assert(before.contains(after.head.path), "untouched file was rewritten")
    assert(t.snapshot().count() == 100L)
  }

  test("update goes merge-on-read: old rows DV'd out, new versions appended") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc,
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    val path0 = t.currentFiles.head.path
    t.update(Map("v" -> lit("UP")), col("k") <= 10L)
    val files = t.currentFiles
    val orig = files.find(_.path == path0).getOrElse(
      fail("sparse update rewrote the base file"))
    assert(orig.dv.map(_.n).contains(10L), orig.dv)
    val fresh = files.filterNot(_.path == path0)
    assert(fresh.nonEmpty && fresh.map(f => GraftTable.liveRows(f)).sum == 10L,
      s"expected 10 appended row versions, got $fresh")
    assert(t.snapshot().count() == 1000L)
    assert(t.snapshot().where(col("v") === "UP").count() == 10L)
    assert(t.snapshot().where(col("k") <= 10L && col("v") =!= "UP").count() == 0L)
  }

  test("changes() nets DV deletes; fold invariant holds across mixed DML") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 500L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      keyCol = Some("k"))
    t.deleteWhere(col("k") <= 5L)                         // v2: DV path
    t.update(Map("v" -> lit("U")), col("k") === 100L)     // v3: DV + append
    t.deleteWhere(col("k") <= 400L)                       // v4: rewrite path
    // the DV commit's net diff is exactly the deleted rows
    val v2 = t.changes(1L, 2L)
    assert(v2.where(col("_change") === "insert").count() == 0L)
    assert(v2.where(col("_change") === "delete").select("k")
      .as[Long].collect().toSet == (1L to 5L).toSet)
    // the DV-update commit nets to old-version-out, new-version-in
    val v3 = t.changes(2L, 3L)
    assert(v3.where(col("_change") === "delete").select("k", "v")
      .as[(Long, String)].collect().toSet == Set((100L, "v100")))
    assert(v3.where(col("_change") === "insert").select("k", "v")
      .as[(Long, String)].collect().toSet == Set((100L, "U")))
    // fold invariant over the whole range: snapshot(1) ⊎ ins ∖ del = latest
    val feed = t.changes(1L, t.version)
    val ins = feed.where(col("_change") === "insert").select("k", "v")
    val del = feed.where(col("_change") === "delete").select("k", "v")
    val folded = t.snapshot(Some(1L)).unionByName(ins.toDF("k", "v"))
      .exceptAll(del.toDF("k", "v"))
    assert(folded.exceptAll(t.snapshot()).count() == 0L)
    assert(t.snapshot().exceptAll(folded).count() == 0L)
  }

  test("compact purges vectors layout-only; time travel keeps applying them") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 300L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    t.deleteWhere(col("k") <= 12L)                        // v2: DV
    val v2 = t.version
    val c = t.compact()                                   // purge pass
    assert(c > v2, "compact must engage on a DV'd file regardless of size")
    assert(t.currentFiles.forall(_.dv.isEmpty), "compact kept a vector")
    assert(t.currentFiles.forall(f => f.rows == GraftTable.liveRows(f)))
    assert(t.snapshot().count() == 288L)
    // layout-only: the feed across the compaction contributes nothing
    assert(t.changes(v2, c).count() == 0L)
    // time travel to the DV'd version still applies the vector
    assert(t.snapshot(Some(v2)).count() == 288L)
    assert(t.snapshot(Some(1L)).count() == 300L)
  }

  test("restore across a DV delete brings the rows back") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    t.deleteWhere(col("k") <= 7L)                         // v2: DV on the file
    assert(t.snapshot().count() == 193L)
    t.restore(1L)
    // entry-level diff: the same path must be re-added WITHOUT its vector
    assert(t.currentFiles.forall(_.dv.isEmpty), "restore kept the vector")
    assert(t.snapshot().count() == 200L)
    // and restoring back to the DV'd version re-applies it
    t.restore(2L)
    assert(t.snapshot().count() == 193L)
    assert(t.currentFiles.exists(_.dv.exists(_.n == 7L)))
  }

  test("changes(classifyUpdates): in-place changes pair as pre/post images") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v"), keyCol = Some("k"))
    t.merge(Seq((1L, "NEW1"), (2L, "NEW2"), (200L, "INS")).toDF("k", "v")) // v2
    t.deleteWhere(col("k") === 10L)                                        // v3
    val f = t.changes(1L, t.version, classifyUpdates = true)
      .select("_change", "k", "v").as[(String, Long, String)].collect().toSet
    assert(f == Set(
      ("update_preimage", 1L, "v1"), ("update_postimage", 1L, "NEW1"),
      ("update_preimage", 2L, "v2"), ("update_postimage", 2L, "NEW2"),
      ("insert", 200L, "INS"),
      ("delete", 10L, "v10")), f)
    // the classified feed folds identically (post ≡ insert, pre ≡ delete)
    val plain = t.changes(1L, t.version).select("_change", "k", "v")
      .as[(String, Long, String)].collect().toSet
    assert(plain.map(_._2) == f.map(_._2))
    // unkeyed tables cannot pair: loud
    val u = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    u.append(Seq((2L, "b")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] {
      u.changes(1L, u.version, classifyUpdates = true)
    }
    assert(e.getMessage.contains("keyCol"), e.getMessage)
  }

  // ---- history expiration -------------------------------------------------

  test("expireHistory bounds the log; reads, feeds, txn replays survive") {
    val loc = tmp()
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v"),
      keyCol = Some("k"))
    // an exactly-once txn that must stay a no-op ACROSS expiration
    val add = Seq((100L, "txn-row")).toDF("k", "v")
    t.appendIfAbsent("daily-load-1", add)
    (2L to 12L).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    t.deleteWhere(col("k") === 3L)
    val vBefore = t.version
    val horizon = vBefore - 2
    val preSnap = t.snapshot().as[(Long, String)].collect().toSet
    val preChanges = t.changes(horizon, vBefore).count()
    val expired = t.expireHistory(horizon)
    assert(expired == (horizon - 1).toInt, s"expired $expired")
    // log files below the horizon are GONE
    val logFiles = new java.io.File(loc, "_graft_log").listFiles()
      .map(_.getName).filter(_.endsWith(".json"))
    assert(!logFiles.exists(_.contains(f"${horizon - 1}%020d")), logFiles.toSeq)
    // current reads bit-identical; time travel at/after the horizon works
    assert(t.snapshot().as[(Long, String)].collect().toSet == preSnap)
    assert(t.snapshot(Some(horizon)).count() > 0)
    assert(t.changes(horizon, vBefore).count() == preChanges)
    // below the horizon: loud
    intercept[Exception] { t.snapshot(Some(1L)) }
    val e = intercept[Exception] { t.changes(0L, vBefore) }
    assert(e.getMessage.contains("expired"), e.getMessage)
    // the CRUCIAL pin: a replayed pre-expiration txn is STILL a no-op
    // (the txn set rides the horizon checkpoint)
    val v0 = t.version
    t.appendIfAbsent("daily-load-1", add)
    assert(t.version == v0, "a replayed expired-era txn committed again")
    assert(t.snapshot().where(col("k") === 100L).count() == 1L)
    // the table keeps living: new commits, reopen, idempotent re-expire
    t.append(Seq((200L, "post")).toDF("k", "v"))
    assert(GraftTable.at(spark, loc).snapshot().count() == preSnap.size + 1L)
    assert(t.expireHistory(horizon) == 0)
  }

  test("expireHistory rewrites a txn-less horizon checkpoint to carry the txns") {
    val t = GraftTable.create(spark, tmp(), Seq((1L, "a")).toDF("k", "v"))
    t.checkpointInterval = 3
    t.append(Seq((2L, "b")).toDF("k", "v"))
    t.append(Seq((3L, "c")).toDF("k", "v")) // v3 + a checkpoint with no txns
    t.appendIfAbsent("late-txn", Seq((4L, "d")).toDF("k", "v"))
    assert(t.expireHistory(3L) == 2)
    // the replaced horizon checkpoint keeps both the files and the txn
    assert(t.snapshot().count() == 4L)
    val v = t.version
    t.appendIfAbsent("late-txn", Seq((4L, "d")).toDF("k", "v"))
    assert(t.version == v && t.snapshot(Some(3L)).count() == 3L)
  }

  // ---- shallow clone ------------------------------------------------------

  test("shallow clone: one metadata commit, zero data files copied") {
    val srcLoc = tmp()
    val t = GraftTable.create(spark, srcLoc,
      (1L to 500L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(2),
      keyCol = Some("k"))
    t.deleteWhere(col("k") <= 5L) // a DV rides the cloned reference
    val cloneLoc = tmp()
    val c = t.cloneTo(cloneLoc)
    assert(c.version == 1L && c.keyCol.contains("k"))
    // ZERO data files in the clone root — the commit references the source
    assert(dataFilesOnDisk(cloneLoc).isEmpty, "clone copied data files")
    assert(c.snapshot().count() == 495L)
    assert(c.snapshot().agg(min(col("k"))).head().getLong(0) == 6L)
    // reopen from disk: schema/key carried by the clone commit
    val re = GraftTable.at(spark, cloneLoc)
    assert(re.snapshot().as[(Long, String)].collect().toSet ==
      t.snapshot().as[(Long, String)].collect().toSet)
  }

  test("clone diverges independently; source untouched; rewrites localize") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 300L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      keyCol = Some("k"))
    val cloneLoc = tmp()
    val c = t.cloneTo(cloneLoc)
    // sparse delete on the clone: DVs the BORROWED (absolute) reference
    c.deleteWhere(col("k") <= 10L)
    assert(c.snapshot().count() == 290L)
    assert(t.snapshot().count() == 300L, "clone DML leaked into the source")
    assert(dataFilesOnDisk(cloneLoc).isEmpty, "sparse clone delete wrote data")
    // update + merge write NEW files into the CLONE root only
    c.update(Map("v" -> lit("CU")), col("k") === 100L)
    c.merge(Seq((999L, "NEW")).toDF("k", "v"))
    assert(dataFilesOnDisk(cloneLoc).nonEmpty)
    assert(c.snapshot().where(col("v") === "CU").count() == 1L)
    assert(c.snapshot().count() == 291L)
    assert(t.snapshot().as[(Long, String)].collect().toSet ==
      (1L to 300L).map(k => (k, s"v$k")).toSet)
    // compact re-materializes: the dependency on the source is CUT
    c.compact(smallFileBytes = 1L << 30, targetBytes = 1L << 30)
    assert(c.currentFiles.forall(!_.path.contains("/")),
      s"compact left borrowed references: ${c.currentFiles.map(_.path)}")
    assert(c.snapshot().count() == 291L)
    // the clone's own history time-travels to ITS create
    assert(c.snapshot(Some(1L)).count() == 300L)
    // and its change feed folds from its own v1
    val feed = c.changes(1L, c.version)
    val ins = feed.where(col("_change") === "insert").select("k", "v")
    val del = feed.where(col("_change") === "delete").select("k", "v")
    val folded = c.snapshot(Some(1L)).unionByName(ins.toDF("k", "v"))
      .exceptAll(del.toDF("k", "v"))
    assert(folded.exceptAll(c.snapshot()).count() == 0L &&
      c.snapshot().exceptAll(folded).count() == 0L)
  }

  test("clone carries colmap, constraints, partitioning; source vacuum is loud") {
    val t = GraftTable.create(spark, tmp(),
      Seq((1L, "US", "a"), (2L, "DE", "b"), (3L, "US", "c")).toDF("k", "region", "v"),
      partitionBy = Seq("region"))
    t.renameColumn("v", "label")
    t.addConstraint("k_pos", "k > 0")
    val c = t.cloneTo(tmp())
    assert(c.schema.fieldNames.toSeq == Seq("k", "region", "label"))
    assert(c.partitionBy == Seq("region"))
    assert(c.constraints.keySet == Set("k_pos"))
    // pre-rename physical names resolve through the cloned colmap
    assert(c.snapshot().where(col("label") === "a").count() == 1L)
    // partition pruning works off the cloned tuples
    assert(c.snapshotWhere(col("region") === "US").count() == 2L)
    // constraints enforce on the clone
    intercept[Exception] { c.append(Seq((-1L, "FR", "x")).toDF("k", "region", "label")) }
    // the documented hazard: source overwrite + vacuum reclaims files the
    // clone still references — the clone's time travel fails LOUD
    t.overwrite(Seq((9L, "JP", "z")).toDF("k", "region", "label"))
    t.vacuum(retentionMs = 0L)
    val e = intercept[IllegalStateException] { c.snapshot(Some(1L)).count() }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
  }

  test("clone of an old version takes that version's key and partitioning") {
    val loc = tmp()
    GraftTable.create(spark, loc, Seq((1L, "x", "a"), (2L, "y", "b")).toDF("k", "p", "v"),
      keyCol = Some("k"), partitionBy = Seq("p"))
    GraftTable.at(spark, loc).replaceWith(Seq(("n1", 10L)).toDF("name", "id"),
      newKeyCol = Some("id"), newPartitionBy = Seq("name"))
    // a handle on the replaced table: keyed on id, partitioned by name
    val c = GraftTable.at(spark, loc).cloneTo(tmp(), Some(1L))
    assert(c.keyCol.contains("k") && c.partitionBy == Seq("p"))
    assert(c.schema.fieldNames.toSeq == Seq("k", "p", "v"))
    c.append(Seq((3L, "x", "c")).toDF("k", "p", "v"))
    assert(c.snapshot().as[(Long, String, String)].collect().toSet ==
      Set((1L, "x", "a"), (2L, "y", "b"), (3L, "x", "c")))
  }

  test("merge over a DV'd file: survivors exclude deleted rows") {
    val t = GraftTable.create(spark, tmp(),
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      keyCol = Some("k"))
    t.deleteWhere(col("k") <= 5L)                         // DV path
    t.merge(Seq((50L, "M"), (999L, "NEW")).toDF("k", "v"))
    val got = rows(t)
    assert(got.size == 96)                                // 95 survivors + 1 new
    assert(got((50L, "M")) && got((999L, "NEW")))
    assert(!(1L to 5L).exists(k => got.exists(_._1 == k)), "deleted keys resurfaced")
  }
}
