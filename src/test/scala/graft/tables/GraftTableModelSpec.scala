package graft.tables

import java.nio.file.Files

import scala.util.Random

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based lifecycle property for the table layer: a RANDOM sequence of
  * DML and maintenance ops (merge, deleteWhere, update, append, overwrite,
  * compact, optimize incl. incremental, renameColumn, restore, widen, WAP
  * branch cycles, keyed IN-deletes, tag cycles) runs against both a
  * [[GraftTable]] and a trivial in-memory reference model; after EVERY op
  * the snapshot must equal the model exactly. This catches interaction bugs
  * no single-op spec can (merge after optimize relocated rows, update after
  * compact merged files, update-under-a-renamed-name over pre-rename files,
  * restore across a rename boundary …), and at the end the change feed's
  * fold invariant is checked across the whole mixed history — the feed must
  * reconstruct the final state from the first version regardless of which
  * ops produced the commits. Fixed seed: failures reproduce.
  */
class GraftTableModelSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    new java.io.File(Files.createTempDirectory("graft-model").toFile, "t").getAbsolutePath

  test("random op sequences: snapshot ≡ model after every op; feed folds") {
    val rnd = new Random(20260814L)
    val model = scala.collection.mutable.Map.empty[Long, String]
    // the value column's CURRENT logical name (renameColumn rebinds it);
    // data frames for DML must speak the name in force
    var vName = "v"
    def df(rows: Iterable[(Long, String)]): DataFrame =
      rows.toSeq.toDF("k", vName)
    def fresh(n: Int): Seq[(Long, String)] = {
      val ks = Iterator.continually(rnd.nextInt(200).toLong)
        .filterNot(model.contains).distinct.take(n).toSeq
      ks.map(k => k -> s"v$k-${rnd.nextInt(100)}")
    }
    val init = fresh(8)
    init.foreach { case (k, v) => model(k) = v }
    val t = GraftTable.create(spark, tmp(), df(init), keyCol = Some("k"))

    def check(op: String): Unit = {
      val got = t.snapshot().as[(Long, String)].collect().toSet
      assert(got == model.toSet, s"after $op: table $got != model ${model.toSet}")
      assert(t.schema.fieldNames.toSeq == Seq("k", vName),
        s"after $op: schema ${t.schema.fieldNames.mkString(",")} != k,$vName")
    }

    // per-version model states, for restore targets (never vacuumed here)
    val past = scala.collection.mutable.Buffer.empty[(Long, Map[Long, String], String)]
    past += ((t.version, model.toMap, vName))
    def snap(): Unit = past += ((t.version, model.toMap, vName))

    for (step <- 1 to 30) {
      rnd.nextInt(17) match {
        case 0 => // append fresh keys
          val rows = fresh(rnd.nextInt(4) + 1)
          t.append(df(rows))
          rows.foreach { case (k, v) => model(k) = v }
          check(s"$step:append")
        case 1 => // merge: mix of updates to existing keys and inserts
          val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
            .map(k => k -> s"m$k-$step")
          val ins = fresh(rnd.nextInt(3))
          val src = upd ++ ins
          if (src.nonEmpty) {
            t.merge(df(src))
            src.foreach { case (k, v) => model(k) = v }
          }
          check(s"$step:merge")
        case 2 => // deleteWhere on a key-range predicate
          val lo = rnd.nextInt(200).toLong
          t.deleteWhere(col("k").between(lo, lo + 30L))
          model.filterInPlace((k, _) => !(k >= lo && k <= lo + 30L))
          check(s"$step:delete[$lo,${lo + 30}]")
        case 3 => // update: rewrite v where k in a band, referencing old v
          val m = rnd.nextInt(5) + 2
          t.update(Map(vName -> concat(col(vName), lit(s"+u$step"))),
            col("k") % m === 0L)
          model.mapValuesInPlace((k, v) => if (k % m == 0) s"$v+u$step" else v)
          check(s"$step:update%$m")
        case 4 => // overwrite with a subset + fresh rows
          val keep = rnd.shuffle(model.toSeq).take(model.size / 2)
          val add = fresh(rnd.nextInt(3) + 1)
          model.clear()
          (keep ++ add).foreach { case (k, v) => model(k) = v }
          t.overwrite(df(model.toSeq))
          check(s"$step:overwrite")
        case 5 =>
          t.compact(smallFileBytes = 32L << 20, targetBytes = 64L << 20)
          check(s"$step:compact")
        case 6 =>
          if (model.nonEmpty) t.optimize(Seq("k"), targetBytes = 16L << 10)
          check(s"$step:optimize")
        case 7 => // rename the value column: metadata-only, data identical
          val next = s"v_$step"
          t.renameColumn(vName, next)
          vName = next
          check(s"$step:rename->$next")
        case 8 => // restore to a random recorded version: data AND schema
          val (ver, m0, n0) = past(rnd.nextInt(past.size))
          if (ver != t.version) {
            t.restore(ver)
            model.clear(); m0.foreach { case (k, v) => model(k) = v }
            vName = n0
          }
          check(s"$step:restore->v$ver")
        case 9 => // add/drop an extra column mid-history: metadata-only
          // both ways, the retired physical name gets a FRESH binding on
          // every re-add, and data/model are untouched throughout
          t.addColumns(Seq(org.apache.spark.sql.types.StructField(
            "w", org.apache.spark.sql.types.LongType)))
          assert(t.snapshot().where(col("w").isNotNull).isEmpty,
            s"$step: re-added column resurfaced dropped values")
          t.dropColumn("w")
          check(s"$step:addDropColumn")
        case 10 => // transient CHECK constraint: existing rows validate,
          // one enforced append passes, drop frees the schema ops again
          val cn = s"c$step"
          t.addConstraint(cn, s"`$vName` IS NOT NULL")
          val rows = fresh(1)
          t.append(df(rows))
          rows.foreach { case (k, v) => model(k) = v }
          t.dropConstraint(cn)
          check(s"$step:constraint")
        case 11 => // sparse single-key delete: exercises the deletion-vector
          // vs full-file-drop routing boundary against whatever layout the
          // preceding ops left behind
          rnd.shuffle(model.keys.toSeq).headOption.foreach { k =>
            t.deleteWhere(col("k") === k)
            model.remove(k)
          }
          check(s"$step:deleteOne")
        case 12 => // type-widening cycle mid-history: an INT column lands,
          // takes an int-era write, widens to BIGINT (metadata-only),
          // takes a beyond-int-range write, both eras read, then drops —
          // composed against whatever layout/renames/restores came before
          import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
          t.addColumns(Seq(StructField("x", IntegerType)))
          val r1 = fresh(1)
          t.append(df(r1).withColumn("x", (col("k") % 100).cast("int")))
          r1.foreach { case (k, v) => model(k) = v }
          t.widenColumn("x", LongType)
          val r2 = fresh(1)
          t.append(df(r2).withColumn("x", col("k") + 5000000000L))
          r2.foreach { case (k, v) => model(k) = v }
          assert(t.snapshot().schema("x").dataType == LongType,
            s"$step: widened column did not read as BIGINT")
          assert(t.snapshot().where(col("x") > 4000000000L).count() == 1,
            s"$step: long-era value lost across the widening")
          t.dropColumn("x")
          check(s"$step:widenCycle")
        case 13 => // WAP cycle: branch writes stay invisible, then publish
          // or abandon — against the current colmap/layout
          val b = t.createBranch(s"b$step")
          val rows = fresh(rnd.nextInt(2) + 1)
          b.append(df(rows))
          check(s"$step:branchInvisible") // main must NOT see them yet
          if (rnd.nextBoolean()) {
            t.fastForward(s"b$step")
            rows.foreach { case (k, v) => model(k) = v }
          } else t.dropBranch(s"b$step")
          check(s"$step:branchCycle")
        case 14 => // keyed IN-delete (the erasure-list primitive) against
          // whatever file layout the preceding ops left
          val ks = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
          if (ks.nonEmpty) {
            t.deleteMatching(ks.toDF("erase_k"), "k")
            ks.foreach(model.remove)
          }
          check(s"$step:deleteMatching")
        case 15 => // TAG cycle: the pinned read serves the tag-time state
          // while main moves on; expire above a live tag refuses; drop
          // releases — against whatever history/renames came before
          val tn = s"t$step"
          t.createTag(tn)
          val m0 = model.toSet
          val rows = fresh(1)
          t.append(df(rows))
          rows.foreach { case (k, v) => model(k) = v }
          val tagged = t.snapshot(Some(t.tagVersion(tn)))
            .as[(Long, String)].collect().toSet
          assert(tagged == m0, s"$step: tagged read $tagged != tag-time $m0")
          val e = intercept[IllegalArgumentException](t.expireHistory(t.version))
          assert(e.getMessage.contains(tn), s"$step: expire did not name the tag")
          t.dropTag(tn)
          check(s"$step:tagCycle")
        case 16 => // incremental optimize: layout-only over the arrivals,
          // data identical — composed against DVs/renames/restores
          if (model.nonEmpty)
            t.optimize(Seq("k"), targetBytes = 16L << 10, onlyUnclustered = true)
          check(s"$step:optimizeIncremental")
      }
      snap()
    }

    // change-feed fold across the whole mixed history: snapshot(1) ⊎ ins ∖
    // del ≡ final snapshot, as MULTISETS (paranoid about rewrite survivors)
    val feed = t.changes(1L, t.version)
    val ins = feed.where(col("_change") === "insert").select(col("k"), col(vName))
    val del = feed.where(col("_change") === "delete").select(col("k"), col(vName))
    val folded = t.snapshot(Some(1L)).unionAll(ins).exceptAll(del)
      .as[(Long, String)].collect().toSeq.sorted
    val fin = t.snapshot().as[(Long, String)].collect().toSeq.sorted
    assert(folded == fin, "change feed does not fold to the final state")
  }

  test("random ops on a GENERATED + IDENTITY table keep derivation and uniqueness") {
    val rnd = new Random(20260815L)
    val model = scala.collection.mutable.Map.empty[Long, String]
    def df(rows: Iterable[(Long, String)]): DataFrame = rows.toSeq.toDF("k", "v")
    def fresh(n: Int): Seq[(Long, String)] = {
      val ks = Iterator.continually(rnd.nextInt(200).toLong)
        .filterNot(model.contains).distinct.take(n).toSeq
      ks.map(k => k -> s"v$k-${rnd.nextInt(100)}")
    }
    val init = fresh(6)
    init.foreach { case (k, v) => model(k) = v }
    val t = GraftTable.create(spark, tmp(), df(init), keyCol = Some("k"),
      generatedColumns = Map("vu" -> "upper(v)"),
      identityColumns = Map("id" -> GraftTable.IdentitySpec(1L, 1L)))

    // every newly-ASSIGNED identity value must land beyond everything seen
    // before (the hwm contract); surviving rows keep their values
    var prevIds = Set.empty[Long]
    var prevMax = 0L

    def check(op: String): Unit = {
      val rows = t.snapshot()
        .select(col("k"), col("v"), col("vu"), col("id"))
        .as[(Long, String, String, Long)].collect().toSeq
      assert(rows.map(r => (r._1, r._2)).toSet == model.toSet,
        s"after $op: data ${rows.map(r => (r._1, r._2)).toSet} != model")
      rows.foreach { case (k, v, vu, _) =>
        assert(vu == v.toUpperCase, s"after $op: vu '$vu' != upper('$v') at k=$k") }
      val ids = rows.map(_._4)
      assert(ids.distinct.size == ids.size,
        s"after $op: identity collision among ${ids.sorted.mkString(",")}")
      val assigned = ids.toSet -- prevIds
      assert(assigned.forall(_ > prevMax),
        s"after $op: assigned ids $assigned not beyond prior max $prevMax")
      prevIds ++= ids
      prevMax = math.max(prevMax, if (ids.isEmpty) prevMax else ids.max)
    }
    check("create")

    for (step <- 1 to 18) {
      rnd.nextInt(7) match {
        case 0 =>
          val rows = fresh(rnd.nextInt(4) + 1)
          t.append(df(rows))
          rows.foreach { case (k, v) => model(k) = v }
          check(s"$step:append")
        case 1 =>
          val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
            .map(k => k -> s"m$k-$step")
          val ins = fresh(rnd.nextInt(3))
          val src = upd ++ ins
          if (src.nonEmpty) {
            t.merge(df(src)) // replaced rows get FRESH identity values
            src.foreach { case (k, v) => model(k) = v }
          }
          check(s"$step:merge")
        case 2 =>
          val lo = rnd.nextInt(200).toLong
          t.deleteWhere(col("k").between(lo, lo + 40L))
          model.filterInPlace((k, _) => !(k >= lo && k <= lo + 40L))
          check(s"$step:delete")
        case 3 => // update v: vu must auto-recompute, id must be KEPT
          val before = t.snapshot().select(col("k"), col("id"))
            .as[(Long, Long)].collect().toMap
          val m = rnd.nextInt(4) + 2
          t.update(Map("v" -> concat(col("v"), lit(s"x$step"))), col("k") % m === 0L)
          model.mapValuesInPlace((k, v) => if (k % m == 0) s"${v}x$step" else v)
          val after = t.snapshot().select(col("k"), col("id"))
            .as[(Long, Long)].collect().toMap
          assert(after == before,
            s"$step:update changed identity values (update must keep them)")
          check(s"$step:update")
        case 4 =>
          rnd.shuffle(model.keys.toSeq).headOption.foreach { k =>
            t.deleteWhere(col("k") === k)
            model.remove(k)
          }
          check(s"$step:deleteOne")
        case 5 =>
          t.compact(smallFileBytes = 32L << 20, targetBytes = 64L << 20)
          check(s"$step:compact")
        case 6 =>
          if (model.nonEmpty) t.optimize(Seq("k"), targetBytes = 16L << 10)
          check(s"$step:optimize")
      }
    }
  }

  test("random ops on a UNIQUE KEY table: invariant holds, violations refused") {
    val rnd = new Random(20260817L)
    val model = scala.collection.mutable.Map.empty[Long, String]
    def df(rows: Iterable[(Long, String)]): DataFrame = rows.toSeq.toDF("k", "v")
    def fresh(n: Int): Seq[(Long, String)] = {
      val ks = Iterator.continually(rnd.nextInt(150).toLong)
        .filterNot(model.contains).distinct.take(n).toSeq
      ks.map(k => k -> s"v$k-${rnd.nextInt(100)}")
    }
    val init = fresh(6)
    init.foreach { case (k, v) => model(k) = v }
    val t = GraftTable.create(spark, tmp(), df(init), keyCol = Some("k"),
      uniqueKey = true)

    def check(op: String): Unit = {
      val got = t.snapshot().as[(Long, String)].collect().toSeq
      assert(got.toSet == model.toSet, s"after $op: ${got.toSet} != ${model.toSet}")
      assert(got.map(_._1).distinct.size == got.size,
        s"after $op: UNIQUE KEY violated: ${got.map(_._1).sorted.mkString(",")}")
    }
    check("create")

    for (step <- 1 to 16) {
      rnd.nextInt(6) match {
        case 0 => // disjoint append: allowed
          val rows = fresh(rnd.nextInt(3) + 1)
          t.append(df(rows))
          rows.foreach { case (k, v) => model(k) = v }
          check(s"$step:append")
        case 1 => // an append re-inserting a LIVE key must be refused whole
          if (model.nonEmpty) {
            val dup = model.keys.head -> "DUP"
            val ok = fresh(1)
            intercept[IllegalArgumentException] {
              t.append(df(ok :+ dup))
            }
            check(s"$step:appendDupRefused") // nothing committed
          }
        case 2 => // merge may replace + insert (preserves the invariant)
          val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
            .map(k => k -> s"m$k-$step")
          val ins = fresh(rnd.nextInt(2))
          val src = upd ++ ins
          if (src.nonEmpty) {
            t.merge(df(src))
            src.foreach { case (k, v) => model(k) = v }
          }
          check(s"$step:merge")
        case 3 =>
          val lo = rnd.nextInt(150).toLong
          t.deleteWhere(col("k").between(lo, lo + 30L))
          model.filterInPlace((k, _) => !(k >= lo && k <= lo + 30L))
          check(s"$step:delete")
        case 4 => // deleting a key frees it for a later re-insert
          rnd.shuffle(model.keys.toSeq).headOption.foreach { k =>
            t.deleteWhere(col("k") === k)
            model.remove(k)
            t.append(df(Seq(k -> s"re$k-$step")))
            model(k) = s"re$k-$step"
          }
          check(s"$step:deleteReinsert")
        case 5 =>
          t.compact(smallFileBytes = 32L << 20, targetBytes = 64L << 20)
          check(s"$step:compact")
      }
    }
  }

  test("OCC chaos: a concurrent disjoint append before every commit always rebases") {
    val rnd = new Random(20260816L)
    val loc = tmp()
    val model = scala.collection.mutable.Map.empty[Long, String]
    def df(rows: Iterable[(Long, String)]): DataFrame = rows.toSeq.toDF("k", "v")
    def fresh(n: Int): Seq[(Long, String)] = {
      val ks = Iterator.continually(rnd.nextInt(200).toLong)
        .filterNot(model.contains).distinct.take(n).toSeq
      ks.map(k => k -> s"v$k-${rnd.nextInt(100)}")
    }
    val init = fresh(6)
    init.foreach { case (k, v) => model(k) = v }
    val t = GraftTable.create(spark, loc, df(init), keyCol = Some("k"))
    val t2 = GraftTable.at(spark, loc)
    // winner keys live in [500, 700) — provably outside every op's key
    // range and predicate band, so the conflict check must ALWAYS rebase
    var nextWinner = 500L
    def arm(): Seq[(Long, String)] = {
      val w = Seq(nextWinner -> s"w$nextWinner")
      nextWinner += 1
      t.onNextCommitAttempt = () => t2.append(df(w))
      w
    }
    def settle(w: Seq[(Long, String)]): Unit = {
      // an op that early-returned never reached commit: the hook did not
      // fire and the winner never existed — disarm it
      if (t.onNextCommitAttempt != null) t.onNextCommitAttempt = null
      else w.foreach { case (k, v) => model(k) = v }
    }
    def check(op: String): Unit = {
      val got = t.snapshot().select(col("k"), col("v"))
        .as[(Long, String)].collect().toSet
      assert(got == model.toSet, s"after $op: $got != ${model.toSet}")
    }
    for (step <- 1 to 16) {
      rnd.nextInt(6) match {
        case 0 =>
          val rows = fresh(rnd.nextInt(3) + 1)
          val w = arm()
          t.append(df(rows))
          rows.foreach { case (k, v) => model(k) = v }
          settle(w)
          check(s"$step:append+race")
        case 1 =>
          val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
            .map(k => k -> s"m$k-$step")
          val ins = fresh(rnd.nextInt(2))
          val src = upd ++ ins
          if (src.nonEmpty) {
            val w = arm()
            t.merge(df(src))
            src.foreach { case (k, v) => model(k) = v }
            settle(w)
          }
          check(s"$step:merge+race")
        case 2 =>
          val lo = rnd.nextInt(200).toLong
          val w = arm()
          // the op serializes FIRST (rebase = op-then-winner order), so its
          // model effect applies to the PRE-winner state
          t.deleteWhere(col("k").between(lo, lo + 40L))
          model.filterInPlace((k, _) => !(k >= lo && k <= lo + 40L))
          settle(w)
          check(s"$step:delete+race")
        case 3 =>
          val m = rnd.nextInt(4) + 2
          val w = arm()
          t.update(Map("v" -> concat(col("v"), lit(s"x$step"))), col("k") % m === 0L)
          // update-first serial order: the winner's row is NOT updated
          model.mapValuesInPlace((k, v) => if (k % m == 0) s"${v}x$step" else v)
          settle(w)
          check(s"$step:update+race")
        case 4 =>
          val w = arm()
          t.compact(smallFileBytes = 32L << 20, targetBytes = 64L << 20)
          settle(w)
          check(s"$step:compact+race")
        case 5 => // keyed IN-delete racing a disjoint blind append: the
          // winner's key lives outside the erasure set, so the semi-join
          // delete must rebase exactly like predicate DML
          val ks = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
          if (ks.nonEmpty) {
            val w = arm()
            t.deleteMatching(ks.toDF("erase_k"), "k")
            ks.foreach(model.remove)
            settle(w)
          }
          check(s"$step:deleteMatching+race")
      }
    }
    // the whole mixed racing history still folds through the change feed
    val feed = t.changes(1L, t.version)
    val ins = feed.where(col("_change") === "insert").select(col("k"), col("v"))
    val del = feed.where(col("_change") === "delete").select(col("k"), col("v"))
    val folded = t.snapshot(Some(1L)).unionAll(ins).exceptAll(del)
      .as[(Long, String)].collect().toSeq.sorted
    val fin = t.snapshot().as[(Long, String)].collect().toSeq.sorted
    assert(folded == fin, "racing history's change feed does not fold")
  }

  test("OCC chaos on a UNIQUE KEY table: winners inside the key range rebase or fail loud") {
    val rnd = new Random(20260818L)
    val loc = tmp()
    val model = scala.collection.mutable.Map.empty[Long, String]
    def df(rows: Iterable[(Long, String)]): DataFrame = rows.toSeq.toDF("k", "v")
    def fresh(n: Int, avoid: Set[Long] = Set.empty): Seq[Long] =
      Iterator.continually(rnd.nextInt(150).toLong)
        .filterNot(k => model.contains(k) || avoid(k)).distinct.take(n).toSeq
    fresh(8).foreach(k => model(k) = s"v$k")
    val t = GraftTable.create(spark, loc, df(model), keyCol = Some("k"), uniqueKey = true)
    val t2 = GraftTable.at(spark, loc)
    // the winner appends either one of the op's OWN new keys (a certain
    // collision) or a fresh key inside the op's key range / predicate band
    def winner(own: Seq[Long], inside: Long => Boolean): Long = {
      val free = (0L until 150L).filter(k => !model.contains(k) && !own.contains(k))
      if (own.nonEmpty && rnd.nextBoolean()) rnd.shuffle(own).head
      else rnd.shuffle(Option(free.filter(inside)).filter(_.nonEmpty).getOrElse(free)).head
    }
    var rebased = 0
    var loud = 0
    // the op serializes FIRST when it rebases (its effect applies to the
    // pre-winner state); when it fails loud only the winner lands
    def race(step: Int, name: String, w: Long)(op: => Unit)(effect: => Unit): Unit = {
      t.onNextCommitAttempt = () => t2.append(df(Seq(w -> s"w$w")))
      val ok =
        try { op; true }
        catch { case _: IllegalStateException | _: GraftTable.ConcurrentCommitException => false }
      // an op that early-returned never reached commit: the winner never existed
      val fired = t.onNextCommitAttempt == null
      if (!fired) t.onNextCommitAttempt = null
      assert(ok || fired, s"$step:$name failed without a race")
      if (ok) effect
      if (fired) {
        model(w) = s"w$w"
        if (ok) rebased += 1 else loud += 1
      }
      val got = t.snapshot().as[(Long, String)].collect().toSeq
      assert(got.map(_._1).distinct.size == got.size,
        s"after $step:$name (winner $w): UNIQUE KEY violated: ${got.map(_._1).sorted.mkString(",")}")
      assert(got.toSet == model.toSet, s"after $step:$name (winner $w): ${got.toSet} != ${model.toSet}")
    }
    def range(ks: Seq[Long]): Long => Boolean = k => ks.nonEmpty && k >= ks.min && k <= ks.max
    for ((opIdx, step) <- rnd.shuffle(Seq.tabulate(18)(_ % 6)).zipWithIndex) opIdx match {
      case 0 =>
        val ks = fresh(rnd.nextInt(3) + 1)
        race(step, "append", winner(ks, range(ks)))(t.append(df(ks.map(k => k -> s"a$k")))) {
          ks.foreach(k => model(k) = s"a$k")
        }
      case 1 => // replaces some keys, inserts others
        val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
        val ins = fresh(rnd.nextInt(2) + 1)
        val src = (upd ++ ins).map(k => k -> s"m$k-$step")
        race(step, "merge", winner(ins, range(upd ++ ins)))(t.merge(df(src))) {
          src.foreach { case (k, v) => model(k) = v }
        }
      case 2 => // the one unmatched source key inserts under a FORGED key
        val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
        val srcNew = fresh(1).head
        val forged = fresh(1, Set(srcNew)).head
        val src = (upd :+ srcNew).map(k => k -> s"mi$k-$step")
        race(step, "mergeInto", winner(Seq(forged), range(upd :+ srcNew))) {
          t.mergeInto(df(src),
            matched = Seq((None, Some(Map("v" -> col("__src_v"))))),
            notMatched = Seq((None, Map("k" -> lit(forged), "v" -> col("__src_v")))))
        } {
          upd.foreach(k => model(k) = s"mi$k-$step")
          model(forged) = s"mi$srcNew-$step"
        }
      case 3 =>
        val lo = rnd.nextInt(150).toLong
        race(step, "delete", winner(Nil, k => k >= lo && k <= lo + 40L)) {
          t.deleteWhere(col("k").between(lo, lo + 40L))
        } { model.filterInPlace((k, _) => !(k >= lo && k <= lo + 40L)) }
      case 4 =>
        val m = rnd.nextInt(4) + 2
        race(step, "update", winner(Nil, _ % m == 0)) {
          t.update(Map("v" -> concat(col("v"), lit(s"x$step"))), col("k") % m === 0L)
        } { model.mapValuesInPlace((k, v) => if (k % m == 0) s"${v}x$step" else v) }
      case 5 =>
        race(step, "compact", winner(Nil, _ => true)) {
          t.compact(smallFileBytes = 32L << 20, targetBytes = 64L << 20)
        } {}
    }
    assert(rebased > 0 && loud > 0, s"rebased $rebased, failed loud $loud: a race outcome went unexercised")
  }
}
