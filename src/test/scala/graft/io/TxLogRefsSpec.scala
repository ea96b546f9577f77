package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Branches, tags, and CHECK constraints — the TxLog ref tier.
  *
  * A branch ("table#name") is ZERO-COPY: its log lives in a private
  * namespace, its manifests reference the root's shared segment dirs, and
  * every TxLog operation works on the token unchanged. Tags are immutable
  * version names that protect their artifacts from vacuum forever.
  * CHECK constraints ride every manifest and are enforced INSIDE each
  * write's own scan. */
class TxLogRefsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    TempDirs.create("txrefs_spec_").resolve("t").toString

  private def rows(tbl: String): Set[(Long, String, Long)] =
    TxLog.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  /** All messages down the cause chain (Spark wraps task failures). */
  private def msgChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("branch: zero-copy fork, write isolation, full op surface on the token") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "v"))
    val fork = TxLog.createBranch(spark, tbl, "dev")
    // zero copy: the fork manifest references EXACTLY the root's segments
    assert(fork.segments === TxLog.latest(tbl).segments)
    val br = TxLog.branchTable(tbl, "dev")
    TxLog.append(spark, br, Seq((3L, "c", 30L)).toDF("k", "name", "v"))
    TxLog.upsert(spark, br, Seq((1L, "a2", 11L)).toDF("k", "name", "v"), Seq("k"))
    // root completely unmoved — the branch writes are invisible to it
    assert(TxLog.latest(tbl).version === 0L)
    assert(rows(tbl) === Set((1L, "a", 10L), (2L, "b", 20L)))
    assert(rows(br) === Set((1L, "a2", 11L), (2L, "b", 20L), (3L, "c", 30L)))
    // time travel and CDF work within the branch namespace
    assert(TxLog.read(spark, br, fork.version).count() === 2)
    val feed = TxLog.changeFeed(spark, br, fork.version)
      .select(col("_change_type")).collect().map(_.getString(0)).sorted.toSeq
    assert(feed === Seq("insert", "update_postimage", "update_preimage"))
    assert(TxLog.branches(tbl) === Seq("dev" -> 0L))
  }

  test("branch: bad names, nested forks, duplicate creates all refuse loudly") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 1L)).toDF("k", "name", "v"))
    intercept[IllegalArgumentException] {
      TxLog.createBranch(spark, tbl, "no/slash")
    }
    TxLog.createBranch(spark, tbl, "dev")
    intercept[IllegalArgumentException] {
      TxLog.createBranch(spark, tbl, "dev") // duplicate
    }
    intercept[IllegalArgumentException] {
      TxLog.createBranch(spark, TxLog.branchTable(tbl, "dev"), "nested")
    }
    TxLog.deleteBranch(tbl, "dev")
    assert(TxLog.branches(tbl).isEmpty)
    intercept[IllegalArgumentException] {
      TxLog.createBranch(spark, tbl, "dev") // names are single-use
    }
  }

  test("publish: fast-forward of an append-only branch; noop re-publish") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L)).toDF("k", "name", "v"))
    TxLog.createBranch(spark, tbl, "stage")
    val br = TxLog.branchTable(tbl, "stage")
    TxLog.append(spark, br, Seq((2L, "b", 20L)).toDF("k", "name", "v"))
    def dataDirs = new java.io.File(tbl, "data").list().toSet
    val dirsBefore = dataDirs
    val pub = TxLog.publishBranch(spark, tbl, "stage")
    assert(dataDirs === dirsBefore, "publish wrote under the data directory")
    assert(pub.version === 1L && pub.op.startsWith("publish_append:stage:"))
    assert(rows(tbl) === Set((1L, "a", 10L), (2L, "b", 20L)))
    // the publish moved ZERO data: the root's new manifest references the
    // branch's segment verbatim
    assert(TxLog.latest(br).segments.toSet === TxLog.latest(tbl).segments.toSet)
    // nothing new on the branch -> publish commits NOTHING
    assert(TxLog.publishBranch(spark, tbl, "stage").version === 1L)
    assert(TxLog.latest(tbl).version === 1L)
    // CDF classifies the publish as plain inserts of the staged rows
    val feed = TxLog.changeFeed(spark, tbl, 0L)
      .select(col("k"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((2L, "insert")))
  }

  test("publish: append-only branch REBASES onto a root that moved past the fork") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L)).toDF("k", "name", "v"))
    TxLog.createBranch(spark, tbl, "stage")
    val br = TxLog.branchTable(tbl, "stage")
    TxLog.append(spark, br, Seq((2L, "b", 20L)).toDF("k", "name", "v"))
    // the root moves concurrently — an append AND a rewrite
    TxLog.append(spark, tbl, Seq((3L, "c", 30L)).toDF("k", "name", "v"))
    TxLog.upsert(spark, tbl, Seq((1L, "a9", 19L)).toDF("k", "name", "v"), Seq("k"))
    val pub = TxLog.publishBranch(spark, tbl, "stage")
    assert(pub.op.startsWith("publish_append:"))
    // both lines of history survive: the root's moves and the staged batch
    assert(rows(tbl) === Set((1L, "a9", 19L), (2L, "b", 20L), (3L, "c", 30L)))
    // further branch appends publish ONLY the missing segments
    TxLog.append(spark, br, Seq((4L, "d", 40L)).toDF("k", "name", "v"))
    val before = TxLog.latest(tbl).segments.toSet
    val pub2 = TxLog.publishBranch(spark, tbl, "stage")
    assert((pub2.segments.toSet -- before).size === 1)
    assert(rows(tbl).map(_._1) === Set(1L, 2L, 3L, 4L))
  }

  test("publish: a REWRITING branch fast-forwards an unmoved root, with keyed CDF") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "v"))
    TxLog.createBranch(spark, tbl, "fix")
    val br = TxLog.branchTable(tbl, "fix")
    TxLog.upsert(spark, br, Seq((2L, "b2", 21L)).toDF("k", "name", "v"), Seq("k"))
    val pub = TxLog.publishBranch(spark, tbl, "fix", keyCols = Seq("k"))
    assert(pub.op.startsWith("publish:fix") && pub.op.contains(":keys=k"))
    assert(rows(tbl) === Set((1L, "a", 10L), (2L, "b2", 21L)))
    val feed = TxLog.changeFeed(spark, tbl, 0L)
      .select(col("k"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((2L, "update_preimage"), (2L, "update_postimage")))
  }

  test("publish: a rewriting branch against a MOVED root is a loud conflict") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L)).toDF("k", "name", "v"))
    TxLog.createBranch(spark, tbl, "fix")
    val br = TxLog.branchTable(tbl, "fix")
    TxLog.upsert(spark, br, Seq((1L, "a2", 11L)).toDF("k", "name", "v"), Seq("k"))
    TxLog.append(spark, tbl, Seq((2L, "b", 20L)).toDF("k", "name", "v"))
    val e = intercept[IllegalArgumentException] {
      TxLog.publishBranch(spark, tbl, "fix")
    }
    assert(e.getMessage.contains("true conflict"))
    assert(rows(tbl) === Set((1L, "a", 10L), (2L, "b", 20L))) // root untouched
  }

  test("vacuum: protects every live branch's artifacts; fullSweep reclaims after delete") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "v"))
    TxLog.createBranch(spark, tbl, "keepme")
    val br = TxLog.branchTable(tbl, "keepme")
    TxLog.append(spark, br, Seq((3L, "c", 30L)).toDF("k", "name", "v"))
    // the root rewrites EVERYTHING the fork referenced, then vacuums hard
    TxLog.upsert(spark, tbl, Seq((1L, "a2", 11L), (2L, "b2", 21L))
      .toDF("k", "name", "v"), Seq("k"))
    TxLog.vacuum(spark, tbl, retainVersions = 1, orphanAgeMs = 0L)
    // the fork's segments are sub-floor on the root, but the live branch
    // protects them: its reads are fully intact
    assert(rows(br) === Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    // vacuum refuses to run ON a branch (one GC domain, rooted)
    intercept[IllegalArgumentException] { TxLog.vacuum(spark, br, 1) }
    // delete the branch: a fullSweep vacuum then reclaims what only the
    // branch referenced, and the branch read breaks LOUDLY (never silently)
    val exclusive = TxLog.latest(br).segments
      .filterNot(TxLog.latest(tbl).segments.contains)
    TxLog.deleteBranch(tbl, "keepme")
    // fullSweep re-examines the whole sub-floor history (reclaims what the
    // ref was protecting); the orphan sweep reclaims the branch-EXCLUSIVE
    // segments no root manifest ever referenced
    TxLog.vacuum(spark, tbl, retainVersions = 1, orphanAgeMs = 0L, fullSweep = true)
    assert(exclusive.nonEmpty && exclusive.forall(s =>
      !new java.io.File(tbl, s).exists()))
  }

  test("tags: floor-exempt reads, vacuum protection, single-use names") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "v"))
    assert(TxLog.tagVersion(tbl, "v0") === 0L)
    intercept[IllegalArgumentException] { TxLog.tagVersion(tbl, "v0") } // duplicate
    TxLog.upsert(spark, tbl, Seq((1L, "a2", 11L)).toDF("k", "name", "v"), Seq("k"))
    TxLog.delete(spark, tbl, col("k") === 2L)
    TxLog.vacuum(spark, tbl, retainVersions = 1)
    // the tagged version fell below the floor: plain read refuses...
    intercept[IllegalArgumentException] { TxLog.read(spark, tbl, 0L) }
    // ...but the tag still serves it bit-for-bit
    assert(TxLog.readTagged(spark, tbl, "v0").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      === Set((1L, "a", 10L), (2L, "b", 20L)))
    assert(TxLog.tags(tbl) === Seq("v0" -> 0L))
    // delete + fullSweep reclaims; the tag name is retired
    TxLog.deleteTag(tbl, "v0")
    intercept[IllegalArgumentException] { TxLog.tagVersionOf(tbl, "v0") }
    intercept[IllegalArgumentException] { TxLog.tagVersion(tbl, "v0") }
    TxLog.vacuum(spark, tbl, retainVersions = 1, fullSweep = true)
    assert(TxLog.tags(tbl).isEmpty)
  }

  test("CHECK constraints: write-scan enforcement, NULL passes, drop re-admits") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L)).toDF("k", "name", "v"))
    TxLog.addConstraint(spark, tbl, "v_pos", "v > 0")
    assert(TxLog.constraintsOf(tbl) === Map("v_pos" -> "v > 0"))
    // a clean append passes; a violating one fails LOUDLY with the
    // constraint name and commits NOTHING
    TxLog.append(spark, tbl, Seq((2L, "b", 20L)).toDF("k", "name", "v"))
    val before = TxLog.latest(tbl).version
    val e = intercept[Exception] {
      TxLog.append(spark, tbl, Seq((3L, "bad", -5L)).toDF("k", "name", "v"))
    }
    assert(msgChain(e).contains("v_pos"))
    assert(TxLog.latest(tbl).version === before)
    // SQL CHECK semantics: NULL passes
    TxLog.append(spark, tbl,
      Seq((4L, "n", Option.empty[Long])).toDF("k", "name", "v"))
    // a violating UPSERT postimage fails too (every write path enforces)
    intercept[Exception] {
      TxLog.upsert(spark, tbl, Seq((1L, "a", -1L)).toDF("k", "name", "v"), Seq("k"))
    }
    // time travel sees the constraints of its era
    assert(TxLog.history(tbl).head.cons.isEmpty)
    assert(TxLog.latest(tbl).cons.nonEmpty)
    // drop re-admits
    TxLog.dropConstraint(spark, tbl, "v_pos")
    TxLog.append(spark, tbl, Seq((5L, "neg", -9L)).toDF("k", "name", "v"))
    assert(TxLog.read(spark, tbl).count() === 4)
  }

  test("addConstraint validates EXISTING rows; restore re-validates resurfaced rows") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L), (2L, "bad", -5L)).toDF("k", "name", "v"))
    // existing violation -> the add refuses and commits nothing
    intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, tbl, "v_pos", "v > 0")
    }
    assert(TxLog.latest(tbl).version === 0L)
    // purge the violator, add the constraint, then try to RESTORE the
    // violating era back: refused (violating rows must not resurface)
    TxLog.delete(spark, tbl, col("v") < 0L)                    // v1
    TxLog.addConstraint(spark, tbl, "v_pos", "v > 0")          // v2
    val e = intercept[IllegalArgumentException] {
      TxLog.restore(spark, tbl, 0L)
    }
    assert(e.getMessage.contains("v_pos"))
    // restoring a clean era is fine, and carries the constraint forward
    val r = TxLog.restore(spark, tbl, 1L)
    assert(r.cons === Map("v_pos" -> "v > 0"))
  }

  test("constraints and branches: inherited at fork; publish refuses on drift") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L)).toDF("k", "name", "v"))
    TxLog.addConstraint(spark, tbl, "v_pos", "v > 0")
    TxLog.createBranch(spark, tbl, "stage")
    val br = TxLog.branchTable(tbl, "stage")
    // the branch INHERITED the CHECK: violating branch writes refuse
    intercept[Exception] {
      TxLog.append(spark, br, Seq((2L, "bad", -1L)).toDF("k", "name", "v"))
    }
    TxLog.append(spark, br, Seq((2L, "b", 20L)).toDF("k", "name", "v"))
    // the root gains ANOTHER constraint after the fork: publish refuses —
    // the staged rows were never validated under it
    TxLog.addConstraint(spark, tbl, "name_short", "length(name) < 100")
    val e = intercept[IllegalArgumentException] {
      TxLog.publishBranch(spark, tbl, "stage")
    }
    assert(e.getMessage.contains("constraint"))
    // aligning the branch (same add) heals the publish
    TxLog.addConstraint(spark, br, "name_short", "length(name) < 100")
    TxLog.publishBranch(spark, tbl, "stage")
    assert(rows(tbl).map(_._1) === Set(1L, 2L))
  }

  test("two RACING publishes of different append-only branches both land exactly once") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L)).toDF("k", "name", "v"))
    TxLog.createBranch(spark, tbl, "left")
    TxLog.createBranch(spark, tbl, "right")
    TxLog.append(spark, TxLog.branchTable(tbl, "left"),
      Seq((2L, "l", 20L)).toDF("k", "name", "v"))
    TxLog.append(spark, TxLog.branchTable(tbl, "right"),
      Seq((3L, "r", 30L)).toDF("k", "name", "v"))
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      Await.result(Future.sequence(Seq("left", "right").map(b => Future(
        TxLog.publishBranch(spark, tbl, b)))), 120.seconds)
    } finally pool.shutdown()
    // both staged batches landed exactly once, whatever the claim order —
    // the loser of the race rode the append rebase path
    assert(rows(tbl) === Set((1L, "a", 10L), (2L, "l", 20L), (3L, "r", 30L)))
    assert(TxLog.latest(tbl).version === 2L)
    // and each re-publish is a noop
    assert(TxLog.publishBranch(spark, tbl, "left").version === 2L)
    assert(TxLog.publishBranch(spark, tbl, "right").version === 2L)
  }

  test("publishAtomic: two tables move together; crash after the commit point rolls forward") {
    val root = TempDirs.create("txatomic_")
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    val coord = root.resolve("coord").toString
    TxLog.create(spark, a, Seq((1L, "a", 10L)).toDF("k", "name", "v"))
    TxLog.create(spark, b, Seq((9L, "z", 90L)).toDF("k", "name", "v"))
    TxLog.createBranch(spark, a, "stage")
    TxLog.createBranch(spark, b, "stage")
    TxLog.append(spark, TxLog.branchTable(a, "stage"),
      Seq((2L, "a2", 20L)).toDF("k", "name", "v"))
    TxLog.append(spark, TxLog.branchTable(b, "stage"),
      Seq((8L, "z8", 80L)).toDF("k", "name", "v"))
    // happy path: one call, both visible, txn marked done
    TxLog.publishAtomic(spark, coord, Seq(a -> "stage", b -> "stage"))
    assert(rows(a).map(_._1) === Set(1L, 2L) && rows(b).map(_._1) === Set(8L, 9L))
    // CRASH INJECTION: stage a second round, record the intent directly on
    // the coordinator (what a writer that died right after the commit
    // point leaves behind) — the tables have NOT moved yet
    TxLog.append(spark, TxLog.branchTable(a, "stage"),
      Seq((3L, "a3", 30L)).toDF("k", "name", "v"))
    TxLog.append(spark, TxLog.branchTable(b, "stage"),
      Seq((7L, "z7", 70L)).toDF("k", "name", "v"))
    assert(TxLog.store.putIfAbsent(coord, "txn-crashed0001.atomic",
      s"publish=$a#stage\npublish=$b#stage\n"))
    assert(rows(a).map(_._1) === Set(1L, 2L)) // durable intent, not yet visible
    // the barrier rolls FORWARD: both tables converge, exactly once
    assert(TxLog.recoverAtomic(spark, coord) === Seq("crashed0001"))
    assert(rows(a).map(_._1) === Set(1L, 2L, 3L))
    assert(rows(b).map(_._1) === Set(7L, 8L, 9L))
    val (va, vb) = (TxLog.latest(a).version, TxLog.latest(b).version)
    // a second barrier is a pure no-op: done-marked txns are skipped
    assert(TxLog.recoverAtomic(spark, coord).isEmpty)
    assert(TxLog.latest(a).version === va && TxLog.latest(b).version === vb)
  }

  test("atomic publish on the SQL surface: procedures drive and recover; EXPLAIN inert") {
    org.apache.spark.sql.graft.GraftExtensions.registerTableFunctions(spark)
    val root = TempDirs.create("txatomic_sql_")
    val a = root.resolve("a").toString
    val coord = root.resolve("coord").toString
    TxLog.create(spark, a, Seq((1L, "a", 10L)).toDF("k", "name", "v"))
    TxLog.createBranch(spark, a, "stage")
    TxLog.append(spark, TxLog.branchTable(a, "stage"),
      Seq((2L, "b", 20L)).toDF("k", "name", "v"))
    spark.sql(s"EXPLAIN SELECT * FROM graft_txlog_publish_atomic('$coord', " +
      s"'$a#stage')").collect()
    assert(TxLog.latest(a).version === 0L && TxLog.store.list(coord).isEmpty)
    val txn = spark.sql(s"SELECT * FROM graft_txlog_publish_atomic('$coord', " +
      s"'$a#stage')").head().getString(0)
    assert(txn.nonEmpty && TxLog.latest(a).version === 1L)
    assert(rows(a).map(_._1) === Set(1L, 2L))
    // everything already driven: the recovery barrier reports nothing open
    assert(spark.sql(s"SELECT * FROM graft_txlog_recover_atomic('$coord')")
      .count() === 0L)
  }

  test("publishAtomic refuses a rewriting branch UP FRONT — no intent recorded") {
    val root = TempDirs.create("txatomic_rw_")
    val a = root.resolve("a").toString
    val coord = root.resolve("coord").toString
    TxLog.create(spark, a, Seq((1L, "a", 10L)).toDF("k", "name", "v"))
    TxLog.createBranch(spark, a, "stage")
    TxLog.upsert(spark, TxLog.branchTable(a, "stage"),
      Seq((1L, "a2", 11L)).toDF("k", "name", "v"), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      TxLog.publishAtomic(spark, coord, Seq(a -> "stage"))
    }
    assert(e.getMessage.contains("APPEND-ONLY"))
    assert(TxLog.store.list(coord).isEmpty) // the commit point never landed
    assert(TxLog.latest(a).version === 0L)
  }

  test("concurrent same-name branch creation: exactly one wins") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 1L)).toDF("k", "name", "v"))
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results = try {
      Await.result(Future.sequence(Seq.fill(2)(Future(
        scala.util.Try(TxLog.createBranch(spark, tbl, "racy"))))), 60.seconds)
    } finally pool.shutdown()
    assert(results.count(_.isSuccess) === 1)
    assert(TxLog.branches(tbl) === Seq("racy" -> 0L))
  }

  test("SQL surface composition: the read TVFs take branch tokens and tag names") {
    org.apache.spark.sql.graft.GraftExtensions.registerTableFunctions(spark)
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "v"))
    TxLog.tagVersion(tbl, "v0")
    TxLog.createBranch(spark, tbl, "dev")
    val br = TxLog.branchTable(tbl, "dev")
    TxLog.append(spark, br, Seq((3L, "c", 30L)).toDF("k", "name", "v"))
    TxLog.delete(spark, tbl, col("k") === 2L)
    // branch token through the snapshot TVF — the branch's 3 rows, while
    // the root reads its own 1
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_txlog('$br')")
      .head().getLong(0) === 3L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_txlog('$tbl')")
      .head().getLong(0) === 1L)
    // branch token through the CDF TVF
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_txlog_changes('$br', 0)")
      .head().getLong(0) === 1L)
    // tagged read through its own TVF
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_txlog_tagged('$tbl', 'v0')")
      .head().getLong(0) === 2L)
    // introspection: refs and constraints as relations
    assert(spark.sql(s"SELECT kind, name, version FROM graft_txlog_refs('$tbl')")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      === Set(("branch", "dev", 0L), ("tag", "v0", 0L)))
    TxLog.addConstraint(spark, tbl, "v_pos", "v > 0")
    assert(spark.sql(s"SELECT name, check_sql FROM graft_txlog_constraints('$tbl')")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq(("v_pos", "v > 0")))
  }

  test("streaming composition: the native source and sink take branch tokens") {
    import org.apache.spark.sql.streaming.Trigger
    val root = TempDirs.create("txrefs_stream_")
    val tbl = root.resolve("t").toString
    val out = root.resolve("out").toString
    val ckp = root.resolve("ckp").toString
    val ckp2 = root.resolve("ckp2").toString
    TxLog.create(spark, tbl, Seq((1L, 10L)).toDF("k", "v"))
    TxLog.createBranch(spark, tbl, "feed")
    val br = TxLog.branchTable(tbl, "feed")
    TxLog.append(spark, br, Seq((2L, 20L)).toDF("k", "v"))
    // SOURCE on the branch token: drains the BRANCH's history
    val q = spark.readStream.format("graft_txlog").load(br)
      .filter(col("_change_type") === "insert").select(col("k"), col("v"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckp)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(spark.read.parquet(out).as[(Long, Long)].collect().toSet
      === Set((1L, 10L), (2L, 20L)))
    // SINK on a branch token: micro-batches land as branch commits; the
    // root never moves
    TxLog.createBranch(spark, tbl, "landing")
    val lb = TxLog.branchTable(tbl, "landing")
    val rootV = TxLog.latest(tbl).version
    val q2 = spark.readStream.format("graft_txlog").load(br)
      .filter(col("_change_type") === "insert").select(col("k"), col("v"))
      .writeStream.format("graft_txlog")
      .option("checkpointLocation", ckp2).option("streamId", "refspipe")
      .trigger(Trigger.AvailableNow()).start(lb)
    assert(q2.awaitTermination(120000))
    // the landing branch carried (1,10) from its fork, and the pipe
    // appended the drained inserts — multiset-exact
    assert(TxLog.read(spark, lb).as[(Long, Long)].collect().sorted.toSeq
      === Seq((1L, 10L), (1L, 10L), (2L, 20L)))
    assert(TxLog.latest(tbl).version === rootV)
  }

  test("createBranch loses a vacuum race SAFELY: ref retired, loud error, never a broken branch") {
    // a store whose branch-ref claim lets a vacuum land FIRST — the exact
    // interleaving where vacuum's drop phase reads the ref listing before
    // the claim becomes visible and reclaims the fork's superseded segments
    val tbl = TempDirs.create("txrefs_race_").resolve("t").toString
    @volatile var opsRef: TxLogOps = null
    @volatile var armed = false
    val racing = new LogStore {
      def list(t: String) = PosixLogStore.list(t)
      def read(t: String, n: String) = PosixLogStore.read(t, n)
      def putIfAbsent(t: String, n: String, c: String) = {
        if (armed && n.startsWith("branch.")) {
          armed = false
          opsRef.vacuum(spark, tbl, retainVersions = 1)
          ()
        }
        PosixLogStore.putIfAbsent(t, n, c)
      }
      def putPointer(t: String, n: String, c: String) = PosixLogStore.putPointer(t, n, c)
      def readPointer(t: String, n: String) = PosixLogStore.readPointer(t, n)
    }
    val ops = new TxLogOps(racing)
    opsRef = ops
    ops.create(spark, tbl, Seq((1L, "a", 10L)).toDF("k", "name", "v"))
    ops.upsert(spark, tbl, Seq((1L, "a2", 11L)).toDF("k", "name", "v"), Seq("k"))
    armed = true
    val e = intercept[RuntimeException] {
      ops.createBranch(spark, tbl, "racy", fromVersion = 0L)
    }
    assert(e.getMessage.contains("vacuum"))
    assert(ops.branches(tbl).isEmpty) // the half-born ref is retired
  }

  test("orphan sweep never reclaims a live branch's exclusive segments") {
    val tbl = freshTable()
    TxLog.create(spark, tbl, Seq((1L, "a", 1L)).toDF("k", "name", "v"))
    TxLog.createBranch(spark, tbl, "dev")
    val br = TxLog.branchTable(tbl, "dev")
    TxLog.append(spark, br, Seq((2L, "b", 2L)).toDF("k", "name", "v"))
    // age 0 would sweep anything unreferenced immediately — the branch's
    // segment is referenced only by the BRANCH manifest and must survive
    TxLog.vacuum(spark, tbl, retainVersions = 10, orphanAgeMs = 0L)
    assert(rows(br) === Set((1L, "a", 1L), (2L, "b", 2L)))
  }
}
