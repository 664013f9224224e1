package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.MergeSink

/** Branches ([[MergeSink.branchTable]] / [[MergeSink.fastForward]]):
  * zero-copy creation (hard links — pinned by inode equality),
  * divergence isolation both ways, the git fast-forward rule on a
  * moved source, retention-GC independence across the link boundary,
  * and resumable publication.
  */
class BranchSpec extends SparkSpec {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def rows(ids: Range, v: Long): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, i.toLong * 10 + v)).toDF("id", "x")
      .withColumn("rv", lit(v))
  }

  private def state(dir: String): Map[Long, Long] =
    MergeSink.currentState(spark, dir).get
      .select(col("id"), col("x")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ino(p: java.nio.file.Path): Any =
    Files.getAttribute(p, "unix:ino")

  private def firstParquet(dir: String): java.nio.file.Path = {
    val d = java.nio.file.Paths.get(dir, "data")
    val it = Files.walk(d)
    try it.filter(q => q.toString.endsWith(".parquet")).findFirst().get()
    finally it.close()
  }

  test("branch is zero-copy (linked inodes) and isolates both ways") {
    val main = tmp("graft_br_main")
    val dev = tmp("graft_br_dev_")
    MergeSink.setHistoryKeep(spark, main, 8)
    MergeSink.upsertBatch(rows(0 until 50, 1), main, "id", "rv", 0L, "w")
    MergeSink.upsertBatch(rows(25 until 60, 2), main, "id", "rv", 1L, "w")
    val (base, linked) = MergeSink.branchTable(spark, main, dev)
    assert(base == 1L && linked > 0)
    // zero-copy: the branch's data files ARE the main's files
    val f = firstParquet(dev)
    val twin = java.nio.file.Paths.get(
      main, f.toString.stripPrefix(dev).stripPrefix("/"))
    assert(ino(f) == ino(twin), "branch data must be hard-linked, not copied")
    assert(state(dev) == state(main))
    // diverge the branch: main must not move
    val before = state(main)
    MergeSink.setHistoryKeep(spark, dev, 8)
    MergeSink.upsertBatch(rows(100 until 110, 3), dev, "id", "rv", 2L, "b")
    assert(state(main) == before, "branch writes must not reach main")
    assert(state(dev).size == before.size + 10)
    // publish: main == branch, idempotent
    assert(MergeSink.fastForward(spark, main, dev) == 1L)
    assert(state(main) == state(dev))
    assert(MergeSink.fastForward(spark, main, dev) == 0L)
    assert(MergeSink.lastCommit(spark, main).get.version == 2L)
  }

  test("fast-forward refuses a source that advanced past the branch point") {
    val main = tmp("graft_br_main2")
    val dev = tmp("graft_br_dev2")
    MergeSink.setHistoryKeep(spark, main, 8)
    MergeSink.upsertBatch(rows(0 until 20, 1), main, "id", "rv", 0L, "w")
    MergeSink.branchTable(spark, main, dev)
    MergeSink.setHistoryKeep(spark, dev, 8)
    MergeSink.upsertBatch(rows(50 until 55, 2), dev, "id", "rv", 1L, "b")
    // main moves on its own — the fast-forward rule is violated
    MergeSink.upsertBatch(rows(90 until 95, 2), main, "id", "rv", 1L, "w")
    val e = intercept[Exception] {
      MergeSink.fastForward(spark, main, dev)
    }
    assert(e.getMessage.contains("advanced past the branch point"))
    // and nothing was promoted: main keeps ITS version-1 content
    assert(state(main).contains(90L) && !state(main).contains(50L))
  }

  test("retention GC on the branch never eats main's data (links)") {
    val main = tmp("graft_br_main3")
    val dev = tmp("graft_br_dev3")
    MergeSink.setHistoryKeep(spark, main, 8)
    MergeSink.upsertBatch(rows(0 until 40, 1), main, "id", "rv", 0L, "w")
    val before = state(main)
    MergeSink.branchTable(spark, main, dev)
    // tight retention + repeated full-bucket rewrites on the branch GC
    // the branch's LINKS to the base content
    MergeSink.setHistoryKeep(spark, dev, 1)
    MergeSink.upsertBatch(rows(0 until 40, 2), dev, "id", "rv", 1L, "b")
    MergeSink.upsertBatch(rows(0 until 40, 3), dev, "id", "rv", 2L, "b")
    MergeSink.vacuum(spark, dev)
    // main reads its full state — the filesystem reference count kept
    // its side of every shared file alive
    assert(state(main) == before)
  }

  test("reference-sharing branch moves zero data bytes and isolates") {
    val main = tmp("graft_br_main5")
    val dev = tmp("graft_br_dev5")
    MergeSink.setHistoryKeep(spark, main, 8)
    MergeSink.upsertBatch(rows(0 until 50, 1), main, "id", "rv", 0L, "w")
    spark.conf.set("spark.graft.branchMode", "refs")
    try {
      val (base, linked) = MergeSink.branchTable(spark, main, dev)
      assert(base == 0L && linked == 0L)
      // ZERO data bytes in the branch: no data directory at all — the
      // manifest resolves into main's tree via the _data_base redirect
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dev, "data")),
        "a reference-sharing branch must carry no base data")
      assert(state(dev) == state(main))
      // divergence isolates both ways; the branch's own writes land in
      // ITS data tree
      val before = state(main)
      MergeSink.setHistoryKeep(spark, dev, 8)
      MergeSink.upsertBatch(rows(100 until 110, 2), dev, "id", "rv", 1L, "b")
      assert(state(main) == before)
      assert(state(dev).size == before.size + 10)
      // point lookup + time travel on the branch read through the
      // redirect too
      assert(MergeSink.stateAt(spark, dev, 0L).get.count() == 50)
      // publish back: the promoted content is the branch's OWN new
      // files (bounded by the branch's writes, never the base)
      assert(MergeSink.fastForward(spark, main, dev) == 1L)
      assert(state(main) == state(dev))
    } finally spark.conf.unset("spark.graft.branchMode")
  }

  test("source GC never eats a reference-shared branch's base content") {
    val main = tmp("graft_br_main6")
    val dev = tmp("graft_br_dev6")
    MergeSink.setHistoryKeep(spark, main, 8)
    MergeSink.upsertBatch(rows(0 until 40, 1), main, "id", "rv", 0L, "w")
    val before = state(main)
    spark.conf.set("spark.graft.branchMode", "refs")
    try MergeSink.branchTable(spark, main, dev)
    finally spark.conf.unset("spark.graft.branchMode")
    // tight retention + repeated full-bucket rewrites on MAIN would
    // normally GC version 0's manifest and data — the branch's
    // registered pin must keep both alive
    MergeSink.setHistoryKeep(spark, main, 1)
    MergeSink.upsertBatch(rows(0 until 40, 2), main, "id", "rv", 1L, "w")
    MergeSink.upsertBatch(rows(0 until 40, 3), main, "id", "rv", 2L, "w")
    MergeSink.vacuum(spark, main)
    assert(state(dev) == before,
      "the branch must read its full base state after source GC")
    // releasing the pin (the drop path) lets the source age the base
    // out normally
    MergeSink.releaseBranchRefs(spark, dev)
    MergeSink.upsertBatch(rows(0 until 40, 4), main, "id", "rv", 3L, "w")
    MergeSink.vacuum(spark, main)
    assert(MergeSink.stateAt(spark, main, 0L).isEmpty,
      "after release the base version ages out of the source")
  }

  test("fast-forward re-takes its own stale claims (deterministic owner)") {
    val main = tmp("graft_br_main7")
    val dev = tmp("graft_br_dev7")
    MergeSink.setHistoryKeep(spark, main, 8)
    MergeSink.upsertBatch(rows(0 until 10, 1), main, "id", "rv", 0L, "w")
    MergeSink.branchTable(spark, main, dev)
    MergeSink.setHistoryKeep(spark, dev, 8)
    MergeSink.upsertBatch(rows(10 until 15, 2), dev, "id", "rv", 1L, "b")
    val branchHead = MergeSink.commits(spark, dev).map(_.version).max
    def ownerOf(head: Long): String =
      "ff" + java.security.MessageDigest.getInstance("MD5")
        .digest(s"$main $dev $head".getBytes("UTF-8"))
        .take(6).map(b => f"$b%02x").mkString
    // a crashed previous run of the SAME publish left its claim behind:
    // the rerun must steal it immediately (no 15-minute TTL wait)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(main, "_claim_v1"),
      ownerOf(branchHead).getBytes("UTF-8"))
    assert(MergeSink.fastForward(spark, main, dev) == 1L)
    assert(state(main) == state(dev))
    // …while a FOREIGN owner's fresh claim (another branch publishing)
    // still blocks: distinct publishes can never steal each other
    MergeSink.upsertBatch(rows(15 until 20, 3), dev, "id", "rv", 2L, "b")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(main, "_claim_v2"),
      "ffdeadbeef00".getBytes("UTF-8"))
    intercept[Exception] { MergeSink.fastForward(spark, main, dev) }
    java.nio.file.Files.delete(java.nio.file.Paths.get(main, "_claim_v2"))
    assert(MergeSink.fastForward(spark, main, dev) == 1L)
  }

  test("keep=1 branch publishes from an untouched main (version equality proves it never moved)") {
    val main = tmp("graft_br_main8")
    val dev = tmp("graft_br_dev8")
    MergeSink.setHistoryKeep(spark, main, 8)
    MergeSink.upsertBatch(rows(0 until 10, 1), main, "id", "rv", 0L, "w")
    MergeSink.branchTable(spark, main, dev)
    // long-lived branch with tiny retention: commits age BOTH the
    // branch-point manifest AND the intermediate branch manifests out
    // of the branch's own window — main's head version still equals
    // `_branch_base`, which proves main never moved (every write mints
    // a new higher version), so publication is sound: only the
    // surviving head version is promoted, and every data dir its
    // manifest carries (including ones minted by the aged commits)
    // reaches main
    MergeSink.setHistoryKeep(spark, dev, 1)
    (1 to 3).foreach(i =>
      MergeSink.upsertBatch(rows(10 until 15, i + 1), dev, "id", "rv",
        i.toLong, "b"))
    assert(MergeSink.fastForward(spark, main, dev) == 1L,
      "only the retained head version can be (and is) promoted")
    assert(state(main) == state(dev))
    // main's history records the gap honestly: v1 (pre-branch) then
    // the promoted branch head, nothing fabricated in between
    assert(MergeSink.commits(spark, main).map(_.version) == Seq(0L, 3L))
  }

  test("aged promoted prefix names BOTH possibilities (no manifest to tell)") {
    val main = tmp("graft_br_main9")
    val dev = tmp("graft_br_dev9")
    MergeSink.setHistoryKeep(spark, main, 8)
    MergeSink.upsertBatch(rows(0 until 10, 1), main, "id", "rv", 0L, "w")
    MergeSink.branchTable(spark, main, dev)
    MergeSink.setHistoryKeep(spark, dev, 1)
    MergeSink.upsertBatch(rows(10 until 12, 2), dev, "id", "rv", 1L, "b")
    assert(MergeSink.fastForward(spark, main, dev) == 1L)
    // more branch commits age the PROMOTED version 1 out of the
    // branch's own window; main sits at 1 (> base 0) — the branch can
    // no longer prove whether main diverged or the prefix simply aged
    (2 to 4).foreach(i =>
      MergeSink.upsertBatch(rows(10 until 12, i + 1), dev, "id", "rv",
        i.toLong, "b"))
    val e = intercept[IllegalStateException] {
      MergeSink.fastForward(spark, main, dev)
    }
    assert(e.getMessage.contains("no branch manifest remains"),
      s"ambiguous case must name both causes, got: ${e.getMessage}")
  }

  test("dropping an intermediate branch re-pins its children onto the grandparent") {
    val g = tmp("graft_br_gp")
    val m = tmp("graft_br_mid")
    val c = tmp("graft_br_child")
    spark.conf.set("spark.graft.branchMode", "refs")
    try {
      MergeSink.setHistoryKeep(spark, g, 8)
      MergeSink.upsertBatch(rows(0 until 20, 1), g, "id", "rv", 0L, "w")
      MergeSink.branchTable(spark, g, m) // m: redirect -> g @ base 0
      MergeSink.setHistoryKeep(spark, m, 8)
      // content MINTED BY the intermediate — the bytes that must
      // materialize into the child before m dies
      MergeSink.upsertBatch(rows(20 until 30, 2), m, "id", "rv", 1L, "b")
      MergeSink.branchTable(spark, m, c) // c: redirect -> m @ base 1
      MergeSink.setHistoryKeep(spark, c, 8)
      MergeSink.upsertBatch(rows(30 until 35, 3), c, "id", "rv", 2L, "c")
      val before = state(c)
      assert(before.size == 35)
      // the promote-and-delete move: re-pin children, then delete m
      MergeSink.repinBranchChildren(spark, m)
      MergeSink.releaseBranchRefs(spark, m)
      val mp = new org.apache.hadoop.fs.Path(m)
      mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(mp, true)
      assert(state(c) == before,
        "child must keep reading after the intermediate branch is dropped")
      // the grandparent now carries the child's pin: even under
      // keep=1 churn, the shared base content survives g's GC
      MergeSink.setHistoryKeep(spark, g, 1)
      MergeSink.upsertBatch(rows(0 until 3, 4), g, "id", "rv", 1L, "w")
      MergeSink.upsertBatch(rows(3 until 6, 5), g, "id", "rv", 2L, "w")
      assert(state(c) == before,
        "grandparent GC must keep the re-pinned child's base content")
    } finally spark.conf.unset("spark.graft.branchMode")
  }

  test("fast-forward resumes over an already-promoted prefix") {
    val main = tmp("graft_br_main4")
    val dev = tmp("graft_br_dev4")
    MergeSink.setHistoryKeep(spark, main, 8)
    MergeSink.upsertBatch(rows(0 until 10, 1), main, "id", "rv", 0L, "w")
    MergeSink.branchTable(spark, main, dev)
    MergeSink.setHistoryKeep(spark, dev, 8)
    MergeSink.upsertBatch(rows(10 until 15, 2), dev, "id", "rv", 1L, "b")
    assert(MergeSink.fastForward(spark, main, dev) == 1L)
    // the branch keeps moving; main is now at a PROMOTED PREFIX of the
    // branch — publication continues from there instead of refusing
    MergeSink.upsertBatch(rows(15 until 20, 3), dev, "id", "rv", 2L, "b")
    assert(MergeSink.fastForward(spark, main, dev) == 1L)
    assert(state(main) == state(dev))
  }

  test("a live rerun of the same fast-forward skips a version already promoted") {
    val main = tmp("graft_br_main_rerun")
    val dev = tmp("graft_br_dev_rerun")
    MergeSink.setHistoryKeep(spark, main, 8)
    MergeSink.upsertBatch(rows(0 until 20, 1), main, "id", "rv", 0L, "w")
    MergeSink.branchTable(spark, main, dev)
    MergeSink.setHistoryKeep(spark, dev, 8)
    MergeSink.upsertBatch(rows(30 until 40, 2), dev, "id", "rv", 1L, "b")
    val c = MergeSink.lastCommit(spark, dev).get
    // the other invocation promotes c after this one planned it
    assert(MergeSink.fastForward(spark, main, dev) == 1L)
    val mp = new org.apache.hadoop.fs.Path(main)
    val mfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!MergeSink.claimForPromotion(spark, mfs, mp, c, main, "ffrerun"),
      "an already-promoted version must be skipped, not re-minted")
    assert(!mfs.exists(new org.apache.hadoop.fs.Path(mp, s"_claim_v${c.version}")),
      "the skipped version's claim was left behind")
    // a version main carries under ANOTHER commit is a lost race
    intercept[MergeSink.ConcurrentCommitException] {
      MergeSink.claimForPromotion(
        spark, mfs, mp, c.copy(runId = "rival"), main, "ffrerun")
    }
    assert(MergeSink.commits(spark, main).count(_.version == c.version) == 1)
    assert(state(main) == state(dev))
  }
}
