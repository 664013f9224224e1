package graft

import org.apache.spark.sql.SparkSession

/** Session-level performance settings shared by every main (Bench,
  * Verify, PlanDump, ReadBench, ProfileLane) — optimization-round
  * additions live here so the harness mains stay in lockstep and the
  * settings are parameterised in ONE place.
  *
  * Current contents:
  *  - fork-free local filesystem ([[sources.NioLocalFileSystem]]):
  *    replaces Hadoop's chmod-subprocess fallback with an NIO syscall.
  *    Scale-independent (it is what libhadoop's JNI chmod does on any
  *    production node); measured via driver stack sampling, where
  *    Shell.runCommand was a top-3 driver-side frame.
  *  - artifact isolation off: Spark keys its codegen cache by (thread
  *    context class loader, source), and with isolation on each
  *    session's tasks run under that session's own executor class
  *    loader. A streaming query's cloned session, `spark.newSession()`
  *    and the main session then compile the same classes each, and
  *    together overflow the 100-entry cache, so a stream recompiles
  *    every micro-batch what it compiled one batch earlier. The engine
  *    adds no per-session artifacts (jars, classes, files), so every
  *    session can share one loader and one set of compiled classes.
  *    A/B on `opusbench` `ingest_mv`, shared 4-CPU VM (CHANGES.md):
  *    `txn_commit_ms_p50` 3 442 -> 2 893 ms (9 of 10 pairs), window
  *    compile time about halved.
  */
object SessionTuning {
  def tuned(b: SparkSession.Builder): SparkSession.Builder = {
    val base = b.config("spark.hadoop.fs.file.impl",
      classOf[sources.NioLocalFileSystem].getName)
      // FileContext twin (streaming checkpoint managers): LocalFs
      // semantics (ChecksumFs, .crc unchanged) over the fork-free raw
      // layer — every checkpoint-commit rename otherwise forks a
      // `readlink` through FileUtil.readLink. A/B on an 8-lane
      // streaming subset: 22.4/22.7 s -> 15.5/15.4 s.
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[sources.NioLocalFs].getName)
      // Shuffle writer: with <=200 reduce partitions Spark picks
      // BypassMergeSortShuffleWriter — one FILE PER REDUCER per map
      // task, then a concatenation pass (stack sampling showed
      // copyFileStreamNIO as the top executor frame). Dropping the
      // threshold to 16 routes the session's 32-partition shuffles to
      // the sort writer (ONE file per map task) while tiny streaming
      // state shuffles (8 partitions) keep the bypass. At production
      // partition counts (>200) the sort path runs regardless — this
      // only changes small-shuffle file mechanics, never row routing.
      // A/B best-of-2 on an 8-lane mix: default 39.7 s, threshold=1
      // 38.8 s, threshold=16 37.2 s with per-lane wins across the
      // board (q_merge_spj_part 4.33->3.30, q_txn_stream 5.60->4.41).
      .config("spark.shuffle.sort.bypassMergeThreshold", "16")
      // one executor class loader, so one codegen cache, for every
      // session (see "Current contents" above)
      .config("spark.sql.artifact.isolation.enabled", "false")
    // Local-iteration experiment knob (the driver never sets it):
    // SPARK_GRAFT_CONF="k=v;k=v" lets an A/B measurement flip configs
    // without recompiling. Applied LAST so it can override the above.
    sys.env.get("SPARK_GRAFT_CONF").map(_.split(';').toSeq)
      .getOrElse(Seq.empty)
      .map(_.trim).filter(_.contains("="))
      .foldLeft(base) { (acc, kv) =>
        val Array(k, v) = kv.split("=", 2); acc.config(k, v)
      }
  }
}
