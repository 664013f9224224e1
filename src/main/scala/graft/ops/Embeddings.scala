package graft.ops

import graft.Tables
import graft.functions.Hashing._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity search over the `embeddings` table (vec_id, embedding
  * array<float> dim=64, label).
  *
  * All dot products are accumulated sequentially in double precision in
  * index order on both engines — Spark through the codegen'd custom
  * expression graft.plans.FloatVecDot (bit-identical to the
  * Hashing.dot HOF fold), DuckDB through the list_reduce twin — which
  * makes cosine scores bit-identical between Spark and the oracle: the
  * similarity queries are hash-checked exactly, not approximately.
  *
  * Scale design (100 TB):
  *  - the query side is a FIXED-SIZE deterministic sample ([[queryN]]
  *    smallest vec_ids via orderBy+limit → TakeOrderedAndProject): its
  *    size is O(1) in collection size, so broadcasting it never grows
  *    with the data — unlike a `vec_id % k` predicate, whose match set
  *    (and broadcast) is proportional to the collection.
  *  - brute-force top-k is the correctness baseline: broadcast the O(1)
  *    query set against the full collection — one pass, no shuffle of
  *    the collection, top-k via window over the scored pairs.
  *  - the scale path is LSH bucketing (random-hyperplane sign bits):
  *    candidates only materialize within a bucket; every per-table
  *    candidate step is an EQUI-join on the bucket (the shuffle key), so
  *    candidate work is linear in bucket sizes, never all-pairs.
  *  - IVF assigns each vector to its nearest coarse centroid once and
  *    probes the P nearest cells per query (multi-probe); candidate work
  *    is bounded by the probed cells' sizes.
  *  - near-dup blocking is COMPOUND (label, lsh-bucket): within-block
  *    pair counts stay bounded even when label cardinality is small.
  */
object Embeddings {
  type Q = (SparkSession, String) => DataFrame

  /** Fixed query-sample size: the queryN smallest vec_ids. O(1) in
    * collection size at any SF — the broadcastability contract.
    */
  private val queryN = 32

  private val embedDim = 64 // testdata embedding dim (FIXTURES.md)

  /** k-means component quantizer: exact in a double. DECLARED BEFORE the
    * eagerly-initialized SQL vals that interpolate it — Scala object
    * vals initialize in declaration order, and a forward reference
    * silently reads the zero default (this bit: annRecallSql once
    * rendered `* 0.0`, collapsing every trained centroid to the origin
    * and every cell to one — caught by the oracle gate, not the types).
    */
  private val kmQ = 1L << 20

  // PQ parameters — declared up here because every SQL twin that
  // interpolates them (annRecallSql, similarityPqSql, the ivfpq twin)
  // is a plain val: Scala object vals initialize in declaration order,
  // and a forward reference reads 0 (no error, just a silently empty
  // codebook CTE).
  private val pqM = 16
  private val pqDsub = embedDim / pqM
  private val pqKsub = 32
  private val pqSeedStride = 13L
  private val pqSeedOff = 7L
  private val pqTopK = 10
  private val ivfpqShortC = 50

  /** Embeddings scan with a loud dimension check: [[lshBucket]] and
    * FloatVecDot loop to min(plane.length, vec.length), so a dim
    * mismatch would silently truncate the projection while the DuckDB
    * twin uses the full `len(v)` — callers get wrong buckets instead of
    * an error. The per-row `size()` guard turns that into a hard fail.
    */
  private def checked(s: SparkSession, d: String): DataFrame =
    Tables
      .embeddings(s, d)
      .withColumn(
        "embedding",
        when(size(col("embedding")) === embedDim, col("embedding"))
          .otherwise(raise_error(concat(
            lit(s"embedding dim must be $embedDim, got "),
            size(col("embedding")).cast("string")))))

  /** The deterministic O(1) query sample (smallest queryN vec_ids);
    * plans as TakeOrderedAndProject — one scan, constant-size result.
    */
  private def querySample(e: DataFrame): DataFrame =
    e.orderBy(col("vec_id")).limit(queryN)

  private val sqlQuerySample =
    s"ORDER BY vec_id LIMIT $queryN"

  // ---------------------------------------------------------------------
  // q_similarity_topk — brute-force cosine top-5 per query vector.
  // Broadcast the O(1) query side; the big collection is scanned once.
  // ---------------------------------------------------------------------
  val similarityTopk: Q = (s, d) => {
    // Norms are computed ONCE per vector (and once per query vector on
    // the broadcast side), so each candidate pair costs a single dot
    // product instead of three. cos = dot/(qnrm*nrm) evaluates the same
    // double ops in the same order as Hashing.cosine, so the oracle's
    // inline-cosine SQL still hash-matches exactly.
    val e = checked(s, d)
      .withColumn("nrm", sqrt(fdot(col("embedding"), col("embedding"))))
    val q = querySample(e)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val scored = e
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        (fdot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
          .as("cos")
      )
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val similarityTopkSql: String =
    s"""SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |      ${sqlCosine("q.embedding", "e.embedding")} AS cos
       |    FROM embeddings e
       |    JOIN (SELECT vec_id, embedding FROM embeddings $sqlQuerySample) q
       |      ON e.vec_id != q.vec_id))
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q_similarity_lsh — the ANN scale path: multi-table random-hyperplane
  // LSH (4 tables × 4 sign bits). Candidates are the UNION of per-table
  // same-bucket sets — each table contributes one bucketed EQUI-join
  // (bucket is the shuffle key, work linear in bucket sizes), and the
  // union is deduped before the exact re-rank. One table alone demands
  // every sign bit agree and finds ~no true neighbors (recall@3 ≈ 0,
  // measured by q_ann_recall); OR-amplification across tables is what
  // makes hyperplane LSH usable while preserving the bounded-candidate
  // contract. Emits per-query top-3 plus the candidate count (the work
  // bound).
  // ---------------------------------------------------------------------
  private val lshTables = 4
  private val lshTabBits = 4

  val similarityLsh: Q = (s, d) => {
    val e = checked(s, d)
      .withColumn("nrm", sqrt(fdot(col("embedding"), col("embedding"))))
    val withTabs = e.withColumn(
      "bkts",
      array((0 until lshTables).map(t =>
        lshBucket(col("embedding"), lshTabBits, embedDim, t * lshTabBits)): _*))
    val q = querySample(withTabs)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        col("nrm").as("qnrm"),
        col("bkts").as("qbkts"))
    // LONG-FORMAT candidate generation: per-table buckets explode to
    // (table, bucket) rows and ALL tables join in ONE equi-join on the
    // compound key — one pass over the collection emitting T rows per
    // vector, instead of T separate joins each re-scanning the full
    // collection (the union-of-joins SQL twin computes the identical
    // set; at 100 TB the scan count is what dominates). Dedup happens on
    // the slim (query, neighbor) pairs BEFORE the vectors are joined
    // back for exact re-ranking, so each surviving candidate is scored
    // exactly once.
    val bLong = withTabs
      .select(col("vec_id"), posexplode(col("bkts")).as(Seq("t", "bkt")))
    val qLong = q
      .select(col("query_id"), posexplode(col("qbkts")).as(Seq("qt", "qbkt")))
    val pairs = bLong
      .join(broadcast(qLong), col("t") === col("qt") && col("bkt") === col("qbkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val cand = pairs
      .join(
        e.select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm")),
        Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qnrm"))), Seq("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        (fdot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
          .as("cos"))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    // candidate count via an unbounded window over the SAME partition as
    // the ranking window — one shuffle, and the candidate subtree is
    // planned ONCE (a groupBy+self-join would duplicate the whole union
    // subtree in the physical plan)
    cand
      .withColumn(
        "n_candidates",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(
        col("query_id"),
        col("n_candidates"),
        col("rank"),
        col("neighbor_id"),
        col("cos")
      )
      .orderBy(col("query_id"), col("rank"))
  }

  val similarityLshSql: String = {
    val tabCols = (0 until lshTables)
      .map(t =>
        s"${sqlLshBucket("embedding", lshTabBits, t * lshTabBits)} AS bkt_$t")
      .mkString(", ")
    val qTabs = (0 until lshTables)
      .map(t => s"bkt_$t AS qbkt_$t")
      .mkString(", ")
    val unions = (0 until lshTables)
      .map(t =>
        s"""SELECT q.query_id, b.vec_id AS neighbor_id,
           |  ${sqlCosine("q.qv", "b.embedding")} AS cos
           |FROM b JOIN q ON b.bkt_$t = q.qbkt_$t AND b.vec_id != q.query_id""".stripMargin)
      .mkString("\n  UNION\n  ")
    s"""WITH b AS (SELECT vec_id, embedding, $tabCols FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, $qTabs FROM b
       |      $sqlQuerySample),
       |cand AS (
       |  $unions),
       |ranked AS (
       |  SELECT query_id, count(*) OVER (PARTITION BY query_id) AS n_candidates,
       |    neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM cand)
       |SELECT query_id, n_candidates, rank, neighbor_id, cos
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_similarity_ivf — IVF-style ANN with MULTI-PROBE: a deterministic
  // centroid set (every 61st vector plays the "trained" coarse
  // quantizer), each vector assigned to its nearest centroid cell by
  // exact L2² computed from dot products (||x||² − 2·x·c + ||c||²,
  // identical arithmetic on both engines, ties → lower centroid id).
  // Queries probe their probeP NEAREST cells (single-probe misses true
  // neighbors that fall just across a cell boundary — the standard IVF
  // fix is multi-probe, quantified by q_ann_recall's P=1 vs P=3
  // columns). Candidate work stays bounded by the probed cells' sizes;
  // swapping stride-centroids for k-means trained ones changes no
  // plumbing. Emits per-query top-3 + probed candidate count.
  // ---------------------------------------------------------------------
  private val centroidStride = 61

  /** Hard cap on the coarse-quantizer size: stride-seeding alone yields
    * k = n/stride centroids — UNBOUNDED in collection size, so the
    * centroid broadcast would grow with the data. The cap keeps k O(1)
    * (a real deployment picks k outright; the stride+cap seed is the
    * deterministic stand-in). The per-cell candidate bound then comes
    * from training (q_ivf_kmeans flattens cell sizes), not from k
    * growing.
    */
  private val centroidCap = 64

  /** Seed-centroid predicate: every strideth vector, capped at
    * [[centroidCap]] — O(1) centroids at any SF.
    */
  private def centroidPick: Column =
    col("vec_id") % centroidStride === 0 &&
      col("vec_id") < centroidStride * centroidCap

  private val sqlCentroidPick: String =
    s"vec_id % $centroidStride = 0 AND vec_id < ${centroidStride * centroidCap}"
  private val probeP = 2

  /** Norms frame + TRAINED coarse quantizer + full assignment — the
    * shared IVF machinery (2 Lloyd iterations from the capped stride
    * seed, driver-held model — see q_ivf_kmeans): the production ANN
    * path runs against trained cells, which both balances probe cost
    * (cell sizes flatten) and lifts recall at the same probe budget
    * (q_ann_recall: 0.57 → 0.65 at P=3). Returns (e, ck2, assigned).
    * The norms pass is localCheckpoint'd ONCE: the two Lloyd iterations
    * reference it once per kmAssign (plus the query sample and the
    * final assignment) — without it each reference re-scans the source.
    */
  private def ivfTrained(
      s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) =
    ivfTrainedWith(s, d, centroidPick, "cp")

  private def ivfTrainedWith(
      s: SparkSession,
      d: String,
      pick: Column,
      tag: String): (DataFrame, DataFrame, DataFrame) = {
    val e = checked(s, d)
      .withColumn("nrm2", fdot(col("embedding"), col("embedding")))
      .localCheckpoint()
    val ck2 = km2Cached(s, d, tag, e, pick)
    // assignment: argmin over trained centroids of exact L2² (broadcast
    // the O(1) centroid model; one pass over the collection)
    val assigned = kmAssign(e, ck2, Seq("vec_id", "embedding", "nrm2"))
      .select(
        col("vec_id"),
        col("embedding"),
        sqrt(col("nrm2")).as("nrm"),
        col("cell"))
    (e, ck2, assigned)
  }

  /** Multi-probe cell pick: the O(1) query sample ranks ALL cells by
    * distance and keeps the `p` nearest (probe cells are distinct and
    * each vector lives in exactly one cell, so no candidate dedup is
    * needed). Returns (query_id, qv, qnrm, cell).
    */
  private def ivfProbe(e: DataFrame, ck2: DataFrame, p: Int): DataFrame = {
    val wProbe = Window
      .partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("cent_id").asc)
    querySample(e)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        col("nrm2").as("qnrm2"))
      .join(broadcast(ck2), lit(true))
      .withColumn(
        "l2",
        col("qnrm2") - lit(2.0) * pdot(col("cv"), col("qv")) + col("cnrm2"))
      .withColumn("prb", row_number().over(wProbe))
      .filter(col("prb") <= p)
      .select(
        col("query_id"),
        col("qv"),
        sqrt(col("qnrm2")).as("qnrm"),
        col("cent_id").as("cell"))
  }

  val similarityIvf: Q = (s, d) => {
    val (e, ck2, assigned) = ivfTrained(s, d)
    val qprobe = ivfProbe(e, ck2, probeP)
    val cand = assigned
      .join(broadcast(qprobe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("cell"),
        col("vec_id").as("neighbor_id"),
        (fdot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
          .as("cos"))
    val wRank = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand
      .withColumn(
        "n_candidates",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 3)
      .select(
        col("query_id"),
        col("cell"),
        col("n_candidates"),
        col("rank"),
        col("neighbor_id"),
        col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  val similarityIvfSql: String = {
    s"""WITH n AS (SELECT vec_id, embedding,
       |           ${sqlDot("embedding", "embedding")} AS nrm2 FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS cv, nrm2 AS cnrm2
       |  FROM n WHERE $sqlCentroidPick),
       |a0 AS (
       |  ${sqlKmAssign("n", "c0")}),
       |r1 AS (
       |  ${sqlKmRecompute("a0")}),
       |c1 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM r1),
       |a1 AS (
       |  ${sqlKmAssign("n", "c1")}),
       |r2 AS (
       |  ${sqlKmRecompute("a1")}),
       |c2 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM r2),
       |assigned AS (
       |  SELECT vec_id, embedding, sqrt(nrm2) AS nrm, cell FROM (
       |  ${sqlKmAssign("n", "c2")}) a),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv, nrm2 AS qnrm2 FROM n
       |       $sqlQuerySample),
       |qprobe AS (
       |  SELECT query_id, qv, sqrt(qnrm2) AS qnrm, cell FROM (
       |    SELECT q.query_id, q.qv, q.qnrm2, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY q.qnrm2 - 2.0 * (${sqlDot("c.cv", "q.qv")}) + c.cnrm2 ASC, c.cent_id ASC) AS prb
       |    FROM q0 q CROSS JOIN c2 c) t
       |  WHERE prb <= $probeP),
       |cand AS (
       |  SELECT q.query_id, a.cell, a.vec_id AS neighbor_id,
       |    ${sqlDot("q.qv", "a.embedding")} / (q.qnrm * a.nrm) AS cos
       |  FROM assigned a JOIN qprobe q ON a.cell = q.cell AND a.vec_id != q.query_id),
       |ranked AS (
       |  SELECT query_id, cell, count(*) OVER (PARTITION BY query_id) AS n_candidates,
       |    neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM cand)
       |SELECT query_id, cell, n_candidates, rank, neighbor_id, cos
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_ann_recall — the ANN quality gate: overlap@3 of BOTH approximate
  // paths (multi-table LSH, and IVF at P=1 vs P=3 probes) against the
  // exact brute-force top-3, per query. Columns are integer overlap
  // COUNTS (0..3) named n_*_overlap — recall@3 = n_*_overlap / n_exact
  // (kept integer-exact for the oracle hash compare).
  //
  // The LSH candidate set is the UNION OF PER-TABLE EQUI-JOINS — the
  // same plan shape q_similarity_lsh runs in production. (An OR of
  // bucket equalities expresses the same set but plans as a nested-loop
  // join evaluating every (vector, query) pair — brute force wearing an
  // LSH costume; PlanSpec asserts no BroadcastNestedLoopJoin survives
  // here.) A single 8-bit table demands all 8 sign bits agree and finds
  // ~none of the true neighbors (measured recall 0 on this data);
  // OR-amplification across 8×4-bit tables lifts measured recall@3 to
  // ~0.67 with candidate work still bounded by Σ bucket sizes. The IVF
  // columns quantify multi-probe the same way: P=3 recall ≥ P=1 recall
  // by construction (its candidate set is a superset).
  // ---------------------------------------------------------------------
  private val recallTables = 8
  private val recallBits = 4
  private val recallProbeMax = 3

  val annRecall: Q = (s, d) => {
    // This measurement composite references the normalized-embeddings
    // frame ~10× (exact baseline, LSH probe, two IVF variants, k-means
    // training) and Catalyst plans every reference as a full subtree
    // copy — so the norms+buckets pass is localCheckpoint'd ONCE and
    // every downstream branch reads the materialized blocks. At 100 TB
    // the same one-pass materialization is what a real evaluation
    // harness does (persist the prepared vectors, then measure).
    val withTabs = checked(s, d)
      .withColumn("nrm2", fdot(col("embedding"), col("embedding")))
      .withColumn("nrm", sqrt(col("nrm2")))
      .withColumn(
        "bkts",
        array((0 until recallTables).map(t =>
          lshBucket(col("embedding"), recallBits, embedDim, t * recallBits)): _*))
      // lazy: the q-sample collect right below is strictly the first
      // consumer, so the norms+buckets pass materializes inside that
      // job instead of paying a separate eager-checkpoint job
      .localCheckpoint(false)
    val e = withTabs.drop("bkts")
    // The query sample is O(queryN) rows by construction — materialize
    // it DRIVER-SIDE (the kmMaterialize idiom): every broadcast of a
    // LocalRelation is built straight from driver memory, no Spark job,
    // where a block-manager-backed frame costs one collect job per
    // broadcast site (~5 of them here). Same rows, same joins.
    val q = kmMaterialize(
      s,
      querySample(withTabs)
        .select(
          col("vec_id").as("query_id"),
          col("embedding").as("qv"),
          col("nrm").as("qnrm"),
          col("nrm2").as("qnrm2"),
          col("bkts").as("qbkts")))
    val cosCol =
      (fdot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
        .as("cos")
    val wq = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    def top3(scored: DataFrame): DataFrame =
      scored
        .withColumn("rnk", row_number().over(wq))
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("neighbor_id"))
    // Each top-3 set becomes MARKER rows (query_id, neighbor_id, one
    // indicator column set) and everything is combined with one
    // union + two hash aggregates. Joining the sets pairwise instead
    // would reference each subtree several times, and Catalyst plans
    // every reference as a full copy — the exact scoring and the IVF
    // assignment would each run 4× (observed: 24 nested-loop joins in
    // the naive formulation's plan, 3 in this one).
    def marked(df: DataFrame, flag: String): DataFrame = {
      val flags = Seq("e", "l", "i1", "i3", "ik", "ip")
      df.select(
        col("query_id") +: col("neighbor_id") +:
          flags.map(f =>
            (if (f == flag) lit(1) else lit(0)).as(f)): _*)
    }
    // exact top-3: every candidate scored (the ground truth)
    val exact = top3(
      e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), cosCol))
    // LSH top-3: long-format bucket rows, ONE equi-join on the compound
    // (table, bucket) key (same candidate set as the per-table join
    // union, one collection pass instead of T — see similarityLsh),
    // deduped on slim pairs, vectors joined back for the exact re-rank.
    val bLong = withTabs
      .select(col("vec_id"), posexplode(col("bkts")).as(Seq("t", "bkt")))
    val qLong = q
      .select(col("query_id"), posexplode(col("qbkts")).as(Seq("qt", "qbkt")))
    val lshPairs = bLong
      .join(broadcast(qLong), col("t") === col("qt") && col("bkt") === col("qbkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val lshTop = top3(
      lshPairs
        .join(
          e.select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm")),
          Seq("neighbor_id"))
        .join(broadcast(q.select(col("query_id"), col("qv"), col("qnrm"))), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), cosCol))
    // IVF: single assignment per vector; queries rank cells and keep the
    // recallProbeMax nearest, tagged with the probe rank. ONE candidate
    // pass yields both the P=1 and P=3 top-3 sets: ranking within the
    // P=1 subset uses a window partitioned by (query, prb=1) instead of
    // a second scan of a filtered copy.
    // centroids are O(√N) rows — driver-local for the same reason as q
    val cents = kmMaterialize(
      s,
      e.filter(centroidPick)
        .select(
          col("vec_id").as("cent_id"),
          col("embedding").as("cv"),
          col("nrm2").as("cnrm2")))
    // nearest-cell pick as a min_by hash aggregate (see kmAssign): the
    // N×C scored rows collapse map-side instead of shuffling into a
    // per-vector sort window
    val assigned = e
      .join(broadcast(cents), lit(true))
      .withColumn(
        "l2",
        col("nrm2") - lit(2.0) * fdot(col("embedding"), col("cv")) +
          col("cnrm2"))
      .groupBy(col("vec_id"))
      .agg(
        min_by(
          struct(col("embedding"), col("nrm"), col("cent_id").as("cell")),
          struct(col("l2"), col("cent_id"))).as("st"))
      .select(
        col("vec_id"),
        col("st.embedding").as("embedding"),
        col("st.nrm").as("nrm"),
        col("st.cell").as("cell"))
      // referenced by BOTH the k-means training chain and the IVF
      // candidate join — materialize once. Lazy: the training chain's
      // kmMaterialize collect is the first (sequential) consumer and
      // fuses the materialization into its own job.
      .localCheckpoint(false)
    val wProbe = Window
      .partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("cent_id").asc)
    val qprobe = q
      .select(col("query_id"), col("qv"), col("qnrm"), col("qnrm2"))
      .join(broadcast(cents), lit(true))
      .withColumn(
        "l2",
        col("qnrm2") - lit(2.0) * fdot(col("qv"), col("cv")) + col("cnrm2"))
      .withColumn("prb", row_number().over(wProbe))
      .filter(col("prb") <= recallProbeMax)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cent_id").as("cell"), col("prb"))
    val w1 = Window
      .partitionBy(col("query_id"), col("prb") === 1)
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val ivfMarks = assigned
      .join(broadcast(qprobe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), cosCol, col("prb"))
      .withColumn("rnk3", row_number().over(wq))
      .withColumn("rnk1", row_number().over(w1))
      .withColumn("i1", when(col("prb") === 1 && col("rnk1") <= 3, 1).otherwise(0))
      .withColumn("i3", when(col("rnk3") <= 3, 1).otherwise(0))
      .filter(col("i1") === 1 || col("i3") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(0).as("e"),
        lit(0).as("l"), col("i1"), col("i3"), lit(0).as("ik"), lit(0).as("ip"))
    // TRAINED-quantizer IVF (the q_ivf_kmeans model, 2 Lloyd
    // iterations, driver-materialized): same probe structure at
    // P = recallProbeMax — the n_ivfk3 columns measure whether TRAINING
    // the cells (not just probing more of them) buys recall.
    // trained quantizer from the model registry (shared recipe with
    // q_similarity_ivf — identical bits whether trained here or there)
    val ck2 = km2Cached(s, d, "cp", e, centroidPick)
    val assignedK = kmAssign(e, ck2, Seq("vec_id", "embedding", "nrm"))
    val qprobeK = q
      .select(col("query_id"), col("qv"), col("qnrm"), col("qnrm2"))
      .join(broadcast(ck2), lit(true))
      .withColumn(
        "l2",
        col("qnrm2") - lit(2.0) * pdot(col("cv"), col("qv")) + col("cnrm2"))
      .withColumn("prb", row_number().over(wProbe))
      .filter(col("prb") <= recallProbeMax)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cent_id").as("cell"))
    val ikTop = top3(
      assignedK
        .join(broadcast(qprobeK), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), cosCol))
    // IVF+PQ lane (the q_similarity_ivfpq path at top-3): the SAME
    // probed candidate set as ik, but ADC-scored through the PQ
    // codebooks, shortlisted by compressed distance, and only the
    // shortlist exact-re-ranked — n_ivfpq3 vs n_ivfk3 measures what the
    // compressed scoring stage costs in recall at equal probe budget.
    val mP = pqLitModel(s, d)
    val qdtabP = q.select(
      col("query_id"),
      pqDtabArr(mP, col("qv"), QueryVector).as("dtab"))
    val ipAdc = assignedK
      .join(broadcast(qprobeK.select(col("query_id"), col("cell"))), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("codes", pqEncode(mP, col("embedding"), StoredEmbedding))
      .join(broadcast(qdtabP), Seq("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        adcScore.as("adc_dist"))
    val wShortIp = Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    val ipTop = top3(
      ipAdc
        .withColumn("srn", row_number().over(wShortIp))
        .filter(col("srn") <= ivfpqShortC)
        .select(col("query_id"), col("neighbor_id"))
        .join(
          e.select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm")),
          Seq("neighbor_id"))
        .join(broadcast(q.select(col("query_id"), col("qv"), col("qnrm"))), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), cosCol))
    marked(exact, "e")
      .unionAll(marked(lshTop, "l"))
      .unionAll(ivfMarks)
      .unionAll(marked(ikTop, "ik"))
      .unionAll(marked(ipTop, "ip"))
      // per (query, neighbor): which sets contain it
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("e")).as("e"), max(col("l")).as("l"),
           max(col("i1")).as("i1"), max(col("i3")).as("i3"),
           max(col("ik")).as("ik"), max(col("ip")).as("ip"))
      // per query: set sizes and exact-overlap counts
      .groupBy(col("query_id"))
      .agg(
        sum(col("e")).as("n_exact"),
        sum(col("l")).as("n_lsh"),
        sum(col("e") * col("l")).as("n_lsh_overlap"),
        sum(col("i1")).as("n_ivf1"),
        sum(col("e") * col("i1")).as("n_ivf1_overlap"),
        sum(col("i3")).as("n_ivf3"),
        sum(col("e") * col("i3")).as("n_ivf3_overlap"),
        sum(col("ik")).as("n_ivfk3"),
        sum(col("e") * col("ik")).as("n_ivfk3_overlap"),
        sum(col("ip")).as("n_ivfpq3"),
        sum(col("e") * col("ip")).as("n_ivfpq3_overlap"))
      .orderBy(col("query_id"))
  }

  val annRecallSql: String = {
    val tabCols = (0 until recallTables)
      .map(t => s"${sqlLshBucket("embedding", recallBits, t * recallBits)} AS bkt_$t")
      .mkString(", ")
    val qTabs = (0 until recallTables)
      .map(t => s"bkt_$t AS qbkt_$t")
      .mkString(", ")
    // cosine with pre-aggregated squared norms: same sqrt-of-nrm2
    // arithmetic as the Spark side
    def cosN(qv: String, qn2: String, ev: String, en2: String): String =
      s"${sqlDot(qv, ev)} / (sqrt($qn2) * sqrt($en2))"
    val lshUnions = (0 until recallTables)
      .map(t =>
        s"""SELECT q.query_id, b.vec_id AS neighbor_id,
           |  ${cosN("q.qv", "q.qnrm2", "b.embedding", "b.nrm2")} AS cos
           |FROM b JOIN q ON b.bkt_$t = q.qbkt_$t AND b.vec_id != q.query_id""".stripMargin)
      .mkString("\n  UNION\n  ")
    s"""WITH b AS (SELECT vec_id, embedding,
       |  ${sqlDot("embedding", "embedding")} AS nrm2, $tabCols FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm2 AS qnrm2, $qTabs
       |      FROM b $sqlQuerySample),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosN("q.qv", "q.qnrm2", "b.embedding", "b.nrm2")} DESC, b.vec_id ASC) AS rnk
       |    FROM b JOIN q ON b.vec_id != q.query_id) t WHERE rnk <= 3),
       |lshc AS (
       |  $lshUnions),
       |lsh AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |    FROM lshc) t WHERE rnk <= 3),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cv, nrm2 AS cnrm2 FROM b
       |          WHERE $sqlCentroidPick),
       |assigned AS (
       |  SELECT vec_id, embedding, nrm2, cell FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm2, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY e.nrm2 - 2.0 * (${sqlDot("e.embedding", "c.cv")}) + c.cnrm2 ASC, c.cent_id ASC) AS arn
       |    FROM b e CROSS JOIN cents c) t WHERE arn = 1),
       |qprobe AS (
       |  SELECT query_id, qv, qnrm2, cell, prb FROM (
       |    SELECT q.query_id, q.qv, q.qnrm2, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY q.qnrm2 - 2.0 * (${sqlDot("q.qv", "c.cv")}) + c.cnrm2 ASC, c.cent_id ASC) AS prb
       |    FROM q CROSS JOIN cents c) t WHERE prb <= $recallProbeMax),
       |ivfc AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk3,
       |    row_number() OVER (PARTITION BY query_id, (prb = 1) ORDER BY cos DESC, neighbor_id ASC) AS rnk1,
       |    prb
       |  FROM (
       |    SELECT p.query_id, a.vec_id AS neighbor_id,
       |      ${cosN("p.qv", "p.qnrm2", "a.embedding", "a.nrm2")} AS cos, p.prb
       |    FROM assigned a JOIN qprobe p ON a.cell = p.cell AND a.vec_id != p.query_id) t),
       |ckr1 AS (
       |  ${sqlKmRecompute("assigned")}),
       |ck1 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM ckr1),
       |ak1 AS (
       |  ${sqlKmAssign("(SELECT vec_id, embedding, nrm2 FROM b)", "ck1")}),
       |ckr2 AS (
       |  ${sqlKmRecompute("ak1")}),
       |ck2 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM ckr2),
       |ak2 AS (
       |  ${sqlKmAssign("(SELECT vec_id, embedding, nrm2 FROM b)", "ck2")}),
       |qprobek AS (
       |  SELECT query_id, qv, qnrm2, cell FROM (
       |    SELECT q.query_id, q.qv, q.qnrm2, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY q.qnrm2 - 2.0 * (${sqlDot("c.cv", "q.qv")}) + c.cnrm2 ASC, c.cent_id ASC) AS prb
       |    FROM q CROSS JOIN ck2 c) t WHERE prb <= $recallProbeMax),
       |ik AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |    FROM (
       |      SELECT p.query_id, a.vec_id AS neighbor_id,
       |        ${cosN("p.qv", "p.qnrm2", "a.embedding", "a.nrm2")} AS cos
       |      FROM ak2 a JOIN qprobek p ON a.cell = p.cell AND a.vec_id != p.query_id) c) t
       |  WHERE rnk <= 3),
       |comps AS (
       |  SELECT vec_id, CAST((t.i - 1) // $pqDsub AS INT) AS sub,
       |    (t.i - 1) % $pqDsub AS dsub,
       |    CAST(round(embedding[t.i]::DOUBLE * $kmQ.0) AS BIGINT) AS xq
       |  FROM embeddings, range(1, ${embedDim + 1}) AS t(i)),
       |seedcb AS (
       |  SELECT sub, dsub, (vec_id - $pqSeedOff) // $pqSeedStride AS j,
       |    xq AS cq
       |  FROM comps
       |  WHERE vec_id % $pqSeedStride = $pqSeedOff
       |    AND vec_id < ${pqSeedStride * pqKsub + pqSeedOff}),
       |pa0 AS (
       |  SELECT vec_id, sub, j AS cell FROM (
       |    SELECT c.vec_id, c.sub, s.j,
       |      row_number() OVER (PARTITION BY c.vec_id, c.sub
       |        ORDER BY SUM((c.xq - s.cq) * (c.xq - s.cq)) ASC, s.j ASC)
       |        AS rn
       |    FROM comps c JOIN seedcb s ON c.sub = s.sub AND c.dsub = s.dsub
       |    GROUP BY c.vec_id, c.sub, s.j) t WHERE rn = 1),
       |pcb AS (
       |  SELECT pa0.sub, pa0.cell AS j, c.dsub,
       |    CAST(floor(CAST(SUM(c.xq) AS DOUBLE) / count(*)) AS BIGINT)
       |      AS cq
       |  FROM pa0 JOIN comps c ON pa0.vec_id = c.vec_id AND pa0.sub = c.sub
       |  GROUP BY pa0.sub, pa0.cell, c.dsub),
       |pcodes AS (
       |  SELECT vec_id AS neighbor_id, sub, j AS cell FROM (
       |    SELECT c.vec_id, c.sub, b.j,
       |      row_number() OVER (PARTITION BY c.vec_id, c.sub
       |        ORDER BY SUM((c.xq - b.cq) * (c.xq - b.cq)) ASC, b.j ASC)
       |        AS rn
       |    FROM comps c JOIN pcb b ON c.sub = b.sub AND c.dsub = b.dsub
       |    GROUP BY c.vec_id, c.sub, b.j) t WHERE rn = 1),
       |pdtab AS (
       |  SELECT c.vec_id AS query_id, c.sub, b.j,
       |    SUM((c.xq - b.cq) * (c.xq - b.cq)) AS d2
       |  FROM comps c JOIN pcb b ON c.sub = b.sub AND c.dsub = b.dsub
       |  WHERE c.vec_id IN (SELECT query_id FROM q)
       |  GROUP BY 1, 2, 3),
       |ipadc AS (
       |  SELECT c.query_id, c.neighbor_id, SUM(d.d2) AS adc_dist
       |  FROM (
       |    SELECT p.query_id, a.vec_id AS neighbor_id
       |    FROM ak2 a JOIN qprobek p ON a.cell = p.cell
       |    WHERE a.vec_id != p.query_id) c
       |  JOIN pcodes e2 ON e2.neighbor_id = c.neighbor_id
       |  JOIN pdtab d ON d.query_id = c.query_id
       |    AND d.sub = e2.sub AND d.j = e2.cell
       |  GROUP BY 1, 2),
       |ipshort AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist ASC, neighbor_id ASC) AS srn
       |    FROM ipadc) t WHERE srn <= $ivfpqShortC),
       |ip AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |    FROM (
       |      SELECT s.query_id, s.neighbor_id,
       |        ${cosN("q.qv", "q.qnrm2", "b.embedding", "b.nrm2")} AS cos
       |      FROM ipshort s
       |      JOIN b ON b.vec_id = s.neighbor_id
       |      JOIN q ON q.query_id = s.query_id) c) t
       |  WHERE rnk <= 3),
       |marks AS (
       |  SELECT query_id, neighbor_id, 1 AS e, 0 AS l, 0 AS i1, 0 AS i3, 0 AS ik, 0 AS ip FROM exact
       |  UNION ALL
       |  SELECT query_id, neighbor_id, 0, 1, 0, 0, 0, 0 FROM lsh
       |  UNION ALL
       |  SELECT query_id, neighbor_id, 0, 0,
       |    CASE WHEN prb = 1 AND rnk1 <= 3 THEN 1 ELSE 0 END,
       |    CASE WHEN rnk3 <= 3 THEN 1 ELSE 0 END, 0, 0
       |  FROM ivfc WHERE (prb = 1 AND rnk1 <= 3) OR rnk3 <= 3
       |  UNION ALL
       |  SELECT query_id, neighbor_id, 0, 0, 0, 0, 1, 0 FROM ik
       |  UNION ALL
       |  SELECT query_id, neighbor_id, 0, 0, 0, 0, 0, 1 FROM ip),
       |flags AS (
       |  SELECT query_id, neighbor_id, max(e) AS e, max(l) AS l,
       |         max(i1) AS i1, max(i3) AS i3, max(ik) AS ik, max(ip) AS ip
       |  FROM marks GROUP BY query_id, neighbor_id)
       |SELECT query_id,
       |  CAST(SUM(e) AS BIGINT) AS n_exact,
       |  CAST(SUM(l) AS BIGINT) AS n_lsh,
       |  CAST(SUM(e * l) AS BIGINT) AS n_lsh_overlap,
       |  CAST(SUM(i1) AS BIGINT) AS n_ivf1,
       |  CAST(SUM(e * i1) AS BIGINT) AS n_ivf1_overlap,
       |  CAST(SUM(i3) AS BIGINT) AS n_ivf3,
       |  CAST(SUM(e * i3) AS BIGINT) AS n_ivf3_overlap,
       |  CAST(SUM(ik) AS BIGINT) AS n_ivfk3,
       |  CAST(SUM(e * ik) AS BIGINT) AS n_ivfk3_overlap,
       |  CAST(SUM(ip) AS BIGINT) AS n_ivfpq3,
       |  CAST(SUM(e * ip) AS BIGINT) AS n_ivfpq3_overlap
       |FROM flags GROUP BY query_id ORDER BY query_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_embed_neardup — embedding-cosine near-duplicate detection with a
  // COMPOUND blocking key (label, lsh-bucket): label alone gives only
  // |labels| blocks, so within-block pair work is O((n/|labels|)²) on a
  // skewed shuffle key when labels are few. Adding a hyperplane bucket
  // splits each label block across 2^ndBits buckets: expected block size
  // drops 2^ndBits ×, pair work ~2^(2·ndBits) × per table — with
  // ndTables=2, ndBits=4 the candidate bound is
  //   2 · Σ_blocks C(B,2) ≈ 2 · |label|²/(2·16²) per label
  // i.e. ~1/128 of the label-only all-pairs count, while true near-dups
  // (cos→1 ⇒ equal sign bits with prob→1 per plane) still collide in
  // some table. Pairs found by both tables are deduped (UNION) before
  // per-label aggregation.
  // ---------------------------------------------------------------------
  private val ndBits = 4
  private val ndTables = 2
  private val ndPlaneBase = 100 // fresh plane set, disjoint from lsh/recall

  val embedNearDup: Q = (s, d) => {
    val e0 = checked(s, d)
      .withColumn("nrm", sqrt(fdot(col("embedding"), col("embedding"))))
    val e = (0 until ndTables).foldLeft(e0) { (df, t) =>
      df.withColumn(
        s"bkt_$t",
        lshBucket(col("embedding"), ndBits, embedDim, ndPlaneBase + t * ndBits))
    }
    val pairs = (0 until ndTables)
      .map { t =>
        val a = e.select(
          col("label"),
          col(s"bkt_$t").as("bkt"),
          col("vec_id").as("id_a"),
          col("embedding").as("v_a"),
          col("nrm").as("nrm_a"))
        val b = e.select(
          col("label"),
          col(s"bkt_$t").as("bkt"),
          col("vec_id").as("id_b"),
          col("embedding").as("v_b"),
          col("nrm").as("nrm_b"))
        a.join(b, Seq("label", "bkt"))
          .filter(col("id_a") < col("id_b"))
          .select(
            col("label"),
            col("id_a"),
            col("id_b"),
            (fdot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
              .as("cos"))
      }
      .reduce(_ unionAll _)
      .distinct()
    pairs
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("cos") > 0.8, 1L).otherwise(0L)).as("n_near_080"),
        sum(when(col("cos") > 0.5, 1L).otherwise(0L)).as("n_near_050"),
        max(col("cos")).as("max_cos")
      )
      .orderBy(col("label"))
  }

  val embedNearDupSql: String = {
    val bktCols = (0 until ndTables)
      .map(t =>
        s"${sqlLshBucket("embedding", ndBits, ndPlaneBase + t * ndBits)} AS bkt_$t")
      .mkString(", ")
    val branches = (0 until ndTables)
      .map(t =>
        s"""SELECT a.label, a.vec_id AS id_a, c.vec_id AS id_b,
           |  ${sqlCosine("a.embedding", "c.embedding")} AS cos
           |FROM b a JOIN b c
           |  ON a.label = c.label AND a.bkt_$t = c.bkt_$t AND a.vec_id < c.vec_id""".stripMargin)
      .mkString("\n  UNION\n  ")
    s"""WITH b AS (SELECT label, vec_id, embedding, $bktCols FROM embeddings),
       |p AS (
       |  $branches)
       |SELECT label, count(*) AS n_pairs,
       |CAST(SUM(CASE WHEN cos > 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_080,
       |CAST(SUM(CASE WHEN cos > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_050,
       |max(cos) AS max_cos
       |FROM p GROUP BY label ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_semantic_dedup — SemDeDup-class semantic deduplication: the
  // dedup family's missing modern stage (exact/MinHash/SimHash/n-gram
  // are LEXICAL; two documents phrased differently but semantically
  // identical only collide in embedding space). Shape:
  //   1. candidate pairs from the q_embed_neardup compound blocking
  //      ((label, hyperplane-bucket) × ndTables — pair work bounded per
  //      block, never corpus × corpus), kept at cosine > `sdTau`
  //      (fixture-calibrated below);
  //   2. pairs are EDGES; hash-min connected components (the
  //      q_dup_clusters kernel) resolve transitive semantic clusters —
  //      pair-level dedup alone drops the a~b, b~c, a≁c chain wrong;
  //   3. keep-one-per-cluster joined back to DOCUMENTS, total-ordered
  //      (longest text wins, doc_id breaks ties — the q_dup_clusters
  //      canonical rule), reported as per-source kept/dropped budgets.
  // At 100 TB each stage is already proven at its own gate: blocked
  // pairs (q_embed_neardup), diameter-bounded CC shuffles
  // (q_dup_clusters), broadcast-scale per-source aggregate.
  // ---------------------------------------------------------------------
  /** Cluster threshold, FIXTURE-CALIBRATED: real SemDeDup on real
    * encoder embeddings sits near 0.95, but the synthetic fixture's
    * blocked pairs top out at cos ≈ 0.47 (measured) — 0.3 yields
    * genuine multi-member clusters at every SF. The operator itself is
    * threshold-agnostic; only this gated lane pins a constant.
    */
  private val sdTau = 0.3

  /** Bucketed, normed embedding frame for the semantic-dedup lanes —
    * materialized once (every per-table self-join reads it twice).
    */
  private def sdFrame(s: SparkSession, d: String): DataFrame = {
    val e0 = checked(s, d)
      .withColumn("nrm", sqrt(fdot(col("embedding"), col("embedding"))))
    (0 until ndTables)
      .foldLeft(e0) { (df, t) =>
        df.withColumn(
          s"bkt_$t",
          lshBucket(col("embedding"), ndBits, embedDim, ndPlaneBase + t * ndBits))
      }
      .localCheckpoint(true)
  }

  /** Blocked cosine edges between frames `a` and `b` (u < v normalized,
    * union over LSH tables, deduped). `a == b` is the full pair set; an
    * arriving-only `a` restricts to arriving-touching pairs.
    */
  private def sdEdges(a: DataFrame, b: DataFrame): DataFrame =
    (0 until ndTables)
      .map { t =>
        val l = a.select(
          col("label"),
          col(s"bkt_$t").as("bkt"),
          col("vec_id").as("ua"),
          col("embedding").as("v_a"),
          col("nrm").as("nrm_a"))
        val r = b.select(
          col("label"),
          col(s"bkt_$t").as("bkt"),
          col("vec_id").as("vb"),
          col("embedding").as("v_b"),
          col("nrm").as("nrm_b"))
        l.join(r, Seq("label", "bkt"))
          .filter(
            col("ua") =!= col("vb") &&
              fdot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")) > sdTau)
          .select(
            least(col("ua"), col("vb")).as("u"),
            greatest(col("ua"), col("vb")).as("v"))
      }
      .reduce(_ unionAll _)
      .distinct()

  /** Keep-one-per-cluster joined back to documents, reported as
    * per-source kept/dropped budgets (shared by the full and
    * incremental lanes — identical labels must report identically).
    */
  private def sdReport(s: SparkSession, d: String, labels: DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    val wKeep = Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val dropped = labels
      .join(
        docs.select(col("doc_id"), col("source"), col("n_chars")),
        col("id") === col("doc_id"))
      .withColumn("rn", row_number().over(wKeep))
      .filter(col("rn") =!= 1)
    val base = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val drp = dropped
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("nd"),
        sum(col("n_chars")).as("cd"))
    base
      .join(drp, Seq("source"), "left")
      .select(
        col("source"),
        col("n_docs"),
        coalesce(col("nd"), lit(0L)).as("n_dropped"),
        (col("n_docs") - coalesce(col("nd"), lit(0L))).as("n_kept"),
        coalesce(col("cd"), lit(0L)).as("chars_dropped"))
      .orderBy(col("source"))
  }

  val semanticDedup: Q = (s, d) => {
    val e = sdFrame(s, d)
    sdReport(s, d, Graph.connectedComponents(sdEdges(e, e)))
  }

  // ---------------------------------------------------------------------
  // q_semantic_dedup_incr — INCREMENTAL semantic-dedup maintenance, the
  // day-2 shape of q_semantic_dedup (the q_dup_clusters_incr discipline
  // carried to the embedding lane): the corpus (vec_id % 5 != 4) owns a
  // persisted LABEL ARTIFACT (its converged semantic clusters); an
  // arriving batch generates ONLY the blocked pairs that TOUCH an
  // arriving vector (arriving × all within (label, bucket) blocks —
  // never corpus × corpus again) and hash-min merges them with the
  // artifact replayed as diameter-1 star edges. At 100 TB the corpus
  // self-join is ~25× the arriving probe; the result is pinned
  // BIT-IDENTICAL to the full recompute — the oracle is
  // semanticDedupSql verbatim (an edge between two arriving vectors is
  // itself arriving-touching, so the merged edge set spans exactly the
  // full set's components).
  // ---------------------------------------------------------------------
  val semanticDedupIncr: Q = (s, d) => {
    val e = sdFrame(s, d)
    val arr = col("vec_id") % 5 === 4
    val corpus = e.filter(!arr)
    // steady state: the persisted corpus artifact
    val corpusLabels = Graph.connectedComponents(sdEdges(corpus, corpus))
    // day 2: arriving-touching pairs only, merged with the artifact
    val merged = Graph.connectedComponents(
      corpusLabels
        .select(col("cluster_id").as("u"), col("id").as("v"))
        .unionAll(sdEdges(e.filter(arr), e))
        .distinct())
    sdReport(s, d, merged)
  }

  val semanticDedupSql: String = {
    val bktCols = (0 until ndTables)
      .map(t =>
        s"${sqlLshBucket("embedding", ndBits, ndPlaneBase + t * ndBits)} AS bkt_$t")
      .mkString(", ")
    val branches = (0 until ndTables)
      .map(t =>
        s"""SELECT a.vec_id AS u, c.vec_id AS v
           |  FROM b a JOIN b c
           |    ON a.label = c.label AND a.bkt_$t = c.bkt_$t AND a.vec_id < c.vec_id
           |  WHERE ${sqlCosine("a.embedding", "c.embedding")} > $sdTau""".stripMargin)
      .mkString("\n  UNION\n  ")
    s"""WITH RECURSIVE
       |b AS (SELECT label, vec_id, embedding, $bktCols FROM embeddings),
       |edges AS (
       |  $branches),
       |bi AS (
       |  SELECT u AS s, v AS dd FROM edges
       |  UNION ALL SELECT v AS s, u AS dd FROM edges),
       |reach(id, lab) AS (
       |  SELECT DISTINCT s AS id, s AS lab FROM bi
       |  UNION
       |  SELECT b2.dd AS id, r.lab FROM reach r JOIN bi b2 ON b2.s = r.id),
       |lbl AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
       |mk AS (
       |  SELECT l.id AS doc_id, l.cluster_id, dc.source, dc.n_chars,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY dc.n_chars DESC, l.id ASC) AS rn
       |  FROM lbl l JOIN documents dc ON dc.doc_id = l.id),
       |drp AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(n_chars) AS BIGINT) AS cd
       |  FROM mk WHERE rn <> 1 GROUP BY source),
       |base AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY source)
       |SELECT base.source, n_docs,
       |  coalesce(nd, 0) AS n_dropped,
       |  n_docs - coalesce(nd, 0) AS n_kept,
       |  coalesce(cd, 0) AS chars_dropped
       |FROM base LEFT JOIN drp ON base.source = drp.source
       |ORDER BY base.source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_ivf_kmeans — the TRAINED coarse quantizer the IVF queries' comments
  // promise: two Lloyd iterations from the stride seed, entirely in
  // DataFrame ops, made bit-deterministic (and therefore oracle-exact)
  // by QUANTIZED-INTEGER centroid arithmetic — float means are
  // order-dependent, so each component is quantized to round(x · 2^20)
  // (exact integer sums in any order), the new centroid component is
  // floor(sum/count)/2^20 (double division by a power of two is exact
  // scaling), and every L2 assignment then evaluates identical doubles
  // on both engines. Emits the per-iteration cell-size distribution:
  // the operational reason to TRAIN the quantizer at 100 TB is cell
  // BALANCE — probe cost is bounded by the largest probed cell, and
  // stride "centroids" leave cells skewed while Lloyd iterations
  // flatten max_cell toward the mean.
  //
  // Scale notes: per iteration, assignment is one broadcast of k
  // centroid rows + a per-vector argmin (struct-window), and the
  // recompute is one explode to (cell, dim) partial sums — map-side
  // combinable, shuffle carries k × dim longs. Centroids are MODEL
  // STATE, not data: k is fixed and each iteration's k×dim quantized
  // means are collected to the driver and re-injected as a literal
  // frame (the MLlib k-means pattern). A fully-lazy chain would
  // re-derive iteration i−1 inside iteration i — QUADRATIC in
  // iteration count at 100 TB; the driver-held model keeps every
  // iteration at exactly one pass over the collection.
  // ---------------------------------------------------------------------
  /** One Lloyd assignment: nearest centroid per vector (exact L2² from
    * dot products, ties → lower centroid id). `vecs` must carry `nrm2`;
    * every column in `keep` is passed through alongside `cell`.
    */
  /** Nearest-centroid assignment as a min_by HASH AGGREGATE rather than
    * a row_number window: same winner per vector (lexicographic
    * struct(l2, cent_id) == the window's (l2 asc, cent_id asc) order,
    * keys unique per group), but partial aggregation collapses each
    * map partition to one row per vec_id BEFORE the exchange — where
    * the window shape shuffles all N×C scored rows and sorts them. At
    * collection scale that is the difference between an O(N) and an
    * O(N·C) shuffle.
    */
  private def kmAssign(
      vecs: DataFrame,
      cents: DataFrame,
      keep: Seq[String]): DataFrame = {
    val carry = (keep.filterNot(_ == "vec_id") :+ "cell")
    vecs
      .join(broadcast(cents), lit(true))
      .withColumn(
        "l2",
        col("nrm2") - lit(2.0) * pdot(col("cv"), col("embedding")) +
          col("cnrm2"))
      .withColumn("cell", col("cent_id"))
      .groupBy(col("vec_id"))
      .agg(
        min_by(
          struct(carry.map(col).toIndexedSeq: _*),
          struct(col("l2"), col("cent_id"))).as("st"))
      .select(col("vec_id") +: keep.filterNot(_ == "vec_id").map(c =>
        col(s"st.$c").as(c)) :+ col("st.cell").as("cell"): _*)
  }

  /** Centroid update in quantized-integer arithmetic (order-independent,
    * bit-deterministic — see q_ivf_kmeans header).
    */
  private def kmRecompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(
        sum(round(col("x").cast("double") * kmQ).cast("long")).as("sq"),
        count(lit(1)).as("c"))
      .withColumn("mq", floor(col("sq").cast("double") / col("c")))
      .groupBy(col("cell"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("mq")))),
          e => e.getField("mq").cast("double") / lit(kmQ.toDouble))
          .as("cv"))
      .select(
        col("cell").as("cent_id"),
        col("cv"),
        dot(col("cv"), col("cv")).as("cnrm2"))

  /** Collect the k×dim centroid model and re-inject it as a literal
    * frame (the MLlib pattern): keeps each Lloyd iteration at exactly
    * one pass over the collection instead of a lazily re-derived chain.
    */
  private def kmMaterialize(s: SparkSession, cents: DataFrame): DataFrame = {
    val rows = cents.collect().toSeq
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      cents.schema)
  }

  /** Per-JVM trained-model registry — the index-build/serve split every
    * production ANN system has (train the quantizer once, serve many
    * queries from it). Every model here is a DETERMINISTIC function of
    * the dataset directory and the training recipe (stride seeds,
    * quantized-integer Lloyd updates — bit-reproducible by design, see
    * q_ivf_kmeans), so a registry hit returns exactly the frame the
    * training jobs would; gated results are bit-identical either way.
    * The first query against a directory pays the training scans; the
    * other gated queries that share the recipe (pq / ivfpq / recall)
    * serve from the registry — at 100 TB that is the difference between
    * an ANN service and re-training the index per query. Keys embed the
    * recipe tag + directory; values are driver-held O(k·dim) rows.
    */
  private val models =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def cachedModel[T <: AnyRef](key: String)(build: => T): T =
    models.computeIfAbsent(key, _ => build).asInstanceOf[T]

  /** [[kmMaterialize]] through the model registry: collect-once per
    * (key), rebuild the literal frame per calling session.
    */
  private def kmMaterializeCached(s: SparkSession, key: String)(
      cents: => DataFrame): DataFrame = {
    val (schema, rows) = cachedModel(key) {
      val c = cents
      (c.schema, c.collect().toSeq)
    }
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
  }

  /** The 2-Lloyd-iteration trained coarse quantizer for `d` seeded by
    * `pick`, served from the model registry (`tag` names the seed
    * recipe). On a miss this runs the exact ivfTrainedWith training
    * chain; on a hit no training job runs.
    */
  private def km2Cached(
      s: SparkSession,
      d: String,
      tag: String,
      e: DataFrame,
      pick: Column): DataFrame =
    kmMaterializeCached(s, s"km2:$tag:$d") {
      val c0 = e
        .filter(pick)
        .select(
          col("vec_id").as("cent_id"),
          transform(col("embedding"), x => x.cast("double")).as("cv"),
          col("nrm2").as("cnrm2"))
      val ck1 = kmMaterialize(
        s, kmRecompute(kmAssign(e, c0, Seq("vec_id", "embedding"))))
      kmRecompute(kmAssign(e, ck1, Seq("vec_id", "embedding")))
    }

  val ivfKmeans: Q = (s, d) => {
    val n = checked(s, d)
      .withColumn("nrm2", fdot(col("embedding"), col("embedding")))
      .select(col("vec_id"), col("embedding"), col("nrm2"))
      // five assign() passes read this frame — materialize once
      .localCheckpoint()
    // iteration-0 centroids: the stride seed, widened to double arrays
    // (dot(float) == dot(double-widened) bit-for-bit, so cnrm2 = nrm2)
    val c0 = n
      .filter(centroidPick)
      .select(
        col("vec_id").as("cent_id"),
        transform(col("embedding"), x => x.cast("double")).as("cv"),
        col("nrm2").as("cnrm2"))
    def assign(cents: DataFrame): DataFrame =
      kmAssign(n, cents, Seq("vec_id", "embedding"))
    def stats(assigned: DataFrame, iter: Int): DataFrame =
      assigned
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("sz"))
        .agg(
          count(lit(1)).as("n_cells"),
          sum(col("sz")).as("n_vecs"),
          max(col("sz")).as("max_cell"),
          min(col("sz")).as("min_cell"))
        .select(lit(iter).as("iter"), col("n_cells"), col("n_vecs"),
          col("max_cell"), col("min_cell"))
    // each iteration's assignment feeds BOTH the next centroid update
    // and the emitted cell-size stats — checkpoint so it runs once
    val a0 = assign(c0).localCheckpoint()
    val c1 = kmMaterialize(s, kmRecompute(a0))
    val a1 = assign(c1).localCheckpoint()
    val c2 = kmMaterialize(s, kmRecompute(a1))
    stats(a0, 0)
      .unionAll(stats(a1, 1))
      .unionAll(stats(assign(c2), 2))
      .orderBy(col("iter"))
  }

  /** SQL twins of [[kmAssign]] / [[kmRecompute]] (shared by the kmeans
    * and recall oracles). `vecs` must expose vec_id, embedding, nrm2.
    */
  private def sqlKmAssign(vecs: String, cents: String): String =
    s"""SELECT vec_id, embedding, nrm2, cell FROM (
       |    SELECT v.vec_id, v.embedding, v.nrm2, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY v.nrm2 - 2.0 * (${sqlDot("c.cv", "v.embedding")}) + c.cnrm2 ASC, c.cent_id ASC) AS arn
       |    FROM $vecs v CROSS JOIN $cents c) t WHERE arn = 1""".stripMargin

  private def sqlKmRecompute(assigned: String): String =
    s"""SELECT cell AS cent_id,
       |    list_transform(list(mq ORDER BY dim), v -> v / $kmQ.0) AS cv
       |  FROM (
       |    SELECT cell, dim, floor(CAST(SUM(xq) AS DOUBLE) / count(*)) AS mq
       |    FROM (
       |      SELECT a.cell, t.i AS dim,
       |        CAST(round(a.embedding[t.i]::DOUBLE * $kmQ.0) AS BIGINT) AS xq
       |      FROM $assigned a, range(1, ${embedDim + 1}) AS t(i)) x
       |    GROUP BY cell, dim) m
       |  GROUP BY cell""".stripMargin

  val ivfKmeansSql: String = {
    def assignSql(vecs: String, cents: String): String =
      sqlKmAssign(vecs, cents)
    def recomputeSql(assigned: String): String = sqlKmRecompute(assigned)
    def statsSql(assigned: String, iter: Int): String =
      s"""SELECT $iter AS iter, count(*) AS n_cells,
         |  CAST(SUM(sz) AS BIGINT) AS n_vecs, max(sz) AS max_cell, min(sz) AS min_cell
         |  FROM (SELECT cell, count(*) AS sz FROM $assigned GROUP BY cell) g""".stripMargin
    s"""WITH n AS (SELECT vec_id, embedding,
       |  ${sqlDot("embedding", "embedding")} AS nrm2 FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS cv, nrm2 AS cnrm2
       |  FROM n WHERE $sqlCentroidPick),
       |a0 AS (
       |  ${assignSql("(SELECT * FROM n)", "c0")}),
       |r1 AS (
       |  ${recomputeSql("a0")}),
       |c1 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM r1),
       |a1 AS (
       |  ${assignSql("(SELECT * FROM n)", "c1")}),
       |r2 AS (
       |  ${recomputeSql("a1")}),
       |c2 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM r2),
       |a2 AS (
       |  ${assignSql("(SELECT * FROM n)", "c2")})
       |SELECT * FROM (
       |  ${statsSql("a0", 0)}
       |  UNION ALL
       |  ${statsSql("a1", 1)}
       |  UNION ALL
       |  ${statsSql("a2", 2)})
       |ORDER BY iter""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_embed_stats — vector-collection statistics per label: counts, norm
  // summary (exact double via sequential accumulation), centroid norm
  // proxy (sum of per-dimension means is NOT emitted — means of floats
  // are order-dependent; instead integer-exact counts + min/max norms).
  // ---------------------------------------------------------------------
  val embedStats: Q = (s, d) => {
    checked(s, d)
      .withColumn("nrm", sqrt(fdot(col("embedding"), col("embedding"))))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"),
        countDistinct(col("vec_id")).as("d_ids")
      )
      .orderBy(col("label"))
  }

  val embedStatsSql: String =
    s"""SELECT label, count(*) AS n_vectors,
       |min(nrm) AS min_norm, max(nrm) AS max_norm,
       |count(DISTINCT vec_id) AS d_ids
       |FROM (SELECT label, vec_id,
       |      sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings)
       |GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------
  // q_similarity_pq — PRODUCT QUANTIZATION ANN (PQ + asymmetric
  // distance computation), the memory-scale path beyond IVF: the 64-dim
  // collection is split into 16 × 4-dim subspaces, each with its own
  // 32-entry codebook (stride-seeded, one quantized-integer Lloyd
  // update — the q_ivf_kmeans training discipline per subspace), and
  // every vector is ENCODED as 16 five-bit codes (80 bits — a ~25×
  // compression of the quantized collection the search then never
  // re-reads). A query builds one 16×32 integer distance table (query
  // subvector → every codebook entry) and scores any candidate as the
  // SUM OF 16 TABLE LOOKUPS — the ADC trick that makes billion-scale
  // search affordable.
  //
  // Everything is integer: components quantize to round(x·2^20) longs
  // once, training means are floor(sum/count), distances are integer
  // L2² — so codebooks, codes, tables, and the final top-10 lists are
  // bit-identical in the DuckDB twin (hash-gated end to end; no other
  // engine's "approximate" ANN output can be checked this hard).
  //
  // Scale: codebooks are O(M·k) = 512 centroid rows (broadcast model);
  // per-query distance tables are O(M·k) = 512 rows (broadcast); encode
  // is a narrow projection of the collection, but whole-stage codegen
  // emits it inside the broadcast nested-loop join's per-query loop, so
  // it runs once per (candidate, query) pair, as does ADC's M lookups;
  // nothing driver-side grows with N.
  // ---------------------------------------------------------------------
  // 16 subspaces × 4 dims × 32 entries = 80-bit codes. Parameters are
  // MEASURED, not assumed (the q_ann_recall discipline): on this
  // near-uniform data, recall@10 vs exact L2 is 0.14 at (M=4, k=16),
  // 0.45–0.48 at (M=16, k=32) — ~22× the 0.02 random baseline — and
  // SketchAccuracySpec pins the floor. More/finer subquantizers buy
  // recall because per-subspace variance shrinks with dsub.

  /** PQ model: long-form quantized components, the one-Lloyd-update
    * codebooks, and the encoded collection — shared by q_similarity_pq
    * and the IVF+PQ composition (q_similarity_ivfpq). Returns
    * (comps, cb, codes) where codes is (neighbor_id, sub, cell).
    */
  /** Driver-resident PQ codebook: for each subspace, the PRESENT entry
    * ids (ascending) and their quantized centroid components. The model
    * is O(M·k·dsub) = 2,048 longs — the kmMaterialize broadcastability
    * contract — so encode and ADC-table construction become NARROW
    * codegen projections against literals instead of explode joins: the
    * collection is never multiplied by the codebook (the former
    * join-based encode materialized N×M×k rows plus two window
    * shuffles, all pure overhead at any scale).
    */
  private[graft] case class PqLitModel(
      js: Array[Array[Int]], // [sub] -> present entry ids, ascending
      cq: Array[Array[Array[Long]]]) // [sub][slot][dsub] -> centroid

  // what a PQ expression's input vector is, for its dimension error
  private final val QueryVector = "query vector"
  private final val StoredEmbedding = "stored embedding"

  /** Quantized components of an embedding array — the same expression
    * the former long-form `comps` frame computed per exploded row.
    */
  private def xqArr(v: Column): Column =
    transform(v, x => round(x.cast("double") * kmQ).cast("long"))

  /** Quantized components reshaped as [sub][dsub] — quantization sits
    * at the ROOT of every downstream higher-order chain, never inside
    * a lambda. HOFs evaluate interpreted, re-running their lambda body
    * per element: with the round() transform nested inside the per-
    * entry distance lambdas, each row re-quantized the full vector
    * M·k·2 times (measured: one sf0.001 training task burned 53 s of
    * CPU). As the HOF input it evaluates exactly once per row — dim
    * roundings, then pure long math.
    */
  private def xqSubs(v: Column, input: String): Column = {
    // native since round 17 (graft.plans.PqQuantSubsExpr): the HOF
    // transform×transform ran 64 interpreted Spark roundings (each a
    // Double.toString + BigDecimal) per row through boxed lambdas; the
    // expression gets the identical Spark-Round-exact longs from exact
    // double arithmetic (graft.plans.PqOps.quant) in a primitive loop.
    import org.apache.spark.sql.graft.Exprs
    Exprs.column(graft.plans.PqQuantSubsExpr(
      Exprs.expression(v), kmQ.toDouble, pqM, pqDsub, input))
  }

  /** Integer L2² from a subvector to one centroid array — exact in a
    * long (|dq| ≤ 2·kmQ ⇒ Σ of 4 squares < 2^44). Native since
    * round 18 (graft.plans.SubD2Expr): the zip_with/aggregate HOF
    * chain evaluated INTERPRETED per (candidate, sub, entry) row —
    * the dominant compute of the file-served ADC. Both operands are
    * COLUMNS (subvector, codebook-frame centroid), so nothing
    * model-sized enters the plan — the served lane's model-as-data
    * contract holds (PlanSpec).
    */
  private def subD2(xsub: Column, cent: Column): Column = {
    import org.apache.spark.sql.graft.Exprs
    Exprs.column(graft.plans.SubD2Expr(
      Exprs.expression(xsub), Exprs.expression(cent)))
  }

  /** PQ encode as ONE narrow projection: per subspace an argmin over
    * the entries, strict-less so ties keep the earliest (lowest) entry
    * id. Native since round 17 (graft.plans.PqEncodeExpr): the HOF
    * fold walked M×k entries per row through interpreted lambdas —
    * the dominant cost of every PQ scoring pass and, under full-run
    * GC pressure, a 3x swing on q_ann_sql_pq.
    */
  private def pqEncode(m: PqLitModel, v: Column, input: String): Column = {
    import org.apache.spark.sql.graft.Exprs
    Exprs.column(graft.plans.PqEncodeExpr(
      Exprs.expression(v), m.cq, m.js, kmQ.toDouble, pqDsub, input))
  }

  /** Per-query ADC table as a flat array projection: index sub·k + j
    * (0-based) → integer L2² from the query subvector to entry j.
    * Absent entries score against a zero-filled centroid and are
    * unreachable — codes only ever index PRESENT entries.
    */
  private def pqDtabArr(m: PqLitModel, v: Column, input: String): Column = {
    import org.apache.spark.sql.graft.Exprs
    val slots: Array[Map[Int, Int]] = m.js.map(_.zipWithIndex.toMap)
    // dense [sub][j][dsub] table, absent entries zero-filled; native
    // since round 17 (graft.plans.PqDtabExpr) — same table, primitive
    // loop instead of the interpreted flatten(transform(transform))
    val cqFull: Array[Array[Array[Long]]] =
      Array.tabulate(pqM)(s =>
        Array.tabulate(pqKsub)(j =>
          slots(s)
            .get(j)
            .map(sl => m.cq(s)(sl))
            .getOrElse(Array.fill(pqDsub)(0L))))
    Exprs.column(graft.plans.PqDtabExpr(
      Exprs.expression(v), cqFull, kmQ.toDouble, pqDsub, input))
  }

  /** ADC distance: M table lookups against the broadcast `dtab` array —
    * Σ over subspaces of dtab[sub·k + codes[sub]], a long (matches the
    * former 16-row sum(d2) bit-for-bit). Native since round 17
    * (graft.plans.PqAdcExpr): this runs once per candidate PAIR.
    */
  private def adcScore: Column = {
    import org.apache.spark.sql.graft.Exprs
    Exprs.column(graft.plans.PqAdcExpr(
      Exprs.expression(col("codes")), Exprs.expression(col("dtab")), pqKsub))
  }

  /** Train the PQ codebook: stride-seed entries, one Lloyd update in
    * quantized-integer arithmetic (floor(Σxq/n) per component — order
    * independent, bit-deterministic), exactly the math of the former
    * DataFrame formulation but collected driver-side. Two jobs total:
    * the O(k) seed collect and one partial-aggregated update pass.
    */
  private def pqLitModel(s: SparkSession, d: String): PqLitModel =
    cachedModel(s"pq:$d") { toPqModel(pqTrainRows(checked(s, d))) }

  private def toPqModel(rows: Seq[(Int, Int, Array[Long])]): PqLitModel = {
    val bySub = rows.groupBy(_._1)
    val js = Array.tabulate(pqM)(sb =>
      bySub.getOrElse(sb, Nil).map(_._2).sorted.toArray)
    val cq = Array.tabulate(pqM) { sb =>
      val m = bySub.getOrElse(sb, Nil).map(r => r._2 -> r._3).toMap
      js(sb).map(m)
    }
    PqLitModel(js, cq)
  }

  /** Train the PQ codebook over an arbitrary (vec_id, embedding) frame
    * — the catalog's `create_ann(..., 'ivfpq')` trains on the SOURCE
    * TABLE's state through this, the fixture lanes through
    * [[pqLitModel]]'s registry. Returns (sub, entry id, centroid)
    * rows, ready to persist as the codebook sidecar.
    */
  private[graft] def pqTrainRows(
      vecs: DataFrame): Seq[(Int, Int, Array[Long])] = {
    // seed codebook: every strideth vector's subvectors, entry id j =
    // seed ordinal — O(1) rows collected (quantization stays a Spark
    // expression so driver float semantics never enter the model)
    val seed = vecs
      .filter(
        col("vec_id") % pqSeedStride === pqSeedOff &&
          col("vec_id") < pqSeedStride * pqKsub + pqSeedOff)
      .select(
        expr(s"(vec_id - $pqSeedOff) div $pqSeedStride")
          .cast("int")
          .as("j"),
        xqArr(col("embedding")).as("xqa"))
      .collect()
      .toSeq
      .flatMap { r =>
        val xqa = r.getSeq[Long](1)
        (0 until pqM).map(sb =>
          (sb, r.getInt(0), xqa.slice(sb * pqDsub, (sb + 1) * pqDsub).toArray))
      }
    require(seed.nonEmpty,
      "pq training: the stride seed picked no codebook entries — need " +
        s"keys with vec_id % $pqSeedStride = $pqSeedOff below " +
        s"${pqSeedStride * pqKsub + pqSeedOff}")
    val m0 = toPqModel(seed)
    // one Lloyd update: assign every vector with the seed model (narrow
    // encode), then per (sub, cell, dsub) the floored quantized mean —
    // ONE map-side-combined aggregation over N×dim rows, 2,048 out.
    // The encode and quantization ride the GENERATOR INPUT (evaluated
    // once per row); projecting them beside a posexplode would let
    // CollapseProject inline them into per-exploded-row recomputation.
    vecs
      .select(
        posexplode(
          zip_with(
            xqSubs(col("embedding"), StoredEmbedding),
            pqEncode(m0, col("embedding"), StoredEmbedding),
            (xsub, cell) => struct(xsub.as("xsub"), cell.as("cell"))))
          .as(Seq("sub", "sc")))
      .select(
        col("sub"),
        col("sc.cell").as("cell"),
        posexplode(col("sc.xsub")).as(Seq("dsub", "xq")))
      .groupBy(col("sub"), col("cell"), col("dsub"))
      .agg(
        floor(sum(col("xq")).cast("double") / count(lit(1)))
          .cast("long")
          .as("cq"))
      .collect()
      .toSeq
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case ((sb, cell), rs) =>
        val byD = rs.map(r => r.getInt(2) -> r.getLong(3)).toMap
        (sb, cell, Array.tabulate(pqDsub)(byD))
      }
      .toSeq
  }

  val similarityPq: Q = (s, d) => {
    val m = pqLitModel(s, d)
    // encoded collection: ONE narrow projection (vec_id, 16 codes) —
    // the 80-bit-codes-instead-of-256-byte-vectors scan, evaluated once
    // per (candidate, query) pair inside the join below, not per vector
    val enc = checked(s, d)
      .select(
        col("vec_id").as("neighbor_id"),
        pqEncode(m, col("embedding"), StoredEmbedding).as("codes"))
    // per-query ADC tables ride the O(1) broadcast query frame
    val q = querySample(checked(s, d))
      .select(
        col("vec_id").as("query_id"),
        pqDtabArr(m, col("embedding"), StoredEmbedding).as("dtab"))
    // ADC scoring: each candidate costs M table lookups, fully inside
    // whole-stage codegen; the only shuffle is the per-query top-k
    val wTop = Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    enc
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", adcScore)
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= pqTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc_dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  val similarityPqSql: String = {
    val seedHi = pqSeedStride * pqKsub + pqSeedOff
    s"""WITH comps AS (
       |  SELECT vec_id, CAST((t.i - 1) // $pqDsub AS INT) AS sub,
       |    (t.i - 1) % $pqDsub AS dsub,
       |    CAST(round(embedding[t.i]::DOUBLE * $kmQ.0) AS BIGINT) AS xq
       |  FROM embeddings, range(1, ${embedDim + 1}) AS t(i)),
       |seedcb AS (
       |  SELECT sub, dsub, (vec_id - $pqSeedOff) // $pqSeedStride AS j,
       |    xq AS cq
       |  FROM comps
       |  WHERE vec_id % $pqSeedStride = $pqSeedOff AND vec_id < $seedHi),
       |a0 AS (
       |  SELECT vec_id, sub, j AS cell FROM (
       |    SELECT c.vec_id, c.sub, s.j,
       |      row_number() OVER (PARTITION BY c.vec_id, c.sub
       |        ORDER BY SUM((c.xq - s.cq) * (c.xq - s.cq)) ASC, s.j ASC)
       |        AS rn
       |    FROM comps c JOIN seedcb s ON c.sub = s.sub AND c.dsub = s.dsub
       |    GROUP BY c.vec_id, c.sub, s.j) t WHERE rn = 1),
       |cb AS (
       |  SELECT a0.sub, a0.cell AS j, c.dsub,
       |    CAST(floor(CAST(SUM(c.xq) AS DOUBLE) / count(*)) AS BIGINT)
       |      AS cq
       |  FROM a0 JOIN comps c ON a0.vec_id = c.vec_id AND a0.sub = c.sub
       |  GROUP BY a0.sub, a0.cell, c.dsub),
       |codes AS (
       |  SELECT vec_id AS neighbor_id, sub, j AS cell FROM (
       |    SELECT c.vec_id, c.sub, b.j,
       |      row_number() OVER (PARTITION BY c.vec_id, c.sub
       |        ORDER BY SUM((c.xq - b.cq) * (c.xq - b.cq)) ASC, b.j ASC)
       |        AS rn
       |    FROM comps c JOIN cb b ON c.sub = b.sub AND c.dsub = b.dsub
       |    GROUP BY c.vec_id, c.sub, b.j) t WHERE rn = 1),
       |dtab AS (
       |  SELECT q.vec_id AS query_id, q.sub, b.j,
       |    SUM((q.xq - b.cq) * (q.xq - b.cq)) AS d2
       |  FROM comps q JOIN cb b ON q.sub = b.sub AND q.dsub = b.dsub
       |  WHERE q.vec_id IN (SELECT vec_id FROM embeddings $sqlQuerySample)
       |  GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT d.query_id, e.neighbor_id,
       |    CAST(SUM(d.d2) AS BIGINT) AS adc_dist
       |  FROM codes e JOIN dtab d ON e.sub = d.sub AND e.cell = d.j
       |  WHERE e.neighbor_id <> d.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, neighbor_id, adc_dist FROM (
       |  SELECT query_id, neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist ASC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM adc) r
       |WHERE rank <= $pqTopK ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_similarity_ivfpq — the PRODUCTION ANN composition: IVF coarse
  // pruning × PQ compressed scoring × exact re-rank, each stage the
  // one already gated standalone (q_similarity_ivf, q_similarity_pq).
  //   1. queries probe their ivfpqProbeP nearest TRAINED cells — the
  //      candidate set shrinks to the probed cells' members (the
  //      n_candidates column carries the count so the pruning is
  //      auditable in the output; SketchAccuracySpec asserts < 1/4 of
  //      the collection is ever scored);
  //   2. ONLY those candidates are ADC-scored: 16 integer table
  //      lookups per candidate against the per-query distance tables —
  //      the full-precision vectors are never touched at this stage;
  //   3. the top-ivfpqShortC shortlist by ADC distance is re-ranked
  //      with exact cosine over the original vectors (a shortlist-sized
  //      join, not a collection scan), emitting the final top-10.
  // At 100 TB: stage 1 bounds IO to probed cells, stage 2's scan reads
  // 80-bit codes instead of 256-byte vectors, stage 3 touches
  // O(C·queries) rows — this is the FAISS IVFADC shape re-expressed as
  // three joins Catalyst can plan. Integer cells + integer ADC + exact
  // double cosine keep every stage bit-reproducible in DuckDB: the
  // whole composition hash-gates.
  // ---------------------------------------------------------------------
  private val ivfpqProbeP = 3

  /** IVF+PQ seeds its coarse quantizer DENSER than q_similarity_ivf
    * (stride 13 vs 61): the composition's pruning claim — candidates
    * < 1/4 of the collection — needs enough cells that P probes are a
    * small fraction, even on the 500-vector test fixtures. The cap
    * still bounds the model at O(1).
    */
  private val ivfpqCentStride = 13L
  private val ivfpqCentOff = 3L
  private def ivfpqCentPick: Column =
    col("vec_id") % ivfpqCentStride === ivfpqCentOff &&
      col("vec_id") < ivfpqCentStride * centroidCap + ivfpqCentOff
  private val sqlIvfpqCentPick: String =
    s"vec_id % $ivfpqCentStride = $ivfpqCentOff AND " +
      s"vec_id < ${ivfpqCentStride * centroidCap + ivfpqCentOff}"

  val similarityIvfPq: Q = (s, d) => {
    val (e, ck2, assigned) = ivfTrainedWith(s, d, ivfpqCentPick, "s13")
    val m = pqLitModel(s, d)
    similarityIvfPqServe(s, e, ck2, assigned, m)
  }

  /** The q_similarity_ivfpq SERVING path with the models INJECTED —
    * shared verbatim between the in-session-trained lane and the
    * loaded-artifact lane ([[similarityIvfPqLoaded]]): identical
    * operators over identical model bits give identical output, which
    * is exactly the artifact roundtrip contract the gate pins.
    */
  private def similarityIvfPqServe(
      s: SparkSession,
      e: DataFrame,
      ck2: DataFrame,
      assigned: DataFrame,
      m: PqLitModel): DataFrame = {
    val q = querySample(e).select(
      col("vec_id").as("query_id"),
      col("embedding").as("qv"),
      sqrt(col("nrm2")).as("qnrm"))
    // per-query ADC tables ride the O(1) broadcast query frame
    val qdtab = q.select(
      col("query_id"),
      pqDtabArr(m, col("qv"), QueryVector).as("dtab"))
    val qprobe = ivfProbe(e, ck2, ivfpqProbeP).select(col("query_id"), col("cell"))
    // IVF pruning: candidates = members of the probed cells. Each
    // vector lives in exactly one cell and probed cells are distinct,
    // so (query, neighbor) pairs are already unique — codes come from a
    // NARROW encode of the candidate's own embedding and the ADC sum is
    // M in-row lookups: no join touches the codebook.
    val adc = assigned
      .join(broadcast(qprobe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn(
        "n_candidates",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .withColumn("codes", pqEncode(m, col("embedding"), StoredEmbedding))
      .join(broadcast(qdtab), Seq("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        adcScore.as("adc_dist"),
        col("n_candidates"))
    ivfpqRankTail(assigned, q, adc)
  }

  /** Shared IVF+PQ tail: ADC shortlist -> exact re-rank -> final
    * top-k — identical between the model-as-literal lanes and the
    * model-as-joined-frames lane, so the three gate under one oracle.
    */
  private def ivfpqRankTail(
      assigned: DataFrame,
      q: DataFrame,
      adc: DataFrame): DataFrame = {
    val wShort = Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    val short = adc
      .withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= ivfpqShortC)
    // exact re-rank of the shortlist only
    val wFinal = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    short
      .join(
        assigned.select(
          col("vec_id").as("neighbor_id"),
          col("embedding"),
          col("nrm")),
        Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn(
        "cos",
        fdot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(wFinal).cast("long"))
      .filter(col("rank") <= pqTopK)
      .select(
        col("query_id"),
        col("n_candidates"),
        col("rank"),
        col("neighbor_id"),
        col("adc_dist"),
        col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------------
  // PERSISTED MODEL ARTIFACTS — the missing half of the index-build/
  // serve split: the per-JVM registry dies with the session, but a
  // production ANN service trains once and SERVES FROM A STORED
  // ARTIFACT across restarts and across machines. Both models persist
  // as plain parquet (integers and doubles only — the training math is
  // quantized-integer / exact-double by design, so the roundtrip is
  // bit-exact by construction, not by luck):
  //   <path>/ivf_centroids   (cent_id, cv array<double>, cnrm2)
  //   <path>/pq_codebook     (sub, j, cq array<long>)
  // q_similarity_ivfpq_loaded proves the contract end-to-end: train →
  // save → load → serve through the IDENTICAL serving operators → the
  // same oracle as q_similarity_ivfpq hash-matches. ModelStoreSpec adds
  // the restart semantics (a load bypasses the registry entirely — a
  // fresh JVM runs zero training jobs).
  // ---------------------------------------------------------------------

  /** Train (or registry-serve) and persist the ANN serving artifacts
    * for dataset `d` under `path`.
    */
  def saveAnnModel(s: SparkSession, d: String, path: String): Unit = {
    val e = checked(s, d)
      .withColumn("nrm2", fdot(col("embedding"), col("embedding")))
    val ck2 = km2Cached(s, d, "s13", e, ivfpqCentPick)
    ck2
      .repartition(1) // O(centroidCap) rows — one file is the artifact
      .write.mode("overwrite").parquet(s"$path/ivf_centroids")
    val m = pqLitModel(s, d)
    val rows = for {
      sb <- 0 until pqM
      slot <- m.js(sb).indices
    } yield (sb, m.js(sb)(slot), m.cq(sb)(slot).toSeq)
    import s.implicits._
    rows.toDF("sub", "j", "cq")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/pq_codebook")
  }

  /** Load the persisted centroid frame (driver-materialized literal,
    * exactly the shape the registry serves).
    */
  private def loadIvfCentroids(s: SparkSession, path: String): DataFrame =
    kmMaterialize(
      s,
      Tables.readParquet(s, s"$path/ivf_centroids")
        .select(col("cent_id"), col("cv"), col("cnrm2"))
        .orderBy(col("cent_id")))

  private def loadPqModel(s: SparkSession, path: String): PqLitModel = {
    val rows = Tables.readParquet(s, s"$path/pq_codebook")
      .select(col("sub"), col("j"), col("cq"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
      .toSeq
    val bySub = rows.groupBy(_._1)
    val js = Array.tabulate(pqM)(sb =>
      bySub.getOrElse(sb, Nil).map(_._2).sorted.toArray)
    val cq = Array.tabulate(pqM) { sb =>
      val m = bySub.getOrElse(sb, Nil).map(r => r._2 -> r._3).toMap
      js(sb).map(m)
    }
    PqLitModel(js, cq)
  }

  /** q_similarity_ivfpq_loaded — the full artifact lifecycle under the
    * oracle gate: save (train on registry miss), load from parquet,
    * serve through [[similarityIvfPqServe]]. Must hash-match
    * q_similarity_ivfpq's oracle exactly — the loaded bits ARE the
    * trained bits.
    */
  val similarityIvfPqLoaded: Q = (s, d) => {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ann_artifact")
      .toString
    saveAnnModel(s, d, path)
    serveAnnFrom(s, d, path)
  }

  /** Serve the IVF+PQ query panel for dataset `d` ENTIRELY from the
    * artifact at `path` — no registry read, no training job: what a
    * fresh JVM (or a different serving machine) runs after a restart.
    */
  def serveAnnFrom(s: SparkSession, d: String, path: String): DataFrame = {
    val ck2 = loadIvfCentroids(s, path)
    val m = loadPqModel(s, path)
    val e = checked(s, d)
      .withColumn("nrm2", fdot(col("embedding"), col("embedding")))
      .localCheckpoint()
    val assigned = kmAssign(e, ck2, Seq("vec_id", "embedding", "nrm2"))
      .select(
        col("vec_id"),
        col("embedding"),
        sqrt(col("nrm2")).as("nrm"),
        col("cell"))
    similarityIvfPqServe(s, e, ck2, assigned, m)
  }

  // ---------------------------------------------------------------------
  // q_similarity_ivfpq_served — FILE-SERVED ANN: the artifact's frames
  // are JOINED, never collected into plan literals. The literal lanes
  // (q_similarity_ivfpq / _loaded) materialize the codebook into the
  // plan as a nested-array constant — optimal at the gated 2,048-entry
  // size, a dead end at 1M-centroid scale, where the model no longer
  // fits a task binary (let alone a driver collect). This lane is the
  // scale regime's shape: the centroid frame drives probe/assign as a
  // BROADCAST JOIN off its parquet scan, encode is candidate-subvector
  // × codebook-frame join (argmin per subspace), per-query ADC tables
  // are a query × codebook join, and the ADC sum is a grouped
  // aggregate — every model access a join Catalyst plans, nothing
  // model-sized on the driver or in the plan (PlanSpec asserts no
  // codebook literal). Same oracle as q_similarity_ivfpq: identical
  // model bits through either shape give identical output —
  // trained == loaded == served, hash-equal three ways.
  // ---------------------------------------------------------------------
  def serveAnnJoined(s: SparkSession, d: String, path: String): DataFrame = {
    val cents = Tables.readParquet(s, s"$path/ivf_centroids")
      .select(col("cent_id"), col("cv"), col("cnrm2"))
    val cb = Tables.readParquet(s, s"$path/pq_codebook")
      .select(col("sub"), col("j"), col("cq"))
    val e = checked(s, d)
      .withColumn("nrm2", fdot(col("embedding"), col("embedding")))
      .localCheckpoint()
    val assigned = kmAssign(e, cents, Seq("vec_id", "embedding", "nrm2"))
      .select(
        col("vec_id"),
        col("embedding"),
        sqrt(col("nrm2")).as("nrm"),
        col("cell"))
    val q = querySample(e).select(
      col("vec_id").as("query_id"),
      col("embedding").as("qv"),
      sqrt(col("nrm2")).as("qnrm"))
    val qprobe = ivfProbe(e, cents, ivfpqProbeP)
      .select(col("query_id"), col("cell"))
    // candidates with quantized subvectors, checkpointed so the HOF
    // quantization runs ONCE per candidate (not per Generate output row
    // — the interpreted-HOF re-evaluation trap) and because two joins
    // below read the frame
    val cand = assigned
      .join(broadcast(qprobe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn(
        "n_candidates",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        col("n_candidates"),
        xqSubs(col("embedding"), StoredEmbedding).as("xsubs"))
      .localCheckpoint()
    // ENCODE as a join: per (candidate, sub) argmin over the codebook
    // FRAME — min distance, ties to the smallest entry id, exactly
    // pqEncode's fold semantics
    val codes = cand
      .select(
        col("query_id"),
        col("neighbor_id"),
        col("n_candidates"),
        posexplode(col("xsubs")).as(Seq("sub", "xsub")))
      .join(broadcast(cb), Seq("sub"))
      .withColumn("d2", subD2(col("xsub"), col("cq")))
      .groupBy(
        col("query_id"), col("neighbor_id"), col("n_candidates"), col("sub"))
      .agg(min_by(col("j"), struct(col("d2"), col("j"))).as("cj"))
    // per-query ADC tables as a join (O(queries × M × k) rows)
    val dtab = q
      .select(col("query_id"), xqSubs(col("qv"), QueryVector).as("xsubs"))
      .localCheckpoint()
      .select(col("query_id").as("dq"), posexplode(col("xsubs")).as(Seq("dsub0", "xsub")))
      .join(broadcast(cb.select(
        col("sub").as("dsub0"), col("j").as("dj"), col("cq"))), Seq("dsub0"))
      .withColumn("d2", subD2(col("xsub"), col("cq")))
      .select(col("dq"), col("dsub0"), col("dj"), col("d2"))
    // ADC distance: M table lookups become one join + grouped long sum
    val adc = codes
      .join(
        broadcast(dtab),
        col("query_id") === col("dq") && col("sub") === col("dsub0") &&
          col("cj") === col("dj"))
      .groupBy(col("query_id"), col("neighbor_id"), col("n_candidates"))
      .agg(sum(col("d2")).as("adc_dist"))
    ivfpqRankTail(assigned, q, adc)
  }

  /** q_similarity_ivfpq_served — save (train on registry miss), then
    * serve entirely through [[serveAnnJoined]].
    */
  val similarityIvfPqServed: Q = (s, d) => {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ann_served")
      .toString
    saveAnnModel(s, d, path)
    serveAnnJoined(s, d, path)
  }

  val similarityIvfPqSql: String = {
    val seedHi = pqSeedStride * pqKsub + pqSeedOff
    s"""WITH n AS (SELECT vec_id, embedding,
       |           ${sqlDot("embedding", "embedding")} AS nrm2 FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS cv, nrm2 AS cnrm2
       |  FROM n WHERE $sqlIvfpqCentPick),
       |ka0 AS (
       |  ${sqlKmAssign("n", "c0")}),
       |r1 AS (
       |  ${sqlKmRecompute("ka0")}),
       |c1 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM r1),
       |ka1 AS (
       |  ${sqlKmAssign("n", "c1")}),
       |r2 AS (
       |  ${sqlKmRecompute("ka1")}),
       |c2 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM r2),
       |assigned AS (
       |  SELECT vec_id, embedding, sqrt(nrm2) AS nrm, cell FROM (
       |  ${sqlKmAssign("n", "c2")}) a),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv,
       |       sqrt(nrm2) AS qnrm, nrm2 AS qnrm2 FROM n
       |       $sqlQuerySample),
       |qprobe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY q.qnrm2 - 2.0 * (${sqlDot("c.cv", "q.qv")}) + c.cnrm2 ASC, c.cent_id ASC) AS prb
       |    FROM q0 q CROSS JOIN c2 c) t
       |  WHERE prb <= $ivfpqProbeP),
       |cand AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id,
       |    count(*) OVER (PARTITION BY q.query_id) AS n_candidates
       |  FROM assigned a JOIN qprobe q ON a.cell = q.cell
       |  WHERE a.vec_id != q.query_id),
       |comps AS (
       |  SELECT vec_id, CAST((t.i - 1) // $pqDsub AS INT) AS sub,
       |    (t.i - 1) % $pqDsub AS dsub,
       |    CAST(round(embedding[t.i]::DOUBLE * $kmQ.0) AS BIGINT) AS xq
       |  FROM embeddings, range(1, ${embedDim + 1}) AS t(i)),
       |seedcb AS (
       |  SELECT sub, dsub, (vec_id - $pqSeedOff) // $pqSeedStride AS j,
       |    xq AS cq
       |  FROM comps
       |  WHERE vec_id % $pqSeedStride = $pqSeedOff AND vec_id < $seedHi),
       |pa0 AS (
       |  SELECT vec_id, sub, j AS cell FROM (
       |    SELECT c.vec_id, c.sub, s.j,
       |      row_number() OVER (PARTITION BY c.vec_id, c.sub
       |        ORDER BY SUM((c.xq - s.cq) * (c.xq - s.cq)) ASC, s.j ASC)
       |        AS rn
       |    FROM comps c JOIN seedcb s ON c.sub = s.sub AND c.dsub = s.dsub
       |    GROUP BY c.vec_id, c.sub, s.j) t WHERE rn = 1),
       |cb AS (
       |  SELECT pa0.sub, pa0.cell AS j, c.dsub,
       |    CAST(floor(CAST(SUM(c.xq) AS DOUBLE) / count(*)) AS BIGINT)
       |      AS cq
       |  FROM pa0 JOIN comps c ON pa0.vec_id = c.vec_id AND pa0.sub = c.sub
       |  GROUP BY pa0.sub, pa0.cell, c.dsub),
       |codes AS (
       |  SELECT vec_id AS neighbor_id, sub, j AS cell FROM (
       |    SELECT c.vec_id, c.sub, b.j,
       |      row_number() OVER (PARTITION BY c.vec_id, c.sub
       |        ORDER BY SUM((c.xq - b.cq) * (c.xq - b.cq)) ASC, b.j ASC)
       |        AS rn
       |    FROM comps c JOIN cb b ON c.sub = b.sub AND c.dsub = b.dsub
       |    GROUP BY c.vec_id, c.sub, b.j) t WHERE rn = 1),
       |dtab AS (
       |  SELECT q.vec_id AS query_id, q.sub, b.j,
       |    SUM((q.xq - b.cq) * (q.xq - b.cq)) AS d2
       |  FROM comps q JOIN cb b ON q.sub = b.sub AND q.dsub = b.dsub
       |  WHERE q.vec_id IN (SELECT query_id FROM q0)
       |  GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(SUM(d.d2) AS BIGINT) AS adc_dist,
       |    max(c.n_candidates) AS n_candidates
       |  FROM cand c
       |  JOIN codes e ON e.neighbor_id = c.neighbor_id
       |  JOIN dtab d ON d.query_id = c.query_id
       |    AND d.sub = e.sub AND d.j = e.cell
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, neighbor_id, adc_dist, n_candidates FROM (
       |    SELECT query_id, neighbor_id, adc_dist, n_candidates,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist ASC, neighbor_id ASC) AS srn
       |    FROM adc) t WHERE srn <= $ivfpqShortC),
       |rer AS (
       |  SELECT s.query_id, s.n_candidates, s.neighbor_id, s.adc_dist,
       |    ${sqlDot("q.qv", "a.embedding")} / (q.qnrm * a.nrm) AS cos
       |  FROM short s
       |  JOIN assigned a ON a.vec_id = s.neighbor_id
       |  JOIN q0 q ON q.query_id = s.query_id)
       |SELECT query_id, n_candidates, rank, neighbor_id, adc_dist, cos FROM (
       |  SELECT query_id, n_candidates, neighbor_id, adc_dist, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM rer) r
       |WHERE rank <= $pqTopK ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // INCREMENTALLY MAINTAINED ANN INDEX: the IVF postings as a MERGE
  // TABLE fed by the vector table's change feed. The coarse quantizer
  // is FROZEN at build time (the standard IVF maintenance discipline —
  // re-training is a rebuild, not a refresh); day-2 maintenance
  // assigns ONLY the changed vectors (one bounded kmAssign over each
  // side of the delta; tombstones for deleted keys and for re-embedded
  // keys whose cell moved) and commits
  // exactly-once under the (runId, epoch = source version) contract —
  // the same discipline as MaterializedViews. At 100 TB: a day of new
  // embeddings costs O(batch × centroids), never a corpus re-index,
  // and queries keep serving the table mid-refresh (readers see the
  // previous committed snapshot until the refresh's atomic commit).
  // ---------------------------------------------------------------------

  /** Advance the postings table at `ixDir` to `srcDir`'s head under
    * the frozen quantizer `ck2` (cent_id, cv, cnrm2). Returns the
    * number of CHANGED KEYS folded in (rows written on a full build;
    * 0 = already current). Falls back to a full re-assignment when the
    * last applied source version left retention. The postings live
    * under the cell-prunable layout: key (vec_id, cell),
    * identity(cell) partitioning, bucket_by(vec_id) — bucket count
    * from `spark.graft.annIndexBuckets` (default 2; size it so
    * corpus / (centroids × buckets) rows fit one task's file).
    */
  /** The ANN maintainer's writer id for an index dir — commits tagged
    * with it carry the applied source version as their epoch (the
    * staleness bookkeeping `.detail` and refresh idempotence key on).
    */
  private[graft] def annRunId(ixDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    "annix-" + md.digest(ixDir.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
  }

  def annIndexRefresh(
      s: SparkSession,
      srcDir: String,
      srcKey: String,
      ixDir: String,
      ck2: DataFrame,
      vecCol: String = "embedding"): Long = {
    val MS = graft.streaming.MergeSink
    val runId = annRunId(ixDir)
    val srcHead = MS.lastCommit(s, srcDir) match {
      case Some(c) => c.version
      case None => return 0L
    }
    val applied = MS.commits(s, ixDir)
      .filter(_.runId == runId).map(_.epoch).maxOption
    if (applied.contains(srcHead)) return 0L
    // CELL-PRUNABLE LAYOUT, laid down before the index's first commit:
    // key (vec_id, cell) with identity(cell) partitioning and
    // bucket_by(vec_id). A search's probe cells then prune at the
    // MANIFEST level (whole partitions of files drop before any footer
    // is touched) while point lookups by vec_id still hash-prune
    // through the bucket_by component. cell is a KEY column because a
    // partition column must be bucket-stable across upserts — a
    // re-embedded vector that moves cells is an explicit DELETE of
    // (vec_id, oldCell) plus an INSERT of (vec_id, newCell), both
    // derivable from the retraction delta alone (the frozen quantizer
    // makes old-cell re-derivation deterministic).
    if (MS.lastCommit(s, ixDir).isEmpty &&
        MS.partitionSpec(s, ixDir).isEmpty) {
      val nb = s.conf.getOption("spark.graft.annIndexBuckets")
        .map(_.toInt).getOrElse(2)
      MS.setPartitionSpec(s, ixDir, "identity", "cell", nb)
      MS.setBucketBy(s, ixDir, Seq("vec_id"))
    }
    // A PRE-LAYOUT index (commits but no partition spec — built when
    // postings were keyed by vec_id alone) keeps refreshing under ITS
    // recorded contract: refreshing it with the composite key would
    // hash batch rows into different buckets than the stored postings,
    // so a re-embedded key's old row would never be read or replaced
    // (stale duplicates serving both embeddings). The search path
    // reads both layouts; cell pruning is earned by rebuilding.
    val legacy = MS.partitionSpec(s, ixDir).isEmpty &&
      MS.lastCommit(s, ixDir).nonEmpty
    val ixKey = if (legacy) "vec_id" else "vec_id,cell"
    // the postings table's OWN columns are engine-owned (vec_id/cell/
    // embedding/nrm) regardless of the source's naming — normalize the
    // source frames once at the boundary (no-op when names already match)
    def normalized(df: DataFrame): DataFrame = df
      .withColumnRenamed(srcKey, "vec_id")
      .withColumnRenamed(vecCol, "embedding")
    def assignRows(vecs: DataFrame): DataFrame =
      kmAssign(
        vecs.select(col("vec_id"), col("embedding"))
          .withColumn("nrm2", fdot(col("embedding"), col("embedding"))),
        ck2, Seq("vec_id", "embedding", "nrm2"))
        // cell inherits cent_id's type = the SOURCE KEY's type; the
        // postings table declares cell BIGINT, so a non-BIGINT key
        // (INT vec ids) would otherwise write INT parquet cells under
        // a BIGINT catalog schema and mis-decode on read
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          col("embedding"), sqrt(col("nrm2")).as("nrm"))
    def commitIx(rows: DataFrame, overwrite: Boolean): Long = {
      // computed once: the report count AND the commit read the
      // checkpointed blocks (assignment is the expensive part)
      val out = rows.withColumn("__rv", lit(srcHead)).localCheckpoint()
      val n = out.count()
      if (overwrite)
        MS.overwriteBatch(out, ixDir, ixKey, "__rv",
          epochId = srcHead, runId = runId)
      else
        MS.upsertBatch(out, ixDir, ixKey, "__rv",
          epochId = srcHead, runId = runId)
      n
    }
    applied match {
      case Some(fromV)
          if MS.commits(s, srcDir).exists(_.version == fromV) =>
        MS.changeDelta(s, srcDir, srcKey, fromV, srcHead) match {
          case None =>
            MS.currentState(s, ixDir).foreach(st =>
              MS.upsertBatch(st.limit(0), ixDir, ixKey, "__rv",
                epochId = srcHead, runId = runId))
            0L
          case Some(delta0) =>
            // bounded by the changed keys; read three times below
            // (plus-assignment, old-cell re-derivation, key count)
            val delta = normalized(delta0)
              .filter(col("embedding").isNotNull)
              .localCheckpoint()
            val plus = assignRows(delta.filter(col("__mult") === 1))
              .withColumn(MS.DeletedCol, lit(false))
              .localCheckpoint()
            // the -1 side carries each changed key's OLD embedding; the
            // frozen quantizer re-derives its old cell deterministically.
            // Tombstone every (vec_id, oldCell) the key does not re-land
            // on: a pure delete, or a re-embedding that moved cells —
            // the composite (vec_id, cell) key makes the old posting a
            // distinct row that an upsert at the new cell cannot replace
            val tombs =
              if (legacy)
                // single-key postings: an upsert at vec_id REPLACES the
                // old cell's row in place, so only PURE deletes (keys
                // with no re-landed embedding) need a tombstone
                delta.filter(col("__mult") === -1)
                  .select(col("vec_id")).distinct()
                  .join(plus.select(col("vec_id")), Seq("vec_id"),
                    "left_anti")
                  .select(col("vec_id"),
                    lit(null).cast("long").as("cell"),
                    lit(null).cast("array<float>").as("embedding"),
                    lit(null).cast("double").as("nrm"),
                    lit(true).as(MS.DeletedCol))
              else assignRows(delta.filter(col("__mult") === -1))
                .select(col("vec_id"), col("cell"))
                .join(plus.select(col("vec_id"), col("cell").as("__ncell")),
                  Seq("vec_id"), "left")
                .filter(col("__ncell").isNull || col("__ncell") =!= col("cell"))
                .select(col("vec_id"), col("cell"),
                  lit(null).cast("array<float>").as("embedding"),
                  lit(null).cast("double").as("nrm"),
                  lit(true).as(MS.DeletedCol))
            commitIx(plus.unionByName(tombs), overwrite = false)
            // the refresh's contract reports CHANGED KEYS, not batch
            // rows (a moved cell costs two rows but is one key)
            delta.select(col("vec_id")).distinct().count()
        }
      case _ =>
        // first build, or the delta's base left retention: full
        // re-assignment as ONE overwrite commit
        commitIx(
          MS.currentState(s, srcDir).map(st =>
            assignRows(normalized(st).filter(col("embedding").isNotNull)))
            .getOrElse(return 0L),
          overwrite = true)
    }
  }

  /** Train the frozen coarse quantizer for the CATALOG ANN surface
    * (`CALL cat.sys.create_ann` — [[graft.sources.AnnCatalog]]): the
    * standard 2-Lloyd-iteration recipe over `vecs` (vec_id, embedding)
    * with the deterministic stride seed — exactly the [[km2Cached]]
    * training chain, but materialized for the caller to PERSIST (the
    * catalog index stores its centroids as a parquet sidecar, not in a
    * per-JVM registry: any later session serves the same frozen model).
    * Returns the driver-sized (cent_id, cv, cnrm2) literal frame —
    * O(centroidCap × dim), broadcastable at any corpus size.
    */
  private[graft] def annTrain(s: SparkSession, vecs: DataFrame): DataFrame = {
    val e = vecs
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm2", fdot(col("embedding"), col("embedding")))
      .localCheckpoint()
    val c0 = e
      .filter(centroidPick)
      .select(
        col("vec_id").as("cent_id"),
        transform(col("embedding"), x => x.cast("double")).as("cv"),
        col("nrm2").as("cnrm2"))
    require(!c0.isEmpty,
      "create_ann: no seed centroids — the stride seed picked nothing " +
        s"(need keys with vec_id % $centroidStride = 0 below " +
        s"${centroidStride * centroidCap})")
    val ck1 = kmMaterialize(
      s, kmRecompute(kmAssign(e, c0, Seq("vec_id", "embedding"))))
    kmMaterialize(s, kmRecompute(kmAssign(e, ck1, Seq("vec_id", "embedding"))))
  }

  /** Multi-probe cell pick for an EXPLICIT query panel (the catalog
    * `ann_search` path): ranks all centroids per query and keeps the
    * `p` nearest. `queries` is (query_id, qv); the centroid frame is
    * O(centroidCap) and broadcast, so the cross is bounded panel ×
    * model — never panel × corpus. Returns (query_id, qv, qnrm, cell)
    * plus any `carry` columns passed through from the panel (the
    * batched-search path rides its batch id along).
    */
  private[graft] def annProbe(
      queries: DataFrame,
      ck2: DataFrame,
      p: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val wProbe = Window
      .partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("cent_id").asc)
    queries
      .select(col("query_id") +: col("qv") +:
        fdot(col("qv"), col("qv")).as("qnrm2") +: carry.map(col): _*)
      .join(broadcast(ck2), lit(true))
      .withColumn(
        "l2",
        col("qnrm2") - lit(2.0) * pdot(col("cv"), col("qv")) + col("cnrm2"))
      .withColumn("prb", row_number().over(wProbe))
      .filter(col("prb") <= p)
      .select(
        col("query_id") +:
        col("qv") +:
        sqrt(col("qnrm2")).as("qnrm") +:
        col("cent_id").as("cell") +: carry.map(col): _*)
  }

  /** The batch-invariant half of the catalog's served IVF+PQ search —
    * built ONCE per `ann_search` CALL and reused by every panel batch.
    * `model` is the collected codebook sidecar as a literal
    * ([[PqLitModel]]); `enc` is the cell-pruned postings slice with
    * each candidate's PQ code, localCheckpointed (the ADC pass and the
    * exact re-rank of every batch read the same blocks).
    */
  private[graft] final case class ServedPqIndex(
      model: PqLitModel, enc: DataFrame)

  /** Build [[ServedPqIndex]] for one `ann_search` call: collect the
    * codebook sidecar and encode every candidate of the pruned slice.
    *
    * DESIGN NOTE (literal model, deliberately): the codebook is served
    * as a PLAN LITERAL, not a joined frame — the sidecar is gated at
    * O(M·k) = 2,048 rows by the kmMaterialize broadcastability
    * contract, so the collect is bounded and every encode/ADC-table
    * projection is one narrow codegen expression per row instead of a
    * posexplode + codebook join per (query, neighbor) PAIR (measured
    * round 17: the pair-level join encode dominated q_ann_sql_pq's
    * 5.1 s ann_search collect). The frame-joined shape — the right one
    * when the model outgrows a task binary — lives on in
    * [[serveAnnJoined]] (q_similarity_ivfpq_served), which PlanSpec
    * pins model-literal-free. Round 18 hoists this prep out of the
    * panel-batch loop: a code is query-independent, so re-collecting
    * the model and re-encoding (and re-checkpointing) the full slice
    * per batch multiplied compute by nBatches on oversized panels.
    */
  private[graft] def annPqServedPrep(
      pruned: DataFrame, cb: DataFrame): ServedPqIndex = {
    val m = toPqModel(cb.collect().toSeq.map(r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray)))
    // neighbor-level encode: once per candidate vector, never per pair
    val enc = pruned
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding"), col("nrm"),
        pqEncode(m, col("embedding"), StoredEmbedding).as("codes"))
      .localCheckpoint()
    ServedPqIndex(m, enc)
  }

  /** IVF+PQ serving for the CATALOG's `ann_search` over one panel
    * batch: ADC-shortlist by compressed distance (M array lookups per
    * pair against the batch's per-query tables), then exact cosine
    * re-rank of the top [[ivfpqShortC]] per query. `ix` is the
    * call-scoped [[ServedPqIndex]]; `probe` is the batch's
    * (query_id, qv, qnrm, cell). Returns (query_id, rank, neighbor_id,
    * cos), rank ≤ k. Same integer arithmetic as the fixture lanes
    * (quantized L2², argmin ties to the smallest entry id), so ADC
    * distances, the shortlist and the re-rank are bit-identical to the
    * pre-hoist shape (oracle-verified).
    */
  private[graft] def annPqSearchServed(
      ix: ServedPqIndex,
      probe: DataFrame,
      k: Int): DataFrame = {
    val m = ix.model
    val enc = ix.enc
    val qs = probe.select(col("query_id"), col("qv"), col("qnrm")).distinct()
    // per-query ADC tables ride the O(panel) broadcast frame
    val qTab = qs.select(col("query_id"),
      pqDtabArr(m, col("qv"), QueryVector).as("dtab"))
    val adc = enc
      .join(broadcast(probe.select(col("query_id"), col("cell"))), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(qTab), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcScore.as("adc_dist"))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    val short = adc
      .withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= ivfpqShortC)
      .select(col("query_id"), col("neighbor_id"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    short
      .join(enc.select(col("neighbor_id"), col("embedding"), col("nrm")),
        Seq("neighbor_id"))
      .join(broadcast(qs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (fdot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
          .as("cos"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** The IVF+PQ serving constants, for the catalog surface. */
  private[graft] def ivfpqServeShortC: Int = ivfpqShortC
  private[graft] def ivfpqServeProbes: Int = ivfpqProbeP
  private[graft] def pqServeTopK: Int = pqTopK
  private[graft] def pqDim: Int = pqM * pqDsub

  // ---------------------------------------------------------------------
  // q_ann_incremental — the index maintenance lane, gated end to end:
  // day 1 loads 3/4 of the vectors into a merge table, trains the
  // quantizer on them, and builds the postings table; day 2 commits
  // inserts (the remaining quarter), re-embeddings (negated vectors —
  // deterministic, assignment-visible) and deletes to the SOURCE, and
  // ONE refresh folds exactly those keys into the index (cost bound
  // REQUIREd; at-head refresh REQUIREd free). Queries then run the
  // standard multi-probe IVF against the SERVED table. Oracle: DuckDB
  // re-derives the day-1-trained quantizer, assigns the FINAL vector
  // set from scratch, and answers the same top-3 — the incrementally
  // maintained index must be indistinguishable from a fresh build.
  // ---------------------------------------------------------------------
  val annIncremental: Q = (s, d) => {
    val MS = graft.streaming.MergeSink
    val src = java.nio.file.Files
      .createTempDirectory("graft_annix_src").toString
    val ix = java.nio.file.Files
      .createTempDirectory("graft_annix_ix").toString
    MS.setHistoryKeep(s, src, 8)
    val e = checked(s, d).select(col("vec_id"), col("embedding"))
    val day1 = e.filter(col("vec_id") % 4 =!= 0)
    MS.upsertBatch(day1.withColumn("rv", lit(1L)),
      src, "vec_id", "rv", 0L, "load")
    // freeze the quantizer on day-1 vectors
    val e1 = day1
      .withColumn("nrm2", fdot(col("embedding"), col("embedding")))
      .localCheckpoint()
    val ck2 = km2Cached(s, d, "incr", e1, centroidPick)
    val built = annIndexRefresh(s, src, "vec_id", ix, ck2)
    require(built > 0L, "initial index build wrote nothing")
    // day 2: deletes, re-embeddings (negated), inserts — to the SOURCE
    val del = day1.filter(col("vec_id") % 9 === 0)
      .withColumn("rv", lit(2L))
      .withColumn(MS.DeletedCol, lit(true))
    val upd = day1
      .filter(col("vec_id") % 9 =!= 0 && col("vec_id") % 10 === 1)
      .withColumn("embedding",
        transform(col("embedding"), x => -x))
      .withColumn("rv", lit(2L))
      .withColumn(MS.DeletedCol, lit(false))
    val ins = e.filter(col("vec_id") % 4 === 0)
      .withColumn("rv", lit(2L))
      .withColumn(MS.DeletedCol, lit(false))
    val day2 = del.unionByName(upd).unionByName(ins).localCheckpoint()
    MS.upsertBatch(day2, src, "vec_id", "rv", 1L, "load")
    val refreshed = annIndexRefresh(s, src, "vec_id", ix, ck2)
    val changed = day2.count() // one materialized batch: commit + bound
    require(refreshed == changed,
      s"refresh must touch exactly the changed keys: $refreshed != $changed")
    require(annIndexRefresh(s, src, "vec_id", ix, ck2) == 0L,
      "refresh at head must be free")
    // the index table's own history: one build + one incremental commit
    require(MS.commits(s, ix).map(_.version) == Seq(0L, 1L))
    // ---- query the SERVED postings table (multi-probe IVF) ----
    val served = s.read.format("graft-merge")
      .option("path", ix).option("key", "vec_id,cell").option("seq", "__rv")
      .load()
    val eFinal = MS.currentState(s, src).get
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm2", fdot(col("embedding"), col("embedding")))
      .localCheckpoint()
    val qprobe = ivfProbe(eFinal, ck2, probeP)
    val cand = served
      .join(broadcast(qprobe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cell"),
        col("vec_id").as("neighbor_id"),
        (fdot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
          .as("cos"))
    val wRank = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("cell"), col("n_candidates"),
        col("rank"), col("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Shared oracle body for q_ann_incremental and q_ann_sql: DuckDB
    * re-derives the day-1-trained quantizer, assigns the FINAL vector
    * set from scratch, and ranks the same multi-probe candidates —
    * both lanes must be indistinguishable from a fresh build.
    */
  private val annIncrementalWith: String = {
    s"""WITH n1 AS (SELECT vec_id, embedding,
       |    ${sqlDot("embedding", "embedding")} AS nrm2 FROM embeddings
       |  WHERE vec_id % 4 <> 0),
       |c0 AS (SELECT vec_id AS cent_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS cv, nrm2 AS cnrm2
       |  FROM n1 WHERE $sqlCentroidPick),
       |a0 AS (
       |  ${sqlKmAssign("n1", "c0")}),
       |r1 AS (
       |  ${sqlKmRecompute("a0")}),
       |c1 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM r1),
       |a1 AS (
       |  ${sqlKmAssign("n1", "c1")}),
       |r2 AS (
       |  ${sqlKmRecompute("a1")}),
       |c2 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM r2),
       |nf0 AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id % 4 <> 0 AND vec_id % 9 <> 0 AND vec_id % 10 = 1
       |      THEN list_transform(embedding, x -> -x) ELSE embedding END
       |      AS embedding
       |  FROM embeddings
       |  WHERE vec_id % 4 = 0 OR vec_id % 9 <> 0),
       |nf AS (SELECT vec_id, embedding,
       |  ${sqlDot("embedding", "embedding")} AS nrm2 FROM nf0),
       |assigned AS (
       |  SELECT vec_id, embedding, sqrt(nrm2) AS nrm, cell FROM (
       |  ${sqlKmAssign("nf", "c2")}) a),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv, nrm2 AS qnrm2
       |       FROM nf $sqlQuerySample),
       |qprobe AS (
       |  SELECT query_id, qv, sqrt(qnrm2) AS qnrm, cell FROM (
       |    SELECT q.query_id, q.qv, q.qnrm2, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY q.qnrm2 - 2.0 * (${sqlDot("c.cv", "q.qv")}) + c.cnrm2 ASC, c.cent_id ASC) AS prb
       |    FROM q0 q CROSS JOIN c2 c) t
       |  WHERE prb <= $probeP),
       |cand AS (
       |  SELECT q.query_id, a.cell, a.vec_id AS neighbor_id,
       |    ${sqlDot("q.qv", "a.embedding")} / (q.qnrm * a.nrm) AS cos
       |  FROM assigned a JOIN qprobe q ON a.cell = q.cell AND a.vec_id != q.query_id),
       |ranked AS (
       |  SELECT query_id, cell, count(*) OVER (PARTITION BY query_id) AS n_candidates,
       |    neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM cand)
       |""".stripMargin
  }

  val annIncrementalSql: String =
    annIncrementalWith +
      """SELECT query_id, cell, n_candidates, rank, neighbor_id, cos
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** q_ann_sql oracle: the `ann_search` relation (query_id, rank,
    * neighbor_id, cos) over the same fixture — the pure-SQL consumer's
    * answer must hash-match the from-scratch rebuild.
    */
  val annSqlSql: String =
    annIncrementalWith +
      """SELECT query_id, rank, neighbor_id, cos
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  private val annGateN = new java.util.concurrent.atomic.AtomicInteger(0)

  // ---------------------------------------------------------------------
  // q_ann_sql — the maintained ANN index as a PURE-SQL CATALOG CITIZEN:
  // the whole q_ann_incremental life cycle driven through SQL alone.
  // CREATE the vector table + INSERT day 1; CALL cat.sys.create_ann
  // (trains + FREEZES the quantizer as a parquet sidecar, builds the
  // postings); day 2 arrives as three ordinary DML commits (DELETE the
  // %9=0 keys, UPDATE re-embeds the %10=1 keys to their negations,
  // INSERT the held-out quarter); CALL cat.sys.refresh_ann folds the
  // change feed — REQUIREd to write exactly the changed keys and to be
  // FREE at head; then CALL cat.sys.ann_search answers cosine top-3
  // for a CTAS'd query panel. Oracle: the same from-scratch rebuild as
  // q_ann_incremental — the SQL surface must be indistinguishable from
  // the Scala one, which is itself indistinguishable from a fresh
  // build.
  // ---------------------------------------------------------------------
  val annSqlLane: Q = (s, d) => {
    val n = annGateN.incrementAndGet()
    val cat = s"gann$n"
    val wh = java.nio.file.Files.createTempDirectory("graft_ann_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.a")
    s.sql(
      s"""CREATE TABLE $cat.a.vecs
         |(vec_id BIGINT, embedding ARRAY<FLOAT>, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'vec_id', seq 'rv')
         |""".stripMargin)
    // the source accrues 4 commits before refresh reads v0 -> head;
    // default retention would GC v0 and force the full-rebuild fallback
    s.sql(s"CALL $cat.sys.set_history_keep('a.vecs', 8)")
    val view = s"graft_ann_emb_$n"
    checked(s, d).select(col("vec_id"), col("embedding"))
      .createOrReplaceTempView(view)
    s.sql(s"""INSERT INTO $cat.a.vecs
             |SELECT vec_id, embedding, 1 AS rv FROM $view
             |WHERE vec_id % 4 <> 0""".stripMargin)
    val built = s.sql(
      s"CALL $cat.sys.create_ann('a.vix', 'a.vecs', 'vec_id', 'embedding')")
      .head().getInt(0)
    require(built > 0, "create_ann built an empty index")
    // day 2, in three ordinary DML commits against the SOURCE
    s.sql(s"DELETE FROM $cat.a.vecs WHERE vec_id % 9 = 0")
    s.sql(s"""UPDATE $cat.a.vecs
             |SET embedding = transform(embedding, x -> -x)
             |WHERE vec_id % 10 = 1""".stripMargin)
    s.sql(s"""INSERT INTO $cat.a.vecs
             |SELECT vec_id, embedding, 2 AS rv FROM $view
             |WHERE vec_id % 4 = 0""".stripMargin)
    val expected = s.sql(
      s"""SELECT count(*) FROM $view
         |WHERE (vec_id % 4 <> 0 AND vec_id % 9 = 0)
         |   OR (vec_id % 4 <> 0 AND vec_id % 9 <> 0 AND vec_id % 10 = 1)
         |   OR vec_id % 4 = 0""".stripMargin).head().getLong(0)
    val refreshed = s.sql(s"CALL $cat.sys.refresh_ann('a.vix')")
      .head().getInt(0)
    require(refreshed == expected,
      s"refresh_ann must fold exactly the changed keys: " +
        s"$refreshed != $expected")
    require(s.sql(s"CALL $cat.sys.refresh_ann('a.vix')").head().getInt(0) == 0,
      "refresh_ann at head must be free")
    // the query panel: the queryN smallest FINAL vectors, as a table
    s.sql(s"""CREATE TABLE $cat.a.q
             |USING `graft-merge` OPTIONS (key 'vec_id', seq 'rv')
             |AS SELECT vec_id, embedding, CAST(1 AS BIGINT) AS rv
             |FROM $cat.a.vecs ORDER BY vec_id LIMIT $queryN""".stripMargin)
    s.sql(s"CALL $cat.sys.ann_search('a.vix', 'a.q', 3, $probeP)")
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------------
  // q_ann_sql_pq — the IVF+PQ index as a PURE-SQL CATALOG CITIZEN:
  // CALL cat.sys.create_ann(..., 'ivfpq') trains BOTH frozen models
  // (coarse quantizer + PQ codebook sidecars), and ann_search serves
  // by ADC shortlist + exact re-rank — the billion-scale memory shape,
  // now reachable by a consumer who only speaks SQL. Oracle: DuckDB
  // re-derives the quantizer, the codebook (stride seed + one
  // quantized-integer Lloyd update), the ADC shortlist and the exact
  // re-rank from scratch — integer-exact end to end, so the CALL's
  // relation hash-matches a from-scratch rebuild.
  // ---------------------------------------------------------------------
  val annSqlPqLane: Q = (s, d) => {
    val n = annGateN.incrementAndGet()
    val cat = s"gannpq$n"
    val wh = java.nio.file.Files.createTempDirectory("graft_annpq_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.a")
    s.sql(
      s"""CREATE TABLE $cat.a.vecs
         |(vec_id BIGINT, embedding ARRAY<FLOAT>, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'vec_id', seq 'rv')
         |""".stripMargin)
    val view = s"graft_annpq_emb_$n"
    checked(s, d).select(col("vec_id"), col("embedding"))
      .createOrReplaceTempView(view)
    s.sql(s"""INSERT INTO $cat.a.vecs
             |SELECT vec_id, embedding, 1 AS rv FROM $view""".stripMargin)
    val built = s.sql(
      s"CALL $cat.sys.create_ann('a.pix', 'a.vecs', 'vec_id', " +
        "'embedding', 'ivfpq')")
      .head().getInt(0)
    require(built > 0, "create_ann(ivfpq) built an empty index")
    s.sql(s"""CREATE TABLE $cat.a.q
             |USING `graft-merge` OPTIONS (key 'vec_id', seq 'rv')
             |AS SELECT vec_id, embedding, CAST(1 AS BIGINT) AS rv
             |FROM $cat.a.vecs ORDER BY vec_id LIMIT $queryN""".stripMargin)
    s.sql(
      s"CALL $cat.sys.ann_search('a.pix', 'a.q', $pqTopK, $ivfpqProbeP)")
      .orderBy(col("query_id"), col("rank"))
  }

  /** q_ann_sql_pq oracle: the `similarityIvfPqSql` pipeline under
    * `create_ann`'s OWN frozen quantizer (the [[annTrain]] seed, not
    * the fixture lane's), final shape = the `ann_search` relation.
    */
  val annSqlPqSql: String = {
    val seedHi = pqSeedStride * pqKsub + pqSeedOff
    s"""WITH n AS (SELECT vec_id, embedding,
       |           ${sqlDot("embedding", "embedding")} AS nrm2 FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS cv, nrm2 AS cnrm2
       |  FROM n WHERE $sqlCentroidPick),
       |ka0 AS (
       |  ${sqlKmAssign("n", "c0")}),
       |r1 AS (
       |  ${sqlKmRecompute("ka0")}),
       |c1 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM r1),
       |ka1 AS (
       |  ${sqlKmAssign("n", "c1")}),
       |r2 AS (
       |  ${sqlKmRecompute("ka1")}),
       |c2 AS (SELECT cent_id, cv, ${sqlDot("cv", "cv")} AS cnrm2 FROM r2),
       |assigned AS (
       |  SELECT vec_id, embedding, sqrt(nrm2) AS nrm, cell FROM (
       |  ${sqlKmAssign("n", "c2")}) a),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv,
       |       sqrt(nrm2) AS qnrm, nrm2 AS qnrm2 FROM n
       |       $sqlQuerySample),
       |qprobe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY q.qnrm2 - 2.0 * (${sqlDot("c.cv", "q.qv")}) + c.cnrm2 ASC, c.cent_id ASC) AS prb
       |    FROM q0 q CROSS JOIN c2 c) t
       |  WHERE prb <= $ivfpqProbeP),
       |cand AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id
       |  FROM assigned a JOIN qprobe q ON a.cell = q.cell
       |  WHERE a.vec_id != q.query_id),
       |comps AS (
       |  SELECT vec_id, CAST((t.i - 1) // $pqDsub AS INT) AS sub,
       |    (t.i - 1) % $pqDsub AS dsub,
       |    CAST(round(embedding[t.i]::DOUBLE * $kmQ.0) AS BIGINT) AS xq
       |  FROM embeddings, range(1, ${embedDim + 1}) AS t(i)),
       |seedcb AS (
       |  SELECT sub, dsub, (vec_id - $pqSeedOff) // $pqSeedStride AS j,
       |    xq AS cq
       |  FROM comps
       |  WHERE vec_id % $pqSeedStride = $pqSeedOff AND vec_id < $seedHi),
       |pa0 AS (
       |  SELECT vec_id, sub, j AS cell FROM (
       |    SELECT c.vec_id, c.sub, s.j,
       |      row_number() OVER (PARTITION BY c.vec_id, c.sub
       |        ORDER BY SUM((c.xq - s.cq) * (c.xq - s.cq)) ASC, s.j ASC)
       |        AS rn
       |    FROM comps c JOIN seedcb s ON c.sub = s.sub AND c.dsub = s.dsub
       |    GROUP BY c.vec_id, c.sub, s.j) t WHERE rn = 1),
       |cb AS (
       |  SELECT pa0.sub, pa0.cell AS j, c.dsub,
       |    CAST(floor(CAST(SUM(c.xq) AS DOUBLE) / count(*)) AS BIGINT)
       |      AS cq
       |  FROM pa0 JOIN comps c ON pa0.vec_id = c.vec_id AND pa0.sub = c.sub
       |  GROUP BY pa0.sub, pa0.cell, c.dsub),
       |codes AS (
       |  SELECT vec_id AS neighbor_id, sub, j AS cell FROM (
       |    SELECT c.vec_id, c.sub, b.j,
       |      row_number() OVER (PARTITION BY c.vec_id, c.sub
       |        ORDER BY SUM((c.xq - b.cq) * (c.xq - b.cq)) ASC, b.j ASC)
       |        AS rn
       |    FROM comps c JOIN cb b ON c.sub = b.sub AND c.dsub = b.dsub
       |    GROUP BY c.vec_id, c.sub, b.j) t WHERE rn = 1),
       |dtab AS (
       |  SELECT q.vec_id AS query_id, q.sub, b.j,
       |    SUM((q.xq - b.cq) * (q.xq - b.cq)) AS d2
       |  FROM comps q JOIN cb b ON q.sub = b.sub AND q.dsub = b.dsub
       |  WHERE q.vec_id IN (SELECT query_id FROM q0)
       |  GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(SUM(d.d2) AS BIGINT) AS adc_dist
       |  FROM cand c
       |  JOIN codes e ON e.neighbor_id = c.neighbor_id
       |  JOIN dtab d ON d.query_id = c.query_id
       |    AND d.sub = e.sub AND d.j = e.cell
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist ASC, neighbor_id ASC) AS srn
       |    FROM adc) t WHERE srn <= $ivfpqShortC),
       |rer AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ${sqlDot("q.qv", "a.embedding")} / (q.qnrm * a.nrm) AS cos
       |  FROM short s
       |  JOIN assigned a ON a.vec_id = s.neighbor_id
       |  JOIN q0 q ON q.query_id = s.query_id)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM rer) r
       |WHERE rank <= $pqTopK ORDER BY query_id, rank""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q_similarity_pq" -> similarityPq,
    "q_ann_incremental" -> annIncremental,
    "q_ann_sql" -> annSqlLane,
    "q_ann_sql_pq" -> annSqlPqLane,
    "q_similarity_ivfpq" -> similarityIvfPq,
    "q_similarity_ivfpq_loaded" -> similarityIvfPqLoaded,
    "q_similarity_ivfpq_served" -> similarityIvfPqServed,
    "q_similarity_topk" -> similarityTopk,
    "q_similarity_lsh" -> similarityLsh,
    "q_similarity_ivf" -> similarityIvf,
    "q_ann_recall" -> annRecall,
    "q_embed_neardup" -> embedNearDup,
    "q_semantic_dedup" -> semanticDedup,
    "q_semantic_dedup_incr" -> semanticDedupIncr,
    "q_embed_stats" -> embedStats,
    "q_ivf_kmeans" -> ivfKmeans
  )

  val oracleSql: Map[String, String] = Map(
    "q_similarity_pq" -> similarityPqSql,
    "q_ann_incremental" -> annIncrementalSql,
    "q_ann_sql" -> annSqlSql,
    "q_ann_sql_pq" -> annSqlPqSql,
    "q_similarity_ivfpq" -> similarityIvfPqSql,
    "q_similarity_ivfpq_loaded" -> similarityIvfPqSql,
    "q_similarity_ivfpq_served" -> similarityIvfPqSql,
    "q_similarity_topk" -> similarityTopkSql,
    "q_similarity_lsh" -> similarityLshSql,
    "q_similarity_ivf" -> similarityIvfSql,
    "q_ann_recall" -> annRecallSql,
    "q_embed_neardup" -> embedNearDupSql,
    "q_semantic_dedup" -> semanticDedupSql,
    "q_semantic_dedup_incr" -> semanticDedupSql,
    "q_embed_stats" -> embedStatsSql,
    "q_ivf_kmeans" -> ivfKmeansSql
  )
}
