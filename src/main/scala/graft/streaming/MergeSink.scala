package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Transactional streaming MERGE sink: a `foreachBatch` upsert into a
  * parquet-backed state table that survives kill/restart with no
  * duplicated and no lost effects.
  *
  * Layout (copy-on-write, hash-bucketed — the lakehouse MERGE shape):
  * {{{
  *   dir/
  *     data/b<k>/v<M>/part-*.parquet   bucket k as of version M
  *     _manifest_v<N>                  bucket -> content version map
  *     _commit_v<N>_r<runId>_e<E>      visibility marker (append-only)
  * }}}
  * Keys hash into a fixed number of buckets. A micro-batch rewrites ONLY
  * the buckets its keys fall in; the new manifest points touched buckets
  * at the new version and carries every untouched bucket's entry forward
  * unchanged. At 100 TB this is the difference between a MERGE that
  * rewrites gigabytes (the touched files) and one that rewrites the
  * table: cost scales with the batch's key spread, not the table size.
  *
  * A snapshot is visible iff its marker exists; readers resolve the
  * table to the max committed N and read the bucket files its manifest
  * references. The write protocol is the atomic-publish dual of the
  * reference's WAL-before-data rule (/root/reference/src/opusdb/storage/
  * buffer.clj:44-54 — there: log before page; here: data + manifest
  * fully durable BEFORE the marker that makes them reachable). A crash
  * between bucket write and marker publish leaves unreferenced
  * `v=N+1` bucket dirs — invisible, overwritten on replay — never a
  * torn table.
  *
  * Idempotence: each marker records the (runId, epoch) that produced
  * its snapshot, where runId identifies the QUERY INCARNATION (the
  * streaming query id, stable across restarts from one checkpoint; a
  * NEW checkpoint mints a new id and its epochs restart at 0). A
  * replayed micro-batch — failure after durable marker, before the
  * checkpoint advanced — presents an already-committed (runId, epoch)
  * pair and SKIPS. A batch whose epoch regresses WITHIN the same
  * incarnation without a matching marker is corruption and fails
  * loudly. A fresh incarnation's epoch 0 against a non-empty table is
  * neither: it merges normally. Single writer assumed (one streaming
  * query per table), exactly the reference's one-log-manager-per-file
  * discipline.
  *
  * Merge semantics: latest-wins per key by a total-ordering sequence
  * column (CDC LSN / event_id), the streaming continuation of
  * ops.Transactional.mergeUpsert. The merge is one hash aggregate over
  * touched-buckets ∪ batch — one shuffle on the key, reading only the
  * touched slice of the table.
  *
  * DELETES (full CDC): a batch carrying the reserved boolean column
  * `__deleted` marks tombstone rows. A tombstone is merged like any
  * row — if it wins its key's latest-by-seq race the key is dead — and
  * it is RETAINED in the stored buckets: a late-arriving upsert with a
  * LOWER seq must lose to the tombstone, which only works if the
  * tombstone is still there to race against (the Kafka-compaction /
  * Delta retention rule). Readers hide it: [[currentState]] /
  * [[stateAt]] filter tombstone rows and drop the column. A retention
  * pass that ages tombstones out past the out-of-order horizon is a
  * maintenance job over the bucket files, orthogonal to the protocol.
  */
object MergeSink {

  final case class Commit(version: Long, epoch: Long, runId: String)

  /** Reserved tombstone column: boolean, true = delete this key. */
  val DeletedCol = "__deleted"

  /** Every `key` parameter in this API is a COMMA-SEPARATED column
    * list: `"user_id"` (the common case) or `"order_id,line_no"` (a
    * composite CDC key — most real primary keys are). The bucket
    * function hashes the columns in declared order
    * (`xxhash64(k1, k2, …)`), which for a single column is bit-exactly
    * the layout every pre-composite table was written with.
    */
  def keyCols(key: String): Seq[String] = {
    val ks = key.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(ks.nonEmpty, s"merge key list is empty: '$key'")
    ks
  }

  /** The writer's bucket expression over the key columns. */
  private[graft] def bucketExpr(key: String, nb: Int) =
    pmod(xxhash64(keyCols(key).map(col): _*), lit(nb)).cast("int")

  /** Buckets per table. Fixed at first commit (recorded in the
    * manifest); 16 keeps test tables multi-file while a 100 TB table
    * would size this so each bucket holds O(100 MB–1 GB).
    */
  val DefaultBuckets = 16

  // ------------------------------------------------------------------
  // TIME/DATE PARTITIONED LAYOUT — the two-level p=<period>/b=<bucket>
  // organization a 100 TB fact table lives in, expressed WITHOUT
  // changing the manifest format: the global bucket id is
  // `partitionIndex * nb + hash(key) % nb`, where the partition index
  // is INTRINSIC to the value (days/months since epoch, or the integer
  // itself for identity) — no registry, no coordination, and a time
  // RANGE maps to a CONTIGUOUS id range, so (a) a pushed time
  // predicate prunes manifest entries before any file is touched and
  // (b) retiring an expired period is a pure metadata commit
  // ([[dropPartitions]]). The transform column must be one of the
  // MERGE KEY columns: the bucket of a key must be stable across
  // upserts (same reason hash bucketing keys on the key), and that is
  // also what lets a key-equality read prune to ONE (partition,
  // bucket) pair. The spec is the table's physical identity — declared
  // before the first commit, immutable after.
  // ------------------------------------------------------------------

  final case class PartitionSpec(kind: String, column: String, nb: Int)

  /** Max partition index (~27k days ≈ year 2045; guards a mis-typed
    * identity column from minting billions of bucket ids).
    */
  private val MaxPartIdx = 8 * 1000 * 1000

  def setPartitionSpec(
      spark: SparkSession,
      dir: String,
      kind: String,
      column: String,
      nb: Int): Unit = {
    require(Set("hour", "day", "month", "year", "identity")(kind),
      s"setPartitionSpec: unknown transform '$kind' " +
        "(hour | day | month | year | identity)")
    require(nb >= 1 && nb <= 65536, s"setPartitionSpec: bad bucket count $nb")
    require(lastCommit(spark, dir).isEmpty,
      s"setPartitionSpec: $dir already has commits — the partition " +
        "layout is the table's physical identity; declare it before " +
        "the first commit (or compact into a new table)")
    val (fs, p) = fsOf(spark, dir)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, "_partition_spec"), true)
    try out.write(s"$kind\t$column\t$nb\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** One generation of a table's partition layout: its transform plus
    * the base offset of its global-bucket-id range. Generation i owns
    * ids `[offset_i, offset_{i+1})` (the last generation is unbounded
    * above) — [[evolvePartitionSpec]] appends generations, so a bucket
    * id's generation is decidable forever, including for time travel.
    */
  final case class SpecGen(spec: PartitionSpec, offset: Int)

  /** Every recorded partition-spec generation, creation order (the
    * LAST one is current — what new writes route by). Empty = not a
    * partitioned table. Legacy single-line files parse as one
    * generation at offset 0.
    */
  def partitionSpecGens(spark: SparkSession, dir: String): Seq[SpecGen] = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, "_partition_spec")
    if (!fs.exists(f)) Seq.empty
    else {
      val in = fs.open(f)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
      lines.map { line =>
        line.split('\t') match {
          case Array(k, c, n) => SpecGen(PartitionSpec(k, c, n.toInt), 0)
          case Array(k, c, n, o) =>
            SpecGen(PartitionSpec(k, c, n.toInt), o.toInt)
          case _ => throw new IllegalStateException(
            s"corrupt _partition_spec on $dir: '$line'")
        }
      }
    }
  }

  /** The generation a global bucket id belongs to: the last one whose
    * offset is <= the id (offsets ascend by construction).
    */
  private[graft] def genOfBucket(gens: Seq[SpecGen], b: Int): SpecGen =
    gens.reverse.find(_.offset <= b).getOrElse(gens.head)

  /** The CURRENT partition spec (what new writes route by); see
    * [[partitionSpecGens]] for the full evolution history.
    */
  def partitionSpec(spark: SparkSession, dir: String): Option[PartitionSpec] =
    partitionSpecGens(spark, dir).lastOption.map(_.spec)

  /** PARTITION-SPEC EVOLUTION (the Iceberg shape): the new transform
    * applies to data written FROM NOW ON; existing partitions stay in
    * their generation's layout and read/prune under it. Mechanics: the
    * new generation's bucket ids start ABOVE every id the table has
    * ever minted (offset = head manifest's max id + 1), so the two id
    * ranges never collide; an upsert that touches a key still living
    * in a retired generation's bucket migrates that WHOLE bucket to
    * the current layout (bucket-granular copy-on-write — the engine's
    * unit of rewrite); a full compaction migrates everything, after
    * which storage-partitioned joins re-engage. Same column only —
    * re-partitioning on a different column is a rebuild (CTAS), not an
    * evolution.
    *
    * Refuses while a RETAINED version predates a bucket-count change
    * (rebucketing compaction): a retired generation's modulus is
    * frozen at evolve time, so every retained version must agree on it
    * or time travel would mis-decode old ids. Let retention age the
    * pre-rebucket versions out (or VACUUM), then evolve.
    *
    * Returns the new generation's offset.
    */
  def evolvePartitionSpec(
      spark: SparkSession,
      dir: String,
      kind: String,
      nb: Int): Int = {
    require(Set("hour", "day", "month", "year", "identity")(kind),
      s"evolvePartitionSpec: unknown transform '$kind' " +
        "(hour | day | month | year | identity)")
    require(nb >= 1 && nb <= 65536, s"evolvePartitionSpec: bad bucket count $nb")
    val gens = partitionSpecGens(spark, dir)
    require(gens.nonEmpty,
      s"evolvePartitionSpec: $dir is not a partitioned table — declare " +
        "the first layout with setPartitionSpec before any commit")
    val cur = gens.last.spec
    val last = lastCommit(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"evolvePartitionSpec: $dir has no commits — use setPartitionSpec " +
          "to (re)declare the layout of an empty table"))
    if (cur.kind == kind && cur.nb == nb) {
      // idempotent completion: an earlier evolve wrote the spec file
      // but crashed before its pin commit — if the pin is missing,
      // mint it now; a truly already-evolved table is a no-op re-CALL
      require(gens.size > 1,
        s"evolvePartitionSpec: $dir already partitions by " +
          s"$kind(${cur.column}) with $nb buckets")
      if (numBuckets(spark, dir, last.version) != nb &&
          !manifest(spark, dir, last.version).keySet
            .exists(_ >= gens.last.offset)) {
        publish(
          spark, dir, nb,
          manifest(spark, dir, last.version),
          touched = Set.empty,
          rows = None,
          last.version + 1,
          runId = "maintenance",
          epochId = last.version + 1,
          prevVersion = Some(last.version),
          sortedBy = manifestSortedBy(spark, dir, last.version),
          schemaOverride = manifestSchema(spark, dir, last.version))
      }
      return gens.last.offset
    }
    val cs = commits(spark, dir)
    val headNb = numBuckets(spark, dir, last.version)
    require(cs.forall(c => numBuckets(spark, dir, c.version) == headNb),
      s"evolvePartitionSpec: a retained version of $dir predates a " +
        "bucket-count change — the retiring generation's modulus must be " +
        "single-valued across retained history (let retention age the " +
        "pre-rebucket versions out, then evolve)")
    val m = manifest(spark, dir, last.version)
    // above every id EVERY RETAINED VERSION has ever minted (not just
    // the head's: a dropPartitions may have emptied the current range
    // at head while older retained snapshots still hold buckets there
    // — reusing their ids would make genOfBucket decode those
    // time-travel reads under the NEW transform), and never below the
    // current range's base (offsets must ascend for generation decode)
    val newOffset = math.max(
      cs.iterator
        .flatMap(c => manifest(spark, dir, c.version).keySet)
        .maxOption.map(_ + 1).getOrElse(0),
      gens.last.offset)
    val (fs, p) = fsOf(spark, dir)
    // freeze the retiring generation's TRUE modulus (the head
    // manifest's, which a rebucketing compaction may have moved off
    // the originally declared one), then append the new generation
    val retired = decodeTable(gens, headNb)
    val all = retired :+ SpecGen(PartitionSpec(kind, cur.column, nb), newOffset)
    // CLAIM THE PIN VERSION FIRST, then rewrite the spec file under
    // the claim (the fence order publish itself uses): two concurrent
    // evolves can no longer interleave a loser's spec-file write with
    // the winner's pin commit — the loser fails the claim (or the
    // re-read below) having written NOTHING, and withCommitRetry
    // replans it against the winner's generations.
    val evolveRun = s"maintenance-evolve-${tmpNonce.incrementAndGet()}"
    claimVersion(spark, fs, p, last.version + 1, dir, evolveRun)
    try {
      if (partitionSpecGens(spark, dir) != gens)
        throw new ConcurrentCommitException(
          s"evolvePartitionSpec: the generations of $dir moved while " +
            "claiming the pin version — replan against the new layout")
      val out = fs.create(new Path(p, "_partition_spec"), true)
      try out.write(all.map(g =>
        s"${g.spec.kind}\t${g.spec.column}\t${g.spec.nb}\t${g.offset}\n")
        .mkString.getBytes("UTF-8"))
      finally out.close()
    } catch {
      case t: Throwable =>
        fs.delete(new Path(p, s"_claim_v${last.version + 1}"), false)
        throw t
    }
    // a schema-only commit pins the evolution point in the version
    // history: any racing writer planned under the old layout loses
    // the version claim and replans under the new one (and the
    // B header from here on records the new generation's modulus).
    // publish re-takes the claim via the same-owner steal path.
    publish(
      spark, dir,
      nb,
      m,
      touched = Set.empty,
      rows = None,
      last.version + 1,
      runId = evolveRun,
      epochId = last.version + 1,
      prevVersion = Some(last.version),
      sortedBy = manifestSortedBy(spark, dir, last.version),
      schemaOverride = manifestSchema(spark, dir, last.version))
    newOffset
  }

  /** The partition index as a Column over the source column —
    * days/months since epoch (timestamps resolve through the session
    * time zone, as every date_trunc does), or the integer itself.
    */
  private[graft] def partIdxExpr(spec: PartitionSpec): Column =
    partIdxExprOn(spec, col(spec.column))

  /** The same index over an arbitrary expression (a pushed literal in
    * point lookups) — ONE definition of the arithmetic, so reader-side
    * bucket derivation can never drift from the writer's.
    */
  private[graft] def partIdxExprOn(spec: PartitionSpec, c: Column): Column =
    spec.kind match {
      case "day" => datediff(c, to_date(lit("1970-01-01")))
      case "month" =>
        (year(c) - lit(1970)) * lit(12) + (month(c) - lit(1))
      case "hour" =>
        // instant hours since epoch (dates/NTZ resolve to an instant
        // through the session zone, exactly like a CAST to TIMESTAMP).
        // EXACT for every long: a double division of the raw micros
        // rounds for |micros| > 2^53 and could disagree with the
        // reader's Math.floorDiv by one hour (a silent mis-prune) —
        // subtract pmod first (an exact multiple of the divisor), so
        // the quotient's double error is < 3e-7 and round() recovers
        // the exact integer
        {
          val um = unix_micros(c.cast("timestamp"))
          val d = lit(3600L * 1000000L)
          round((um - pmod(um, d)) / d).cast("int")
        }
      case "year" => (year(c) - lit(1970)).cast("int")
      case "identity" =>
        // type-dispatching at resolution: DATE's internal int IS the
        // epoch day (ANSI forbids the SQL-level cast), BIGINT range-
        // checks, INT passes through — see [[graft.plans.IdentityPartIdx]]
        org.apache.spark.sql.graft.Exprs.column(
          graft.plans.IdentityPartIdx(
            org.apache.spark.sql.graft.Exprs.expression(c)))
    }

  /** The same partition index evaluated driver-side on a pushed
    * literal (pruning, drop cutoffs). None = unrecognized value type,
    * which simply disables the prune — never mis-prunes. Instants
    * resolve through the SESSION time zone, exactly as the executor
    * expression's datediff/year/month do — a clock divergence here
    * would MIS-PRUNE (drop a manifest partition whose files hold
    * matching rows, which no post-scan re-filter can resurrect);
    * TIMESTAMP_NTZ values (LocalDateTime) keep their wall-clock date.
    */
  private[graft] def partIdxOf(spec: PartitionSpec, value: Any): Option[Int] = {
    lazy val zone = java.time.ZoneId.of(
      SparkSession.active.conf.get(
        "spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))
    // a pushed string literal may be a bare date OR a timestamp shape
    // ('2024-01-08 00:00:00' / ISO-T / trailing zone) — parse through
    // the same session zone as typed instants, so the common
    // string-timestamp predicate keeps its prune instead of silently
    // scanning everything
    def parseString(s: String): Option[Any] =
      scala.util.Try[Any](java.time.LocalDate.parse(s)).toOption
        .orElse(scala.util.Try[Any](
          java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))).toOption)
        .orElse(scala.util.Try[Any](
          java.time.Instant.parse(s.trim.replace(' ', 'T'))).toOption)
        .orElse(scala.util.Try[Any](java.time.OffsetDateTime
          .parse(s.trim.replace(' ', 'T')).toInstant).toOption)
    def local(value: Any): Option[java.time.LocalDate] = value match {
      case d: java.sql.Date => Some(d.toLocalDate)
      case d: java.time.LocalDate => Some(d)
      case t: java.sql.Timestamp => Some(t.toInstant.atZone(zone).toLocalDate)
      case t: java.time.LocalDateTime => Some(t.toLocalDate)
      case t: java.time.Instant => Some(t.atZone(zone).toLocalDate)
      case s: String => parseString(s).flatMap(local)
      case _ => None
    }
    // the instant of the value (hour partitioning): dates resolve to
    // session-zone midnight, matching the writer's CAST-to-TIMESTAMP
    def instant(value: Any): Option[java.time.Instant] = value match {
      case d: java.sql.Date =>
        Some(d.toLocalDate.atStartOfDay(zone).toInstant)
      case d: java.time.LocalDate => Some(d.atStartOfDay(zone).toInstant)
      case t: java.sql.Timestamp => Some(t.toInstant)
      case t: java.time.LocalDateTime => Some(t.atZone(zone).toInstant)
      case t: java.time.Instant => Some(t)
      case s: String => parseString(s).flatMap(instant)
      case _ => None
    }
    spec.kind match {
      case "day" => local(value).map(_.toEpochDay.toInt)
      case "month" =>
        local(value).map(d => (d.getYear - 1970) * 12 + d.getMonthValue - 1)
      case "hour" =>
        instant(value).map(i => Math.floorDiv(i.getEpochSecond, 3600L).toInt)
      case "year" => local(value).map(_.getYear - 1970)
      case "identity" => value match {
        case i: Int => Some(i)
        case l: Long => if (l == l.toInt) Some(l.toInt) else None
        case s: Short => Some(s.toInt)
        case b: Byte => Some(b.toInt)
        // identity over DATE: the index is the epoch day (the writer's
        // internal int — see [[graft.plans.IdentityPartIdx]])
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toInt)
        case d: java.time.LocalDate => Some(d.toEpochDay.toInt)
        case _ => None
      }
    }
  }

  /** BUCKET-BY sidecar: the subset of the merge key the layout's hash
    * covers (default: every key column, the joint-hash layout).
    * Declared ONCE before the first commit — like the partition spec,
    * it is the table's physical identity. The point of a single-column
    * `bucket_by` is storage-partitioned joins: Spark's SPJ machinery
    * only accepts single-reference transforms
    * (KeyGroupedPartitioning.supportsExpressions), so a joint hash
    * over a composite key can never be reported as a co-partitioning —
    * hashing one declared column keeps the layout expressible as
    * `bucket(nb, col)` (plus the period transform on a partitioned
    * table) and two such tables join with zero shuffle.
    */
  def setBucketBy(
      spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.forall(_.nonEmpty),
      s"setBucketBy: empty column list")
    require(lastCommit(spark, dir).isEmpty,
      s"setBucketBy: $dir already has commits — the hash layout is the " +
        "table's physical identity; declare it before the first commit")
    val (fs, p) = fsOf(spark, dir)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, "_bucket_by"), true)
    try out.write((cols.mkString(",") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  def bucketBy(spark: SparkSession, dir: String): Option[Seq[String]] = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, "_bucket_by")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val line = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().nextOption().map(_.trim).getOrElse("")
      finally in.close()
      Some(keyCols(line))
    }
  }

  /** The key list whose columns the layout actually hashes — the
    * `bucket_by` declaration when present, else the full merge key.
    */
  private[graft] def hashKeyOf(
      spark: SparkSession, dir: String, key: String): String =
    bucketBy(spark, dir).map(_.mkString(",")).getOrElse(key)

  /** The writer's bucket expression honoring the table's layout:
    * partitioned tables interleave the partition index above the
    * per-partition hash; plain tables hash only. The hash covers the
    * `bucket_by` columns (default: the whole key) — resolved through
    * the table's sidecar so writer and reader can never disagree.
    */
  private[graft] def tableBucketExpr(
      spark: SparkSession,
      dir: String,
      spec: Option[PartitionSpec],
      key: String,
      nb: Int): Column =
    // the spec param is the caller's (possibly stale) read — route by
    // a FRESH single read of the generations so routing and the
    // publish-time spec fence cannot straddle an evolve
    tableBucketExprGens(spark, dir, partitionSpecGens(spark, dir), key, nb)

  /** Bucket routing for IN-PLACE maintenance rewrites
    * (expireTombstones, compactIncremental): on a single-generation
    * table the current-layout hash re-derives each row's own bucket
    * (same modulus invariant); on an EVOLVED table re-deriving would
    * silently migrate retired-generation rows into buckets the commit
    * neither read nor listed — route by the bucket the row's FILE PATH
    * names instead (data/b<id>/v<cv>/… is authoritative, including
    * through a branch's `_data_base` redirect).
    */
  private def inPlaceBucketExpr(
      spark: SparkSession,
      dir: String,
      key: String,
      nb: Int): Column = {
    val gens = partitionSpecGens(spark, dir)
    if (gens.size <= 1) tableBucketExprGens(spark, dir, gens, key, nb)
    else regexp_extract(input_file_name(), "/b(\\d+)/v\\d+/", 1).cast("int")
  }

  /** [[tableBucketExpr]] against an EXPLICIT generation list — the one
    * read the caller also records for publish's spec fence.
    */
  private[graft] def tableBucketExprGens(
      spark: SparkSession,
      dir: String,
      gens: Seq[SpecGen],
      key: String,
      nb: Int): Column = {
    val hk = hashKeyOf(spark, dir, key)
    gens.lastOption match {
      case None => bucketExpr(hk, nb)
      case Some(g) =>
        // new writes route under the CURRENT generation's id range
        genBucketExpr(SpecGen(g.spec.copy(nb = nb), g.offset), hk)
    }
  }

  /** The global bucket id of a row under ONE spec generation:
    * `offset + partIdx * nb + hash(bucket_by cols) % nb`. `hk` is the
    * already-resolved hash-column list ([[hashKeyOf]]).
    */
  private def genBucketExpr(g: SpecGen, hk: String): Column = {
    val ps = g.spec
    val nb = ps.nb
    val idx = partIdxExpr(ps)
    // the upper bound also keeps offset + idx*nb inside Int range
    val maxIdx = math.min(
      MaxPartIdx.toLong, (Int.MaxValue.toLong - g.offset) / nb - 1).toInt
    val guarded = when(
      idx.isNull || idx < 0 || idx > maxIdx,
      raise_error(concat(
        lit(s"partitioned write: ${ps.kind}(${ps.column}) index "),
        idx.cast("string"),
        lit(s" out of range [0, $maxIdx] — partition values " +
          "must be non-null and bounded")))).otherwise(idx)
    (lit(g.offset) + guarded * lit(nb) +
      pmod(xxhash64(keyCols(hk).map(col): _*), lit(nb))).cast("int")
  }

  /** Retire whole partitions as a PURE METADATA commit: the new
    * manifest simply omits every bucket of the matching partitions —
    * zero data moved, the dropped snapshot stays time-travelable until
    * retention GC, and the freed bytes return when old manifests age
    * out. The 100 TB retention move (`drop WHERE day < today - 90`)
    * that tombstoning every expired key could never be. `op` is one of
    * lt | le | eq (cutoff semantics over the partition index). Returns
    * the number of manifest entries dropped (0 = nothing matched, no
    * commit minted).
    */
  def dropPartitions(
      spark: SparkSession,
      dir: String,
      op: String,
      value: Any): Int = withCommitRetry() {
    val gens = partitionSpecGens(spark, dir)
    val spec = gens.lastOption.map(_.spec).getOrElse(
      throw new IllegalArgumentException(
        s"dropPartitions: $dir is not a partitioned table"))
    require(Set("lt", "le", "eq")(op),
      s"dropPartitions: unknown op '$op' (lt | le | eq)")
    // the CURRENT generation must interpret the value (the hard error
    // a mistyped CALL deserves); a retired generation that cannot — or
    // whose granularity is finer than the value (le/eq land mid-period)
    // — simply keeps its buckets: under-dropping is the safe direction,
    // and the retired data ages out on migration/compaction anyway
    partIdxOf(spec, value).getOrElse(
      throw new IllegalArgumentException(
        s"dropPartitions: cannot interpret '$value' as a " +
          s"${spec.kind} partition value"))
    val last = lastCommit(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"dropPartitions: $dir has no committed version"))
    val headNb = numBuckets(spark, dir, last.version)
    val decode = decodeTable(gens, headNb)
    val predOf: SpecGen => Option[Int => Boolean] = g =>
      partIdxOf(g.spec, value).map { cut =>
        op match {
          case "lt" => (i: Int) => i < cut
          case "le" => (i: Int) => i <= cut
          case "eq" => (i: Int) => i == cut
        }
      }
    val genPreds: Map[Int, Option[Int => Boolean]] =
      decode.map(g => g.offset -> predOf(g)).toMap
    val m = manifest(spark, dir, last.version)
    val dropped = m.keySet.filter { b =>
      val g = genOfBucket(decode, b)
      genPreds(g.offset).exists(_(Math.floorDiv(b - g.offset, g.spec.nb)))
    }
    if (dropped.isEmpty) return 0
    publish(
      spark, dir, headNb, m,
      touched = dropped,
      rows = None,
      last.version + 1,
      runId = "maintenance",
      epochId = last.version + 1,
      prevVersion = Some(last.version),
      sortedBy = manifestSortedBy(spark, dir, last.version),
      schemaOverride = manifestSchema(spark, dir, last.version))
    dropped.size
  }

  // runId is a UUID or a short tag (hex + '-'; never '_'), so the
  // underscore-free group cannot swallow the `_e<epoch>` suffix.
  private val MarkerRe = "_commit_v(\\d+)_r([^_]+)_e(\\d+)".r
  private val ManifestRe = "_manifest_v(\\d+)".r
  private val WriterRe = "_writer_e(\\d+)_r([^_]+)".r
  private val StatsRe = "_stats_v(\\d+)".r
  // a version staged by a MULTI-TABLE transaction: visible iff the txn
  // file its content names exists (see [[commitTransaction]])
  private val PendingRe = "_pending_v(\\d+)_r([^_]+)_e(\\d+)".r

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Highest committed (version, epoch, runId), from the append-only log. */
  def lastCommit(spark: SparkSession, dir: String): Option[Commit] =
    commits(spark, dir).lastOption

  /** All committed versions, ascending — the table's retained history
    * (GC keeps the current and previous snapshot). A version holds a
    * direct `_commit_` marker, OR a `_pending_` marker whose recorded
    * transaction file exists — the multi-table atomic-commit read rule
    * ([[commitTransaction]]): the txn file's existence commits every
    * participant at one instant, whether or not the per-table
    * promotion has run yet. Zero extra IO on tables with no pending
    * markers (the common case — pendings are transient).
    */
  def commits(spark: SparkSession, dir: String): Seq[Commit] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else {
      val names = fs.listStatus(p).iterator.map(_.getPath.getName).toSeq
      val direct =
        names.collect { case MarkerRe(v, r, e) => Commit(v.toLong, e.toLong, r) }
      val pend = names.collect {
        case n @ PendingRe(v, r, e)
            if pendingCommitted(spark, fs, new Path(p, n)).isDefined =>
          Commit(v.toLong, e.toLong, r)
      }
      (direct ++ pend).distinctBy(_.version).sortBy(_.version)
    }
  }

  /** If the pending marker's transaction committed (its recorded txn
    * file exists), the txn file's modification time — the COMMIT
    * INSTANT shared by every participant table. None = still in
    * flight or torn.
    */
  private def pendingCommitted(
      spark: SparkSession, fs: FileSystem, pending: Path): Option[Long] =
    try {
      val in = fs.open(pending)
      val txnPath =
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().next().trim
        finally in.close()
      if (txnPath.isEmpty) None
      else {
        val tp = new Path(txnPath)
        val tfs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (tfs.exists(tp)) Some(tfs.getFileStatus(tp).getModificationTime)
        else None
      }
    } catch { case _: java.io.IOException => None }

  /** TIMESTAMP-based time travel: the latest version whose commit
    * marker was published at or before `tsMillis` (marker file
    * modification time — the Delta/Iceberg convention: commit wall
    * time IS the marker's filesystem timestamp, nothing extra to
    * record or parse). None when the table has no commit that old.
    * One marker-directory listing, O(retained versions).
    */
  def versionAt(
      spark: SparkSession, dir: String, tsMillis: Long): Option[Long] = {
    val ts = commitTimes(spark, dir).collect {
      case (v, t) if t <= tsMillis => v
    }
    if (ts.isEmpty) None else Some(ts.max)
  }

  /** Commit wall times: version -> marker modification millis (the
    * same clock [[versionAt]] resolves against). Retained versions
    * only — GC removes old markers with their manifests.
    */
  def commitTimes(spark: SparkSession, dir: String): Map[Long, Long] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Map.empty
    else {
      val sts = fs.listStatus(p)
      val direct = sts.iterator.flatMap { st =>
        st.getPath.getName match {
          case MarkerRe(v, _, _) => Some(v.toLong -> st.getModificationTime)
          case _ => None
        }
      }.toMap
      // a committed-but-unpromoted txn participant's clock is the TXN
      // file's mtime — the one instant every participant shares
      val pend = sts.iterator.flatMap { st =>
        st.getPath.getName match {
          case PendingRe(v, _, _) =>
            pendingCommitted(spark, fs, st.getPath).map(v.toLong -> _)
          case _ => None
        }
      }.toMap
      direct ++ pend // the txn instant wins while the pending survives
    }
  }

  /** Counts planning-time metadata FALLBACKS (a directory listing or
    * footer sweep where the manifest should have answered) — purely an
    * observability hook: StateSpec pins that planning over a
    * current-format table performs ZERO of them.
    */
  val metadataFallbacks = new java.util.concurrent.atomic.AtomicLong()

  /** Bounded per-JVM cache of PARSED manifest lines. A manifest is
    * immutable once its commit marker exists (publish writes manifest
    * strictly before marker; every read path resolves versions through
    * the marker list first), so caching by (dir, version) is safe —
    * and one scan planning consults the manifest ~6 ways (entries,
    * bytes, rows, flags, files, bucket count): without this it paid
    * six small-file reads per planning, with it one.
    */
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long), Seq[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Seq[String]]): Boolean =
        size > 256
    }

  /** Drop every cached manifest for `dir`. Manifests are immutable
    * once committed, so the cache never needs this during normal
    * operation — but DROP TABLE + re-CREATE at the same path (managed
    * tables reuse the deterministic warehouse path) would otherwise
    * serve the OLD table's cached lines to the new table's early
    * versions: stale schema, references to deleted files, zero
    * filesystem reads to notice. Called by the catalog's dropTable /
    * purgeTable (and safe to call anywhere a path's history is
    * destroyed rather than extended).
    */
  private[graft] def invalidateManifestCache(dir: String): Unit =
    manifestCache.synchronized {
      manifestCache.keySet.removeIf(_._1 == dir)
    }

  private def manifestLines(
      spark: SparkSession, dir: String, version: Long): Option[Seq[String]] = {
    val key = (dir, version)
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null) return Some(hit)
    }
    val (fs, p) = fsOf(spark, dir)
    val mf = new Path(p, s"_manifest_v$version")
    if (!fs.exists(mf)) None // missing is NOT cached (GC / not-yet-written)
    else {
      val in = fs.open(mf)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      manifestCache.synchronized { manifestCache.put(key, lines) }
      Some(lines)
    }
  }

  private def entryLines(lines: Seq[String]): Seq[String] =
    lines.filterNot(l => l.isEmpty || l.startsWith("B ") ||
      l.startsWith("S ") || l.startsWith("O ") || l.startsWith("W "))

  /** The commit's free-form NOTE header (`W <text>`), if the writer
    * recorded one — e.g. a star view's applied-version vector, which
    * must travel IN the commit artifact so the newest commit always
    * carries it regardless of retention.
    */
  def manifestNote(
      spark: SparkSession, dir: String, version: Long): Option[String] =
    manifestLines(spark, dir, version).flatMap(
      _.collectFirst { case l if l.startsWith("W ") => l.substring(2) })

  /** The bucket -> content-version map for a committed version.
    * Manifest lines are `b v [bytes rows deletedFlag [files]]` — the
    * optional fields (written since rounds 11/12) serve planner
    * statistics, tombstone handling, and file listings without any
    * file-status round-trip; absent on older tables. An `S <json>`
    * header line (round 12) records the committed union schema.
    */
  def manifest(spark: SparkSession, dir: String, version: Long): Map[Int, Long] =
    manifestLines(spark, dir, version) match {
      case None => Map.empty
      case Some(lines) =>
        entryLines(lines).map { l =>
          val parts = l.split(" ")
          parts(0).toInt -> parts(1).toLong
        }.toMap
    }

  /** The committed UNION SCHEMA recorded in a version's manifest (the
    * physical data schema, tombstone column included when present) —
    * resolves the table schema with zero footer reads. None on
    * manifests predating the field.
    */
  def manifestSchema(
      spark: SparkSession, dir: String, version: Long): Option[StructType] =
    manifestLines(spark, dir, version).flatMap(
      _.collectFirst { case l if l.startsWith("S ") =>
        org.apache.spark.sql.types.DataType.fromJson(l.drop(2))
          .asInstanceOf[StructType]
      })

  /** bucket -> data file NAMES recorded in the manifest (relative to
    * the bucket's version directory). Lets scan/replay planning resolve
    * every file with zero directory listings. Empty for manifests
    * without the field.
    */
  def manifestFiles(
      spark: SparkSession, dir: String, version: Long): Map[Int, Seq[String]] =
    manifestLines(spark, dir, version) match {
      case None => Map.empty
      case Some(lines) =>
        entryLines(lines).flatMap { l =>
          val parts = l.split(" ")
          if (parts.length > 5)
            Some(parts(0).toInt -> parts(5).split(",").toSeq)
          else None
        }.toMap
    }

  /** bucket -> total data bytes recorded in a committed version's
    * manifest (empty for pre-round-11 manifests without the field).
    * O(1) metadata read — what the DSv2 scan's reported statistics use
    * instead of O(files) file-status calls per planning.
    */
  def manifestBytes(spark: SparkSession, dir: String, version: Long): Map[Int, Long] =
    manifestField(spark, dir, version, 2)

  /** bucket -> row count recorded in the manifest (includes retained
    * tombstone rows — a PHYSICAL figure, which is what a scan-size
    * estimate wants). Empty for manifests without the field.
    */
  def manifestRows(spark: SparkSession, dir: String, version: Long): Map[Int, Long] =
    manifestField(spark, dir, version, 3)

  /** bucket -> 1 if the bucket's files carry the `__deleted` COLUMN
    * (0 otherwise). Lets a reader decide tombstone handling from O(1)
    * metadata instead of sweeping footers. Empty for manifests without
    * the field — callers must then fall back to a footer check.
    */
  def manifestDeletedFlags(
      spark: SparkSession, dir: String, version: Long): Map[Int, Long] =
    manifestField(spark, dir, version, 4)

  private def manifestField(
      spark: SparkSession,
      dir: String,
      version: Long,
      idx: Int): Map[Int, Long] =
    manifestLines(spark, dir, version) match {
      case None => Map.empty
      case Some(lines) =>
        entryLines(lines).flatMap { l =>
          val parts = l.split(" ")
          if (parts.length > idx) Some(parts(0).toInt -> parts(idx).toLong)
          else None
        }.toMap
    }

  /** The key columns EVERY bucket file of a committed version is
    * sorted by (an `O c1,c2` manifest header, written by compaction —
    * the only operation that sorts the whole table). None when any
    * bucket may be unsorted: ordinary upsert/overwrite commits never
    * write the flag, so it drops automatically the moment a dirty
    * write lands. What the DSv2 scan's reported ordering keys on.
    */
  def manifestSortedBy(
      spark: SparkSession, dir: String, version: Long): Option[Seq[String]] =
    manifestLines(spark, dir, version).flatMap(
      _.collectFirst { case l if l.startsWith("O ") =>
        l.drop(2).trim.split(",").toSeq
      })

  /** Bucket count recorded in a committed version's manifest header —
    * the writer's hash modulus, which any pruning reader (the DSv2
    * source, pointLookup) must reuse exactly.
    */
  def bucketCount(spark: SparkSession, dir: String, version: Long): Int =
    numBuckets(spark, dir, version)

  private def numBuckets(spark: SparkSession, dir: String, version: Long): Int =
    manifestLines(spark, dir, version)
      .flatMap(_.collectFirst { case l if l.startsWith("B ") =>
        l.drop(2).trim.toInt
      })
      .getOrElse(DefaultBuckets)

  // ------------------------------------------------------------------
  // COLUMN MAPPING (rename/drop without rewriting data) — per-column
  // stable ids and former-name chains ride the recorded schema's FIELD
  // METADATA (the Delta column-mapping shape, name-chain variant):
  //   graft.gid      stable column id, assigned at first rename/drop
  //   graft.aliases  comma list of former physical names, newest first
  // Data files keep whatever name was current when they were written;
  // readers resolve a field to the first candidate (current name, then
  // aliases) the file actually contains. Tables never renamed carry no
  // metadata and skip every mapping code path.
  // ------------------------------------------------------------------
  private[graft] val AliasKey = "graft.aliases"
  private[graft] val GidKey = "graft.gid"

  private[graft] def aliasesOf(f: StructField): Seq[String] =
    if (f.metadata.contains(AliasKey))
      f.metadata.getString(AliasKey).split(",").filter(_.nonEmpty).toSeq
    else Seq.empty

  /** current name -> physical candidates in resolution order. Empty
    * when no field of `schema` was ever renamed (the fast path).
    */
  private[graft] def columnAliases(schema: StructType): Map[String, Seq[String]] =
    schema.fields.iterator
      .filter(f => aliasesOf(f).nonEmpty)
      .map(f => f.name -> (f.name +: aliasesOf(f)))
      .toMap

  /** Project a raw (possibly mixed-name, mixed-schema) frame onto
    * `schema`'s CURRENT names: each field reads from the first of its
    * physical candidates present (coalesce when several file
    * generations coexist in one read), columns the schema dropped stop
    * projecting, and a column present in no read file serves typed
    * NULLs (the schema-evolution read rule). Identity when the schema
    * carries no aliases AND the raw columns already match — tables
    * never renamed pay nothing.
    */
  private def currentView(raw: DataFrame, schema: StructType): DataFrame = {
    val am = columnAliases(schema)
    val have = raw.columns.toSet
    if (am.isEmpty && schema.fields.forall(f => have.contains(f.name)) &&
      raw.columns.length == schema.fields.length) return raw
    val cols = schema.fields.toSeq.map { f =>
      val cands = am.getOrElse(f.name, Seq(f.name)).filter(have.contains)
      if (cands.isEmpty) lit(null).cast(f.dataType).as(f.name)
      else if (cands.size == 1) col(cands.head).cast(f.dataType).as(f.name)
      else coalesce(cands.map(col): _*).cast(f.dataType).as(f.name)
    }
    raw.select(cols: _*)
  }

  /** Bucket-file read for the engine's internal paths. With a RECORDED
    * schema and no renamed physical names, the files are read under
    * that schema EXPLICITLY: parquet's type promotion then serves
    * mixed-width generations — int32 files under a column widened to
    * LONG ([[widenColumn]]) — which footer-merge inference rejects
    * outright. Column-mapped (renamed) tables and legacy tables
    * without a recorded schema keep the mergeSchema inference path.
    */
  private def bucketRead(
      spark: SparkSession,
      dir: String,
      version: Long,
      paths: Seq[String]): DataFrame =
    manifestSchema(spark, dir, version) match {
      case Some(s) if columnAliases(s).isEmpty =>
        // all-nullable: parquet round-trips flip nullability freely
        spark.read.schema(StructType(s.fields.map(_.copy(nullable = true))))
          .parquet(paths: _*)
      case _ =>
        spark.read.option("mergeSchema", true).parquet(paths: _*)
    }

  /** [[currentView]] against the schema RECORDED at `version`; raw
    * passes through untouched for legacy tables without one.
    */
  private def currentViewAt(
      spark: SparkSession,
      dir: String,
      version: Long,
      raw: DataFrame): DataFrame =
    manifestSchema(spark, dir, version) match {
      case Some(s) => currentView(raw, s)
      case None => raw
    }

  private def readVersion(
      spark: SparkSession,
      dir: String,
      version: Long): Option[DataFrame] = {
    val m = manifest(spark, dir, version)
    if (m.isEmpty) None
    else {
      val paths = m.toSeq.sorted.map { case (b, v) => dataPath(spark, dir, b, v) }
      val raw = currentViewAt(spark, dir, version,
        bucketRead(spark, dir, version, paths))
      // CDC tables retain tombstones physically; the TABLE is its live rows
      if (raw.columns.contains(DeletedCol))
        Some(raw.filter(!coalesce(col(DeletedCol), lit(false))).drop(DeletedCol))
      else Some(raw)
    }
  }

  /** The committed table state (None before the first non-empty commit). */
  def currentState(spark: SparkSession, dir: String): Option[DataFrame] =
    lastCommit(spark, dir).flatMap(c => readVersion(spark, dir, c.version))

  /** TIME TRAVEL: the table as of a committed version — the storage
    * dual of the reference's versioned `find-version` read
    * (/root/reference/src/opusdb/atomic/stm.clj:55-65): a version stays
    * readable as long as its marker + manifest survive GC. None if that
    * version is uncommitted or collected.
    */
  def stateAt(spark: SparkSession, dir: String, version: Long): Option[DataFrame] =
    commits(spark, dir)
      .find(_.version == version)
      .flatMap(c => readVersion(spark, dir, c.version))

  /** Data files the current version references, per bucket — lets tests
    * (and operators) observe the copy-on-write granularity.
    */
  def currentFiles(spark: SparkSession, dir: String): Map[Int, Seq[String]] =
    lastCommit(spark, dir) match {
      case None => Map.empty
      case Some(c) =>
        val (fs, _) = fsOf(spark, dir)
        val recorded = manifestFiles(spark, dir, c.version)
        manifest(spark, dir, c.version).map { case (b, v) =>
          val files = recorded.get(b) match {
            case Some(names) =>
              names.map(n => dataPath(spark, dir, b, v) + "/" + n)
            case None =>
              metadataFallbacks.incrementAndGet()
              val d = new Path(dataPath(spark, dir, b, v))
              if (!fs.exists(d)) Seq.empty[String]
              else
                fs.listStatus(d)
                  .iterator
                  .map(_.getPath.toString)
                  .filter(_.endsWith(".parquet"))
                  .toSeq
          }
          b -> files
        }
    }

  /** Registered writer incarnations, ascending by fencing epoch (ties
    * broken by runId — see [[ensureWriter]]).
    */
  def writers(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else
      fs.listStatus(p)
        .iterator
        .map(_.getPath.getName)
        .collect { case WriterRe(e, r) => (e.toLong, r) }
        .toSeq
        .sorted
  }

  /** SINGLE-WRITER FENCING — the storage dual of the reference's
    * ownership acquisition (/root/reference/src/opusdb/atomic/stm.clj:
    * 67-83: a transaction must own a ref before writing it; a newer
    * claimant wounds the older). Here ownership of the TABLE is a
    * monotone fencing epoch: a writer incarnation registers once at
    * (max epoch + 1); the registrant holding the highest epoch may
    * publish; an incarnation that has been out-registered is FENCED —
    * its publish throws instead of corrupting a table another writer
    * now owns (the stale-driver / zombie-executor case). Registration
    * is an atomic exclusive file create; two brand-new incarnations
    * racing to the same epoch are ordered by runId, and the loser
    * discovers the fence on its next batch. On a store without atomic
    * create (S3 without preconditions) registration must go through a
    * conditional-put lease object instead — the protocol is unchanged.
    */
  private def ensureWriter(
      spark: SparkSession,
      dir: String,
      runId: String,
      reRegister: Boolean = false): Unit = {
    val ws = writers(spark, dir)
    if (ws.nonEmpty && ws.last._2 == runId) return // current holder
    if (ws.exists(_._2 == runId) && !reRegister)
      throw new IllegalStateException(
        s"writer $runId is FENCED: incarnation ${ws.last._2} registered at " +
          s"fencing epoch ${ws.last._1} after it — this writer must stop")
    // reRegister: a BATCH writer (one SQL statement, not a long-lived
    // incarnation) retrying after a lost commit race takes a fresh
    // fencing epoch under the same runId — semantically a new
    // statement. Streaming incarnations never pass this flag: a fenced
    // stream is a zombie and must stay dead.
    val e = ws.lastOption.map(_._1 + 1).getOrElse(0L)
    val (fs, p) = fsOf(spark, dir)
    fs.mkdirs(p)
    fs.create(new Path(p, s"_writer_e${e}_r$runId"), false).close()
  }

  /** Run `op` with automatic retry on [[ConcurrentCommitException]] —
    * the dual of the reference's transaction-retry loop
    * (/root/reference/src/opusdb/atomic/stm.clj:85-106,124-143:
    * `process-result`/`run` re-attempt an aborted transaction after an
    * exponential backoff of `2^min(n,5)` units). `op` must be a
    * RECOMPUTE-FROM-HEAD closure — every commit operation here is
    * (upsert/DML semantics are defined against the latest committed
    * state, which the operation re-reads on entry) — so the retry
    * recomputes the loser's work against the winner's commit, never
    * replays stale bytes. Backoff sleeps `backoffMs << min(n-1, 5)`
    * (the reference's exponent cap, scaled to commit latencies: a
    * racing writer's publish takes real seconds at scale, not the
    * STM's microseconds). After `maxAttempts` losses the LAST
    * ConcurrentCommitException propagates.
    *
    * Batch callers racing under DISTINCT runIds must also pass
    * `reRegister = true` to the commit operation: losing the claim
    * race means the other writer registered a newer fencing epoch, and
    * the retry re-registers rather than dying fenced.
    */
  def withCommitRetry[T](
      maxAttempts: Int = 10,
      backoffMs: Long = 100L)(op: => T): T = {
    require(maxAttempts >= 1, s"withCommitRetry: maxAttempts=$maxAttempts")
    var n = 0
    while (true) {
      try return op
      catch {
        case e: ConcurrentCommitException =>
          n += 1
          if (n >= maxAttempts) throw e
          Thread.sleep(backoffMs << math.min(n - 1, 5))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Apply one micro-batch: merge into the touched buckets, write ONLY
    * those buckets at the new version, publish manifest + marker.
    * Already-committed (runId, epoch) pairs are skipped; an epoch
    * regression within the same incarnation fails loudly; an
    * incarnation fenced by a newer writer ([[ensureWriter]]) fails
    * loudly before touching data.
    */
  def upsertBatch(
      batch: DataFrame,
      dir: String,
      key: String,
      seq: String,
      epochId: Long,
      runId: String = "batch",
      reRegister: Boolean = false,
      note: Option[String] = None): Unit =
    planUpsert(batch, dir, key, seq, epochId, runId, reRegister)
      .foreach(publishPlanned(dir, runId, epochId, note, _))

  /** Publish a planned single-table commit, re-pointing it with
    * [[rebased]] while it loses version-claim races it can rebase past.
    */
  private def publishPlanned(
      dir: String,
      runId: String,
      epochId: Long,
      note: Option[String],
      pc0: PlannedCommit): Unit = {
    var pc = pc0
    var done = false
    while (!done) {
      try {
        publish(
          pc.spark, dir, pc.nb, pc.prevManifest, pc.touched, pc.rows,
          pc.newV, runId, epochId, prevVersion = pc.prevVersion,
          note = note, specGens = Some(pc.specGens))
        done = true
      } catch {
        case e: ConcurrentCommitException =>
          rebased(pc.spark, dir, pc) match {
            case Some(next) => pc = next
            case None => throw e
          }
      }
    }
  }

  /** Rebases [[rebased]] performed since JVM start — spec
    * observability for the retry-less disjoint-writer path.
    */
  val rebaseCount = new java.util.concurrent.atomic.AtomicLong()

  /** FAST-APPEND REBASE (the Iceberg disjoint-commit shape): a writer
    * that lost the version-claim race but whose touched buckets are
    * UNTOUCHED by everything that landed since its base snapshot does
    * not need to recompute anything — its merge read exactly the
    * bucket contents the new head still carries, so the same planned
    * rows publish verbatim against the NEXT version with the new
    * head's manifest as the carry. Returns the re-pointed plan, or
    * None when a real conflict (overlapping buckets, a rebucketing
    * compaction, or a winner that never lands within the wait window)
    * forces the loud ConcurrentCommitException path —
    * [[withCommitRetry]] then recomputes from the new head. At 100 TB
    * this is the difference between two writers on disjoint key
    * ranges costing one commit each and the loser re-running its
    * whole merge.
    */
  private def rebased(
      spark: SparkSession,
      dir: String,
      pc: PlannedCommit): Option[PlannedCommit] = {
    val waitMs = spark.conf.getOption("spark.graft.rebaseWaitMs")
      .map(_.toLong).getOrElse(10000L)
    val deadline = System.currentTimeMillis() + waitMs
    while (true) {
      lastCommit(spark, dir) match {
        case Some(h) if h.version >= pc.newV =>
          // the claim holder (and possibly more) committed: my merge
          // stays valid iff no landed commit moved a bucket I touched
          // (or changed the modulus my rows are hashed by, or evolved
          // the partition spec my rows are routed by)
          if (numBuckets(spark, dir, h.version) != pc.nb) return None
          if (partitionSpecGens(spark, dir) != pc.specGens) return None
          val mh = manifest(spark, dir, h.version)
          val changed = (mh.keySet ++ pc.prevManifest.keySet)
            .filter(b => mh.get(b) != pc.prevManifest.get(b))
          if ((changed & pc.touched).nonEmpty) return None
          rebaseCount.incrementAndGet()
          return Some(pc.copy(
            newV = h.version + 1,
            prevManifest = mh,
            prevVersion = Some(h.version)))
        case _ =>
          // claim held but not yet (or never) committed — wait for the
          // marker within the window, then give up to the retry path
          if (System.currentTimeMillis() > deadline) return None
          Thread.sleep(50L)
      }
    }
    None
  }

  /** Everything [[publish]] needs for one planned merge commit —
    * computed by [[planUpsert]], so a single-table upsert and a
    * multi-table transaction ([[commitTransaction]]) share one merge
    * path and differ only in how the result becomes visible.
    */
  private final case class PlannedCommit(
      spark: SparkSession,
      nb: Int,
      prevManifest: Map[Int, Long],
      touched: Set[Int],
      rows: Option[DataFrame],
      newV: Long,
      prevVersion: Option[Long],
      // the partition-spec generations this plan ROUTED by — publish
      // re-validates them inside the claim window, so a commit racing
      // an evolvePartitionSpec can never land rows under a layout the
      // spec file no longer describes
      specGens: Seq[SpecGen] = Seq.empty)

  /** The head a commit is planned against, after the checks every
    * planned commit makes before data moves ([[planHead]]). Its
    * methods give a caller the table's bucket layout at that head.
    */
  private[graft] final case class CommitHead(
      spark: SparkSession,
      dir: String,
      key: String,
      last: Option[Commit],
      newV: Long,
      gens: Seq[SpecGen],
      prevManifest: Map[Int, Long],
      nb: Int) {

    /** A row's bucket under the current layout, from its key columns. */
    lazy val bucketOf: Column = tableBucketExprGens(spark, dir, gens, key, nb)

    /** Every bucket a write of `keys` (rows carrying the key columns)
      * rewrites, given the current-layout buckets `hashed` they hash
      * into. PARTITION-SPEC EVOLUTION, lazy migration on touch: a key
      * may still live in a RETIRED generation's bucket — include every
      * retired-generation bucket the keys hash into (and that still
      * holds data). The rewrite recomputes __b from row VALUES under
      * the current layout, so the whole old bucket migrates
      * (bucket-granular copy-on-write) and its entry drops; the
      * current-generation buckets its rows land in are included too,
      * so their existing content survives the rewrite.
      */
    def touched(keys: DataFrame, hashed: Set[Int]): Set[Int] = {
      if (gens.size <= 1 || hashed.isEmpty) return hashed
      val hk = hashKeyOf(spark, dir, key)
      val oldGen = keys
        .select(explode(array(
          gens.init.map(g => genBucketExpr(g, hk)): _*)).as("__b"))
        .distinct()
        .collect()
        .map(_.getInt(0))
        .toSet
        .intersect(prevManifest.keySet)
      if (oldGen.isEmpty) return hashed
      // one column-pruned pass over the migrating buckets: where do
      // their rows land under the current layout?
      val migratedOut = stored(oldGen).toSeq.flatMap(
        _.select(bucketOf.as("__b")).distinct().collect().map(_.getInt(0)))
      hashed ++ oldGen ++ migratedOut
    }

    /** The stored rows of `buckets` at this head, tombstones included,
      * resolved through its schema's column mapping (files written
      * before a RENAME still carry the old physical name). None when
      * none of them holds data.
      */
    def stored(buckets: Set[Int]): Option[DataFrame] = {
      val paths = buckets.toSeq.sorted
        .flatMap(b => prevManifest.get(b).map(v => dataPath(spark, dir, b, v)))
      if (paths.isEmpty) None
      else Some(currentViewAt(spark, dir, last.get.version,
        bucketRead(spark, dir, last.get.version, paths)))
    }

    /** The union schema recorded at this head (None on a legacy or
      * unborn table).
      */
    def schema: Option[StructType] =
      last.flatMap(c => manifestSchema(spark, dir, c.version))

    private[MergeSink] def plan(
        touched: Set[Int], rows: Option[DataFrame]): PlannedCommit =
      PlannedCommit(spark, nb, prevManifest, touched, rows, newV,
        last.map(_.version), specGens = gens)
  }

  /** The checks every planned commit makes before data moves: the
    * (runId, epoch) replay check (None: already committed, even if
    * fenced since), `admit` (the caller's own validation), the writer
    * fence and the epoch-regression check; then the head's bucket
    * layout.
    */
  private def planHead(
      spark: SparkSession,
      dir: String,
      key: String,
      epochId: Long,
      runId: String,
      reRegister: Boolean)(admit: => Unit): Option[CommitHead] = {
    val all = commits(spark, dir)
    if (all.exists(c => c.runId == runId && c.epoch == epochId))
      return None // idempotent replay of a committed batch (even if fenced since)
    admit
    ensureWriter(spark, dir, runId, reRegister)
    val last = all.lastOption
    last.foreach { c =>
      // Same incarnation, older epoch, no marker for it: Spark replays
      // only the LAST batch, so this cannot be a legitimate replay.
      // Failing beats silently dropping data in an exactly-once sink.
      if (c.runId == runId && epochId <= c.epoch)
        throw new IllegalStateException(
          s"epoch regression in run $runId: batch epoch $epochId <= " +
            s"committed epoch ${c.epoch} with no matching commit marker")
    }
    val newV = last.map(_.version + 1).getOrElse(0L)
    // ONE read of the spec generations serves routing, the cross-gen
    // probe, and publish's spec fence — they must be the same snapshot
    val gens = partitionSpecGens(spark, dir)
    val spec = gens.lastOption.map(_.spec)
    val prevManifest =
      last.map(c => manifest(spark, dir, c.version)).getOrElse(Map.empty[Int, Long])
    val nb = last.map { c =>
      gens.lastOption match {
        // nothing written under a freshly evolved generation yet: the
        // DECLARED modulus governs (the previous B header is the
        // retiring generation's — also heals an evolve whose pin
        // commit crashed after the spec-file write)
        case Some(g) if g.offset > 0 &&
            !prevManifest.keySet.exists(_ >= g.offset) => g.spec.nb
        case _ => numBuckets(spark, dir, c.version)
      }
    }.getOrElse(spec.map(_.nb).getOrElse(DefaultBuckets))

    val kcols = keyCols(key)
    spec.foreach(ps => require(kcols.contains(ps.column),
      s"partitioned table: transform column '${ps.column}' must be one " +
        s"of the merge key columns (${kcols.mkString(",")}) — a key's " +
        "bucket must be stable across upserts"))
    // the DDL path validates this at CREATE; a direct-API caller who
    // laid down _bucket_by by hand gets the same check at the first
    // write — a non-key hash column would move an updated key to a
    // different bucket and leave its old version live in the previous
    // one (silent duplicate keys on read)
    bucketBy(spark, dir).foreach(_.foreach(c =>
      require(kcols.contains(c),
        s"bucket_by column '$c' must be one of the merge key columns " +
          s"(${kcols.mkString(",")}) — a key's bucket must be stable " +
          "across upserts")))
    Some(CommitHead(spark, dir, key, last, newV, gens, prevManifest, nb))
  }

  private def planUpsert(
      batch: DataFrame,
      dir: String,
      key: String,
      seq: String,
      epochId: Long,
      runId: String,
      reRegister: Boolean): Option[PlannedCommit] = {
    val h = planHead(batch.sparkSession, dir, key, epochId, runId, reRegister)(
      enforceConstraints(batch, dir) // before anything stages
    ).getOrElse(return None)
    val kcols = keyCols(key)
    kcols.foreach(k => require(batch.columns.contains(k),
      s"merge batch lacks key column '$k' (${batch.columns.mkString(",")})"))
    val cols = batch.columns.filter(_ != "__b")
    val batchC = batch.select(cols.map(col).toIndexedSeq: _*)
    // Which buckets does this batch touch? (≤ nb values — metadata, not data)
    val touched = h.touched(batchC, batchC
      .select(h.bucketOf.as("__b"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSet)

    val merged =
      if (touched.isEmpty) None // empty batch: commit a no-data-change version
      else {
        // The tombstone column may exist on either side only (a CDC
        // batch onto a pre-CDC table, or a pure-upsert batch onto a CDC
        // table): absent means "not deleted" on both. Any OTHER column
        // one side lacks (schema evolution landing in an occupied
        // bucket) reads as NULL on that side — the same semantics the
        // mergeSchema reader gives the stored history.
        def withDeleted(df: DataFrame): DataFrame =
          if (df.columns.contains(DeletedCol)) df
          else df.withColumn(DeletedCol, lit(false))
        val base = h.stored(touched) match {
          case None => batchC
          case Some(stored) =>
            if (stored.columns.contains(DeletedCol) ||
              cols.contains(DeletedCol))
              withDeleted(stored)
                .unionByName(withDeleted(batchC), allowMissingColumns = true)
            else stored.unionByName(batchC, allowMissingColumns = true)
        }
        // ONE shuffle does both jobs: partition by bucket up front, then
        // aggregate on (__b, key) — the bucket is a function of the key,
        // so the groups are unchanged, and HashPartitioning(__b)
        // satisfies the aggregate's clustered distribution (no second
        // exchange). The output stays bucket-partitioned, which is
        // exactly what publish's one-file-per-bucket write needs; the
        // former shape (key-shuffled agg + repartition(__b) in publish)
        // paid the merge row volume through the shuffle twice.
        val withB = base.withColumn("__b", h.bucketOf)
        val rest = withB.columns.filter(c => !kcols.contains(c) && c != "__b")
        Some(
          withB
            .repartition(col("__b"))
            .groupBy((col("__b") +: kcols.map(col)).toIndexedSeq: _*)
            .agg(max_by(
              struct(rest.map(col).toIndexedSeq: _*), col(seq)).as("st"))
            .select((col("__b") +: kcols.map(col)) ++
              rest.map(c => col(s"st.$c").as(c)): _*))
      }
    Some(h.plan(touched, merged))
  }

  /** ONE-PASS BUCKET REWRITE: the commit path of a caller that computes
    * the whole new content of the buckets it touches itself (a
    * materialized view folding its delta into the stored aggregates).
    * It makes [[upsertBatch]]'s checks ([[planHead]]) and publishes
    * through the same spec fence and [[rebased]] loop, but skips the
    * merge: `rewrite` gets the head and returns its result, the buckets
    * it rewrites and their rows — each carrying `__b` and
    * hash-partitioned by it, like [[expireTombstones]]' rows (None
    * commits a version that changes no data). Returns None when this
    * (runId, epoch) has already committed.
    */
  private[graft] def rewriteBuckets[T](
      spark: SparkSession,
      dir: String,
      key: String,
      epochId: Long,
      runId: String,
      note: Option[String])(
      rewrite: CommitHead => (T, Set[Int], Option[DataFrame])): Option[T] =
    planHead(spark, dir, key, epochId, runId, reRegister = false)(()).map { h =>
      val (out, touched, rows) = rewrite(h)
      rows.foreach(enforceConstraints(_, dir))
      publishPlanned(dir, runId, epochId, note, h.plan(touched, rows))
      out
    }

  /** One participant of a multi-table transaction: a merge-upsert
    * batch destined for `dir` under that table's (key, seq) contract.
    */
  final case class TxnWrite(
      dir: String, key: String, seq: String, batch: DataFrame)

  /** CROSS-TABLE ATOMIC TRANSACTION — the storage dual of the
    * reference's `dosync` over MULTIPLE refs
    * (/root/reference/src/opusdb/examples/bank.clj:10-18: one
    * transaction debits one account ref and credits another; readers
    * never observe the debit without the credit; an exception rolls
    * both back — stm_test.clj:48-60). Two-phase:
    *
    *  1. STAGE: each table's merge runs exactly like [[upsertBatch]]
    *     (claim the next version, write bucket data, manifest) but
    *     publishes a PENDING marker naming a shared transaction file
    *     instead of a commit marker. Pending versions are invisible:
    *     [[commits]] trusts a pending iff its txn file exists.
    *  2. COMMIT POINT: one atomic exclusive create of
    *     `txnDir/txn_<runId>`. The instant it exists, EVERY
    *     participant's staged version is committed — readers of each
    *     table resolve it with no further coordination. A crash
    *     before this point leaves nothing visible anywhere; after it,
    *     everything, everywhere.
    *
    * Promotion then folds each pending into an ordinary commit marker
    * (idempotent; [[vacuum]] completes it after a crash) and the txn
    * file is removed once no pending references it. Any failure
    * before the commit point rolls every staged participant back
    * ([[abortPending]]) — EXCEPT a fatal error (a real crash kills
    * cleanup too), which the invisible-until-txn-file rule already
    * covers. A lost version-claim race on any table aborts the whole
    * transaction with the retryable [[ConcurrentCommitException]];
    * [[withCommitRetry]] re-runs it against the new heads.
    *
    * At 100 TB the commit point stays O(1) — one file create —
    * regardless of how much data the participants staged; the txn
    * file read that pending resolution costs is paid only while a
    * transaction is in flight or unpromoted (steady-state tables have
    * no pending markers, so the read path is unchanged).
    *
    * Returns (dir -> minted version) per participant. `hook` is a
    * test seam (called at "staged:<dir>", "precommit", "committed",
    * "promoted:<dir>") — StateSpec kills the writer there to prove
    * all-or-nothing visibility.
    */
  def commitTransaction(
      spark: SparkSession,
      txnDir: String,
      writes: Seq[TxnWrite],
      runId: String = s"txn-${java.util.UUID.randomUUID().toString.take(8)}",
      epochId: Long = 0L,
      hook: String => Unit = _ => ()): Seq[(String, Long)] = {
    require(writes.nonEmpty, "commitTransaction: no writes")
    require(writes.map(_.dir).distinct.size == writes.size,
      "commitTransaction: one write per table " +
        s"(${writes.map(_.dir).mkString(", ")})")
    val (tfs, tp) = fsOf(spark, txnDir)
    tfs.mkdirs(tp)
    // epoch-qualified: a STREAMING incarnation commits one transaction
    // per micro-batch under its stable runId — replay idempotence is
    // per (runId, epoch), exactly the single-table sink's contract
    val txnFile = new Path(tp, s"txn_${runId}_e$epochId")
    if (tfs.exists(txnFile)) {
      // this transaction already passed its commit point (a crashed
      // attempt being re-run): complete the promotions and return
      val in = tfs.open(txnFile)
      val parts =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).map { l =>
            val Array(d, v) = l.split("\t"); d -> v.toLong
          }.toList
        finally in.close()
      parts.foreach { case (d, v) =>
        promotePending(spark, d, v, runId, epochId)
      }
      tfs.delete(txnFile, false)
      return parts
    }
    val staged = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    try {
      writes.foreach { w =>
        planUpsert(
          w.batch, w.dir, w.key, w.seq, epochId, runId,
          reRegister = true) match {
          case Some(pc) =>
            publish(
              pc.spark, w.dir, pc.nb, pc.prevManifest, pc.touched, pc.rows,
              pc.newV, runId, epochId, prevVersion = pc.prevVersion,
              pendingTxnFile = Some(txnFile.toString))
            staged += w.dir -> pc.newV
          case None => () // this (runId, epoch) already committed this table
        }
        hook(s"staged:${w.dir}")
      }
      hook("precommit")
      if (staged.isEmpty) return Seq.empty // full replay: nothing to commit
      // ---- THE COMMIT POINT ----
      val out = tfs.create(txnFile, false)
      try out.write(staged.map { case (d, v) => s"$d\t$v" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      hook("committed")
      staged.foreach { case (d, v) =>
        promotePending(spark, d, v, runId, epochId)
        hook(s"promoted:$d")
      }
      tfs.delete(txnFile, false)
      staged.toSeq
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the commit point was NOT reached (an exception past it is a
        // promotion failure, which vacuum completes — promotion never
        // throws retryably); roll every staged participant back
        if (!tfs.exists(txnFile))
          staged.foreach { case (d, v) =>
            abortPending(spark, d, v, runId, epochId)
          }
        throw e
    }
  }

  /** EXACTLY-ONCE STREAMING SINK INTO MULTIPLE TABLES: every
    * micro-batch commits one [[commitTransaction]] over all `targets`
    * — each target derives its own rows from the batch via `prepare`
    * — so downstream readers observe every micro-batch's effects in
    * ALL tables or in none, at every point in time. Restart safety is
    * the single-table sink's contract lifted to the transaction: the
    * stable streaming query id + epoch make a replayed batch
    * idempotent per table, a batch that crashed before its commit
    * point re-stages cleanly (same runId re-takes its own claims),
    * and one that crashed after it completes promotion on replay.
    * The bank-ledger shape (bank.clj:10-18) as a streaming pipeline:
    * debits and credits land atomically, forever, per micro-batch.
    */
  final case class TxnTarget(
      dir: String,
      key: String,
      seq: String,
      prepare: DataFrame => DataFrame = identity)

  def txnSink(
      df: DataFrame,
      txnDir: String,
      targets: Seq[TxnTarget],
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[
    org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val runId = Option(
          batch.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId"))
          .getOrElse(
            java.util.UUID
              .nameUUIDFromBytes(checkpoint.getBytes("UTF-8"))
              .toString)
        withCommitRetry() {
          commitTransaction(
            batch.sparkSession, txnDir,
            targets.map(t => TxnWrite(t.dir, t.key, t.seq, t.prepare(batch))),
            runId = runId, epochId = epochId)
        }
        ()
      }

  /** MULTI-TABLE WRITE-AUDIT-PUBLISH: [[commitTransaction]] with the
    * commit point deliberately withheld. Every participant stages
    * pending on the shared wap transaction file; none is visible
    * anywhere until [[publishTransaction]] creates it — ONE atomic
    * create then makes every table's version visible at the same
    * instant (audit each table's staged state with [[wapAudit]]
    * first). [[abortTransaction]] rolls every participant back.
    * The same claim-lease caveat as [[wapStage]] applies per table.
    * Returns (dir -> staged version).
    */
  def stageTransaction(
      spark: SparkSession,
      txnDir: String,
      writes: Seq[TxnWrite],
      wapId: String): Seq[(String, Long)] = {
    require(WapIdRe.pattern.matcher(wapId).matches(),
      s"stageTransaction: bad wap id '$wapId' (letters/digits/.- only)")
    require(writes.nonEmpty, "stageTransaction: no writes")
    require(writes.map(_.dir).distinct.size == writes.size,
      "stageTransaction: one write per table")
    val (tfs, tp) = fsOf(spark, txnDir)
    tfs.mkdirs(tp)
    val txnFile = new Path(tp, s"txn_wap-${wapId}_e0")
    require(!tfs.exists(txnFile),
      s"stageTransaction: wap id '$wapId' already published on $txnDir")
    val runId = s"wap-$wapId"
    val staged = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    try {
      writes.foreach { w =>
        planUpsert(w.batch, w.dir, w.key, w.seq, 0L, runId,
          reRegister = true) match {
          case Some(pc) =>
            publish(
              pc.spark, w.dir, pc.nb, pc.prevManifest, pc.touched, pc.rows,
              pc.newV, runId, 0L, prevVersion = pc.prevVersion,
              pendingTxnFile = Some(txnFile.toString))
            staged += w.dir -> pc.newV
          case None => // already committed under this wapId (replay)
            commits(spark, w.dir).find(_.runId == runId)
              .foreach(c => staged += w.dir -> c.version)
        }
      }
      staged.toSeq
    } catch {
      case scala.util.control.NonFatal(e) =>
        staged.foreach { case (d, v) => abortPending(spark, d, v, runId, 0L) }
        throw e
    }
  }

  /** The atomic commit point of a [[stageTransaction]]: create the
    * shared wap transaction file, then promote every participant.
    * Returns (dir -> published version).
    */
  def publishTransaction(
      spark: SparkSession,
      txnDir: String,
      dirs: Seq[String],
      wapId: String): Seq[(String, Long)] = {
    val (tfs, tp) = fsOf(spark, txnDir)
    val txnFile = new Path(tp, s"txn_wap-${wapId}_e0")
    val runId = s"wap-$wapId"
    val parts = dirs.map { d =>
      val (fs, p) = fsOf(spark, d)
      // pendings record the SHARED txn file; resolve by writer identity
      val staged = fs.listStatus(p).iterator.map(_.getPath.getName)
        .collectFirst {
          case PendingRe(pv, pr, pe) if pr == runId =>
            (pv.toLong, pr, pe.toLong, true)
        }
        .orElse(commits(spark, d).find(_.runId == runId)
          .map(c => (c.version, runId, c.epoch, false))) // replay: promoted
        .getOrElse(throw new IllegalArgumentException(
          s"publishTransaction: no staged participant for '$wapId' on $d"))
      (d, staged)
    }
    // EVERY pending participant must still be promotable — a staged
    // transaction that outlived its claim lease may have been overtaken
    // on one table by a concurrent writer minting that version; creating
    // the txn file then would validate the stale pending and leave two
    // conflicting markers for the same version. Same check as
    // [[wapPublish]], run per participant BEFORE the commit point.
    parts.foreach { case (d, (v, r, _, pending)) =>
      if (pending) {
        val (fs, p) = fsOf(spark, d)
        if (!stageIntact(fs, p, v, r))
          throw new ConcurrentCommitException(
            s"publishTransaction: participant $d (v$v) of '$wapId' " +
              "outlived its claim lease and was overtaken — " +
              "abortTransaction the leftovers and re-stage against " +
              "the new heads")
      }
    }
    tfs.create(txnFile, false).close() // ---- THE COMMIT POINT ----
    parts.foreach { case (d, (v, r, e, pending)) =>
      if (pending) promotePending(spark, d, v, r, e)
    }
    tfs.delete(txnFile, false)
    parts.map { case (d, (v, _, _, _)) => d -> v }
  }

  /** Roll a staged (unpublished) transaction back on every table. */
  def abortTransaction(
      spark: SparkSession,
      txnDir: String,
      dirs: Seq[String],
      wapId: String): Unit = {
    val (tfs, tp) = fsOf(spark, txnDir)
    require(!tfs.exists(new Path(tp, s"txn_wap-${wapId}_e0")),
      s"abortTransaction: '$wapId' already passed its commit point")
    val runId = s"wap-$wapId"
    dirs.foreach { d =>
      val (fs, p) = fsOf(spark, d)
      fs.listStatus(p).iterator.map(_.getPath.getName).foreach {
        case PendingRe(pv, pr, pe) if pr == runId =>
          val v = pv.toLong
          val cs = commits(spark, d)
          if (!cs.exists(_.version == v))
            abortPending(spark, d, v, pr, pe.toLong)
          else {
            // OVERTAKEN participant (lease expired, another writer
            // minted this version): its manifest and bucket data now
            // belong to that writer — remove only our pending marker
            // and bucket dirs no retained manifest references (the
            // wapAbort rule; blind abortPending would delete the
            // winner's committed v)
            fs.delete(new Path(p, s"_pending_v${v}_r${pr}_e$pe"), false)
            val live: Set[(Int, Long)] = cs.map(_.version).toSet
              .flatMap((cv: Long) => manifest(spark, d, cv).toSeq)
            val dataRoot = new Path(p, "data")
            if (fs.exists(dataRoot))
              fs.listStatus(dataRoot).foreach { b =>
                val bid = b.getPath.getName.stripPrefix("b").toInt
                val vd = new Path(b.getPath, s"v$v")
                if (fs.exists(vd) && !live.contains((bid, v)))
                  fs.delete(vd, true)
              }
          }
        case _ => ()
      }
    }
  }

  // ------------------------------------------------------------------
  // WRITE-AUDIT-PUBLISH: stage a commit invisibly, inspect it, then
  // make it visible with one atomic file create — the Iceberg WAP
  // pattern expressed through the SAME pending-marker machinery the
  // cross-table transaction uses (a WAP stage is a one-participant
  // transaction whose commit point is deliberately withheld).
  // ------------------------------------------------------------------

  private def wapPath(p: Path, wapId: String): Path =
    new Path(new Path(p, "_wap"), wapId)

  // no underscore: wap ids ride marker filenames, where `_` separates
  // the version/runId/epoch fields
  private val WapIdRe = "[A-Za-z0-9][A-Za-z0-9.-]*".r

  /** Resolve the staged (version, runId, epoch) of `wapId`: the
    * pending marker whose recorded txn file is this wap's.
    */
  private def wapPending(
      spark: SparkSession,
      fs: FileSystem,
      p: Path,
      wapId: String): Option[(Long, String, Long)] = {
    val wf = wapPath(p, wapId).toString
    fs.listStatus(p).iterator.map(_.getPath.getName).collectFirst {
      case n @ PendingRe(v, r, e)
          if { // first line of the pending names its txn file
            val in = fs.open(new Path(p, n))
            val recorded =
              try scala.io.Source.fromInputStream(in, "UTF-8")
                .getLines().nextOption().map(_.trim).getOrElse("")
              finally in.close()
            recorded == wf
          } => (v.toLong, r, e.toLong)
    }
  }

  /** STAGE a merge batch under `wapId` without making it visible:
    * the full upsert runs (claim, bucket data, manifest) but the
    * marker stays PENDING on a wap file that does not exist yet —
    * readers resolve the head as if nothing happened. Returns the
    * staged (future) version. The stage RESERVES the table's next
    * version: concurrent writers see [[ConcurrentCommitException]]
    * until [[wapPublish]]/[[wapAbort]] releases it, and — like any
    * in-flight claim — the reservation is leased: past the claim TTL
    * (15 min default) a stale stage can be stolen or vacuum-rolled-
    * back, so audit windows longer than the lease must raise
    * `spark.graft.commitClaimTtlMs`. Re-staging an already-PUBLISHED
    * wapId is an idempotent no-op (the (runId, epoch) contract).
    */
  def wapStage(
      batch: DataFrame,
      dir: String,
      key: String,
      seq: String,
      wapId: String): Long = {
    require(WapIdRe.pattern.matcher(wapId).matches(),
      s"wapStage: bad wap id '$wapId' (letters/digits/.- only)")
    val spark = batch.sparkSession
    val (fs, p) = fsOf(spark, dir)
    val runId = s"wap-$wapId"
    require(wapPending(spark, fs, p, wapId).isEmpty,
      s"wapStage: wap id '$wapId' is already staged on $dir " +
        "(audit it, then wapPublish or wapAbort)")
    planUpsert(batch, dir, key, seq, epochId = 0L, runId, reRegister = true)
      match {
      case None => // this wapId already ran its full stage+publish
        commits(spark, dir).find(_.runId == runId).map(_.version).getOrElse(
          throw new IllegalStateException(
            s"wapStage: committed marker for $runId vanished"))
      case Some(pc) =>
        publish(
          pc.spark, dir, pc.nb, pc.prevManifest, pc.touched, pc.rows,
          pc.newV, runId, 0L, prevVersion = pc.prevVersion,
          pendingTxnFile = Some(wapPath(p, wapId).toString))
        pc.newV
    }
  }

  /** AUDIT a staged wap: the table AS IF the stage were published
    * (its manifest carries the head's untouched buckets, so this is
    * the complete future state, not just the staged rows). Quality
    * gates run here — on real committed bytes — before anything is
    * visible. None if `wapId` has no stage on this table.
    */
  def wapAudit(
      spark: SparkSession,
      dir: String,
      wapId: String): Option[DataFrame] = {
    val (fs, p) = fsOf(spark, dir)
    wapPending(spark, fs, p, wapId)
      .orElse { // a stageTransaction participant (shared txn file):
        // resolve by the wap writer identity instead
        fs.listStatus(p).iterator.map(_.getPath.getName).collectFirst {
          case PendingRe(v, r, e) if r == s"wap-$wapId" =>
            (v.toLong, r, e.toLong)
        }
      }
      .flatMap { case (v, _, _) => readVersion(spark, dir, v) }
  }

  /** PUBLISH a staged wap: one atomic create of the wap file is the
    * commit point (the instant it exists, [[commits]] trusts the
    * pending — exactly the transaction-file rule), then the pending
    * promotes to an ordinary marker. Fails loudly if the stage's
    * claim was stolen (audit outlived the lease and another writer
    * minted the version): nothing half-published, re-stage against
    * the new head. Returns the published version.
    */
  /** Is a staged (pending) commit still PROMOTABLE? True iff version
    * `v`'s claim is still held by `runId` and no other writer has
    * minted a marker for `v`. False means the stage outlived its claim
    * lease and was overtaken — promoting it would mint a second,
    * conflicting marker for the same version (corrupted history).
    * Every deferred commit point ([[wapPublish]],
    * [[publishTransaction]]) must check this before going visible.
    */
  private def stageIntact(
      fs: FileSystem, p: Path, v: Long, runId: String): Boolean = {
    val claim = new Path(p, s"_claim_v$v")
    val ours = fs.exists(claim) && {
      val in = fs.open(claim)
      val rec = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().nextOption().map(_.trim).getOrElse("")
      finally in.close()
      rec == runId
    }
    val overtaken = fs.listStatus(p).iterator.map(_.getPath.getName)
      .exists { n => MarkerRe.findFirstMatchIn(n)
        .exists(m => m.group(1).toLong == v && !n.contains(s"_r${runId}_")) }
    ours && !overtaken
  }

  def wapPublish(spark: SparkSession, dir: String, wapId: String): Long = {
    val (fs, p) = fsOf(spark, dir)
    val (v, runId, epoch) = wapPending(spark, fs, p, wapId).getOrElse(
      throw new IllegalArgumentException(
        s"wapPublish: no staged wap '$wapId' on $dir"))
    // the claim must still be OURS and the version unminted — a stale
    // stage whose lease expired may have been overtaken
    if (!stageIntact(fs, p, v, runId))
      throw new ConcurrentCommitException(
        s"wapPublish: stage '$wapId' (v$v) outlived its claim lease and " +
          s"was overtaken on $dir — wapAbort the leftovers and re-stage " +
          "against the new head")
    val wf = wapPath(p, wapId)
    fs.mkdirs(wf.getParent)
    fs.create(wf, false).close() // ---- THE COMMIT POINT ----
    promotePending(spark, dir, v, runId, epoch)
    fs.delete(wf, false)
    v
  }

  /** ABORT a staged wap: staged data, manifest, pending marker and
    * claim all go — the table is byte-identical to before the stage.
    * If the stage was OVERTAKEN (its lease expired and another writer
    * minted the version), the version's manifest and committed bucket
    * data now belong to that writer — only the stage's own leftovers
    * (pending marker + bucket dirs no retained manifest references)
    * are removed.
    */
  def wapAbort(spark: SparkSession, dir: String, wapId: String): Unit = {
    val (fs, p) = fsOf(spark, dir)
    wapPending(spark, fs, p, wapId).foreach { case (v, runId, epoch) =>
      val cs = commits(spark, dir)
      if (!cs.exists(_.version == v)) abortPending(spark, dir, v, runId, epoch)
      else {
        fs.delete(new Path(p, s"_pending_v${v}_r${runId}_e$epoch"), false)
        val live: Set[(Int, Long)] = cs.map(_.version).toSet
          .flatMap((cv: Long) => manifest(spark, dir, cv).toSeq)
        val dataRoot = new Path(p, "data")
        if (fs.exists(dataRoot))
          fs.listStatus(dataRoot).foreach { b =>
            val bid = b.getPath.getName.stripPrefix("b").toInt
            val vd = new Path(b.getPath, s"v$v")
            if (fs.exists(vd) && !live.contains((bid, v)))
              fs.delete(vd, true)
          }
      }
    }
    fs.delete(wapPath(p, wapId), false)
  }

  // ------------------------------------------------------------------
  // NAMED REFS (TAGS): a human name pinned to a retained version —
  // `VERSION AS OF 'name'` resolves through it (the Iceberg tag
  // shape). A tag does NOT extend retention; reading a tag whose
  // version was GC'd fails with the usual retention message.
  // ------------------------------------------------------------------

  private def refsDir(p: Path): Path = new Path(p, "_refs")

  /** Pin `name` to `version` (must be committed and retained). Tag
    * names must not look like version numbers. Fails if the tag
    * exists — tags are immutable; [[dropTag]] first to re-point.
    */
  def createTag(
      spark: SparkSession, dir: String, name: String, version: Long): Unit = {
    require(WapIdRe.pattern.matcher(name).matches() &&
      !name.forall(_.isDigit),
      s"createTag: bad tag name '$name' (letters/digits/.-, not all digits)")
    require(commits(spark, dir).exists(_.version == version),
      s"createTag: version $version is not a committed, retained " +
        s"version of $dir")
    val (fs, p) = fsOf(spark, dir)
    fs.mkdirs(refsDir(p))
    val f = new Path(refsDir(p), name)
    if (fs.exists(f))
      throw new IllegalArgumentException(
        s"createTag: tag '$name' already exists on $dir (dropTag first)")
    val out = fs.create(f, false)
    try out.write(s"$version\n".getBytes("UTF-8")) finally out.close()
  }

  def dropTag(spark: SparkSession, dir: String, name: String): Boolean = {
    val (fs, p) = fsOf(spark, dir)
    fs.delete(new Path(refsDir(p), name), false)
  }

  /** All tags: name -> version. */
  def tags(spark: SparkSession, dir: String): Map[String, Long] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(refsDir(p))) Map.empty
    else
      fs.listStatus(refsDir(p)).iterator.map { st =>
        val in = fs.open(st.getPath)
        val v = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().next().trim.toLong
        finally in.close()
        st.getPath.getName -> v
      }.toMap
  }

  def tagVersion(
      spark: SparkSession, dir: String, name: String): Option[Long] =
    tags(spark, dir).get(name)

  /** OVERWRITE commit (`INSERT OVERWRITE` / truncate-and-load): the
    * batch becomes the ENTIRE table state at the new version — every
    * previous bucket is dropped from the manifest (their files stay
    * readable for the normal one-version retention window, so time
    * travel to the pre-overwrite snapshot still answers), and the
    * batch's rows land latest-wins-deduped by key under the SAME
    * bucket modulus (an overwrite is a data replacement, not a layout
    * change — [[compact]] owns rebucketing). An EMPTY batch is a pure
    * TRUNCATE: a committed version with no data. Same idempotence,
    * fencing, and two-phase (data -> manifest -> marker) contract as
    * [[upsertBatch]].
    */
  def overwriteBatch(
      batch: DataFrame,
      dir: String,
      key: String,
      seq: String,
      epochId: Long,
      runId: String = "batch",
      keepSchema: Boolean = true,
      reRegister: Boolean = false,
      note: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val all = commits(spark, dir)
    if (all.exists(c => c.runId == runId && c.epoch == epochId))
      return // idempotent replay
    enforceConstraints(batch, dir) // before anything stages
    ensureWriter(spark, dir, runId, reRegister)
    val last = all.lastOption
    last.foreach { c =>
      if (c.runId == runId && epochId <= c.epoch)
        throw new IllegalStateException(
          s"epoch regression in run $runId: batch epoch $epochId <= " +
            s"committed epoch ${c.epoch} with no matching commit marker")
    }
    val newV = last.map(_.version + 1).getOrElse(0L)
    // one read serves routing and publish's spec fence
    val specGens = partitionSpecGens(spark, dir)
    val spec = specGens.lastOption.map(_.spec)
    val nb = last.map { c =>
      specGens.lastOption match {
        // same freshly-evolved-generation rule as planUpsert
        case Some(g) if g.offset > 0 &&
            !manifest(spark, dir, c.version).keySet.exists(_ >= g.offset) =>
          g.spec.nb
        case _ => numBuckets(spark, dir, c.version)
      }
    }.getOrElse(spec.map(_.nb).getOrElse(DefaultBuckets))
    val kcols = keyCols(key)
    kcols.foreach(k => require(batch.columns.contains(k),
      s"overwrite batch lacks key column '$k' (${batch.columns.mkString(",")})"))
    spec.foreach(ps => require(kcols.contains(ps.column),
      s"partitioned table: transform column '${ps.column}' must be one " +
        s"of the merge key columns (${kcols.mkString(",")})"))
    // same stability rule as planUpsert: a non-key hash column would
    // split one key across buckets on later upserts
    bucketBy(spark, dir).foreach(_.foreach(c =>
      require(kcols.contains(c),
        s"bucket_by column '$c' must be one of the merge key columns " +
          s"(${kcols.mkString(",")}) — a key's bucket must be stable " +
          "across upserts")))
    val bucketOf = tableBucketExprGens(spark, dir, specGens, key, nb)
    val cols = batch.columns.filter(_ != "__b")
    val batchC = batch.select(cols.map(col).toIndexedSeq: _*)
    val touched = batchC
      .select(bucketOf.as("__b"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSet
    val merged =
      if (touched.isEmpty) None // TRUNCATE: a version with no data
      else {
        val withB = batchC.withColumn("__b", bucketOf)
        val rest = withB.columns.filter(c => !kcols.contains(c) && c != "__b")
        Some(
          withB
            .repartition(col("__b"))
            .groupBy((col("__b") +: kcols.map(col)).toIndexedSeq: _*)
            .agg(max_by(
              struct(rest.map(col).toIndexedSeq: _*), col(seq)).as("st"))
            .select((col("__b") +: kcols.map(col)) ++
              rest.map(c => col(s"st.$c").as(c)): _*))
      }
    // prevManifest EMPTY: no bucket carries — the new manifest lists
    // only what this batch wrote (or nothing, for a truncate). The
    // PREVIOUS version still feeds the recorded union schema (schema is
    // monotone across commits; a truncated table must not forget its
    // shape), which publish resolves via prevVersion — EXCEPT under
    // `keepSchema = false` (REPLACE TABLE AS SELECT): a replace
    // REDEFINES the table, so the new manifest records only the new
    // shape; older versions keep their own recorded schema for time
    // travel.
    publish(
      spark, dir, nb, Map.empty, touched, merged, newV, runId, epochId,
      prevVersion = if (keepSchema) last.map(_.version) else None,
      note = note, specGens = Some(specGens))
  }

  /** Durably publish version `newV`: write `rows` (bucketed by their
    * "__b" column) for the `touched` buckets, then the manifest, then
    * the O(1) visibility marker — strictly in that order (the
    * WAL-before-data dual; see the object doc) — then GC versions that
    * fell out of the retention window. A touched bucket that ends up
    * EMPTY (every row removed, e.g. by tombstone retirement) is dropped
    * from the manifest rather than published as a fileless directory.
    */
  /** Thrown when another writer holds the claim on the version this
    * publish attempt would mint. RETRYABLE by design: re-read the head
    * (the winner's commit is or will be visible) and re-run the
    * operation against it — upsert/DML semantics are defined against
    * the latest state, so the retry recomputes, never replays.
    */
  final class ConcurrentCommitException(msg: String)
      extends RuntimeException(msg)

  /** Atomically claim `newV` (see the call site in [[publish]]). The
    * claim file RECORDS the claimant's runId: the same writer retrying
    * after its own mid-publish failure re-takes its claim immediately
    * (a transient job failure must not cost the TTL), while a foreign
    * claim stays exclusive until committed or torn-and-expired.
    */
  private def claimVersion(
      spark: SparkSession,
      fs: FileSystem,
      p: Path,
      newV: Long,
      dir: String,
      runId: String): Unit = {
    val claim = new Path(p, s"_claim_v$newV")
    fs.mkdirs(p)
    // Exclusive create must be ATOMIC. HDFS's create(overwrite=false)
    // is; Hadoop's LocalFileSystem is check-then-create (two same-box
    // writers — e.g. two SQL sessions on one driver — could BOTH win
    // and double-mint a version), so the file scheme goes through
    // O_CREAT|O_EXCL via NIO, which the OS serializes.
    def tryCreate(): Boolean =
      if (fs.getUri.getScheme == "file")
        try {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(claim.toUri.getPath),
            runId.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      else
        try {
          val out = fs.create(claim, false)
          try out.write(runId.getBytes("UTF-8"))
          finally out.close()
          true
        } catch { case _: java.io.IOException if fs.exists(claim) => false }
    def fail(reason: String): Nothing =
      throw new ConcurrentCommitException(
        s"graft-merge: version $newV of $dir is claimed by another " +
          s"writer ($reason); retry the operation against the new head " +
          "(MergeSink.withCommitRetry wraps exactly this loop; SQL " +
          "INSERT/DML retry automatically)")
    // already-marked means the race is fully lost, not merely pending
    def committed: Boolean = commits(spark, dir).exists(_.version == newV)
    // Winning the create is not enough: publish and promotePending
    // write version N's marker BEFORE they release its claim, so a
    // writer that planned against N-1 can take a claim the winner
    // already dropped. A marker seen while holding the claim means N is
    // minted — release the claim and lose the race loudly.
    def holdUnlessCommitted(): Unit =
      if (committed) {
        fs.delete(claim, false)
        fail("it is already committed")
      }
    if (tryCreate()) return holdUnlessCommitted()
    if (committed) fail("its commit marker exists")
    val owner =
      try {
        val in = fs.open(claim)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      } catch { case _: java.io.IOException => "" }
    val ttl = spark.conf.getOption("spark.graft.commitClaimTtlMs")
      .map(_.toLong).getOrElse(15L * 60L * 1000L)
    val age =
      try System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime
      catch { case _: java.io.FileNotFoundException => Long.MaxValue }
    if (owner != runId && age <= ttl)
      fail(s"claim by '$owner' is ${age / 1000L}s old, within the " +
        s"${ttl / 1000L}s TTL")
    // own retry after a mid-publish failure, or a torn attempt past TTL
    fs.delete(claim, false)
    if (!tryCreate()) fail("claim re-taken during steal")
    holdUnlessCommitted()
  }

  private def publish(
      spark: SparkSession,
      dir: String,
      nb: Int,
      prevManifest: Map[Int, Long],
      touched: Set[Int],
      rows: Option[DataFrame],
      newV: Long,
      runId: String,
      epochId: Long,
      prevVersion: Option[Long] = None,
      sortedBy: Option[Seq[String]] = None,
      schemaOverride: Option[StructType] = None,
      pendingTxnFile: Option[String] = None,
      note: Option[String] = None,
      specGens: Option[Seq[SpecGen]] = None): Unit = {
    val (fs, p) = fsOf(spark, dir)
    // ---- same-JVM same-writer exclusion (BEFORE the claim) ----
    // The claim's same-owner steal exists for CRASH RESUMPTION (a
    // retry of a writer whose previous attempt died re-takes its own
    // claim without waiting out the TTL). Two LIVE publishes under one
    // runId in one JVM — e.g. two threads racing the same view refresh
    // — would steal each other's claim mid-publish and overwrite each
    // other's staging; the in-flight registry turns the second into
    // the retryable ConcurrentCommitException it semantically is.
    // (Two live drivers sharing a runId remain outside the writer-id
    // contract, as ever.)
    val inFlightKey = s"$dir#v$newV"
    if (!MergeSink.inFlightPublishes.add(inFlightKey))
      throw new ConcurrentCommitException(
        s"graft-merge: version $newV of $dir is being published by " +
          "another thread of this process — retry against the new head")
    try {
    // ---- concurrent-commit claim (BEFORE any data movement) ----
    // Exactly one publish attempt may own version `newV`: an atomic
    // exclusive create of `_claim_v<N>`. A loser discovers the claim
    // and throws ConcurrentCommitException having touched NOTHING —
    // two racing writers can no longer both rename into data/b*/vN and
    // corrupt each other. A claim whose attempt died mid-publish (no
    // marker) is stealable after a TTL (default 15 min,
    // spark.graft.commitClaimTtlMs) — the standard lease compromise; a
    // writer legitimately slower than the TTL must be fenced first
    // (ensureWriter), which streaming incarnations already are.
    claimVersion(spark, fs, p, newV, dir, runId)
    // spec-generation fence, INSIDE the claim window: a plan routed
    // under generations the spec file no longer records must not land
    // (evolvePartitionSpec rewrites the file before pinning its
    // commit; the claim serializes us against that pin, so this
    // compare-after-claim is race-free)
    specGens.foreach { planned =>
      if (partitionSpecGens(spark, dir) != planned) {
        fs.delete(new Path(p, s"_claim_v$newV"), false)
        throw new ConcurrentCommitException(
          s"graft-merge: the partition spec of $dir evolved since this " +
            "batch was planned — replan against the new layout " +
            "(withCommitRetry wraps exactly this loop)")
      }
    }
    var written = Set.empty[Int]
    // bucket -> (data bytes, row count) for the new manifest: rewritten
    // buckets are measured once right after their rename (one listing +
    // footer read per touched bucket at WRITE time), carried buckets
    // reuse the previous manifest's figures. This is what lets a
    // READER's statistics be O(1) metadata instead of O(files) RPCs.
    val prevBytes = prevVersion
      .map(v => manifestBytes(spark, dir, v)).getOrElse(Map.empty[Int, Long])
    val prevRows = prevVersion
      .map(v => manifestRows(spark, dir, v)).getOrElse(Map.empty[Int, Long])
    val prevDel = prevVersion
      .map(v => manifestDeletedFlags(spark, dir, v))
      .getOrElse(Map.empty[Int, Long])
    val prevFiles = prevVersion
      .map(v => manifestFiles(spark, dir, v))
      .getOrElse(Map.empty[Int, Seq[String]])
    // every bucket written this commit shares the merged frame's schema
    val writesDeleted =
      if (rows.exists(_.columns.contains(DeletedCol))) 1L else 0L
    var newBytes = Map.empty[Int, Long]
    var newRows = Map.empty[Int, Long]
    var newFiles = Map.empty[Int, Seq[String]]
    rows.foreach { m =>
      // data first: one partitioned write of the touched buckets. The
      // caller guarantees `m` is hash-partitioned by "__b" (upsertBatch
      // fuses it into the merge aggregate, a rewriteBuckets caller into
      // its own; expireTombstones repartitions explicitly): a touched
      // bucket is ONE task writing ONE file —
      // the CoW contract of a bucket as a unit of O(100 MB-1 GB) at
      // production scale. Without that layout every upstream task would
      // write its own shard of every bucket (tasks × buckets files).
      // per-attempt staging (vacuum's TmpRe tolerates the suffix): a
      // rival claimant — cross-process, where the in-flight registry
      // cannot see it — must never overwrite this attempt's staging
      val tmp = new Path(p,
        s"_tmp_v${newV}a${MergeSink.tmpNonce.incrementAndGet()}")
      // Bloom-indexed columns ride parquet's own bloom-filter support:
      // writer options pass through newHadoopConfWithOptions into the
      // parquet job conf, so every bucket file written by this commit
      // carries the filters and the reader's FilterPredicate prunes row
      // groups through them (see [[setBloomIndex]]).
      val w0 = m.write.mode("overwrite").partitionBy("__b")
      val w = bloomIndexCols(spark, dir)
        .filter { case (c, _) => m.columns.contains(c) }
        .foldLeft(w0) { case (acc, (c, ndv)) =>
          val on = acc.option(s"parquet.bloom.filter.enabled#$c", "true")
          ndv.fold(on)(n =>
            on.option(s"parquet.bloom.filter.expected.ndv#$c", n.toString))
        }
      w.parquet(tmp.toString)
      // finalize the touched buckets CONCURRENTLY: each is an
      // independent rename + listing + footer record-count — pure
      // filesystem metadata, 10s of ms apiece, and a partitioned
      // commit touches day×bucket of them (a 30-day load at nb=4 is
      // 120). Sequential, that loop dominated partitioned-table write
      // latency; a bounded pool turns it into one metadata round.
      // Hadoop FileSystem instances are thread-safe by contract.
      val finalized =
        new java.util.concurrent.ConcurrentHashMap[Int,
          (Seq[String], Long, Long)]()
      val tb = touched.toSeq.sorted
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(16, tb.size)))
      try {
        val hconf = spark.sparkContext.hadoopConfiguration
        val futs = tb.map { b =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              val src = new Path(tmp, s"__b=$b")
              if (fs.exists(src)) {
                val dst = new Path(p, s"data/b$b/v$newV")
                fs.mkdirs(dst.getParent)
                // torn unpublished attempt
                if (fs.exists(dst)) fs.delete(dst, true)
                if (!fs.rename(src, dst))
                  throw new IllegalStateException(
                    s"rename failed for bucket $b -> $dst")
                val parts = fs.listStatus(dst).iterator
                  .filter(_.getPath.getName.endsWith(".parquet")).toSeq
                val rc = parts
                  .map(st => graft.ParquetFooters.rowCount(st.getPath, hconf))
                  .sum
                finalized.put(b,
                  (parts.map(_.getPath.getName).sorted,
                    parts.map(_.getLen).sum, rc))
              } // else: the bucket lost all its rows — drop its entry
            }
          })
        }
        try futs.foreach(f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          })
        catch {
          case t: Throwable =>
            // no ZOMBIE renames may land after the failure propagates
            // (the abort path cleans data/b*/vN; a late rename would
            // re-create an orphan dir a rival claimant could race) —
            // cancel what hasn't run and WAIT for in-flight tasks
            futs.foreach(_.cancel(true))
            pool.shutdownNow()
            pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
            throw t
        }
      } finally pool.shutdown()
      tb.foreach { b =>
        val v = finalized.get(b)
        if (v != null) {
          written += b
          newFiles += b -> v._1
          newBytes += b -> v._2
          newRows += b -> v._3
        }
      }
      fs.delete(tmp, true)
    }
    // ... then the manifest ...
    val newManifest =
      (prevManifest -- touched) ++ written.toSeq.sorted.map(_ -> newV)
    val bytesOf: Int => Option[Long] =
      b => newBytes.get(b).orElse(prevBytes.get(b))
    val rowsOf: Int => Option[Long] =
      b => newRows.get(b).orElse(prevRows.get(b))
    val delOf: Int => Option[Long] =
      b => if (written.contains(b)) Some(writesDeleted) else prevDel.get(b)
    val filesOf: Int => Option[Seq[String]] =
      b => newFiles.get(b).orElse(prevFiles.get(b)).filter(_.nonEmpty)
    // committed union schema (minus the routing column), recorded so
    // readers resolve schema from the manifest instead of O(files)
    // footer reads. Carried-forward buckets keep contributing through
    // the PREVIOUS version's recorded schema; a legacy table whose
    // previous manifest lacks one stays footer-resolved until a full
    // rewrite (compaction) re-bases it. The union is monotone by name
    // (this table's operations never drop a column), same-name type
    // conflicts fail exactly like the footer path.
    val rowsSchema: Option[StructType] = rows.map(m =>
      StructType(m.schema.fields.filter(_.name != "__b")
        .map(f => StructField(f.name, f.dataType))))
    val carried = (prevManifest -- touched).nonEmpty
    val prevSchema: Option[StructType] =
      prevVersion.flatMap(v => manifestSchema(spark, dir, v))
    // same type modulo NULLABILITY, widened to nullable: parquet
    // round-trips (and unionByName) flip containsNull/nullable flags,
    // and nullable is the safe superset — only a genuine type change
    // (different class or element type) conflicts
    def unify(x: org.apache.spark.sql.types.DataType,
        y: org.apache.spark.sql.types.DataType)
        : Option[org.apache.spark.sql.types.DataType] = (x, y) match {
      case (a, b) if a == b => Some(a)
      // SAFE WIDENING across generations ([[widenColumn]]): files
      // written before the widening keep the narrow physical type;
      // the union schema records the wide one (readers up-cast)
      case (a, b) if widensTo(a, b) => Some(b)
      case (a, b) if widensTo(b, a) => Some(a)
      case (org.apache.spark.sql.types.ArrayType(ae, an),
            org.apache.spark.sql.types.ArrayType(be, bn)) =>
        unify(ae, be).map(
          org.apache.spark.sql.types.ArrayType(_, an || bn))
      case (org.apache.spark.sql.types.MapType(ak, av, an),
            org.apache.spark.sql.types.MapType(bk, bv, bn)) =>
        for (k <- unify(ak, bk); v <- unify(av, bv))
          yield org.apache.spark.sql.types.MapType(k, v, an || bn)
      case (a: StructType, b: StructType)
          if a.fieldNames.sameElements(b.fieldNames) =>
        val fs = a.fields.zip(b.fields).map { case (af, bf) =>
          unify(af.dataType, bf.dataType)
            .map(t => af.copy(dataType = t,
              nullable = af.nullable || bf.nullable))
        }
        if (fs.forall(_.isDefined)) Some(StructType(fs.map(_.get).toSeq))
        else None
      case _ => None
    }
    def mergeByName(a: StructType, b: StructType): StructType = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
      (a.fields ++ b.fields).foreach { f =>
        out.get(f.name) match {
          case Some(prev) =>
            val t = unify(prev.dataType, f.dataType).getOrElse(
              throw new IllegalArgumentException(
                s"merge table: column ${f.name} has conflicting types " +
                  s"${prev.dataType} vs ${f.dataType} across commits"))
            out += f.name -> prev.copy(dataType = t)
          case None => out += f.name -> f
        }
      }
      StructType(out.values.toSeq)
    }
    // schemaOverride: a SCHEMA-ONLY commit ([[addColumns]]) or a
    // schema-redefining replace supplies the recorded schema verbatim
    val unionSchema: Option[StructType] = schemaOverride.orElse(
      (prevSchema, rowsSchema) match {
        case (Some(a), Some(b)) => Some(mergeByName(a, b))
        case (None, Some(b)) if !carried => Some(b)
        case (Some(a), None) => Some(a)
        case _ => None
      })
    val mfOut = fs.create(new Path(p, s"_manifest_v$newV"), true)
    try {
      val body = ((s"B $nb" +:
        (unionSchema.map(s => s"S ${s.json}").toSeq ++
          sortedBy.map(ks => s"O ${ks.mkString(",")}").toSeq ++
          note.map(n => s"W $n").toSeq)) ++
        newManifest.toSeq.sorted.map { case (b, v) =>
        (bytesOf(b), rowsOf(b), delOf(b), filesOf(b)) match {
          case (Some(sz), Some(rc), Some(dl), Some(fns)) =>
            s"$b $v $sz $rc $dl ${fns.mkString(",")}"
          case (Some(sz), Some(rc), Some(dl), None) => s"$b $v $sz $rc $dl"
          case (Some(sz), Some(rc), _, _) => s"$b $v $sz $rc"
          case (Some(sz), _, _, _) => s"$b $v $sz"
          case _ => s"$b $v" // pre-round-11 bucket with unknown size
        }
      }).mkString("", "\n", "\n")
      mfOut.write(body.getBytes("UTF-8"))
    } finally mfOut.close()
    pendingTxnFile match {
      case None =>
        // ... then the O(1) marker that makes it all visible
        fs.create(
          new Path(p, s"_commit_v${newV}_r${runId}_e$epochId"), true).close()
        // the version is committed: release its claim
        fs.delete(new Path(p, s"_claim_v$newV"), false)
        // GC: keep the most recent `historyKeep` versions readable
        // (default current + previous). Live data = bucket dirs
        // referenced by any retained manifest.
        gc(spark, fs, p, dir, newV)
        // AUTO-ANALYZE (opt-in): a table whose operator keeps
        // statistics (a partials sidecar exists) refreshes them as
        // part of the commit — incremental, so the added cost is the
        // just-written buckets the commit already has hot, and the
        // optimizer never sees a stale-then-empty gap between commit
        // and the next maintenance cycle. Off by default: streaming
        // sinks with strict latency budgets should schedule ANALYZE
        // themselves.
        if (spark.conf.getOption("spark.graft.autoAnalyze")
            .exists(_.toBoolean) &&
          latestPartials(spark, dir).nonEmpty)
          analyze(spark, dir)
        // AUTO-REFRESH DEPENDENT VIEWS (opt-in, the autoAnalyze dual):
        // every materialized view registered over this table advances
        // inside the commit — O(changed groups) of exactly the buckets
        // this commit touched, and each refresh is independently
        // exactly-once. A scheduler-owned `CALL refresh_dependents`
        // stops being a correctness requirement.
        if (spark.conf.getOption("spark.graft.autoRefreshMv")
            .exists(_.toBoolean))
          graft.sources.MaterializedViews.autoRefresh(spark, dir)
        // AUTO-REFRESH ANN INDEXES (opt-in, same hook): every
        // maintained ANN index registered over this table advances
        // inside the commit — O(changed keys × centroids) of the
        // commit's own delta
        if (spark.conf.getOption("spark.graft.autoRefreshAnn")
            .exists(_.toBoolean))
          graft.sources.AnnCatalog.autoRefresh(spark, dir)
      case Some(txn) =>
        // MULTI-TABLE participant: a PENDING marker naming the txn
        // file. Invisible until that file exists (the shared commit
        // point); the claim stays held and GC waits — both release at
        // promotion ([[promotePending]]).
        val out =
          fs.create(new Path(p, s"_pending_v${newV}_r${runId}_e$epochId"), true)
        try out.write((txn + "\n").getBytes("UTF-8"))
        finally out.close()
    }
    } finally MergeSink.inFlightPublishes.remove(inFlightKey)
  }

  /** LIVE publishes of this JVM, keyed `dir#v<version>` — see the
    * exclusion note at the top of [[publish]].
    */
  private val inFlightPublishes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val tmpNonce = new java.util.concurrent.atomic.AtomicLong()

  /** Complete a committed transaction participant: the pending marker
    * becomes a direct `_commit_` marker, the claim releases, retention
    * GC runs. The marker's mtime is SET TO THE TXN FILE'S — the shared
    * commit instant — so the table's commit clock (TIMESTAMP AS OF,
    * `versionAt`, `.history`) keeps agreeing across every participant
    * after the pendings are gone: `AS OF '<t>'` at one instant is a
    * transaction-consistent cut of ALL the tables one transaction
    * wrote. Idempotent — [[vacuum]] re-runs it for participants whose
    * transaction crashed after its commit point.
    */
  private def promotePending(
      spark: SparkSession,
      dir: String,
      newV: Long,
      runId: String,
      epochId: Long): Unit = {
    val (fs, p) = fsOf(spark, dir)
    val pending = new Path(p, s"_pending_v${newV}_r${runId}_e$epochId")
    val txnInstant =
      if (fs.exists(pending)) pendingCommitted(spark, fs, pending) else None
    val marker = new Path(p, s"_commit_v${newV}_r${runId}_e$epochId")
    fs.create(marker, true).close()
    txnInstant.foreach(t => fs.setTimes(marker, t, -1L))
    fs.delete(pending, false)
    fs.delete(new Path(p, s"_claim_v$newV"), false)
    gc(spark, fs, p, dir, newV)
  }

  /** A TRANSACTION-CONSISTENT version cut across several tables: each
    * table resolved AS OF the same wall instant (`versionAt`). Because
    * a multi-table transaction's participants all carry the TXN FILE's
    * mtime as their commit time (pending resolution while staged,
    * [[promotePending]] afterwards), no instant can ever split one
    * transaction — the cut either includes every participant's version
    * or none. The read-side completion of [[commitTransaction]]: load
    * each table `VERSION AS OF` its entry and join freely. None for a
    * table with no commit that old.
    */
  def consistentSnapshot(
      spark: SparkSession,
      dirs: Seq[String],
      tsMillis: Long): Map[String, Option[Long]] =
    dirs.map(d => d -> versionAt(spark, d, tsMillis)).toMap

  /** Roll back an UNCOMMITTED transaction participant (no txn file):
    * staged data, manifest, pending marker, and claim all go — the
    * table is byte-identical to before the attempt.
    */
  private def abortPending(
      spark: SparkSession,
      dir: String,
      newV: Long,
      runId: String,
      epochId: Long): Unit = {
    val (fs, p) = fsOf(spark, dir)
    fs.delete(new Path(p, s"_pending_v${newV}_r${runId}_e$epochId"), false)
    fs.delete(new Path(p, s"_manifest_v$newV"), false)
    invalidateManifestCache(dir)
    val dataRoot = new Path(p, "data")
    if (fs.exists(dataRoot))
      fs.listStatus(dataRoot).foreach { b =>
        val vd = new Path(b.getPath, s"v$newV")
        if (fs.exists(vd)) fs.delete(vd, true)
      }
    fs.delete(new Path(p, s"_claim_v$newV"), false)
  }

  /** Retention GC, run by every commit and callable standalone as
    * VACUUM ([[vacuum]]): retention = UNION of the depth and time
    * windows — a version survives if it is among the last `keep` OR
    * its commit marker is younger than `history_keep_ms` (marker
    * mtime = the commit clock). Sweeps collected markers + manifests,
    * unreferenced bucket-version data dirs, and (vacuum only, via
    * [[vacuum]]) torn staging/claim leftovers.
    */
  private def gc(
      spark: SparkSession,
      fs: FileSystem,
      p: Path,
      dir: String,
      newV: Long): Unit = {
    val keep = historyKeep(spark, dir).toLong
    val earliestByTime: Long = historyKeepMs(spark, dir).map { ms =>
      val cutoff = System.currentTimeMillis() - ms
      commitTimes(spark, dir).collect { case (v, t) if t >= cutoff => v }
        .minOption.getOrElse(newV)
    }.getOrElse(Long.MaxValue)
    val earliestKept = math.min(newV - keep + 1, earliestByTime)
    // reference-sharing branch pins: a registered branch resolves its
    // base content INTO THIS TABLE'S data tree, so the base version's
    // marker + manifest (and every data dir that manifest names) must
    // survive retention until the branch unregisters
    val pins = branchRefBases(spark, dir)
    val keepVersions = (math.max(earliestKept, 0L) to newV).toSet ++ pins
    val live: Set[(Int, Long)] = keepVersions.flatMap(v =>
      manifest(spark, dir, v).toSeq.map { case (b, cv) => (b, cv) })
    def aged(v: Long): Boolean = v < earliestKept && !pins.contains(v)
    fs.listStatus(p)
      .iterator
      .map(_.getPath)
      .filter { q =>
        val n = q.getName
        (MarkerRe.findFirstMatchIn(n).exists(m => aged(m.group(1).toLong))) ||
        (ManifestRe.findFirstMatchIn(n).exists(m => aged(m.group(1).toLong))) ||
        (StatsRe.findFirstMatchIn(n).exists(_.group(1).toLong < earliestKept)) ||
        ("_statsparts_v(\\d+)".r.findFirstMatchIn(n)
          .exists(_.group(1).toLong < earliestKept))
      }
      .foreach(fs.delete(_, true))
    val dataRoot = new Path(p, "data")
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot).foreach { bStat =>
        val bName = bStat.getPath.getName // "b<k>"
        val b = bName.stripPrefix("b").toInt
        fs.listStatus(bStat.getPath).foreach { vStat =>
          val v = vStat.getPath.getName.stripPrefix("v").toLong
          if (!live.contains((b, v))) fs.delete(vStat.getPath, true)
        }
      }
    }
  }

  /** Standalone VACUUM: the same retention GC every commit runs, for
    * QUIESCED tables (a table nobody writes never sheds anything
    * otherwise — e.g. after tightening `history_keep` or setting a
    * time window), plus a sweep of stale leftovers no commit cleans.
    * Two leases, deliberately different:
    *
    *  - CLAIMS (`_claim_vN` with no marker) age out at the claim TTL
    *    (`spark.graft.commitClaimTtlMs`, default 15 min) — identical
    *    to the steal rule every writer already applies, so vacuum
    *    removes nothing a competing writer could still trust.
    *  - TMP/STAGING dirs (`_tmp_v*`, `_staging_*`) age out at the
    *    much larger `spark.graft.vacuumStagingTtlMs` (default 24 h):
    *    a long-running batch write at 100 TB scale is
    *    indistinguishable from a torn one by age alone, and deleting
    *    a LIVE writer's staging mid-flight fails its commit. The
    *    lease is a bound on how long a single write attempt may run,
    *    not proof of tornness — operators running writes longer than
    *    the staging TTL must raise it (or not run vacuum
    *    concurrently).
    *
    * Returns the number of paths deleted.
    */
  def vacuum(spark: SparkSession, dir: String): Int = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) return 0
    var removed = 0
    lastCommit(spark, dir).foreach { c =>
      val before = fs.listStatus(p).length
      gc(spark, fs, p, dir, c.version)
      removed += math.max(0, before - fs.listStatus(p).length)
    }
    val claimTtl = spark.conf.getOption("spark.graft.commitClaimTtlMs")
      .map(_.toLong).getOrElse(15L * 60L * 1000L)
    val stagingTtl = spark.conf.getOption("spark.graft.vacuumStagingTtlMs")
      .map(_.toLong).getOrElse(24L * 60L * 60L * 1000L)
    val now = System.currentTimeMillis()
    val marked = commits(spark, dir).map(_.version).toSet
    val ClaimRe = "_claim_v(\\d+)".r
    val TmpRe = "_tmp_v(\\d+).*".r
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      // (version under lease, applicable TTL) — claims at the steal
      // TTL, data staging at the long write-attempt lease (see doc)
      val leased = n match {
        case ClaimRe(v) => Some(v.toLong -> claimTtl)
        case TmpRe(v) => Some(v.toLong -> stagingTtl)
        case _ => None
      }
      leased.foreach { case (v, ttl) =>
        if (!marked.contains(v) && now - st.getModificationTime > ttl) {
          fs.delete(st.getPath, true)
          removed += 1
        }
      }
      // V2-write staging parents (`_staging_<queryId>`) are swept by
      // their own commit/abort; one orphaned by a killed driver ages
      // out here under the write-attempt lease
      if (n.startsWith("_staging_") &&
        now - st.getModificationTime > stagingTtl) {
        fs.delete(st.getPath, true)
        removed += 1
      }
      // transaction participants: a pending whose txn COMMITTED gets
      // its promotion completed (the coordinator crashed between the
      // commit point and promotion — the version was already visible
      // through the pending-resolution read rule, this just folds it
      // into a direct marker and releases the claim); a pending whose
      // txn never committed is torn once past the claim TTL and rolls
      // back completely
      n match {
        case PendingRe(v, r, e) =>
          if (pendingCommitted(spark, fs, st.getPath).isDefined) {
            promotePending(spark, dir, v.toLong, r, e.toLong)
            removed += 1
          } else if (now - st.getModificationTime > claimTtl) {
            abortPending(spark, dir, v.toLong, r, e.toLong)
            removed += 1
          }
        case _ => ()
      }
    }
    // WAP files no pending references: a publisher that crashed between
    // its commit point and promotion (the pending sweep above already
    // folded the commit in), or an abort that died mid-cleanup
    val wapRoot = new Path(p, "_wap")
    if (fs.exists(wapRoot)) {
      val referenced = fs.listStatus(p).iterator
        .map(_.getPath)
        .filter(q => PendingRe.pattern.matcher(q.getName).matches())
        .flatMap { q =>
          val in = fs.open(q)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().nextOption().map(_.trim)
          finally in.close()
        }.toSet
      fs.listStatus(wapRoot).foreach { st =>
        if (!referenced.contains(st.getPath.toString) &&
          now - st.getModificationTime > claimTtl) {
          fs.delete(st.getPath, false)
          removed += 1
        }
      }
    }
    removed
  }

  /** The generation decode table of a snapshot: retired generations'
    * moduli are frozen in their spec lines; the current generation's is
    * the snapshot's manifest header `headNb` (the rebucketing-compaction
    * authority). Empty = not a partitioned table.
    */
  private[graft] def decodeTable(gens: Seq[SpecGen], headNb: => Int): Seq[SpecGen] =
    if (gens.isEmpty) gens
    else gens.init :+ SpecGen(gens.last.spec.copy(nb = headNb), gens.last.offset)

  /** The global bucket ids key tuples can occupy, as a predicate over
    * ids: the one driver-side copy of the writer's layout rule
    * ([[genBucketExpr]] — `offset + partIdx * nb + hash` per generation,
    * the bare hash when unpartitioned), shared by [[lookupFilesTuples]]
    * and the `graft-merge` source's key pruning. `decode` is the
    * snapshot's [[decodeTable]] (empty = unpartitioned, modulus `nb`),
    * `hashOf(t, modulus)` the writer's `pmod(xxhash64(…), modulus)` of a
    * tuple's hashed columns, and `partPos` the partition column's
    * position in each tuple. On an evolved table a key may still live in
    * any retired generation (migration is lazy): each tuple yields one
    * candidate per generation, at that generation's granularity and
    * modulus. A tuple without the partition value (`partPos` None), or
    * with one whose type [[partIdxOf]] does not recognize, keeps every
    * bucket of the generation with its hash component — a superset,
    * never a miss. A negative index is no bucket: the writer refuses one.
    */
  private[graft] def keyBucketPred(
      decode: Seq[SpecGen],
      nb: => Int,
      tuples: Seq[Seq[Any]],
      partPos: Option[Int])(
      hashOf: (Seq[Any], Int) => Int): Int => Boolean =
    if (decode.isEmpty) tuples.map(hashOf(_, nb)).toSet
    else {
      val exact = Set.newBuilder[Int]
      val anyPart = Set.newBuilder[(Int, Int)] // (generation offset, hash)
      for (t <- tuples; g <- decode) {
        val h = hashOf(t, g.spec.nb)
        partPos.map(p => partIdxOf(g.spec, t(p))) match {
          case Some(Some(idx)) =>
            if (idx >= 0) exact += g.offset + idx * g.spec.nb + h
          case _ => anyPart += (g.offset -> h)
        }
      }
      val ids = exact.result()
      val hashes = anyPart.result()
      b => ids.contains(b) || hashes.nonEmpty && {
        val g = genOfBucket(decode, b)
        hashes.contains(g.offset -> Math.floorMod(b - g.offset, g.spec.nb))
      }
    }

  /** Data files a point lookup for `keys` must read — the bucket-pruned
    * slice of the current snapshot. Keys hash with the SAME expression
    * the writer bucketed by (`pmod(xxhash64(key), nb)`), so the lookup
    * resolves to ⌈distinct key buckets⌉ files out of the table's `nb`:
    * at 100 TB a single-key read touches one O(100 MB–1 GB) bucket, not
    * the table. Callers must pass values of the key column's exact type
    * (xxhash64 of an INT and of a BIGINT differ). The bucket ids are
    * computed on the driver ([[keyBucketPred]]) — metadata, no Spark job.
    */
  def lookupFiles(
      spark: SparkSession,
      dir: String,
      keys: Seq[Any]): Seq[String] =
    lookupFilesTuples(spark, dir, keys.map(Seq(_)))

  /** Composite-key variant of [[lookupFiles]]: each tuple's values are
    * the key columns IN DECLARED ORDER; the tuple hashes exactly as the
    * writer bucketed it (`xxhash64(k1, k2, …)`).
    */
  def lookupFilesTuples(
      spark: SparkSession,
      dir: String,
      tuples: Seq[Seq[Any]],
      key: String = ""): Seq[String] =
    lastCommit(spark, dir) match {
      case None => Seq.empty
      case Some(c) =>
        val m = manifest(spark, dir, c.version)
        val decode = decodeTable(partitionSpecGens(spark, dir),
          numBuckets(spark, dir, c.version))
        // bucket_by layout: the hash covers only the declared columns —
        // select their positions out of the full key tuple. Without a
        // key list, tuples whose arity EQUALS the bucket_by arity ARE
        // the hashed columns (the single-key lookupFiles fast path on a
        // bucket_by='the key' table); any other arity is ambiguous and
        // must name the key.
        val hashPos: Option[Seq[Int]] = bucketBy(spark, dir).flatMap { bc =>
          if (key.nonEmpty) {
            val kcols = keyCols(key)
            val pos = bc.map(kcols.indexOf)
            require(pos.forall(_ >= 0),
              s"lookupFilesTuples: bucket_by $bc not within key $kcols")
            // identity positions = the tuple IS the hashed column list
            if (pos == kcols.indices) None else Some(pos)
          } else {
            require(tuples.forall(_.size == bc.size),
              s"lookupFilesTuples: $dir declares bucket_by $bc — pass " +
                "the key column list so the hashed columns can be " +
                "located (or pass exactly the hashed columns' values)")
            None // tuples are already the hashed columns
          }
        }
        // partitioned layout: the global bucket id interleaves the
        // partition index above the hash, so the tuple must carry the
        // partition value
        val partPos: Option[Int] = decode.lastOption.map { g =>
          require(key.nonEmpty,
            s"lookupFilesTuples: $dir is partitioned — pass the key " +
              "column list so the partition value can be located")
          val kcols = keyCols(key)
          val pi = kcols.indexOf(g.spec.column)
          require(pi >= 0,
            s"lookupFilesTuples: partition column ${g.spec.column} not " +
              s"in key $kcols")
          pi
        }
        // each value hashes as the literal type `lit` infers — the
        // writer's `pmod(xxhash64(lit(v), …), nb)`
        val inLayout = keyBucketPred(decode, numBuckets(spark, dir, c.version),
          tuples, partPos) { (t, modulus) =>
          val hv = hashPos.map(_.map(t)).getOrElse(t)
          graft.sources.MergeTableUtil.bucketOfTuple(hv, hv.map(v =>
            org.apache.spark.sql.catalyst.expressions.Literal(v).dataType),
            modulus)
        }
        m.toSeq.sortBy(_._1).collect {
          case (b, v) if inLayout(b) => dataPath(spark, dir, b, v)
        }
    }

  /** Point lookup: the current visible rows for `keys`, reading ONLY the
    * buckets those keys hash into (see [[lookupFiles]]). None when the
    * table is empty or no key's bucket holds data. Tombstone rows are
    * hidden exactly as in [[currentState]].
    */
  def pointLookup(
      spark: SparkSession,
      dir: String,
      key: String,
      keys: Seq[Any]): Option[DataFrame] =
    pointLookupTuples(spark, dir, key, keys.map(Seq(_)))

  /** Composite-key point lookup: tuples are key values in the `key`
    * list's declared order; the match is the AND of the columns'
    * equalities, OR'd over the tuple set. The frame is a key-filtered
    * `graft-merge` read of the head version: the source prunes to the
    * tuples' buckets and hides tombstones, and a small lookup is
    * answered on the driver (see [[graft.plans.DriverReadStrategy]]).
    * A set over the source's tuple cap reads as a union of capped
    * chunks, each bucket-bounded. Its schema is [[currentState]]'s:
    * every column nullable.
    */
  def pointLookupTuples(
      spark: SparkSession,
      dir: String,
      key: String,
      tuples: Seq[Seq[Any]]): Option[DataFrame] = {
    val kcols = keyCols(key)
    require(tuples.forall(_.size == kcols.size),
      s"pointLookup: each tuple needs ${kcols.size} values for keys $kcols")
    lastCommit(spark, dir).filter(_ => tuples.nonEmpty).flatMap { head =>
      val read = spark.read.format("graft-merge")
        .option("path", dir).option("key", key)
        .option("versionAsOf", head.version.toString)
        .load()
      // the source takes an OR of per-tuple key equalities (an IN for a
      // single key) as its exact tuple set; a balanced OR tree keeps the
      // expression shallow for hundreds of tuples
      def anyOf(cs: Seq[Column]): Column =
        if (cs.size == 1) cs.head
        else cs.splitAt(cs.size / 2) match { case (l, r) => anyOf(l) || anyOf(r) }
      def matching(ts: Seq[Seq[Any]]): Column =
        if (kcols.size == 1) col(kcols.head).isin(ts.map(_.head): _*)
        else anyOf(ts.map(t => kcols.zip(t).map { case (c, v) =>
          col(c) === lit(v) }.reduce(_ && _)))
      val pinned = tuples.distinct
        .grouped(graft.sources.GraftMergeScan.KeyTupleCap)
        .map(ts => read.filter(matching(ts))).reduce(_ union _)
      // [[currentState]]'s schema: every column nullable (the source
      // declares identifier columns NOT NULL), and a column-mapped
      // table's fields without their mapping metadata ([[currentView]]
      // projects them afresh)
      val mapped = columnAliases(read.schema).nonEmpty
      val frame = pinned.select(read.schema.fields.toSeq.map { f =>
        val c =
          if (f.nullable) col(f.name)
          else org.apache.spark.sql.graft.Exprs.column(
            org.apache.spark.sql.catalyst.expressions.KnownNullable(
              org.apache.spark.sql.graft.Exprs.expression(col(f.name))))
        c.as(f.name,
          if (mapped) org.apache.spark.sql.types.Metadata.empty else f.metadata)
      }: _*)
      // None when no key's bucket holds data: every scan planned no file
      val planned = frame.queryExecution.optimizedPlan.collect {
        case org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation(_, s: graft.sources.GraftMergeScan, _, _, _) =>
          s.fileCounts._1
      }.sum
      if (planned == 0) None else Some(frame)
    }
  }

  /** Tombstone retention: retire tombstones whose seq is strictly below
    * `horizon`, rewriting ONLY the buckets that hold one (copy-on-write
    * discipline — untouched buckets carry forward). Returns the number
    * of buckets rewritten.
    *
    * The horizon is the table's out-of-order bound: once no in-flight
    * upsert can carry a seq below it, the tombstones below it have won
    * every race they will ever run and are pure storage. Retiring a
    * tombstone EARLIER than that re-opens the resurrection window the
    * tombstone existed to close (StateSpec pins exactly that hazard), so
    * the caller — not this method — owns choosing a safe horizon, e.g.
    * `watermark - slack` for a stream. Runs as its own single-writer
    * maintenance commit (runId "maintenance"), like Layout.compact for
    * plain tables.
    */
  def expireTombstones(
      spark: SparkSession,
      dir: String,
      key: String,
      seq: String,
      horizon: Long): Int =
    lastCommit(spark, dir) match {
      case None => 0
      case Some(c) =>
        val nb = numBuckets(spark, dir, c.version)
        val m = manifest(spark, dir, c.version)
        val allPaths =
          m.toSeq.sorted.map { case (b, v) => dataPath(spark, dir, b, v) }
        if (allPaths.isEmpty) return 0
        val raw = currentViewAt(spark, dir, c.version,
          bucketRead(spark, dir, c.version, allPaths))
        if (!raw.columns.contains(DeletedCol)) return 0
        val bucketOf = inPlaceBucketExpr(spark, dir, key, nb)
        // Which buckets hold an expired tombstone? Tombstones are a
        // bounded set (deleted keys inside the horizon), so this
        // distinct is metadata-scale.
        val touched = raw
          .filter(col(DeletedCol) && col(seq) < lit(horizon))
          .select(bucketOf.as("__b"))
          .distinct()
          .collect()
          .map(_.getInt(0))
          .toSet
        if (touched.isEmpty) return 0
        val touchedPaths = touched.toSeq.sorted
          .flatMap(b => m.get(b).map(v => dataPath(spark, dir, b, v)))
        val kept = currentViewAt(spark, dir, c.version,
          bucketRead(spark, dir, c.version, touchedPaths))
          .filter(!(coalesce(col(DeletedCol), lit(false)) && col(seq) < lit(horizon)))
          .withColumn("__b", bucketOf)
          .repartition(col("__b")) // publish expects bucket-partitioned rows
        val newV = c.version + 1
        publish(
          spark, dir, nb, m, touched, Some(kept), newV,
          runId = "maintenance", epochId = newV,
          prevVersion = Some(c.version))
        touched.size
    }

  /** COMPACTION (the OPTIMIZE maintenance commit): rewrite the table at
    * `targetBuckets` hash buckets — one file per new bucket — and flip
    * the manifest atomically. Returns the number of buckets written.
    *
    * Why rebucketing IS this table's compaction: publish writes exactly
    * one file per touched bucket, so files never accumulate WITHIN a
    * bucket — what accumulates under high-frequency small upserts is
    * `nb` tiny bucket files for a table whose volume deserves far fewer
    * (or, after growth, far more: a 100 TB table wants buckets of
    * O(100 MB–1 GB), and nb is fixed at first commit). Compacting
    * bin-packs the table to the right file count by re-hashing every
    * row with the new modulus.
    *
    * Invisible to readers, like every maintenance commit here: rows
    * (INCLUDING retained tombstones) carry over bit-identically; the
    * new manifest's `B nb` header re-points future pruning (readers
    * resolve the modulus per version they read, so time travel to a
    * pre-compaction version still prunes with the OLD count); the
    * previous version's files survive GC for one more commit, exactly
    * the normal retention window. Runs under the single-writer
    * "maintenance" discipline, same as [[expireTombstones]].
    */
  /** One analyzed column's figures (see [[analyze]]/[[statsFor]]);
    * min/max kept as doubles and re-typed by the serving scan.
    */
  final case class ColStats(
      ndv: Long,
      nulls: Long,
      min: Option[Double],
      max: Option[Double],
      avgLen: Option[Long],
      maxLen: Option[Long])

  /** Buckets the LAST [[analyze]] call actually re-profiled — a spec
    * observability seam (the exact-cost contract: steady-state
    * re-analysis reads only the buckets whose content changed).
    */
  val lastAnalyzeProfiled =
    new java.util.concurrent.atomic.AtomicReference[Set[Int]](Set.empty)

  /** One column's per-bucket statistics partial: everything needed to
    * MERGE bucket figures into table figures without re-reading the
    * bucket — a DataSketches HLL sketch for NDV (union-mergeable, the
    * property Spark's own approx_count_distinct result number lacks),
    * plus the trivially-mergeable non-null count, min/max, and string
    * length sum/max.
    */
  private final case class ColPartial(
      sketch: Option[Array[Byte]],
      nonNull: Long,
      min: Option[Double],
      max: Option[Double],
      lenSum: Option[Long],
      lenMax: Option[Long])

  private final case class BucketPartial(
      contentVersion: Long,
      rows: Long,
      cols: Map[String, ColPartial])

  /** The newest persisted per-bucket partials for `dir`, regardless of
    * the version they were computed at — validity is decided PER
    * BUCKET by comparing each partial's recorded content version with
    * the current manifest entry, so partials survive any number of
    * commits that left a bucket untouched.
    */
  private def latestPartials(
      spark: SparkSession, dir: String): Map[Int, BucketPartial] = {
    val PartsRe = "_statsparts_v(\\d+)".r
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) return Map.empty
    val newest = fs.listStatus(p).iterator.map(_.getPath.getName).collect {
      case PartsRe(v) => v.toLong
    }.maxOption.getOrElse(return Map.empty)
    val in = fs.open(new Path(p, s"_statsparts_v$newest"))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val buckets = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    val cols = scala.collection.mutable
      .Map.empty[Int, scala.collection.mutable.Map[String, ColPartial]]
    def opt(s: String): Option[String] = if (s == "-") None else Some(s)
    lines.foreach { l =>
      val f = l.split(" ", -1)
      f.headOption match {
        case Some("P") => buckets += f(1).toInt -> (f(2).toLong, f(3).toLong)
        case Some("C") =>
          cols.getOrElseUpdate(f(1).toInt, scala.collection.mutable.Map.empty)
            .+=(new String(
              java.util.Base64.getDecoder.decode(f(2)), "UTF-8") ->
              ColPartial(
                opt(f(8)).map(java.util.Base64.getDecoder.decode),
                f(3).toLong,
                opt(f(4)).map(_.toDouble), opt(f(5)).map(_.toDouble),
                opt(f(6)).map(_.toLong), opt(f(7)).map(_.toLong)))
        case _ => ()
      }
    }
    buckets.map { case (b, (cv, rows)) =>
      b -> BucketPartial(
        cv, rows, cols.getOrElse(b, scala.collection.mutable.Map.empty).toMap)
    }.toMap
  }

  /** ANALYZE TABLE — INCREMENTAL by construction: per-bucket statistics
    * partials (HLL sketch + mergeable aggregates per column; see
    * [[ColPartial]]) persist in a `_statsparts_v<head>` sidecar keyed
    * by each bucket's CONTENT VERSION, and a run re-profiles ONLY the
    * buckets whose content version moved since the last run — the
    * [[compactIncremental]] discipline applied to statistics. The
    * merged table-level figures land in the `_stats_v<head>` sidecar
    * the connector scan serves to the optimizer (ONLY while the head
    * is still the analyzed version: stale NDVs misestimate joins worse
    * than none; both sidecars GC with their version window). Steady
    * state at 100 TB: an upsert dirties a few buckets, re-analysis
    * costs those buckets' bytes plus an O(buckets) sketch union —
    * never the table — and the figures are IDENTICAL to a from-scratch
    * run, because every bucket's numbers came through the same
    * partials either way. Returns the number of columns analyzed;
    * [[lastAnalyzeProfiled]] records the re-profiled bucket set.
    */
  def analyze(spark: SparkSession, dir: String): Int = {
    import org.apache.spark.sql.types.{
      IntegerType, LongType, NumericType, StringType => SStr}
    val c = lastCommit(spark, dir).getOrElse(
      throw new IllegalStateException(s"analyze: $dir has no committed version"))
    val m = manifest(spark, dir, c.version)
    val (fs, p) = fsOf(spark, dir)
    val prev = latestPartials(spark, dir)
    val reuse = m.keySet.filter(b =>
      prev.get(b).exists(_.contentVersion == m(b)))
    val dirty = m.keySet -- reuse
    lastAnalyzeProfiled.set(dirty)
    val fresh: Map[Int, BucketPartial] =
      if (dirty.isEmpty) Map.empty
      else {
        // one job: union of the dirty buckets' scans, each tagged with
        // its literal bucket id, aggregated per bucket. Cost = dirty
        // bytes, not table bytes.
        val scans = dirty.toSeq.sorted.map { b =>
          // per-bucket column-mapping resolution: a bucket written
          // before a RENAME profiles under the CURRENT names
          currentViewAt(spark, dir, c.version,
            bucketRead(spark, dir, c.version, Seq(dataPath(spark, dir, b, m(b)))))
            .withColumn("__bkt", lit(b))
        }
        var df = scans.reduce(_.unionByName(_, allowMissingColumns = true))
        if (df.columns.contains(DeletedCol))
          df = df.filter(!coalesce(col(DeletedCol), lit(false)))
            .drop(DeletedCol)
        val fields = df.schema.fields.filter(_.name != "__bkt")
        val aggs =
          scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column](
            count(lit(1)).as("__rows"))
        fields.foreach { f =>
          // the HLL input must be a sketch-supported type; anything
          // else goes through an injective string cast (NDV-preserving)
          val hin = f.dataType match {
            case IntegerType | LongType | SStr => col(f.name)
            case _ => col(f.name).cast("string")
          }
          aggs += hll_sketch_agg(hin).as(s"__hll_${f.name}")
          aggs += count(col(f.name)).as(s"__nn_${f.name}")
          f.dataType match {
            case _: NumericType =>
              aggs += min(col(f.name)).cast("double").as(s"__min_${f.name}")
              aggs += max(col(f.name)).cast("double").as(s"__max_${f.name}")
            case SStr =>
              aggs += sum(length(col(f.name))).cast("long")
                .as(s"__lsum_${f.name}")
              aggs += max(length(col(f.name))).cast("long")
                .as(s"__lmax_${f.name}")
            case _ => ()
          }
        }
        val got = df.groupBy(col("__bkt"))
          .agg(aggs.head, aggs.tail.toSeq: _*).collect()
        val byBucket = got.map { r =>
          def opt[T](name: String, get: Int => T): Option[T] = {
            val i = r.schema.fieldNames.indexOf(name)
            if (i < 0 || r.isNullAt(i)) None else Some(get(i))
          }
          val b = r.getInt(r.schema.fieldNames.indexOf("__bkt"))
          val rows = r.getLong(r.schema.fieldNames.indexOf("__rows"))
          b -> BucketPartial(m(b), rows, fields.map { f =>
            f.name -> ColPartial(
              opt(s"__hll_${f.name}",
                i => r.get(i).asInstanceOf[Array[Byte]]),
              opt(s"__nn_${f.name}", r.getLong).getOrElse(0L),
              opt(s"__min_${f.name}", r.getDouble),
              opt(s"__max_${f.name}", r.getDouble),
              opt(s"__lsum_${f.name}", r.getLong),
              opt(s"__lmax_${f.name}", r.getLong))
          }.toMap)
        }.toMap
        // a dirty bucket whose visible rows are all tombstoned yields
        // no aggregate row: record it empty so the partial still reuses
        dirty.map(b => b -> byBucket.getOrElse(b,
          BucketPartial(m(b), 0L, Map.empty))).toMap
      }
    // Canonicalize partial column keys through the schema's column
    // mapping (a partial computed before a RENAME recorded the old
    // physical name) and drop partials of DROPPED columns — the
    // served figures always speak the CURRENT schema's names.
    val schemaOpt = manifestSchema(spark, dir, c.version)
    val renameTo: Map[String, String] = schemaOpt
      .map(_.fields.iterator
        .flatMap(f => aliasesOf(f).map(_ -> f.name)).toMap)
      .getOrElse(Map.empty)
    val liveNames: Option[Set[String]] = schemaOpt.map(_.fieldNames.toSet)
    def canon(bp: BucketPartial): BucketPartial =
      if (renameTo.isEmpty && liveNames.isEmpty) bp
      else bp.copy(cols = bp.cols.toSeq
        .map { case (n, cp) => renameTo.getOrElse(n, n) -> cp }
        .filter { case (n, _) => liveNames.forall(_.contains(n)) }
        // two keys canonicalizing to one name (a pre-rename profile
        // that saw both generations): the data-bearing entry wins
        .groupMapReduce(_._1)(_._2)((a, b) =>
          if (a.nonNull >= b.nonNull) a else b))
    val parts: Map[Int, BucketPartial] =
      (reuse.map(b => b -> prev(b)).toMap ++ fresh)
        .map { case (b, bp) => b -> canon(bp) }
    // ---- persist the partials sidecar (at the analyzed head) ----
    val enc = java.util.Base64.getEncoder
    def j(o: Option[_]): String = o.map(_.toString).getOrElse("-")
    val partLines = parts.toSeq.sortBy(_._1).flatMap { case (b, bp) =>
      s"P $b ${bp.contentVersion} ${bp.rows}" +:
        bp.cols.toSeq.sortBy(_._1).map { case (name, cp) =>
          s"C $b ${enc.encodeToString(name.getBytes("UTF-8"))} " +
            s"${cp.nonNull} ${j(cp.min)} ${j(cp.max)} " +
            s"${j(cp.lenSum)} ${j(cp.lenMax)} " +
            cp.sketch.map(enc.encodeToString).getOrElse("-")
        }
    }
    val pout = fs.create(new Path(p, s"_statsparts_v${c.version}"), true)
    try pout.write(partLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally pout.close()
    // ---- merge partials into the served table-level sidecar ----
    val totalRows = parts.valuesIterator.map(_.rows).sum
    val colNames = parts.valuesIterator
      .flatMap(_.cols.keysIterator).toSeq.distinct.sorted
    val body = colNames.map { name =>
      val cps = parts.valuesIterator.map(bp =>
        (bp.rows, bp.cols.get(name))).toSeq
      val union = new org.apache.datasketches.hll.Union(12)
      cps.foreach { case (_, cp) =>
        cp.flatMap(_.sketch).foreach(bytes =>
          union.update(org.apache.datasketches.hll.HllSketch.heapify(
            org.apache.datasketches.memory.Memory.wrap(bytes))))
      }
      val ndv = math.round(union.getEstimate)
      // a bucket without this column serves it as NULL (evolution):
      // its whole row count is nulls
      val nonNull = cps.map(_._2.map(_.nonNull).getOrElse(0L)).sum
      val nulls = totalRows - nonNull
      val mn = cps.flatMap(_._2.flatMap(_.min)).minOption
      val mx = cps.flatMap(_._2.flatMap(_.max)).maxOption
      val lsum = cps.flatMap(_._2.flatMap(_.lenSum))
      val al =
        if (lsum.isEmpty || nonNull == 0L) None else Some(lsum.sum / nonNull)
      val ml = cps.flatMap(_._2.flatMap(_.lenMax)).maxOption
      def jj(o: Option[_]): String = o.map(_.toString).getOrElse("null")
      s"""{"col":"$name","ndv":$ndv,"nulls":$nulls,""" +
        s""""min":${jj(mn)},"max":${jj(mx)},""" +
        s""""avgLen":${jj(al)},"maxLen":${jj(ml)}}"""
    }
    val out = fs.create(new Path(p, s"_stats_v${c.version}"), true)
    try out.write(
      (s"""{"rows":$totalRows,"version":${c.version}}""" +:
        body).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    colNames.size
  }

  /** The analyzed statistics for EXACTLY `version`, if present:
    * (snapshot row count, per-column figures). None after any newer
    * commit (the staleness rule) or when never analyzed.
    */
  def statsFor(
      spark: SparkSession,
      dir: String,
      version: Long): Option[(Long, Map[String, ColStats])] = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, s"_stats_v$version")
    if (!fs.exists(f)) return None
    val in = fs.open(f)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    def num(src: String, k: String): Option[Double] =
      s""""$k":(-?[0-9.eE+]+)""".r.findFirstMatchIn(src).map(_.group(1).toDouble)
    def str(src: String, k: String): Option[String] =
      s""""$k":"([^"]*)"""".r.findFirstMatchIn(src).map(_.group(1))
    val rows = lines.headOption.flatMap(num(_, "rows")).map(_.toLong)
    val cols = lines.drop(1).flatMap { l =>
      str(l, "col").map { name =>
        name -> ColStats(
          num(l, "ndv").map(_.toLong).getOrElse(0L),
          num(l, "nulls").map(_.toLong).getOrElse(0L),
          num(l, "min"),
          num(l, "max"),
          num(l, "avgLen").map(_.toLong),
          num(l, "maxLen").map(_.toLong))
      }
    }.toMap
    rows.map(_ -> cols)
  }

  /** RESTORE to a retained version — a PURE METADATA commit (the
    * Delta RESTORE shape): the new head's manifest re-references
    * `toVersion`'s bucket content verbatim, so zero data is copied or
    * rewritten and the restore is O(manifest) at any table size. The
    * rolled-back-over versions stay time-travelable for their normal
    * retention window (a restore is a COMMIT, not an erasure), and
    * the restored content stays live as long as any retained manifest
    * references it — the GC's reference rule, unchanged. CDC caveat
    * (same as Delta's): the restore commit writes no bucket files, so
    * the change feed emits NO events for it — downstream CDC readers
    * needing the rollback as a diff should compare snapshots
    * ([[stateAt]]) instead. Returns the minted version.
    */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = {
    val last = lastCommit(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"restore: $dir has no committed version"))
    require(toVersion != last.version,
      s"restore: $dir is already at version $toVersion")
    val m = manifest(spark, dir, toVersion)
    if (m.isEmpty && !commits(spark, dir).exists(_.version == toVersion))
      throw new IllegalStateException(
        s"restore: version $toVersion of $dir is not retained " +
          s"(earliest retained is ${commits(spark, dir).headOption
            .map(_.version).getOrElse(0L)}); widen history_keep " +
          "BEFORE you need rollback depth")
    val newV = last.version + 1
    publish(
      spark, dir,
      bucketCount(spark, dir, toVersion),
      m,
      touched = Set.empty,
      rows = None,
      newV,
      runId = "maintenance",
      epochId = newV,
      prevVersion = Some(toVersion),
      sortedBy = manifestSortedBy(spark, dir, toVersion),
      schemaOverride = manifestSchema(spark, dir, toVersion))
    newV
  }

  // ------------------------------------------------------------------
  // BRANCHES: zero-copy writable clones + fast-forward publish.
  //
  // A branch IS an ordinary merge table — its own directory, its own
  // marker/manifest chain, every existing operation (DML, procedures,
  // time travel, CDC, views) works on it unchanged. What makes it a
  // branch is how it starts and how it ends:
  //
  //  - [[branchTable]] roots the new directory at the source's head:
  //    the head manifest is copied VERBATIM and the base data is
  //    shared, not moved — HARD-LINKED on a same-file:// filesystem
  //    (fs-ref-counted inodes), REFERENCE-SHARED everywhere else (the
  //    `_data_base` redirect: the branch's manifest entries at-or-below
  //    the base resolve into the source's data tree, and a
  //    `_branch_refs` pin keeps the source's GC off the shared content
  //    until the branch drops). Zero data bytes through the engine on
  //    EVERY scheme. The branch's first version number IS the base
  //    version, so content versions minted by later branch commits
  //    (> base ≥ every referenced content version) can never collide
  //    with a shared directory. Data files are immutable after commit,
  //    so either side's retention GC deletes only its own references
  //    (fs ref-counts under links; the explicit pin under sharing).
  //  - [[fastForward]] publishes the branch's commits back onto the
  //    source IFF the source has not advanced past the branch point
  //    (the git fast-forward rule): it claims EVERY version to promote
  //    up front (all-or-nothing against rival writers), then per
  //    version links the branch's new data dirs, copies its manifest
  //    verbatim, and mints the marker with the branch commit's own
  //    (runId, epoch) — so CDC replay, time travel and the commit
  //    clock over the promoted range behave as if the commits had
  //    landed on the source directly. Resumable: a crash mid-promote
  //    leaves a valid prefix, and re-running recognizes the prefix
  //    (identical manifest at the source's head) and continues.
  //
  // The WAP story completes here: a stage audits ONE commit behind a
  // withheld marker; a branch audits ARBITRARILY MANY commits behind
  // a table boundary, then publishes them atomically-per-version with
  // the same claim discipline. The reference's dual is the STM
  // in-transaction view — writes visible to the transaction, invisible
  // to the world until commit (stm.clj:18-42 make-transaction /
  // apply-writes!).
  // ------------------------------------------------------------------

  /** Sidecar files a branch inherits from its source (constraints,
    * retention, layout, column-mapping drops, bloom config — the
    * table DEFINITION). Tags (`_refs`) and in-flight WAP staging stay
    * behind: they name source-history versions.
    */
  private val BranchSidecars = Seq(
    "_constraints", "_dropped_cols", "_bloom_cols",
    "_history_keep", "_history_keep_ms", "_partition_spec", "_bucket_by")

  // ------------------------------------------------------------------
  // REFERENCE-SHARING BRANCH DATA (`_data_base` sidecar): on schemes
  // without hard links (object stores, cross-filesystem branches) a
  // branch carries NO copy of the base data at all — its manifest
  // entries at-or-below the base version RESOLVE into the source's
  // data tree (the Iceberg snapshot-sharing shape: metadata points at
  // files wherever they live). Zero data bytes move on ANY scheme;
  // the source pins the shared content via `_branch_refs` ref-counts
  // (its GC keeps the base manifest + the data dirs it names while a
  // branch is registered). Branch-local GC is unaffected: content
  // <= base never exists under the branch's own data root.
  // ------------------------------------------------------------------

  private val dataBaseCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[(String, Long)]]()

  /** The branch's (source dir, base version) redirect — None for an
    * ordinary (or hard-linked) table. Cached: the sidecar is written
    * once at branch creation, before the table has any commits.
    */
  def dataBase(spark: SparkSession, dir: String): Option[(String, Long)] =
    dataBaseCache.computeIfAbsent(dir, d => {
      val (fs, p) = fsOf(spark, d)
      val f = new Path(p, "_data_base")
      if (!fs.exists(f)) None
      else {
        val in = fs.open(f)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().nextOption().map(_.trim).getOrElse("")
        finally in.close()
        line.split('\t') match {
          case Array(src, base) => Some((src, base.toLong))
          case _ => throw new IllegalStateException(
            s"corrupt _data_base on $d: '$line'")
        }
      }
    })

  /** The PHYSICAL directory of (bucket, content version): a
    * reference-sharing branch redirects content at-or-below its base
    * into its source's tree (recursively — a branch of a branch
    * resolves through both). Writers never consult this: new content
    * always lands under the table's own data root.
    */
  def dataPath(spark: SparkSession, dir: String, b: Int, cv: Long): String =
    dataBase(spark, dir) match {
      case Some((src, base)) if cv <= base => dataPath(spark, src, b, cv)
      case _ => s"$dir/data/b$b/v$cv"
    }

  private val branchRefsLock = new Object

  /** Branch ref-count registration on the SOURCE: lines
    * `<branchDir>\t<base>` in `_branch_refs`. GC keeps each registered
    * base's manifest and the data dirs it names alive until the branch
    * unregisters (drop, or explicit detach).
    */
  private[graft] def registerBranchRef(
      spark: SparkSession, srcDir: String, branchDir: String,
      base: Long): Unit = branchRefsLock.synchronized {
    val (fs, p) = fsOf(spark, srcDir)
    val f = new Path(p, "_branch_refs")
    val cur = if (!fs.exists(f)) Seq.empty[String] else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
    val kept = cur.filterNot(_.split('\t').headOption.contains(branchDir))
    val out = fs.create(f, true)
    try out.write((kept :+ s"$branchDir\t$base")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private[graft] def unregisterBranchRef(
      spark: SparkSession, srcDir: String,
      branchDir: String): Unit = branchRefsLock.synchronized {
    val (fs, p) = fsOf(spark, srcDir)
    val f = new Path(p, "_branch_refs")
    if (!fs.exists(f)) return
    val in = fs.open(f)
    val cur = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
    val kept = cur.filterNot(_.split('\t').headOption.contains(branchDir))
    if (kept == cur) return
    if (kept.isEmpty) { fs.delete(f, false); return }
    val out = fs.create(f, true)
    try out.write(kept.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Base versions pinned by registered reference-sharing branches. */
  private[graft] def branchRefBases(
      spark: SparkSession, dir: String): Set[Long] = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, "_branch_refs")
    if (!fs.exists(f)) Set.empty
    else {
      val in = fs.open(f)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
      lines.flatMap(_.split('\t') match {
        case Array(_, base) => Some(base.toLong)
        case _ => None
      }).toSet
    }
  }

  /** RE-PIN a dying table's reference-sharing children before it is
    * dropped (the promote-and-delete workflow: branch b1 off main,
    * branch b2 off b1, publish b1, drop b1 — b2 must keep reading).
    * For each registered child:
    *
    *  1. every data dir the child's retained manifests resolve INTO
    *     the dying table's own tree (content the dying table minted —
    *     above ITS base, at-or-below the child's) is linked (file://)
    *     or copied into the child's tree;
    *  2. the child's `_data_base` redirect re-points to the dying
    *     table's OWN base (the grandparent) — or disappears entirely
    *     when the dying table was a root / hard-linked branch — and
    *     the grandparent gains the child's `_branch_refs` pin.
    *
    * Ordering is crash-safe for readers: content materializes first,
    * the redirect flips second, the caller deletes the directory last
    * — at every instant the child's manifests resolve to live bytes.
    * The per-JVM redirect cache is invalidated here; a DIFFERENT
    * long-lived driver that cached the old redirect must re-open the
    * table after the drop (the same staleness window every metadata
    * sidecar shares).
    */
  def repinBranchChildren(spark: SparkSession, dyingDir: String): Unit = {
    val (dfs, dpp) = fsOf(spark, dyingDir)
    val f = new Path(dpp, "_branch_refs")
    if (!dfs.exists(f)) return
    val lines = {
      val in = dfs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
    val gp = dataBase(spark, dyingDir)
    val cutoff = gp.map(_._2).getOrElse(-1L)
    lines.foreach(_.split('\t') match {
      case Array(childDir, baseStr) =>
        val base = baseStr.toLong
        val (cfs, cp) = fsOf(spark, childDir)
        if (cfs.exists(cp)) {
          // content the dying table owns physically and the child
          // still references: every retained manifest's entries in
          // (grandparent base, child base]
          val needed: Set[(Int, Long)] = commits(spark, childDir)
            .flatMap(c => manifest(spark, childDir, c.version).toSeq)
            .filter { case (_, cv) => cv <= base && cv > cutoff }
            .toSet
          needed.toSeq.sorted.foreach { case (b, cv) =>
            val src = new Path(dataPath(spark, dyingDir, b, cv))
            val dst = new Path(childDir, s"data/b$b/v$cv")
            if (cfs.getUri == dfs.getUri) linkDataDir(dfs, src, dst)
            else if (!cfs.exists(dst)) {
              cfs.mkdirs(dst.getParent)
              org.apache.hadoop.fs.FileUtil.copy(
                dfs, src, cfs, dst, false, dfs.getConf)
            }
          }
          gp match {
            case Some((g, gb)) =>
              val out = cfs.create(new Path(cp, "_data_base"), true)
              try out.write(s"$g\t$gb\n".getBytes("UTF-8"))
              finally out.close()
              registerBranchRef(spark, g, childDir, gb)
            case None =>
              cfs.delete(new Path(cp, "_data_base"), false)
          }
          dataBaseCache.remove(childDir)
        }
        unregisterBranchRef(spark, dyingDir, childDir)
      case _ => ()
    })
  }

  /** Called when a table directory is dropped: if it was a
    * reference-sharing branch, release its pin on the source.
    * Best-effort — a failure here must not block the drop.
    */
  def releaseBranchRefs(spark: SparkSession, dir: String): Unit =
    try dataBase(spark, dir).foreach { case (src, _) =>
      unregisterBranchRef(spark, src, dir)
      dataBaseCache.remove(dir)
    } catch { case _: Throwable => () }

  /** Link (file://) or copy (other schemes) one committed data dir.
    * Tolerates a CONCURRENT identical publisher (two fast-forwards of
    * the same branch share a deterministic claim owner — see
    * [[fastForward]]): both sides place IDENTICAL content, so a
    * lost create race is completion by the rival, not an error.
    */
  private def linkDataDir(
      fs: FileSystem,
      srcDir: Path,
      dstDir: Path): Int = {
    fs.mkdirs(dstDir)
    var n = 0
    fs.listStatus(srcDir).foreach { st =>
      val dst = new Path(dstDir, st.getPath.getName)
      if (!fs.exists(dst)) {
        if (fs.getUri.getScheme == "file")
          try java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(st.getPath.toUri.getPath))
          catch {
            case _: java.nio.file.FileAlreadyExistsException => ()
          }
        else
          org.apache.hadoop.fs.FileUtil.copy(
            fs, st.getPath, fs, dst, false, fs.getConf)
        n += 1
      }
    }
    n
  }

  private def copyFileVerbatim(
      fs: FileSystem, src: Path, dst: Path): Unit = {
    val in = fs.open(src)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
        buf.toByteArray
      } finally in.close()
    val out = fs.create(dst, true)
    try out.write(bytes) finally out.close()
  }

  /** Create a BRANCH of `srcDir`'s head snapshot at `dstDir`: verbatim
    * head manifest + inherited definition sidecars, first version = the
    * base version. The base DATA is hard-linked where the filesystem
    * supports it (same file:// fs — true zero-copy, fs-ref-counted), and
    * REFERENCE-SHARED everywhere else (`_data_base` redirect + a
    * `_branch_refs` pin on the source — zero data bytes move on any
    * scheme; see the reference-sharing section above).
    * `spark.graft.branchMode=refs` forces reference sharing even on
    * file:// (the testable path of the object-store behavior).
    * Returns (base version, files linked — 0 under reference sharing).
    */
  def branchTable(
      spark: SparkSession,
      srcDir: String,
      dstDir: String): (Long, Long) = {
    val (sfs, sp) = fsOf(spark, srcDir)
    val (dfs, dp) = fsOf(spark, dstDir)
    val base = lastCommit(spark, srcDir).getOrElse(
      throw new IllegalStateException(
        s"create_branch: $srcDir has no committed version")).version
    require(!commits(spark, dstDir).exists(_ => true),
      s"create_branch: $dstDir already has commits")
    dfs.mkdirs(dp)
    val canLink = sfs.getUri.getScheme == "file" &&
      sfs.getUri == dfs.getUri &&
      !spark.conf.getOption("spark.graft.branchMode").contains("refs")
    var linked = 0L
    if (canLink)
      manifest(spark, srcDir, base).foreach { case (b, cv) =>
        // resolve through the source's OWN redirect: a branch of a
        // reference-sharing branch links the PHYSICAL files wherever
        // the chain puts them (fs ref-counts protect them from there)
        linked += linkDataDir(
          sfs, new Path(dataPath(spark, srcDir, b, cv)),
          new Path(dp, s"data/b$b/v$cv"))
      }
    else {
      // reference sharing: pin the base on the source FIRST (the pin
      // must exist before any reader depends on the redirect), then
      // write the redirect sidecar
      registerBranchRef(spark, srcDir, dstDir, base)
      val out = dfs.create(new Path(dp, "_data_base"), true)
      try out.write(s"$srcDir\t$base\n".getBytes("UTF-8"))
      finally out.close()
      dataBaseCache.remove(dstDir) // a cached pre-branch None is stale now
    }
    // the branch POINT, recorded in both modes: fast_forward needs it
    // to tell "my own retention aged the branch point out" from "main
    // truly advanced past it" after the manifests are gone
    locally {
      val out = dfs.create(new Path(dp, "_branch_base"), true)
      try out.write(s"$srcDir\t$base\n".getBytes("UTF-8"))
      finally out.close()
    }
    BranchSidecars.foreach { n =>
      if (sfs.exists(new Path(sp, n)))
        copyFileVerbatim(sfs, new Path(sp, n), new Path(dp, n))
    }
    // current statistics (if kept) ride along — ANALYZE would rebuild
    // them, but the branch starts with the optimizer as informed as
    // its source
    Seq(s"_stats_v$base", s"_statsparts_v$base").foreach { n =>
      if (sfs.exists(new Path(sp, n)))
        copyFileVerbatim(sfs, new Path(sp, n), new Path(dp, n))
    }
    copyFileVerbatim(
      sfs, new Path(sp, s"_manifest_v$base"), new Path(dp, s"_manifest_v$base"))
    val md = java.security.MessageDigest.getInstance("MD5")
    val runId = "branch-" + md.digest(dstDir.getBytes("UTF-8"))
      .take(6).map(x => f"$x%02x").mkString
    dfs.create(new Path(dp, s"_commit_v${base}_r${runId}_e0"), true).close()
    (base, linked)
  }

  /** Publish `branchDir`'s commits onto `mainDir` (git fast-forward):
    * requires main's head to BE the branch point — or, for resumption,
    * an already-promoted prefix (identical manifest bytes at main's
    * head version). Claims every version to promote before minting any
    * marker; preserves each branch commit's (runId, epoch). Returns
    * the number of versions promoted (0 = already up to date).
    */
  def fastForward(
      spark: SparkSession,
      mainDir: String,
      branchDir: String): Long = {
    val (mfs, mp) = fsOf(spark, mainDir)
    val (bfs, bp) = fsOf(spark, branchDir)
    val mainHead = lastCommit(spark, mainDir).getOrElse(
      throw new IllegalStateException(
        s"fast_forward: $mainDir has no committed version")).version
    def mfBytes(dir: String, v: Long): Option[Seq[String]] =
      manifestLines(spark, dir, v)
    // the fast-forward rule: main's head state must be ON the branch
    // (verbatim-copied manifests make byte equality the exact test).
    // When the branch no longer RETAINS main's head version, the
    // recorded branch point (`_branch_base`, written at creation)
    // distinguishes the cases: main still AT the branch point = PROVEN
    // unchanged — every write (including RESTORE) mints a NEW higher
    // version, so head version == branch-point version proves main
    // never moved since the branch was cut, and promotion is sound
    // even with zero retained branch manifests (this is what lets a
    // history_keep=1 branch publish at all); main PAST it = ambiguous
    // between a promoted prefix that aged and true divergence — both
    // named, since no manifest remains to tell.
    val branchVersions = commits(spark, branchDir).map(_.version)
    val onBranch = branchVersions.contains(mainHead)
    val branchBaseMf = mfBytes(branchDir, mainHead)
    val provenAtBase: Boolean = if (onBranch && branchBaseMf.nonEmpty) {
      false // the manifest byte-equality check below is the proof
    } else {
      val basePoint: Option[Long] = {
        val f = new Path(bp, "_branch_base")
        if (!bfs.exists(f)) None
        else {
          val in = bfs.open(f)
          val line = try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().nextOption().map(_.trim).getOrElse("")
          finally in.close()
          line.split('\t') match {
            case Array(_, b) => Some(b.toLong)
            case _ => None
          }
        }
      }
      basePoint match {
        case Some(b) if mainHead == b => true
        case Some(b) if mainHead > b =>
          throw new IllegalStateException(
            s"fast_forward: the branch no longer retains version " +
              s"$mainHead — either $mainDir advanced past the branch " +
              "point (re-branch from the new head and replay) or a " +
              "promoted prefix aged out of the branch's retention " +
              "window (raise history_keep); no branch manifest remains " +
              "to tell")
        case _ =>
          throw new ConcurrentCommitException(
            s"fast_forward: $mainDir advanced past the branch point " +
              s"(head $mainHead is not on the branch) — the branch " +
              "must rebase (re-branch from the new head and replay) " +
              "before it can publish")
      }
    }
    if (!provenAtBase && mfBytes(mainDir, mainHead) != branchBaseMf)
      throw new ConcurrentCommitException(
        s"fast_forward: $mainDir advanced past the branch point " +
          s"(head $mainHead is not on the branch) — the branch must " +
          "rebase (re-branch from the new head and replay) before it " +
          "can publish")
    val toPromote = commits(spark, branchDir)
      .filter(_.version > mainHead).sortBy(_.version)
    if (toPromote.isEmpty) return 0L
    toPromote.foreach { c =>
      if (mfBytes(branchDir, c.version).isEmpty)
        throw new IllegalStateException(
          s"fast_forward: branch version ${c.version} left the branch's " +
            "retention window — raise history_keep on the branch before " +
            "long-running divergence")
    }
    // all-or-nothing against rival writers: claim EVERY version first.
    // The claim owner id is DETERMINISTIC over (main, branch, branch
    // head): distinct branches (or the same branch after further
    // commits) get distinct owners — so rival fast-forwards cannot
    // steal each other's claims (claimVersion lets an owner steal its
    // OWN stale claim regardless of TTL) — while a rerun of the SAME
    // publish after a crash re-takes its own leftover claims
    // immediately instead of waiting out the 15-minute TTL (the
    // documented resumable contract). The deliberate flip side: two
    // LIVE invocations of the same publish share the owner and both
    // proceed — safe because they place byte-IDENTICAL content
    // (idempotent links, verbatim manifests, same markers;
    // linkDataDir tolerates the create race), so concurrent identical
    // publishes CONVERGE rather than mutually exclude: a version the
    // other invocation already promoted is skipped, not failed.
    val branchHead = commits(spark, branchDir).map(_.version).max
    val ffId = "ff" + java.security.MessageDigest.getInstance("MD5")
      .digest(s"$mainDir $branchDir $branchHead".getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    val claimed = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      toPromote.foreach { c =>
        if (claimForPromotion(spark, mfs, mp, c, mainDir, ffId))
          claimed += c.version
      }
    } catch {
      case e: Throwable =>
        claimed.foreach(v => mfs.delete(new Path(mp, s"_claim_v$v"), false))
        throw e
    }
    // every content dir minted on the branch past main's head must
    // reach main — NOT just cv == v: when branch retention aged out
    // intermediate commits (e.g. history_keep=1), the surviving head
    // manifest still CARRIES entries minted by the aged versions
    // (bucket last written at cv=2 while only v4's manifest survives),
    // and their data dirs survive GC because the retained manifest
    // references them. cv <= mainHead entries already exist on main
    // (the base snapshot or a previously promoted prefix).
    val linkedCv = scala.collection.mutable.HashSet.empty[(Int, Long)]
    toPromote.filter(c => claimed.contains(c.version)).foreach { c =>
      val v = c.version
      manifest(spark, branchDir, v).foreach { case (b, cv) =>
        if (cv > mainHead && linkedCv.add((b, cv)))
          linkDataDir(
            bfs, new Path(bp, s"data/b$b/v$cv"), new Path(mp, s"data/b$b/v$cv"))
      }
      copyFileVerbatim(
        bfs, new Path(bp, s"_manifest_v$v"), new Path(mp, s"_manifest_v$v"))
      mfs.create(
        new Path(mp, s"_commit_v${v}_r${c.runId}_e${c.epoch}"), true).close()
      mfs.delete(new Path(mp, s"_claim_v$v"), false)
    }
    gc(spark, mfs, mp, mainDir, toPromote.last.version)
    toPromote.size.toLong
  }

  /** Claim main's version `c.version` for promoting branch commit `c`.
    * False when main already carries that version under `c`'s own
    * (runId, epoch) — a live invocation of the same publish promoted it
    * first, so there is nothing left to do for it. Any other
    * [[ConcurrentCommitException]] (a rival's commit or claim) stands.
    */
  private[graft] def claimForPromotion(
      spark: SparkSession,
      mfs: FileSystem,
      mp: Path,
      c: Commit,
      mainDir: String,
      ffId: String): Boolean = {
    def promoted: Boolean = commits(spark, mainDir).exists(m =>
      m.version == c.version && m.runId == c.runId && m.epoch == c.epoch)
    try { claimVersion(spark, mfs, mp, c.version, mainDir, ffId); true }
    catch { case _: ConcurrentCommitException if promoted => false }
  }

  /** `ALTER TABLE … ADD COLUMN(S)` — a SCHEMA-ONLY commit: a new
    * version whose manifest carries every bucket forward untouched and
    * records the extended union schema. Zero data rewritten (existing
    * rows read the new column as NULL — the reader's missing-column
    * vectors, the same mechanism mixed-schema CDC history uses); the
    * sorted flag carries (nothing moved). New columns must be nullable
    * and must not collide (case-insensitively) with existing ones or
    * the reserved scan names. Returns the minted version.
    *
    * Legacy tables whose manifest predates the recorded-schema format
    * fail loudly: compact once to re-base, then evolve.
    */
  def addColumns(
      spark: SparkSession,
      dir: String,
      adds: Seq[StructField]): Long = {
    require(adds.nonEmpty, "addColumns: no columns given")
    val last = lastCommit(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"addColumns: $dir has no committed version (declare the column " +
          "in the CREATE schema instead)"))
    val base = manifestSchema(spark, dir, last.version).getOrElse(
      throw new IllegalStateException(
        s"addColumns: $dir's manifest predates the recorded-schema " +
          "format; run compaction once to re-base it, then evolve"))
    val taken = physicalNames(base) ++
      Set(DeletedCol, "_version", "_bucket", "_file", "__b")
    val blocked = droppedCols(spark, dir).map(_.toLowerCase).toSet
    adds.foreach { f =>
      require(f.nullable,
        s"addColumns: new column ${f.name} must be nullable " +
          "(existing rows read it as NULL)")
      require(!taken.contains(f.name.toLowerCase),
        s"addColumns: column ${f.name} already exists (or is an alias " +
          "of a renamed column, or reserved)")
      require(!blocked.contains(f.name.toLowerCase),
        s"addColumns: column ${f.name} was dropped and its bytes may " +
          "survive in retained data files — a same-name add would " +
          "resurrect them; run full compaction first")
    }
    // a table already using column mapping ids extends them; one that
    // never renamed/dropped stays id-free (adds carry no metadata)
    val mapped = base.fields.exists(_.metadata.contains(GidKey))
    val newFields = if (!mapped) adds else {
      var next = base.fields.iterator
        .filter(_.metadata.contains(GidKey))
        .map(_.metadata.getLong(GidKey)).max + 1
      adds.map { f =>
        val g = next; next += 1
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(GidKey, g).build())
      }
    }
    val newV = last.version + 1
    publish(
      spark, dir,
      bucketCount(spark, dir, last.version),
      manifest(spark, dir, last.version),
      touched = Set.empty,
      rows = None,
      newV,
      runId = "maintenance",
      epochId = newV,
      prevVersion = Some(last.version),
      sortedBy = manifestSortedBy(spark, dir, last.version),
      schemaOverride = Some(StructType(base.fields ++ newFields)))
    newV
  }

  /** The safe type-widening lattice (Iceberg/Delta's): values written
    * narrow read back wide with zero information loss, and parquet's
    * reader promotes the physical narrow type under a wide requested
    * schema. Anything else would misread committed bytes and rejects.
    */
  private[graft] def widensTo(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = (from, to) match {
    case (org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType) => true
    case (org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType) => true
    case (org.apache.spark.sql.types.FloatType,
        org.apache.spark.sql.types.DoubleType) => true
    case (f: org.apache.spark.sql.types.DecimalType,
        t: org.apache.spark.sql.types.DecimalType) =>
      t.scale == f.scale && t.precision > f.precision
    case _ => false
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE <wider>` — TYPE WIDENING as a
    * SCHEMA-ONLY commit: the manifest records the wide type, zero data
    * rewritten; readers up-cast old narrow files through parquet type
    * promotion (explicit-schema reads, [[bucketRead]]). Rejected for
    * the merge KEY columns (xxhash64 of int and long differ — widening
    * a key would split every existing key's bucket identity) and for
    * the partition transform column (same bucket-stability argument).
    * Returns the minted version.
    */
  def widenColumn(
      spark: SparkSession,
      dir: String,
      key: String,
      name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    val last = lastCommit(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"widenColumn: $dir has no committed version (change the " +
          "declared schema instead)"))
    val base = manifestSchema(spark, dir, last.version).getOrElse(
      throw new IllegalStateException(
        s"widenColumn: $dir's manifest predates the recorded-schema " +
          "format; run compaction once to re-base it, then evolve"))
    require(columnAliases(base).isEmpty,
      s"widenColumn: $dir uses column mapping (renamed physical " +
        "names) — run full compaction first, then widen")
    val f = base.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumn: no column '$name' in ${base.fieldNames.mkString(",")}"))
    require(widensTo(f.dataType, to),
      s"widenColumn: ${f.dataType.simpleString} -> ${to.simpleString} is " +
        "not a safe widening (int->long, float->double, decimal " +
        "precision growth at the same scale)")
    require(!keyCols(key).contains(name),
      s"widenColumn: '$name' is a merge key column — its hash IS the " +
        "bucket identity (xxhash64 of int and long differ); re-key via " +
        "compact into a new table instead")
    require(!partitionSpec(spark, dir).exists(_.column == name),
      s"widenColumn: '$name' is the partition transform column — " +
        "its value IS the partition identity")
    val newV = last.version + 1
    publish(
      spark, dir,
      bucketCount(spark, dir, last.version),
      manifest(spark, dir, last.version),
      touched = Set.empty,
      rows = None,
      newV,
      runId = "maintenance",
      epochId = newV,
      prevVersion = Some(last.version),
      sortedBy = manifestSortedBy(spark, dir, last.version),
      schemaOverride = Some(StructType(base.fields.map(x =>
        if (x.name == name) x.copy(dataType = to) else x))))
    newV
  }

  /** Names of DROPPED columns (and their whole alias chains) that may
    * still exist in retained data files — recorded in the
    * `_dropped_cols` table file so a later ADD/RENAME COLUMN cannot
    * reuse a name whose stale bytes would silently resurrect into the
    * new column. A FULL rewrite ([[compact]]/[[compactZOrder]]) purges
    * every file and clears the list.
    */
  def droppedCols(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, "_dropped_cols")
    if (!fs.exists(f)) Seq.empty
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  private def writeDroppedCols(
      spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, "_dropped_cols")
    if (names.isEmpty) { fs.delete(f, false); () }
    else {
      val out = fs.create(f, true)
      try out.write(names.distinct.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Every name this schema could resolve a read against (current
    * names + every alias), lowercased — the collision domain for
    * rename/add targets.
    */
  private def physicalNames(schema: StructType): Set[String] =
    schema.fields.iterator
      .flatMap(f => f.name +: aliasesOf(f))
      .map(_.toLowerCase)
      .toSet

  /** Ensure every field carries a stable column id ([[GidKey]]):
    * assigned once, ordinally, the first time the table needs column
    * mapping; later ADDs take max+1 (see [[addColumns]]). Two fields
    * never share a gid — renames move a NAME between commits, never an
    * id.
    */
  private def withGids(schema: StructType): StructType = {
    var next = schema.fields.iterator
      .filter(_.metadata.contains(GidKey))
      .map(_.metadata.getLong(GidKey))
      .maxOption.map(_ + 1).getOrElse(0L)
    StructType(schema.fields.map { f =>
      if (f.metadata.contains(GidKey)) f
      else {
        val g = next; next += 1
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(GidKey, g).build())
      }
    })
  }

  /** `ALTER TABLE … RENAME COLUMN` — a METADATA-ONLY commit (the
    * column-mapping payoff): the recorded schema renames the field,
    * prepends the old name to its alias chain, and keeps its stable
    * id; ZERO data files are rewritten, because every reader resolves
    * the field to the first (current-then-aliases) name a file
    * actually contains. The new name must not collide with any live
    * name, any alias (older files still answer to those), any dropped
    * name still possibly on disk, or the reserved scan names. Key/seq
    * columns are the table's physical identity (the bucket layout
    * hashes them) and cannot be renamed — pass them in
    * `protectedCols`. Returns the minted version.
    */
  def renameColumn(
      spark: SparkSession,
      dir: String,
      from: String,
      to: String,
      protectedCols: Seq[String] = Nil): Long = {
    val last = lastCommit(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"renameColumn: $dir has no committed version (rename the " +
          "declared schema instead)"))
    val base0 = manifestSchema(spark, dir, last.version).getOrElse(
      throw new IllegalStateException(
        s"renameColumn: $dir's manifest predates the recorded-schema " +
          "format; run compaction once to re-base it, then evolve"))
    require(base0.fieldNames.contains(from),
      s"renameColumn: no column '$from' in ${base0.fieldNames.mkString(",")}")
    require(!protectedCols.contains(from),
      s"renameColumn: '$from' is a key/seq column — the bucket layout " +
        "hashes it; it is the table's physical identity")
    val taken = physicalNames(base0) - from.toLowerCase ++
      droppedCols(spark, dir).map(_.toLowerCase) ++
      Set(DeletedCol, "_version", "_bucket", "_file", "__b")
    require(!taken.contains(to.toLowerCase),
      s"renameColumn: name '$to' is in use, reserved, aliased by " +
        "another column, or was dropped and may survive in retained " +
        "files (run full compaction first)")
    val base = withGids(base0)
    val evolved = StructType(base.fields.map { f =>
      if (f.name != from) f
      else f.copy(
        name = to,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(AliasKey, (from +: aliasesOf(f)).mkString(","))
          .build())
    })
    val newV = last.version + 1
    publish(
      spark, dir,
      bucketCount(spark, dir, last.version),
      manifest(spark, dir, last.version),
      touched = Set.empty,
      rows = None,
      newV,
      runId = "maintenance",
      epochId = newV,
      prevVersion = Some(last.version),
      schemaOverride = Some(evolved))
    newV
  }

  /** `ALTER TABLE … DROP COLUMN` — a METADATA-ONLY commit: the field
    * leaves the recorded schema, so readers stop projecting it
    * immediately at zero rewrite cost; its bytes linger in data files
    * until upserts/compaction rewrite them. The dropped name AND its
    * alias chain go on the [[droppedCols]] block list so no later ADD
    * or RENAME can resurrect the stale bytes; a full rewrite clears
    * the list. Returns the minted version.
    */
  def dropColumn(
      spark: SparkSession,
      dir: String,
      name: String,
      protectedCols: Seq[String] = Nil): Long = {
    val last = lastCommit(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"dropColumn: $dir has no committed version (drop from the " +
          "declared schema instead)"))
    val base0 = manifestSchema(spark, dir, last.version).getOrElse(
      throw new IllegalStateException(
        s"dropColumn: $dir's manifest predates the recorded-schema " +
          "format; run compaction once to re-base it, then evolve"))
    val victim = base0.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"dropColumn: no column '$name' in ${base0.fieldNames.mkString(",")}"))
    require(!protectedCols.contains(name),
      s"dropColumn: '$name' is a key/seq column — the table's physical " +
        "identity cannot be dropped")
    require(base0.fields.length > 1,
      "dropColumn: cannot drop the table's only column")
    val base = withGids(base0)
    val evolved = StructType(base.fields.filter(_.name != name))
    val newV = last.version + 1
    publish(
      spark, dir,
      bucketCount(spark, dir, last.version),
      manifest(spark, dir, last.version),
      touched = Set.empty,
      rows = None,
      newV,
      runId = "maintenance",
      epochId = newV,
      prevVersion = Some(last.version),
      schemaOverride = Some(evolved))
    writeDroppedCols(spark, dir,
      droppedCols(spark, dir) ++ (name +: aliasesOf(victim)))
    newV
  }

  def compact(
      spark: SparkSession,
      dir: String,
      key: String,
      targetBuckets: Int): Int = {
    require(targetBuckets >= 1, s"compact: targetBuckets=$targetBuckets")
    lastCommit(spark, dir) match {
      case None => 0
      case Some(c) =>
        val m = manifest(spark, dir, c.version)
        val allPaths =
          m.toSeq.sorted.map { case (b, v) => dataPath(spark, dir, b, v) }
        if (allPaths.isEmpty) return 0
        val raw = currentViewAt(spark, dir, c.version,
          bucketRead(spark, dir, c.version, allPaths))
        val gens = partitionSpecGens(spark, dir)
        val spec = gens.lastOption.map(_.spec)
        val bucketOf = tableBucketExprGens(spark, dir, gens, key, targetBuckets)
        // SORT WITHIN BUCKETS by the key columns: inside a hash bucket
        // every row group's key min/max would otherwise span the whole
        // key range, and the reader's row-group skipping (pushed
        // predicate -> parquet FilterPredicate) has nothing to bite on.
        // A compacted table's point/range reads prune below the bucket
        // level for free. Leading __b keeps the write path's required
        // ordering satisfied so no second sort is inserted.
        val rows = raw
          .withColumn("__b", bucketOf)
          .repartition(col("__b")) // publish expects bucket-partitioned rows
          .sortWithinPartitions(
            (col("__b") +: keyCols(key).map(col)).toIndexedSeq: _*)
        val newV = c.version + 1
        // rewritten bucket ids: dense 0..nb for a plain table; for a
        // partitioned layout, the old manifest's live partitions × the
        // new modulus — a metadata-derived SUPERSET (publish skips ids
        // the write left empty), no second pass over the data. An
        // EVOLVED table (retired generations still holding buckets)
        // derives the set from the data instead: every row migrates to
        // the current layout here, and the retired ids' partition
        // arithmetic differs per generation — this compact is exactly
        // how a user finishes an evolution and re-earns SPJ.
        val rewritten: Set[Int] = spec match {
          case None => (0 until targetBuckets).toSet
          case Some(_) if gens.size <= 1 =>
            val oldNb = numBuckets(spark, dir, c.version)
            m.keySet.map(b => Math.floorDiv(b, oldNb)).flatMap(pi =>
              (0 until targetBuckets).map(pi * targetBuckets + _))
          case Some(_) =>
            raw.select(bucketOf.as("__b")).distinct()
              .collect().map(_.getInt(0)).toSet
        }
        // prevManifest = empty: the new manifest lists ONLY the rewritten
        // buckets (the whole table), under the new bucket count
        publish(
          spark, dir, targetBuckets, Map.empty,
          touched = rewritten, Some(rows), newV,
          runId = "maintenance", epochId = newV,
          // every bucket rewritten key-sorted: the manifest records the
          // table-wide sort (what SupportsReportOrdering keys on)
          sortedBy = Some(keyCols(key)), // all buckets rewritten: sizes measured fresh
          // a full rewrite must not let the recorded schema forget its
          // column-mapping metadata (rows-derived schemas are plain)
          schemaOverride = manifestSchema(spark, dir, c.version),
          specGens = Some(gens))
        // every file now carries only current columns under current
        // names: dropped-name bytes are gone, the block list clears
        writeDroppedCols(spark, dir, Seq.empty)
        manifest(spark, dir, newV).size
    }
  }

  /** Declare BLOOM-INDEXED columns for a table: every bucket file
    * written from now on (upserts, DML rewrites, compaction) carries a
    * parquet-native bloom filter for each listed column, and the
    * connector's pushed equality conjuncts prune ROW GROUPS through
    * them. This is the skipping tier for high-cardinality NON-key
    * equality — the one predicate shape the layout's other two tiers
    * can't serve: bucket pruning needs the key (hash), and min/max
    * stats need sorted data (a random secondary id spans every row
    * group's range). Blooms live IN the data files (the parquet
    * column-index machinery), so the metadata cost is distributed and
    * per-file — nothing table-sized accumulates in the manifest, which
    * is what a 100 TB table demands. Entries are `col` or `col:ndv`
    * (expected distinct values per bucket file — sizes the filter;
    * unset falls back to parquet's max-bytes cap). Takes effect on
    * FUTURE writes; run [[compact]] (or [[compactIncremental]] after
    * dirtying) to index existing data.
    */
  /** Per-table SNAPSHOT retention: how many committed versions stay
    * readable (time travel + CDC replay depth). Default 2 (current +
    * previous — the original hardwired window). Stored as a one-line
    * `_history_keep` file in the table dir, like `_bloom_cols`: a
    * property of the DATA directory, so path-based and catalog access
    * agree, and each commit's GC reads one tiny file — nothing scales
    * with table size or history depth. Takes effect at the NEXT
    * commit's GC; raising it never resurrects already-collected
    * versions.
    */
  def setHistoryKeep(spark: SparkSession, dir: String, keep: Int): Unit = {
    require(keep >= 1, s"history keep must be >= 1, got $keep")
    val (fs, p) = fsOf(spark, dir)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, "_history_keep"), true)
    try out.write(s"$keep\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** The table's snapshot-retention depth (see [[setHistoryKeep]]). */
  def historyKeep(spark: SparkSession, dir: String): Int = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, "_history_keep")
    if (!fs.exists(f)) 2
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().next().trim.toInt
      finally in.close()
    }
  }

  /** TIME-based snapshot retention, composing with the version-depth
    * window: each commit's GC keeps every version either rule retains
    * (depth keeps the last N; time keeps any version whose commit
    * marker is younger than `ms` — marker mtime IS the commit clock,
    * the TIMESTAMP AS OF convention). The Delta/Iceberg
    * `logRetentionDuration` shape: "replay yesterday" holds regardless
    * of how many versions landed today, without hand-sizing a depth.
    * Stored as a one-line `_history_keep_ms` file; `ms <= 0` clears it.
    */
  def setHistoryKeepMs(spark: SparkSession, dir: String, ms: Long): Unit = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, "_history_keep_ms")
    if (ms <= 0L) { fs.delete(f, false); () }
    else {
      fs.mkdirs(p)
      val out = fs.create(f, true)
      try out.write(s"$ms\n".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** The table's time-retention window (see [[setHistoryKeepMs]]). */
  def historyKeepMs(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, "_history_keep_ms")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().next().trim.toLong)
      finally in.close()
    }
  }

  // ------------------------------------------------------------------
  // CHECK CONSTRAINTS: named boolean SQL expressions every ADMITTED
  // batch must satisfy (SQL CHECK semantics: NULL passes, FALSE
  // rejects). Enforced BEFORE the claim on every write path that
  // admits new rows — upsert, overwrite, transactions, WAP stages,
  // SQL INSERT/DML — so a violating batch aborts with the table
  // untouched. Tombstone rows are exempt (a delete carries no data).
  // Cost: one extra pass over the BATCH (all constraints fused into
  // one predicate), never over the table.
  // ------------------------------------------------------------------

  private val ConstraintNameRe = "[A-Za-z][A-Za-z0-9_-]*".r

  /** Declare (or replace) the named constraint. The expression is
    * parsed now (a typo fails here, not at the next write); columns it
    * references must be present on every future batch.
    */
  def setCheckConstraint(
      spark: SparkSession, dir: String, name: String, exprSql: String): Unit = {
    require(ConstraintNameRe.pattern.matcher(name).matches(),
      s"setCheckConstraint: bad constraint name '$name'")
    require(!exprSql.contains("\t") && !exprSql.contains("\n"),
      "setCheckConstraint: expression must be a single line")
    spark.sessionState.sqlParser.parseExpression(exprSql) // fail fast
    val kept = checkConstraints(spark, dir).filterNot(_._1 == name)
    writeConstraints(spark, dir, kept :+ (name -> exprSql))
  }

  def dropCheckConstraint(
      spark: SparkSession, dir: String, name: String): Boolean = {
    val cur = checkConstraints(spark, dir)
    val kept = cur.filterNot(_._1 == name)
    if (kept.size == cur.size) false
    else { writeConstraints(spark, dir, kept); true }
  }

  /** Declared constraints in declaration order: (name, expression). */
  def checkConstraints(
      spark: SparkSession, dir: String): Seq[(String, String)] = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, "_constraints")
    if (!fs.exists(f)) Seq.empty
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1)
        }.toList
      finally in.close()
    }
  }

  private def writeConstraints(
      spark: SparkSession, dir: String, cs: Seq[(String, String)]): Unit = {
    val (fs, p) = fsOf(spark, dir)
    fs.mkdirs(p)
    if (cs.isEmpty) { fs.delete(new Path(p, "_constraints"), false); return }
    val out = fs.create(new Path(p, "_constraints"), true)
    try out.write(cs.map { case (n, e) => s"$n\t$e" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Constraints declared inside a STAGED CTAS/RTAS (`check.*` options)
    * must (a) validate the statement's own write, (b) NOT take effect
    * on the live table until the statement commits — an aborted RTAS
    * leaves the old definition untouched, constraints included — and
    * (c) leave no sidecar behind when the statement fails. They wait in
    * this driver-local pending registry until the staged metadata
    * publishes; [[enforceConstraints]] reads it IN ADDITION to the
    * sidecar, so the staging writer's own batches are checked while
    * other writers (other drivers) correctly never see uncommitted DDL.
    */
  private val stagedChecks =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  def stageCheckConstraint(
      spark: SparkSession, dir: String, name: String, exprSql: String): Unit = {
    require(ConstraintNameRe.pattern.matcher(name).matches(),
      s"stageCheckConstraint: bad constraint name '$name'")
    require(!exprSql.contains("\t") && !exprSql.contains("\n"),
      "stageCheckConstraint: expression must be a single line")
    spark.sessionState.sqlParser.parseExpression(exprSql) // fail fast
    stagedChecks.compute(dir, (_, cur) =>
      Option(cur).getOrElse(Seq.empty).filterNot(_._1 == name) :+
        (name -> exprSql))
  }

  /** Publish this table's pending staged constraints into the sidecar
    * — called from the staged statement's commit.
    */
  def commitStagedChecks(spark: SparkSession, dir: String): Unit =
    Option(stagedChecks.remove(dir)).getOrElse(Seq.empty)
      .foreach { case (n, e) => setCheckConstraint(spark, dir, n, e) }

  /** Drop this table's pending staged constraints without publishing —
    * called from the staged statement's abort.
    */
  def discardStagedChecks(dir: String): Unit = stagedChecks.remove(dir)

  /** Thrown when an admitted batch violates a declared constraint. */
  final class ConstraintViolationException(msg: String)
      extends RuntimeException(msg)

  /** One fused pass over the batch; throws [[ConstraintViolationException]]
    * naming every violated constraint plus a sample row.
    */
  private def enforceConstraints(batch: DataFrame, dir: String): Unit = {
    val pending = Option(stagedChecks.get(dir)).getOrElse(Seq.empty)
    val cs = checkConstraints(batch.sparkSession, dir)
      .filterNot(c => pending.exists(_._1 == c._1)) ++ pending
    if (cs.isEmpty) return
    val live =
      if (batch.columns.contains(DeletedCol))
        batch.filter(!coalesce(col(DeletedCol), lit(false)))
      else batch
    val flags = cs.map { case (n, e) =>
      val parsed =
        try expr(e)
        catch { case scala.util.control.NonFatal(t) =>
          throw new ConstraintViolationException(
            s"check constraint '$n' on $dir failed to parse: $e (${t.getMessage})")
      }
      n -> not(coalesce(parsed, lit(true))) // NULL passes, FALSE violates
    }
    val sample =
      try live
        .filter(flags.map(_._2).reduce(_ || _))
        .select(struct(live.columns.map(col).toIndexedSeq: _*).as("row") +:
          flags.map { case (n, f) => f.as(s"viol_$n") }: _*)
        .take(1)
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new ConstraintViolationException(
          s"check constraints on $dir reference columns this batch lacks " +
            s"(${cs.map(c => s"${c._1}: ${c._2}").mkString("; ")}) — " +
            s"batch columns: ${live.columns.mkString(",")} (${e.getMessage})")
      }
    sample.headOption.foreach { r =>
      val violated = cs.map(_._1).zipWithIndex
        .collect { case (n, i) if r.getBoolean(i + 1) => n }
      val exprs = cs.toMap
      throw new ConstraintViolationException(
        s"batch rejected by check constraint(s) on $dir: " +
          violated.map(n => s"'$n' (${exprs(n)})").mkString(", ") +
          s"; sample violating row: ${r.get(0)} — nothing was committed")
    }
  }

  def setBloomIndex(spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    val (fs, p) = fsOf(spark, dir)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, "_bloom_cols"), true)
    try out.write(cols.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The table's bloom-indexed columns: (column, expected NDV). */
  def bloomIndexCols(
      spark: SparkSession, dir: String): Seq[(String, Option[Long])] = {
    val (fs, p) = fsOf(spark, dir)
    val f = new Path(p, "_bloom_cols")
    if (!fs.exists(f)) Seq.empty
    else {
      val in = fs.open(f)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.filter(_.nonEmpty).map { l =>
        l.split(":") match {
          case Array(c, n) => (c, Some(n.toLong))
          case _ => (l, None)
        }
      }
    }
  }

  /** INCREMENTAL compaction: re-sort ONLY the buckets whose content
    * version is newer than `sinceVersion`, carrying every other
    * bucket's files forward untouched. This is the maintenance shape a
    * 100 TB table actually runs: a steady upsert stream dirties a few
    * buckets per commit (upserts write merge output UNSORTED, so the
    * reader's row-group skipping has nothing to bite on in a freshly
    * dirtied bucket), and the cost of restoring the sorted layout must
    * track the DIRTIED bytes — never the table. Callers record the
    * version of their last maintenance pass and hand it back as
    * `sinceVersion`; the full-rewrite [[compact]] stays the rebucketing
    * path (changing the modulus requires re-hashing every row, which
    * incremental by construction cannot).
    *
    * Same maintenance contract as [[compact]]: invisible to readers
    * (rows including retained tombstones carry bit-identically), one
    * commit, previous version readable for the normal retention
    * window. Returns the set of buckets rewritten; a table with no
    * bucket newer than `sinceVersion` commits NOTHING and mints no
    * version.
    */
  /** Z-ORDER compaction (`OPTIMIZE ... ZORDER BY (c1, c2[, c3, c4])`):
    * a full rewrite like [[compact]], but bucket files sort by the
    * Morton interleave of 2–4 clustering columns (each rank-scaled by
    * its global min/max — one tiny aggregate over the table — into the
    * interleave's per-dimension bit budget: 16 bits up to three
    * dimensions, 15 at four, so the composite always fits a long)
    * instead of the merge key. Rows close in EVERY dimension land in
    * the same row groups, so footer min/max statistics prune range
    * predicates on ANY clustered column — the layout for
    * multi-dimensional selective scans (time × entity × amount), where
    * key-sorting helps only its leading column. Two columns use
    * [[graft.plans.ZOrder2]]'s spread-mask cascade (bit-identical to
    * every previously-written 2-D layout); wider use
    * [[graft.plans.ZOrderN]]. The manifest records no `O` flag:
    * z-order is an IO layout, not a planner-usable total ordering.
    */
  def compactZOrder(
      spark: SparkSession,
      dir: String,
      key: String,
      targetBuckets: Int,
      zCols: Seq[String]): Int = {
    require(targetBuckets >= 1, s"compactZOrder: targetBuckets=$targetBuckets")
    require(zCols.size >= 2 && zCols.size <= 4,
      s"compactZOrder: 2-4 clustering columns (got $zCols)")
    require(zCols.distinct.size == zCols.size,
      s"compactZOrder: duplicate clustering column in $zCols")
    lastCommit(spark, dir) match {
      case None => 0
      case Some(c) =>
        val m = manifest(spark, dir, c.version)
        val allPaths =
          m.toSeq.sorted.map { case (b, v) => dataPath(spark, dir, b, v) }
        if (allPaths.isEmpty) return 0
        val raw = currentViewAt(spark, dir, c.version,
          bucketRead(spark, dir, c.version, allPaths))
        zCols.foreach { zc =>
          val f = raw.schema.fields.find(_.name == zc).getOrElse(
            throw new IllegalArgumentException(
              s"compactZOrder: no column '$zc' in ${raw.columns.mkString(",")}"))
          // rank-scaling casts through double: a non-numeric column
          // would silently scale to NULL -> bucket 0 -> NO clustering
          require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
            f.dataType == org.apache.spark.sql.types.TimestampType,
            s"compactZOrder: column '$zc' is ${f.dataType.simpleString} — " +
              "z-order clustering needs a numeric/timestamp dimension " +
              "(hash or bucket string columns first)")
        }
        val bits = math.min(16, 62 / zCols.size)
        val maxV = (1L << bits) - 1L
        // global per-column ranges (one footer-cheap aggregate) scale
        // each dimension to the interleave's bit domain
        val st = raw.agg(
          zCols.flatMap(zc => Seq(
            min(col(zc)).cast("double"), max(col(zc)).cast("double")))
            .head,
          zCols.flatMap(zc => Seq(
            min(col(zc)).cast("double"), max(col(zc)).cast("double")))
            .tail: _*).head()
        def scaled(i: Int) = {
          val (lo, hi) = (st.getDouble(2 * i), st.getDouble(2 * i + 1))
          val span = if (hi > lo) hi - lo else 1.0
          least(lit(maxV), greatest(lit(0L),
            ((col(zCols(i)).cast("double") - lit(lo)) / lit(span) * maxV)
              .cast("long")))
        }
        val z =
          if (zCols.size == 2)
            graft.plans.ZOrder2.zorder(scaled(0), scaled(1))
          else
            graft.plans.ZOrderN.zorder(zCols.indices.map(scaled), bits)
        val zGens = partitionSpecGens(spark, dir)
        val zSpec = zGens.lastOption.map(_.spec)
        val zBucketOf = tableBucketExprGens(spark, dir, zGens, key, targetBuckets)
        val rows = raw
          .withColumn("__b", zBucketOf)
          .repartition(col("__b"))
          .sortWithinPartitions(col("__b"), z)
        val newV = c.version + 1
        // same evolved-table rule as [[compact]]: a full rewrite
        // migrates every generation into the current layout, so the
        // output set comes from the data when generations remain
        val zTouched: Set[Int] = zSpec match {
          case None => (0 until targetBuckets).toSet
          case Some(_) if zGens.size <= 1 =>
            val oldNb = numBuckets(spark, dir, c.version)
            m.keySet.map(b => Math.floorDiv(b, oldNb)).flatMap(pi =>
              (0 until targetBuckets).map(pi * targetBuckets + _))
          case Some(_) =>
            raw.select(zBucketOf.as("__b")).distinct()
              .collect().map(_.getInt(0)).toSet
        }
        publish(
          spark, dir, targetBuckets, Map.empty,
          touched = zTouched, Some(rows), newV,
          runId = "maintenance", epochId = newV,
          // a full rewrite must not let the recorded schema forget its
          // column-mapping metadata (rows-derived schemas are plain)
          schemaOverride = manifestSchema(spark, dir, c.version),
          specGens = Some(zGens))
        // every file now carries only current columns under current
        // names: dropped-name bytes are gone, the block list clears
        writeDroppedCols(spark, dir, Seq.empty)
        manifest(spark, dir, newV).size
    }
  }

  def compactIncremental(
      spark: SparkSession,
      dir: String,
      key: String,
      sinceVersion: Long): Set[Int] = {
    lastCommit(spark, dir) match {
      case None => Set.empty
      case Some(c) =>
        val m = manifest(spark, dir, c.version)
        val dirty = m.collect {
          case (b, v) if v > sinceVersion => b
        }.toSet
        if (dirty.isEmpty) return Set.empty
        val nb = numBuckets(spark, dir, c.version)
        val paths = dirty.toSeq.sorted.map(b => dataPath(spark, dir, b, m(b)))
        val raw = currentViewAt(spark, dir, c.version,
          bucketRead(spark, dir, c.version, paths))
        // same modulus: every row re-hashes to the bucket it came from,
        // so the rewrite is a per-bucket sort, not a shuffle across the
        // carried buckets (origin-derived on an evolved table)
        val bucketOf = inPlaceBucketExpr(spark, dir, key, nb)
        val rows = raw
          .withColumn("__b", bucketOf)
          .repartition(col("__b"))
          .sortWithinPartitions(
            (col("__b") +: keyCols(key).map(col)).toIndexedSeq: _*)
        val newV = c.version + 1
        publish(
          spark, dir, nb, m, touched = dirty, Some(rows), newV,
          runId = "maintenance", epochId = newV,
          prevVersion = Some(c.version),
          // the rewritten buckets are sorted NOW; the carried ones are
          // sorted iff the whole table was sorted as of sinceVersion
          // (every carried content version <= sinceVersion is part of
          // that all-sorted state) — then and only then the table-wide
          // flag survives
          sortedBy = manifestSortedBy(spark, dir, sinceVersion)
            .filter(_ == keyCols(key)))
        dirty
    }
  }

  /** CHANGE FEED: the per-key differences between the previous and
    * current committed snapshots — the read side of CDC (the Delta/
    * Iceberg change-data-feed shape). Reads ONLY the buckets whose
    * manifest entry moved between the two versions; a key that sits in
    * a touched bucket but did not itself change joins equal and is
    * filtered, so the feed is exactly the keys the last commit changed.
    *
    * Rows: `change` ('insert' | 'update' | 'delete'), the key, then the
    * data columns — new-side values for insert/update, the vanished
    * old-side values for delete. A key whose tombstone won before it
    * was ever visible produces no row (it never existed to a reader).
    * None when fewer than two versions are committed or the table holds
    * no data. O(touched-bucket bytes), one key-partitioned full-outer
    * join — never a table scan at any table size.
    */
  def changes(
      spark: SparkSession,
      dir: String,
      key: String): Option[DataFrame] = {
    val cs = commits(spark, dir)
    if (cs.size < 2) return None
    changesBetween(spark, dir, key, cs(cs.size - 2).version, cs.last.version)
  }

  /** [[changes]] generalized to an ARBITRARY retained version range:
    * the NET per-key differences between the snapshots at `fromV` and
    * `toV` (intermediate versions collapse — a key inserted then
    * deleted inside the range produces no row). Both versions must
    * still be retained; cost is O(buckets whose manifest entry moved
    * across the range), never a table scan.
    */
  def changesBetween(
      spark: SparkSession,
      dir: String,
      key: String,
      fromV: Long,
      toV: Long): Option[DataFrame] =
    changeJoin(spark, dir, key, fromV, toV).map {
      case ChangeJoin(joined, kcols, dataCols, rowChanged, k0) =>
        joined
          .select(
            (when(col(s"o_$k0").isNull, "insert")
              .when(col(s"n_$k0").isNull, "delete")
              .when(rowChanged, "update")
              .as("change") +:
              (kcols.map(k => coalesce(col(s"n_$k"), col(s"o_$k")).as(k)) ++
                dataCols.map(c =>
                  when(col(s"n_$k0").isNull, col(s"o_$c"))
                    .otherwise(col(s"n_$c"))
                    .as(c)))): _*)
          .filter(col("change").isNotNull)
    }

  /** The change feed in RETRACTION encoding — the delta-stream shape
    * incremental view maintenance consumes (`__mult` = +1 for an
    * arriving row, -1 for a retracted one; an update contributes both
    * rows). `SUM(x * __mult)` grouped any way IS the exact change to
    * `SUM(x)` over that group between the two snapshots — the
    * self-maintainable-aggregate algebra ([[MaterializedViews]] rides
    * this to refresh sum/count views with ZERO source re-reads).
    * Same retention/cost contract as [[changesBetween]].
    */
  def changeDelta(
      spark: SparkSession,
      dir: String,
      key: String,
      fromV: Long,
      toV: Long): Option[DataFrame] =
    changeJoin(spark, dir, key, fromV, toV).map {
      case ChangeJoin(joined, kcols, dataCols, rowChanged, k0) =>
        def side(prefix: String, mult: Int) = struct(
          (lit(mult).as("__mult") +:
            (kcols.map(k => col(s"${prefix}_$k").as(k)) ++
              dataCols.map(c => col(s"${prefix}_$c").as(c)))): _*)
        val negCond = col(s"o_$k0").isNotNull &&
          (col(s"n_$k0").isNull || rowChanged)
        val posCond = col(s"n_$k0").isNotNull &&
          (col(s"o_$k0").isNull || rowChanged)
        joined
          .select(explode(array(
            when(negCond, side("o", -1)),
            when(posCond, side("n", 1)))).as("__r"))
          .filter(col("__r").isNotNull)
          .select(
            (kcols.map(k => col(s"__r.$k").as(k)) ++
              dataCols.map(c => col(s"__r.$c").as(c)) :+
              col("__r.__mult").as("__mult")): _*)
    }

  private final case class ChangeJoin(
      joined: DataFrame,
      kcols: Seq[String],
      dataCols: Seq[String],
      rowChanged: Column,
      k0: String)

  /** Shared core of [[changesBetween]]/[[changeDelta]]: the
    * key-partitioned full-outer join of the two snapshots restricted
    * to buckets whose manifest entry moved, both sides resolved
    * through the NEWER version's schema (renames line up; a pure
    * rename diffs as zero changes).
    */
  private def changeJoin(
      spark: SparkSession,
      dir: String,
      key: String,
      fromV: Long,
      toV: Long): Option[ChangeJoin] = {
    require(fromV < toV,
      s"changesBetween: fromV $fromV must precede toV $toV")
    val cs = commits(spark, dir)
    Seq(fromV, toV).foreach(v =>
      require(cs.exists(_.version == v),
        s"changesBetween: version $v of $dir is not retained " +
          s"(have ${cs.map(_.version).mkString(",")})"))
    val mPrev = manifest(spark, dir, fromV)
    val mCur = manifest(spark, dir, toV)
    val touched = (mPrev.keySet ++ mCur.keySet)
      .filter(b => mPrev.get(b) != mCur.get(b))
    def visible(m: Map[Int, Long], atV: Long): Option[DataFrame] = {
      val paths = touched.toSeq.sorted
        .flatMap(b => m.get(b).map(v => dataPath(spark, dir, b, v)))
      if (paths.isEmpty) None
      else {
        val raw = currentViewAt(spark, dir, atV,
          bucketRead(spark, dir, atV, paths))
        Some(
          if (raw.columns.contains(DeletedCol))
            raw.filter(!coalesce(col(DeletedCol), lit(false))).drop(DeletedCol)
          else raw)
      }
    }
    // BOTH sides resolve through the NEWER version's schema: a diff
    // compares values per key, and a renamed column's old-side values
    // must land under its current name for the per-column comparison
    // to line up (a pure rename then diffs as zero changes, correctly)
    val oldOpt = visible(mPrev, toV)
    val newOpt = visible(mCur, toV)
    val ref = newOpt.orElse(oldOpt).getOrElse(return None)
    val oldDF = oldOpt.getOrElse(ref.filter(lit(false)))
    val newDF = newOpt.getOrElse(ref.filter(lit(false)))
    val kcols = keyCols(key)
    val k0 = kcols.head // presence sentinel: key cols are NOT NULL
    val dataCols = ref.columns.filterNot(kcols.contains).toIndexedSeq
    val o = oldDF.select(
      (kcols.map(k => col(k).as(s"o_$k")) ++
        dataCols.map(c => col(c).as(s"o_$c"))): _*)
    val n = newDF.select(
      (kcols.map(k => col(k).as(s"n_$k")) ++
        dataCols.map(c => col(c).as(s"n_$c"))): _*)
    val rowChanged =
      if (dataCols.isEmpty) lit(false) // key-only table: presence IS the row
      else
        dataCols
          .map(c => !(col(s"o_$c") <=> col(s"n_$c")))
          .reduce(_ || _)
    val joinCond = kcols
      .map(k => col(s"o_$k") === col(s"n_$k"))
      .reduce(_ && _)
    Some(ChangeJoin(
      o.join(n, joinCond, "full_outer"), kcols, dataCols, rowChanged, k0))
  }

  /** Wire a streaming DataFrame into the merge table: every micro-batch
    * upserts transactionally; restart from the checkpoint is safe, and
    * a restart with a FRESH checkpoint (epochs renumbered from 0) is
    * distinguished by the query id and merges instead of skipping.
    */
  def sink(
      df: DataFrame,
      dir: String,
      checkpoint: String,
      key: String,
      seq: String): org.apache.spark.sql.streaming.DataStreamWriter[
    org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // The micro-batch thread carries the streaming query id (stable
        // across restarts from this checkpoint) as a local property.
        val runId = Option(
          batch.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId"))
          .getOrElse(
            java.util.UUID
              .nameUUIDFromBytes(checkpoint.getBytes("UTF-8"))
              .toString)
        upsertBatch(batch, dir, key, seq, epochId, runId)
      }
}
